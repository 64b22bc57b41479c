"""Whitespace tokens: the one tokenization rule of the text and dedup
ladders, with its DuckDB twin.

A token is what ``split(text, " ")`` yields: the runs between single
spaces. A double space, or a leading or trailing space, yields an empty
``""`` token. Rungs differ on whether those count, so ``term_counts``
takes ``min_len``: 0 keeps them, 1 drops them, 2 also drops the
one-character words. DuckDB's ``string_split(text, ' ')`` splits the
same way, which is why the ``*_sql`` twins below give the same tokens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def words(col: str = "text") -> Column:
    """The token array of ``col``."""
    return F.split(col, " ")


def tokens(doc: DataFrame, *keep: str, pos: bool = False) -> DataFrame:
    """One row per token occurrence: ``(*keep, term)``, or
    ``(*keep, pos, term)`` with the 0-based position when ``pos``."""
    if pos:
        return doc.select(*keep, F.posexplode(words()).alias("pos", "term"))
    return doc.select(*keep, F.explode(words()).alias("term"))


def term_counts(doc: DataFrame, *keys: str, min_len: int = 0) -> DataFrame:
    """``(*keys, term, n)``: occurrences of each term per key group, with
    tokens shorter than ``min_len`` characters dropped first. One explode
    and one partial-aggregated exchange; only (key, term, partial n)
    rows shuffle."""
    tok = tokens(doc, *keys)
    if min_len:
        tok = tok.filter(F.length("term") >= min_len)
    return tok.groupBy(*keys, "term").agg(F.count(F.lit(1)).alias("n"))


def tokens_sql(*keep: str, pos: bool = False) -> str:
    """DuckDB twin of ``tokens`` as a SELECT over ``documents``; ``pos``
    is 1-based here, which orders the same."""
    cols = "".join(f"{c}, " for c in keep)
    if pos:
        cols += "generate_subscripts(string_split(text, ' '), 1) AS pos, "
    return f"SELECT {cols}unnest(string_split(text, ' ')) AS term FROM documents"


def term_counts_sql(*keys: str, min_len: int = 0) -> str:
    """DuckDB twin of ``term_counts`` as a SELECT over ``documents``."""
    cols = "".join(f"{c}, " for c in keys)
    where = f" WHERE len(term) >= {min_len}" if min_len else ""
    return (
        f"SELECT {cols}term, COUNT(*) AS n FROM ({tokens_sql(*keys)}){where}"
        f" GROUP BY {cols}term"
    )
