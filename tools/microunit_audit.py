"""Decimal-cast audit — the integer-microunit discipline, repo-wide
(VERDICT r13 ask #3).

The x6_stl_decompose round-13 red proved the hazard class: casting a
DERIVED double (a computed mean/product/log — any value that exists
only as an IEEE double with a long exact decimal expansion) to DECIMAL
rounds HALF_UP on Spark but not always identically on DuckDB, so an
exact 10^-s tie diverges cross-engine. Raw-input casts are safe (the
raw feed is 2dp data; its doubles ARE short decimals), and integer /
decimal-typed inputs never round at all.

This module enumerates EVERY ``.cast("decimal…")`` receiver (Python
AST) and every ``CAST(expr AS DECIMAL…)`` inner expression (SQL text)
in the package and classifies each site:

- AUTO-PASS: the cast input is a raw table column (by name, from
  schemas.py), a literal, or a min/max/min_by/max_by/first/last
  selection of one (value passthrough — no arithmetic happened).
- ALLOWLISTED: the site appears in ``ALLOWLIST`` below with a category
  from ``ALLOWED_CATEGORIES`` and a one-line justification. The
  forbidden category — an arithmetic-derived DOUBLE — is deliberately
  NOT an allowed category: such a site has no legal classification and
  must migrate to floor-quantized integer microunits (grep
  "VERDICT r13 ask #3" for the migrated precedents: x6_acf_lags,
  x4_unigram_logprob, x4_bigram_logprob, x4_entropy_score,
  x4_zipf_fit, x2_tfidf_cosine, x9_pagerank).
- UNCLASSIFIED: everything else — the audit test fails, forcing a
  human classification (or a migration) for every new decimal cast.

SQL bare-identifier resolution (VERDICT r14 ask #6 closed the
shadowing hole): a ``CAST(v AS DECIMAL)`` of a bare identifier
auto-passes ONLY when (a) the name is a raw schema column AND (b) no
``AS v`` alias definition appears anywhere in the same source file —
if any oracle/CTE in the file DERIVES a column of that name, the
name-collision can shadow the raw column and the site requires an
explicit allowlist entry (conservative: an alias in a different
oracle of the same file also forces classification).

Run:  python tools/microunit_audit.py   (prints unclassified sites)
"""

from __future__ import annotations

import ast
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "weather_data_pipeline_spark")

#: categories a non-auto-pass site may legally claim
ALLOWED_CATEGORIES = {
    # the cast input is integer-typed (count, quantized microunits,
    # BIGINT id...) — decimal widening, no rounding possible
    "integer-in",
    # the cast input is already DECIMAL-typed — decimal-to-decimal
    # arithmetic is exact base-10 with one shared rounding rule
    "decimal-in",
    # the cast input is a raw table double selected (not computed) by
    # an aggregate/window — same short-decimal payload as the raw col
    "raw-double-passthrough",
    # the cast input is parsed from raw text — the parse is exact
    "string-parse",
    # the input double was already rounded/floored to the cast's scale
    # by an op both engines share — the cast cannot change the value
    "pre-rounded-value-preserving",
}


def _raw_columns() -> set[str]:
    import sys

    sys.path.insert(0, ROOT)
    from pyspark.sql import types as T

    from weather_data_pipeline_spark.schemas import TESTDATA, WEATHER_RAW

    names: set[str] = set()

    def walk(dt):
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                names.add(f.name)
                walk(f.dataType)
        elif isinstance(dt, T.ArrayType):
            walk(dt.elementType)

    for schema in TESTDATA.values():
        walk(schema)
    walk(WEATHER_RAW)
    return names


#: aggregate/selection functions that pass a raw value through
#: unchanged (no arithmetic) — f(raw col) stays a raw value
_PASSTHROUGH_FNS = {"min", "max", "min_by", "max_by", "first", "last"}


def _norm(s: str) -> str:
    return " ".join((s or "").split())


def collect_py_sites() -> list[tuple[str, str]]:
    """(relpath, normalized receiver text) for every decimal cast whose
    receiver is not auto-pass."""
    raw = _raw_columns()
    sites = []
    for path in sorted(glob.glob(os.path.join(PKG, "**/*.py"), recursive=True)):
        src = open(path).read()
        rel = os.path.relpath(path, ROOT)
        for node in ast.walk(ast.parse(src)):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "cast"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and isinstance(node.args[0].value, str)
                and node.args[0].value.lower().startswith("decimal")
            ):
                continue
            if _py_autopass(node.func.value, raw):
                continue
            sites.append((rel, _norm(ast.get_source_segment(src, node.func.value))))
    return sorted(set(sites))


def _py_autopass(r: ast.expr, raw: set[str]) -> bool:
    """Receiver shapes that cannot be a derived double."""

    def fn_name(call: ast.Call) -> str | None:
        if isinstance(call.func, ast.Attribute):
            return call.func.attr
        if isinstance(call.func, ast.Name):
            return call.func.id
        return None

    def is_raw_ref(e: ast.expr) -> bool:
        # F.col("raw") / "raw"
        if isinstance(e, ast.Constant) and isinstance(e.value, str):
            return e.value in raw
        if (
            isinstance(e, ast.Call)
            and fn_name(e) == "col"
            and e.args
            and isinstance(e.args[0], ast.Constant)
        ):
            return e.args[0].value in raw
        return False

    if isinstance(r, ast.Call):
        name = fn_name(r)
        if name == "lit":
            return True
        if name == "col" and r.args and is_raw_ref(r):
            return True
        if name in _PASSTHROUGH_FNS and r.args and is_raw_ref(r.args[0]):
            return True
        if name == "floor":
            # floor output is integral — a decimal cast of it is exact
            # at any scale (this is the microunit scheme's own emit)
            return True
    return False


_SQL_CAST = re.compile(r"CAST\s*\(", re.I)
_IDENT = re.compile(r"[A-Za-z_][A-Za-z_0-9]*(\.[A-Za-z_][A-Za-z_0-9]*)*$")
_NUMLIT = re.compile(r"-?\d+(\.\d+)?$")


def _split_top_level_as(inner: str) -> tuple[str, str] | None:
    """Split ``CAST`` arguments at the paren-depth-0 ``AS`` keyword,
    skipping string literals. Returns (expr, type) or None."""
    depth, i, in_str = 0, 0, False
    up = inner.upper()
    while i < len(inner):
        ch = inner[i]
        if in_str:
            if ch == "'":
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and up[i : i + 2] == "AS"
            and (i == 0 or up[i - 1] in " \t\n)")
            and (i + 2 < len(inner) and up[i + 2] in " \t\n")
        ):
            return inner[:i], inner[i + 3 :].strip()
        i += 1
    return None


def collect_sql_sites() -> list[tuple[str, str]]:
    """(relpath, normalized inner expr) for every SQL CAST(… AS
    DECIMAL…) whose input is not a raw column / literal / FLOOR()."""
    raw = _raw_columns()
    sites = []
    for path in sorted(glob.glob(os.path.join(PKG, "**/*.py"), recursive=True)):
        src = open(path).read()
        rel = os.path.relpath(path, ROOT)
        for m in _SQL_CAST.finditer(src):
            i, depth = m.end(), 1
            while depth and i < len(src):
                depth += {"(": 1, ")": -1}.get(src[i], 0)
                i += 1
            split = _split_top_level_as(src[m.end() : i - 1])
            if split is None:
                continue
            expr_raw, target = split
            if not target.upper().startswith("DECIMAL"):
                continue
            expr = _norm(expr_raw)
            if _NUMLIT.match(expr):
                continue
            if _IDENT.match(expr):
                base = expr.split(".")[-1]
                # auto-pass only when the name is a raw column AND the
                # file never derives an alias of that name (ask #6: a
                # derived CTE column shadowing a raw name must not
                # ride the raw column's pass)
                if base in raw and not re.search(
                    rf"(?i)\bAS\s+{re.escape(base)}\b", src
                ):
                    continue
            if re.match(r"FLOOR\s*\(", expr, re.I):
                continue  # integral input — exact at any decimal scale
            sites.append((rel, expr))
    return sorted(set(sites))


#: Every non-auto-pass decimal-cast site, classified. Keyed by
#: (relpath, normalized expr text) → (category, justification).
#: Adding a decimal cast that is neither auto-pass nor listed here
#: fails tests/test_oracle_parity.py::test_no_derived_double_decimal_casts.
_P = "weather_data_pipeline_spark"
ALLOWLIST: dict[tuple[str, str], tuple[str, str]] = {
    # ---------------- Python receivers ----------------
    (f"{_P}/operators/sessionize.py", "c"): (
        "raw-double-passthrough",
        "two helpers share the name: r2(c) receives min/max/min_by/"
        "max_by selections of the raw events.value column, and the "
        "LTTB d(c) receives LONG-quantized x/y (integer-in)",
    ),
    (f"{_P}/operators/similarity.py", 'F.col("d")'): (
        "pre-rounded-value-preserving",
        "ADC subspace distance np.round()ed to 6 in the driver-side "
        "query-table build BEFORE the DECIMAL(18,6) cast — the cast "
        "re-expresses the already-6dp value, it never re-rounds",
    ),
    (f"{_P}/operators/tpch_partsupp.py", 'F.col("ps_availqty")'): (
        "integer-in",
        "derived-partsupp availqty is integer-typed by construction",
    ),
    (f"{_P}/operators/tpch_partsupp.py", 'F.col("v")'): (
        "decimal-in",
        "v = decimal(18,2) extendedprice*(1-discount) product",
    ),
    (f"{_P}/operators/tpch_partsupp.py", 'F.sum("v")'): (
        "decimal-in",
        "SUM of the decimal v above stays decimal",
    ),
    # ---------------- SQL inner expressions ----------------
    (f"{_P}/functions/scalars.py", "x"): (
        "decimal-in",
        "docstring EXAMPLE text (the dsum/davg contract), not an "
        "oracle — the scanner cannot tell docstrings from SQL",
    ),
    (f"{_P}/operators/sessionize.py",
     "MAX(CASE WHEN rf = 1 THEN value END)"): (
        "raw-double-passthrough", "OHLC open: selection of raw value"),
    (f"{_P}/operators/sessionize.py",
     "MAX(CASE WHEN rl = 1 THEN value END)"): (
        "raw-double-passthrough", "OHLC close: selection of raw value"),
    (f"{_P}/operators/sessionize.py", "MAX(value)"): (
        "raw-double-passthrough", "selection of the raw value column"),
    (f"{_P}/operators/sessionize.py", "MIN(value)"): (
        "raw-double-passthrough", "selection of the raw value column"),
    (f"{_P}/operators/sessionize.py", "arg_min(value, event_id)"): (
        "raw-double-passthrough", "selection of raw value by event_id"),
    (f"{_P}/operators/similarity.py", "{adc_term}"): (
        "pre-rounded-value-preserving",
        "ADC oracle twin of the F.col('d') site: each adc_term is a "
        "_DUCK_ADC_TERMS entry, _duck_pq_d2's ROUND(...,6), which runs "
        "BEFORE the DECIMAL(18,6) cast, so the cast is exact"),
    (f"{_P}/operators/tpch_partsupp.py", "SUM(v)"): (
        "decimal-in", "v = decimal price product (Spark-twin parity)"),
    (f"{_P}/operators/tpch_partsupp.py", "ps_availqty"): (
        "integer-in", "derived-partsupp availqty is integer-typed"),
    (f"{_P}/operators/tpch_partsupp.py", "v"): (
        "decimal-in", "v = decimal price product"),
    (f"{_P}/operators/weather_queries.py",
     "string_split(line, ',')[2]"): (
        "string-parse", "CSV field parsed from raw quarantine text"),
    # --------- ask #6 shadow-rule findings (adjudicated r15) ---------
    # The tightened bare-identifier rule flags a raw-named identifier
    # whenever ANY oracle in the same file derives an alias of that
    # name. All five were inspected cast-by-cast; none is a derived
    # shadow:
    (f"{_P}/operators/joins_aggs.py", "value"): (
        "raw-double-passthrough",
        "all CAST(value AS DECIMAL(18,2)) sites read FROM events "
        "directly (2dp raw feed — exact); the file's AS value aliases "
        "re-emit ROUND(..., 2) values and are never re-cast",
    ),
    (f"{_P}/operators/sessionize.py", "value"): (
        "raw-double-passthrough",
        "every cast site reads FROM events directly; derived AS value "
        "aliases (2dp round emits + the interpolation oracle's 6dp "
        "emit) are terminal outputs, never re-cast to decimal",
    ),
    (f"{_P}/operators/streaming_queries.py", "value"): (
        "raw-double-passthrough",
        "cast sites read FROM events or the `assigned` CTE, which is "
        "a bare `SELECT event_type, value FROM events` passthrough",
    ),
    (f"{_P}/operators/streaming_queries.py", "p.value"): (
        "raw-double-passthrough",
        "p aliases the raw events relation in the join oracles",
    ),
    (f"{_P}/operators/text_analysis.py", "n_chars"): (
        "integer-in",
        "documents.n_chars is BIGINT raw; the AS n_chars alias in the "
        "BM25-adjacent oracle derives a different relation's column "
        "and is never cast to decimal",
    ),
}


def unclassified() -> list[tuple[str, str, str]]:
    out = []
    for kind, collect in (("py", collect_py_sites), ("sql", collect_sql_sites)):
        for site in collect():
            if site not in ALLOWLIST:
                out.append((kind, *site))
    return out


def misclassified() -> list[tuple[str, str]]:
    return [k for k, (cat, _) in ALLOWLIST.items() if cat not in ALLOWED_CATEGORIES]


if __name__ == "__main__":
    miss = unclassified()
    for kind, rel, expr in miss:
        print(f"UNCLASSIFIED [{kind}] {rel}: {expr}")
    stale = [
        k for k in ALLOWLIST
        if k not in set(collect_py_sites()) | set(collect_sql_sites())
    ]
    for k in stale:
        print(f"STALE ALLOWLIST ENTRY: {k}")
    print(f"{len(miss)} unclassified, {len(stale)} stale")
