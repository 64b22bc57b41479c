"""One broadcast budget for the iterative graph kernels.

A broadcast hint overrides Spark's size threshold — it never "drops
out" — so an ungated hint on a web-scale vector collects it to the
driver where a keyed shuffle join would degrade gracefully. Every gated
join in ``operators/graph.py`` hints through ``broadcast_under_budget``
with a row count its caller already probed (a bounded count over a
materialized checkpoint); over the budget the hint is withheld and the
planner picks a shuffle join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: rows a gated join may broadcast. The gated sides are 2-3 narrow
#: long/double columns (16-24 B/row), so 5M rows is 80-120 MB — the
#: upper edge of a sane executor broadcast. Entity-keyed trade graphs
#: and near-dup graphs sit far below it at every tested SF; a web-scale
#: graph (|V| ≫ 10⁷) takes the shuffle path automatically.
BROADCAST_ROWS = 5_000_000


def broadcast_under_budget(df: DataFrame, rows: int) -> DataFrame:
    """``df`` with a broadcast hint when ``rows`` (its probed row count,
    or a bound on it) fits ``BROADCAST_ROWS``; ``df`` unchanged
    otherwise."""
    return F.broadcast(df) if rows <= BROADCAST_ROWS else df
