"""Direct unit tests for functions/distributed.py — the shared
prefix-sum/rank/NTILE primitives every *_scalable rung builds on.
The integration oracles check the rungs end-to-end; these pin the
primitive's own contract, including the edge cases integration data
never hits (n < tiles, empty input, ragged groups)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weather_data_pipeline_spark.functions.distributed import (
    global_prefix_sums,
    global_ranks,
    ntile_of_rank,
)


def _rows(spark, data, schema):
    return spark.createDataFrame(data, schema=schema)


def test_global_ranks_match_local_sort(spark):
    data = [(i, (i * 37) % 101) for i in range(500)]
    df = _rows(spark, data, "id long, v long").repartition(13)
    ranked, n = global_ranks(
        spark, df, [F.col("v").desc(), F.col("id")], rank_col="k"
    )
    assert n == 500
    got = {r["id"]: r["k"] for r in ranked.collect()}
    expect = {
        id_: i + 1
        for i, (id_, _) in enumerate(
            sorted(data, key=lambda t: (-t[1], t[0]))
        )
    }
    assert got == expect


def test_global_prefix_sums_values(spark):
    data = [(i, i % 7 + 1) for i in range(300)]
    df = _rows(spark, data, "id long, w long").repartition(11)
    out, total = global_prefix_sums(
        spark, df, [F.col("id")], val_col="w", out_col="cum"
    )
    assert total == sum(w for _, w in data)
    got = {r["id"]: r["cum"] for r in out.collect()}
    acc = 0
    for id_, w in sorted(data):
        acc += w
        assert got[id_] == acc


def test_grouped_prefix_sums_restart_per_group(spark):
    data = [(g, i, 1) for g in range(5) for i in range(g * 10 + 1)]
    df = _rows(spark, data, "g long, id long, w long").repartition(9)
    out, totals = global_prefix_sums(
        spark,
        df,
        [F.col("id")],
        val_col="w",
        group_cols=["g"],
        out_col="cum",
    )
    assert totals == {(g,): g * 10 + 1 for g in range(5)}
    for r in out.collect():
        assert r["cum"] == r["id"] + 1  # w=1 → cum == position in group


def test_grouped_ranks_are_dense_per_group(spark):
    data = [(i % 3, i) for i in range(100)]
    df = _rows(spark, data, "g long, id long").repartition(7)
    out, totals = global_prefix_sums(
        spark, df, [F.col("id").desc()], val_col=None,
        group_cols=["g"], out_col="k",
    )
    for (g,), tot in totals.items():
        ks = sorted(r["k"] for r in out.collect() if r["g"] == g)
        assert ks == list(range(1, tot + 1))


def test_empty_input(spark):
    df = _rows(spark, [], "id long, w long")
    out, total = global_prefix_sums(
        spark, df, [F.col("id")], val_col="w"
    )
    assert total == 0
    assert out.count() == 0


@pytest.mark.parametrize("n,tiles", [(10, 10), (9, 4), (100, 7), (3, 10), (1, 5)])
def test_ntile_of_rank_matches_sql_ntile(spark, n, tiles):
    """ntile_of_rank(k, n, tiles) must equal NTILE(tiles) for every
    rank 1..n — including n < tiles (the ADVICE r7 #3 divisor-guard
    case: q=0 makes the otherwise-branch divide by zero unless
    guarded, even though it's unreachable for valid ranks)."""
    df = spark.range(1, n + 1).withColumnRenamed("id", "k")
    got = {
        r["k"]: r["t"]
        for r in df.select(
            "k", ntile_of_rank(F.col("k"), n, tiles).alias("t")
        ).collect()
    }
    from pyspark.sql.window import Window

    expect = {
        r["k"]: r["t"]
        for r in df.select(
            "k",
            F.ntile(tiles).over(Window.orderBy("k")).alias("t"),
        ).collect()
    }
    assert got == expect


def test_global_prefix_sums_null_group_key(spark):
    """A NULL group key must not crash the driver-side offset sort
    (a None-vs-value tuple comparison raises TypeError), NULL forms its
    own group, like SQL GROUP BY, and its rows survive the offset join."""
    data = [
        (i, None if i % 3 == 0 else ("a" if i % 2 == 0 else "b"), 1)
        for i in range(60)
    ]
    df = _rows(spark, data, "id long, g string, v long").repartition(7)
    out, totals = global_prefix_sums(
        spark,
        df,
        [F.col("id")],
        val_col="v",
        group_cols=["g"],
        out_col="cum",
    )
    rows = out.collect()
    assert {k: v for k, v in totals.items()} == {
        (None,): 20,
        ("a",): 20,
        ("b",): 20,
    }
    # every input row comes out, NULL-group rows included, each with
    # its running total inside its own group
    seen: dict = {}
    expect = {}
    for i, g, _ in data:
        seen[g] = seen.get(g, 0) + 1
        expect[i] = (g, seen[g])
    assert len(rows) == len(data)
    assert {r["id"]: (r["g"], r["cum"]) for r in rows} == expect


def test_ntile_of_rank_beyond_double_precision(spark):
    """Ranks past 2^53 must still tile exactly — the integral-divide
    path has no IEEE ceiling (ADVICE r8: (a - a%b)/b rounded there)."""
    n = (1 << 55) + 7
    tiles = 10
    q, r = divmod(n, tiles)
    # boundary ranks around the big-tile/small-tile switch and the far end
    ks = [1, q + 1, r * (q + 1), r * (q + 1) + 1, n - 1, n]
    df = spark.createDataFrame([(k,) for k in ks], "k long")
    got = {
        row["k"]: row["t"]
        for row in df.select(
            "k", ntile_of_rank(F.col("k"), n, tiles).alias("t")
        ).collect()
    }

    def expect(k):
        big = r * (q + 1)
        if k <= big:
            return (k - 1) // (q + 1) + 1
        return r + (k - big - 1) // q + 1

    assert got == {k: expect(k) for k in ks}
