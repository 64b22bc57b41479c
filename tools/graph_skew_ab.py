"""Celebrity-node skew A/B for the iterative graph rungs: a web-scale
graph's failure mode is the hot node — one account trading with (or one
page linked from) a large constant fraction of the universe — so this
tool builds trade-table replicas where ONE customer (custkey 1) is the
buyer on 1/20 of ALL orders, and the 10x replica keeps that celebrity
UNSHIFTED while the supplier universe grows 10x: the hot node's degree
itself grows ~10x, the adversarial case for any per-node fan-out.

Expected (then measured) behavior of the Pregel-shaped plans: the
per-round label/keep joins BROADCAST under the shared row budget, so the
hot node never concentrates a join partition; the per-(src,label) and
per-src aggregates partial-aggregate map-side, so the celebrity's rows
combine before the exchange. Degradation should therefore track edge
volume (as in the clean replica), not the hot node's degree. Writes
results into BENCH_SCALE.json's skew section like the other *_skew_ab
tools.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from weather_data_pipeline_spark import registry
from weather_data_pipeline_spark.session import tune
from weather_data_pipeline_spark.sources.testdata import load_table

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
COPIES = 10
CELEB_MOD = 20  # 1/20 of all orders belong to customer 1
K_ORD = 100_000_000
K_CUST = 10_000_000  # 9 copies stay < SUPP_OFFSET (1e8)
K_SUPP = 1_000_000
D1 = "/tmp/spark_graft_graph_skew1"
D10 = "/tmp/spark_graft_graph_skew10"


def _with_celebrity(orders):
    return orders.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % CELEB_MOD == 0, F.lit(1)).otherwise(
            F.col("o_custkey")
        ),
    )


def _union(parts):
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _replicate(orders, li):
    """Key-shifted copies; the celebrity keeps custkey 1 in EVERY copy,
    so its degree grows with the replica's 10x supplier universe."""
    o_parts, l_parts = [], []
    for i in range(COPIES):
        o = orders.withColumn("o_orderkey", F.col("o_orderkey") + i * K_ORD)
        l = li.withColumn("l_orderkey", F.col("l_orderkey") + i * K_ORD)
        if i > 0:
            o = o.withColumn(
                "o_custkey",
                F.when(F.col("o_custkey") == 1, F.lit(1)).otherwise(
                    F.col("o_custkey") + i * K_CUST
                ),
            )
            l = l.withColumn("l_suppkey", F.col("l_suppkey") + i * K_SUPP)
        o_parts.append(o)
        l_parts.append(l)
    return _union(o_parts), _union(l_parts)


def _time(qs, name, spark, sf_dir) -> float:
    spark.catalog.clearCache()
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> int:
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .appName("graph-skew-ab")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    orders = _with_celebrity(load_table(spark, BASE, "orders"))
    li = load_table(spark, BASE, "lineitem")
    cust = load_table(spark, BASE, "customer")
    if not os.path.isdir(D1):
        orders.write.mode("overwrite").parquet(f"{D1}/orders.parquet")
        li.write.mode("overwrite").parquet(f"{D1}/lineitem.parquet")
    if not os.path.isdir(D10):
        o10, l10 = _replicate(orders, li)
        o10.write.mode("overwrite").parquet(f"{D10}/orders.parquet")
        l10.write.mode("overwrite").parquet(f"{D10}/lineitem.parquet")
    # customer replicas (round 12, for the BFS seed join) — written
    # separately so pre-existing orders/lineitem replica dirs from an
    # earlier run still gain the table
    if not os.path.isdir(f"{D1}/customer.parquet"):
        cust.write.mode("overwrite").parquet(f"{D1}/customer.parquet")
    if not os.path.isdir(f"{D10}/customer.parquet"):
        c10 = _union(
            [
                cust
                if i == 0
                else cust.withColumn(
                    "c_custkey", F.col("c_custkey") + i * K_CUST
                )
                for i in range(COPIES)
            ]
        )
        c10.write.mode("overwrite").parquet(f"{D10}/customer.parquet")
    qs = registry.queries()
    notes = {
        "x9_label_propagation": (
            "celebrity customer on 1/20 of all orders, degree ~10x'd by "
            "the replica: broadcast label join is skew-immune and the "
            "(src,label) count partial-aggregates map-side - degradation "
            "tracks edge volume, not hot-node degree"
        ),
        "x9_kcore_peel": (
            "same celebrity replica: degree count over src=1 combines "
            "map-side before the exchange; the two keep-set semi-joins "
            "broadcast - no hot reducer"
        ),
        "x9_bfs_reach": (
            "same celebrity replica: the hot node survives the "
            "strength thinning with ~10x'd degree and fans the "
            "frontier out to the grown supplier universe in one hop - "
            "the frontier join broadcasts (skew-immune) and the dst "
            "DISTINCT partial-aggregates map-side, so no hot reducer; "
            "degradation tracks edge volume, not hot-node degree"
        ),
        "x9_sssp_weighted": (
            "same celebrity replica: the hot node's strength-weighted "
            "edges give it CHEAP links to a ~10x'd supplier universe, "
            "so the improved frontier routes heavily through it - the "
            "frontier join broadcasts (skew-immune), the candidate min "
            "and full-outer dist merge partial-aggregate/key on node, "
            "so no hot reducer; degradation tracks edge volume"
        ),
    }
    out = {}
    filters = sys.argv[1:]
    for name, note in notes.items():
        if filters and not any(f in name for f in filters):
            continue
        t1 = _time(qs, name, spark, D1)
        t10 = _time(qs, name, spark, D10)
        out[f"{name}_celebrity"] = {
            "t_1x": t1,
            "t_10x": t10,
            "ratio": round(t10 / t1, 2),
            "note": note,
        }
    path = os.path.join(ROOT, "BENCH_SCALE.json")
    with open(path) as f:
        payload = json.load(f)
    payload.setdefault("skew", {}).update(out)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
