"""Viral-span skew A/B for the exact-substring rungs: the window-hash
count partitions by rolling hash, so one boilerplate block shared
VERBATIM by a fixed fraction of documents makes its ~(B-K+1) window
hashes hot keys whose partitions grow linearly with the corpus — the
skew class the text pair-join rungs A/B'd, but with a different cost
model: a window COUNT over a hot key is an O(m log m) single-task
sort, not an O(m²) pair blowup, so the expected degradation is
task-serialization, not output growth. This tool measures that claim
instead of asserting it: x1_substring_spans at 1x vs 10x on replicas
where 5% of docs share an untagged 36-token boilerplate block (the
scale_bench boilerplate convention, sized past SPAN_K so whole
windows go viral). Writes the result into BENCH_SCALE.json's skew
section. The 100-TB successor if multiplicity ever bites: replace the
count-over-window with a salted two-phase aggregate
(groupBy(wh, salt) partial -> groupBy(wh) merge + join-back), which
spreads the hot key at the price of one extra small exchange.
"""

from __future__ import annotations

import json
import os
import shutil
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
K_DOC = 1_000_000
VIRAL_MOD = 20  # 5% of docs carry the block, scale_bench convention
#: 36 tokens (> 2x SPAN_K): 21 fully-viral window hashes per carrier
VIRAL_BLOCK = " ".join(
    f"boilerplate{i} legal notice all rights reserved term{i}".split()[j]
    for i in range(6)
    for j in range(6)
)
D1 = "/tmp/spark_graft_span_skew1"
D10 = "/tmp/spark_graft_span_skew10"


def _with_viral(df):
    return df.withColumn(
        "text",
        F.when(
            F.col("doc_id") % VIRAL_MOD == 0,
            F.concat(F.col("text"), F.lit(" " + VIRAL_BLOCK)),
        ).otherwise(F.col("text")),
    )


def _replicate_tagged(df):
    parts = []
    for i in range(COPIES):
        c = df.withColumn("doc_id", F.col("doc_id") + F.lit(i * K_DOC))
        if i > 0:
            c = c.withColumn(
                "text", F.regexp_replace(F.col("text"), r"(\S+)", f"c{i}_$1")
            )
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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
        .appName("span-skew-ab")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    doc = load_table(spark, BASE, "documents")
    for d, df in (
        (D1, _with_viral(doc)),
        (D10, _with_viral(_replicate_tagged(doc))),
    ):
        if not os.path.isdir(d):
            df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    qs = registry.queries()
    out = {}
    for name in ("x1_substring_spans",):
        t1 = _time(qs, name, spark, D1)
        t10 = _time(qs, name, spark, D10)
        out[f"{name}_viralspan"] = {
            "t_1x": t1,
            "t_10x": t10,
            "ratio": round(t10 / t1, 2),
            "note": (
                "36-token untagged boilerplate on 1/20 of docs: hot "
                "window-hash partitions grow linearly but the count is "
                "O(m log m) single-task, not O(m^2) output - salted "
                "two-phase count is the named successor if "
                "multiplicity ever dominates"
            ),
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
