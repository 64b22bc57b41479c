"""Celebrity-cluster skew A/B for the SemDeDup decision kernel
(VERDICT r11 ask #3): the per-cluster grouped kernel's work is
|cluster|² — bounded only by the quantizer's balance — and its
media-native worst case is one OVER-DENSE embedding cluster (the
viral-image analog of the phash skew A/B): near-identical vectors
(boilerplate pages, logo crops) that land in ONE cell and hold a fixed
FRACTION of the corpus, so the cell's pair matrix grows quadratically
while every other cell stays bounded.

The replica synthesizes the ASSIGNMENT OUTPUT directly — the honest
cut, because assignment is one corpus-linear broadcast-argmax scan
identical in both postures; the at-risk component is the grouped
decision. Two corpora, measured at 1x and 10x through the SAME kernel
the registered rung calls (operators.similarity._semdedup_decide_fn):

- ``k_scaled`` — the SemDeDup design posture: k grows with the corpus,
  cluster size stays ~constant, so Σ|cluster|² grows linearly and the
  10x ratio tracks read bandwidth;
- ``celebrity`` — one cluster pinned to CELEB_FRAC of the corpus: its
  pair work grows 100x at 10x data, the measured superlinear signature
  that motivates SEMDEDUP_MAX_CLUSTER's fail-fast (exercised
  end-to-end in tests/test_scale_design.py::
  test_semdedup_guard_fires_in_kernel_on_oversized_cluster, which
  asserts the error names the raise-k lever).

Writes the results into BENCH_SCALE.json's skew section.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from weather_data_pipeline_spark.operators.similarity import (
    SEMDEDUP_DECIDE_SCHEMA,
    _semdedup_decide_fn,
    _seq_self_norms,
)
from weather_data_pipeline_spark.session import tune

N_1X = 20_000
DIM = 16
CELL = 500  # k_scaled posture: ~CELL vectors per cluster at every scale
CELEB_FRAC = 20  # 1-in-20 docs (5%) carry the near-identical content


def _embedding_cols() -> list:
    """DIM deterministic pseudo-embedding components of ``id`` — spread
    enough that intra-cluster cosines stay below 1 and norms are
    nonzero; no RNG so reruns are identical."""
    return [
        ((F.col("id") * (d + 3) % 101) / 101.0 + 0.1).alias(f"e{d}")
        for d in range(DIM)
    ]


def _assigned(spark: SparkSession, n: int, posture: str):
    """(vec_id, embedding, bucket): the synthetic assignment output.

    k_scaled: bucket = id // CELL  (k grows with n, cells stay CELL).
    celebrity: every CELEB_FRAC-th doc lands in bucket 0 with a
    near-identical vector (tiny id-dependent jitter so rows aren't
    byte-equal); the rest spread over CELL-sized cells from bucket 1.
    """
    base = spark.range(n)
    if posture == "k_scaled":
        return base.select(
            F.col("id").alias("vec_id"),
            F.array(*_embedding_cols()).alias("embedding"),
            (F.col("id") / CELL).cast("long").alias("bucket"),
        )
    viral = F.array(
        *[
            (F.lit(1.0) + (F.col("id") % 7) / 1e6).alias(f"v{d}")
            for d in range(DIM)
        ]
    )
    return base.select(
        F.col("id").alias("vec_id"),
        F.when(F.col("id") % CELEB_FRAC == 0, viral)
        .otherwise(F.array(*_embedding_cols()))
        .alias("embedding"),
        F.when(F.col("id") % CELEB_FRAC == 0, F.lit(0))
        .otherwise((F.col("id") / CELL).cast("long") + 1)
        .alias("bucket"),
    )


def _centroids_bc(spark: SparkSession, n_buckets: int):
    """Broadcast quantizer triple (labels, matrix, norms) — deterministic
    unit-ish centroids; values don't affect the kernel's pair-work
    shape."""
    mat = np.array(
        [
            [((b * (d + 3)) % 101) / 101.0 + 0.1 for d in range(DIM)]
            for b in range(n_buckets)
        ]
    )
    return spark.sparkContext.broadcast(
        (np.arange(n_buckets), mat, _seq_self_norms(mat))
    )


def _time(df_fn) -> float:
    df_fn().write.format("noop").mode("overwrite").save()  # codegen warmup
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        df_fn().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> int:
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .appName("semdedup-skew-ab")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    max_buckets = (N_1X * 10) // CELL + 2
    bc = _centroids_bc(spark, max_buckets)

    def decide_over(n: int, posture: str):
        src = _assigned(spark, n, posture).localCheckpoint(eager=True)
        return lambda: src.groupBy("bucket").applyInPandas(
            _semdedup_decide_fn(bc), schema=SEMDEDUP_DECIDE_SCHEMA
        )

    out = {}
    for posture in ("k_scaled", "celebrity"):
        t1 = _time(decide_over(N_1X, posture))
        t10 = _time(decide_over(N_1X * 10, posture))
        out[f"x2_semdedup_decide_{posture}"] = {
            "t_1x": t1,
            "t_10x": t10,
            "ratio": round(t10 / t1, 2),
        }
    out["x2_semdedup_decide_celebrity"]["note"] = (
        f"one cluster pinned to 1/{CELEB_FRAC} of the corpus: its pair "
        "matrix grows |cluster|^2 (100x work at 10x data) while the "
        "k-scaled posture stays ~linear - the measured skew signature "
        "SEMDEDUP_MAX_CLUSTER's fail-fast exists for (end-to-end guard "
        "test names the raise-k lever)"
    )
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
