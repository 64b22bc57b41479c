"""Duplicate-heavy media skew A/B for the banded Hamming joins
(VERDICT r8 stretch #7): the phash band join inherits the
posting-list-blowup risk the text rungs A/B'd, with the media-native
trigger being a VIRAL IMAGE — one thumbnail (site logo, tracking
pixel) shared verbatim by a fixed FRACTION of pages, so its
fingerprint bucket grows linearly with the corpus and the per-doc
band join's work grows quadratically.

The replica synthesizes the phash-kernel OUTPUT directly (the decode
is corpus-size-linear and identical in both forms; the at-risk
component is the join): N docs, 16-bit spread codes, 5% pinned to one
viral code — then measures band_neardup_pairs (the per-doc form) vs
band_neardup_codes (exact-dedup-first mitigation) at 1x and 10x, via
the SAME helpers the registered queries call. Writes the results into
BENCH_SCALE.json's skew section.
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

from weather_data_pipeline_spark.operators.multimodal import (
    band_neardup_codes,
    band_neardup_pairs,
)
from weather_data_pipeline_spark.session import tune

#: 1-in-20 docs carry the viral image (5% — the scale_bench boilerplate
#: rate, same failure-mode family)
VIRAL_MOD = 20
VIRAL_CODE = 0x1234
N_1X = 20_000


def _hashed(spark: SparkSession, n: int):
    """(doc_id, phash): 16-bit spread codes with every VIRAL_MOD-th doc
    pinned to the one viral fingerprint."""
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % VIRAL_MOD == 0, F.lit(VIRAL_CODE))
        .otherwise(F.abs(F.xxhash64(F.col("id"))) % 65536)
        .cast("long")
        .alias("phash"),
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
        .appName("phash-skew-ab")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    out = {}
    for name, form in (
        ("mm_band_neardup_docform_dupheavy", band_neardup_pairs),
        (
            "mm_phash_neardup_codes_dupheavy",
            lambda h: band_neardup_codes(
                h.groupBy("phash").agg(F.count(F.lit(1)).alias("n_images"))
            ),
        ),
    ):
        h1 = _hashed(spark, N_1X).localCheckpoint(eager=True)
        h10 = _hashed(spark, N_1X * 10).localCheckpoint(eager=True)
        t1 = _time(lambda: form(h1))
        t10 = _time(lambda: form(h10))
        out[name] = {"t_1x": t1, "t_10x": t10, "ratio": round(t10 / t1, 2)}
    out["mm_band_neardup_docform_dupheavy"]["note"] = (
        f"viral image on 1/{VIRAL_MOD} of docs: the per-doc band join "
        "materializes the viral bucket's |bucket|^2 pairs (output itself "
        "is quadratic) - capped mitigation is mm_phash_neardup_codes: "
        "exact-dedup first, join distinct codes, carry pair volume as "
        "counts"
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
