"""SparkSession factory and per-session tuning.

The engine is designed for a multi-executor cluster at ~100 TB; locally it
runs ``local[N]``. Scale posture comes from configuration, not code:

- AQE on (runtime coalescing, skew-join splitting, dynamic join selection)
- shuffle partitions sized to the environment (cores locally; thousands on
  a real cluster — override via ``SPARK_GRAFT_SHUFFLE_PARTITIONS``)
- UTC session timezone (oracle comparability + per-row tz correctness,
  see SURVEY.md §7.4.1)
- Arrow enabled for any pandas interchange
- PySpark's DataFrame call-site capture off (``get_spark`` only)

``tune(spark)`` applies the *runtime-settable* subset to a session we did
not create (the driver hands us one), so query semantics (timezone, ANSI,
AQE) never depend on who built the session.

Call-site capture: with ``spark.python.sql.dataFrameDebugging.enabled``
on (PySpark's default), every ``Column`` method and every ``F.*`` call
walks the Python stack and makes three extra py4j calls (read
``spark.sql.stackTracesInDataFrameContext``, set and then clear the JVM's
``PySparkCurrentOrigin``). That is 1-1.5 ms per ``F.col`` against ~0.1 ms
for a bare py4j call, and plan building in the pipeline is driver-bound:
``transforms.flatten_raw``'s 31 columns cost 0.09 s of its 0.12 s. The
conf is a *static* SQL conf (``spark.conf.set`` raises
``CANNOT_MODIFY_STATIC_CONFIG``), so only ``get_spark``'s builder can set
it, and ``tune`` cannot turn it off on a session it is handed. What is
lost: a runtime error no longer carries the Python ``file:line``
"DataFrame context" of the call that built the failing expression; the
error class and message are unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Conf that must hold for correct/deterministic semantics, runtime-settable.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Files > 128 MiB split into multiple input partitions; at 100 TB this
    # is what bounds per-task memory for the scan stage.
    "spark.sql.files.maxPartitionBytes": "134217728",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an existing session (idempotent)."""
    conf = dict(RUNTIME_CONF)
    # Size the shuffle to the environment (runtime-settable). Matters even
    # with AQE: stateful streaming ops don't coalesce, and the state-store
    # partition count is locked into the checkpoint at first run.
    conf["spark.sql.shuffle.partitions"] = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(default_parallelism())
    )
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static in exotic deployments; semantics that
            # matter (timezone) are always runtime-settable.
            pass
    return spark


def get_spark(
    app_name: str = "weather_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a tuned SparkSession.

    ``master`` defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``;
    on a real cluster pass ``None`` after setting it externally, or an
    explicit URL.
    """
    cores = default_parallelism()
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Static SQL conf: settable here only (module docstring).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if master:
        builder = builder.master(master)
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


def fan_out(df, parallelism: int | None = None):
    """Repartition IF the scan cannot reach the target parallelism — small
    local files scan as 1-2 tasks and would serialize every downstream
    narrow op. The decision reads input-file sizes from the analyzed plan
    (``df.inputFiles()`` + stat — metadata only), NOT
    ``df.rdd.getNumPartitions()``: touching ``.rdd`` forces the deprecated
    DataFrame→RDD conversion path and materializes the RDD lineage on
    every call (VERDICT r5 #7). A scan whose bytes exceed
    ``maxPartitionBytes × target`` already splits into ≥ target input
    partitions, so at scale (or for non-file sources) this is a no-op and
    never adds a shuffle."""
    target = parallelism or default_parallelism()
    try:
        from urllib.parse import unquote, urlparse

        total = 0
        for uri in df.inputFiles():
            p = urlparse(uri)
            if p.scheme not in ("", "file"):
                return df  # remote object store: scan splitting handles it
            total += os.path.getsize(unquote(p.path))
    except Exception:
        return df  # non-file source (in-memory, stream): nothing to widen
    max_pb = int(RUNTIME_CONF["spark.sql.files.maxPartitionBytes"])
    if total < max_pb * target:
        return df.repartition(target)
    return df
