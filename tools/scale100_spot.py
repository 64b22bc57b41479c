"""Scale spot-check: gate each spot rung's shape on counters that do not
depend on the box.

Every rung in ``SPOT_CEILINGS`` runs twice in ONE Spark session: on sf0.1
(the 1× leg) and on a ``COPIES``-copy key-shifted replica of it (built by
``tools/scale_bench.build``).  Each leg runs under a job group of its
own, so the session's event log, read with
``perfbench.spans.read_event_log``, folds back onto it: job count,
input rows, shuffle records and shuffle bytes written.

The session pins the physical layout (``SPOT_CONF``): every table scan
reads as one split and AQE does not coalesce shuffle partitions, so each
stage runs as many tasks on the replica as on sf0.1.  Without the pin,
the number of scan splits follows a table's bytes and the core count,
and a partial aggregate over fixed keys ships one combiner per group
per map task: its raw shuffle records would grow with the splits and
read like a linear rung's.  With it, a partial aggregate over fixed
keys ships the same records on both legs, and a rung that ships every
row ships copies× as many, on any box.  Wall times are kept in the
artifact for information only, stamped with the session's cpus, memory
and application id; no gate reads them.

A rung's class says how its counters grow with the replica (the cost
model in its comment below); ``CLASSES`` turns that into an expected
ratio per counter, ``copies ** exponent``.  One bound rule serves every
class: a measured ratio must lie within expected ÷/× √copies — the
log-scale midpoints to the neighbouring classes — so a shape one class
worse (a linear counter reading copies², a bounded one reading copies)
fails, and so does a rung better than its class claims (its class is
then wrong).  ``test_scale100_artifact_within_ceilings`` in
``tests/test_scale_design.py`` applies ``out_of_class`` to the
committed ``BENCH_SCALE100.json``.

Run on an otherwise idle box (the counters do not need it; the wall
times do)::

    python tools/scale100_spot.py [--out PATH] [name-filter ...]

Env: ``SPARK_GRAFT_CPUS`` (``local[N]``, default all cores),
``SPARK_GRAFT_SPOT_MEM`` (driver heap, default 6g),
``SPARK_GRAFT_SCALE_DIR`` (replica dir, default
``/tmp/spark_graft_scale10``).  A filtered run writes only the
matching rows; the committed artifact holds one full run.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: Replica copies: the 100-copy replica needs a ~48g heap for the graph
#: kernels' ~120M-row edge checkpoint in one JVM; 10 copies run in 6g.
COPIES = 10

#: Counters folded per leg, from each task's metrics and each job start.
COUNTERS = ("jobs", "input_rows", "shuffle_records", "shuffle_bytes")

#: Layered over the engine's ``session.RUNTIME_CONF`` for the spot run
#: (every registry query re-applies it through ``tune``): one split per
#: table scan, whatever its size — the split size is the scan's total
#: bytes (minimum partition count 1, no per-file open cost) — and
#: exactly ``spark.sql.shuffle.partitions`` reduce partitions per
#: exchange.
SPOT_CONF = {
    "spark.sql.files.maxPartitionBytes": str(2**40),
    "spark.sql.files.openCostInBytes": "0",
    "spark.sql.files.minPartitionNum": "1",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}

BOUNDED, LINEAR = "bounded", "linear"

#: class -> {gated ratio: copies exponent of its expected value}.  Both
#: classes gate the job count, expected constant: no spot rung launches
#: jobs per row, per copy or per key, and an iterative rung's round
#: count is fixed by the kernel.
#: - bounded: the exchanges carry a fixed number of groups per map task
#:   (partial aggregates over fixed keys, calendar-sized tables,
#:   collapsed duplicates, or no exchange at all), so shuffle records
#:   ≈ 1 with the layout pinned.  Input rows are not gated: the scans
#:   still read every copy.
#: - linear: input rows ≈ copies and shuffle records ≈ copies — each leg
#:   reads its tables (and re-reads its checkpoints) a fixed number of
#:   times, and every exchanged row belongs to one copy's keys.  A
#:   per-copy rescan or a cross-copy pair join reads copies².
CLASSES = {
    BOUNDED: {"jobs": 0, "shuffle_records": 0},
    LINEAR: {"jobs": 0, "input_rows": 1, "shuffle_records": 1},
}

#: spot rung -> its counter class.
SPOT_CEILINGS = {
    # latest-per-key: one window exchange keyed on the replica's shifted
    # keys, so 10× keys ship 10× rows
    "o15_latest_per_key": LINEAR,
    # calendar sweeps: the exchange carries calendar-bounded tables
    "x7_interval_coverage": BOUNDED,
    "x7_interval_overlap_sweep": BOUNDED,
    # prefix-sum twin: the per-partition totals are bounded, but the
    # rows themselves are range-partitioned once
    "x8_budget_select_scalable": LINEAR,
    # partial aggregate over a fixed group set
    "ext_q1_pricing_summary": BOUNDED,
    # single-pass rungs: one exchange keyed per series/doc/digest, or
    # none at all (the zero-exchange Arrow kernels)
    "x6_m4_downsample": LINEAR,
    "x4_hashed_linear_score": BOUNDED,
    "mm_scene_cuts": BOUNDED,
    "x1_substring_spans": LINEAR,
    "x1_exact_dedup_hash": LINEAR,
    # capped dedup rungs: linear in the replica's pair volume — the
    # DF-cap guarantee is "linear, never quadratic".  Copy-specific
    # tokens replicate each posting list with its df unchanged (no
    # cross-copy pairs), so Σ_h C(min(df_h, DF_CAP), 2) ≤ |survivor
    # postings|·(DF_CAP−1)/2 grows with docs (PAIR_VOLUME_100X.json:
    # every volume counter exactly 100.0× at 100 copies).
    "x2_containment_capped": LINEAR,
    "x2_ngram_jaccard_capped": LINEAR,
    # canonical-URL dedup (the URL set is not copy-shifted), the
    # |groups|-bounded k-anonymity audit and the |domains|-bounded
    # rollup: partial aggregates over fixed key sets
    "x1_url_dedup": BOUNDED,
    "x8_k_anonymity": BOUNDED,
    "x4_domain_rollup": BOUNDED,
    # iterative graph kernels (k-core, LPA, BFS, weighted SSSP): a fixed
    # round count (the job gate) with per-round exchanges linear in
    # |edges|.  A transitive-closure or uncapped wedge join would read
    # copies² per round.
    "x9_kcore_peel": LINEAR,
    "x9_label_propagation": LINEAR,
    "x9_sssp_weighted": LINEAR,
    "x9_bfs_reach": LINEAR,
    # the nprobe sweep multiplies the corpus-scan count by |configs|+1
    # (fixed); BPE apply's occurrence⇄dict equi-join grows with the
    # replica's vocabulary (copy-specific tokens are new word types)
    "x3_ivf_nprobe_tuning": LINEAR,
    "x4_bpe_apply": LINEAR,
    # containment decontamination streams the corpus's postings past a
    # fixed broadcast benchmark side; STL and ACF are |users|·days
    # linear (ACF's lag join is calendar-equi-keyed on (user, day+k));
    # Theil–Sen's pair volume is |users|·days² with days fixed
    "x2_decontaminate_containment": LINEAR,
    "x6_stl_decompose": LINEAR,
    "x6_acf_lags": LINEAR,
    "x6_theil_sen": LINEAR,
    # RRF scans the corpus once per arm against fixed query sets and
    # ships only per-query top-K candidates
    "x3_rank_fusion": BOUNDED,
    # CDC chunking: the df exchange carries ~tokens/CDC_DIV chunk rows;
    # count-min and the Zipf fit aggregate the (copy-specific, so growing)
    # vocabulary before the sketch or the top-K cut
    "x1_cdc_chunk_dedup": LINEAR,
    "x4_countmin_sketch": LINEAR,
    "x4_zipf_fit": LINEAR,
    # blocked NSW: routing is (planes + 2)·|V| rows with the plane count
    # growing as log2(|V|/20) (8 → 12 planes at 10 copies: ≈14× on the
    # build exchange), far from the broadcast |V|² build's copies².
    # HNSW runs 16 fixed beam rounds over the growing corpus; its job
    # count reads 70–72 on identical code, inside the √copies bound.
    "x3_nsw_beam_blocked": LINEAR,
    "x3_hnsw_beam": LINEAR,
    # unigram train/apply: UNI_ROUNDS EM rounds over the distinct-word
    # mask lattice, |words|·2^(L−1) rows.  The replica's copies keep
    # every word's length (tools/scale_bench._copy_text), so the lattice
    # grows with the distinct words: copies×
    "x4_unigram_train": LINEAR,
    "x4_unigram_apply": LINEAR,
    # record linkage collapses the verbatim copies to the representative
    # set before any pair work: pair volume stays at the 1× leg's
    "x2_record_linkage": BOUNDED,
}

SPOT = list(SPOT_CEILINGS)

GROUP_PREFIX = "scale-spot"
LEGS = ("1x", "scaled")


def _ratio(scaled: float, base: float) -> float:
    """``scaled / base``; a counter that is 0 on both legs did not grow."""
    if base:
        return scaled / base
    return math.inf if scaled else 1.0


def ratios(row: dict) -> dict[str, float]:
    """Scaled-over-1× ratio of every counter of a measured row."""
    return {c: _ratio(row["scaled"][c], row["1x"][c]) for c in COUNTERS}


def class_bounds(cls: str, copies: int) -> dict[str, tuple[float, float]]:
    """Gated counter -> (floor, ceiling): the class's expected ratio
    ÷/× √copies, the log-scale midpoints to the neighbouring classes."""
    half = math.sqrt(copies)
    return {
        c: (copies**e / half, copies**e * half) for c, e in CLASSES[cls].items()
    }


def out_of_class(got: dict[str, float], cls: str, copies: int) -> dict[str, tuple]:
    """Gated ratios of ``got`` (see ``ratios``) outside ``cls``'s bounds,
    as counter -> (ratio, (floor, ceiling)); empty when the row is in
    its class."""
    return {
        c: (round(got[c], 3), (round(lo, 3), round(hi, 3)))
        for c, (lo, hi) in class_bounds(cls, copies).items()
        if not lo < got[c] <= hi
    }


def fold(events: list[dict]) -> dict[str, dict[str, float]]:
    """Per job group of ours: the ``COUNTERS`` of every job, stage and
    task that ran under it."""
    out: dict[str, dict[str, float]] = {}
    stage_group: dict[tuple[int, int], str] = {}
    for ev in events:
        kind = ev.get("Event")
        group = ev.get("Properties", {}).get("spark.jobGroup.id") or ""
        if kind == "SparkListenerJobStart" and group.startswith(GROUP_PREFIX):
            out.setdefault(group, dict.fromkeys(COUNTERS, 0))["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted" and group.startswith(GROUP_PREFIX):
            info = ev["Stage Info"]
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            m = ev.get("Task Metrics")
            if group is None or not m:
                continue
            c = out.setdefault(group, dict.fromkeys(COUNTERS, 0))
            w = m["Shuffle Write Metrics"]
            c["input_rows"] += m["Input Metrics"]["Records Read"]
            c["shuffle_records"] += w["Shuffle Records Written"]
            c["shuffle_bytes"] += w["Shuffle Bytes Written"]
    return out


def _run(spark, qs, name: str, sf_dir: str, group: str) -> float:
    """One untimed warm-up, then one run under job group ``group``;
    returns the second run's wall seconds."""
    sc = spark.sparkContext
    # session-scoped caches (TF-IDF terms, IVF corpus, edges) must not
    # carry from one leg into the next
    spark.catalog.clearCache()
    qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", default=os.path.join(ROOT, "BENCH_SCALE100.json"))
    ap.add_argument("filters", nargs="*", help="measure only rows containing one")
    args = ap.parse_args()
    names = [n for n in SPOT if not args.filters or any(f in n for f in args.filters)]

    # env BEFORE the scale_bench import (it reads env at import time)
    os.environ["SPARK_GRAFT_SCALE_COPIES"] = str(COPIES)
    os.environ.setdefault("SPARK_GRAFT_SCALE_DIR", f"/tmp/spark_graft_scale{COPIES}")
    # Python workers import the package (mapInPandas kernels) from any cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from perfbench.spans import read_event_log
    from tools import scale_bench as sb
    from weather_data_pipeline_spark import registry, session as engine

    engine.RUNTIME_CONF.update(SPOT_CONF)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    mem = os.environ.get("SPARK_GRAFT_SPOT_MEM", "6g")
    log_dir = tempfile.mkdtemp(prefix="scale-spot-eventlog-")
    spark = (
        sb.SparkSession.builder.master(f"local[{cpus}]")
        .appName("scale-spot")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", mem)
        # one plain-JSON application log that read_event_log can parse
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.includeTaskMetricsAccumulators", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    engine.tune(spark)
    session = {
        "app_id": spark.sparkContext.applicationId,
        "cpus": cpus,
        "box_cpus": os.cpu_count(),
        "box_memory_gb": round(
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1
        ),
        "driver_memory": mem,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    t0 = time.perf_counter()
    sb.build(spark)
    build_s = round(time.perf_counter() - t0, 1)
    qs = registry.queries()
    wall = {}
    try:
        for name in names:
            wall[name] = {
                leg: _run(spark, qs, name, d, f"{GROUP_PREFIX}|{name}|{leg}")
                for leg, d in zip(LEGS, (sb.BASE, sb.SCALE_DIR))
            }
            print(name, wall[name], flush=True)
        spark.stop()  # closes the application log
        counters = fold(read_event_log(log_dir))
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    rows = {}
    for name in names:
        row = {leg: counters[f"{GROUP_PREFIX}|{name}|{leg}"] for leg in LEGS}
        row["ratios"] = {k: round(v, 3) for k, v in ratios(row).items()}
        w = wall[name]
        row["wall_s"] = {**w, "ratio": round(w["scaled"] / w["1x"], 2)}
        rows[name] = row
        bad = out_of_class(ratios(row), SPOT_CEILINGS[name], COPIES)
        print(name, SPOT_CEILINGS[name], row["ratios"], bad or "ok", flush=True)
    payload = {
        "copies": COPIES,
        "base": sb.BASE,
        "session": session,
        "replica_build_s": build_s,
        "queries": rows,
    }
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1)


if __name__ == "__main__":
    main()
