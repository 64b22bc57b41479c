"""Generate PLANS.md: the formatted physical plan + a scale summary for
every headline query at sf0.1 — the `.explain` evidence behind the
README's shuffle inventory, kept as a reviewable artifact.

Also writes PLANHASHES.json (VERDICT r13 ask #6): a normalized
per-section hash map, so round-over-round plan stability is a one-line
`git diff PLANHASHES.json` instead of prose about regenerations. The
normalization strips everything that varies run-to-run without a plan
change — expression/operator/codegen ids, file locations, statistics —
so a hash moves exactly when the plan SHAPE moves (an exchange added,
a join strategy flipped, a filter no longer pushed).

A rerun keeps the committed text of every PLANS.md section whose hash
and summary did not move (formatted plans carry ids that change from
run to run) and rewrites only the sections that moved, so the diff
shows plan changes and nothing else.

Run:  python tools/plan_audit.py   (writes PLANS.md + PLANHASHES.json)
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, SF_DIR  # noqa: E402
from weather_data_pipeline_spark import registry  # noqa: E402
from weather_data_pipeline_spark.plans import inspect as pi  # noqa: E402
from weather_data_pipeline_spark.session import get_spark  # noqa: E402

#: Queries whose driver function runs multiple Spark jobs (bounded driver
#: collects of quantizer/probe rows, or checkpointed iterations): the
#: returned DataFrame's plan covers only the FINAL job, noted inline.
MULTI_JOB = {
    "x3_ivf_topk": "quantizer build + query probe run as prior bounded jobs",
    "x3_ivf_kmeans_topk": "init + 2 Lloyd iterations run as prior bounded jobs",
    "x9_pagerank": "edge list + degrees localCheckpoint as prior jobs; the "
    "plan shows ExistingRDD scans of the materialized graph",
    "x2_tfidf_cosine": "weighted term table localCheckpoints as a prior job",
    "x8_budget_select_scalable": "range-partition checkpoint + per-partition "
    "totals collect (O(config) rows) run as prior bounded jobs",
    "x8_sequence_pack": "range-partition checkpoint + per-partition totals "
    "collect (O(config) rows) run as prior bounded jobs",
    "x4_perplexity_buckets_approx": "bigram-LM score triples localCheckpoint "
    "as a prior job; the plan shows ExistingRDD scans of the one "
    "materialization",
    "x4_vocab_coverage": "term-frequency aggregate localCheckpoints as a "
    "prior job; total and top-K prune both read the ExistingRDD",
    "x3_prefix_dim_recall": "query collect + kernel-output localCheckpoint "
    "run as prior jobs; both rankings read the one ExistingRDD",
    "x2_tfidf_cosine_prefix": "weighted-term localCheckpoint + the adaptive "
    "selectivity probe (two postings counts) run as prior bounded jobs; "
    "the plan shows the path the cost rule chose (exhaustive on this "
    "corpus — BENCH_PREFIX_AB.json)",
    "mm_phash_neardup_codes": "decode + fingerprint groupBy localCheckpoint "
    "as a prior job; both band joins read the distinct-codes ExistingRDD",
    "x7_interval_overlap_sweep": "endpoint aggregate + calendar cumulative "
    "window localCheckpoint as a prior bounded job (≤ span-days rows); "
    "both broadcast lookups read the one ExistingRDD",
    "x4_bpe_merge_train": "word-count + per-round pair-count/argmax rounds "
    "run as prior jobs (one (l,r,cnt) row to the driver per round); the "
    "result plan is a pure local relation of the collected merge rows "
    "(round 11, ADVICE r10 — no re-execution at collect)",
    "x9_label_propagation": "edge build + per-round label vectors "
    "localCheckpoint as prior jobs; the plan shows the LAST (lazy) "
    "Pregel round over ExistingRDD scans",
    "x9_kcore_peel": "edge build + per-round peeled snapshots "
    "localCheckpoint as prior jobs with their 1-row stats collected "
    "eagerly (round 11 — bounds resident snapshots at ~2); the result "
    "plan is a pure local relation of the cascade rows",
    "x9_jaccard_neighbors": "capped adjacency localCheckpoints as a prior "
    "job (feeds degrees + both wedge sides); the |nodes| pre-flight "
    "count is a bounded job",
    "x8_k_anonymity": "the one rollup pass localCheckpoints as a prior "
    "job (|groups|-bounded); the plan shows the three level tables as "
    "broadcast ExistingRDD scans onto the single row scan",
    "w_compact_small_files": "the staging and compaction writes run as "
    "prior jobs; the plan aggregates the re-read compacted copy joined "
    "to the O(#partitions) disk-listing frame",
    "x2_semdedup_keep": "centroid build + k-bounded collect run as prior "
    "jobs; the plan is the assignment mapInPandas feeding the per-cluster "
    "grouped decision kernel behind the single (bucket) exchange",
    "x1_bloom_geometry_tuning": "per (m, k) config: one cached-registry "
    "position agg + one cached-probe scan + three bounded counts run as "
    "prior jobs (13 driver-traffic jobs total); the result plan is the "
    "|configs|-row local relation of the tuning curve",
    "x9_bfs_reach": "edge thinning + per-hop dist vectors of the "
    "sssp_rounds kernel on unit-weight edges localCheckpoint as prior "
    "jobs (one frontier join + one candidate min + one full-outer merge "
    "each, early-stop on empty improved set); the result plan is the "
    "rollup over the node universe left-joined to the final hop vector",
    "x3_rank_fusion": "the dense arm's query-vector collect (N_QUERIES "
    "rows) runs as a prior bounded job (the x3_cosine_topk kernel); the "
    "plan shows both arms' rank windows feeding the fusion partial agg",
    "x3_mmr_diversify": "cosine-arm candidates + within-query pair sims "
    "collect as prior bounded jobs (|queries|*K and |queries|*K^2 rows "
    "by construction); the result is the greedy walk's local relation",
    "x9_sssp_weighted": "weighted edge build + per-round dist vectors "
    "localCheckpoint as prior jobs (one frontier join + one candidate "
    "min + one full-outer merge each, early-stop on empty improved "
    "set); the result plan is the rollup over the node universe "
    "left-joined to the final dist vector",
}

#: Scale-suite-only queries too heavy for the bench loop whose plan is
#: still worth recording next to their headline twins — plus registered
#: rungs outside HEADLINE whose zero-shuffle claims deserve a PLANS.md
#: section (ADVICE r11 #4: mm_audio_silence_trim / mm_audio_energy were
#: test-only).
EXTRA = [
    "mm_audio_silence_trim",
    "mm_audio_energy",
    "x1_bloom_geometry_tuning",  # scale-suite-only (13-job sweep)
    "x3_hnsw_beam",  # scale-suite-only (16 checkpointed beam rounds)
]


def normalized_plan_hash(formatted: str) -> str:
    """Hash of the run-invariant skeleton of a formatted plan: drops
    location/statistics lines, collapses expression ids (#123) and all
    remaining integers (operator ids, codegen stage ids, AQE plan ids
    — and, deliberately, literal constants: the artifact tracks plan
    SHAPE; constant tuning shows up in the query source diff)."""
    lines = []
    for ln in formatted.splitlines():
        s = ln.strip()
        if not s or "Location:" in s or "file:/" in s:
            continue
        if s.startswith("Statistics") or s.startswith("Output ["):
            s = s.split(":")[0]
        s = re.sub(r"#\d+L?", "#x", s)
        s = re.sub(r"\d+", "N", s)
        # RDD call-site strings vary run-to-run without a plan change
        # ("localCheckpoint at NativeMethodAccessorImpl.java:N" in one
        # JVM warm-up state, "localCheckpoint at <unknown>:N" in
        # another — observed round 15 flipping four untouched queries'
        # hashes); keep the RDD-producing METHOD, drop the site.
        s = re.sub(r" at [^,\s]+:N", " at X", s)
        lines.append(s)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def _sections(text: str) -> tuple[str, dict[str, str]]:
    """(head, {name: section}): PLANS.md split at its ``## name`` lines."""
    head, *parts = re.split(r"^(?=## )", text, flags=re.M)
    return head, {p.split("\n", 1)[0][3:].strip(): p for p in parts}


def splice(old: str, new: str, old_hashes: dict, new_hashes: dict) -> str:
    """``new`` with each section taken from ``old`` where the plan hash
    and the summary above the plan are unchanged."""
    _, kept = _sections(old)
    head, fresh = _sections(new)
    out = [head]
    for name, sec in fresh.items():
        was = kept.get(name)
        same = (
            was is not None
            and old_hashes.get(name) == new_hashes.get(name)
            and was.split("```")[0] == sec.split("```")[0]
        )
        out.append(was if same else sec)
    return "".join(out)


def main() -> None:
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    out = [
        "# PLANS — headline-query physical plans (generated)",
        "",
        f"Source of truth: `python tools/plan_audit.py` at `{SF_DIR}`. The",
        "summary line per query counts Exchanges (shuffles), flags broadcast",
        "joins and map-side partial aggregation, and lists filters pushed",
        "into the parquet scan; the full formatted plan follows. Queries",
        "that run bounded driver-side jobs before the final plan say so.",
        "",
    ]
    hashes: dict[str, str] = {}
    for name in HEADLINE + EXTRA:
        df = qs[name](spark, SF_DIR)
        n_ex = pi.num_shuffles(df)
        bits = [f"exchanges={n_ex}"]
        if pi.has_broadcast_join(df):
            bits.append("broadcast-join")
        if pi.has_partial_aggregation(df):
            bits.append("partial-agg")
        pushed = pi.pushed_filters(df)
        if pushed:
            bits.append(f"pushed-filters={len(pushed)}")
        note = MULTI_JOB.get(name)
        out.append(f"## {name}")
        out.append("")
        out.append(f"**{', '.join(bits)}**" + (f" — _{note}_" if note else ""))
        if pushed:
            out.append("")
            out.append("Pushed: `" + "`, `".join(sorted(set(pushed))[:8]) + "`")
        out.append("")
        formatted = (
            df._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        )
        out.append("```")
        out.append(formatted.rstrip())
        out.append("```")
        out.append("")
        hashes[name] = normalized_plan_hash(formatted)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans_md = os.path.join(root, "PLANS.md")
    hashes_json = os.path.join(root, "PLANHASHES.json")
    text = "\n".join(out) + "\n"
    if os.path.exists(plans_md) and os.path.exists(hashes_json):
        with open(plans_md) as f, open(hashes_json) as h:
            text = splice(f.read(), text, json.load(h)["plans"], hashes)
    with open(plans_md, "w") as f:
        f.write(text)
    with open(hashes_json, "w") as f:
        json.dump(
            {"sf_dir": SF_DIR, "plans": dict(sorted(hashes.items()))},
            f,
            indent=1,
        )
    print(f"wrote PLANS.md + PLANHASHES.json ({len(hashes)} queries)")


if __name__ == "__main__":
    main()
