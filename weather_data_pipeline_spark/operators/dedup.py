"""X1/X2 — exact & near deduplication over ``documents`` (SURVEY.md §2.10).

The dedup ladder, cheapest→strongest, as used by pretraining-corpus
pipelines:

1. exact: hash-groupBy on content (or md5(content) — 16-byte shuffle
   keys instead of full text: the 100 TB form), on normalized text, on
   canonical URLs, on corpus lines, on exact substrings (suffix-array
   class) and on content-defined chunks;
2. n-gram set similarity: shingle → inverted index → posting-list pair
   expansion → set overlap (exact, but only touches pairs that share
   ≥1 shingle — never a cross or self join). Jaccard, one-sided
   containment and the strong-pair set (Jaccard ≥ STRONG_JACCARD) are
   three final filters over ONE pair count; each has an uncapped rung
   (gated past MAX_UNCAPPED_DOCS) and a df-capped rung (shingles in more
   than DF_CAP docs dropped, pair work ≤ |docs|·DF_CAP);
3. MinHash LSH: signature + banded bucket join, sub-quadratic candidate
   generation, plus a band-tuning sweep scored against the strong pairs;
4. SimHash: 64-bit signature whose Hamming distance tracks cosine/Jaccard
   similarity — signatures are groupable/bucketable;
5. TF-IDF cosine (exhaustive and prefix-filtered) as the weighted rung;
6. components over the Jaccard pair graph, and the policies on top of
   them: canonical keeper, keep-best-quality, soft (inverse-size)
   weights; record linkage runs the same components over customer rows.

Shared pieces, each built once: ``gram_postings`` (doc_id, n, h);
``_uncapped_pairs`` / ``_capped_pairs`` → (doc_a, doc_b, n_a, n_b,
inter) with one emitter per predicate (``_jaccard_pairs``,
``_containment_pairs``, ``_strong_pairs``); ``_dup_labels`` for the
component policies; ``_minhash_wide`` + ``_band_keys`` for every banded
MinHash rung. The DuckDB oracles mirror them: ``_SHINGLE_CTES``,
``_JACCARD_CTES``, ``_CAPPED_CTES``, ``_COMPONENT_CTES``,
``_MINHASH_HX_CTE`` and ``_bands_sql``.

Every rung is oracle-checked against DuckDB, including the portable
MinHash/SimHash twins (md5 hash families replay in SQL), except the
pyspark.ml ``x2_minhash_lsh`` and xxhash64 ``x2_simhash`` forms, whose
hash families are engine-specific: those are rows-only, with their
contracts value-checked by ``x2_minhash_lsh_recall`` and
``x2_simhash_invariants``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.tokens import words
from ..registry import query
from ..session import fan_out
from ..sources.testdata import load_table


@query(
    "x1_exact_dedup",
    oracle="""
    SELECT text, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
    """,
)
def x1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup as hash-groupBy, keeping the lowest doc_id per content
    (deterministic, unlike dropDuplicates' arbitrary row)."""
    doc = load_table(spark, sf_dir, "documents")
    return doc.groupBy("text").agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


@query(
    "x1_exact_dedup_hash",
    oracle="""
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def x1_exact_dedup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same dedup keyed on md5(text): at 100 TB you shuffle 16-byte digests,
    not documents — the shuffle payload drops by ~1000×."""
    doc = load_table(spark, sf_dir, "documents")
    return doc.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


def shingle_arrays(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, grams) — the distinct word n-grams of each document as one
    array column: a narrow projection, no shuffle. Per-doc shingle counts
    are ``size(grams)`` straight off this — never an explode + groupBy.

    Gram construction uses ``pyspark.ml.feature.NGram`` (JVM-side Scala),
    which benches ~6× faster than the equivalent Catalyst higher-order
    ``transform(sequence(...), concat_ws(...))`` — HOF lambdas run
    interpreted, outside whole-stage codegen, and this expression sits on
    the hottest path of the dedup ladder."""
    from pyspark.ml.feature import NGram

    arrays = df.select("doc_id", words().alias("words")).filter(
        F.size("words") >= n
    )
    grams = NGram(n=n, inputCol="words", outputCol="raw_grams").transform(arrays)
    return grams.select("doc_id", F.array_distinct("raw_grams").alias("grams"))


def shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams per document, exploded.

    ``array_distinct`` dedups *within* the document before the explode, so
    the output is already distinct per (doc_id, shingle) — no post-explode
    ``distinct()`` (that would be a full extra shuffle of the exploded
    table, the largest intermediate in the dedup path)."""
    return shingle_arrays(df, n).select(
        "doc_id", F.explode("grams").alias("shingle")
    )


#: Past this corpus size the UNCAPPED gram self-join's Σ df² pair blowup
#: is a real risk (one viral boilerplate shingle in 1% of docs already
#: means 10⁸ pairs at 10⁶ docs), so the exact uncapped rung refuses to
#: run and names the next rungs of the ladder — the same fail-fast
#: posture as the gated all-pairs similarity rung
#: (similarity.MAX_BROADCAST_VECTORS).
MAX_UNCAPPED_DOCS = 1_000_000


#: probe-verdict cache keyed on (documents file identity, ceiling): the
#: gate decision is a property of the file version, so repeated
#: invocations (bench loops, test sweeps) pay the bounded count job
#: once per file version instead of per call. Keying on mtime/size means
#: an in-place regeneration re-probes (the events_ts_unit convention);
#: keying on the ceiling means a test that lowers MAX_UNCAPPED_DOCS
#: never sees a stale pass.
_GATE_CACHE: dict[tuple, bool] = {}


def _gate_key(sf_dir: str | None):
    if sf_dir is None:
        return None
    import os

    path = f"{sf_dir}/documents.parquet"
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (path, st.st_mtime_ns, st.st_size, MAX_UNCAPPED_DOCS)


def _gate_uncapped(
    doc: DataFrame,
    op: str,
    sf_dir: str | None = None,
    alt: str = "x2_ngram_jaccard_capped (df-capped, pair work ≤ "
    "|docs|·DF_CAP) or x2_minhash_lsh_portable (banded buckets, "
    "sub-quadratic)",
) -> DataFrame:
    """Fail fast if ``doc`` exceeds the uncapped-rung ceiling. The guard
    job is bounded regardless of corpus size: the scan stops after
    MAX+1 rows instead of counting everything — and runs once per
    documents-file version (verdict cached). ``alt`` names the next
    ladder rung(s) for this op's semantics."""
    key = _gate_key(sf_dir)
    over = _GATE_CACHE.get(key) if key is not None else None
    if over is None:
        over = doc.limit(MAX_UNCAPPED_DOCS + 1).count() > MAX_UNCAPPED_DOCS
        if key is not None:
            _GATE_CACHE[key] = over
    if over:
        raise ValueError(
            f"{op} is the exact UNCAPPED near-dup rung; past "
            f"{MAX_UNCAPPED_DOCS} docs a single viral shingle makes its "
            f"pair join quadratic (Σ df²). Use {alt} at this scale"
        )
    return doc


def gram_postings(doc: DataFrame) -> DataFrame:
    """(doc_id, n, h) — one row per distinct word trigram of each doc,
    keyed ``h = xxhash64(shingle)`` with the doc's distinct-gram count
    ``n`` riding along (the Jaccard/containment denominator, so no
    separate count join). Fixed 8-byte keys instead of ~25-byte trigram
    strings: a collision merges two gram classes; with D distinct
    shingles P(any collision) ≈ D²/2⁶⁵ — use a 128-bit fingerprint at
    trillion-shingle scale. The inverted index every gram-keyed rung
    (pair builds, uniqueness score) reads."""
    sh = shingle_arrays(doc, 3).select(
        "doc_id",
        F.size("grams").alias("n"),
        F.explode("grams").alias("shingle"),
    )
    return sh.select("doc_id", "n", F.xxhash64("shingle").alias("h"))


def _uncapped_pairs(doc: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_a, n_b, inter) for every doc pair sharing ≥ 1
    gram, via a gram-keyed self-equi-join: only documents sharing a
    shingle ever meet, so pair cardinality tracks true overlap, not
    |docs|² — but a viral shingle still costs Σ df², which is why every
    caller gates ``doc`` through ``_gate_uncapped`` first.

    Shape notes (benched against a collect_list posting-list build):

    - A self-equi-join beats building posting lists explicitly
      (collect_list + a pair-expansion lambda): higher-order functions
      run interpreted, while the join + partial-aggregated pair count
      stays inside whole-stage codegen end-to-end (~35% faster at
      sf0.1), and both join inputs are the same plan, so the shuffle is
      computed once and read twice (ReusedExchange). AQE picks
      broadcast-hash when the gram set is small and sort-merge at scale.
    - ``n_*`` are functionally dependent on doc_*, so they ride the
      groupBy keys instead of a count join."""
    s = gram_postings(doc)
    a = s.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"), "h")
    b = s.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


#: document-frequency cap for the skew-safe rungs: shingles appearing in
#: more than this many docs are dropped before the pair join
DF_CAP = 5


def _capped_pairs(doc: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_a, n_b, inter) over the df-CAPPED gram sets:
    shingles with document frequency above ``DF_CAP`` are dropped BEFORE
    the pair join, and ``n`` counts the surviving grams. A viral shingle
    (site boilerplate, license headers) has a posting list of millions,
    and the pair expansion on that ONE join key is quadratic in its
    length; no salting helps because the blowup is real output, not
    partition skew. Capping df bounds every posting list, so worst-case
    pair work is |docs|·DF_CAP instead of Σ df² — and the dropped grams
    carry almost no similarity signal precisely because they are
    everywhere. The hot-gram list is tiny by construction (only grams
    with df > cap) → broadcast LEFT ANTI join.

    The postings localCheckpoint: the hot-gram build, the pair-join
    sides and the per-doc counts shuffle on three different keys, so
    exchange reuse covers only the two join sides and each consumer
    would otherwise re-run the corpus scan+explode+hash (interleaved A/B
    at sf0.1: median 2.59 s → 2.31 s)."""
    sh = gram_postings(doc).select("doc_id", "h").localCheckpoint(eager=True)
    hot = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > DF_CAP)
        .select("h")
    )
    sh2 = sh.join(F.broadcast(hot), "h", "left_anti")
    n2 = sh2.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh2.select(F.col("doc_id").alias("doc_a"), "h")
    b = sh2.select(F.col("doc_id").alias("doc_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = n2.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = n2.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return pairs.join(na, "doc_a").join(nb, "doc_b")


def _jaccard() -> Column:
    """inter / |a ∪ b| over a pair-build row."""
    return F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))


def _jaccard_pairs(pairs: DataFrame) -> DataFrame:
    """Near-dup pairs at Jaccard ≥ 0.05: (doc_a, doc_b, inter, jaccard)."""
    jac = _jaccard()
    return pairs.filter(jac >= 0.05).select(
        "doc_a", "doc_b", "inter", F.round(jac, 6).alias("jaccard")
    )


def _containment_pairs(pairs: DataFrame) -> DataFrame:
    """One-sided pairs at inter/min(n_a, n_b) ≥ CONTAIN_NUM/CONTAIN_DEN,
    compared in integer cross-multiplication so the pair set is
    engine-exact at any boundary: (doc_a, doc_b, inter, containment)."""
    mn = F.least(F.col("n_a"), F.col("n_b"))
    return pairs.filter(F.col("inter") * CONTAIN_DEN >= CONTAIN_NUM * mn).select(
        "doc_a",
        "doc_b",
        "inter",
        F.round(F.col("inter") / mn, 6).alias("containment"),
    )


def _strong_pairs(pairs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) at rounded Jaccard ≥ STRONG_JACCARD — the exact
    reference set the MinHash recall and band-tuning rungs score
    against (the oracle thresholds the same 6-digit rounded value)."""
    return pairs.filter(F.round(_jaccard(), 6) >= STRONG_JACCARD).select(
        "doc_a", "doc_b"
    )


#: trigram shingles of every ≥3-word document, distinct per doc — the
#: DuckDB twin of ``shingle_arrays`` that every gram-keyed oracle starts
#: from (raw shingle strings: the oracles are collision-free)
_SHINGLE_CTES = """
    w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), sh AS (
      SELECT DISTINCT doc_id,
             words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
      FROM w, UNNEST(generate_series(1, len(words) - 2)) AS t(i)
    )"""

#: shingles → per-doc counts → shared-gram pair counts (the oracle of
#: ``_uncapped_pairs``), plus the thresholded near-dup pair set (reused
#: by the component and strong-pair oracles)
_JACCARD_CTES = f"""{_SHINGLE_CTES}, counts AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), dup_pairs AS (
      SELECT doc_a, doc_b, inter,
             ROUND(inter / (ca.n + cb.n - inter), 6) AS jaccard
      FROM pairs
      JOIN counts ca ON ca.doc_id = doc_a
      JOIN counts cb ON cb.doc_id = doc_b
      WHERE inter / (ca.n + cb.n - inter) >= 0.05
    )
"""

#: the oracle of ``_capped_pairs``: hot grams out, per-doc counts ``n2``
#: and pair counts ``pairs`` over the surviving grams
_CAPPED_CTES = f"""{_SHINGLE_CTES}, hot AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {DF_CAP}
    ), sh2 AS (
      SELECT * FROM sh ANTI JOIN hot USING (shingle)
    ), n2 AS (
      SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )"""


@query(
    "x2_ngram_jaccard",
    oracle=f"""
    WITH {_JACCARD_CTES}
    SELECT doc_a, doc_b, inter, jaccard FROM dup_pairs
    """,
)
def x2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: the uncapped gram-keyed pair
    count (``_uncapped_pairs``) filtered at Jaccard ≥ 0.05."""
    doc = _gate_uncapped(
        fan_out(load_table(spark, sf_dir, "documents")),
        "x2_ngram_jaccard",
        sf_dir,
    )
    return _jaccard_pairs(_uncapped_pairs(doc))


@query(
    "x2_ngram_jaccard_capped",
    oracle=f"""
    WITH {_CAPPED_CTES}
    SELECT doc_a, doc_b, inter,
           ROUND(CAST(inter AS DOUBLE) / (x.n + y.n - inter), 6) AS jaccard
    FROM pairs
    JOIN n2 x ON x.doc_id = doc_a
    JOIN n2 y ON y.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.05
    """,
)
def x2_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe n-gram Jaccard: the df-capped pair count
    (``_capped_pairs``) filtered like ``x2_ngram_jaccard``. This is the
    mitigation every production near-dup pipeline applies; Jaccard is
    computed consistently over the CAPPED gram sets on both engines.

    Collision assumption: df counts, per-doc n, and intersections are
    all computed over ``xxhash64(shingle)`` keys while the oracle uses
    raw shingle strings — a 64-bit collision would merge two gram
    classes and shift all three quantities at once. With D distinct
    shingles P(any collision) ≈ D²/2⁶⁵ (≈ 5e-6 at D = 10⁹); at
    trillion-shingle scale switch the key to a 128-bit fingerprint (two
    independent xxhash64 seeds), which drops it below 1e-14."""
    return _jaccard_pairs(
        _capped_pairs(fan_out(load_table(spark, sf_dir, "documents")))
    )


#: decontamination: minimum shared distinct shingles to flag a training
#: doc as contaminated by an eval doc
DECON_MIN_SHARED = 3


@query(
    "x2_decontaminate",
    oracle=f"""
    WITH {_SHINGLE_CTES}, hits AS (
      SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc, COUNT(*) AS shared
      FROM (SELECT * FROM sh WHERE doc_id % 7 <> 0) tr
      JOIN (SELECT * FROM sh WHERE doc_id % 7 = 0) ev
        ON tr.shingle = ev.shingle
      GROUP BY tr.doc_id, ev.doc_id
      HAVING COUNT(*) >= {DECON_MIN_SHARED}
    )
    SELECT train_doc AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
           MAX(shared) AS max_shared_shingles
    FROM hits GROUP BY train_doc
    """,
)
def x2_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the dedup machinery pointed at an eval
    set: flag every training document sharing ≥ DECON_MIN_SHARED (3)
    distinct 3-gram shingles with any eval document (the standard n-gram
    overlap test pretraining pipelines run before training, so benchmark
    answers don't leak into the corpus). The stand-in eval membership is
    ``doc_id % 7 = 0`` — in production this side is the benchmark file.

    Plan shape: identical gram-keyed equi-join as x2_ngram_jaccard, but
    the eval side is ~1/7 of the corpus (in production: tiny) and
    broadcastable — at 100 TB the training corpus streams past a
    broadcast eval-shingle set with ZERO data-sized shuffles; here AQE
    picks the strategy. Raw shingle strings join (not xxhash64) so the
    oracle is value-exact."""
    doc = fan_out(load_table(spark, sf_dir, "documents"))
    sh = shingle_arrays(doc, 3).select(
        "doc_id", F.explode("grams").alias("shingle")
    )
    tr = sh.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("train_doc"), "shingle"
    )
    ev = sh.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    hits = (
        tr.join(ev, "shingle")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= DECON_MIN_SHARED)
    )
    return hits.groupBy(F.col("train_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_eval_hits"),
        F.max("shared").alias("max_shared_shingles"),
    )


#: containment-protocol decontamination threshold (cross-multiplied
#: integers, no float in the filter): flag when shared shingles cover
#: at least NUM/DEN of the EVAL doc's distinct shingles — the
#: GPT-3/Gopher overlap-fraction protocol (overlap is measured relative
#: to the benchmark item, so a long training doc quoting a whole eval
#: question is flagged even though the quote is a tiny fraction of the
#: TRAINING doc — the case an absolute shared-count test underweights).
DECON_CONT_NUM = 1
DECON_CONT_DEN = 2


@query(
    "x2_decontaminate_containment",
    oracle=f"""
    WITH {_SHINGLE_CTES}, ev_n AS (
      SELECT doc_id, COUNT(*) AS n_ev FROM sh
      WHERE doc_id % 7 = 0 GROUP BY doc_id
    ), hits AS (
      SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
             COUNT(*) AS shared
      FROM (SELECT * FROM sh WHERE doc_id % 7 <> 0) tr
      JOIN (SELECT * FROM sh WHERE doc_id % 7 = 0) ev
        ON tr.shingle = ev.shingle
      GROUP BY 1, 2
    ), flagged AS (
      SELECT h.train_doc, h.shared, e.n_ev
      FROM hits h JOIN ev_n e ON e.doc_id = h.eval_doc
      WHERE h.shared * {DECON_CONT_DEN} >= {DECON_CONT_NUM} * e.n_ev
    )
    SELECT train_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits,
           FLOOR(MAX(shared / n_ev) * 1000000) / 1000000.0
             AS max_containment
    FROM flagged GROUP BY train_doc
    """,
)
def x2_decontaminate_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-protocol benchmark decontamination (VERDICT r12 ask
    #3) — the GPT-3/Gopher dedup-against-test rule: flag a training
    document when its shared distinct 3-gram shingles cover at least
    ``DECON_CONT_NUM/DECON_CONT_DEN`` of an eval document's shingles.
    The fraction is relative to the EVAL side, complementing
    ``x2_decontaminate``'s absolute shared-count rule (a verbatim quote
    of a short benchmark item is caught here regardless of how long the
    training doc is). Stand-in eval membership is ``doc_id % 7 = 0``;
    in production this side is the benchmark file.

    Plan shape: the eval side (postings WITH the per-doc shingle count
    inlined, so no second lookup join) is tiny by construction — in
    production a few thousand benchmark items vs a trillion-doc corpus
    — and is broadcast EXPLICITLY: the training corpus streams past it
    with zero data-sized shuffles before the per-pair partial
    aggregation (plan-gated: the shingle join must be a broadcast hash
    join). Threshold compares via cross-multiplied integers; the only
    float is the reported max_containment, one IEEE division of
    identical integers floor-truncated at 1e-6 on both engines. Raw
    shingle strings join (not xxhash64) so the oracle is value-exact."""
    doc = fan_out(load_table(spark, sf_dir, "documents"))
    sh = shingle_arrays(doc, 3)
    tr = sh.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("train_doc"),
        F.explode("grams").alias("shingle"),
    )
    ev = sh.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("eval_doc"),
        F.size("grams").alias("n_ev"),
        F.explode("grams").alias("shingle"),
    )
    return decontaminate_containment_flags(tr, ev)


def decontaminate_containment_flags(tr: DataFrame, ev: DataFrame) -> DataFrame:
    """The containment-decontamination kernel, shared by the batch rung
    and the streaming twin's per-batch step: exploded training postings
    (train_doc, shingle) against eval postings carrying the per-doc
    shingle count inline (eval_doc, n_ev, shingle). The eval side
    broadcasts (tiny by construction); output is one row per flagged
    training doc. Each training doc's shingles live entirely in its own
    rows, so the kernel is complete over ANY subset of training docs —
    the property that makes the streaming twin stateless per
    micro-batch."""
    hits = (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("train_doc", "eval_doc")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.max("n_ev").alias("n_ev"),
        )
    )
    flagged = hits.filter(
        F.col("shared") * DECON_CONT_DEN >= DECON_CONT_NUM * F.col("n_ev")
    )
    return flagged.groupBy(F.col("train_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_eval_hits"),
        (
            F.floor(F.max(F.col("shared") / F.col("n_ev")) * F.lit(1e6))
            / F.lit(1e6)
        ).alias("max_containment"),
    )


#: convergence safety bound for star contraction: rounds grow with the
#: log of the largest component's size (a 1024-node chain settles in 10),
#: so no real pair graph comes near it — it only stops a broken loop
_MAX_CC_ITERS = 50


#: components of the near-dup pair graph (the oracle of ``_dup_labels``):
#: ``comp`` = (doc_id, component = min doc_id reachable) via a recursive
#: reachability fixpoint; use as ``WITH RECURSIVE {_COMPONENT_CTES}``
_COMPONENT_CTES = f"""{_JACCARD_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM dup_pairs
    ),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
      SELECT node AS doc_id, MIN(lab) AS component FROM reach GROUP BY node
    )"""

_DUP_COMPONENTS_ORACLE = f"""
    WITH RECURSIVE {_COMPONENT_CTES}
    SELECT doc_id, component,
           CAST(doc_id = component AS BOOLEAN) AS is_canonical
    FROM comp
    """


def _dup_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component) — ``star_components`` over the
    ``x2_ngram_jaccard`` pair graph, every document a node: the
    components every keeper policy (canonical, keep-best, soft weights)
    decides over."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = x2_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return star_components(doc, pairs)[0]


@query("x2_dup_components_star", oracle=_DUP_COMPONENTS_ORACLE)
@query("x2_dup_components", oracle=_DUP_COMPONENTS_ORACLE)
def x2_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup ladder's final rung: connected components over the
    near-dup pair graph, so each duplicate GROUP (not just each pair) gets
    one canonical keeper — ``component`` is the min doc_id reachable, and
    ``is_canonical`` marks the doc a pipeline would keep. Docs with no
    near-dup edge are their own singleton component.

    Both names run this body on ``star_components``, whose round count
    grows with the log of a component's size, not its diameter: at
    100 TB a high-diameter near-dup graph (transcript chains, crawl
    mirrors) still settles in a few rounds.
    Oracle: the identical fixpoint via a recursive reachability CTE."""
    return _dup_labels(spark, sf_dir).select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


def _star(edges: DataFrame, large: bool) -> DataFrame:
    """One large-star or small-star contraction over a directed edge list.

    For each node u with neighborhood Γ(u) (symmetrized) and
    m = min(Γ(u) ∪ {u}): large-star re-points every STRICTLY LARGER
    neighbor at m (collapses long tails toward minima without ever
    disturbing smaller nodes); small-star re-points u and its ≤-neighbors
    at m (flattens the local minima into stars). Emissions REPLACE the
    edge set, nothing is kept; both only emit larger → smaller edges.

    Small-star also flags each emitted edge ``ok`` when its emitter u is
    settled: a root (m = u) or a leaf with one neighbor. The degree
    counts rows, so a duplicate edge only delays the flag, never fakes
    it. m and the degree are window aggregates over u's rows, so each
    contraction is one exchange on src, not an aggregate plus a join."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    hood = Window.partitionBy("src")
    nbrs = sym.select(
        "src",
        "dst",
        F.least(F.min("dst").over(hood), F.col("src")).alias("m"),
        F.count(F.lit(1)).over(hood).alias("deg"),
    )
    if large:
        return nbrs.filter(F.col("dst") > F.col("src")).select(
            F.col("dst").alias("src"), F.col("m").alias("dst")
        )
    ok = ((F.col("m") == F.col("src")) | (F.col("deg") == 1)).alias("ok")
    return (
        nbrs.filter(F.col("dst") <= F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"), ok)
        .union(nbrs.select("src", F.col("m").alias("dst"), ok))
        .filter(F.col("src") != F.col("dst"))
    )


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star then small-star round → (src, dst, ok), one row per
    distinct edge, ``ok`` false where any emitter of the edge is
    unsettled. When every node is settled, large-star's output is
    already a star forest rooted at each component's minimum and
    small-star returns it unchanged — the fixpoint, decided by the
    round itself. Alternating the two contractions converges in
    O(log n) rounds — Kiveris et al., "Connected Components in
    MapReduce and Beyond" (SOCC'14) — against the O(diameter) of plain
    min-label propagation."""
    small = _star(_star(edges, large=True), large=False)
    return small.groupBy("src", "dst").agg(F.min("ok").alias("ok"))


def star_components(nodes: DataFrame, pairs: DataFrame) -> tuple[DataFrame, int]:
    """Connected components by alternating large-star/small-star:
    (doc_id) nodes + undirected (doc_a, doc_b) pairs → (doc_id,
    component = min reachable doc_id). Returns (labels, rounds).

    Duplicate pairs and self-pairs are harmless. The input edges are
    checkpointed once (the symmetrizing union reads them twice); each
    round is checkpointed so lineage stays flat, and one limit-1 probe
    for an unsettled edge on that checkpoint decides convergence."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).localCheckpoint()
    for rounds in range(1, _MAX_CC_ITERS + 1):
        stepped = _star_round(edges).localCheckpoint()
        edges = stepped.select("src", "dst")
        if stepped.filter(~F.col("ok")).isEmpty():
            break
    else:
        raise RuntimeError(
            f"star contraction still moving after {_MAX_CC_ITERS} rounds"
        )
    # Settled edges form a star forest: each non-root node has exactly
    # one edge, to its component's root; a node without one is a root.
    roots = edges.select(F.col("src").alias("doc_id"), F.col("dst").alias("root"))
    labels = nodes.join(roots, "doc_id", "left").select(
        "doc_id", F.coalesce("root", "doc_id").alias("component")
    )
    return labels, rounds


#: portable MinHash: signature length and banding for the LSH twin
MINHASH_K = 16

#: portable MinHash minima in long form, ``hx`` = (doc_id, sig_idx,
#: minhash) over ``sh`` — the oracle of ``_minhash_wide``
_HX_CTE = f"""hx AS (
      SELECT doc_id, CAST(g.i AS BIGINT) AS sig_idx,
             MIN(CAST(('0x' || substr(md5(CAST(g.i AS VARCHAR) || '#' || shingle),
                                      1, 15)) AS BIGINT)) AS minhash
      FROM sh, UNNEST(generate_series(0, {MINHASH_K - 1})) AS g(i)
      GROUP BY doc_id, g.i
    )"""

_MINHASH_HX_CTE = f"{_SHINGLE_CTES}, {_HX_CTE}"


@query(
    "x2_minhash_portable",
    oracle=f"""
    WITH {_MINHASH_HX_CTE}
    SELECT doc_id, sig_idx, minhash FROM hx
    """,
)
def x2_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with PORTABLE hash permutations — the
    oracle-backed twin of ``x2_minhash_lsh``: permutation ``i`` hashes a
    shingle as the md5-prefix int of ``"{{i}}#{{shingle}}"``, the
    signature is the per-permutation minimum, emitted in scalar long form
    ``(doc_id, sig_idx, minhash)``. Value-checked end-to-end against
    DuckDB, so the MinHash rung of the dedup ladder is no longer
    rows-only-by-nature — only the pyspark.ml hash family is.

    Plan: one narrow scan computes all {MINHASH_K} mins map-side (gram
    arrays never explode through a shuffle — the groupBy carries one row
    per doc with K running minima), then a single stack() to long form."""
    mins = _minhash_wide(fan_out(load_table(spark, sf_dir, "documents")))
    stack_expr = "stack({}, {}) as (sig_idx, minhash)".format(
        MINHASH_K, ", ".join(f"{i}L, h{i}" for i in range(MINHASH_K))
    )
    return mins.selectExpr("doc_id", stack_expr)


def _minhash_wide(doc: DataFrame) -> DataFrame:
    """(doc_id, h0..h{K-1}) portable MinHash minima — one narrow scan,
    all K mins computed map-side; shared by the signature rung and every
    banded rung."""
    sh = shingle_arrays(doc, 3).select(
        "doc_id", F.explode("grams").alias("s")
    )
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{i}#"), F.col("s"))), 1, 15),
                    16,
                    10,
                ).cast("long")
            ).alias(f"h{i}")
            for i in range(MINHASH_K)
        ]
    )


#: banding for the portable LSH: MINHASH_K/MINHASH_BAND_ROWS bands
MINHASH_BAND_ROWS = 4


def _band_keys(mins: DataFrame, r: int) -> DataFrame:
    """(doc_id, band, band_key) from ``_minhash_wide`` minima at ``r``
    rows per band: MINHASH_K // r bands, each keyed by the md5 of its
    comma-joined minima — a projection plus one stack(), no shuffle."""
    nb = MINHASH_K // r
    keys = [
        F.md5(
            F.concat_ws(
                ",", *[F.col(f"h{b * r + j}").cast("string") for j in range(r)]
            )
        ).alias(f"bk{b}")
        for b in range(nb)
    ]
    return mins.select("doc_id", *keys).selectExpr(
        "doc_id",
        "stack({}, {}) as (band, band_key)".format(
            nb, ", ".join(f"{b}L, bk{b}" for b in range(nb))
        ),
    )


def _bands_sql(name: str, r: int) -> str:
    """The DuckDB twin of ``_band_keys``: CTE ``name`` = (doc_id, band,
    band_key) over ``hx`` at ``r`` rows per band."""
    return f"""{name} AS (
      SELECT doc_id, sig_idx // {r} AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY sig_idx))
               AS band_key
      FROM hx GROUP BY doc_id, sig_idx // {r}
    )"""


@query(
    "x2_minhash_lsh_portable",
    oracle=f"""
    WITH {_MINHASH_HX_CTE}, {_bands_sql("bands", MINHASH_BAND_ROWS)}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    """,
)
def x2_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full sub-quadratic LSH candidate pipeline, oracle-exact:
    portable MinHash signature → {MINHASH_K // MINHASH_BAND_ROWS} bands of
    {MINHASH_BAND_ROWS} rows → md5 band key → bucket equi-join →
    DISTINCT candidate pairs. This is the SCALE path of the dedup ladder
    (candidates ∝ true collisions, never |docs|²) with every stage
    value-checked against DuckDB — the pyspark.ml ``x2_minhash_lsh`` form
    keeps its engine-native hash family as the rows-only perf variant.

    Plan: signatures compute map-side (one groupBy carrying one row per
    doc), banding is a projection, and the only data-sized shuffle is the
    band-key equi-join — the same exchange shape as x2_ngram_jaccard's
    gram join but on {MINHASH_K // MINHASH_BAND_ROWS} keys per doc
    instead of one per shingle."""
    doc = fan_out(load_table(spark, sf_dir, "documents"))
    bands = _band_keys(_minhash_wide(doc), MINHASH_BAND_ROWS)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_band_keys(doc: DataFrame) -> DataFrame:
    """(doc_id, n_chars, band, band_key): the portable banded-LSH key set
    of each bandable doc (≥ 3 words — shorter docs have no shingles, no
    signature, no keys), exactly the keys ``x2_minhash_lsh_portable``
    joins on, so the streaming frontier twin
    (streaming/jobs.streaming_minhash_dedup) incrementalizes them. One
    narrow scan: all {K} minima compute map-side, banding is a
    projection; ``n_chars`` joins back on doc_id (co-partitioned with the
    signature groupBy output)."""
    return _band_keys(_minhash_wide(doc), MINHASH_BAND_ROWS).join(
        doc.select("doc_id", F.length("text").cast("long").alias("n_chars")),
        "doc_id",
    )


@query("x2_minhash_lsh")
def x2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH candidate pairs (pyspark.ml): shingle → sparse vector →
    minhash sketch → banded bucket join. Sub-quadratic: candidates are
    generated by the bucket join, the exact Jaccard distance is only
    computed per candidate. No oracle on the RAW pairs — the candidate
    set and distances depend on Spark's minhash family and HashingTF's
    murmur3 bucketing, not only on the data, so no portable SQL can
    reproduce them. The op's RECALL contract is oracle-checked by
    ``x2_minhash_lsh_recall``."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    doc = fan_out(load_table(spark, sf_dir, "documents"))
    # grams arrive already as per-doc arrays — no explode + re-collect
    sh = shingle_arrays(doc, 3).withColumnRenamed("grams", "sh")
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(sh)
    # MinHashLSH requires at least one non-zero entry
    feats = feats.filter(F.size("sh") > 0)
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=5, seed=42
    )
    model = mh.fit(feats)
    pairs = model.approxSimilarityJoin(
        feats, feats, threshold=0.9, distCol="jaccard_dist"
    )
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


#: strong-pair threshold and recall floor for the LSH band oracle. With
#: 5 OR-ed hash tables, a pair at Jaccard s is a candidate with
#: probability 1−(1−s)⁵ ≥ 0.969 for s ≥ 0.5, so observed recall over the
#: strong pairs sits near 1; the 0.6 floor is a regression trap (broken
#: sketch, wrong column, empty join), not a statistical test.
STRONG_JACCARD = 0.5
LSH_RECALL_FLOOR = 0.6


@query(
    "x2_minhash_lsh_recall",
    oracle=f"""
    WITH {_JACCARD_CTES}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strong_pairs,
           TRUE AS lsh_recall_ok
    FROM dup_pairs WHERE jaccard >= {STRONG_JACCARD}
    """,
)
def x2_minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band oracle for MinHash LSH: runs the
    engine-specific sketch join and value-checks its contract — the
    candidate set must capture ≥ LSH_RECALL_FLOOR of the TRUE strong
    pairs (exact raw-shingle Jaccard ≥ STRONG_JACCARD, whose count
    DuckDB recomputes exactly). The exact strong-pair count rides along
    so the row is a real value check, not a bare boolean. The exact
    strong-set build is the uncapped Σ df² pair join
    (``_strong_pairs`` over ``_uncapped_pairs``), so it routes through
    ``_gate_uncapped`` like every other uncapped rung: past
    MAX_UNCAPPED_DOCS a recall audit runs on a bounded deterministic
    sample instead."""
    doc = _gate_uncapped(
        fan_out(load_table(spark, sf_dir, "documents")),
        "x2_minhash_lsh_recall",
        sf_dir,
        alt="a bounded deterministic sample (e.g. pmod(xxhash64(doc_id),"
        " k) = 0) — recall estimates need only a sample of strong pairs",
    )
    strong = _strong_pairs(_uncapped_pairs(doc))
    cands = x2_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    captured = strong.join(cands, ["doc_a", "doc_b"], "left_semi")
    n_strong = strong.agg(F.count(F.lit(1)).alias("n_strong_pairs"))
    n_cap = captured.agg(F.count(F.lit(1)).alias("n_captured"))
    return n_strong.crossJoin(n_cap).select(
        "n_strong_pairs",
        (
            (F.col("n_strong_pairs") == 0)
            | (F.col("n_captured") >= LSH_RECALL_FLOOR * F.col("n_strong_pairs"))
        ).alias("lsh_recall_ok"),
    )


def _token_hashes(doc: DataFrame) -> DataFrame:
    """(doc_id, array<long> of per-distinct-token xxhash64) — hashing stays
    JVM-side inside a transform() over the token array; no explode."""
    return doc.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.transform(
            F.array_distinct(words()), lambda w: F.xxhash64(w)
        ).alias("hs"),
    )


def _simhash_kernel(hs_series):
    """Arrow-batched signature kernel: per doc, 64 bit-votes over the
    token-hash array, sign → signature. uint64 accumulation viewed back
    as int64 so bit 63 matches Java's signed shiftleft(1L, 63)."""
    import numpy as np
    import pandas as pd

    bits = np.arange(64, dtype=np.int64)
    out = np.empty(len(hs_series), dtype=np.int64)
    for i, hs in enumerate(hs_series):
        if hs is None:  # null text upstream of the filter — degrade, don't crash
            out[i] = 0
            continue
        h = np.asarray(hs, dtype=np.int64)
        if h.size == 0:
            out[i] = 0
            continue
        votes = (((h[:, None] >> bits[None, :]) & 1) * 2 - 1).sum(axis=0)
        sig = int(np.packbits(votes > 0, bitorder="little").view(np.uint64)[0])
        out[i] = sig - (1 << 64) if sig >= (1 << 63) else sig
    return pd.Series(out)


@query("x2_simhash")
def x2_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures: per-token xxhash64 (JVM-side, inside a
    transform() over the distinct-token array), then the 64 bit-votes and
    sign computed per doc in one Arrow-batched pandas UDF. Rows-only
    (hash engine-specific — no portable SQL reproduces xxhash64 values);
    tests cross-check against the pure-SQL form, and the kernel's
    determinism/count contract is oracle-checked by
    ``x2_simhash_invariants``.

    Plan shape: a single narrow scan→project — ZERO shuffles. The
    previous SQL form (kept as ``simhash_sql_form`` for the cross-check)
    exploded tokens × 64 bits, inflating shuffle volume 64× per token;
    the kernel computes the same signature without moving a row.
    Measured best-of-3 at sf0.1 on local[32]: 0.60 s vs 0.90 s for the
    SQL form — and the gap is structural (the SQL form's two
    hash-exchanges carry tokens×64 rows, growing with corpus size; the
    kernel's cost is the scan itself)."""
    doc = load_table(spark, sf_dir, "documents")
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import LongType

    sig = pandas_udf(_simhash_kernel, LongType())
    return _token_hashes(fan_out(doc)).select(
        "doc_id", sig("hs").alias("simhash")
    )


@query(
    "x2_simhash_invariants",
    oracle="""
    SELECT COUNT(*) AS n_docs,
           COUNT(DISTINCT text) AS n_distinct_texts,
           TRUE AS sig_function_of_text
    FROM documents WHERE text IS NOT NULL
    """,
)
def x2_simhash_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band oracle for the SimHash kernel (VERDICT r5 ask #6): runs the
    engine-specific signature computation and value-checks its contract —
    one signature per non-null document (count checked exactly against
    DuckDB) and the signature is a pure FUNCTION of the text (identical
    texts never produce different signatures — catches nondeterminism
    regressions such as unordered set iteration in the kernel). The raw
    signatures stay rows-only by nature (xxhash64 values); their bit
    semantics are separately value-checked via the portable twin
    ``x2_simhash_portable``."""
    doc = load_table(spark, sf_dir, "documents")
    sigs = x2_simhash(spark, sf_dir)
    per_text = (
        sigs.join(doc.select("doc_id", "text"), "doc_id")
        .groupBy("text")
        .agg(F.countDistinct("simhash").alias("nsig"))
    )
    n_docs = sigs.agg(F.count(F.lit(1)).alias("n_docs"))
    t = per_text.agg(
        F.count(F.lit(1)).alias("n_distinct_texts"),
        F.max("nsig").alias("mx"),
    )
    return n_docs.crossJoin(t).select(
        "n_docs",
        "n_distinct_texts",
        (F.col("mx") == 1).alias("sig_function_of_text"),
    )


def simhash_sql_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The all-SQL SimHash (explode tokens × explode 64 bits → two
    partial-agg shuffles). Same signatures as the kernel — kept as the
    oracle-free cross-check and as documentation of the semantics."""
    doc = load_table(spark, sf_dir, "documents")
    tok = doc.select(
        "doc_id", F.explode(F.array_distinct(words())).alias("w")
    ).withColumn("h", F.xxhash64("w"))
    votes = (
        tok.select("doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"))
        .groupBy("doc_id", "bit")
        .agg(F.sum(F.expr("(shiftright(h, bit) & 1) * 2 - 1")).alias("vote"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.expr("CASE WHEN vote > 0 THEN shiftleft(1L, bit) ELSE 0L END")
        ).alias("simhash")
    )


@query(
    "x2_simhash_portable",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, w
      FROM documents, UNNEST(string_split(text, ' ')) AS t(w)
    ), h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS h
      FROM tok
    ), votes AS (
      SELECT doc_id, b.b AS bit,
             CAST(SUM(((h >> CAST(b.b AS INTEGER)) & 1) * 2 - 1) AS BIGINT)
               AS vote
      FROM h, UNNEST(generate_series(0, 59)) AS b(b)
      GROUP BY doc_id, b.b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0
                    THEN (CAST(1 AS BIGINT) << CAST(bit AS INTEGER))
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def x2_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash with PORTABLE token hashes (md5-prefix ints, the
    x4_rolling_fingerprint convention) — the oracle-backed twin of
    ``x2_simhash``: identical bit-vote semantics, value-checked
    end-to-end against DuckDB, proving the signature pipeline is
    hash-family-agnostic. The xxhash64 Arrow-kernel form stays the perf
    path (zero shuffles); this twin pays the explode's two partial-agg
    shuffles in exchange for cross-engine verifiability — use it when an
    audit needs signatures recomputable outside the JVM."""
    doc = load_table(spark, sf_dir, "documents")
    tok = doc.select(
        "doc_id", F.explode(F.array_distinct(words())).alias("w")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    votes = (
        tok.select(
            "doc_id", "h", F.explode(F.sequence(F.lit(0), F.lit(59))).alias("bit")
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum(F.expr("(shiftright(h, bit) & 1) * 2 - 1")).alias("vote"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.expr("CASE WHEN vote > 0 THEN shiftleft(1L, bit) ELSE 0L END")
        ).alias("simhash")
    )


# ----------------------------------------------------------------------
# TF-IDF cosine near-dup — the weighted rung of the dedup ladder
# ----------------------------------------------------------------------
#: document-frequency ceiling for TF-IDF terms: terms above it are
#: dropped before the pair join. Dual purpose: (a) pair work stays
#: ≤ |docs|·cap like the capped Jaccard rung; (b) near-ubiquitous terms
#: carry the least idf weight anyway, so the semantic loss is the
#: smallest available for the join work saved.
TFIDF_DF_CAP = 50

#: cosine threshold for emitting a near-dup pair
TFIDF_MIN_COS = 0.35

#: multiplicative slack on the prefix-filter bound: the suffix-norm
#: comparison runs in doubles, so the bound is tested against
#: (t·(1−ε))² — ε overwhelms IEEE accumulation error by ~9 orders of
#: magnitude, keeping the filter strictly conservative (it may admit a
#: few extra candidates, never drop a true pair).
TFIDF_PREFIX_EPS = 1e-6

#: one oracle for both TF-IDF rungs: the prefix filter is a candidate
#: PRUNING strategy with exact verification, so its answer is defined
#: to be identical to the exhaustive rung's.
_TFIDF_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), tf AS (
      SELECT doc_id,
             words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS term,
             COUNT(*) AS tf
      FROM w, UNNEST(generate_series(1, len(words) - 2)) AS t(i)
      GROUP BY doc_id, term
    ), n_docs AS (
      SELECT COUNT(*) AS nd FROM w
    ), stats AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
      HAVING COUNT(*) <= {TFIDF_DF_CAP}
    ), weighted AS (
      SELECT doc_id, term,
             CAST(FLOOR(tf * LN(CAST(nd AS DOUBLE) / df) * 1000000)
                  AS DECIMAL(18,0)) AS wq
      FROM tf JOIN stats USING (term) CROSS JOIN n_docs
    ), norms AS (
      SELECT doc_id, SUM(wq * wq) AS norm_sq
      FROM weighted GROUP BY doc_id
    ), dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             SUM(a.wq * b.wq) AS dot
      FROM weighted a JOIN weighted b
        ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(dot AS DOUBLE)
             / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE)),
             6) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    WHERE CAST(dot AS DOUBLE)
      / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE))
      >= {TFIDF_MIN_COS}
    """


def _tfidf_weighted(spark: SparkSession, sf_dir: str):
    """Shared df-capped TF-IDF subtree for both cosine rungs: returns
    (weighted, norms) where weighted = (doc_id, h=xxhash64(term),
    wq DECIMAL(18,0)) localCheckpointed (read ≥3x by every consumer —
    see the reuse note on x2_tfidf_cosine) and norms =
    (doc_id, norm_sq DECIMAL). Weights floor-quantize to integer
    1e-6 units at creation (VERDICT r13 ask #3 — tf·ln(nd/df) is a
    derived double, so it never casts to decimal; |wt|·1e6 < 2^53
    holds for any tf·idf this corpus shape can produce), making every
    downstream norm/dot an EXACT integer-decimal product sum.

    Round-15 restructure (guide §1.2/§2.3): the term table aggregates
    by ``xxhash64(term)`` at the source — 8-byte keys through the tf
    exchange, the df aggregate AND the stats join, instead of ~25-byte
    trigram strings — and localCheckpoints, so the doc-count job (nd =
    distinct doc_id over tf: any ≥3-word doc has ≥1 trigram) no longer
    pays its own full corpus scan+split. Collision caveat UNCHANGED in
    kind from the pair join that always keyed on h (a 64-bit collision
    already produced false dot terms; now it would also merge the
    colliding grams' tf/df) — P(any collision) ≈ D²/2⁶⁵, the
    x2_ngram_jaccard bound; use a 128-bit fingerprint at
    trillion-shingle scale."""
    doc = fan_out(load_table(spark, sf_dir, "documents"))
    arrays = doc.select("doc_id", words().alias("words")).filter(
        F.size("words") >= 3
    )
    from pyspark.ml.feature import NGram

    grams = NGram(n=3, inputCol="words", outputCol="raw_grams").transform(
        arrays
    )
    tf = (
        grams.select("doc_id", F.explode("raw_grams").alias("term"))
        .groupBy("doc_id", F.xxhash64("term").alias("h"))
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    nd = tf.select("doc_id").distinct().count()  # bounded job over tf
    stats = (
        tf.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= TFIDF_DF_CAP)
    )
    weighted = tf.join(stats, "h").select(
        "doc_id",
        "h",
        F.floor(
            F.col("tf") * F.log(F.lit(float(nd)) / F.col("df")) * F.lit(1e6)
        )
        .cast("decimal(18,0)")
        .alias("wq"),
    ).localCheckpoint(eager=True)
    norms = weighted.groupBy("doc_id").agg(
        F.sum(F.col("wq") * F.col("wq")).alias("norm_sq")
    )
    return weighted, norms


def _tfidf_emit(dots: DataFrame, norms: DataFrame) -> DataFrame:
    """Shared emit boundary: join per-doc norms onto decimal-exact pair
    dots, one double division + sqrt, threshold, round — byte-identical
    across rungs so they can share one oracle."""
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("norm_sq").alias("nsq_a")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("norm_sq").alias("nsq_b")
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("nsq_a").cast("double") * F.col("nsq_b").cast("double")
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cos >= TFIDF_MIN_COS)
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine"))
    )


@query("x2_tfidf_cosine", oracle=_TFIDF_ORACLE)
def x2_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF-weighted cosine near-dup pairs — the weighted rung between
    set-overlap Jaccard (every shared shingle counts 1) and embedding
    cosine (needs a model): shared RARE shingles dominate the score, so
    boilerplate overlap stops producing false near-dups.

    Same inverted-index shape as ``x2_ngram_jaccard`` — only documents
    sharing a surviving term ever meet — with the df ceiling doing
    double duty: pair work bounded at |docs|·cap (the posting-list-skew
    guard) while dropping exactly the terms idf already weights lowest.
    Determinism across engines: idf/weight products are IEEE-identical
    doubles floor-quantized to integer 1e-6 units at creation (the
    microunit discipline, VERDICT r13 ask #3), so the order-sensitive
    parts (dot products, norms) are EXACT integer-decimal product sums
    — order-independent by arithmetic — with one double division +
    sqrt at the emit boundary. df/tf are counted over RAW shingle strings; only the
    pair join keys on ``xxhash64`` (the collision caveat documented on
    x2_ngram_jaccard applies to the join only, never the weights)."""
    # No uncapped-rung gate here: unlike x2_ngram_jaccard, the df
    # ceiling below structurally bounds pair work at |docs|·cap, so the
    # op stays linear in the corpus at any scale (the gate's error text
    # would also misdirect to the Jaccard rungs).
    #
    # weighted is localCheckpointed inside _tfidf_weighted — read 3x
    # here (norms + both pair-join sides); without reuse the
    # explode→tf-groupBy→stats-join subtree re-runs per consumer
    # (benched ~4.9 s → ~3 s warm at sf0.1). localCheckpoint instead of
    # cache() (ADVICE/VERDICT r6 #4): the materialized table is freed by
    # ContextCleaner when the caller drops the result DataFrame, instead
    # of pinning one MEMORY_AND_DISK entry per sf_dir for the session.
    # Cluster caveat: executor loss loses checkpoint partitions; a
    # long-lived job swaps in checkpoint() with a reliable dir.
    weighted, norms = _tfidf_weighted(spark, sf_dir)
    return _tfidf_emit(_tfidf_dots(weighted), norms)


def _tfidf_sides(weighted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two sides of a pair join over the weighted postings:
    ``(doc_a, h, wa)`` and ``(doc_b, h, wb)``."""
    a = weighted.select(
        F.col("doc_id").alias("doc_a"), "h", F.col("wq").alias("wa")
    )
    b = weighted.select(
        F.col("doc_id").alias("doc_b"), "h", F.col("wq").alias("wb")
    )
    return a, b


def _tfidf_dots(weighted: DataFrame) -> DataFrame:
    """The exhaustive co-term pair join: the decimal-exact dot of every
    doc pair (doc_a < doc_b) sharing a surviving term."""
    a, b = _tfidf_sides(weighted)
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )


#: adaptive switch for the prefix rung: if the suffix-norm filter keeps
#: MORE than this fraction of postings, candidate generation can't pay
#: for the extra distinct + re-score join and the exhaustive single-pass
#: join is the better plan (measured crossover well above 0.5 on this
#: corpus — the filter keeps 87% at t=0.35 and the rung ran 3× slower;
#: BENCH_PREFIX_AB.json).
TFIDF_PREFIX_SELECTIVITY_MAX = 0.5

#: probe sample: selectivity is estimated on docs whose
#: xxhash64(doc_id) falls in 1/PREFIX_PROBE_MOD of hash space (~2% of
#: the corpus) — deterministic, and the window that prices the filter
#: runs over ~2% of postings instead of all of them, so the probe
#: costs ~nothing on the fallback corpora where its answer is "don't".
PREFIX_PROBE_MOD = 50


def _tfidf_rem_sq(weighted: DataFrame, norms: DataFrame) -> DataFrame:
    """Per-posting suffix-norm² for the Bayardo prefix index: per doc,
    unit-normalize weights, sort descending, and carry the suffix
    norm² INCLUDING the row (1 − (cum − u²)). Any input subset of docs
    yields exactly that subset's rows (the window is per-doc), which
    is what lets the selectivity probe run on a sample."""
    unit = weighted.join(norms, "doc_id").select(
        "doc_id",
        "h",
        (
            F.col("wq").cast("double")
            / F.sqrt(F.col("norm_sq").cast("double"))
        ).alias("u"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("u").desc(), "h")
    cum = F.sum(F.col("u") * F.col("u")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return unit.withColumn(
        "rem_sq", F.lit(1.0) - (cum - F.col("u") * F.col("u"))
    )


#: slackened squared threshold the suffix norm² is tested against
_PREFIX_BOUND = (TFIDF_MIN_COS * (1.0 - TFIDF_PREFIX_EPS)) ** 2


def _tfidf_prefix_postings(weighted: DataFrame, norms: DataFrame) -> DataFrame:
    """The prefix index itself: rows whose suffix norm² still reaches
    the (slackened) threshold² — indexing only these is lossless (see
    the rung docstring)."""
    return (
        _tfidf_rem_sq(weighted, norms)
        .filter(F.col("rem_sq") >= F.lit(_PREFIX_BOUND))
        .select(F.col("doc_id").alias("doc_a"), "h")
    )


def _tfidf_prefix_dots(
    spark: SparkSession,
    weighted: DataFrame,
    norms: DataFrame,
    force_prefix: bool = False,
) -> DataFrame:
    """Candidate generation + exact re-score for the prefix rung, with
    the ADAPTIVE fallback: the filter's selectivity is measured on a
    deterministic ~2% doc-hash sample of the postings (the prefix
    window is per-doc, so a doc sample's kept fraction is an unbiased
    estimate of the corpus's), and if the prefix would keep
    > TFIDF_PREFIX_SELECTIVITY_MAX of them the exhaustive co-term join
    runs instead (identical answer either way — both paths are exact,
    so the sample only steers plan CHOICE, never the result; the
    engine's own CBO pattern). Probing on the sample instead of the
    full corpus is what makes the fallback free: the earlier
    full-corpus probe cost ~1 s at sf0.1 — the whole prefix window
    built and discarded — putting the adaptive rung ~25% over the base
    it fell back to (BENCH_PREFIX_AB.json).
    ``force_prefix`` exists for tools/prefix_ab.py to measure the
    filtered path even where the cost rule rejects it."""
    if not force_prefix:
        sample = weighted.filter(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(PREFIX_PROBE_MOD))
            == 0
        )
        probe = (
            _tfidf_rem_sq(sample, norms)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count_if(
                    F.col("rem_sq") >= F.lit(_PREFIX_BOUND)
                ).alias("kept"),
            )
            .first()
        )
        if probe["n"] == 0:
            # corpus too small for the sample — probe the whole thing
            # (cheap exactly when this branch triggers)
            probe = (
                _tfidf_rem_sq(weighted, norms)
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count_if(
                        F.col("rem_sq") >= F.lit(_PREFIX_BOUND)
                    ).alias("kept"),
                )
                .first()
            )
        keep_frac = probe["kept"] / max(probe["n"], 1)
        if keep_frac > TFIDF_PREFIX_SELECTIVITY_MAX:
            return _tfidf_dots(weighted)
    pref = _tfidf_prefix_postings(weighted, norms)
    cand = (
        pref.join(weighted.select(F.col("doc_id").alias("doc_b"), "h"), "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    fa, fb = _tfidf_sides(weighted)
    return (
        cand.join(fa, "doc_a")
        .join(fb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )


@query("x2_tfidf_cosine_prefix", oracle=_TFIDF_ORACLE)
def x2_tfidf_cosine_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayardo/Chaudhuri prefix-filtered TF-IDF cosine (All-Pairs,
    WWW'07; SSJoin, ICDE'06 — public algorithms), with an ADAPTIVE
    cost rule: identical answer to ``x2_tfidf_cosine`` (same oracle),
    candidate pairs from joining each doc's PREFIX postings against
    the corpus instead of full×full — but only when the filter
    actually prunes. With unit-normalized weights sorted descending,
    once the remaining suffix norm of doc *x* falls below the
    threshold *t*, no pair whose shared terms all lie in that suffix
    can reach cos ≥ t (dot ≤ ‖x_suffix‖·‖y‖ < t) — so indexing only
    rows where the suffix norm starting there is ≥ t·(1−ε) is
    lossless, one-sidedly, for ANY per-doc order: every qualifying
    pair shares a term inside each member's prefix. Survivors are
    re-scored EXACTLY (decimal dot over raw weights, the shared emit
    boundary), so float error in the filter can only admit extra
    candidates, never change the answer.

    MEASURED VERDICT (BENCH_PREFIX_AB.json, sf0.1 interleaved A/B):
    on THIS corpus the forced-prefix path LOSES to the exhaustive
    join (median ~11 s vs ~3.4 s) at every threshold 0.35–0.9,
    structurally: docs share capped terms so densely that candidate
    pairs ≈ co-term pairs (913k candidates for a 256-pair answer at
    t=0.35; still 114k at t=0.9), so the filter prunes <25% of join
    rows while the candidate-distinct and re-score join add strictly
    more. Hence the adaptive rule: the rung measures the filter's
    selectivity with ONE aggregate over a deterministic ~2% doc-hash
    sample of the materialized postings (the prefix window is per-doc,
    so the sample's kept fraction estimates the corpus's; both paths
    are exact, so the sample steers only plan choice) and falls back
    to the exhaustive plan past TFIDF_PREFIX_SELECTIVITY_MAX — the
    prefix path engages exactly on the corpora it was invented for
    (high threshold, sparse-candidate, long skewed posting lists),
    which is when a CBO would pick it. The sampled probe is what makes
    the fallback ~free: the full-corpus probe it replaces built and
    discarded the whole prefix window (~1 s at sf0.1, ~25% over the
    base rung it then fell back to)."""
    weighted, norms = _tfidf_weighted(spark, sf_dir)
    return _tfidf_emit(_tfidf_prefix_dots(spark, weighted, norms), norms)


@query(
    "x2_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_COMPONENT_CTES},
    best AS (
      SELECT component, doc_id AS keeper FROM (
        SELECT c.component, c.doc_id,
               ROW_NUMBER() OVER (PARTITION BY c.component
                                  ORDER BY d.n_chars DESC, c.doc_id) AS rn
        FROM comp c JOIN documents d USING (doc_id)
      ) WHERE rn = 1
    )
    SELECT c.doc_id, c.component, d.n_chars AS quality,
           c.doc_id = b.keeper AS keep
    FROM comp c
    JOIN documents d USING (doc_id)
    JOIN best b ON b.component = c.component
    """,
)
def x2_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keeper POLICY rung of the dedup ladder: within each near-dup
    component, keep the highest-quality copy (here n_chars as the
    quality signal — in production the x4 quality score — ties toward
    the smaller doc_id), not the arbitrary min-id canonical. One
    ``max_by`` over (quality, -doc_id) per component on top of the
    propagated labels — the decision a real pipeline makes when near
    -dups differ in truncation or boilerplate, where keep-the-first
    silently keeps the worst copy."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    quality = _dup_labels(spark, sf_dir).join(doc, "doc_id").select(
        "doc_id", "component", F.col("n_chars").alias("quality")
    )
    best = quality.groupBy("component").agg(
        F.max_by(
            "doc_id",
            F.struct(F.col("quality"), (-F.col("doc_id")).alias("neg")),
        ).alias("keeper")
    )
    return quality.join(best, "component").select(
        "doc_id",
        "component",
        "quality",
        (F.col("doc_id") == F.col("keeper")).alias("keep"),
    )


# ----------------------------------------------------------------------
# Cross-document line-level dedup (C4 / RefinedWeb style)
# ----------------------------------------------------------------------
#: words per "line" — the corpus has no newlines, so fixed 10-word
#: spans play the role of C4's newline-delimited lines
LINE_WORDS = 10

#: shared oracle CTE: documents -> one row per (doc_id, line_idx, line)
#: — the single source for BOTH line-dedup oracles, so the span rule
#: can never desynchronize between them (mirror of _BIGRAM_LP_ORACLE)
_LINE_CTE = f"""
    w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), l AS (
      SELECT doc_id,
             CAST((start - 1) / {LINE_WORDS} AS BIGINT) AS line_idx,
             array_to_string(words[start:start + {LINE_WORDS - 1}], ' ')
               AS line
      FROM (SELECT doc_id, words,
                   UNNEST(generate_series(1, len(words), {LINE_WORDS}))
                     AS start
            FROM w)
    )"""


def doc_lines(doc: DataFrame) -> DataFrame:
    """documents -> (doc_id, line_idx, line): the Spark twin of
    ``_LINE_CTE``, shared by both line-dedup operators."""
    return doc.select("doc_id", words().alias("words")).select(
        "doc_id",
        "words",
        F.explode(
            F.sequence(F.lit(1), F.size("words"), F.lit(LINE_WORDS))
        ).alias("start"),
    ).select(
        "doc_id",
        F.expr(f"CAST((start - 1) DIV {LINE_WORDS} AS BIGINT)").alias(
            "line_idx"
        ),
        F.concat_ws(
            " ", F.slice("words", F.col("start"), LINE_WORDS)
        ).alias("line"),
    )


@query(
    "x1_line_dedup",
    oracle=f"""
    WITH {_LINE_CTE}, k AS (
      SELECT doc_id, line_idx, line,
             ROW_NUMBER() OVER (
               PARTITION BY line ORDER BY doc_id, line_idx) AS rn
      FROM l
    )
    SELECT doc_id, COUNT(*) AS n_kept,
           string_agg(line, ' ' ORDER BY line_idx) AS clean_text
    FROM k WHERE rn = 1 GROUP BY doc_id
    """,
)
def x1_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document LINE dedup: split every document into
    lines (fixed ``LINE_WORDS``-word spans here — the corpus has no
    newlines), drop every line whose exact text appears earlier in the
    corpus (first occurrence by (doc_id, line_idx) wins, all later
    copies are removed CORPUS-WIDE, not just within a document), then
    reassemble each document from its surviving lines in order. This is
    the boilerplate-removal rung below document-level dedup: nav bars,
    licence headers, and templated spans vanish while the documents
    carrying them survive.

    Scale shape: one shuffle keyed on the line text for the
    first-occurrence window (line texts are near-uniform hash keys; the
    skew case — a line repeated millions of times — is exactly the case
    the operator exists to delete, and each such group costs one
    row_number pass, no pair joins), then one shuffle back on doc_id to
    reassemble. Docs whose every line is a duplicate drop out of the
    output on both engines (C4 drops empty docs too)."""
    lines = doc_lines(load_table(spark, sf_dir, "documents"))
    first = Window.partitionBy("line").orderBy("doc_id", "line_idx")
    kept = (
        lines.withColumn("rn", F.row_number().over(first))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_idx", "line"))),
                lambda x: x["line"],
            ),
            " ",
        ).alias("clean_text"),
    )


@query(
    "x1_intradoc_line_dedup",
    oracle=f"""
    WITH {_LINE_CTE}, k AS (
      SELECT doc_id, line_idx, line,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id, line ORDER BY line_idx) AS rn
      FROM l
    )
    SELECT doc_id,
           COUNT(*) FILTER (WHERE rn = 1) AS n_kept,
           COUNT(*) FILTER (WHERE rn > 1) AS n_dropped,
           string_agg(line, ' ' ORDER BY line_idx)
             FILTER (WHERE rn = 1) AS clean_text
    FROM k GROUP BY doc_id
    """,
)
def x1_intradoc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-line removal (Dolma/Gopher's
    paragraph-dedup rule): a line that already appeared earlier in the
    SAME document is dropped, first occurrence kept — the
    self-plagiarism / template-loop cleaner, complementary to
    ``x1_line_dedup`` (which dedups lines across the corpus). Every
    document also reports how many lines it lost, the signal the
    repetition-quality rules threshold on.

    Scale shape: the first-occurrence window partitions by
    (doc_id, line) and the reassembly groups by doc_id — both shuffles
    are keyed by doc_id-prefixed keys, so with one repartition by
    doc_id the whole op is a single exchange followed by two local
    window/agg passes; no corpus-wide key ever forms (unlike the
    cross-doc variant, whose window keys on the line text itself)."""
    lines = doc_lines(load_table(spark, sf_dir, "documents"))
    first = Window.partitionBy("doc_id", "line").orderBy("line_idx")
    tagged = lines.withColumn("rn", F.row_number().over(first))
    kept_line = F.when(F.col("rn") == 1, F.col("line"))
    return tagged.groupBy("doc_id").agg(
        F.count(kept_line).alias("n_kept"),
        F.count(F.when(F.col("rn") > 1, 1)).alias("n_dropped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") == 1,
                            F.struct("line_idx", "line"),
                        )
                    )
                ),
                lambda x: x["line"],
            ),
            " ",
        ).alias("clean_text"),
    )


# ----------------------------------------------------------------------
# Normalization-keyed dedup (round 8): the rung between exact and fuzzy
# ----------------------------------------------------------------------
@query(
    "x1_normalized_dedup",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             array_to_string(
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> ''),
               ' ') AS norm_text
      FROM documents
    )
    SELECT md5(norm_text) AS norm_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM norm GROUP BY md5(norm_text)
    """,
)
def x1_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-keyed dedup — the cheap rung between byte-exact
    and fuzzy: documents equal after lowercasing, punctuation strip
    and whitespace collapse are duplicates (catches case/formatting
    re-posts that byte-hash misses, at hash-groupBy cost — the
    standard first pass of web-corpus cleaning before any MinHash).

    Scale shape identical to ``x1_exact_dedup_hash``: normalization
    is a scan-side projection and the shuffle carries 16-byte digests
    of the NORMALIZED text, never documents. The normalizer is ONE
    regex pass — lower, split on non-alphanumeric runs, drop empties,
    rejoin single-spaced — on both engines; the first cut (three
    stacked regexp_replace passes) measured a 9.3x 10x-ratio because
    per-byte regex CPU dominated the scan, vs 1.4x for the plain
    digest rung. Normalization is inherently a per-byte pass, so the
    residual growth is embarrassingly parallel scan work (scales out
    with executors), but one pass instead of three keeps the constant
    honest."""
    doc = load_table(spark, sf_dir, "documents")
    norm = F.array_join(
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"),
            lambda x: x != "",
        ),
        " ",
    )
    return doc.groupBy(F.md5(norm).alias("norm_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ----------------------------------------------------------------------
# Containment pairs: one-sided near-dup (subset duplication)
# ----------------------------------------------------------------------
#: containment threshold — inter/|smaller| ≥ 8/10, compared in integer
#: cross-multiplied form so the keep decision is engine-exact
CONTAIN_NUM, CONTAIN_DEN = 8, 10


@query(
    "x2_containment_pairs",
    oracle=f"""
    WITH {_JACCARD_CTES}
    SELECT doc_a, doc_b, inter,
           ROUND(inter / LEAST(ca.n, cb.n), 6) AS containment
    FROM pairs
    JOIN counts ca ON ca.doc_id = doc_a
    JOIN counts cb ON cb.doc_id = doc_b
    WHERE inter * {CONTAIN_DEN} >= {CONTAIN_NUM} * LEAST(ca.n, cb.n)
    """,
)
def x2_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-SIDED near-dup detection by n-gram containment — the case
    Jaccard misses: a short document wholly embedded in a much longer
    one scores tiny Jaccard (union is dominated by the long doc) but
    containment inter/|smaller| ≈ 1. This is the quote/excerpt/
    boilerplate-wrapper duplication rung of the dedup ladder (the
    metric of Lee et al.'s substring dedup, at shingle granularity).

    Same execution shape as ``x2_ngram_jaccard`` (gram-keyed
    self-equi-join, xxhash64 8-byte keys, per-doc gram counts riding
    the join, ReusedExchange on the shared shuffle) and the same
    uncapped-rung gate; the threshold compares in INTEGER
    cross-multiplication (inter·10 ≥ 8·min(n_a, n_b)) so the pair set
    is engine-exact at any boundary."""
    doc = _gate_uncapped(
        fan_out(load_table(spark, sf_dir, "documents")),
        "x2_containment_pairs",
        sf_dir,
        alt="x2_containment_capped (df-capped containment, pair work "
        "≤ |docs|·DF_CAP)",
    )
    return _containment_pairs(_uncapped_pairs(doc))


@query(
    "x2_containment_capped",
    oracle=f"""
    WITH {_CAPPED_CTES}
    SELECT doc_a, doc_b, inter,
           ROUND(inter / LEAST(x.n, y.n), 6) AS containment
    FROM pairs
    JOIN n2 x ON x.doc_id = doc_a
    JOIN n2 y ON y.doc_id = doc_b
    WHERE inter * {CONTAIN_DEN} >= {CONTAIN_NUM} * LEAST(x.n, y.n)
    """,
)
def x2_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe containment pairs — the 100-TB rung of
    ``x2_containment_pairs``: shingles with document frequency above
    ``DF_CAP`` are dropped BEFORE the pair join (the
    x2_ngram_jaccard_capped mitigation; the viral-shingle posting-list
    blowup is identical regardless of which similarity the pair feeds)
    and containment is computed consistently over the CAPPED gram sets
    on both engines. Same integer cross-multiplied threshold; the hot
    list is broadcast-anti-joined; worst-case pair work is
    |docs|·DF_CAP instead of Σ df²."""
    return _containment_pairs(
        _capped_pairs(fan_out(load_table(spark, sf_dir, "documents")))
    )


# ----------------------------------------------------------------------
# Exact-substring duplicate spans — the suffix-array dedup op class
# ----------------------------------------------------------------------
#: duplicated-span window length in tokens. Production exact-substring
#: dedup uses ~50 tokens (the "Deduplicating Training Data Makes
#: Language Models Better" setting); 16 keeps both code paths live at
#: test scale (testdata has docs on each side of the threshold).
SPAN_K = 16
#: keep a document iff its duplicated-token coverage is at most this
#: many parts-per-million of its token count (30%, RefinedWeb-ish).
SPAN_DUP_PPM_MAX = 300_000

#: rolling-hash params shared with x4_rolling_fingerprint (same
#: portable md5-prefix token hashes, same Rabin–Karp fold, same
#: overflow headroom: acc·base + h < 2^63).
from .text_analysis import ROLL_BASE as _SPAN_BASE  # noqa: E402
from .text_analysis import ROLL_MOD as _SPAN_MOD  # noqa: E402


def _span_exploded(doc: DataFrame) -> DataFrame:
    """One-scan window explode shared by the span rungs: (doc_id, n,
    pos, wh) with one row per {SPAN_K}-token window; docs shorter than
    the span emit a single unique NEGATIVE sentinel hash (-(doc_id+1))
    so they survive per-doc aggregation without a second scan or a
    null-key hot partition. Token hashes materialize ONCE per doc (the
    Generate boundary stops CollapseProject from inlining the md5
    transform into the per-window fold — verified in the optimized
    plan: md5 appears exactly once)."""
    toks = words()
    th = F.transform(
        toks,
        lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"),
    )
    base = doc.select("doc_id", F.size(toks).alias("n"), th.alias("th"))
    win_arr = F.when(
        F.col("n") >= SPAN_K,
        F.transform(
            F.sequence(F.lit(1), F.col("n") - SPAN_K + 1),
            lambda i: F.aggregate(
                F.slice(F.col("th"), i, SPAN_K),
                F.lit(0).cast("long"),
                lambda acc, h: (acc * F.lit(_SPAN_BASE) + h)
                % F.lit(_SPAN_MOD),
            ),
        ),
    ).otherwise(F.array((-F.col("doc_id") - F.lit(1)).cast("long")))
    return base.select(
        "doc_id", "n", F.posexplode(win_arr).alias("p0", "wh")
    ).select("doc_id", "n", (F.col("p0") + 1).alias("pos"), "wh")


@query(
    "x1_substring_spans",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n,
             list_transform(string_split(text, ' '),
               w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)) AS th
      FROM documents
    ), wins AS (
      SELECT doc_id, i AS pos,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_slice(th, i, i + {SPAN_K} - 1)),
               (acc, h) -> (acc * {_SPAN_BASE} + h) % {_SPAN_MOD}) AS wh
      FROM t, UNNEST(generate_series(1, n - {SPAN_K} + 1)) AS g(i)
      WHERE n >= {SPAN_K}
    ), dup AS (
      SELECT wh FROM wins GROUP BY wh HAVING COUNT(*) > 1
    ), dw AS (
      SELECT w.doc_id, w.pos, w.pos + {SPAN_K} - 1 AS iv_end
      FROM wins w JOIN dup USING (wh)
    ), marked AS (
      SELECT doc_id, pos, iv_end,
             CASE WHEN MAX(iv_end) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  IS NULL
                  OR pos > MAX(iv_end) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             THEN 1 ELSE 0 END AS is_new
      FROM dw
    ), isl AS (
      SELECT doc_id, pos, iv_end,
             SUM(is_new) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked
    ), merged AS (
      SELECT doc_id, island, MIN(pos) AS s, MAX(iv_end) AS e,
             COUNT(*) AS nw
      FROM isl GROUP BY doc_id, island
    ), cov AS (
      SELECT doc_id, SUM(nw) AS n_dup_windows,
             SUM(e - s + 1) AS dup_covered
      FROM merged GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(t.n AS BIGINT) AS n_tokens,
           CAST(GREATEST(t.n - {SPAN_K} + 1, 0) AS BIGINT) AS n_windows,
           CAST(COALESCE(cov.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
           CAST(COALESCE(cov.dup_covered, 0) AS BIGINT) AS dup_covered,
           CAST(COALESCE(cov.dup_covered, 0) * 1000000 // t.n AS BIGINT)
             AS dup_ppm,
           COALESCE(cov.dup_covered, 0) * 1000000 // t.n
             <= {SPAN_DUP_PPM_MAX} AS keep
    FROM t LEFT JOIN cov USING (doc_id)
    """,
)
def x1_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING duplicate spans — the op class of suffix-array
    dedup ("Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2022), re-expressed as its scalable distributed form:
    a {SPAN_K}-token window is a duplicated span iff its rolling hash
    occurs 2+ times ANYWHERE in the corpus (intra-doc repeats count,
    matching the paper's any-repeated-substring rule); per document,
    overlapping duplicated windows merge into islands
    (gaps-and-islands, the x6_interval_merge recurrence) and the
    double-counting-free covered-token total drives the keep decision:
    keep iff coverage ≤ {SPAN_DUP_PPM_MAX} ppm of the doc's tokens.
    Complements the ladder: X1 catches whole-doc copies, X2 catches
    similar PAIRS — this rung catches a long quote/boilerplate block
    embedded in otherwise-unique documents, which neither flags.

    Window hashes reuse x4_rolling_fingerprint's portable convention
    (md5-prefix token hashes folded mod {_SPAN_MOD}) so the DuckDB
    oracle replays hashing exactly. Documents shorter than the span
    emit one sentinel row hashed to -(doc_id+1): real hashes are
    non-negative, so sentinels are unique (never duplicated), keep the
    doc in the per-doc aggregate without a second scan OR a null-key
    hot partition, and are excluded from window counts by sign.

    Scale shape: ONE documents scan, ZERO joins, two exchanges — (1)
    partition by window hash for the corpus-wide occurrence count, (2)
    partition by doc_id for the island recurrence; both downstream
    groupBys ride exchange (2) (hash(doc_id) satisfies the (doc_id,
    island) clustering). Token hashes are computed once per doc into a
    materialized array column; each window is an O(K) fold over a
    slice. Caveat shared with every hash-keyed rung: a viral span
    (corpus-wide boilerplate) makes hot window-hash partitions, and
    window aggregation is not AQE-skew-splittable — but unlike the
    pair-join rungs the cost is an O(m log m) single-task count, not
    O(m²) output, so degradation is task serialization only (measured:
    tools/span_skew_ab.py, BENCH_SCALE.json skew ratio 1.38 at 10×
    with a 36-token block on 5% of docs). If multiplicity ever
    dominates, the successor is a salted two-phase count
    (groupBy(wh, salt) partial → groupBy(wh) merge + join-back)."""
    doc = load_table(spark, sf_dir, "documents")
    ex = _span_exploded(doc)

    is_dup = (F.col("wh") >= 0) & (
        F.count(F.lit(1)).over(Window.partitionBy("wh")) > 1
    )
    flagged = ex.withColumn("is_dup", is_dup)

    prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dup_end = F.when(F.col("is_dup"), F.col("pos") + SPAN_K - 1)
    marked = flagged.withColumn(
        "is_new",
        F.when(~F.col("is_dup"), 0)
        .when(F.max(dup_end).over(prev).isNull(), 1)
        .when(F.col("pos") > F.max(dup_end).over(prev), 1)
        .otherwise(0),
    ).withColumn("iv_end", dup_end)
    isl = marked.withColumn("island", F.sum("is_new").over(cum))
    merged = isl.groupBy("doc_id", "island").agg(
        F.first("n").alias("n"),
        F.sum(F.col("is_dup").cast("int")).alias("nw"),
        F.min(F.when(F.col("is_dup"), F.col("pos"))).alias("s"),
        F.max("iv_end").alias("e"),
    )
    per_doc = merged.groupBy("doc_id").agg(
        F.first("n").alias("n_int"),
        F.sum("nw").alias("n_dup_windows"),
        F.sum(F.coalesce(F.col("e") - F.col("s") + 1, F.lit(0))).alias(
            "dup_covered"
        ),
    )
    return per_doc.select(
        "doc_id",
        F.col("n_int").cast("long").alias("n_tokens"),
        F.greatest(F.col("n_int") - (SPAN_K - 1), F.lit(0))
        .cast("long")
        .alias("n_windows"),
        "n_dup_windows",
        "dup_covered",
    ).select(
        "doc_id",
        "n_tokens",
        "n_windows",
        "n_dup_windows",
        "dup_covered",
        F.expr("dup_covered * 1000000 DIV n_tokens").alias("dup_ppm"),
        (
            F.expr("dup_covered * 1000000 DIV n_tokens")
            <= F.lit(SPAN_DUP_PPM_MAX)
        ).alias("keep"),
    )


@query(
    "x1_substring_rewrite",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n,
             list_transform(string_split(text, ' '),
               w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)) AS th
      FROM documents
    ), wins AS (
      SELECT doc_id, i AS pos,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_slice(th, i, i + {SPAN_K} - 1)),
               (acc, h) -> (acc * {_SPAN_BASE} + h) % {_SPAN_MOD}) AS wh
      FROM t, UNNEST(generate_series(1, n - {SPAN_K} + 1)) AS g(i)
      WHERE n >= {SPAN_K}
    ), marked AS (
      SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY wh) AS c,
             MIN(doc_id * 4294967296 + pos) OVER (PARTITION BY wh) AS keeper
      FROM wins
    ), rm AS (
      SELECT doc_id, pos, pos + {SPAN_K} - 1 AS iv_end
      FROM marked
      WHERE c > 1 AND doc_id * 4294967296 + pos <> keeper
    ), cov AS (
      SELECT DISTINCT doc_id, p
      FROM rm, UNNEST(generate_series(pos, iv_end)) AS u(p)
    ), toks AS (
      SELECT s.doc_id, g.i AS p, s.ws[g.i] AS w
      FROM (SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents) s,
           UNNEST(generate_series(1, len(s.ws))) AS g(i)
    ), kept AS (
      SELECT tk.doc_id, tk.p, tk.w
      FROM toks tk LEFT JOIN cov
        ON cov.doc_id = tk.doc_id AND cov.p = tk.p
      WHERE cov.p IS NULL
    ), agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(w, ' ' ORDER BY p) AS cleaned
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(string_split(d.text, ' '))
                - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           md5(COALESCE(a.cleaned, '')) AS cleaned_fp
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def x1_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup's REWRITE step (x1_substring_spans is the
    report): remove every occurrence of a duplicated {SPAN_K}-token
    span EXCEPT the corpus-first one — first-occurrence-wins by the
    global (doc_id, pos) order, encoded as the scalar doc_id·2³²+pos
    (shiftleft — pos is a token index, bounded far below 2³² by the
    JVM string-length ceiling, so no doc can bleed into the next
    doc_id's key range; doc_id itself must stay BELOW 2³¹, the
    testdata id space — past it shiftleft(doc_id, 32) wraps the long
    silently while the oracle's doc_id·2³² raises an overflow, so the
    engines diverge rather than agree — a wider id space needs a
    (doc_id, pos) STRUCT min, which DuckDB and Spark both order
    lexically, at the cost of a fatter window buffer; ADVICE r10)
    so both engines rank occurrences identically
    without relying on struct comparison. A token is excised iff covered by at least one
    non-first duplicated window; surviving tokens reassemble in
    position order into the cleaned text, fingerprinted for the
    value check. Two identical docs → the later one collapses to '';
    an intra-doc repeat → the second copy excised; the corpus-first
    copy of everything survives byte-exact.

    Scale shape: the span machinery is the shared one-scan
    ``_span_exploded`` + the same two exchanges (window hash, doc_id
    islands); removal intervals then come BACK to a second (doc_id,
    text)-only scan as a per-doc interval array join — at test scale
    Catalyst broadcasts it; at 100 TB it degrades to a co-partitioned
    doc_id shuffle join, never wider than |docs with removals|. Token
    filtering is a JVM filter-with-index over exists(intervals) —
    no Python anywhere."""
    doc = load_table(spark, sf_dir, "documents")
    ex = _span_exploded(doc)

    whw = Window.partitionBy("wh")
    okey = F.shiftleft(F.col("doc_id").cast("long"), 32) + F.col("pos")
    is_rm = (
        (F.col("wh") >= 0)
        & (F.count(F.lit(1)).over(whw) > 1)
        & (okey != F.min(okey).over(whw))
    )
    flagged = ex.withColumn("is_rm", is_rm)

    prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rm_end = F.when(F.col("is_rm"), F.col("pos") + SPAN_K - 1)
    marked = flagged.withColumn(
        "is_new",
        F.when(~F.col("is_rm"), 0)
        .when(F.max(rm_end).over(prev).isNull(), 1)
        .when(F.col("pos") > F.max(rm_end).over(prev), 1)
        .otherwise(0),
    ).withColumn("iv_end", rm_end)
    isl = marked.withColumn("island", F.sum("is_new").over(cum))
    merged = isl.groupBy("doc_id", "island").agg(
        F.min(F.when(F.col("is_rm"), F.col("pos"))).alias("s"),
        F.max("iv_end").alias("e"),
    )
    ivs = (
        merged.filter(F.col("s").isNotNull())
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("ivs"))
    )

    toks = words()
    joined = doc.select("doc_id", "text").join(ivs, "doc_id", "left")
    ivs0 = F.coalesce(
        F.col("ivs"), F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
    )
    with_ivs = joined.withColumn("ivs0", ivs0)
    kept = F.filter(
        toks,
        lambda w, i: ~F.exists(
            F.col("ivs0"),
            lambda iv: (i + 1 >= iv["s"]) & (i + 1 <= iv["e"]),
        ),
    )
    return with_ivs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(F.array_join(kept, " ")).alias("cleaned_fp"),
    )


# ----------------------------------------------------------------------
# Cross-source overlap matrix (round 9)
# ----------------------------------------------------------------------


@query(
    "x2_source_overlap",
    oracle="""
    WITH w AS (
      SELECT source, string_split(text, ' ') AS words FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), sh AS (
      SELECT DISTINCT source,
             words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
      FROM w, UNNEST(generate_series(1, len(words) - 2)) AS t(i)
    ), n AS (
      SELECT source, COUNT(*) AS n FROM sh GROUP BY source
    ), p AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS inter
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, inter,
           ROUND(inter / LEAST(x.n, y.n), 6) AS overlap
    FROM p
    JOIN n x ON x.source = source_a
    JOIN n y ON y.source = source_b
    """,
)
def x2_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE n-gram overlap matrix — the redundancy diagnostic a
    corpus-mixing pipeline runs BEFORE setting mixture weights
    (x8_temperature_mixture / x8_interleave_sources): for every source
    pair, the containment-style overlap |grams_a ∩ grams_b| /
    min(|grams_a|, |grams_b|) of their DISTINCT trigram vocabularies.
    Two crawl snapshots of the same sites score near 1 and should not
    both be upweighted; disjoint corpora score near 0.

    Structurally bounded where the doc-level pair rungs need caps:
    grams are made distinct PER SOURCE first, so every posting list in
    the self-join is ≤ |sources| long — pair work is
    O(|distinct grams| · |sources|²) with no viral-shingle blowup, and
    the output is the |sources|² matrix, not a doc-pair set. Per-source
    gram counts ride a broadcast join; counting is integer-exact with
    one double division + round at the emit boundary. Same xxhash64
    join-key convention (collision caveat documented on
    x2_ngram_jaccard) as the rest of the ladder."""
    from pyspark.ml.feature import NGram

    doc = fan_out(load_table(spark, sf_dir, "documents"))
    arrays = doc.select("source", words().alias("words")).filter(
        F.size("words") >= 3
    )
    grams = NGram(n=3, inputCol="words", outputCol="raw_grams").transform(
        arrays
    )
    # the distinct (source, gram) table is read 3× (per-source counts +
    # both pair-join sides) — materialize it once so the scan→explode→
    # distinct subtree doesn't re-run per consumer (the ladder's
    # localCheckpoint reuse convention; see x2_tfidf_cosine)
    sh = (
        grams.select("source", F.explode("raw_grams").alias("shingle"))
        .select("source", F.xxhash64("shingle").alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("source").alias("source_a"), "h")
    b = sh.select(F.col("source").alias("source_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = F.broadcast(
        n.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    )
    nb = F.broadcast(
        n.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    )
    mn = F.least(F.col("n_a"), F.col("n_b"))
    return (
        pairs.join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            "inter",
            F.round(F.col("inter") / mn, 6).alias("overlap"),
        )
    )


# ----------------------------------------------------------------------
# Soft dedup — keep everything, reweight by duplication degree
# ----------------------------------------------------------------------
@query(
    "x2_soft_dedup_weights",
    oracle=f"""
    WITH RECURSIVE {_COMPONENT_CTES},
    sizes AS (
      SELECT component, COUNT(*) AS comp_size FROM comp GROUP BY component
    )
    SELECT c.doc_id, c.component,
           CAST(s.comp_size AS BIGINT) AS comp_size,
           CAST(1000000 // s.comp_size AS BIGINT) AS weight_ppm
    FROM comp c JOIN sizes s USING (component)
    """,
)
def x2_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup (the SoftDedup reweighting idea, He et al. 2024,
    applied at component granularity): instead of DROPPING duplicates
    — which discards the signal that popular text carries — every
    document survives with a training-loss weight inversely
    proportional to its duplicate-group size, so each near-duplicate
    CLUSTER contributes one document's worth of gradient regardless
    of how many copies crawled in. Hard dedup is the degenerate case
    (weight 1 for the keeper, 0 for the rest); soft weights preserve
    corpus-frequency information that several data-curation ablations
    show helps.

    Pure composition of the dedup ladder: the SAME near-dup pair graph
    (gram-keyed Jaccard join) and the SAME ``star_components``
    components as ``x2_dup_components``, then one component-keyed
    count and a co-partitioned join-back — the weight step adds one
    aggregate + one join on top of machinery whose 100 TB posture
    (df caps, star-contraction, checkpointed iterations) is already
    established. Weights in integer PPM (1e6 // comp_size) — engine-
    exact, no float division anywhere."""
    labels = _dup_labels(spark, sf_dir)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("comp_size")
    )
    return labels.join(sizes, "component").select(
        "doc_id",
        "component",
        "comp_size",
        F.expr("1000000 div comp_size").cast("long").alias("weight_ppm"),
    )


# ----------------------------------------------------------------------
# URL-canonicalization dedup (round 10): the crawl-frontier dedup stage
# — the SAME page fetched under scheme/host-case, www, default-port,
# trailing-slash, tracking-param and fragment decorations collapses to
# one canonical URL
# ----------------------------------------------------------------------
#: raw synthetic URL per document (documents carries no URL column —
#: same payload discipline as the domain rungs, but DIFFERENT synth:
#: this one varies every decoration canonicalization must undo, with
#: page identity doc_id % 97 so ~5 raw variants share each canonical
#: target at sf0.01). Decorations cycle on coprime moduli so most
#: combinations occur.
_RAW_URL_SPARK = (
    "concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END, '://',"
    " CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END,"
    " CASE WHEN doc_id % 2 = 0 THEN 'News.Example.COM'"
    "      ELSE 'news.example.com' END,"
    " CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,"
    " '/articles/', CAST(doc_id % 97 AS STRING),"
    " CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END,"
    " CASE WHEN doc_id % 3 = 1 THEN concat('?utm_source=feed&id=',"
    "                                      CAST(doc_id % 97 AS STRING))"
    "      ELSE concat('?id=', CAST(doc_id % 97 AS STRING),"
    "                  '&utm_campaign=x') END,"
    " CASE WHEN doc_id % 11 = 0 THEN '#sec1' ELSE '' END)"
)
_RAW_URL_DUCK = (
    "concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END, '://',"
    " CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END,"
    " CASE WHEN doc_id % 2 = 0 THEN 'News.Example.COM'"
    "      ELSE 'news.example.com' END,"
    " CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,"
    " '/articles/', CAST(doc_id % 97 AS VARCHAR),"
    " CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END,"
    " CASE WHEN doc_id % 3 = 1 THEN concat('?utm_source=feed&id=',"
    "                                      CAST(doc_id % 97 AS VARCHAR))"
    "      ELSE concat('?id=', CAST(doc_id % 97 AS VARCHAR),"
    "                  '&utm_campaign=x') END,"
    " CASE WHEN doc_id % 11 = 0 THEN '#sec1' ELSE '' END)"
)


@query(
    "x1_url_dedup",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_RAW_URL_DUCK} AS url FROM documents
    ), parts AS (
      SELECT doc_id,
             lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
             split_part(split_part(url, '#', 1), '://', 2) AS rest
      FROM raw
    ), hp AS (
      SELECT doc_id, scheme,
             split_part(rest, '/', 1) AS hostport,
             substr(rest, len(split_part(rest, '/', 1)) + 1) AS path_q
      FROM parts
    ), comps AS (
      SELECT doc_id, scheme,
             regexp_replace(lower(split_part(hostport, ':', 1)),
                            '^www\\.', '') AS host,
             CASE WHEN contains(hostport, ':')
                       AND NOT (scheme = 'https'
                                AND split_part(hostport, ':', 2) = '443')
                       AND NOT (scheme = 'http'
                                AND split_part(hostport, ':', 2) = '80')
                  THEN ':' || split_part(hostport, ':', 2) ELSE '' END
               AS port,
             CASE WHEN split_part(path_q, '?', 1) = '/' THEN '/'
                  ELSE regexp_replace(split_part(path_q, '?', 1),
                                      '/$', '') END AS path,
             array_to_string(list_sort(list_filter(
               string_split(CASE WHEN contains(path_q, '?')
                                 THEN split_part(path_q, '?', 2)
                                 ELSE '' END, '&'),
               x -> x <> '' AND NOT x LIKE 'utm_%')), '&') AS query
      FROM hp
    ), canon AS (
      SELECT doc_id,
             scheme || '://' || host || port || path
               || CASE WHEN query <> '' THEN '?' || query ELSE '' END
               AS canonical_url
      FROM comps
    )
    SELECT canonical_url, COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper_doc_id
    FROM canon GROUP BY canonical_url
    """,
)
def x1_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl-frontier/page-level dedup
    stage upstream of every content rung in the X1 ladder: the same
    page fetched as ``HTTPS://www.News.Example.COM:443/articles/7/
    ?utm_source=feed&id=7#sec1`` and ``https://news.example.com/
    articles/7?id=7&utm_campaign=x`` must collapse to ONE canonical
    URL before fetch-count or content work is spent. Canonical rules
    (the standard crawl set): lowercase scheme+host, strip ``www.``,
    strip default ports (443/https, 80/http), strip the fragment,
    strip one trailing slash (root ``/`` survives), drop ``utm_*``
    tracking params and sort the survivors. First occurrence wins:
    keeper = min doc_id per canonical URL. Reference scope: no analog;
    CommonCrawl-curation extension tier next to x4_domain_rollup /
    x8_domain_caps.

    Scale shape: canonicalization is pure scan-side string built-ins
    (substring_index / lower / regexp_replace / one array
    filter+sort over query params — zero Python, whole-stage
    codegen), then ONE partial-aggregated groupBy(canonical_url) —
    the identical single-exchange shape as x1_exact_dedup_hash, with
    the canonical string as the grouping key. Plan-gated single scan,
    one exchange."""
    doc = load_table(spark, sf_dir, "documents")
    d = doc.select("doc_id").withColumn("url", F.expr(_RAW_URL_SPARK))
    canon = with_canonical_url(d).select("doc_id", "canonical_url")
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("keeper_doc_id"),
    )


def with_canonical_url(d: DataFrame) -> DataFrame:
    """Add ``canonical_url`` to a frame carrying a ``url`` column — the
    crawl canonical rules as pure scan-side built-ins (see
    x1_url_dedup). Factored out so properties (idempotence: a canonical
    URL re-canonicalizes to itself) are testable over arbitrary URLs,
    not just the rung's synth corpus."""
    d = d.withColumn("_nofrag", F.substring_index("url", "#", 1))
    d = d.withColumn(
        "_scheme", F.lower(F.substring_index("_nofrag", "://", 1))
    )
    d = d.withColumn("_rest", F.substring_index("_nofrag", "://", -1))
    d = d.withColumn(
        "_hostport", F.substring_index("_rest", "/", 1)
    ).withColumn(
        "_path_q", F.expr("substring(_rest, length(_hostport) + 1)")
    )
    host = F.regexp_replace(
        F.lower(F.substring_index("_hostport", ":", 1)), r"^www\.", ""
    )
    port = F.expr(
        "CASE WHEN contains(_hostport, ':')"
        "          AND NOT (_scheme = 'https'"
        "                   AND substring_index(_hostport, ':', -1) = '443')"
        "          AND NOT (_scheme = 'http'"
        "                   AND substring_index(_hostport, ':', -1) = '80')"
        "     THEN concat(':', substring_index(_hostport, ':', -1))"
        "     ELSE '' END"
    )
    path = F.expr(
        "CASE WHEN substring_index(_path_q, '?', 1) = '/' THEN '/'"
        "     ELSE regexp_replace(substring_index(_path_q, '?', 1),"
        "                         '/$', '') END"
    )
    qry = F.expr(
        "array_join(array_sort(filter(split("
        "  CASE WHEN contains(_path_q, '?')"
        "       THEN substring_index(_path_q, '?', -1) ELSE '' END, '&'),"
        "  x -> x != '' AND x NOT LIKE 'utm_%')), '&')"
    )
    return d.withColumn(
        "canonical_url",
        F.concat(
            F.col("_scheme"),
            F.lit("://"),
            host,
            port,
            path,
            F.when(qry != "", F.concat(F.lit("?"), qry)).otherwise(""),
        ),
    ).drop("_nofrag", "_scheme", "_rest", "_hostport", "_path_q")


# ----------------------------------------------------------------------
# LSH band tuning: the parameter-selection sweep every
# MinHash deployment runs before committing (b, r)
# ----------------------------------------------------------------------
#: rows-per-band configurations swept (bands = MINHASH_K // rows); the
#: S-curve threshold s* ≈ (1/b)^(1/r) moves from ~0.35 (r=2) through
#: ~0.71 (r=4) to ~0.92 (r=8) across the sweep, so recall/candidate
#: volume trade visibly on any corpus
BAND_TUNING_ROWS = (2, 4, 8)


def _band_tuning_oracle() -> str:
    """Per-config band/candidate CTEs over the SAME portable hx
    signatures, scored against the exact strong-pair set."""
    blocks, stats = [], []
    for r in BAND_TUNING_ROWS:
        nb = MINHASH_K // r
        blocks.append(
            f""", {_bands_sql(f"bands{r}", r)}, cand{r} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands{r} a JOIN bands{r} b
        ON a.band = b.band AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ), stat{r} AS (
      SELECT CAST({r} AS BIGINT) AS band_rows,
             CAST({nb} AS BIGINT) AS n_bands,
             (SELECT COUNT(*) FROM cand{r}) AS n_candidates,
             (SELECT COUNT(*) FROM strong) AS n_strong,
             (SELECT COUNT(*) FROM strong s JOIN cand{r} c
               ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b) AS n_captured
    )"""
        )
        stats.append(
            f"""SELECT band_rows, n_bands, n_candidates, n_strong, n_captured,
           CASE WHEN n_strong = 0 THEN 1000000
                ELSE n_captured * 1000000 // n_strong END AS recall_ppm,
           CASE WHEN n_candidates = 0 THEN 1000000
                ELSE n_captured * 1000000 // n_candidates END
             AS precision_ppm
    FROM stat{r}"""
        )
    return f"""
    WITH {_JACCARD_CTES}, {_HX_CTE},
    strong AS (
      SELECT doc_a, doc_b FROM dup_pairs WHERE jaccard >= {STRONG_JACCARD}
    ){"".join(blocks)}
    {" UNION ALL ".join(stats)}
    """


@query("x2_minhash_band_tuning", oracle=_band_tuning_oracle())
def x2_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-tuning sweep — the design step every MinHash deployment
    runs before freezing (bands, rows): for each rows-per-band config
    over the SAME portable 16-permutation signatures, build the banded
    candidate set and score it against the EXACT strong-pair set
    (raw-shingle Jaccard ≥ {STRONG_JACCARD}), emitting candidate
    volume, recall, and precision in integer ppm — one row per config,
    the measured S-curve the (1/b)^(1/r) folklore approximates.
    Oracle-exact end-to-end (md5 permutations and band keys replay in
    SQL; same discipline as x2_minhash_lsh_portable). Reference scope:
    no dedup in the reference; §2.10 X2 ladder's tuning rung.

    Scale shape: signatures compute ONCE (map-side minima, one
    (doc_id) exchange) and localCheckpoint; each config derives its
    band keys from the wide row WITHOUT re-reading the corpus (stack →
    equi-join on (band, band_key) → distinct — the LSH rung's exact
    plan), and the strong set computes once and semi-joins each
    candidate set. A tuning sweep runs on a SAMPLE corpus by design —
    its output sizes the production (b, r); the low-r configs' fatter
    candidate sets are the measurement, not an accident. The sample is
    enforced: the strong-set build (``_strong_pairs`` over
    ``_uncapped_pairs``, the Σ df² join every uncapped rung gates)
    routes through ``_gate_uncapped``, so past MAX_UNCAPPED_DOCS the
    rung refuses and tells the caller to sweep on a bounded
    deterministic sample — the (b, r) decision only needs one."""
    doc = _gate_uncapped(
        fan_out(load_table(spark, sf_dir, "documents")),
        "x2_minhash_band_tuning",
        sf_dir,
        alt="a bounded deterministic sample (e.g. pmod(xxhash64(doc_id),"
        " k) = 0) — the (b, r) decision only needs one",
    )
    mins = _minhash_wide(doc).localCheckpoint(eager=True)
    strong = _strong_pairs(_uncapped_pairs(doc)).localCheckpoint(eager=True)
    n_s = strong.agg(F.count(F.lit(1)).alias("n_strong"))
    # Every config's band keys stack into ONE long frame tagged by its
    # band_rows, so candidate generation is a single (band_rows, band,
    # band_key) self-equi-join + ONE distinct over all configs (AQE
    # sizes the fat low-r partitions) — one exchange instead of
    # |configs| sequential join→distinct→checkpoint jobs (≈ 5 s → 2.5 s
    # warm at sf0.1, identical output).
    longs = [
        _band_keys(mins, r).select(
            F.lit(r).cast("long").alias("band_rows"), "doc_id", "band", "band_key"
        )
        for r in BAND_TUNING_ROWS
    ]
    long_all = longs[0]
    for df in longs[1:]:
        long_all = long_all.unionAll(df)
    aa = long_all.select(
        "band_rows", F.col("doc_id").alias("doc_a"), "band", "band_key"
    )
    bb = long_all.select(
        "band_rows", F.col("doc_id").alias("doc_b"), "band", "band_key"
    )
    cands = (
        aa.join(bb, ["band_rows", "band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("band_rows", "doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=True)  # read twice: volume + capture
    )
    n_c = cands.groupBy("band_rows").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    n_cap = (
        cands.join(F.broadcast(strong), ["doc_a", "doc_b"], "left_semi")
        .groupBy("band_rows")
        .agg(F.count(F.lit(1)).alias("n_captured"))
    )
    spine = spark.createDataFrame(
        [(r, MINHASH_K // r) for r in BAND_TUNING_ROWS],
        "band_rows long, n_bands long",
    )
    return (
        spine.join(n_c, "band_rows", "left")
        .join(n_cap, "band_rows", "left")
        .crossJoin(n_s)
        .select(
            "band_rows",
            "n_bands",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.col("n_strong").cast("long").alias("n_strong"),
            F.coalesce(F.col("n_captured"), F.lit(0))
            .cast("long")
            .alias("n_captured"),
            F.expr(
                "CASE WHEN n_strong = 0 THEN 1000000"
                " ELSE COALESCE(n_captured, 0) * 1000000 DIV n_strong END"
            )
            .cast("long")
            .alias("recall_ppm"),
            F.expr(
                "CASE WHEN COALESCE(n_candidates, 0) = 0 THEN 1000000"
                " ELSE COALESCE(n_captured, 0) * 1000000"
                " DIV n_candidates END"
            )
            .cast("long")
            .alias("precision_ppm"),
        )
    )


# ----------------------------------------------------------------------
# Portable Bloom prefilter (round 11): approximate digest membership —
# the cheap gate in front of the exact contamination-confirm join
# ----------------------------------------------------------------------
#: Bloom geometry. M is deliberately SMALL so the collision path is
#: real at test scale (sf0.01: registry ~170 digests -> ~500 positions,
#: fill ~0.22, fp ~1e-2 -> a few false flags next to the ~170 true
#: members; at sf0.1 the same M saturates, fill ~0.91 -- the
#: undersized-filter failure mode made VISIBLE, which is the lesson:
#: production sizes m ~ 10 bits per registry digest with k ~ 7, and
#: only the constants change, never the plan). K hash functions are
#: md5-prefix ints of "{i}#{digest}" (the portable-minhash hash-family
#: discipline), so BOTH engines derive bit-identical positions and the
#: flag column itself is oracle-exact -- no band twin needed.
BLOOM_M = 2048
BLOOM_K = 3

_BLOOM_POS_DUCK = (
    "CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '#' || digest), 1, 15))"
    f" AS BIGINT) % {BLOOM_M}"
)


def _bloom_pos_cols(m: int = BLOOM_M, k: int = BLOOM_K) -> list:
    """K portable hash positions of the ``digest`` column under an
    (m, k) geometry — parametric so the geometry-tuning sweep below
    can ride the identical hash family."""
    return [
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{i}#"), F.col("digest"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % m
        ).alias(f"p{i}")
        for i in range(k)
    ]


@query(
    "x1_bloom_prefilter",
    oracle=f"""
    WITH reg AS (
      SELECT DISTINCT md5(text) AS digest
      FROM documents WHERE doc_id % 3 = 0
    ), rpos AS (
      SELECT DISTINCT {_BLOOM_POS_DUCK} AS p
      FROM reg, UNNEST(generate_series(0, {BLOOM_K - 1})) t(i)
    ), probe AS (
      SELECT doc_id, md5(text) AS digest FROM documents
    ), ppos AS (
      SELECT doc_id, {_BLOOM_POS_DUCK} AS p
      FROM probe, UNNEST(generate_series(0, {BLOOM_K - 1})) t(i)
    ), hits AS (
      SELECT doc_id, COUNT(*) AS h
      FROM ppos JOIN rpos USING (p) GROUP BY doc_id
    )
    SELECT pr.doc_id,
           (pr.digest IN (SELECT digest FROM reg)) AS in_registry,
           (COALESCE(h.h, 0) = {BLOOM_K}) AS bloom_flagged
    FROM probe pr LEFT JOIN hits h ON h.doc_id = pr.doc_id
    """,
)
def x1_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered digest membership -- the cheap approximate
    gate every 100 TB decontamination / cross-corpus exact-dedup join
    hides behind (probe the eval-set registry BEFORE paying the full
    digest join; Bloom 1970): registry docs (doc_id % 3 = 0 -- an
    overlapping split, because contamination IS self-overlap: eval
    sets are drawn from the same pool the training corpus crawls)
    register BLOOM_K portable hash positions per distinct content
    digest; every corpus doc probes, and is FLAGGED iff all its
    positions are present. Ground truth rides along so the row shows
    exactly where the filter over- but never under-approximates: no
    false negatives BY CONSTRUCTION (members' positions are all
    registered -- pinned in tests), false positives real at this
    deliberately small M and absorbed by the exact confirm join the
    flag gates. Spark's injected runtime bloom filters cover the
    single-query join-prune case (ext_bloom_join_prune); THIS rung
    materializes the filter as DATA -- the position set -- so it
    persists across jobs, the eval-registry shape. The engine-native
    ``bloom_filter_agg`` is not SQL-exposed in this build; the
    relational form is portable AND oracle-exact -- the flag column
    itself hash-checks, no band twin needed.

    Scale shape: the filter build aggregates the registry to
    <= min(K*|reg|, M) position ints (one partial-agg distinct -- the
    materialized filter is corpus-size-INDEPENDENT past fill, exactly
    why Bloom wins at 100 TB) and broadcasts into the probe join; the
    probe is one scan + a K-rows-per-doc projection + one doc_id
    partial-agg. The truth check is a broadcast join on the distinct
    registry digests -- |reg|-bounded, the exact confirm the
    prefilter exists to make rare."""
    doc = load_table(spark, sf_dir, "documents")
    reg = (
        doc.filter(F.col("doc_id") % 3 == 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    rpos = (
        reg.select(F.explode(F.array(*_bloom_pos_cols())).alias("p"))
        .distinct()
    )
    probe = doc.select("doc_id", F.md5("text").alias("digest"))
    hits = (
        probe.select(
            "doc_id", F.explode(F.array(*_bloom_pos_cols())).alias("p")
        )
        .join(F.broadcast(rpos), "p")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    truth = probe.join(
        F.broadcast(reg.select(F.col("digest").alias("r_digest"))),
        probe.digest == F.col("r_digest"),
        "left",
    ).select("doc_id", F.col("r_digest").isNotNull().alias("in_registry"))
    return truth.join(hits, "doc_id", "left").select(
        "doc_id",
        "in_registry",
        (F.coalesce(F.col("h"), F.lit(0)) == BLOOM_K).alias("bloom_flagged"),
    )


# ----------------------------------------------------------------------
# Bloom geometry tuning sweep (round 12): the X1 member of the
# tuning-sweep triple (MinHash bands, IVF nprobe, Bloom m/k)
# ----------------------------------------------------------------------
#: (m, k) geometries swept, smallest→largest. The first is the standing
#: BLOOM_M/BLOOM_K point (deliberately undersized — saturates at sf0.1,
#: the documented failure mode); the last is production-shaped (~10+
#: bits per registry digest with k near the ln2·bits optimum), so the
#: emitted curve shows BOTH the saturation lesson and the geometry a
#: real deployment would freeze.
BLOOM_GEOMETRIES: tuple[tuple[int, int], ...] = (
    (BLOOM_M, BLOOM_K),
    (8192, 3),
    (16384, 5),
    (65536, 7),
)


def _bloom_pos_duck(m: int) -> str:
    """The DuckDB twin of ``_bloom_pos_cols`` under modulus ``m``."""
    return (
        "CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '#' || digest),"
        f" 1, 15)) AS BIGINT) % {m}"
    )


def _bloom_geometry_oracle() -> str:
    blocks = []
    for m, k in BLOOM_GEOMETRIES:
        pos = _bloom_pos_duck(m)
        sfx = f"{m}_{k}"
        blocks.append(
            f"""rpos_{sfx} AS (
      SELECT DISTINCT {pos} AS p
      FROM reg, UNNEST(generate_series(0, {k - 1})) t(i)
    ), hits_{sfx} AS (
      SELECT doc_id, COUNT(*) AS h
      FROM (
        SELECT doc_id, {pos} AS p
        FROM probe, UNNEST(generate_series(0, {k - 1})) t(i)
      ) pp JOIN rpos_{sfx} USING (p)
      GROUP BY doc_id
    ), row_{sfx} AS (
      SELECT CAST({m} AS BIGINT) AS m, CAST({k} AS BIGINT) AS k,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM rpos_{sfx})
               AS n_positions,
             (SELECT COUNT(*) * 1000000 // {m} FROM rpos_{sfx})
               AS fill_ppm,
             CAST(COUNT(*) FILTER (COALESCE(h.h, 0) = {k}) AS BIGINT)
               AS n_flagged,
             CAST(COUNT(*) FILTER (COALESCE(h.h, 0) = {k} AND NOT pr.mem)
               AS BIGINT) AS n_false_pos,
             COUNT(*) FILTER (COALESCE(h.h, 0) = {k} AND NOT pr.mem)
               * 1000000 // (SELECT n FROM nonmem) AS fp_ppm
      FROM (SELECT doc_id,
                   digest IN (SELECT digest FROM reg) AS mem
            FROM probe) pr
      LEFT JOIN hits_{sfx} h ON h.doc_id = pr.doc_id
    )"""
        )
    selects = " UNION ALL ".join(
        f"SELECT * FROM row_{m}_{k}" for m, k in BLOOM_GEOMETRIES
    )
    return f"""
    WITH reg AS (
      SELECT DISTINCT md5(text) AS digest
      FROM documents WHERE doc_id % 3 = 0
    ), probe AS (
      SELECT doc_id, md5(text) AS digest FROM documents
    ), nonmem AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM probe
      WHERE digest NOT IN (SELECT digest FROM reg)
    ),
    {", ".join(blocks)}
    {selects}
    """


@query("x1_bloom_geometry_tuning", oracle=_bloom_geometry_oracle())
def x1_bloom_geometry_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom GEOMETRY tuning sweep — the parameter-selection step every
    deployed prefilter runs before freezing (m, k), as a first-class
    driver-checked operator (completing the tuning-sweep triple:
    x2_minhash_band_tuning's (b, r), x3_ivf_nprobe_tuning's nprobe,
    and now Bloom m/k — VERDICT r11 ask #4): for each candidate
    geometry over the SAME registry (the x1_bloom_prefilter eval-set
    split, doc_id % 3 = 0) and the SAME portable md5 hash family,
    measure what the filter would actually do — registered-position
    count, fill factor in integer ppm, flagged-probe count, and false
    positives against exact ground truth (false NEGATIVES are
    impossible by construction in every geometry; members' positions
    are all registered). The emitted curve makes the undersized-filter
    lesson MEASURED rather than narrated: the standing
    (BLOOM_M={BLOOM_M}, k={BLOOM_K}) point saturates at sf0.1
    (fill → ~0.91, fp_ppm large) while the production-shaped
    (65536, 7) point sits near zero false positives — the geometry a
    real 100 TB decontamination gate would freeze, where only these
    constants change, never the plan.

    Scale shape: the registry digests and the probe projection are
    computed once and cached (one parquet scan each); per config the
    filter build is one cached-registry aggregation to
    <= min(k*|reg|, m) distinct position ints (the materialized
    filter, corpus-size-INDEPENDENT past fill) broadcast into one
    cached-probe scan (explode k rows/doc -> position equi-join ->
    doc_id partial-agg), so the sweep costs |configs| bounded probe
    passes; driver traffic is three counts per config plus one shared
    non-member count, and the returned table is a |configs|-row local
    relation — the tuning output, sized to freeze ONE geometry."""
    doc = load_table(spark, sf_dir, "documents")
    reg = (
        doc.filter(F.col("doc_id") % 3 == 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
        .cache()
    )
    probe = doc.select("doc_id", F.md5("text").alias("digest")).cache()
    n_nonmembers = probe.join(F.broadcast(reg), "digest", "left_anti").count()
    rows = []
    for m, k in BLOOM_GEOMETRIES:
        rpos = (
            reg.select(F.explode(F.array(*_bloom_pos_cols(m, k))).alias("p"))
            .distinct()
        )
        n_positions = rpos.count()
        flagged = (
            probe.select(
                "doc_id",
                "digest",
                F.explode(F.array(*_bloom_pos_cols(m, k))).alias("p"),
            )
            .join(F.broadcast(rpos), "p")
            .groupBy("doc_id", "digest")
            .agg(F.count(F.lit(1)).alias("h"))
            .filter(F.col("h") == k)
        )
        n_flagged = flagged.count()
        n_false_pos = flagged.join(
            F.broadcast(reg), "digest", "left_anti"
        ).count()
        rows.append(
            (
                m,
                k,
                n_positions,
                n_positions * 1_000_000 // m,
                n_flagged,
                n_false_pos,
                n_false_pos * 1_000_000 // n_nonmembers,
            )
        )
    reg.unpersist()
    probe.unpersist()
    return spark.createDataFrame(
        rows,
        schema=(
            "m long, k long, n_positions long, fill_ppm long,"
            " n_flagged long, n_false_pos long, fp_ppm long"
        ),
    )


# ----------------------------------------------------------------------
# Content-defined chunking dedup (round 13): the storage-layer dedup class
# ----------------------------------------------------------------------
#: boundary-decision window in tokens (the rolling context a CDC cutter
#: hashes; FastCDC uses a byte window — tokens here, same math)
CDC_W = 4
#: boundary divisor: a position ends a chunk when its window hash ≡ 0
#: (mod CDC_DIV), giving expected chunk length ≈ CDC_DIV tokens
CDC_DIV = 16


def cdc_chunks(doc: DataFrame) -> DataFrame:
    """The CDC cutter as one narrow projection: (doc_id, text) →
    (doc_id, n, clen, ch) with one row per content-defined chunk.
    Extracted from the rung so the DEFINING property — insertion
    stability: editing one token re-hashes only the chunks overlapping
    the edit's boundary window, never shifting later chunks — is
    directly testable on constructed documents
    (tests/test_properties.py::test_cdc_chunking_insertion_stable)."""
    toks = words()
    th = F.transform(
        toks,
        lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"),
    )
    base = doc.select("doc_id", F.size(toks).alias("n"), th.alias("th"))
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(_SPAN_BASE) + h) % F.lit(_SPAN_MOD),
    )
    # Short-doc guard (ADVICE r13): for n < CDC_W,
    # sequence(CDC_W, n) is DESCENDING (Spark's default step is -1), so a
    # 3-token doc would evaluate slice(th, 0, 4) (crash) and 1–2 token
    # docs would hit negative slice starts that wrap from the array end.
    # The oracle's generate_series(CDC_W, n) is empty for n < CDC_W and
    # emits one whole-doc chunk — match that exactly.
    bounds = F.when(
        F.col("n") >= CDC_W,
        F.filter(
            F.sequence(F.lit(CDC_W), F.col("n")),
            lambda i: fold(
                F.slice(F.col("th"), i - CDC_W + 1, F.lit(CDC_W))
            )
            % CDC_DIV
            == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    with_b = base.filter(F.col("n") >= 1).select(
        "doc_id", "n", "th", bounds.alias("bs")
    )
    starts = F.concat(
        F.array(F.lit(1)), F.transform("bs", lambda b: b + 1)
    )
    ends = F.concat(F.col("bs"), F.array(F.col("n")))
    spans = F.filter(
        F.zip_with(
            starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))
        ),
        lambda c: c.s <= c.e,
    )
    return (
        with_b.select("doc_id", "n", "th", F.explode(spans).alias("c"))
        .select(
            "doc_id",
            "n",
            (F.col("c.e") - F.col("c.s") + 1).alias("clen"),
            fold(
                F.slice(
                    F.col("th"), F.col("c.s"), F.col("c.e") - F.col("c.s") + 1
                )
            ).alias("ch"),
        )
    )


@query(
    "x1_cdc_chunk_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n,
             list_transform(string_split(text, ' '),
               w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)) AS th
      FROM documents
    ), b AS (
      SELECT doc_id, i
      FROM t, UNNEST(generate_series({CDC_W}, n)) AS g(i)
      WHERE list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                           list_slice(th, i - {CDC_W} + 1, i)),
              (acc, h) -> (acc * {_SPAN_BASE} + h) % {_SPAN_MOD})
            % {CDC_DIV} = 0
    ), maxb AS (
      SELECT doc_id, MAX(i) AS mb FROM b GROUP BY doc_id
    ), spans AS (
      SELECT doc_id,
             COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1
               AS s,
             i AS e
      FROM b
      UNION ALL
      SELECT t.doc_id, COALESCE(m.mb, 0) + 1 AS s, t.n AS e
      FROM t LEFT JOIN maxb m ON m.doc_id = t.doc_id
    ), chunks AS (
      SELECT sp.doc_id, sp.s, sp.e,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_slice(t.th, sp.s, sp.e)),
               (acc, h) -> (acc * {_SPAN_BASE} + h) % {_SPAN_MOD}) AS ch
      FROM spans sp JOIN t ON t.doc_id = sp.doc_id
      WHERE sp.s <= sp.e
    ), df AS (
      SELECT ch, COUNT(*) AS df FROM chunks GROUP BY ch
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN df.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_chunks,
           CAST(SUM(CASE WHEN df.df > 1 THEN c.e - c.s + 1 ELSE 0 END)
                * 1000000 // MAX(t.n) AS BIGINT) AS dup_token_ppm
    FROM chunks c JOIN df USING (ch) JOIN t ON t.doc_id = c.doc_id
    GROUP BY c.doc_id
    """,
)
def x1_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup — the STORAGE-layer dedup class
    (FastCDC/LBFS lineage) the exact/fuzzy ladder lacked: chunk
    boundaries are declared wherever the ``CDC_W``-token rolling hash
    ≡ 0 (mod ``CDC_DIV``), so boundaries depend only on LOCAL content —
    insert one token and only the surrounding chunk's hash changes,
    where fixed-size blocks would shift-invalidate every later block
    (the property snapshot/dataset-version dedup is built on). Chunks
    are hashed with the same portable Rabin–Karp fold (md5-prefix token
    hashes — oracle-exact, the x1_substring_spans machinery) and
    deduped corpus-wide; output per doc: chunk count, chunks whose
    content appears elsewhere, and duplicated-token coverage in ppm
    (integer cross-multiplied — no float anywhere). Reference scope: no
    dedup ops in the reference (440-line pandas ETL); §2.10 tier.

    Scale shape: boundary detection, span assembly and chunk hashing
    are ONE narrow per-doc projection (higher-order filter/transform
    over the token-hash array — token hashes materialize once behind
    the Generate boundary, the _span_exploded discipline); the only
    exchanges are the |chunks|-row df groupBy and the per-doc rollup.
    At 100 TB: chunk volume ≈ tokens/CDC_DIV rows, the df build is a
    partial-aggregated hash exchange, and a hot (boilerplate) chunk is
    a count, never a pair join — the Σdf² blowup class cannot occur."""
    chunks = cdc_chunks(load_table(spark, sf_dir, "documents"))
    df = chunks.groupBy("ch").agg(F.count(F.lit(1)).alias("df"))
    return (
        chunks.join(df, "ch")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("df") > 1).cast("int"))
            .cast("long")
            .alias("dup_chunks"),
            F.expr(
                "CAST(SUM(CASE WHEN df > 1 THEN clen ELSE 0 END)"
                " * 1000000 DIV MAX(n) AS LONG)"
            ).alias("dup_token_ppm"),
        )
    )


# ----------------------------------------------------------------------
# x2_record_linkage — entity resolution over STRUCTURED records (the
# ER / record-linkage workload pattern: Fellegi & Sunter 1969 lineage,
# modern blocking surveys e.g. Papadakis 2020). The dedup ladder's
# text rungs (X1/X2) match documents; this rung matches database
# RECORDS on typed attributes — the customer-MDM / golden-record shape
# a training-data pipeline runs over tabular sources.
# ----------------------------------------------------------------------

#: edit-distance match threshold on the name attribute. With <= 2
#: substitutions over the 9-digit name tail, the 3-way segment split
#: below is a COMPLETE blocking: two names within distance 2 must
#: agree exactly on at least one of the three 3-char segments
#: (pigeonhole — 3 segments, at most 2 touched).
RL_NAME_EDIT = 2
#: account-balance proximity in integer cents (|Δbal| < $100.00), and
#: the derived band width: bucket = floor(cents / RL_BAL_BAND) with
#: RL_BAL_BAND = RL_BAL_CENTS so matching pairs are at most one
#: bucket apart (the ext_range_join banding argument).
RL_BAL_CENTS = 10_000


def _rl_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            # exact integer cents: c_acctbal is a 2-decimal value
            # carried as double, so *100 is within 1e-9 of an integer
            # and ROUND is tie-free in both engines
            F.round(F.col("c_acctbal") * 100)
            .cast("long")
            .alias("bal_cents"),
        )
        .withColumn(
            "bucket", F.floor(F.col("bal_cents") / F.lit(RL_BAL_CENTS))
        )
    )


_RL_ORACLE = f"""
    WITH RECURSIVE c AS (
      SELECT c_custkey, c_name, c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    p AS (
      SELECT a.c_custkey AS ka, b.c_custkey AS kb
      FROM c a JOIN c b
        ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
      WHERE abs(a.bal_cents - b.bal_cents) < {RL_BAL_CENTS}
        AND levenshtein(a.c_name, b.c_name) <= {RL_NAME_EDIT}
    ),
    e AS (
      SELECT ka AS src, kb AS dst FROM p
      UNION ALL
      SELECT kb AS src, ka AS dst FROM p
    ),
    reach(node, lab) AS (
      SELECT c_custkey, c_custkey FROM c
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node
    ),
    comp AS (
      SELECT node, MIN(lab) AS component FROM reach GROUP BY node
    )
    SELECT component AS entity_id,
           COUNT(*) AS n_records,
           CAST(SUM(node) AS BIGINT) AS sum_custkey
    FROM comp GROUP BY component HAVING COUNT(*) >= 2
    """


@query("x2_record_linkage", oracle=_RL_ORACLE)
def x2_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over structured records: link customer rows
    that are plausibly the same entity — same nation, account balance
    within $100.00, and name edit distance <= ``RL_NAME_EDIT`` — then
    emit one row per multi-record entity (canonical id = min custkey,
    member count, exact sum of member keys as the value fingerprint).
    The four-stage ER shape: COLLAPSE -> BLOCK -> MATCH -> CLUSTER.

    - COLLAPSE (stage 0, the standard ER preprocessing): records with
      IDENTICAL match attributes (name, nation, cents) are the same
      entity by definition — one group-by collapses them to a
      representative carrying (min custkey, member count, key sum),
      and everything downstream runs over representatives. This is
      EXACT (an identical pair always satisfies the match predicate,
      so collapsing never splits or merges an oracle component) and
      it is THE scale property: pair volume depends on DISTINCT
      attribute combinations, not raw rows — verbatim-duplicated
      corpora (the 10x/100x replicas, real-world ingest re-runs) cost
      one extra exchange instead of C(copies,2) quadratic pair work
      per name (the first cut without this stage hit exactly that
      wall at 100 copies).
    - BLOCK (the scale stage, where the oracle's |R|² same-nation
      pair scan is replaced): candidates come from a COMPLETE
      two-factor blocking scheme — (a) pigeonhole name segments:
      a name's 9-digit tail splits into three 3-char segments, and
      any two names within edit distance 2 must agree EXACTLY on at
      least one segment, so each record emits 3 (segment-index,
      value) keys; (b) balance bands: bucket = floor(cents/10000),
      and |Δbal| < 10000 implies |Δbucket| <= 1, so the prober side
      emits buckets {b-1, b, b+1} (the ext_range_join banding
      argument). The candidate join key is (nation, segment, value,
      bucket) — an equi-join, never a theta join; completeness of
      both factors is property-tested. Block population is
      |R| / (nations·segvals·buckets) — the quadratic-in-block pair
      term is the documented blocking skew class, and production
      grows band granularity with the corpus (the adaptive-planes
      precedent) or df-caps viral blocks (the x2_ngram_jaccard_capped
      precedent).
    - MATCH: exact predicate on the candidates only — JVM-side
      ``F.levenshtein`` (both engines implement standard Levenshtein;
      at threshold 2 on equal-length names every edit is a
      substitution, so the distance is position-mismatch count —
      engine-unambiguous) plus the integer-cents proximity; DISTINCT
      pairs because a pair can meet on up to 3 segments × 2 bands.
    - CLUSTER: the ladder's shared ``star_components`` connected
      components (logarithmic rounds, one limit-1 fixpoint probe per
      round), then one component-keyed count/sum aggregate — the
      golden-record merge step.

    Determinism: all keys and aggregates are integers; balance cents
    are exact (2-decimal doubles × 100 round tie-free). Oracle: the
    same match predicate as a recursive-CTE components fixpoint —
    the |R|²-per-nation scan is oracle-side only.

    Reference scope: no ER ops in the reference; §2.10 extension
    tier (the structured-record face of the dedup family)."""
    return _rl_link(_rl_records(spark, sf_dir))


def _rl_collapse(rec: DataFrame) -> DataFrame:
    """Stage 0 (COLLAPSE) alone: records with identical match
    attributes fold to one representative row (min custkey, member
    count, key sum). min/count/sum are all MERGEABLE, which is why
    this exact frame doubles as the streaming twin's state registry
    (streaming/jobs.streaming_record_registry)."""
    return rec.groupBy("c_name", "c_nationkey", "bal_cents", "bucket").agg(
        F.min("c_custkey").alias("rep_key"),
        F.count(F.lit(1)).alias("n_dup"),
        F.sum("c_custkey").alias("sum_keys"),
    )


def _rl_link(rec: DataFrame) -> DataFrame:
    """The x2_record_linkage core over a prepared record frame
    (c_custkey, c_name, c_nationkey, bal_cents, bucket) — factored so
    the exact-duplicate COLLAPSE stage is unit-testable on synthetic
    frames that actually contain identical records (the driver SFs'
    customer names are unique, so parity alone exercises the collapse
    only trivially)."""
    return _rl_link_groups(_rl_collapse(rec))


def _rl_link_groups(grp: DataFrame) -> DataFrame:
    """BLOCK -> MATCH -> CLUSTER over an already-collapsed
    representative frame (c_name, c_nationkey, bal_cents, bucket,
    rep_key, n_dup, sum_keys) — shared verbatim by the batch rung and
    the streaming twin's drained registry (the strongest stream-batch
    parity statement: identical code after the state read)."""
    segs = F.array(
        *[F.substring("c_name", 10 + 3 * i, 3) for i in range(3)]
    )
    keyed = grp.select(
        "rep_key",
        "c_name",
        "c_nationkey",
        "bal_cents",
        "bucket",
        F.posexplode(segs).alias("seg", "val"),
    )
    members = keyed.select(
        "c_nationkey", "seg", "val", "bucket",
        F.col("rep_key").alias("kb"),
        F.col("c_name").alias("name_b"),
        F.col("bal_cents").alias("bal_b"),
    )
    probers = keyed.select(
        "c_nationkey", "seg", "val",
        F.explode(
            F.array(
                F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1
            )
        ).alias("bucket"),
        F.col("rep_key").alias("ka"),
        F.col("c_name").alias("name_a"),
        F.col("bal_cents").alias("bal_a"),
    )
    pairs = (
        probers.join(members, ["c_nationkey", "seg", "val", "bucket"])
        .filter(F.col("ka") < F.col("kb"))
        .filter(
            (F.abs(F.col("bal_a") - F.col("bal_b")) < RL_BAL_CENTS)
            & (F.levenshtein("name_a", "name_b") <= RL_NAME_EDIT)
        )
        .select(F.col("ka").alias("doc_a"), F.col("kb").alias("doc_b"))
        .distinct()
    )
    nodes = grp.select(F.col("rep_key").alias("doc_id"))
    comp = star_components(nodes, pairs)[0]
    return (
        comp.join(grp, comp["doc_id"] == grp["rep_key"])
        .groupBy(F.col("component").alias("entity_id"))
        .agg(
            F.sum("n_dup").alias("n_records"),
            F.sum("sum_keys").alias("sum_custkey"),
        )
        .filter(F.col("n_records") >= 2)
    )
