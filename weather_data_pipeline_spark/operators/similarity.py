"""X3 — similarity search over the ``embeddings`` table (SURVEY.md §2.10).

Nearest-neighbor surface for an ``array<float>`` column: exact scans
(cosine, inner product, range, k-NN vote), LSH buckets, the IVF family
(label / k-means quantizer, nprobe, PQ codes and ADC, IVF-PQ, two-stage
re-rank), binary codes, NSW/HNSW graph search, and the curation rungs
built on them (SemDeDup keep, outliers, cluster balance).

Every rung is composed from one copy of each shared piece:

- ``_seq_dot`` / ``_seq_cross`` / ``_seq_sq``: the sequential
  left-to-right dimension fold (per row / per block / self), bit-equal
  to DuckDB's ``list_dot_product`` and Spark's ``aggregate``;
- ``_query_block``: the bounded driver collect of the ``N_QUERIES``
  query vectors;
- ``_corpus_broadcast``: the exact broadcast rungs' (all-pairs near-dup,
  NSW graph build) bounded corpus collect, refusing past
  ``MAX_BROADCAST_VECTORS``;
- ``_exact_scan``: the one-pass exact query-scan kernel (cosine or
  inner product, optional carried columns);
- ``_topk``: the per-query top-K window;
- ``ivf_quantizer``: the IVF quantizer build — cached projection, count,
  centroid collect, Lloyd iterations, broadcast, corpus assignment;
- ``_probe_rows``: the query-side probe of the ``nprobe`` nearest lists;
- ``_pq_d2``: the PQ distance build, shared by code assignment and the
  ADC query tables;
- oracle side: ``_duck_topk``, ``_duck_cents_ctes``,
  ``_duck_assign_cte``, ``_duck_ivf_topk`` and ``_duck_pq_d2``, each the
  SQL twin of one of the above.

All cosines are computed in double with the same fold order both engines
use (sequential left-to-right), and compared at 6 decimals; rankings
order by the rounded value + vec_id tiebreak so top-k sets are
engine-stable.

At 100 TB: the corpus side stays partitioned (only the two
ceiling-guarded exact rungs collect it); queries, hyperplanes and
centroids broadcast; candidate generation is a hash join on bucket ids.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..session import fan_out
from ..sources.testdata import load_table

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5

# Hard ceiling for any driver-side corpus materialization. 2e5 vectors
# × 64 dims × 8 B ≈ 100 MB — comfortably broadcastable; beyond it the
# exact all-pairs rung must not run at all (use the LSH rung instead).
MAX_BROADCAST_VECTORS = 200_000


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double dot product (matches DuckDB's
    list_dot_product fold order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    a = a.cast("array<double>")
    b = b.cast("array<double>")
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


_DUCK_COS = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)

#: the exact all-pairs source of the oracles: query block ``q`` × corpus ``c``
_DUCK_EXACT = (
    f"(SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q"
    " CROSS JOIN embeddings c WHERE q.vec_id <> c.vec_id"
)


def _duck_topk(
    src: str,
    cos: str = _DUCK_COS.format(a="q.embedding", b="c.embedding"),
    k: int = TOP_K,
) -> str:
    """SQL twin of ``_topk`` over cosine: per query row ``q`` of ``src``,
    its top-``k`` rows ``c`` by (rounded ``cos`` DESC, vec_id), as
    (query_id, vec_id, sim, rn)."""
    return f"""SELECT query_id, vec_id, sim, rn FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             ROUND({cos}, 6) AS sim,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND({cos}, 6) DESC, c.vec_id) AS rn
      FROM {src}
    ) WHERE rn <= {k}"""


def _seq_dot(mat: "np.ndarray", vec: "np.ndarray") -> "np.ndarray":
    """Dot products of every row of ``mat`` with ``vec``, accumulated
    SEQUENTIALLY over dimensions (vectorized across rows): bit-identical
    to a left-to-right scalar fold, i.e. to DuckDB's list_dot_product and
    Spark's aggregate() — BLAS matmul would use pairwise/SIMD summation
    and drift in the low bits."""
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for k in range(mat.shape[1]):
        acc += mat[:, k] * vec[k]
    return acc


def _seq_cross(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
    """``acc[i, j] = a[i]·b[j]`` for a whole (rows × rows) block, with
    ``_seq_dot``'s sequential fold over dimensions. Per-row kernels
    keep ``_seq_dot``: the block form's 64 (batch × corpus)
    temporaries are memory-bound where a per-row scan stays in cache
    (the NSW edge build measured 2× slower in block form)."""
    acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
    for k in range(a.shape[1]):
        acc += np.outer(a[:, k], b[:, k])
    return acc


def _seq_sq(mat: "np.ndarray") -> "np.ndarray":
    """x·x per row with the same sequential fold."""
    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for k in range(mat.shape[1]):
        acc += mat[:, k] * mat[:, k]
    return acc


def _seq_self_norms(mat: "np.ndarray") -> "np.ndarray":
    """sqrt(x·x) per row with the same sequential fold."""
    return np.sqrt(_seq_sq(mat))


def _vectors(df: DataFrame, *extra: str) -> DataFrame:
    """``(vec_id, embedding as array<double>, *extra)`` — the projection
    every kernel and the quantizer read."""
    return df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), *extra
    )


def _corpus_broadcast(spark: SparkSession, vectors: DataFrame, refusal: str):
    """The whole ``(vec_id, embedding)`` corpus on the driver and in one
    broadcast ``(ids, matrix, norms)``, for the exact broadcast rungs.
    At most ``MAX_BROADCAST_VECTORS + 1`` rows are collected; past the
    ceiling the rung raises ``ValueError(refusal)``, which names the
    scale rung to use instead. Returns ``(ids, matrix, broadcast)``."""
    rows = vectors.limit(MAX_BROADCAST_VECTORS + 1).collect()
    if len(rows) > MAX_BROADCAST_VECTORS:
        raise ValueError(
            f"corpus exceeds MAX_BROADCAST_VECTORS={MAX_BROADCAST_VECTORS}: "
            + refusal
        )
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, mat, spark.sparkContext.broadcast((ids, mat, _seq_self_norms(mat)))


def _query_block(df: DataFrame, *extra: str):
    """The ``N_QUERIES`` query vectors (``vec_id < N_QUERIES``) of
    ``df``, collected to the driver — bounded by construction. Returns
    ``(ids, matrix, rows)``; ``rows`` also carry the ``extra`` columns."""
    rows = _vectors(df, *extra).filter(F.col("vec_id") < N_QUERIES).collect()
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return [r[0] for r in rows], mat, rows


def _topk(
    df: DataFrame,
    order: list,
    cols,
    k: int = TOP_K,
    rank: str = "rn",
    by: str = "query_id",
) -> DataFrame:
    """Per-query (per-``by``) top-``k`` under the total order ``order``:
    ``row_number`` over ``partitionBy(by)`` — never a global sort; Spark
    turns the ``rank <= k`` filter into a WindowGroupLimit — projected
    to ``cols``."""
    w = Window.partitionBy(by).orderBy(*order)
    return (
        df.withColumn(rank, F.row_number().over(w))
        .filter(F.col(rank) <= k)
        .select(*cols)
    )


def _exact_scan(
    emb: DataFrame, q_ids, q_mat, dot: bool = False, carry: tuple = ()
) -> DataFrame:
    """Every (query, corpus vector) pair scored exactly in ONE corpus
    pass: an Arrow-batched ``mapInPandas`` kernel closes over the query
    matrix and folds each batch with ``_seq_dot`` (bit-identical to the
    oracle's list_dot_product). Scores are the rounded cosine ``sim``,
    or with ``dot`` the rounded inner product ``score``; ``carry`` int
    columns ride along. Self pairs are kept; rankers filter them."""
    import pandas as pd

    score = "score" if dot else "sim"
    q_norms = None if dot else _seq_self_norms(q_mat)

    def sims(batches):
        for pdf in batches:
            c_mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            c_norms = None if dot else _seq_self_norms(c_mat)
            out = []
            for qi, qid in enumerate(q_ids):
                s = _seq_dot(c_mat, q_mat[qi])
                if not dot:
                    s = s / (q_norms[qi] * c_norms)
                cols = {"query_id": qid, "vec_id": pdf["vec_id"].to_numpy()}
                cols.update((c, pdf[c].to_numpy()) for c in carry)
                cols[score] = np.round(s, 6)
                out.append(pd.DataFrame(cols))
            if out:  # a corpus may hold no query vectors
                yield pd.concat(out, ignore_index=True)

    carried = "".join(f"{c} int, " for c in carry)
    return _vectors(emb, *carry).mapInPandas(
        sims, schema=f"query_id long, vec_id long, {carried}{score} double"
    )


@query(
    "x3_cosine_topk",
    oracle=f"SELECT query_id, vec_id, sim FROM ({_duck_topk(_DUCK_EXACT)})",
)
def x3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: query vectors broadcast (driver-collected
    — bounded at N_QUERIES by construction), corpus scanned once and
    never shuffled; sims computed per Arrow batch in numpy via
    ``mapInPandas`` (~4× over the interpreted aggregate/zip_with HOF,
    which stays as the ``cosine()`` helper for column-level use). The
    final window partitions by query (|queries| tiny partitions) — never
    a global sort."""
    emb = load_table(spark, sf_dir, "embeddings")
    q_ids, q_mat, _ = _query_block(emb)
    return _topk(
        _exact_scan(emb, q_ids, q_mat).filter(
            F.col("vec_id") != F.col("query_id")
        ),
        [F.col("sim").desc(), F.col("vec_id")],
        ("query_id", "vec_id", "sim"),
    )


@query(
    "x3_embedding_near_dup",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_DUCK_COS.format(a='a.embedding', b='b.embedding')}, 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND({_DUCK_COS.format(a='a.embedding', b='b.embedding')}, 6) >= 0.3
    """,
)
def x3_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine ≥ 0.3 — embedding-based near-dup detection.

    Exact all-pairs is inherently O(N²) in comparisons; what's avoidable
    is paying that in *interpreted* comparisons. The corpus matrix is
    broadcast (sc.broadcast, one copy per executor) and each Arrow batch
    computes its block of the similarity matrix in numpy with the
    sequential dimension fold (bit-identical to the SQL oracle), then
    emits only the surviving (a < b, sim ≥ τ) pairs — ~50× over the
    nested-loop join with a per-pair HOF at sf0.1. Past ~10⁵ vectors the
    right move is pruning, not a faster constant: x3_lsh_candidate_pairs
    is the same semantics behind signature buckets — and the driver
    collect below is HARD-GATED on corpus size so this rung can never be
    pointed at a 100 TB table by accident (it fails fast with the LSH
    rung named, instead of OOMing the driver)."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    _, _, bc = _corpus_broadcast(
        spark,
        _vectors(emb),
        "x3_embedding_near_dup is the exact all-pairs rung; use "
        "x3_lsh_candidate_pairs (bucket-pruned, sub-quadratic) at this scale",
    )

    def block_sims(batches):
        c_ids, c_mat, c_norms = bc.value
        for pdf in batches:
            b_ids = pdf["vec_id"].to_numpy()
            b_mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            b_norms = _seq_self_norms(b_mat)
            sim = np.round(_seq_cross(b_mat, c_mat) / np.outer(b_norms, c_norms), 6)
            ai, bj = np.nonzero((sim >= 0.3) & (b_ids[:, None] < c_ids[None, :]))
            yield pd.DataFrame(
                {"vec_a": b_ids[ai], "vec_b": c_ids[bj], "sim": sim[ai, bj]}
            )

    return fan_out(_vectors(emb)).mapInPandas(
        block_sims, schema="vec_a long, vec_b long, sim double"
    )


# ----------------------------------------------------------------------
# Random-hyperplane LSH (deterministic planes, shared with the oracle)
# ----------------------------------------------------------------------
N_PLANES = 8
DIM = 64
#: one rng draw covers every geometry: standard_normal fills row-major,
#: so _PLANES_ALL[:k] is bit-identical for any k — the 8-plane prefix
#: IS the historical _PLANES, and the adaptive NSW build's extra
#: planes extend the same deterministic family
MAX_PLANES = 24
_PLANES_ALL = (
    np.random.default_rng(42).standard_normal((MAX_PLANES, DIM)).round(6)
)
_PLANES = _PLANES_ALL[:N_PLANES]


def _bucket_spark(e: Column, n_planes: int = N_PLANES) -> Column:
    bits = [
        F.when(_dot(e.cast("array<double>"), F.array(*[F.lit(float(v)) for v in p])) > 0, 1 << i)
        .otherwise(0)
        for i, p in enumerate(_PLANES_ALL[:n_planes])
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _bucket_sql(col: str) -> str:
    terms = []
    for i, p in enumerate(_PLANES):
        lit = "[" + ", ".join(repr(float(v)) for v in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(CAST({col} AS DOUBLE[]), {lit}) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


@query(
    "x3_lsh_buckets",
    oracle=f"""
    SELECT {_bucket_sql('embedding')} AS bucket,
           COUNT(*) AS n_vectors,
           MIN(vec_id) AS min_vec_id
    FROM embeddings GROUP BY 1
    """,
)
def x3_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane signature buckets (SimHash-for-vectors). Planes
    are deterministic (seed 42) literals, broadcast into codegen — at
    100 TB this is a single narrow scan producing an 8-bit key."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.groupBy(_bucket_spark(F.col("embedding")).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("vec_id").alias("min_vec_id"),
    )


@query(
    "x3_lsh_candidate_pairs",
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
           ROUND({_DUCK_COS.format(a='a.embedding', b='b.embedding')}, 6) AS sim
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ROUND({_DUCK_COS.format(a='a.embedding', b='b.embedding')}, 6) >= 0.25
    """,
)
def x3_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH near-dup path: equi-join on bucket (hash join on an int key,
    ~|pairs·2^-planes| of the cross join), exact cosine only on candidates."""
    emb = load_table(spark, sf_dir, "embeddings")
    sig = emb.withColumn("bucket", _bucket_spark(F.col("embedding")))
    a = sig.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("bucket"),
    )
    b = sig.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("bucket").alias("bucket_b"),
    )
    sim = F.round(cosine(F.col("ea"), F.col("eb")), 6)
    return (
        a.join(b, (F.col("bucket") == F.col("bucket_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", "bucket", sim.alias("sim"))
        .filter(F.col("sim") >= 0.25)
    )


# ----------------------------------------------------------------------
# Per-label centroids via applyInPandas (the IVF coarse-quantizer step)
# ----------------------------------------------------------------------
_CENTROID_SCHEMA = "label int, centroid array<double>"


def _fsum_cols(mat):
    """Per-column EXACTLY-ROUNDED sums (``math.fsum``): the result is the
    true real-number sum rounded once, so it does not depend on row
    order or on how numpy would have chunked a pairwise sum. This is what
    lets the map-side-combine centroid path (partial sums per partition,
    then a combine) agree with the one-shot full-group mean at comparison
    precision regardless of partitioning: each partial is
    correctly rounded, the combine is correctly rounded over partials, so
    the two paths differ by < #partitions ulps ≈ 1e-10 relative — ~9
    orders of magnitude below the 6-decimal output rounding."""
    import math

    return [math.fsum(col) for col in mat.T]


def _centroid_of_group(pdf):
    import numpy as np
    import pandas as pd

    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    sums = np.array(_fsum_cols(mat))
    return pd.DataFrame(
        {
            "label": [int(pdf["label"].iloc[0])],
            "centroid": [(np.floor(sums / mat.shape[0] * 1e6) / 1e6).tolist()],
        }
    )


def _duck_cents_ctes(
    sfx: str = "",
    src: str = "embeddings",
    key: str = "label",
    dims: str = "1, len(embedding)",
) -> str:
    """``flat{sfx}`` + ``cents{sfx}``: per-``key`` mean centroids over
    ``src`` (dimensions ``dims``), floor-truncated to 6 decimals per
    coordinate — the SQL twin of ``build_centroids``."""
    return f"""flat{sfx} AS (
      SELECT {key} AS label, i AS idx, CAST(embedding[i] AS DOUBLE) AS val
      FROM {src}, UNNEST(generate_series({dims})) AS t(i)
    ), cents{sfx} AS (
      SELECT label, array_agg(a ORDER BY idx) AS centroid
      FROM (SELECT label, idx, FLOOR(AVG(val) * 1000000) / 1000000.0 AS a
            FROM flat{sfx} GROUP BY label, idx)
      GROUP BY label
    )"""


@query(
    "x3_label_centroids",
    oracle=f"""
    WITH {_duck_cents_ctes()}
    SELECT label, idx, FLOOR(AVG(val) * 1000000) / 1000000.0 AS val
    FROM flat GROUP BY label, idx
    """,
)
def x3_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid via Arrow-batched ``applyInPandas`` —
    the coarse-quantizer (IVF) build step: one numpy mean per group, one
    shuffle on the group key. At 100 TB the same shape computes k-means
    iterations (assign = argmin over broadcast centroids, update = this).

    Output is the scalar LONG FORM ``(label, idx, val)`` — one row per
    centroid dimension, 1-based ``idx`` — not ``array<double>``: the
    driver's canonicalizer sorts/hashes raw column values and cannot
    order numpy arrays (it crashes on them).
    Array/struct/map never cross a registered query's output boundary
    (enforced in tests/oracle_harness.py on both engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.select(
        "label", F.col("embedding").cast("array<double>").alias("embedding")
    ).groupBy("label").applyInPandas(_centroid_of_group, schema=_CENTROID_SCHEMA)
    return cents.select(
        "label", F.posexplode("centroid").alias("pos", "val")
    ).select(
        "label", (F.col("pos") + 1).cast("bigint").alias("idx"), F.col("val").alias("val")
    )


# ----------------------------------------------------------------------
# IVF approximate top-k (coarse quantize → probe one list)
# ----------------------------------------------------------------------
def _duck_assign_cte(
    name: str, cents: str, nprobe: int = 1, queries: bool = False
) -> str:
    """Nearest-centroid assignment CTE (argmax with the same rounded
    cosine + lowest-label tiebreak as the Arrow kernel); with ``queries``
    the query probe instead: the query vectors' ``nprobe`` nearest lists."""
    cos = _DUCK_COS.format(a="e.embedding", b="c.centroid")
    where = f" WHERE e.vec_id < {N_QUERIES}" if queries else ""
    return f"""{name} AS (
      SELECT vec_id, embedding, label AS bucket FROM (
        SELECT e.vec_id, e.embedding, c.label,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY ROUND({cos}, 6) DESC, c.label) AS rn
        FROM embeddings e CROSS JOIN {cents} c{where}
      ) WHERE rn <= {nprobe}
    )"""


_DUCK_CENTROIDS = f"""
    {_duck_cents_ctes()}, {_duck_assign_cte("assigned", "cents")}
"""


def _duck_ivf_topk(
    q: str = f"(SELECT * FROM assigned WHERE vec_id < {N_QUERIES})", **kw
) -> str:
    """Per-query top-k over the probed lists: query rows ``q`` (one row
    per probed ``bucket``) against the same-bucket corpus rows of
    ``assigned`` (``kw`` as ``_duck_topk``)."""
    return _duck_topk(
        f"{q} q JOIN assigned c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id",
        **kw,
    )


@query(
    "x3_ivf_topk",
    oracle=f"""
    WITH {_DUCK_CENTROIDS}
    SELECT query_id, vec_id, sim FROM ({_duck_ivf_topk()})
    """,
)
def x3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: per-label centroids are the coarse
    quantizer; every vector is assigned to its nearest centroid by an
    argmax over the broadcast centroid matrix INSIDE ``mapInPandas`` —
    the corpus is scanned once and never shuffled or replicated for
    assignment (k centroids ≪ corpus, so collecting them is bounded by
    the quantizer size, not the data size). A query probes only its own
    list (nprobe=1), so the exact cosine runs against |corpus|/k vectors
    instead of the full corpus.

    This is the composition of x3_label_centroids (quantizer build) and a
    bucket-equi-join probe — the same plan shape at 100 TB, with k-means
    iterations refining the centroids. Deterministic end-to-end (rounded
    centroids + fold-order-stable cosines), hence fully oracle-checked —
    approximate in RECALL, not in arithmetic."""
    return ivf_topk(spark, sf_dir, nprobe=1)


#: Corpus-size threshold for the map-side-combine centroid build. The
#: isolated A/B (tools/ivf_ab.py, BENCH_IVF_AB.json) measured the
#: partial-agg form ~1.5x SLOWER than a plain groupBy+applyInPandas mean
#: at 2k AND 20k vectors: its extra Arrow stage (~0.2 s fixed) dominates
#: while the avoided shuffle is only megabytes. The shuffle it avoids
#: grows linearly with the corpus (~0.5 GB/iteration at 1M x 64-dim
#: doubles) while the stage cost stays fixed, so above this row count the
#: combine form wins and below it the simple form does. Both are
#: exact-equal (fsum paths, test-pinned) — the switch is purely physical.
CENTROID_PARTIAL_AGG_MIN_ROWS = 1_000_000


def build_centroids(df: DataFrame, key_col: str, n_rows: int) -> DataFrame:
    """Per-key centroid build with an adaptive physical strategy (the AQE
    move, made explicit): small corpora take one groupBy+applyInPandas
    mean; large corpora take the map-side-combine form whose shuffle is
    bounded by k x partitions rows instead of the corpus."""
    if n_rows >= CENTROID_PARTIAL_AGG_MIN_ROWS:
        return centroids_partial_agg(df, key_col)
    return (
        df.select(
            F.col(key_col).alias("label"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        .groupBy("label")
        .applyInPandas(_centroid_of_group, schema=_CENTROID_SCHEMA)
    )


def centroids_partial_agg(df: DataFrame, key_col: str) -> DataFrame:
    """Per-key vector means with MAP-SIDE COMBINE: a ``mapInPandas`` pass
    emits one (key, partial_sum, n) row per key per partition, so the
    shuffle carries ≤ k·partitions rows instead of the corpus — the
    vector analog of a partial aggregation, and the shape a 100 TB
    k-means update step needs (a plain groupBy+applyInPandas mean would
    re-shuffle every corpus row each iteration). The tiny final combine
    sums partials per key and divides once."""
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            keys = pdf[key_col].to_numpy()
            out_k, out_s, out_n = [], [], []
            for k in np.unique(keys):
                m = keys == k
                out_k.append(int(k))
                out_s.append(_fsum_cols(mat[m]))  # exactly-rounded partials
                out_n.append(int(m.sum()))
            yield pd.DataFrame({"label": out_k, "psum": out_s, "n": out_n})

    def combine(pdf):
        pm = np.stack(pdf["psum"].to_numpy()).astype(np.float64)
        tot = np.array(_fsum_cols(pm))  # order-insensitive combine
        n = int(pdf["n"].sum())
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "centroid": [(np.floor(tot / n * 1e6) / 1e6).tolist()],
            }
        )

    return (
        df.select(
            F.col(key_col).alias(key_col),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        .mapInPandas(partials, schema="label long, psum array<double>, n long")
        .groupBy("label")
        .applyInPandas(combine, schema=_CENTROID_SCHEMA)
    )


def _assign_fn(bc):
    """mapInPandas kernel factory: nearest-centroid assignment by argmax
    over the broadcast (labels, matrix, norms) triple — the corpus scans
    once, never shuffles or replicates for assignment."""

    def assign(batches):
        import pandas as pd

        labels, cm, cn = bc.value
        for pdf in batches:
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            norms = _seq_self_norms(mat)
            sims = np.round(_seq_cross(mat, cm) / np.outer(norms, cn), 6)
            best = np.argmax(sims, axis=1)  # ties → first = lowest label
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "bucket": labels[best],
                }
            )

    return assign


_ASSIGNED_SCHEMA = "vec_id long, embedding array<double>, bucket long"


def ivf_quantizer(base: DataFrame, kmeans_iters: int = 0):
    """The IVF coarse quantizer over ``base`` (vec_id, embedding
    array<double>, label), built once for every consumer: label-centroid
    init (``build_centroids``, collected k-bounded), ``kmeans_iters``
    Lloyd iterations (assign = broadcast argmax in ``mapInPandas``,
    update = ``build_centroids`` over the assignment — the build loop a
    100 TB IVF index uses, where only k centroid rows reach the driver),
    then the nearest-centroid assignment of every vector.

    Returns ``(quant, bc, assigned)``: the label-sorted ``(labels,
    matrix, norms)`` triple (argmax first-hit = lowest label), its
    broadcast, and the lazy (vec_id, embedding, bucket) assignment.

    With Lloyd iterations the projection is cached for the build (each
    iteration would otherwise rescan the source; ``.cache()`` is
    MEMORY_AND_DISK, so at 100 TB partitions spill rather than OOM) and
    released before return, so a session touching several corpora never
    pins one per corpus; later consumers re-derive it in one scan.
    Without iterations the build reads the projection once (the count
    reads only file metadata), so a cache would only add its
    materialization job."""
    sc = base.sparkSession.sparkContext

    def collect_centroids(df, key_col):
        rows = build_centroids(df, key_col, n_corpus).collect()
        rows.sort(key=lambda r: r["label"])
        labels = np.array([r["label"] for r in rows], dtype=np.int64)
        mat = np.array([r["centroid"] for r in rows], dtype=np.float64)
        return labels, mat, _seq_self_norms(mat)

    if kmeans_iters:
        base = base.cache()
    try:
        n_corpus = base.count()
        quant = collect_centroids(base, "label")
        corpus = base.select("vec_id", "embedding")
        for _ in range(kmeans_iters):
            step = corpus.mapInPandas(
                _assign_fn(sc.broadcast(quant)), schema=_ASSIGNED_SCHEMA
            )
            quant = collect_centroids(step, "bucket")
    finally:
        if kmeans_iters:
            base.unpersist()
    bc = sc.broadcast(quant)
    return quant, bc, corpus.mapInPandas(_assign_fn(bc), schema=_ASSIGNED_SCHEMA)


def _probe_rows(q_ids, q_mat, quant, nprobe: int) -> list:
    """The query probe, on the driver (|queries| × k sims, bounded by
    construction): per query its ``nprobe`` nearest lists as
    ``(query_id, q_emb, q_bucket, probe_rank)`` rows, ranked by (rounded
    cosine DESC, label) — labels are pre-sorted, so a stable sort on
    -sim keeps the label tiebreak."""
    labels, c_mat, c_norms = quant
    q_sims = np.round(
        _seq_cross(q_mat, c_mat) / np.outer(_seq_self_norms(q_mat), c_norms), 6
    )
    return [
        (int(qid), q_mat[i].tolist(), int(labels[j]), rank)
        for i, qid in enumerate(q_ids)
        for rank, j in enumerate(
            np.argsort(-q_sims[i], kind="stable")[:nprobe], start=1
        )
    ]


def ivf_candidates(
    spark: SparkSession, sf_dir: str, nprobe: int = 1, kmeans_iters: int = 0
) -> DataFrame:
    """The IVF probe WITHOUT the final top-k window: every scored
    (query, corpus-vector) candidate from the query's ``nprobe`` nearest
    lists, carrying ``probe_rank`` (1-based rank of the list in the
    query's centroid-similarity order). ``ivf_topk(nprobe=p)`` ≡ top-k
    over ``ivf_candidates(nprobe=p)``; because lists probed at p are a
    prefix of those at p' > p, ``filter(probe_rank <= p)`` over the
    p'-candidate set is EXACTLY the p-candidate set — the property the
    nprobe tuning sweep uses to build every config from ONE corpus scan
    instead of one scan per config.

    Each query searches its ``nprobe`` nearest lists (exact cosine only
    within those). Raising nprobe trades probe cost for recall — the
    standard IVF knob; the measured recall ladder lives in
    ``tests/test_plans.py::test_ivf_recall_floor`` and README. Corpus
    assignment stays a single-bucket argmax (one scan, no shuffle); only
    the tiny query side fans out ×nprobe before the bucket equi-join, so
    probe cost scales with |queries|·nprobe·(corpus/k).

    ``kmeans_iters`` Lloyd iterations (``ivf_quantizer``) refine the
    label-centroid init into a geometry-aligned quantizer. Centroids
    floor-truncate to 6 decimals per iteration (FLOOR agrees across
    engines where round-half modes differ) so the whole refinement stays
    engine-portable (the oracle unrolls the same loop in SQL); a bucket
    that loses all members drops out on both engines."""
    base = _vectors(load_table(spark, sf_dir, "embeddings"), "label")
    quant, _, assigned = ivf_quantizer(base, kmeans_iters)
    q_ids, q_mat, _ = _query_block(base)
    q = F.broadcast(
        spark.createDataFrame(
            _probe_rows(q_ids, q_mat, quant, nprobe),
            schema="query_id long, q_emb array<double>, q_bucket long,"
            " probe_rank int",
        )
    )
    sim = F.round(cosine(F.col("q_emb"), F.col("embedding")), 6)
    return (
        assigned.join(
            q,
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select("query_id", "vec_id", sim.alias("sim"), "probe_rank")
    )


def ivf_topk(
    spark: SparkSession, sf_dir: str, nprobe: int = 1, kmeans_iters: int = 0
) -> DataFrame:
    """Top-``TOP_K`` per query over ``ivf_candidates`` — see there for
    the probe machinery."""
    return _topk(
        ivf_candidates(
            spark, sf_dir, nprobe=nprobe, kmeans_iters=kmeans_iters
        ).select("query_id", "vec_id", "sim"),
        [F.col("sim").desc(), F.col("vec_id")],
        ("query_id", "vec_id", "sim"),
    )


@query(
    "x3_ivf_topk_nprobe2",
    oracle=f"""
    WITH {_DUCK_CENTROIDS}, {_duck_assign_cte("qprobe", "cents", 2, queries=True)}
    SELECT query_id, vec_id, sim FROM ({_duck_ivf_topk("qprobe")})
    """,
)
def x3_ivf_topk_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe=2: each query additionally searches its runner-up
    list, recovering neighbors that fell just across a Voronoi boundary —
    the standard recall knob, exercised end-to-end and oracle-checked
    (each corpus vector lives in exactly one list, so probing two disjoint
    lists can never duplicate a candidate pair)."""
    return ivf_topk(spark, sf_dir, nprobe=2)


def _duck_kmeans_ctes(iters: int) -> str:
    """Unrolled Lloyd loop in SQL: label-centroid init, then per
    iteration an assignment CTE + a per-bucket rounded-mean update CTE;
    ends with the final ``assigned`` CTE the probe joins against."""
    parts = [_duck_cents_ctes("0")]
    for i in range(1, iters + 1):
        parts.append(_duck_assign_cte(f"ka{i}", f"cents{i - 1}"))
        parts.append(_duck_cents_ctes(str(i), src=f"ka{i}", key="bucket"))
    parts.append(_duck_assign_cte("assigned", f"cents{iters}"))
    return ",\n    ".join(parts)


_KMEANS_ITERS = 2


@query(
    "x3_ivf_kmeans_topk",
    oracle=f"""
    WITH {_duck_kmeans_ctes(_KMEANS_ITERS)}
    SELECT query_id, vec_id, sim FROM ({_duck_ivf_topk()})
    """,
)
def x3_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a REAL k-means quantizer: the label-centroid init is
    refined by 2 Lloyd iterations (assign = broadcast-argmax
    corpus scan, update = k-bounded per-bucket Arrow mean) before the
    probe. On this testdata the label init is geometry-weak; k-means
    realigns the lists with cosine geometry — measured recall@5 roughly
    2× the label quantizer at nprobe=1 (see README / test_ivf_recall_floor).
    Fully oracle-checked: the Lloyd loop unrolls to SQL CTEs, with
    centroids rounded per iteration so both engines walk the identical
    trajectory."""
    return ivf_topk(spark, sf_dir, nprobe=1, kmeans_iters=_KMEANS_ITERS)


# ----------------------------------------------------------------------
# int8 scalar quantization (the ANN memory-compression step)
# ----------------------------------------------------------------------
@query(
    "x3_quantize_int8",
    oracle="""
    WITH flat AS (
      SELECT vec_id, i AS idx, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ), scales AS (
      SELECT idx, MAX(ABS(v)) AS maxabs FROM flat GROUP BY idx
    )
    SELECT f.vec_id, f.idx,
           CAST(CASE WHEN s.maxabs = 0 THEN 0
                ELSE FLOOR(f.v * 127.0 / s.maxabs + 0.5) END AS INTEGER)
             AS code,
           ROUND(ABS(f.v - CASE WHEN s.maxabs = 0 THEN 0
                ELSE FLOOR(f.v * 127.0 / s.maxabs + 0.5) * s.maxabs / 127.0
                END), 6) AS recon_err
    FROM flat f JOIN scales s USING (idx)
    """,
)
def x3_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 scalar quantization of the embedding corpus —
    the memory-compression step an ANN index applies before sharding
    (4 bytes → 1 byte per dim; recall cost measured by ``recon_err``).
    Scales are per-dim max-abs over the corpus (one partial-aggregated
    shuffle on dim index, ≤ dims rows out), codes are
    ``floor(v·127/scale + 0.5)`` — floor, not round-half, because both
    engines floor identically while round-half modes differ — and the
    reconstruction error is reported at the output rounding. Long scalar
    form (vec_id, idx, code, recon_err), driver-portable.

    At 100 TB the scales aggregate is a metadata-sized broadcast and the
    encode pass is a narrow projection — the same shape as the IVF
    assignment scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    ).select("vec_id", (F.col("pos") + 1).cast("bigint").alias("idx"), "v")
    scales = flat.groupBy("idx").agg(F.max(F.abs("v")).alias("maxabs"))
    code = F.when(F.col("maxabs") == 0, F.lit(0.0)).otherwise(
        F.floor(F.col("v") * 127.0 / F.col("maxabs") + 0.5)
    )
    recon = F.when(F.col("maxabs") == 0, F.lit(0.0)).otherwise(
        code * F.col("maxabs") / 127.0
    )
    return flat.join(F.broadcast(scales), "idx").select(
        "vec_id",
        "idx",
        code.cast("int").alias("code"),
        F.round(F.abs(F.col("v") - recon), 6).alias("recon_err"),
    )


# ----------------------------------------------------------------------
# Product quantization (the ANN memory-compression rung past int8)
# ----------------------------------------------------------------------
#: PQ geometry: 64-dim vectors → PQ_M subspaces of PQ_SUB dims, one code
#: per subspace from the label-seeded codebook (the same quantizer-init
#: convention as the IVF rung; a Lloyd refinement would layer on exactly
#: like x3_ivf_kmeans_topk's). With k labels the code is M·log2(k) bits —
#: ~13 bits vs 2048 bits raw here, the 100 TB memory story.
PQ_M = 4
PQ_SUB = 16


def _duck_pq_d2(v: str, c: str, m: int) -> str:
    """SQL twin of ``_pq_d2`` for subspace ``m``: rounded squared L2
    between the ``m``-th subvector of ``v`` and centroid ``c`` via the
    dot identity."""
    sub = f"CAST({v}[{m * PQ_SUB + 1}:{(m + 1) * PQ_SUB}] AS DOUBLE[])"
    return (
        f"ROUND(list_dot_product({sub}, {sub})"
        f" - 2 * list_dot_product({sub}, {c})"
        f" + list_dot_product({c}, {c}), 6)"
    )


def _duck_pq_ctes() -> str:
    """Per-subspace codebook + assignment CTEs (floor-trunc centroids,
    rounded L2, lowest-label tiebreak — the repo's IVF assignment
    conventions, per subspace), then ``codes``: per vector its PQ_M
    codes ``c{m}`` and the summed subspace error."""
    parts = []
    for m in range(PQ_M):
        d2 = _duck_pq_d2("e.embedding", "c.centroid", m)
        parts.append(
            _duck_cents_ctes(str(m), dims=f"{m * PQ_SUB + 1}, {(m + 1) * PQ_SUB}")
            + f""", assign{m} AS (
      SELECT vec_id, code, err FROM (
        SELECT e.vec_id, c.label AS code, {d2} AS err,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id ORDER BY {d2}, c.label) AS rn
        FROM embeddings e CROSS JOIN cents{m} c
      ) WHERE rn = 1
    )"""
        )
    parts.append("""codes AS (
      SELECT a0.vec_id, a0.code AS c0, a1.code AS c1,
             a2.code AS c2, a3.code AS c3,
             a0.err + a1.err + a2.err + a3.err AS err
      FROM assign0 a0
      JOIN assign1 a1 USING (vec_id)
      JOIN assign2 a2 USING (vec_id)
      JOIN assign3 a3 USING (vec_id)
    )""")
    return ",\n    ".join(parts)


#: per query row ``q`` and coded vector ``x``: one ADC table entry per
#: subspace, the coded centroid joined in as ``k{m}``
_DUCK_ADC_JOINS = " ".join(
    f"JOIN cents{m} k{m} ON k{m}.label = x.c{m}" for m in range(PQ_M)
)
_DUCK_ADC_TERMS = [
    _duck_pq_d2("q.embedding", f"k{m}.centroid", m) for m in range(PQ_M)
]


def _pq_codebooks(spark: SparkSession, sf_dir: str):
    """(base projection, per-subspace codebooks): the label-seeded PQ
    codebook as [(labels_sorted, k×PQ_SUB matrix, sequential self-dots)]
    — one aggregation over the posexploded corpus (k·64 cells,
    floor-trunc 6), collected bounded (k = |labels|)."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = _vectors(emb, "label")
    cells = (
        base.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg((F.floor(F.avg("val") * 1e6) / 1e6).alias("a"))
        .collect()
    )
    by_label: dict[int, list[float]] = {}
    for r in cells:
        by_label.setdefault(int(r["label"]), [0.0] * (PQ_M * PQ_SUB))[
            int(r["pos"])
        ] = float(r["a"])
    labels = np.array(sorted(by_label), dtype=np.int64)
    full = np.array([by_label[int(lb)] for lb in labels])
    books = []
    for m in range(PQ_M):
        cm = full[:, m * PQ_SUB : (m + 1) * PQ_SUB]
        books.append((labels, cm, _seq_sq(cm)))
    return base, books


def _pq_d2(mat: "np.ndarray", books) -> list:
    """Per PQ subspace, the rounded squared L2 distance of every row of
    ``mat`` to every codeword, ``x·x − 2·x·c + c·c`` with sequential
    folds (the SQL oracle's arithmetic, term for term). The corpus-side
    code assignment (argmin per row) and the query-side ADC distance
    tables are both this one build."""
    out = []
    for m, (_, cm, cc) in enumerate(books):
        sub = mat[:, m * PQ_SUB : (m + 1) * PQ_SUB]
        out.append(
            np.round(_seq_sq(sub)[:, None] - 2 * _seq_cross(sub, cm) + cc[None, :], 6)
        )
    return out


def _pq_kernel(bc):
    """mapInPandas kernel: all PQ_M argmin assignments in ONE corpus
    pass against the broadcast codebook — sequential per-dim folds and
    rounded d2 so the arithmetic matches the SQL oracle exactly."""

    def run(batches):
        import pandas as pd

        books = bc.value  # [(labels_sorted, cmat k×PQ_SUB, cc k)] per m
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = mat.shape[0]
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            total_err = np.zeros(n)
            for m, d2 in enumerate(_pq_d2(mat, books)):
                pick = np.argmin(d2, axis=1)  # first min = lowest label
                out[f"code_{m}"] = books[m][0][pick]
                total_err = total_err + d2[np.arange(n), pick]
            # SUM of the four already-6-decimal subspace errors: a mean
            # (/64) lands exactly on .5-of-1e-6 ties where np (half-even)
            # and DuckDB (half-away) disagree; the sum stays ~4 ulp from
            # any 6-decimal boundary, so round-6 is unambiguous.
            out["recon_err"] = np.round(total_err, 6)
            yield pd.DataFrame(out)

    return run


@query(
    "x3_pq_codes",
    oracle=f"""
    WITH {_duck_pq_ctes()}
    SELECT vec_id, c0 AS code_0, c1 AS code_1, c2 AS code_2, c3 AS code_3,
           ROUND(err, 6) AS recon_err
    FROM codes
    """,
)
def x3_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each vector compressed to PQ_M subspace
    codes (nearest per-subspace centroid by L2) plus its reconstruction
    error — the ANN memory rung past int8 scalar quantization
    (x3_quantize_int8): at 100 TB the PQ codes (~2 bytes/vector here)
    live in RAM while raw vectors stay on disk, and ADC distance tables
    make candidate scoring a per-subspace lookup.

    Shape: codebook build is ONE aggregation over the posexploded
    corpus (k·64 cells, floor-trunc 6 — the repo's centroid
    convention), collected bounded (k ≤ labels) and broadcast; then ONE
    mapInPandas corpus pass computes all PQ_M argmin assignments — no
    join, no shuffle beyond the codebook groupBy, the same
    broadcast-argmax shape as the IVF assignment. Oracle: per-subspace
    CROSS JOIN argmin with identical rounded-L2 arithmetic (the dot
    identity, sequential folds)."""
    base, books = _pq_codebooks(spark, sf_dir)
    bc = spark.sparkContext.broadcast(books)
    schema = (
        "vec_id long, "
        + ", ".join(f"code_{m} long" for m in range(PQ_M))
        + ", recon_err double"
    )
    return base.select("vec_id", "embedding").mapInPandas(
        _pq_kernel(bc), schema=schema
    )


def _duck_pq_adc_sql() -> str:
    """ADC top-k oracle: corpus codes from the assignment CTEs, then each
    query's distance to a vector = sum of per-subspace distances to the
    CODED centroids (the distance-table semantics, spelled out in SQL)."""
    return f"""
    WITH {_duck_pq_ctes()},
    scored AS (
      SELECT q.vec_id AS query_id, x.vec_id,
             ROUND({" + ".join(_DUCK_ADC_TERMS)}, 6) AS ad2
      FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
      CROSS JOIN codes x
      {_DUCK_ADC_JOINS}
      WHERE x.vec_id <> q.vec_id
    )
    SELECT query_id, vec_id, ad2 FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY ad2, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """


def _pq_adc_kernel(bc, tabs, q_ids):
    """One corpus pass: assign each vector's PQ codes (argmin per
    subspace, as in _pq_kernel) and score every query against it by
    DISTANCE-TABLE LOOKUP — ad2 = Σ_m tabs[m][q][code_m]. The corpus
    vector is touched once; per-query work is PQ_M array lookups, not a
    64-dim distance — the ADC trick that makes PQ search memory- and
    compute-cheap at 100 TB."""

    def run(batches):
        import pandas as pd

        books = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n = mat.shape[0]
            picks = [np.argmin(d2, axis=1) for d2 in _pq_d2(mat, books)]
            out = []
            vec_ids = pdf["vec_id"].to_numpy()
            for qi, qid in enumerate(q_ids):
                ad2 = np.zeros(n)
                for m in range(PQ_M):
                    ad2 = ad2 + tabs[m][qi][picks[m]]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "vec_id": vec_ids,
                            "ad2": np.round(ad2, 6),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    return run


@query("x3_pq_adc_topk", oracle=_duck_pq_adc_sql())
def x3_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search via asymmetric distance computation (ADC): queries keep
    their RAW subvectors; the corpus is represented ONLY by its PQ codes,
    and each query precomputes a distance TABLE per subspace
    (|queries|·PQ_M·k rounded distances, driver-built — bounded by
    construction like the cosine_topk query collect). Scoring a corpus
    vector is then PQ_M table lookups + a sum — never a 64-dim distance:
    the standard IVF-PQ probe cost model. One mapInPandas corpus pass,
    one per-query top-k window; oracle replays codes + table semantics
    in SQL. Approximate in DISTANCE (quantization error), exact and
    engine-stable in arithmetic."""
    base, books = _pq_codebooks(spark, sf_dir)
    bc = spark.sparkContext.broadcast(books)
    q_ids, q_mat, _ = _query_block(base)
    scored = (
        base.select("vec_id", "embedding")
        .mapInPandas(
            _pq_adc_kernel(bc, _pq_d2(q_mat, books), q_ids),
            schema="query_id long, vec_id long, ad2 double",
        )
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    return _topk(scored, ["ad2", "vec_id"], ("query_id", "vec_id", "ad2"))


# ----------------------------------------------------------------------
# k-NN classification — label prediction by neighbor vote
# ----------------------------------------------------------------------
@query(
    "x3_knn_classify",
    oracle=f"""
    WITH topk AS (
      SELECT t.query_id, t.vec_id, e.label
      FROM ({_duck_topk(_DUCK_EXACT)}) t JOIN embeddings e ON e.vec_id = t.vec_id
    ), votes AS (
      SELECT query_id, label, COUNT(*) AS n_votes,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY COUNT(*) DESC, label) AS vr
      FROM topk GROUP BY query_id, label
    )
    SELECT v.query_id,
           v.label AS predicted_label,
           v.n_votes,
           t.label AS true_label,
           v.label = t.label AS correct
    FROM votes v
    JOIN embeddings t ON t.vec_id = v.query_id
    WHERE v.vr = 1
    """,
)
def x3_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification: predict each query vector's label by
    majority vote over its cosine top-k neighbors (ties broken toward
    the smaller label id — pinned identically in both engines), scored
    against the stored label. Reuses the brute-force top-k shape: the
    corpus is scanned once with labels riding along, never shuffled
    until the |queries|-partition vote window; the vote argmax is a
    ``max_by`` over (count, label) — one tiny aggregation. The ladder
    note on x3_cosine_topk applies: past the gate this runs over the
    IVF/PQ probe instead of the exact scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    q_ids, q_mat, qrows = _query_block(emb, "label")
    topk = _topk(
        _exact_scan(emb, q_ids, q_mat, carry=("label",)).filter(
            F.col("vec_id") != F.col("query_id")
        ),
        [F.col("sim").desc(), F.col("vec_id")],
        ("query_id", "label"),
    )
    votes = topk.groupBy("query_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    winner = votes.groupBy("query_id").agg(
        F.max_by(
            F.struct(F.col("label").alias("l"), F.col("n_votes").alias("n")),
            F.struct(F.col("n_votes"), (-F.col("label")).alias("neg")),
        ).alias("win")
    )
    truth = F.broadcast(
        spark.createDataFrame(
            [(r[0], r[2]) for r in qrows], "query_id long, true_label int"
        )
    )
    return winner.join(truth, "query_id").select(
        "query_id",
        F.col("win.l").alias("predicted_label"),
        F.col("win.n").alias("n_votes"),
        "true_label",
        (F.col("win.l") == F.col("true_label")).alias("correct"),
    )


# ----------------------------------------------------------------------
# IVF-PQ: the composed production ANN stack (coarse lists + ADC codes)
# ----------------------------------------------------------------------
def _duck_ivf_pq_sql() -> str:
    """Composed oracle: IVF bucket CTEs (unsuffixed) + PQ code CTEs
    (suffixed) coexist; queries probe their nearest list (nprobe=1) and
    score ONLY same-list vectors by ADC distance to the coded
    centroids, each subspace term decimal-quantized before the sum so
    the 4-term addition is order-independent."""
    dsum = " + ".join(
        f"CAST({adc_term} AS DECIMAL(18,6))" for adc_term in _DUCK_ADC_TERMS
    )
    return f"""
    WITH {_duck_pq_ctes()},
    {_DUCK_CENTROIDS},
    {_duck_assign_cte("qprobe", "cents", queries=True)},
    scored AS (
      SELECT q.vec_id AS query_id, x.vec_id, {dsum} AS dist
      FROM qprobe q
      JOIN assigned c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
      JOIN codes x ON x.vec_id = c.vec_id
      {_DUCK_ADC_JOINS}
    )
    SELECT query_id, vec_id, CAST(dist AS DOUBLE) AS ad2 FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY dist, vec_id) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    """


@query("x3_ivf_pq_topk", oracle=_duck_ivf_pq_sql())
def x3_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composed production ANN stack: the IVF coarse
    quantizer restricts each query to one inverted list (probe cost
    |corpus|/k), and within the list candidates are scored by ADC
    against their PQ codes — the memory layout where only ~2-byte
    codes live hot and raw vectors are never touched at query time.
    Here the ADC lookup is expressed RELATIONALLY: codes unpivot to
    (vec_id, m, code), the per-query distance tables land in a tiny
    broadcast table (|queries|·PQ_M·k rows), and scoring is a
    broadcast equi-join + one partial-aggregated sum of
    decimal-quantized subspace terms (order-independent — a plain
    4-double sum could flip a 6-decimal boundary under groupBy
    ordering) — i.e. the whole probe is JVM joins, no Python in the
    scoring path at all, and it inherits AQE sizing at 100 TB.
    Composes x3_ivf_topk's quantizer with x3_pq_codes' codebook
    verbatim; oracle replays both plus the table semantics."""
    base, books = _pq_codebooks(spark, sf_dir)
    quant, _, assigned = ivf_quantizer(base)
    # corpus codes, unpivoted to one row per (vector, subspace) — encoded
    # with the codebooks built above (x3_pq_codes' scoring pass, without
    # rebuilding its codebook)
    bc_books = spark.sparkContext.broadcast(books)
    codes_schema = (
        "vec_id long, "
        + ", ".join(f"code_{m} long" for m in range(PQ_M))
        + ", recon_err double"
    )
    codes = (
        base.select("vec_id", "embedding")
        .mapInPandas(_pq_kernel(bc_books), schema=codes_schema)
        .selectExpr(
            "vec_id",
            "stack(4, 0, code_0, 1, code_1, 2, code_2, 3, code_3)"
            " AS (m, code)",
        )
    )

    # query side: coarse probe + ADC distance tables, driver-built and
    # bounded (N_QUERIES × PQ_M × k rows)
    q_ids, q_mat, _ = _query_block(base)
    tabs = _pq_d2(q_mat, books)
    qdist = [
        (int(qid), m, int(lab), float(tabs[m][qi][li]))
        for qi, qid in enumerate(q_ids)
        for m in range(PQ_M)
        for li, lab in enumerate(books[m][0])
    ]
    qm = F.broadcast(
        spark.createDataFrame(
            [(r[0], r[2]) for r in _probe_rows(q_ids, q_mat, quant, 1)],
            "query_id long, q_bucket long",
        )
    )
    qd = F.broadcast(
        spark.createDataFrame(qdist, "query_id long, m int, code long, d double")
    )
    cands = assigned.select("vec_id", "bucket").join(
        qm,
        (F.col("bucket") == F.col("q_bucket"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select("query_id", "vec_id")
    scored = (
        cands.join(codes, "vec_id")
        .join(qd, ["query_id", "m", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum(F.col("d").cast("decimal(18,6)")).alias("dist"))
    )
    return _topk(
        scored,
        ["dist", "vec_id"],
        ("query_id", "vec_id", F.col("dist").cast("double").alias("ad2")),
    )


# ----------------------------------------------------------------------
# Recall@k evaluation as a first-class query (IVF vs exact)
# ----------------------------------------------------------------------
@query(
    "x3_ivf_recall_eval",
    oracle=f"""
    WITH {_DUCK_CENTROIDS},
    exact AS ({_duck_topk(_DUCK_EXACT)}),
    approx AS ({_duck_ivf_topk()})
    SELECT e.query_id,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
           CAST(COUNT(a.vec_id) AS DOUBLE) / {TOP_K} AS recall_at_k
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
)
def x3_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF probe against the exact scan, AS A QUERY —
    the evaluation harness every ANN deployment runs on every index
    rebuild, here a first-class driver-checked operator rather than
    test-only tooling (tools/ivf_ab.py): per query, how many of the
    true top-k the nprobe=1 probe recovered. Both rankings reuse the
    existing deterministic pipelines; the comparison is one
    (query_id, vec_id) equi-join of two k-row-per-query sets — the
    evaluation costs less than either search at any scale. The recall
    FLOOR is separately enforced by
    tests/test_plans.py::test_ivf_recall_floor."""
    return _overlap(
        x3_cosine_topk(spark, sf_dir), ivf_topk(spark, sf_dir, nprobe=1)
    ).select(
        "query_id",
        F.col("n_overlap").alias("n_hits"),
        (F.col("n_overlap").cast("double") / TOP_K).alias("recall_at_k"),
    )


# ----------------------------------------------------------------------
# Semantic dedup — embedding-cluster components with canonical keepers
# ----------------------------------------------------------------------
@query(
    "x2_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE ROUND({_DUCK_COS.format(a='a.embedding', b='b.embedding')}, 6)
            >= 0.3
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach(node, lab) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS vec_id, MIN(lab) AS cluster,
           CAST(node = MIN(lab) AS BOOLEAN) AS is_canonical
    FROM reach GROUP BY node
    """,
)
def x2_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: embedding-cosine near-dup
    PAIRS (the gated exact rung here; LSH buckets past the ceiling)
    feed the same ``star_components`` kernel as the text dedup
    ladder, yielding one canonical keeper per semantic CLUSTER —
    paraphrases and re-encodings that share no n-grams but sit together
    in embedding space. The cross-family composition is the point: the
    pair source swaps (jaccard grams ↔ cosine sims ↔ LSH candidates)
    while the component/keeper machinery is reused verbatim — at
    100 TB the component cost depends on the near-dup GRAPH (tiny),
    not the corpus."""
    from .dedup import star_components

    pairs = x3_embedding_near_dup(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    nodes = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id")
    )
    labels = star_components(nodes, pairs)[0]
    return labels.select(
        F.col("doc_id").alias("vec_id"),
        F.col("component").alias("cluster"),
        (F.col("doc_id") == F.col("component")).alias("is_canonical"),
    )


# ----------------------------------------------------------------------
# SemDeDup keep policy: within-cluster
# cosine ceiling, centroid-nearest survivor
# ----------------------------------------------------------------------
#: within-cluster cosine above which a pair is a semantic duplicate —
#: the SemDeDup epsilon (Abbas et al. 2023 sweep 0.94-0.96 on CLIP
#: embeddings; the synthetic table's intra-cluster sims sit far lower,
#: so the ceiling is placed where both keeps AND drops occur and the
#: decision boundary is exercised)
SEMDEDUP_COS_CEIL = 0.35

#: per-cluster row ceiling for the grouped decision kernel: the pair
#: matrix is |cluster|² doubles (20k → ~3.2 GB/task), and a cluster
#: past this size means the quantizer k is undersized for the corpus —
#: fail fast naming that lever instead of OOMing an executor
SEMDEDUP_MAX_CLUSTER = 20_000

def _semdedup_guard(n_rows: int) -> None:
    """Fail-fast shard guard for the grouped decision kernel (same
    discipline as the EMA/packing kernels): the pair matrix is
    |cluster|² doubles, so an oversized cluster must name the
    quantizer-k lever instead of OOMing an executor."""
    if n_rows > SEMDEDUP_MAX_CLUSTER:
        raise ValueError(
            f"x2_semdedup_keep: cluster of {n_rows} rows exceeds "
            f"SEMDEDUP_MAX_CLUSTER={SEMDEDUP_MAX_CLUSTER} (pair matrix "
            "is |cluster|^2 doubles); raise the quantizer k so "
            "clusters stay bounded — the SemDeDup lever"
        )


SEMDEDUP_DECIDE_SCHEMA = (
    "vec_id long, cluster long, c_sim double, is_kept boolean"
)


def _semdedup_decide_fn(bc):
    """applyInPandas kernel factory: the per-CLUSTER SemDeDup keep
    decision (module-level so the rung, the skew A/B tool, and the
    end-to-end guard test all drive the SAME kernel). ``bc`` is the
    broadcast quantizer triple ``(labels, matrix, norms)`` of
    ``ivf_quantizer`` (labels sorted). The first act is the |cluster|
    fail-fast guard — pair-matrix memory is |cluster|² doubles, and the
    guard must fire BEFORE any allocation."""

    def decide(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import pandas as pd

        _semdedup_guard(len(pdf))
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        bucket = int(pdf["bucket"].iloc[0])
        labels, cm, cn = bc.value
        j = int(np.searchsorted(labels, bucket))
        norms = _seq_self_norms(mat)
        # floor-truncate, never round: np.round is half-to-even while
        # DuckDB ROUND is half-away-from-zero, so an exact .xxxxxx5 sim
        # at the >= SEMDEDUP_COS_CEIL boundary (or a c_sim tie) could
        # flip a keep decision per engine
        c_sim = np.floor(_seq_dot(mat, cm[j]) / (norms * cn[j]) * 1_000_000) / 1e6
        sims = np.floor(_seq_cross(mat, mat) / np.outer(norms, norms) * 1_000_000) / 1e6
        dup = sims >= SEMDEDUP_COS_CEIL
        np.fill_diagonal(dup, False)
        # beats[u, v]: u is keep-preferred over v
        beats = (c_sim[:, None] > c_sim[None, :]) | (
            (c_sim[:, None] == c_sim[None, :])
            & (ids[:, None] < ids[None, :])
        )
        dropped = (dup & beats).any(axis=0)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": bucket,
                "c_sim": c_sim,
                "is_kept": ~dropped,
            }
        )

    return decide


_SEMDEDUP_DUCK_CSIM = _DUCK_COS.format(a="a.embedding", b="c.centroid")
_SEMDEDUP_DUCK_PAIR = _DUCK_COS.format(a="u.embedding", b="v.embedding")


@query(
    "x2_semdedup_keep",
    oracle=f"""
    WITH {_DUCK_CENTROIDS},
    csim AS (
      SELECT a.vec_id, a.bucket, a.embedding,
             FLOOR(({_SEMDEDUP_DUCK_CSIM}) * 1000000) / 1000000.0 AS c_sim
      FROM assigned a JOIN cents c ON c.label = a.bucket
    ), drops AS (
      SELECT DISTINCT v.vec_id
      FROM csim v JOIN csim u
        ON u.bucket = v.bucket AND u.vec_id <> v.vec_id
       AND FLOOR(({_SEMDEDUP_DUCK_PAIR}) * 1000000) / 1000000.0
             >= {SEMDEDUP_COS_CEIL}
       AND (u.c_sim > v.c_sim
            OR (u.c_sim = v.c_sim AND u.vec_id < v.vec_id))
    )
    SELECT c.vec_id, CAST(c.bucket AS BIGINT) AS cluster, c.c_sim,
           (d.vec_id IS NULL) AS is_kept
    FROM csim c LEFT JOIN drops d ON d.vec_id = c.vec_id
    """,
)
def x2_semdedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup KEEP decision (Abbas et al. 2023, public): the curation
    ladder's semantic-dedup POLICY rung — ``x2_semantic_dedup`` labels
    the clusters, ``x8_cluster_balance`` quotas them; this rung decides
    WHICH member of each semantic-duplicate group survives. Every
    vector is coarse-quantized to its nearest centroid (the IVF
    assignment, reused verbatim); within a cluster, any pair with
    cosine ≥ {SEMDEDUP_COS_CEIL} is a semantic duplicate, and the
    member NEARER the centroid wins (the most-representative-survivor
    variant; ties break on vec_id) — a vector is dropped iff some
    same-cluster vector above the ceiling beats it. The dominance rule
    is pairwise and order-free, so it is deterministic and replays
    exactly in SQL — unlike the paper's greedy sequential scan, whose
    keep set depends on visit order. Output carries the floor-truncated
    centroid-sim (the keep-priority score; _trunc6 convention so
    round-half modes can't flip a boundary decision across engines) so
    the row is a value check, not a bare boolean — same discipline as
    mm_pair_cosine_filter's rounded pair_cos.

    Scale shape: centroid build + collect is k-bounded
    (build_centroids — map-side combine past the measured crossover);
    assignment is ONE corpus scan through the broadcast-argmax Arrow
    kernel, never a shuffle; the decision is a per-CLUSTER grouped
    Arrow kernel (one (bucket) exchange — cross-cluster pairs cannot
    even form) whose pair matrix accumulates dim-by-dim in numpy with
    the SAME left-to-right fold as the SQL oracle (_seq_dot's
    documented equivalence), so pair work is Σ|cluster|² — bounded by
    the quantizer's balance, the SemDeDup design itself (k grows with
    the corpus keeping clusters ~constant). A bucket-equi self-JOIN of
    interpreted zip_with/aggregate cosines returns IDENTICAL rows and
    measured 6.3× slower at sf0.1 — the module's standing HOF-vs-Arrow
    rule. Kernel
    memory is |cluster|²·8 B, fail-fast guarded at
    SEMDEDUP_MAX_CLUSTER rows (past it, raise the quantizer k — the
    paper's own lever — rather than silently OOM)."""
    base = _vectors(load_table(spark, sf_dir, "embeddings"), "label")
    _, bc, assigned = ivf_quantizer(base)
    return assigned.groupBy("bucket").applyInPandas(
        _semdedup_decide_fn(bc), schema=SEMDEDUP_DECIDE_SCHEMA
    )


# ----------------------------------------------------------------------
# Maximum-inner-product search (MIPS) — the recommendation-scoring twin
# ----------------------------------------------------------------------
@query(
    "x3_mips_topk",
    oracle=f"""
    SELECT query_id, vec_id, score FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])), 6)
               AS score,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ROUND(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])), 6) DESC,
                        c.vec_id) AS rn
      FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
      CROSS JOIN embeddings c
      WHERE q.vec_id <> c.vec_id
    ) WHERE rn <= {TOP_K}
    """,
)
def x3_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-k — the recommendation/retrieval
    scoring objective (user·item affinity), DISTINCT from cosine: MIPS
    rewards magnitude, so a long vector can out-score a better-aligned
    short one, and the two rankings genuinely differ on unnormalized
    embeddings. Same execution shape as ``x3_cosine_topk`` (bounded
    query collect, one corpus scan through an Arrow kernel, per-query
    window — corpus never shuffles, plan-gate-identical); at index
    scale MIPS reduces to cosine via the standard norm-augmentation
    (append sqrt(maxnorm² − ‖x‖²) to each corpus vector, 0 to queries)
    and then rides the SAME LSH/IVF rungs this module already ships —
    which is why the exact rung here shares their gate ancestry rather
    than growing its own index."""
    emb = load_table(spark, sf_dir, "embeddings")
    q_ids, q_mat, _ = _query_block(emb)
    return _topk(
        _exact_scan(emb, q_ids, q_mat, dot=True).filter(
            F.col("vec_id") != F.col("query_id")
        ),
        [F.col("score").desc(), F.col("vec_id")],
        ("query_id", "vec_id", "score"),
    )


# ----------------------------------------------------------------------
# Range search: cosine-threshold neighborhoods per query
# ----------------------------------------------------------------------
#: cosine radius for the range search
RANGE_TAU = 0.25


@query(
    "x3_range_search",
    oracle=f"""
    WITH sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             ROUND({_DUCK_COS.format(a='q.embedding', b='c.embedding')}, 6)
               AS sim
      FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
      CROSS JOIN embeddings c
      WHERE q.vec_id <> c.vec_id
    ), hits AS (SELECT * FROM sims WHERE sim >= {RANGE_TAU})
    SELECT query_id,
           COUNT(*) AS n_within,
           CAST(FIRST(vec_id ORDER BY sim DESC, vec_id) AS BIGINT)
             AS best_vec_id,
           MAX(sim) AS best_sim
    FROM hits GROUP BY query_id
    """,
)
def x3_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search — 'everything within radius τ', the other
    retrieval primitive next to top-k (radius queries power dedup
    clustering, recommendation diversity floors and RAG retrieval with
    a similarity cutoff rather than a fixed k). Per query vector:
    neighborhood size, the best match id and its similarity.

    Execution: the same single-corpus-scan Arrow kernel as
    ``x3_cosine_topk`` (query matrix closed over, ``mapInPandas``,
    sequential dimension fold bit-identical to the oracle) with the
    threshold applied INSIDE the kernel, so only surviving hits leave
    the batch; the per-query rollup is a tiny |queries|-group
    aggregate. Cost is one corpus pass regardless of τ — never a pair
    materialization. Ties for the best match pin on (sim DESC,
    vec_id) via min_by over a struct on both engines."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    q_ids, q_mat, _ = _query_block(emb)
    q_norms = _seq_self_norms(q_mat)

    def hits(batches):
        for pdf in batches:
            c_mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            c_norms = _seq_self_norms(c_mat)
            c_ids = pdf["vec_id"].to_numpy()
            out = []
            for qi, qid in enumerate(q_ids):
                s = np.round(
                    _seq_dot(c_mat, q_mat[qi]) / (q_norms[qi] * c_norms), 6
                )
                keep = (s >= RANGE_TAU) & (c_ids != qid)
                if keep.any():
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": qid,
                                "vec_id": c_ids[keep],
                                "sim": s[keep],
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    pairs = _vectors(emb).mapInPandas(
        hits, schema="query_id long, vec_id long, sim double"
    )
    return pairs.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_within"),
        F.max_by(
            "vec_id", F.struct(F.col("sim"), (-F.col("vec_id")).alias("nid"))
        ).alias("best_vec_id"),
        F.max("sim").alias("best_sim"),
    )


# ----------------------------------------------------------------------
# Prefix-dimension recall: matryoshka-style truncation eval
# ----------------------------------------------------------------------
#: truncated prefix length evaluated against the full dimensionality
PREFIX_DIMS = 16


def _overlap(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per query, how many of its ``exact`` top-k vec_ids ``approx`` also
    ranked: (query_id, k, n_overlap) — integer recall counts, no float
    ratio crosses the engine boundary."""
    hits = approx.select("query_id", "vec_id", F.lit(1).alias("hit"))
    return (
        exact.select("query_id", "vec_id")
        .join(hits, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.lit(TOP_K).cast("long").alias("k"),
            F.count("hit").alias("n_overlap"),
        )
    )


@query(
    "x3_prefix_dim_recall",
    oracle=f"""
    WITH fulltop AS ({_duck_topk(_DUCK_EXACT)}),
    pretop AS ({_duck_topk(_DUCK_EXACT, _DUCK_COS.format(
        a=f'q.embedding[1:{PREFIX_DIMS}]', b=f'c.embedding[1:{PREFIX_DIMS}]'))})
    SELECT f.query_id,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST(COUNT(p.vec_id) AS BIGINT) AS n_overlap
    FROM fulltop f
    LEFT JOIN pretop p
      ON p.query_id = f.query_id AND p.vec_id = f.vec_id
    GROUP BY f.query_id
    """,
)
def x3_prefix_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation evaluation: recall@k of top-k
    retrieval using only the first ``PREFIX_DIMS`` dimensions against
    the full-dimensional top-k — the measurement behind 'can we serve
    the cheap truncated index and rerank with full vectors?' (MRL
    embeddings are trained so prefixes stay usable; this query is the
    per-corpus check). Output: per query, the overlap count out of k
    (the recall numerator — integers only, no float ratio crosses the
    engine boundary).

    Execution: ONE corpus scan computes BOTH similarity sets (the
    Arrow kernel slices the prefix from the same batch — no second
    scan, no pair join); each top-k is the |queries|-partition window;
    recall is a k-row-per-query self-join of the two tiny top-k
    tables."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    q_ids, q_mat, _ = _query_block(emb)
    q_norms = _seq_self_norms(q_mat)
    qp_mat = q_mat[:, :PREFIX_DIMS]
    qp_norms = _seq_self_norms(qp_mat)

    def sims2(batches):
        for pdf in batches:
            c_mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            c_norms = _seq_self_norms(c_mat)
            cp_mat = c_mat[:, :PREFIX_DIMS]
            cp_norms = _seq_self_norms(cp_mat)
            c_ids = pdf["vec_id"].to_numpy()
            out = []
            for qi, qid in enumerate(q_ids):
                s_full = _seq_dot(c_mat, q_mat[qi]) / (q_norms[qi] * c_norms)
                s_pre = _seq_dot(cp_mat, qp_mat[qi]) / (
                    qp_norms[qi] * cp_norms
                )
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "vec_id": c_ids,
                            "sim_full": np.round(s_full, 6),
                            "sim_pre": np.round(s_pre, 6),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    pairs = (
        _vectors(emb)
        .mapInPandas(
            sims2,
            schema="query_id long, vec_id long, sim_full double, sim_pre double",
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .localCheckpoint(eager=True)
    )
    # doubly-consumed kernel output (|queries|·|corpus| narrow rows at
    # the tested SFs; at index scale route each ranking through the
    # IVF/LSH rungs instead) — materialized once for the two windows
    fulltop, pretop = (
        _topk(pairs, [F.col(c).desc(), F.col("vec_id")], ("query_id", "vec_id"))
        for c in ("sim_full", "sim_pre")
    )
    return _overlap(fulltop, pretop)


# ----------------------------------------------------------------------
# Two-stage retrieval: cheap candidate gen → exact re-rank
# ----------------------------------------------------------------------
#: stage-1 candidates per query (re-ranked exactly down to TOP_K)
RERANK_CAND_K = 20


@query(
    "x3_ivf_rerank_topk",
    oracle=f"""
    WITH {_DUCK_CENTROIDS},
    cand AS ({_duck_ivf_topk(cos=_DUCK_COS.format(
        a='q.embedding[1:16]', b='c.embedding[1:16]'), k=RERANK_CAND_K)})
    SELECT query_id, vec_id, sim FROM ({_duck_topk(
        "cand x JOIN embeddings q ON q.vec_id = x.query_id"
        " JOIN embeddings c ON c.vec_id = x.vec_id")})
    """,
)
def x3_ivf_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-stage retrieval stack: IVF list probe ranked
    by a CHEAP similarity (first-16-dim prefix cosine — the same
    truncation x3_prefix_dim_recall evaluates; a PQ/ADC table plays
    this role in x3_ivf_pq_topk) produces ``RERANK_CAND_K`` candidate
    ids per query, then ONLY those candidates are gathered by vec_id
    and re-ranked with the exact full-dimensional cosine down to
    ``TOP_K``. At index scale stage 1 touches |list|·16 dims and stage
    2 touches CAND_K·64 — the refine step costs O(candidates), not
    O(list), which is why every FAISS-style deployment ends with it.

    Execution: corpus assigned once (broadcast-argmax mapInPandas, no
    shuffle); stage 1 is the bucket equi-join + a |queries|-partition
    window; stage 2 BROADCASTS the candidate ids (|queries|·CAND_K
    rows) back onto the embeddings table — the full corpus is never
    rescanned into Python. Deterministic end-to-end (truncated
    centroids, fold-order-stable cosines, vec_id tiebreaks), so the
    whole two-stage pipeline is value-checked by the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = _vectors(emb, "label")
    quant, _, assigned = ivf_quantizer(base)
    q_ids, q_mat, _ = _query_block(base)
    q = F.broadcast(
        spark.createDataFrame(
            [r[:3] for r in _probe_rows(q_ids, q_mat, quant, 1)],
            schema="query_id long, q_emb array<double>, q_bucket long",
        )
    )
    # stage 1: prefix-dim cosine within the probed list → CAND_K ids
    sim16 = F.round(
        cosine(F.slice("q_emb", 1, 16), F.slice("embedding", 1, 16)), 6
    )
    cand = _topk(
        assigned.join(
            q,
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        ).select("query_id", "vec_id", "q_emb", sim16.alias("sim16")),
        [F.col("sim16").desc(), F.col("vec_id")],
        ("query_id", "vec_id", "q_emb"),
        k=RERANK_CAND_K,
    )
    # stage 2: gather candidate vectors by id, exact full-dim re-rank
    gathered = _vectors(emb).join(F.broadcast(cand), "vec_id")
    sim = F.round(cosine(F.col("q_emb"), F.col("embedding")), 6)
    return _topk(
        gathered.select("query_id", "vec_id", sim.alias("sim")),
        [F.col("sim").desc(), F.col("vec_id")],
        ("query_id", "vec_id", "sim"),
    )


# ----------------------------------------------------------------------
# Binary (sign) quantization + Hamming top-k
# ----------------------------------------------------------------------
_BQ_SPARK = (
    "aggregate(sequence({lo}, {hi}), 0L, (acc, i) -> "
    "acc | IF(element_at(embedding, i + 1) > 0, shiftleft(1L, i - {lo}), 0L))"
)
_BQ_DUCK = """
    codes AS (
      SELECT vec_id,
             bit_or(CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
                         AND i <= 32
                    THEN CAST(1 AS BIGINT) << (i - 1) ELSE 0 END) AS c_lo,
             bit_or(CASE WHEN CAST(embedding[i] AS DOUBLE) > 0
                         AND i > 32
                    THEN CAST(1 AS BIGINT) << (i - 33) ELSE 0 END) AS c_hi
      FROM embeddings, UNNEST(generate_series(1, 64)) AS t(i)
      GROUP BY vec_id
    )
"""


@query(
    "x3_binary_hamming_topk",
    oracle=f"""
    WITH {_BQ_DUCK}
    SELECT query_id, vec_id, hamming FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             CAST(bit_count(xor(q.c_lo, c.c_lo))
                  + bit_count(xor(q.c_hi, c.c_hi)) AS BIGINT) AS hamming,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY bit_count(xor(q.c_lo, c.c_lo))
                        + bit_count(xor(q.c_hi, c.c_hi)), c.vec_id) AS rn
      FROM (SELECT * FROM codes WHERE vec_id < {N_QUERIES}) q
      CROSS JOIN codes c
      WHERE q.vec_id <> c.vec_id
    ) WHERE rn <= {TOP_K}
    """,
)
def x3_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign) quantization retrieval — 64-d float vectors
    compressed 32× into two 32-bit sign words, ranked by Hamming
    distance (popcount of XOR): the cheapest rung of the quantization
    ladder (int8 → PQ → binary) and the modern first-pass filter for
    binary-embedding indexes. Codes build in ONE corpus scan with a
    JVM-side bitwise fold (no Python); distance is two xor+bit_count
    ops per comparison — what makes binary indexes memory-bandwidth
    bound rather than FLOP bound.

    The two-word layout (dims 1-32 → c_lo, 33-64 → c_hi) keeps every
    shift strictly below 2⁶³ on both engines (DuckDB raises on
    1 << 63 where Spark wraps — the exact engine-divergence class this
    repo's integer conventions exist to avoid). Ranking is exactly
    reproducible: integer distances, vec_id tiebreaks. At index scale
    the same codes bucket by prefix word for sub-linear candidate
    generation; here the gated-exact-rung convention applies (query
    side bounded at N_QUERIES, one |queries|-partition window)."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes = emb.select(
        "vec_id",
        F.expr(_BQ_SPARK.format(lo=0, hi=31)).alias("c_lo"),
        F.expr(_BQ_SPARK.format(lo=32, hi=63)).alias("c_hi"),
    )
    q = F.broadcast(
        codes.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("c_lo").alias("q_lo"),
            F.col("c_hi").alias("q_hi"),
        )
    )
    ham = (
        F.bit_count(F.col("q_lo").bitwiseXOR(F.col("c_lo")))
        + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("c_hi")))
    ).cast("long")
    return _topk(
        codes.join(q, F.col("vec_id") != F.col("query_id")).select(
            "query_id", "vec_id", ham.alias("hamming")
        ),
        ["hamming", "vec_id"],
        ("query_id", "vec_id", "hamming"),
    )


# ----------------------------------------------------------------------
# Centroid-distance outlier filter: embedding-space cleaning
# ----------------------------------------------------------------------
#: flag vectors whose cosine to their own label centroid falls below
#: this (integer-comparable after the shared 6-decimal rounding)
OUTLIER_COS_FLOOR = 0.10


def _centroid_scored(emb: DataFrame) -> DataFrame:
    """Per-vector cosine to ITS OWN label centroid as a (vec_id, label,
    sim) frame — the shared kernel of the outlier report and the
    cluster-balanced selection: centroids are ``ivf_quantizer``'s
    label init (k rows collected and broadcast), and scoring is ONE
    Arrow-batched corpus pass with the fold-order-stable dot product
    (bit-identical to the oracle)."""
    import pandas as pd

    base = _vectors(emb, "label")
    _, bc, _ = ivf_quantizer(base)

    def score(batches):
        for pdf in batches:
            mats = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            norms = _seq_self_norms(mats)
            c_labels, cm, cn = bc.value
            sims = np.empty(len(pdf))
            labels = pdf["label"].to_numpy()
            for lab in np.unique(labels):
                m = labels == lab
                j = np.searchsorted(c_labels, lab)
                sims[m] = _seq_dot(mats[m], cm[j]) / (norms[m] * cn[j])
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "label": labels,
                    "sim": np.round(sims, 6),
                }
            )

    return base.mapInPandas(score, schema="vec_id long, label int, sim double")


@query(
    "x3_centroid_outliers",
    oracle=f"""
    WITH {_duck_cents_ctes()}
    SELECT label, n_vectors, n_outliers, worst_vec_id, worst_sim FROM (
      SELECT e.label,
             COUNT(*) AS n_vectors,
             CAST(SUM(CASE WHEN ROUND({_DUCK_COS.format(
                 a='e.embedding', b='c.centroid')}, 6)
                  < {OUTLIER_COS_FLOOR} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
             CAST(FIRST(e.vec_id ORDER BY ROUND({_DUCK_COS.format(
                 a='e.embedding', b='c.centroid')}, 6), e.vec_id)
               AS BIGINT) AS worst_vec_id,
             MIN(ROUND({_DUCK_COS.format(
                 a='e.embedding', b='c.centroid')}, 6)) AS worst_sim
      FROM embeddings e JOIN cents c USING (label)
      GROUP BY e.label
    )
    """,
)
def x3_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier report — the cleaning pass next to
    SemDeDup: score every vector by cosine to ITS OWN label centroid
    and count the ones below a floor (mislabeled / off-distribution /
    corrupted embeddings sit far from their class center). Per label:
    population, outlier count, and the single worst vector (argmin by
    (sim, vec_id) — the first thing a human inspects).

    Execution: centroids are the bounded ``build_centroids`` aggregate
    (k rows, collected and broadcast into the scoring kernel — same
    quantizer machinery as IVF); scoring is ONE Arrow-batched corpus
    pass with the fold-order-stable dot product (bit-identical to the
    oracle); the rollup is a |labels|-group partial aggregate. No
    pairwise anything — O(corpus · dims) total."""
    scored = _centroid_scored(load_table(spark, sf_dir, "embeddings"))
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(
            F.when(F.col("sim") < OUTLIER_COS_FLOOR, 1).otherwise(0)
        ).cast("long").alias("n_outliers"),
        F.min_by("vec_id", F.struct("sim", "vec_id")).cast("long").alias(
            "worst_vec_id"
        ),
        F.min("sim").alias("worst_sim"),
    )


@query(
    "x3_binary_recall_eval",
    oracle=f"""
    WITH {_BQ_DUCK},
    hamtop AS (
      SELECT query_id, vec_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY bit_count(xor(q.c_lo, c.c_lo))
                          + bit_count(xor(q.c_hi, c.c_hi)), c.vec_id) AS rn
        FROM (SELECT * FROM codes WHERE vec_id < {N_QUERIES}) q
        CROSS JOIN codes c
        WHERE q.vec_id <> c.vec_id
      ) WHERE rn <= {TOP_K}
    ),
    exacttop AS ({_duck_topk(_DUCK_EXACT)})
    SELECT e.query_id,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST(COUNT(h.vec_id) AS BIGINT) AS n_overlap
    FROM exacttop e
    LEFT JOIN hamtop h
      ON h.query_id = e.query_id AND h.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
)
def x3_binary_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the binary-Hamming rung against the exact cosine
    ranking — the per-corpus evaluation that decides whether the 32×
    compressed index is good enough to serve (the same harness shape
    as x3_ivf_recall_eval and x3_prefix_dim_recall: integer overlap
    counts per query, no float ratio). Both rankings are computed by
    the registered rungs' own machinery — this is evaluation BY
    composition, so a regression in either rung moves this query's
    oracle-checked output."""
    return _overlap(
        x3_cosine_topk(spark, sf_dir), x3_binary_hamming_topk(spark, sf_dir)
    )


# ----------------------------------------------------------------------
# Cluster-balanced selection: curation diversity quota
# ----------------------------------------------------------------------
#: per-cluster keep quota — sized so testdata exercises BOTH branches
#: (clusters under quota keep everything, clusters over it truncate)
BALANCE_QUOTA = 48


@query(
    "x8_cluster_balance",
    oracle=f"""
    WITH {_duck_cents_ctes()}
    SELECT label, vec_id, rnk, sim FROM (
      SELECT e.label, e.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.label
               ORDER BY ROUND({_DUCK_COS.format(
                   a='e.embedding', b='c.centroid')}, 6) DESC, e.vec_id)
               AS rnk,
             ROUND({_DUCK_COS.format(
                 a='e.embedding', b='c.centroid')}, 6) AS sim
      FROM embeddings e JOIN cents c USING (label)
    ) WHERE rnk <= {BALANCE_QUOTA}
    """,
)
def x8_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-BALANCED data selection — the curation-diversity quota
    every embedding-curated corpus applies (the SemDeDup/DCLM family's
    selection step): cap each cluster's contribution at
    {BALANCE_QUOTA} vectors so no dense region of embedding space
    dominates the training mix, keeping the most PROTOTYPICAL members
    (highest cosine to the cluster's own centroid, vec_id tiebreak) —
    the deterministic counterpart of per-cluster uniform sampling.
    Clusters under quota keep everything; over-quota clusters truncate
    at rank {BALANCE_QUOTA} (testdata exercises both branches).

    Execution: reuses ``_centroid_scored`` (k-row centroid collect →
    broadcast → ONE Arrow-batched corpus scoring pass), then a
    rank-filtered window per label — Spark rewrites the rank<=N filter
    into WindowGroupLimit, so each task keeps a bounded top-{{N}} heap
    per cluster instead of fully sorting its partition; with k
    clusters the whole selection shuffles only the scored
    (vec_id,label,sim) triples, never embeddings."""
    return _topk(
        _centroid_scored(load_table(spark, sf_dir, "embeddings")),
        [F.col("sim").desc(), "vec_id"],
        ("label", "vec_id", F.col("rnk").cast("long").alias("rnk"), "sim"),
        k=BALANCE_QUOTA,
        rank="rnk",
        by="label",
    )


# ----------------------------------------------------------------------
# IVF nprobe tuning sweep: the X3 analog of the MinHash
# band-tuning sweep — measure the recall curve before freezing nprobe
# ----------------------------------------------------------------------
#: probe counts swept (supersets: lists probed at p are a subset of
#: lists probed at p' > p, so recall is provably monotone — pinned in
#: tests/test_plans.py)
IVF_TUNING_NPROBES = (1, 2, 4)


def _nprobe_tuning_oracle() -> str:
    probes = ",\n    ".join(
        _duck_assign_cte(f"qprobe{p}", "cents", p, queries=True)
        for p in IVF_TUNING_NPROBES
    )
    blocks = [
        f"""SELECT CAST({p} AS BIGINT) AS nprobe,
           CAST(COUNT(a.vec_id) AS BIGINT) AS n_hits,
           CAST(COUNT(a.vec_id) * 1000000
                // {N_QUERIES * TOP_K} AS BIGINT) AS recall_ppm
    FROM exact e LEFT JOIN ({_duck_ivf_topk(f"qprobe{p}")}) a
      ON a.query_id = e.query_id AND a.vec_id = e.vec_id"""
        for p in IVF_TUNING_NPROBES
    ]
    return f"""
    WITH {_DUCK_CENTROIDS},
    {probes},
    exact AS ({_duck_topk(_DUCK_EXACT)})
    {" UNION ALL ".join(blocks)}
    """


@query("x3_ivf_nprobe_tuning", oracle=_nprobe_tuning_oracle())
def x3_ivf_nprobe_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe TUNING sweep — the parameter-selection step every IVF
    deployment runs before freezing its probe count, as a first-class
    driver-checked operator (the X3 twin of x2_minhash_band_tuning's
    (b, r) sweep): for each candidate nprobe over the SAME quantizer,
    recall@{TOP_K} against the exact scan in integer ppm — the
    measured recall/cost curve the '95% at nprobe=2' folklore
    approximates. Lists probed at nprobe p are a SUBSET of those at
    p' > p, and under the total (rounded sim, vec_id) order a
    candidate displacing an exact-top-k member from the approx top-k
    must itself be exact-top-k, so recall is provably MONOTONE
    non-decreasing in nprobe (pinned in tests) — a broken quantizer or
    probe join shows up as a violated curve, not just a low number.

    Scale shape: the quantizer builds ONCE and the corpus scans ONCE, at
    the sweep's MAX nprobe, with each candidate carrying its list's
    ``probe_rank``; because the lists probed at p are a prefix of those
    probed at p' > p, every smaller config's candidate set is exactly
    ``probe_rank <= p`` over that one materialized frame (provably the
    same rows ivf_topk(nprobe=p) scores — see ivf_candidates). The
    exact baseline also materializes once (localCheckpoint) instead of
    re-running its corpus scan per config, and all |configs| hit counts
    collect in ONE job over the union of the per-config top-k frames
    (one scan per config measured ≈ 3× the wall time at sf0.1)."""
    exact = (
        x3_cosine_topk(spark, sf_dir)
        .select("query_id", F.col("vec_id").alias("e_vec"))
        .localCheckpoint(eager=True)
    )
    cand = (
        ivf_candidates(spark, sf_dir, nprobe=max(IVF_TUNING_NPROBES))
        .localCheckpoint(eager=True)
    )
    arms = [
        _topk(
            cand.filter(F.col("probe_rank") <= p).select(
                "query_id", "vec_id", "sim"
            ),
            [F.col("sim").desc(), F.col("vec_id")],
            (F.lit(p).alias("nprobe"), "query_id", F.col("vec_id").alias("a_vec")),
        )
        for p in IVF_TUNING_NPROBES
    ]
    allp = arms[0]
    for a in arms[1:]:
        allp = allp.unionAll(a)
    hit_rows = (
        allp.join(exact, ["query_id"])
        .filter(F.col("a_vec") == F.col("e_vec"))
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("hits"))
        .collect()
    )
    hits_by_p = {r["nprobe"]: r["hits"] for r in hit_rows}
    rows = [
        (p, hits_by_p.get(p, 0), hits_by_p.get(p, 0) * 1_000_000 // (N_QUERIES * TOP_K))
        for p in IVF_TUNING_NPROBES
    ]
    return spark.createDataFrame(
        rows, schema="nprobe long, n_hits long, recall_ppm long"
    )


# ----------------------------------------------------------------------
# Reciprocal-rank fusion: the hybrid-retrieval combiner
# ----------------------------------------------------------------------
#: the RRF smoothing constant (Cormack et al. 2009's k=60, the value
#: every hybrid-retrieval system ships with)
RRF_K = 60


@query(
    "x3_rank_fusion",
    oracle=f"""
    WITH dense AS (
      SELECT query_id, vec_id AS doc_id, rn AS r FROM ({_duck_topk(_DUCK_EXACT)})
    ),
    w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
      FROM w, UNNEST(generate_series(1, len(words) - 2)) AS t(i)
    ),
    n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT qs.doc_id AS query_id, cs.doc_id AS doc_id, COUNT(*) AS i
      FROM (SELECT * FROM sh WHERE doc_id < {N_QUERIES}) qs
      JOIN sh cs ON qs.shingle = cs.shingle AND qs.doc_id <> cs.doc_id
      GROUP BY 1, 2
    ),
    lex AS (
      SELECT query_id, doc_id, r FROM (
        SELECT i.query_id, i.doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY i.query_id
                 ORDER BY CAST(i.i AS DOUBLE)
                          / (nq.n + nc.n - i.i) DESC, i.doc_id) AS r
        FROM inter i
        JOIN n nq ON nq.doc_id = i.query_id
        JOIN n nc ON nc.doc_id = i.doc_id
      ) WHERE r <= {TOP_K}
    )
    SELECT query_id, doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_arms,
           FLOOR(SUM(1.0 / ({RRF_K} + r)) * 1000000) / 1000000.0 AS rrf
    FROM (SELECT * FROM dense UNION ALL SELECT * FROM lex)
    GROUP BY query_id, doc_id
    """,
)
def x3_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of a dense and a sparse retrieval arm —
    the standard hybrid-search combiner (RRF, Cormack et al. 2009:
    score = Σ_arms 1/(k + rank), robust to incomparable score scales,
    which is exactly why every dense+lexical stack uses it). Arm 1 is
    the brute-force cosine top-``TOP_K`` (the x3_cosine_topk kernel,
    vec_id < ``N_QUERIES`` as queries); arm 2 ranks corpus documents
    by distinct-3-gram Jaccard against the query's aligned document
    (vec_id = doc_id in the testdata contract). Output is every fused
    candidate with its arm count and RRF score. Reference scope: no
    retrieval ops in the reference (440-line pandas ETL); §2.10 tier.

    Determinism: both arm rankings carry total orders (rounded-sim /
    exact-rational Jaccard, doc_id tiebreak), so ranks are integers;
    the RRF sum adds ≤2 identical doubles and floor-truncates at 1e-6.

    Scale shape: the dense arm is the cosine rung's plan (queries
    broadcast, corpus scanned once, per-query WindowGroupLimit); the
    lexical arm broadcasts the |queries| docs' shingles into one
    corpus-postings equi-join and partial-aggregates the ≤
    |docs|·|queries| intersections; the fusion is one (query, doc)
    partial agg over ≤ 2·|queries|·TOP_K rank rows. At 100 TB the
    corpus is scanned twice (once per arm) and nothing data-sized
    shuffles unkeyed."""
    from .dedup import shingle_arrays

    dense = (
        x3_cosine_topk(spark, sf_dir)
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("sim").desc(), F.col("vec_id")
                )
            ),
        )
        .select("query_id", F.col("vec_id").alias("doc_id"), "r")
    )
    doc = load_table(spark, sf_dir, "documents")
    sh = shingle_arrays(doc, 3).select(
        "doc_id", F.size("grams").alias("n"), F.explode("grams").alias("shingle")
    )
    qs = sh.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        F.col("n").alias("nq"),
        "shingle",
    )
    inter = (
        sh.join(F.broadcast(qs), "shingle")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("i"),
            F.max("nq").alias("nq"),
            F.max("n").alias("nc"),
        )
    )
    jaccard = F.col("i").cast("double") / (F.col("nq") + F.col("nc") - F.col("i"))
    lex = _topk(
        inter, [jaccard.desc(), "doc_id"], ("query_id", "doc_id", "r"), rank="r"
    )
    return (
        dense.unionByName(lex)
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_arms"),
            (
                F.floor(
                    F.sum(F.lit(1.0) / (F.lit(RRF_K) + F.col("r")))
                    * F.lit(1e6)
                )
                / F.lit(1e6)
            ).alias("rrf"),
        )
    )


# ----------------------------------------------------------------------
# Maximal marginal relevance: the retrieval diversifier
# ----------------------------------------------------------------------
#: relevance/diversity trade-off (Carbonell & Goldstein 1998; 0.7 is
#: the common relevance-leaning default)
MMR_LAMBDA = 0.7


def _mmr_oracle() -> str:
    """``TOP_K``-unrolled greedy MMR as chained CTEs: step 1 takes max
    relevance; step i penalizes each remaining candidate by its max
    similarity to the already-selected set. All similarities are
    rounded to 6 before any scoring on BOTH engines, so the greedy
    walk sees identical inputs; FLOOR-trunc at emit."""
    pcos = _DUCK_COS.format(a="x.embedding", b="y.embedding")
    steps, finals = [], ["SELECT query_id, 1 AS mmr_rank, doc_id,"
                         " FLOOR(sc * 1000000) / 1000000.0 AS mmr FROM s1"]
    for i in range(2, TOP_K + 1):
        steps.append(f""",
    pen{i} AS (
      SELECT c.query_id, c.doc_id, c.rel, MAX(p.ps) AS pen
      FROM cand c
      JOIN pair p ON p.query_id = c.query_id AND p.a = c.doc_id
      JOIN sel{i - 1} s ON s.query_id = p.query_id AND s.doc_id = p.b
      WHERE NOT EXISTS (SELECT 1 FROM sel{i - 1} x
                        WHERE x.query_id = c.query_id
                          AND x.doc_id = c.doc_id)
      GROUP BY 1, 2, 3
    ),
    s{i} AS (
      SELECT query_id, doc_id, sc FROM (
        SELECT query_id, doc_id,
               {MMR_LAMBDA} * rel - {round(1 - MMR_LAMBDA, 10)} * pen AS sc,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY {MMR_LAMBDA} * rel
                          - {round(1 - MMR_LAMBDA, 10)} * pen DESC,
                          doc_id) AS rn
        FROM pen{i}
      ) WHERE rn = 1
    ),
    sel{i} AS (
      SELECT query_id, doc_id FROM sel{i - 1}
      UNION ALL SELECT query_id, doc_id FROM s{i}
    )""")
        finals.append(
            f"SELECT query_id, {i} AS mmr_rank, doc_id,"
            f" FLOOR(sc * 1000000) / 1000000.0 AS mmr FROM s{i}"
        )
    return f"""
    WITH cand AS (
      SELECT query_id, vec_id AS doc_id, sim AS rel FROM ({_duck_topk(_DUCK_EXACT)})
    ),
    cv AS (
      SELECT c.query_id, c.doc_id, e.embedding
      FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id
    ),
    pair AS (
      SELECT x.query_id, x.doc_id AS a, y.doc_id AS b,
             ROUND({pcos}, 6) AS ps
      FROM cv x JOIN cv y
        ON x.query_id = y.query_id AND x.doc_id <> y.doc_id
    ),
    s1 AS (
      SELECT query_id, doc_id, rel AS sc FROM (
        SELECT query_id, doc_id, rel,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, doc_id) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    sel1 AS (SELECT query_id, doc_id FROM s1)
    {"".join(steps)}
    {" UNION ALL ".join(finals)}
    """


@query("x3_mmr_diversify", oracle=_mmr_oracle())
def x3_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal marginal relevance re-ranking of the cosine top-K — the
    standard retrieval DIVERSIFIER (Carbonell & Goldstein 1998; the
    redundancy control every RAG pipeline bolts onto raw top-k): pick
    the most relevant candidate first, then greedily take
    argmax(λ·rel(q,d) − (1−λ)·max_{s∈S} sim(d,s)) so near-duplicate
    hits cannot crowd the result list. Candidates are the
    x3_cosine_topk arm; candidate-pair similarities compute once in
    one tiny within-query join. Reference scope: no retrieval ops in
    the reference (440-line pandas ETL); §2.10 extension tier.

    Determinism: every similarity is rounded to 6 BEFORE any scoring
    (the cosine rung's cross-engine contract), the greedy argmax
    carries a doc_id tiebreak, λ-arithmetic is single IEEE ops on
    identical inputs, and emitted scores floor-truncate at 1e-6. The
    greedy walk itself runs driver-side over the COLLECTED candidate
    table — bounded at |queries|·TOP_K rows BY CONSTRUCTION (the
    x4_bpe_merge_train / x3_ivf_nprobe_tuning bounded-collect
    precedent): at 100 TB the corpus scan lives inside the cosine arm;
    what reaches the driver never exceeds queries × K.

    Scale shape: one corpus scan (the cosine arm), one ≤(|q|·K)²-row
    within-query pair join, one bounded collect; the result is a
    |queries|·K-row local relation."""
    cand = (
        x3_cosine_topk(spark, sf_dir)
        .select("query_id", F.col("vec_id").alias("doc_id"),
                F.col("sim").alias("rel"))
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    cv = cand.join(emb, "doc_id").select("query_id", "doc_id", "v")
    x = cv.select("query_id", F.col("doc_id").alias("a"), F.col("v").alias("va"))
    y = cv.select("query_id", F.col("doc_id").alias("b"), F.col("v").alias("vb"))
    pairs = (
        x.join(y, "query_id")
        .filter(F.col("a") != F.col("b"))
        .select(
            "query_id", "a", "b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("ps"),
        )
    )
    crows = cand.collect()  # |queries|·TOP_K rows by construction
    # Fail fast if a future N_QUERIES/TOP_K bump (or an upstream arm
    # change) silently grows the driver-side walk past its contract
    # (the grouped-kernel guard precedent).
    assert len(crows) <= N_QUERIES * TOP_K, (
        f"MMR candidate collect {len(crows)} rows exceeds the "
        f"N_QUERIES*TOP_K={N_QUERIES * TOP_K} driver-walk bound"
    )
    prows = pairs.collect()  # ≤ |queries|·TOP_K² rows
    assert len(prows) <= N_QUERIES * TOP_K * TOP_K, (
        f"MMR pair collect {len(prows)} rows exceeds the "
        f"N_QUERIES*TOP_K²={N_QUERIES * TOP_K * TOP_K} bound"
    )
    rel = {(r["query_id"], r["doc_id"]): r["rel"] for r in crows}
    ps = {(r["query_id"], r["a"], r["b"]): r["ps"] for r in prows}
    by_q: dict = {}
    for (q, d), r in rel.items():
        by_q.setdefault(q, []).append((d, r))
    out = []
    for q, cands in sorted(by_q.items()):
        selected: list = []
        remaining = dict(cands)
        for rank in range(1, TOP_K + 1):
            if not remaining:
                break
            if not selected:
                best = max(remaining.items(), key=lambda kv: (kv[1], -kv[0]))
                sc = best[1]
            else:
                scored = {
                    d: MMR_LAMBDA * r
                    - round(1 - MMR_LAMBDA, 10)
                    * max(ps[(q, d, s)] for s in selected)
                    for d, r in remaining.items()
                }
                best = max(scored.items(), key=lambda kv: (kv[1], -kv[0]))
                sc = best[1]
            d = best[0]
            import math

            out.append((q, rank, d, math.floor(sc * 1e6) / 1e6))
            selected.append(d)
            del remaining[d]
    return spark.createDataFrame(
        out, schema="query_id long, mmr_rank long, doc_id long, mmr double"
    )


# ----------------------------------------------------------------------
# Graph-based ANN: NSW-class beam search over a kNN graph
# ----------------------------------------------------------------------
#: out-degree of the exact kNN graph (before symmetrization). Tuned on
#: the synthetic corpus (random-ish 64-d embeddings — the hard, flat
#: cosine landscape): (M=16, B=16, R=8) measures recall@16 0.92 at
#: sf0.01 / 0.74 at sf0.1 vs exact top-16; the r13-ask sizing (6,4,3)
#: measured 0.12-0.17. At a fixed (M, B, R) recall decays as the
#: corpus grows — production scales M and R with log n (that is the
#: hierarchy HNSW adds); the rung pins the single-layer search loop.
NSW_M = 16
#: beam width kept per expansion round
NSW_BEAM = 16
#: unrolled greedy expansion rounds (the x9 round-unrolling oracle
#: machinery bounds what SQL can express)
NSW_ROUNDS = 8
#: fixed entry node: the first non-query corpus id — deterministic and
#: never equal to any query id by construction
NSW_ENTRY = N_QUERIES


def _nsw_blocked_e0() -> str:
    """The LSH-blocked kNN-graph CTE chain: the
    exact |V|² e0 is replaced by Hamming-1 multi-probe bucket
    candidate generation over the shared random-hyperplane signatures
    (_bucket_sql — the x3_lsh_candidate_pairs machinery), exact
    rounded cosine scored only on candidates, same top-M-per-src
    contract."""
    cos = _DUCK_COS.format(a="a.embedding", b="b.embedding")
    probe_list = ", ".join(
        ["s.bucket"] + [f"xor(s.bucket, {1 << i})" for i in range(N_PLANES)]
    )
    return f"""
    sigb AS MATERIALIZED (
      SELECT vec_id, {_bucket_sql('embedding')} AS bucket FROM embeddings
    ),
    probesb AS MATERIALIZED (
      SELECT s.vec_id, p.probe
      FROM sigb s, UNNEST([{probe_list}]) AS p(probe)
    ),
    candb AS MATERIALIZED (
      SELECT DISTINCT p.vec_id AS src, s.vec_id AS dst
      FROM probesb p JOIN sigb s
        ON p.probe = s.bucket AND p.vec_id <> s.vec_id
    ),
    e0 AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT c.src, c.dst,
               ROW_NUMBER() OVER (
                 PARTITION BY c.src
                 ORDER BY ROUND({cos}, 6) DESC, c.dst) AS rn
        FROM candb c
        JOIN embeddings a ON a.vec_id = c.src
        JOIN embeddings b ON b.vec_id = c.dst
      ) WHERE rn <= {NSW_M}
    ),"""


def _nsw_oracle(e0_cte: str | None = None) -> str:
    """Beam search round-unrolled as CTEs (the _sssp_oracle /
    _pagerank_oracle precedent): e0 = top-M kNN edges (exact |V|²
    by default; pass ``e0_cte`` to swap in the LSH-blocked build),
    edges = symmetrized, qs = query→corpus rounded sims, then per
    round candidates = beam ∪ neighbors(beam) and beam = top-B by
    (sim DESC, vec_id)."""
    cos = _DUCK_COS.format(a="a.embedding", b="b.embedding")
    qcos = _DUCK_COS.format(a="q.embedding", b="c.embedding")
    if e0_cte is None:
        e0_cte = f"""
    e0 AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND({cos}, 6) DESC, b.vec_id) AS rn
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      ) WHERE rn <= {NSW_M}
    ),"""
    parts = [
        e0_cte
        + f"""
    edges AS MATERIALIZED (
      SELECT src, dst FROM e0
      UNION
      SELECT dst AS src, src AS dst FROM e0
    ),
    qs AS MATERIALIZED (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             ROUND({qcos}, 6) AS sim
      FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
      CROSS JOIN embeddings c
    ),
    b0 AS MATERIALIZED (
      SELECT vec_id AS query_id, CAST({NSW_ENTRY} AS BIGINT) AS vec_id
      FROM embeddings WHERE vec_id < {N_QUERIES}
    )"""
    ]
    for t in range(1, NSW_ROUNDS + 1):
        parts.append(
            f""",
    c{t} AS MATERIALIZED (
      SELECT query_id, vec_id FROM b{t - 1}
      UNION
      SELECT b.query_id, e.dst AS vec_id
      FROM b{t - 1} b JOIN edges e ON e.src = b.vec_id
    ),
    b{t} AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT c.query_id, c.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY c.query_id
                 ORDER BY s.sim DESC, c.vec_id) AS rn
        FROM c{t} c
        JOIN qs s ON s.query_id = c.query_id AND s.vec_id = c.vec_id
        WHERE c.vec_id <> c.query_id
      ) WHERE rn <= {NSW_BEAM}
    )"""
        )
    return (
        "WITH "
        + "".join(parts)
        + f"""
    SELECT query_id, CAST(rn AS BIGINT) AS beam_rank, vec_id, sim FROM (
      SELECT b.query_id, b.vec_id, s.sim,
             ROW_NUMBER() OVER (
               PARTITION BY b.query_id
               ORDER BY s.sim DESC, b.vec_id) AS rn
      FROM b{NSW_ROUNDS} b
      JOIN qs s ON s.query_id = b.query_id AND s.vec_id = b.vec_id
    )
    """
    )


@query("x3_nsw_beam", oracle=_nsw_oracle())
def x3_nsw_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN — the NSW/HNSW family rung the X3 ladder lacked
    (IVF/PQ/LSH/binary all present): a
    deterministic exact-cosine kNN graph (top-``NSW_M`` per node,
    rounded-sim + vec_id total order, symmetrized) searched by
    ``NSW_ROUNDS`` unrolled beam-expansion rounds from the fixed entry
    node ``NSW_ENTRY`` — each round expands the beam's neighbors and
    keeps the top-``NSW_BEAM`` by (sim DESC, vec_id). This is the
    single-layer NSW search loop (Malkov et al. 2014, public
    algorithm) with a fixed round budget instead of a convergence
    test, which is what makes the oracle expressible (the
    _sssp_oracle round-unrolling precedent). Recall vs the exact
    top-k is pinned by tests/test_plans.py::test_nsw_beam_recall_floor.
    Reference scope: no retrieval ops in the reference (440-line
    pandas ETL); §2.10 extension tier.

    Determinism: every similarity is the shared sequential-fold dot
    product rounded to 6 BEFORE any ranking (the cosine-rung
    contract); every window carries the vec_id tiebreak; candidate
    sets are DISTINCT unions, so revisits are idempotent.

    Scale shape: the INDEX BUILD broadcasts the corpus matrix into a
    single mapInPandas pass (guarded by MAX_BROADCAST_VECTORS — the
    documented ceiling for every broadcast-arm rung here); per-row
    top-M selection happens inside the Arrow batch, so the graph
    materializes as one |V|·M edge frame with no all-pairs shuffle.
    At 100 TB the build swaps to the LSH-blocked candidate
    generation implemented in ``x3_nsw_beam_blocked`` (multi-probe
    bucket equi-join feeding the same top-M contract — the fail-fast
    below points there); the SEARCH side is already scale-shaped — per
    round one |beam|-keyed equi-join against the edge frame and one
    per-query window over ≤ B·(2M+1) candidate rows, with the
    query-sim table built once (one corpus scan) and reused by every
    round."""
    import pandas as pd

    emb = _vectors(load_table(spark, sf_dir, "embeddings"))
    ids, mat, bc = _corpus_broadcast(
        spark,
        emb.sort("vec_id"),
        "use x3_nsw_beam_blocked (the LSH-blocked kNN-graph build — "
        "same beam search, no broadcast pass)",
    )

    def knn_edges(batches):
        # NOTE (measured): a fully block-vectorized variant
        # of this kernel (dim-fold outer-product accumulation + the
        # _nsw_block_topm composite-key argsort) was built and A/B'd at
        # sf0.1 — it measured ~2x SLOWER warm (1.5 s -> 3.3 s for the
        # edge build) because its 64 (batch x corpus) float64
        # temporaries saturate memory bandwidth across 32 concurrent
        # Python workers, while this per-row form's 5k-element
        # temporaries stay cache-resident. Kept row-wise deliberately.
        b_ids, b_mat, b_norms = bc.value
        for pdf in batches:
            src_ids = pdf["vec_id"].to_numpy()
            src_mat = np.stack(pdf["embedding"].to_numpy()).astype(
                np.float64
            )
            src_norm = _seq_self_norms(src_mat)
            out_src, out_dst = [], []
            for i in range(len(pdf)):
                s = np.round(
                    _seq_dot(b_mat, src_mat[i]) / (src_norm[i] * b_norms),
                    6,
                )
                mask = b_ids != src_ids[i]
                mids, msims = b_ids[mask], s[mask]
                order = np.lexsort((mids, -msims))[:NSW_M]
                out_src.extend([src_ids[i]] * len(order))
                out_dst.extend(mids[order])
            yield pd.DataFrame({"src": out_src, "dst": out_dst})

    knn = emb.mapInPandas(knn_edges, schema="src long, dst long")
    edges = (
        knn.unionByName(
            knn.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)  # read once per round
        .withColumnRenamed("src", "vec_id")
    )

    q_mask = ids < N_QUERIES
    q_ids = ids[q_mask]
    qsims = _exact_scan(emb, q_ids, mat[q_mask]).localCheckpoint(
        eager=True
    )  # read by every round + the emit

    beam = spark.createDataFrame(
        [(int(q), NSW_ENTRY) for q in sorted(q_ids)],
        "query_id long, vec_id long",
    )
    return _nsw_beam_loop(beam, edges, qsims)


def _nsw_beam_rounds(
    beam: DataFrame,
    edges: DataFrame,
    qsims: DataFrame,
    rounds: int,
    beam_width: int,
) -> DataFrame:
    """``rounds`` beam-expansion rounds: expand-beam-by-neighbors →
    keep top-``beam_width`` by (sim DESC, vec_id). Returns the final
    (query_id, vec_id) beam frame. ``edges`` columns: (vec_id, dst);
    ``qsims`` columns: (query_id, vec_id, sim) — both should be
    localCheckpointed by the caller (read once / many times). The
    expansion UNIONS the current beam before ranking, so a node whose
    layer has no edges (an HNSW entry carried into a sparse layer)
    persists rather than vanishing."""
    for r in range(rounds):
        # ONE query_id exchange per round (two operations keyed the
        # same way share one exchange):
        # the explicit repartition("query_id") satisfies BOTH the
        # distinct's ClusteredDistribution(query_id, vec_id) — a subset
        # hash partitioning co-locates every (query_id, vec_id) — and
        # the rank window's partitionBy(query_id), so neither inserts
        # its own exchange. Per-query candidate volume is bounded at
        # B·(2M+1) rows by construction, so the key is skew-safe at any
        # corpus size.
        expanded = (
            beam.unionByName(
                beam.join(edges, "vec_id").select(
                    "query_id", F.col("dst").alias("vec_id")
                )
            )
            .repartition("query_id")
            .distinct()
        )
        beam = _topk(
            expanded.filter(F.col("vec_id") != F.col("query_id")).join(
                qsims, ["query_id", "vec_id"]
            ),
            [F.col("sim").desc(), "vec_id"],
            ("query_id", "vec_id"),
            k=beam_width,
        )
        # flat lineage every SECOND round (the Pregel localCheckpoint
        # convention, cadence measured: per-round
        # checkpoints paid one materialization job per round while the
        # two-round lazy segment costs the same two exchanges — ~12%
        # off the search loop at sf0.1; every 4th round regressed,
        # plan depth beats job count past 2)
        if (r + 1) % 2 == 0 or r == rounds - 1:
            beam = beam.localCheckpoint(eager=True)
    return beam


def _nsw_qsims(emb: DataFrame):
    """The query side of the blocked NSW/HNSW searches: ``(queries,
    qsims)`` — the (query_id) frame of the ``N_QUERIES`` query vectors
    and their rounded cosines to every corpus vector, built JVM-side by
    one broadcast cross-join and checkpointed (every beam round and the
    emit read it)."""
    qvecs = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    qsims = (
        emb.crossJoin(F.broadcast(qvecs))
        .select(
            "query_id",
            "vec_id",
            F.round(cosine(F.col("qe"), F.col("embedding")), 6).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    return qvecs.select("query_id"), qsims


def _nsw_beam_loop(
    beam: DataFrame, edges: DataFrame, qsims: DataFrame
) -> DataFrame:
    """The shared NSW search loop (identical for the exact and the
    blocked graph builds): ``NSW_ROUNDS`` rounds of expand-beam-by-
    neighbors → keep top-``NSW_BEAM`` by (sim DESC, vec_id)
    (``_nsw_beam_rounds``), then the final ranked emit."""
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "vec_id")
    beam = _nsw_beam_rounds(beam, edges, qsims, NSW_ROUNDS, NSW_BEAM)
    return (
        beam.join(qsims, ["query_id", "vec_id"])
        .withColumn("beam_rank", F.row_number().over(w).cast("long"))
        .select("query_id", "beam_rank", "vec_id", "sim")
    )


#: target mean bucket population for the adaptive NSW geometry: the
#: plane count grows with log2(|V| / target), keeping per-bucket work
#: (and so per-vector candidate count) BOUNDED as the corpus grows —
#: the lever that makes the blocked build linear-ish instead of
#: quadratic-with-a-small-constant
NSW_TARGET_BUCKET = 20


def _nsw_planes_for(n_vectors: int) -> int:
    """Plane count for the blocked NSW build. Floored at N_PLANES so
    every driver test SF (≤ 5000 vectors at sf0.1) computes EXACTLY
    the oracle's static 8-plane geometry (pinned by
    tests/test_plans.py::test_nsw_planes_for_matches_oracle_geometry);
    the growth engages only beyond, capped by the deterministic plane
    family's MAX_PLANES."""
    import math

    if n_vectors <= NSW_TARGET_BUCKET:
        return N_PLANES
    return max(
        N_PLANES,
        min(MAX_PLANES, math.ceil(math.log2(n_vectors / NSW_TARGET_BUCKET))),
    )


def _nsw_block_topm(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """One LSH bucket's local kNN scoring (the x3_nsw_beam_blocked
    build kernel): sims between the bucket's PROBER rows (role 0 —
    vectors whose multi-probe set hits this bucket) and its MEMBER
    rows (role 1 — vectors hashed here), numpy sequential-fold over
    dims (bit-identical to list_dot_product / F.aggregate), rounded
    to 6, per-prober top-``NSW_M`` by (sim DESC, dst ASC). Emitting
    only the local top-M is EXACT for the global per-src top-M (top-M
    of a union is the top-M of per-part top-Ms) because each (src,
    dst) pair occurs in exactly one bucket. The selection is fully
    vectorized: (sim DESC, dst ASC) is one integer composite key —
    sims are exact 1e-6 multiples after the round, so
    ``micro·S − dst`` with S > max(dst) is a faithful encoding — and
    one ``argsort(-key, axis=1)`` ranks every prober's row at C
    speed (a per-row lexsort loop reads ~100 µs/prober, which
    dominates at 10x)."""
    import pandas as pd

    mem = pdf[pdf["role"] == 1]
    pro = pdf[pdf["role"] == 0]
    if mem.empty or pro.empty:
        return pd.DataFrame({"src": [], "dst": [], "sim": []}).astype(
            {"src": "int64", "dst": "int64", "sim": "float64"}
        )
    a = np.stack(pro["embedding"].to_numpy()).astype(np.float64)
    b = np.stack(mem["embedding"].to_numpy()).astype(np.float64)
    sims = np.round(
        _seq_cross(a, b) / np.outer(_seq_self_norms(a), _seq_self_norms(b)), 6
    )
    src_ids = pro["vec_id"].to_numpy().astype(np.int64)
    dst_ids = mem["vec_id"].to_numpy().astype(np.int64)
    micro = np.rint(sims * 1e6).astype(np.int64)  # exact: 6dp multiples
    scale = int(dst_ids.max()) + 1
    key = micro * scale - dst_ids[None, :]
    sent = np.iinfo(np.int64).min // 4  # self marker, safely negatable
    key[src_ids[:, None] == dst_ids[None, :]] = sent
    kk = min(NSW_M, len(dst_ids))
    order = np.argsort(-key, axis=1)[:, :kk]
    taken = np.take_along_axis(key, order, 1)
    valid = (taken != sent).ravel()
    return pd.DataFrame(
        {
            "src": np.repeat(src_ids, kk)[valid],
            "dst": dst_ids[order].ravel()[valid],
            "sim": np.take_along_axis(sims, order, 1).ravel()[valid],
        }
    )


def _blocked_knn_edges(emb: DataFrame) -> DataFrame:
    """LSH-blocked top-``NSW_M`` kNN graph build over ``emb``
    (vec_id, embedding) — the shared index construction for
    x3_nsw_beam_blocked and every x3_hnsw_beam layer. Returns the
    SYMMETRIZED edge frame (vec_id, dst), localCheckpointed (read
    once per search round).

    Adaptive geometry: one count() sizes the plane set so mean
    bucket population stays ~``NSW_TARGET_BUCKET`` — at every driver
    test SF this computes the oracle's static 8 planes exactly
    (test-pinned); past ~5k vectors the bucket count grows with the
    corpus, keeping per-vector candidate volume bounded.

    Routing: every vector goes to (a) its own bucket as a MEMBER row
    and (b) its probe buckets as PROBER rows; a (src, dst) candidate
    pair meets in EXACTLY ONE group — dst's bucket — because the
    probe array's values {bucket, bucket^2^i} are pairwise distinct,
    so exactly one probe of src can equal dst's bucket (no dedup pass
    needed; the oracle's DISTINCT is a no-op kept for intent).
    Shuffle volume is (1 + probes)·|V| VECTOR rows — near-linear in
    the corpus (probes = planes + 1 grows with log|V|); the candidate
    PAIRS are scored entirely inside each bucket's Arrow batch
    (numpy sequential-fold, the _seq_dot convention) and only each
    prober's local top-M leaves the kernel, so pair volume never
    hits the exchange. A hot bucket costs |probers|·|members| FLOPs
    in one task — the bucketed-arm skew class, bounded by the
    geometry. An EMPTY input (an HNSW layer with no members at a
    tiny SF) degrades to an empty edge frame — the caller's beam
    then passes its entry through unchanged."""
    n_planes = _nsw_planes_for(emb.count())
    sig = emb.withColumn(
        "bucket", _bucket_spark(F.col("embedding"), n_planes)
    )
    members = sig.select(
        "bucket", "vec_id", "embedding", F.lit(1).alias("role")
    )
    probers = sig.select(
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << i))
                    for i in range(n_planes)
                ],
            )
        ).alias("bucket"),
        "vec_id",
        "embedding",
        F.lit(0).alias("role"),
    )
    e0 = (
        members.unionByName(probers)
        .groupBy("bucket")
        .applyInPandas(_nsw_block_topm, schema="src long, dst long, sim double")
    )
    e0 = _topk(e0, [F.col("sim").desc(), "dst"], ("src", "dst"), k=NSW_M, by="src")
    return (
        e0.unionByName(
            e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)  # read once per round
        .withColumnRenamed("src", "vec_id")
    )


@query("x3_nsw_beam_blocked", oracle=_nsw_oracle(e0_cte=_nsw_blocked_e0()))
def x3_nsw_beam_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NSW beam search over an LSH-BLOCKED kNN graph — the 100 TB
    index-build path the exact rung's fail-fast names (the one
    quadratic-work site left in the X3 ladder):

    - graph build: each vector hashes to its random-hyperplane bucket
      (_bucket_spark — the x3_lsh_candidate_pairs machinery) and
      PROBES its own bucket plus the ``N_PLANES`` Hamming-1 neighbor
      buckets (multi-probe LSH, public technique — Lv et al. 2007).
      Vectors shuffle ONCE, grouped by bucket ((1+probes)·|V| rows —
      linear); each bucket's prober×member candidate sims compute
      inside an Arrow kernel (``_nsw_block_topm``, numpy
      sequential-fold — candidate PAIRS never hit an exchange) and
      only per-prober local top-``NSW_M`` rows leave the kernel; a
      global per-src window then finishes the same top-M /
      symmetrize contract as the exact build. Work is sum over
      buckets of 9·|b|² FLOPs instead of |V|² — with bucket count
      2^P grown with log|V| (more planes at bigger corpora) the
      per-bucket population, and so the per-vector candidate count,
      stays bounded;
    - search: the SHARED ``_nsw_beam_loop`` (identical rounds,
      windows, tiebreaks) over query sims built by one broadcast
      cross-join of the ``N_QUERIES`` query vectors against the
      corpus — the x3_cosine_topk shape, JVM-side.

    Unlike the exact rung there is NO driver-side corpus collect and
    no MAX_BROADCAST_VECTORS ceiling anywhere in this plan — every
    stage is keyed on bucket, (src|dst), or (query_id, vec_id).
    Hamming-1 probing recovers most near-neighbor
    pairs that single-bucket blocking splits (one flipped plane);
    recall vs the exact-build beam and vs brute-force top-k is
    measured in BENCH_NSW_AB.json (tools/nsw_ab.py) and gated by
    tests/test_scale_design.py. Reference scope: no retrieval ops in
    the reference; §2.10 extension tier.

    Determinism: identical to the exact rung — rounded-6 sims before
    every ranking, vec_id tiebreaks, DISTINCT candidate sets."""
    emb = _vectors(load_table(spark, sf_dir, "embeddings"))
    edges = _blocked_knn_edges(emb)
    queries, qsims = _nsw_qsims(emb)
    beam = queries.withColumn("vec_id", F.lit(NSW_ENTRY).cast("long"))
    return _nsw_beam_loop(beam, edges, qsims)


# ----------------------------------------------------------------------
# x3_hnsw_beam — hierarchical NSW (HNSW, Malkov & Yashunin 2016): the
# multi-layer extension of the NSW rung. Levels are assigned by a
# DETERMINISTIC integer hash (geometric, P(level >= l) = 4^-l), each
# layer's kNN graph is the SAME LSH-blocked build restricted to that
# layer's members, and search descends: a narrow greedy beam on the
# sparse upper layers finds a good entry point, then the full NSW beam
# runs on layer 0. The hierarchy is exactly what the NSW rung's sizing
# note says production adds — entry quality scales with log |V|
# instead of depending on one fixed entry node.
# ----------------------------------------------------------------------

#: top layer index (3 layers: 0, 1, 2). P(level >= 1) = 1/4,
#: P(level = 2) = 1/16 — the standard geometric level draw, made
#: deterministic via a Knuth multiplicative hash of vec_id so both
#: engines compute the identical hierarchy.
HNSW_LMAX = 2
#: beam rounds per UPPER layer (layers >= 1): the descent only needs a
#: good-enough entry, not the full neighborhood — layer 0 runs the
#: standard NSW_ROUNDS/NSW_BEAM search.
HNSW_UP_ROUNDS = 4
#: beam width on the upper layers (HNSW's small ef_construction-style
#: descent beam; width 1 is the paper's greedy walk — 4 keeps the
#: walk deterministic-robust to rounded-sim ties).
HNSW_UP_BEAM = 4
#: Knuth multiplicative hash constants (public technique): h =
#: (vec_id * 2654435761) mod 2^32, and the level reads the TOP nibble
#: t = h >> 28 (the multiplier is odd so the LOW bits of h are just
#: vec_id's own low bits — t is where the mixing lands): level = 2
#: iff t == 0, 1 iff t % 4 == 0, else 0. Pure int64 arithmetic —
#: bit-identical in Spark and DuckDB, and safe from overflow until
#: |V| ~ 3.5e9.
HNSW_HASH_MULT = 2654435761
HNSW_HASH_MOD = 4294967296


def _hnsw_level(vec_id: Column) -> Column:
    t = F.shiftright(
        F.pmod(vec_id * F.lit(HNSW_HASH_MULT), F.lit(HNSW_HASH_MOD)), 28
    )
    return (
        F.when(t == 0, 2).when(F.pmod(t, 4) == 0, 1).otherwise(0)
    )


def _hnsw_layer_edges_cte(l: int) -> str:
    """One layer's LSH-blocked kNN edge CTEs (the _nsw_blocked_e0
    chain restricted to level >= l, suffixed so three layers
    coexist): signatures -> Hamming-1 probes -> candidates -> top-M
    per src -> symmetrized ed{l}."""
    cos = _DUCK_COS.format(a="a.embedding", b="b.embedding")
    probe_list = ", ".join(
        ["s.bucket"] + [f"xor(s.bucket, {1 << i})" for i in range(N_PLANES)]
    )
    return f"""
    sg{l} AS MATERIALIZED (
      SELECT e.vec_id, {_bucket_sql('e.embedding')} AS bucket
      FROM embeddings e JOIN lv ON lv.vec_id = e.vec_id AND lv.level >= {l}
    ),
    pb{l} AS MATERIALIZED (
      SELECT s.vec_id, p.probe
      FROM sg{l} s, UNNEST([{probe_list}]) AS p(probe)
    ),
    cd{l} AS MATERIALIZED (
      SELECT DISTINCT p.vec_id AS src, s.vec_id AS dst
      FROM pb{l} p JOIN sg{l} s
        ON p.probe = s.bucket AND p.vec_id <> s.vec_id
    ),
    ke{l} AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT c.src, c.dst,
               ROW_NUMBER() OVER (
                 PARTITION BY c.src
                 ORDER BY ROUND({cos}, 6) DESC, c.dst) AS rn
        FROM cd{l} c
        JOIN embeddings a ON a.vec_id = c.src
        JOIN embeddings b ON b.vec_id = c.dst
      ) WHERE rn <= {NSW_M}
    ),
    ed{l} AS MATERIALIZED (
      SELECT src, dst FROM ke{l}
      UNION
      SELECT dst AS src, src AS dst FROM ke{l}
    ),"""


def _hnsw_beam_ctes(pfx: str, b0: str, edges: str, rounds: int, width: int) -> str:
    """Round-unrolled beam CTEs for one layer (the _nsw_oracle round
    machinery, parameterized): candidates = beam UNION neighbors(beam),
    beam = top-``width`` by (sim DESC, vec_id) against the GLOBAL
    query-sims qh — the union keeps an entry carried into an edgeless
    layer alive."""
    parts = []
    prev = b0
    for t in range(1, rounds + 1):
        parts.append(
            f"""
    {pfx}c{t} AS MATERIALIZED (
      SELECT query_id, vec_id FROM {prev}
      UNION
      SELECT b.query_id, e.dst AS vec_id
      FROM {prev} b JOIN {edges} e ON e.src = b.vec_id
    ),
    {pfx}b{t} AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT c.query_id, c.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY c.query_id
                 ORDER BY s.sim DESC, c.vec_id) AS rn
        FROM {pfx}c{t} c
        JOIN qh s ON s.query_id = c.query_id AND s.vec_id = c.vec_id
        WHERE c.vec_id <> c.query_id
      ) WHERE rn <= {width}
    ),"""
        )
        prev = f"{pfx}b{t}"
    return "".join(parts)


def _hnsw_oracle() -> str:
    qcos = _DUCK_COS.format(a="q.embedding", b="c.embedding")
    hm = f"(((vec_id * {HNSW_HASH_MULT}) % {HNSW_HASH_MOD}) >> 28)"
    carry1 = f"h2b{HNSW_UP_ROUNDS}"
    carry0 = f"h1b{HNSW_UP_ROUNDS}"
    final = f"h0b{NSW_ROUNDS}"
    sql = f"""
    WITH lv AS MATERIALIZED (
      SELECT vec_id,
             CASE WHEN {hm} = 0 THEN 2
                  WHEN {hm} % 4 = 0 THEN 1
                  ELSE 0 END AS level
      FROM embeddings
    ),
    ent AS MATERIALIZED (
      SELECT COALESCE(
        (SELECT MIN(vec_id) FROM lv WHERE level >= 2 AND vec_id >= {N_QUERIES}),
        (SELECT MIN(vec_id) FROM lv WHERE level >= 1 AND vec_id >= {N_QUERIES}),
        (SELECT MIN(vec_id) FROM lv WHERE vec_id >= {N_QUERIES})
      ) AS vec_id
    ),
    qh AS MATERIALIZED (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
             ROUND({qcos}, 6) AS sim
      FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
      CROSS JOIN embeddings c
    ),"""
    for l in (2, 1, 0):
        sql += _hnsw_layer_edges_cte(l)
    sql += f"""
    h2b0 AS MATERIALIZED (
      SELECT q.vec_id AS query_id, e.vec_id AS vec_id
      FROM embeddings q, ent e WHERE q.vec_id < {N_QUERIES}
    ),"""
    sql += _hnsw_beam_ctes("h2", "h2b0", "ed2", HNSW_UP_ROUNDS, HNSW_UP_BEAM)
    sql += f"""
    h1b0 AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT b.query_id, b.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY b.query_id
                 ORDER BY s.sim DESC, b.vec_id) AS rn
        FROM {carry1} b
        JOIN qh s ON s.query_id = b.query_id AND s.vec_id = b.vec_id
      ) WHERE rn = 1
    ),"""
    sql += _hnsw_beam_ctes("h1", "h1b0", "ed1", HNSW_UP_ROUNDS, HNSW_UP_BEAM)
    sql += f"""
    h0b0 AS MATERIALIZED (
      SELECT query_id, vec_id FROM (
        SELECT b.query_id, b.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY b.query_id
                 ORDER BY s.sim DESC, b.vec_id) AS rn
        FROM {carry0} b
        JOIN qh s ON s.query_id = b.query_id AND s.vec_id = b.vec_id
      ) WHERE rn = 1
    ),"""
    sql += _hnsw_beam_ctes("h0", "h0b0", "ed0", NSW_ROUNDS, NSW_BEAM)
    assert sql.endswith(",")  # every CTE block emits a trailing comma
    sql = sql[:-1]
    sql += f"""
    SELECT query_id, CAST(rn AS BIGINT) AS beam_rank, vec_id, sim FROM (
      SELECT b.query_id, b.vec_id, s.sim,
             ROW_NUMBER() OVER (
               PARTITION BY b.query_id
               ORDER BY s.sim DESC, b.vec_id) AS rn
      FROM {final} b
      JOIN qh s ON s.query_id = b.query_id AND s.vec_id = b.vec_id
    )
    """
    return sql


@query("x3_hnsw_beam", oracle=_hnsw_oracle())
def x3_hnsw_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW: hierarchical navigable-small-world ANN search (Malkov &
    Yashunin 2016, public technique) — the multi-layer extension the
    NSW rung's sizing note names as the production scale path for
    ENTRY quality. Three layers, each ingredient already in the
    ladder:

    - levels: deterministic geometric draw P(level >= l) = 4^-l via a
      Knuth multiplicative hash of vec_id (``_hnsw_level``) — pure
      int64 arithmetic, bit-identical cross-engine, no RNG state;
    - per-layer graphs: the SHARED ``_blocked_knn_edges`` build
      (LSH multi-probe buckets -> Arrow kernel local top-M -> global
      top-``NSW_M`` -> symmetrize) restricted to level >= l members —
      no quadratic pass, no broadcast ceiling, at any layer;
    - search: entry = min corpus id of the highest non-empty layer
      (COALESCE ladder — a 1-row driver agg, bounded by construction);
      each upper layer runs ``HNSW_UP_ROUNDS`` rounds of the shared
      ``_nsw_beam_rounds`` at width ``HNSW_UP_BEAM`` and hands its
      top-1 down as the next layer's start node; layer 0 runs the
      full ``NSW_ROUNDS``/``NSW_BEAM`` search and emits the NSW
      ranked-beam contract (query_id, beam_rank, vec_id, sim).

    Scale shape: upper layers hold |V|/4 and |V|/16 of the corpus, so
    the hierarchy adds ~31% build work over the layer-0 build while
    replacing the FIXED entry node with one reached by log-depth
    descent — at 100 TB the fixed-entry NSW beam needs more rounds to
    escape the entry's neighborhood, which is exactly the recall
    decay the NSW sizing note documents. Degenerate layers at tiny
    SFs are safe by construction: an empty layer contributes an empty
    edge frame, the carried entry survives the rounds unchanged
    (the ``_nsw_beam_rounds`` union keeps the beam alive), and the
    COALESCE entry ladder never selects from an empty layer.

    Determinism: rounded-6 sims before every ranking, vec_id
    tiebreaks everywhere (the NSW conventions); the level hash and
    the entry COALESCE are integer-exact in both engines.

    Reference scope: no retrieval ops in the reference; §2.10
    extension tier beside x3_nsw_beam / x3_nsw_beam_blocked."""
    emb = _vectors(load_table(spark, sf_dir, "embeddings"))
    lv = emb.withColumn("level", _hnsw_level(F.col("vec_id")))
    queries, qsims = _nsw_qsims(emb)
    ent_row = (
        lv.filter(F.col("vec_id") >= N_QUERIES)
        .agg(
            F.min(F.when(F.col("level") >= 2, F.col("vec_id"))).alias("e2"),
            F.min(F.when(F.col("level") >= 1, F.col("vec_id"))).alias("e1"),
            F.min("vec_id").alias("e0"),
        )
        .first()
    )
    entry = next(
        v for v in (ent_row["e2"], ent_row["e1"], ent_row["e0"]) if v is not None
    )
    beam = queries.withColumn("vec_id", F.lit(int(entry)).cast("long"))
    for l in (2, 1):
        layer_edges = _blocked_knn_edges(
            lv.filter(F.col("level") >= l).select("vec_id", "embedding")
        )
        beam = _nsw_beam_rounds(
            beam, layer_edges, qsims, HNSW_UP_ROUNDS, HNSW_UP_BEAM
        )
        # hand the layer's best node down as the next layer's start
        beam = _topk(
            beam.join(qsims, ["query_id", "vec_id"]),
            [F.col("sim").desc(), "vec_id"],
            ("query_id", "vec_id"),
            k=1,
        )
    return _nsw_beam_loop(beam, _blocked_knn_edges(emb), qsims)
