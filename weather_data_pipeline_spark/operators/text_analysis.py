"""X4/X8 — text analysis and training-data preparation over the
``documents`` table (SURVEY.md §2.10).

Training-data-pipeline text ops: doc statistics, term frequencies,
quality filters and LM scores, fingerprints, language ID, sampling and
mixing, packing and batching, BPE and unigram tokenizers, sketches.
Most rungs are built-in array/string functions (JVM-side, codegen); the
few Python kernels run over bounded or distinct-word relations.

Shared pieces, each built once. Every rung tokenizes through
``functions.tokens``: ``words()`` is the token array, ``tokens()`` one
row per occurrence (optionally with its position), and
``term_counts()`` the ``(*keys, term, n)`` partial-aggregate count that
the LM, quality, vocabulary, Zipf and tokenizer-training rungs start
from, each keeping its own filter (``min_len``) and its own
``localCheckpoint``. ``_unigram_words`` is the two unigram rungs'
word-count and E-step dispatch preamble, ``_encoded_streams`` the two
tokenizer-apply emits, ``_ordered_join`` every order-pinned
fingerprint. The DuckDB oracles mirror them with ``tokens_sql``,
``term_counts_sql`` and ``_ENCODED_STREAMS_SQL``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.tokens import (
    term_counts,
    term_counts_sql,
    tokens,
    tokens_sql,
    words,
)
from ..registry import query
from ..sources.testdata import load_table

_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
_SW_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

_ES_WORDS = ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"]
_DE_WORDS = ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"]
_EN_WORDS = _STOPWORDS


def _hits_spark(words_col, wordlist):
    arr = F.array(*[F.lit(w) for w in wordlist])
    return F.size(F.array_intersect(words_col, arr))


def _ordered_join(order: str, value: str, sep: str) -> Column:
    """A group's ``value`` strings joined by ``sep`` in ``order``: the
    collected structs are sorted explicitly, so the result does not
    depend on the order rows reach the aggregate."""
    return F.concat_ws(
        sep,
        F.transform(
            F.array_sort(F.collect_list(F.struct(order, value))),
            lambda s: s[value].cast("string"),
        ),
    )


def _hits_sql(wordlist):
    lst = ", ".join(f"'{w}'" for w in wordlist)
    return (
        "len(list_intersect(list_distinct(string_split(text, ' ')), "
        f"[{lst}]))"
    )


@query(
    "x4_doc_stats",
    oracle="""
    SELECT doc_id, lang, source,
           LENGTH(text) AS n_chars_actual,
           len(string_split(text, ' ')) AS n_words,
           CAST(LENGTH(replace(text, ' ', '')) AS DOUBLE)
             / len(string_split(text, ' ')) AS avg_word_len
    FROM documents
    """,
)
def x4_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load_table(spark, sf_dir, "documents")
    return doc.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("n_chars_actual"),
        F.size(words()).alias("n_words"),
        (
            F.length(F.regexp_replace("text", " ", "")).cast("double")
            / F.size(words())
        ).alias("avg_word_len"),
    )


@query(
    "x4_term_frequency",
    oracle=f"SELECT term, n FROM ({term_counts_sql()}) WHERE n >= 5",
)
def x4_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word-count shape: corpus term counts, terms seen 5+ times."""
    doc = load_table(spark, sf_dir, "documents")
    return term_counts(doc).filter(F.col("n") >= 5)


@query(
    "x4_lang_stats",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) / COUNT(n_chars)
             AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def x4_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load_table(spark, sf_dir, "documents")
    return doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.col("n_chars").cast("decimal(18,0)")).cast("double")
            / F.count("n_chars")
        ).alias("avg_chars"),
    )


@query(
    "x4_quality_score",
    oracle=f"""
    SELECT doc_id,
           n_words,
           stop_hits,
           CAST(stop_hits AS DOUBLE) / n_words AS stopword_ratio,
           CASE WHEN n_words BETWEEN 5 AND 5000
                     AND CAST(stop_hits AS DOUBLE) / n_words < 0.9
                THEN 1 ELSE 0 END AS quality_keep
    FROM (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             len(list_filter(string_split(text, ' '),
                             w -> w IN ({_SW_SQL}))) AS stop_hits
      FROM documents
    )
    """,
)
def x4_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/stopword-ratio quality gate — the classic pretraining-corpus
    filter, as pure column expressions."""
    doc = load_table(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    stop_hits = F.size(F.filter(words(), lambda w: F.array_contains(sw, w)))
    n_words = F.size(words())
    ratio = stop_hits.cast("double") / n_words
    return doc.select(
        "doc_id",
        n_words.alias("n_words"),
        stop_hits.alias("stop_hits"),
        ratio.alias("stopword_ratio"),
        F.when((n_words.between(5, 5000)) & (ratio < 0.9), 1)
        .otherwise(0)
        .alias("quality_keep"),
    )


@query(
    "x4_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS bpe_ish_tokens
    FROM documents
    """,
)
def x4_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex count (alnum runs or single
    punctuation) — the cheap token estimator for corpus budgeting."""
    doc = load_table(spark, sf_dir, "documents")
    return doc.select(
        "doc_id",
        F.size(words()).alias("ws_tokens"),
        F.size(
            F.expr(
                r"regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]', 0)"
            )
        ).alias("bpe_ish_tokens"),
    )


@query(
    "x4_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fingerprint
    FROM documents
    """,
)
def x4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint: sort tokens, hash — the
    canonical-form key for shuffle-friendly near-dup blocking."""
    doc = load_table(spark, sf_dir, "documents")
    return doc.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.array_sort(words()))).alias("fingerprint"),
    )


@query(
    "x4_lang_id_heuristic",
    oracle=f"""
    SELECT doc_id, lang,
           en_hits, es_hits, de_hits,
           CASE WHEN en_hits = 0 AND es_hits = 0 AND de_hits = 0 THEN 'unknown'
                WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
                WHEN es_hits >= de_hits THEN 'es'
                ELSE 'de' END AS lang_guess
    FROM (
      SELECT doc_id, lang,
             {_hits_sql(_EN_WORDS)} AS en_hits,
             {_hits_sql(_ES_WORDS)} AS es_hits,
             {_hits_sql(_DE_WORDS)} AS de_hits
      FROM documents
    )
    """,
)
def x4_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist-vote language ID (n-gram-heuristic family): count distinct
    marker-word hits per language, argmax with a fixed tie order."""
    doc = load_table(spark, sf_dir, "documents")
    distinct = F.array_distinct(words())
    en, es, de = (
        _hits_spark(distinct, _EN_WORDS),
        _hits_spark(distinct, _ES_WORDS),
        _hits_spark(distinct, _DE_WORDS),
    )
    guess = (
        F.when((en == 0) & (es == 0) & (de == 0), "unknown")
        .when((en >= es) & (en >= de), "en")
        .when(es >= de, "es")
        .otherwise("de")
    )
    return doc.select(
        "doc_id",
        "lang",
        en.alias("en_hits"),
        es.alias("es_hits"),
        de.alias("de_hits"),
        guess.alias("lang_guess"),
    )


# ----------------------------------------------------------------------
# X8 — deterministic stratified sampling (training-data mixing)
# ----------------------------------------------------------------------
#: Per-language keep rates (percent) — the "data mixing" recipe: keep all
#: English, half German/Spanish/French, a fifth of Chinese.
MIX_RATES = {"en": 100, "de": 50, "es": 50, "fr": 50, "zh": 20}


@query(
    "x8_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket
      FROM documents
    )
    WHERE bucket < CASE lang
        {' '.join(f"WHEN '{k}' THEN {v}" for k, v in MIX_RATES.items())}
        ELSE 0 END
    """,
)
def x8_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling with per-class rates — the data-mixing
    primitive of pretraining pipelines. The keep decision is a pure
    function of the row key (md5 bucket), so the sample is identical
    across engines, runs, repartitions, and retries — unlike
    ``df.stat.sampleBy``, whose RNG is engine-specific; that also makes
    the mix reproducible when the corpus is re-sharded at 100 TB. A
    narrow filter: no shuffle, fully pushed into the scan stage."""
    doc = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    rate = F.create_map(
        *[F.lit(x) for kv in MIX_RATES.items() for x in kv]
    )[F.col("lang")]
    return doc.filter(bucket < F.coalesce(rate, F.lit(0))).select("doc_id", "lang")


@query(
    "x4_repetition_score",
    oracle="""
    SELECT doc_id, total_grams, distinct_grams,
           ROUND(1.0 - CAST(distinct_grams AS DOUBLE) / total_grams, 6)
             AS repetition_ratio,
           (1.0 - CAST(distinct_grams AS DOUBLE) / total_grams) > 0.2
             AS repetitive
    FROM (
      SELECT doc_id,
             len(words) - 2 AS total_grams,
             len(list_distinct(list_transform(
               generate_series(1, len(words) - 2),
               i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])))
               AS distinct_grams
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      WHERE len(words) >= 3
    )
    """,
)
def x4_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (Gopher-style quality signal): the
    fraction of 3-gram occurrences that are repeats of an earlier gram in
    the same doc — high ratios mark boilerplate/template/spam text that
    pretraining filters drop. Pure counting (total vs distinct grams), so
    the score is engine-exact; ZERO shuffles — one narrow projection
    computes both counts off the same JVM-side NGram array."""
    from pyspark.ml.feature import NGram

    doc = load_table(spark, sf_dir, "documents")
    arrays = doc.select("doc_id", words().alias("words")).filter(
        F.size("words") >= 3
    )
    grams = NGram(n=3, inputCol="words", outputCol="raw_grams").transform(arrays)
    j = grams.select(
        "doc_id",
        (F.size("words") - 2).alias("total_grams"),
        F.size(F.array_distinct("raw_grams")).alias("distinct_grams"),
    )
    ratio = 1.0 - F.col("distinct_grams").cast("double") / F.col("total_grams")
    return j.select(
        "doc_id",
        "total_grams",
        "distinct_grams",
        F.round(ratio, 6).alias("repetition_ratio"),
        (ratio > 0.2).alias("repetitive"),
    )


#: target OUTPUT composition for the mixture sampler: integer weights
#: (en-heavy pretraining mix); exact proportions, not per-class rates.
MIX_WEIGHTS = {"en": 5, "de": 2, "es": 1, "fr": 1, "zh": 1}


@query(
    "x8_mixture_sample",
    oracle=f"""
    WITH wts(lang, w) AS (VALUES
      {', '.join(f"('{k}', {v})" for k, v in MIX_WEIGHTS.items())}
    ), counts AS (
      SELECT d.lang, w.w, COUNT(*) AS n
      FROM documents d JOIN wts w ON w.lang = d.lang
      GROUP BY d.lang, w.w
    ), m AS (
      SELECT MIN(n * {sum(MIX_WEIGHTS.values())} // w) AS m FROM counts
    ), take AS (
      SELECT c.lang, c.w * m.m // {sum(MIX_WEIGHTS.values())} AS take_n
      FROM counts c, m
    ), ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
      FROM documents
    )
    SELECT r.doc_id, r.lang, r.rnk AS mix_rank
    FROM ranked r JOIN take t ON t.lang = r.lang
    WHERE r.rnk <= t.take_n
    """,
)
def x8_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture sampling to an EXACT target composition — the
    second data-mixing primitive (x8_stratified_sample fixes per-class
    keep RATES; this fixes output PROPORTIONS): given integer weights,
    emit the largest corpus subset whose language mix matches them, the
    binding class taken in full. All arithmetic is integer (counts,
    floor-divided budgets) and doc selection is the md5-rank order — a
    pure function of the row keys, so the drawn mix is identical across
    engines, runs, and re-shards.

    Plan: one tiny groupBy for per-class counts (collected — bounded at
    |classes| rows, the IVF bounded-collect pattern), then one window
    shuffle on lang for the rank filter. At 100 TB the rank order is the
    same exchange a per-class sort-limit would pay; hot classes split via
    AQE skew handling."""
    W = sum(MIX_WEIGHTS.values())
    doc = load_table(spark, sf_dir, "documents")
    counts = {
        r["lang"]: r["n"]
        for r in doc.filter(F.col("lang").isin(*MIX_WEIGHTS))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    m = min(counts[k] * W // w for k, w in MIX_WEIGHTS.items() if k in counts)
    take = {k: w * m // W for k, w in MIX_WEIGHTS.items() if k in counts}
    w_rank = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    take_col = F.create_map(
        *[F.lit(x) for kv in take.items() for x in kv]
    )[F.col("lang")]
    return (
        doc.select("doc_id", "lang")
        .withColumn("mix_rank", F.row_number().over(w_rank))
        .filter(F.col("mix_rank") <= F.coalesce(take_col, F.lit(0)))
    )


#: polynomial rolling-hash parameters (Rabin–Karp style): base × prior
#: acc + portable 32-bit token hash, mod a prime small enough that
#: acc·base + h < 2⁶³ — identical arithmetic on both engines, no overflow
#: (Spark longs wrap silently, DuckDB BIGINTs error; staying < 2⁶³ avoids
#: depending on either behavior).
ROLL_BASE = 1_000_003
ROLL_MOD = 1_000_000_007


@query(
    "x4_rolling_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT))),
             (acc, h) -> (acc * {ROLL_BASE} + h) % {ROLL_MOD}) AS rolling_fp
    FROM documents
    """,
)
def x4_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-SENSITIVE document fingerprint: a Rabin–Karp-style polynomial
    rolling hash folded over the token sequence (x4_fingerprint's
    sorted-md5 is the order-insensitive complement). Token hashes are
    md5-prefix integers — portable across engines, unlike xxhash64 — so
    the whole fingerprint is oracle-exact. Pure JVM fold (aggregate HOF)
    over the split array: narrow, zero shuffles."""
    doc = load_table(spark, sf_dir, "documents")
    tok_hash = lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")  # noqa: E731
    roll = F.aggregate(
        words(),
        F.lit(0).cast("long"),
        lambda acc, w: (acc * F.lit(ROLL_BASE) + tok_hash(w)) % F.lit(ROLL_MOD),
    )
    return doc.select("doc_id", roll.alias("rolling_fp"))


#: sequence packing defaults: shard fan-out and per-bin token budget
#: (the registered query pins these; pack_sequences takes both as
#: arguments — shard count is a tuning knob, not a semantic constant)
PACK_SHARDS = 32
PACK_BUDGET = 128


def _pack_shard_fn(budget: int):
    """Kernel factory: greedy sequential packing within one shard, docs
    in doc_id order: cum += n_tokens; overflow closes the bin. Sequential
    by design — the parallelism lives across shards, which is how
    production packers run (pack per shard/file, never a global
    sequential pass)."""
    import pandas as pd

    def pack(pdf):
        pdf = pdf.sort_values("doc_id")
        bins, cum, b = [], 0, 0
        for n in pdf["n_tokens"]:
            if cum + n > budget and cum > 0:
                b += 1
                cum = 0
            cum += n
            bins.append(b)
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "shard": pdf["shard"],
                "n_tokens": pdf["n_tokens"],
                "bin_id": bins,
            }
        )

    return pack


def _pack_shard(pdf):
    """Default-budget kernel (kept for the property-test surface)."""
    return _pack_shard_fn(PACK_BUDGET)(pdf)


def pack_sequences(
    doc: DataFrame, shards: int = PACK_SHARDS, budget: int = PACK_BUDGET
) -> DataFrame:
    """Shard → greedy per-shard pack (see x8_sequence_packing). ``shards``
    trades parallelism against packing efficiency (more shards = more
    parallel packers but more partially-filled final bins); at 100 TB
    it should track the write-side file count, so it is an argument, not
    a constant."""
    sharded = doc.select(
        "doc_id",
        (F.col("doc_id") % shards).alias("shard"),
        F.size(words()).alias("n_tokens"),
    )
    return sharded.groupBy("shard").applyInPandas(
        _pack_shard_fn(budget),
        schema="doc_id long, shard long, n_tokens long, bin_id long",
    )


@query(
    "x8_sequence_packing",
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
             len(string_split(text, ' ')) AS n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id % {PACK_SHARDS} ORDER BY doc_id) AS rn
      FROM documents
    ),
    packed(shard, rn, doc_id, n_tokens, bin_id, cum) AS (
      SELECT shard, rn, doc_id, n_tokens, 0, n_tokens FROM d WHERE rn = 1
      UNION ALL
      SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN p.cum + d.n_tokens > {PACK_BUDGET} AND p.cum > 0
                  THEN p.bin_id + 1 ELSE p.bin_id END,
             CASE WHEN p.cum + d.n_tokens > {PACK_BUDGET} AND p.cum > 0
                  THEN d.n_tokens ELSE p.cum + d.n_tokens END
      FROM packed p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1
    )
    SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(bin_id AS BIGINT) AS bin_id
    FROM packed
    """,
)
def x8_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the batch-prep step that concatenates documents
    into fixed-token-budget training bins. Packing is inherently
    sequential, so the scalable form shards first (deterministic
    ``doc_id % PACK_SHARDS``) and packs greedily WITHIN each shard in
    doc_id order via ``applyInPandas`` — one shuffle on shard, every
    shard packs in parallel, no global order dependency. A doc larger
    than the budget occupies a bin alone. Oracle: the identical greedy
    recurrence as a recursive CTE over per-shard row numbers."""
    return pack_sequences(load_table(spark, sf_dir, "documents"))


# ----------------------------------------------------------------------
# BM25 relevance scoring (the IR ranking op of a retrieval pipeline)
# ----------------------------------------------------------------------
#: fixed query-term set (mixed document frequencies in the synthetic
#: vocabulary) and the standard Okapi parameters
BM25_TERMS = ["hash", "join", "vector"]
BM25_K1 = 1.2
BM25_B = 0.75


@query(
    "x4_bm25_score",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), dl AS (
      SELECT doc_id, len(words) AS dl FROM w
    ), stats AS (
      SELECT COUNT(*) AS n_docs, SUM(len(words)) AS total_tokens FROM w
    ), tok AS (
      SELECT doc_id, UNNEST(words) AS t FROM w
    ), tf AS (
      SELECT doc_id, t, COUNT(*) AS tf FROM tok
      WHERE t IN ({", ".join(f"'{t}'" for t in BM25_TERMS)})
      GROUP BY doc_id, t
    ), df AS (
      SELECT t, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY t
    )
    SELECT tf.doc_id,
           ROUND(SUM(
             ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.tf * ({BM25_K1} + 1.0))
             / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                + {BM25_B} * dl.dl
                  / (CAST(stats.total_tokens AS DOUBLE) / stats.n_docs)))
           ), 6) AS bm25
    FROM tf
    JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY tf.doc_id
    """,
)
def x4_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query-term
    set — the ranking function of a retrieval/data-curation pipeline,
    expressed entirely in built-in aggregations:

    - per-doc term frequencies: explode + filter to the query terms
      BEFORE the groupBy, so the shuffle carries only query-term hits,
      never the corpus's token stream — and the doc length rides through
      the explode as a functionally-dependent group key, so no separate
      length table or doc-keyed join exists at all;
    - document frequencies and corpus stats (N, avgdl): two tiny
      aggregates, broadcast into the scoring join (they are |terms| and
      1 rows — at 100 TB still broadcast);
    - the score is one partial-aggregated sum per doc.

    Scoring math runs in float64 on both engines (ln/divide are IEEE
    ops); the output rounds to 6 decimals like every double surface in
    the repo. The only corpus-sized shuffle is the tf groupBy (hits
    only); the final per-doc sum re-exchanges ≤ |docs|·|terms| rows."""
    doc = load_table(spark, sf_dir, "documents")
    arrays = doc.select("doc_id", words().alias("words"))
    stats = arrays.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("words")).alias("total_tokens"),
    )
    tok = arrays.select(
        "doc_id", F.size("words").alias("dl"), F.explode("words").alias("t")
    )
    tf = (
        tok.filter(F.col("t").isin(BM25_TERMS))
        .groupBy("doc_id", "dl", "t")  # dl functionally dep. on doc_id
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("t").agg(F.countDistinct("doc_id").alias("df"))
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    score = idf * (F.col("tf") * (BM25_K1 + 1.0)) / (
        F.col("tf")
        + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl)
    )
    return (
        tf.join(F.broadcast(df), "t")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(score), 6).alias("bm25"))
    )


# ----------------------------------------------------------------------
# Document chunking (fixed-size overlapping token windows)
# ----------------------------------------------------------------------
#: chunk window and stride in tokens (stride < size ⇒ overlap, the
#: context-preserving convention LLM preprocessing uses)
CHUNK_SIZE = 64
CHUNK_STRIDE = 48


@query(
    "x8_doc_chunking",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), c AS (
      SELECT doc_id, words,
             UNNEST(generate_series(1, len(words), {CHUNK_STRIDE})) AS start
      FROM w
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(len(words[start:start + {CHUNK_SIZE - 1}]) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(words[start:start + {CHUNK_SIZE - 1}], ' ')
             AS chunk_text
    FROM c
    """,
)
def x8_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunks — the preprocessing step that
    turns long documents into model-window-sized training rows. Pure
    narrow built-ins: ``sequence`` generates the chunk starts, explode +
    ``slice`` cuts each window — ZERO shuffles, output rows ∝ tokens /
    stride. The trailing chunk keeps whatever tokens remain (both
    engines share the truncating-slice convention)."""
    doc = load_table(spark, sf_dir, "documents")
    starts = doc.select("doc_id", words().alias("words")).select(
        "doc_id",
        "words",
        F.explode(
            F.sequence(F.lit(1), F.size("words"), F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice("words", F.col("start"), CHUNK_SIZE)
    return starts.select(
        "doc_id",
        F.expr(f"CAST((start - 1) DIV {CHUNK_STRIDE} AS BIGINT)").alias(
            "chunk_id"
        ),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


# ----------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis as top-k)
# ----------------------------------------------------------------------
#: docs kept per source in the weighted draw
ES_K = 20
#: 2^32 + 1: maps the 32-bit md5 prefix to a uniform in (0, 1]
_ES_DENOM = 4294967297.0


@query(
    "x8_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT source, doc_id,
             ROUND(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                             1, 8)) AS BIGINT) + 1.0) / {_ES_DENOM})
                   / n_chars, 9) AS k
      FROM documents WHERE n_chars > 0
    ), ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY k DESC, doc_id) AS es_rank
      FROM keyed
    )
    SELECT source, doc_id, es_rank FROM ranked WHERE es_rank <= {ES_K}
    """,
)
def x8_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, P(doc) ∝ n_chars — the
    third data-mixing primitive (stratified fixes keep rates, mixture
    fixes output proportions; this draws by per-row weight, e.g. sample
    training docs proportional to length). Efraimidis–Spirakis: each row
    gets key u^(1/w) (compared as ln(u)/w) with u a DETERMINISTIC
    md5-derived uniform — a pure function of the row key, so the drawn
    sample is identical across engines, runs, and re-shards, unlike
    rand()-based sampling. The weighted draw then IS a per-source top-k:
    one window shuffle, no RNG state, and at 100 TB the same exchange a
    sort-limit pays (keys rounded to 9 decimals with a doc_id tiebreak,
    the repo's rank-determinism convention)."""
    doc = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("double")
        + 1.0
    ) / _ES_DENOM
    keyed = doc.filter(F.col("n_chars") > 0).select(
        "source",
        "doc_id",
        F.round(F.log(u) / F.col("n_chars"), 9).alias("k"),
    )
    w = Window.partitionBy("source").orderBy(F.col("k").desc(), "doc_id")
    return (
        keyed.withColumn("es_rank", F.row_number().over(w))
        .filter(F.col("es_rank") <= ES_K)
        .select("source", "doc_id", "es_rank")
    )


# ----------------------------------------------------------------------
# Unigram LM scoring (perplexity-style quality signal)
# ----------------------------------------------------------------------
@query(
    "x4_unigram_logprob",
    oracle=f"""
    WITH tok AS ({tokens_sql("doc_id")}),
    vocab AS ({term_counts_sql()}),
    total AS (
      SELECT CAST(SUM(n) AS BIGINT) AS t FROM vocab
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(CAST(FLOOR(ln(n / CAST(t AS DOUBLE))
                                     * 1000000000000)
                               AS DECIMAL(38,0))) AS DOUBLE)
                 / 1000000000000 / COUNT(*), 6)
             AS avg_logprob
    FROM tok JOIN vocab USING (term) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def x4_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the perplexity-style quality signal pretraining filters
    use (a doc whose token mix diverges from the corpus scores far
    below the mean). Shape: one token-count aggregation builds the LM
    (vocab is |distinct tokens| rows — broadcast at 100 TB when it
    fits, else a shuffle join on the token), then one partial-aggregated
    per-doc sum. Determinism — INTEGER-MICROUNIT scheme (ln() outputs
    are derived doubles, and a derived double cast to decimal can round
    a half-tie differently per engine): each token's log-prob
    floor-quantizes to an integer at 1e-12 BEFORE the exact
    DECIMAL(38,0) sum (order-independent by arithmetic; |ln|·1e12 ≤
    ~4e13 < 2^53, so the quantization is exact), with one double
    division + round at the emit boundary."""
    doc = load_table(spark, sf_dir, "documents")
    vocab = term_counts(doc)
    total = vocab.agg(F.sum("n").alias("t"))
    logp = F.floor(
        F.log(F.col("n") / F.col("t").cast("double")) * F.lit(1e12)
    ).cast("decimal(38,0)")
    return (
        tokens(doc, "doc_id")
        .join(vocab, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(logp).cast("double")
                / F.lit(1e12)
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
    )


# ----------------------------------------------------------------------
# PII redaction — regex scrub pass over the document corpus
# ----------------------------------------------------------------------
#: (category, pattern, replacement) — applied IN ORDER, so earlier
#: passes consume text later passes would otherwise match (an IPv4
#: octet run is redacted before the bare-digit card rule can see it;
#: '+'-prefixed phones go before cards for the same reason). Patterns
#: restrict to constructs with identical semantics in Java regex
#: (Spark) and RE2 (DuckDB): ASCII classes, bounded repetition, \b.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{9,15}\b", "<PHONE>"),
    ("card", r"\b\d{13,19}\b", "<CARD>"),
)


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Sequential regex scrub: per rule, count matches on the CURRENT
    text (post earlier redactions), then replace. All passes are
    JVM-side ``regexp_count``/``regexp_replace`` projections — the op
    is a pure scan-local map with zero shuffles, so at 100 TB it runs
    at parquet-read speed and composes with any downstream filter."""
    out = df
    cur = F.col(text_col)
    for name, pat, repl in PII_RULES:
        out = out.withColumn(f"n_{name}", F.regexp_count(cur, F.lit(pat)))
        out = out.withColumn(text_col, F.regexp_replace(cur, pat, repl))
    return out


def _pii_oracle() -> str:
    """The same sequential scrub, unrolled into nested SQL expressions —
    generated from PII_RULES so both engines share one rule table."""
    txt = "text"
    counts = []
    for name, pat, repl in PII_RULES:
        counts.append(
            f"len(regexp_extract_all({txt}, '{pat}')) AS n_{name}"
        )
        txt = f"regexp_replace({txt}, '{pat}', '{repl}', 'g')"
    cols = ",\n           ".join(counts)
    return f"""
    SELECT doc_id,
           {cols},
           {txt} AS text
    FROM documents
    """


@query("x4_pii_redact", oracle=_pii_oracle())
def x4_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the corpus: emails, IPv4s, international phone
    numbers and card-like digit runs replaced by typed tokens, with a
    per-category match count per document — the redaction pass every
    training-data pipeline runs before tokenization. This synthetic
    corpus contains no PII (counts are all zero and the text passes
    through unchanged — itself a property worth oracle-checking: a
    scrubber that mangles clean text is a data-corruption bug); the
    positive-match semantics are pinned by the seeded fixture test
    (tests/test_properties.py::test_pii_redaction_seeded), which feeds
    every rule class plus ordering traps (an IP inside longer digit
    runs, '+'-phone vs card precedence) through both engines."""
    doc = load_table(spark, sf_dir, "documents")
    red = redact_pii(doc.select("doc_id", "text"))
    names = [f"n_{n}" for n, _, _ in PII_RULES]
    return red.select("doc_id", *names, "text")


# ----------------------------------------------------------------------
# Token normalization — the pre-tokenizer cleanup pass
# ----------------------------------------------------------------------
#: closed-class words dropped by the normalizer (kept deliberately tiny
#: and explicit — a real pipeline ships per-language lists; these hit
#: the synthetic corpus's actual vocabulary so the op is exercised)
STOPWORDS: tuple[str, ...] = ("a", "the", "of", "and", "to", "in")

#: single-pass word-boundary alternation removing every stopword token;
#: generated from STOPWORDS and shared verbatim with the DuckDB oracle
_SW_PATTERN = r"\b(" + "|".join(STOPWORDS) + r")\b"


@query(
    "x4_token_normalize",
    oracle=f"""
    WITH cleaned AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))
               AS pre
      FROM documents
    ), dropped AS (
      SELECT doc_id, pre,
             trim(regexp_replace(
               regexp_replace(pre, '{_SW_PATTERN}', ' ', 'g'),
               '  +', ' ', 'g')) AS norm_text
      FROM cleaned
    )
    SELECT doc_id, norm_text,
           CAST(CASE WHEN norm_text = '' THEN 0
                ELSE len(string_split(norm_text, ' ')) END AS BIGINT)
             AS n_kept,
           CAST((CASE WHEN pre = '' THEN 0
                 ELSE len(string_split(pre, ' ')) END)
              - (CASE WHEN norm_text = '' THEN 0
                 ELSE len(string_split(norm_text, ' ')) END) AS BIGINT)
             AS n_dropped
    FROM dropped
    """,
)
def x4_token_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenizer normalization: lowercase, strip non-alphanumerics,
    collapse whitespace, drop stopwords — with kept/dropped counts per
    document (the knob audits what the cleanup destroys). Every pass is
    a codegen'd ``regexp_replace`` (the stopword drop is ONE
    word-boundary alternation pass, shared verbatim with the oracle) —
    zero shuffles, and crucially no higher-order array filters: HOF
    lambdas run interpreted AND re-evaluate per column reference, which
    benched ~7x slower on the 10x replica before this formulation
    (BENCH_SCALE.json history). The stopword list is a generated
    alternation on both engines; at real vocabulary sizes it becomes a
    broadcast join against a lexicon table, same plan shape as
    x2_decontaminate's eval side."""
    doc = load_table(spark, sf_dir, "documents")
    pre = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
    )
    d = doc.select("doc_id", pre.alias("pre"))
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("pre"), _SW_PATTERN, " "), "  +", " "
        )
    )
    d = d.select("doc_id", "pre", norm.alias("norm_text"))
    n_of = lambda c: F.when(  # noqa: E731
        F.col(c) == "", F.lit(0)
    ).otherwise(F.size(words(c)))
    return d.select(
        "doc_id",
        "norm_text",
        n_of("norm_text").cast("long").alias("n_kept"),
        (n_of("pre") - n_of("norm_text")).cast("long").alias("n_dropped"),
    )


@query(
    "x4_corpus_profile",
    oracle="""
    WITH t AS (
      SELECT lang, source, len(string_split(text, ' ')) AS toks
      FROM documents
    ), tot AS (SELECT COUNT(*) AS n FROM t)
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(CAST(COUNT(*) AS DOUBLE) / tot.n, 6) AS frac_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(toks) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
           quantile_cont(toks, 0.5) AS p50_tokens,
           quantile_cont(toks, 0.95) AS p95_tokens,
           COUNT(DISTINCT source) AS n_sources
    FROM t CROSS JOIN tot
    GROUP BY lang, tot.n
    """,
)
def x4_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card profile: per-language document counts, corpus
    fraction, token totals and quantiles, source diversity — the
    one-aggregation summary a training-data pipeline publishes with
    every corpus release. All partializable aggregates plus two exact
    interpolated quantiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``); the corpus total is a broadcast 1-row
    aggregate. Output is |langs| rows — at 100 TB the whole card costs
    one combined scan."""
    doc = load_table(spark, sf_dir, "documents")
    t = doc.select("lang", "source", F.size(words()).alias("toks"))
    tot = F.broadcast(t.agg(F.count(F.lit(1)).alias("n")))
    return (
        t.crossJoin(tot)
        .groupBy("lang", "n")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.count(F.lit(1)).cast("double") / F.first("n"), 6).alias(
                "frac_docs"
            ),
            F.sum("toks").cast("long").alias("total_tokens"),
            F.round(
                F.sum("toks").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_tokens"),
            F.percentile("toks", F.lit(0.5)).alias("p50_tokens"),
            F.percentile("toks", F.lit(0.95)).alias("p95_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
        .drop("n")
    )


#: bigram-LM per-doc scoring oracle — shared by x4_bigram_logprob and
#: the perplexity-decile bucketing built on top of it
_BIGRAM_LP_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ), uni AS ({term_counts_sql()}),
    vocab AS (SELECT COUNT(*) AS v FROM uni),
    bi AS (
      SELECT doc_id, words[i] AS w1, words[i] || ' ' || words[i+1] AS bg
      FROM w, UNNEST(generate_series(1, len(words) - 1)) AS t(i)
    ), bic AS (
      SELECT bg, COUNT(*) AS c2 FROM bi GROUP BY bg
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(CAST(FLOOR(LN((bic.c2 + 1.0)
                                        / (uni.n + vocab.v))
                                     * 1000000000000)
                               AS DECIMAL(38,0))) AS DOUBLE)
                 / 1000000000000 / COUNT(*), 6)
             AS avg_logprob
    FROM bi
    JOIN bic USING (bg)
    JOIN uni ON uni.term = bi.w1
    CROSS JOIN vocab
    GROUP BY doc_id
"""


@query("x4_bigram_logprob", oracle=_BIGRAM_LP_ORACLE)
def x4_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring with add-one smoothing — the rung
    above ``x4_unigram_logprob``: per-doc mean log P(wᵢ | wᵢ₋₁) where
    P = (c(wᵢ₋₁wᵢ)+1)/(c(wᵢ₋₁)+V). Counts are corpus aggregations
    (bigram table, unigram table, vocab size — the LM \"training\" is
    two groupBys), scoring is a per-occurrence join; per-token logs
    are DECIMAL-truncated before the sum so the per-doc aggregate is
    order-independent (the unigram-LM convention). At 100 TB the count
    tables are Zipf-skewed — AQE skew-join handles the hot prefixes,
    or pre-filter to a top-V vocabulary exactly like the df ceiling.
    Per-token logs floor-quantize to integers at 1e-12 before the
    exact DECIMAL(38,0) sum (the unigram-LM microunit convention: a
    derived double never casts to decimal)."""
    from pyspark.ml.feature import NGram

    doc = load_table(spark, sf_dir, "documents")
    # Materialized once: the vocab-size count below and the scoring join
    # both read the unigram table, which lazily would pay its corpus
    # explode + groupBy per consumer (~0.5 s at sf0.1, for each of the
    # three rungs that stack on this one).
    uni = term_counts(doc).localCheckpoint(eager=True)
    v = uni.count()  # vocab size — bounded job over the materialized table
    arrays = doc.select("doc_id", words().alias("words")).filter(
        F.size("words") >= 2
    )
    grams = NGram(n=2, inputCol="words", outputCol="raw").transform(arrays)
    bi = grams.select(
        "doc_id", F.explode("raw").alias("bg")
    ).withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
    bic = bi.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    logp = F.floor(
        F.log((F.col("c2") + F.lit(1.0)) / (F.col("n") + F.lit(float(v))))
        * F.lit(1e12)
    ).cast("decimal(38,0)")
    return (
        bi.join(bic, "bg")
        .join(uni.withColumnRenamed("term", "w1"), "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(logp).cast("double")
                / F.lit(1e12)
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
    )


# ----------------------------------------------------------------------
# Heavy hitters — Misra-Gries candidate pass + exact verify pass
# ----------------------------------------------------------------------
#: heavy-hitter threshold as a corpus fraction (term is heavy iff
#: freq ≥ HH_FRAC_PCT% of all tokens); integer-exact on both engines
#: as ``100 * c >= N``
HH_FRAC_PCT = 1

#: Misra-Gries counter capacity per Arrow batch — 2/frac, so the
#: per-batch undercount ≤ batch_tokens/capacity is half the threshold
#: margin and no true heavy hitter can be evicted everywhere
HH_CAPACITY = 200


def _mg_sketch(batches):
    """Per-batch Misra-Gries: at most HH_CAPACITY counters, classic
    decrement-all eviction. Emits each surviving counter's lower bound.
    Memory is O(capacity) per batch regardless of vocabulary — the
    whole point at 100 TB, where a full term groupBy of a web corpus
    shuffles billions of distinct grams."""
    import pandas as pd

    for pdf in batches:
        counters: dict[str, int] = {}
        for text in pdf["text"]:
            for w in text.split(" "):
                if w in counters:
                    counters[w] += 1
                elif len(counters) < HH_CAPACITY:
                    counters[w] = 1
                else:
                    dead = [k for k in counters if counters[k] == 1]
                    for k in counters:
                        counters[k] -= 1
                    for k in dead:
                        del counters[k]
        if counters:
            yield pd.DataFrame(
                {"term": list(counters), "lb": list(counters.values())}
            )


@query(
    "x4_heavy_hitters",
    oracle=f"""
    WITH t AS ({tokens_sql()}),
    tot AS (SELECT COUNT(*) AS n FROM t)
    SELECT term, COUNT(*) AS freq
    FROM t CROSS JOIN tot
    GROUP BY term, tot.n
    HAVING {100 // HH_FRAC_PCT} * COUNT(*) >= tot.n
    """,
)
def x4_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (terms at or above HH_FRAC_PCT percent of
    all tokens) via
    the two-pass sketch-then-verify pattern: pass 1 is a Misra-Gries
    sketch per Arrow batch (O(capacity) memory, never a full-vocabulary
    shuffle) whose union provably contains every true heavy hitter
    (capacity = 2/frac ⇒ per-batch undercount below the threshold
    margin — no false negatives); pass 2 exactly counts ONLY the
    candidates (a broadcast semi-join against a capacity-bounded set)
    and applies the integer-exact threshold. Output is therefore
    partition-independent and oracle-exact even though the sketch
    itself isn't — at 100 TB the full-groupBy oracle formulation is
    exactly the shuffle this op exists to avoid."""
    doc = load_table(spark, sf_dir, "documents")
    cand = (
        doc.select("text")
        .mapInPandas(_mg_sketch, schema="term string, lb long")
        .select("term")
        .distinct()
    )
    tok = tokens(doc)
    n = tok.count()  # token total — one bounded job, folds into the gate
    return (
        tok.join(F.broadcast(cand), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter((100 // HH_FRAC_PCT) * F.col("freq") >= n)
    )


# ----------------------------------------------------------------------
# Gopher-style composite quality filter (integer-exact rule algebra)
# ----------------------------------------------------------------------
@query(
    "x4_gopher_filter",
    oracle=f"""
    WITH tf AS ({term_counts_sql("doc_id")}),
    s AS (
      SELECT doc_id,
             CAST(SUM(n) AS BIGINT)            AS wc,
             CAST(COUNT(*) AS BIGINT)          AS distinct_wc,
             CAST(MAX(n) AS BIGINT)            AS max_tf,
             CAST(SUM(len(term) * n) AS BIGINT) AS n_chars
      FROM tf GROUP BY doc_id
    )
    SELECT doc_id, wc AS n_words,
           CASE
             WHEN wc < 5 OR wc > 500            THEN 'word_count'
             WHEN n_chars < 2 * wc
               OR n_chars > 10 * wc             THEN 'mean_word_length'
             WHEN 10 * distinct_wc < 3 * wc     THEN 'distinct_fraction'
             WHEN 5 * max_tf > wc               THEN 'repetition'
           END AS reject_reason,
           (wc >= 5 AND wc <= 500
            AND n_chars >= 2 * wc AND n_chars <= 10 * wc
            AND 10 * distinct_wc >= 3 * wc
            AND 5 * max_tf <= wc) AS keep
    FROM s
    """,
)
def x4_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality filter (Rae et al. 2021, §A1.1
    adapted to this corpus): a document survives only if its word
    count, mean word length, distinct-word fraction, and top-word
    repetition all sit inside fixed bands; rejected docs carry the
    FIRST failing rule as the reject reason (the ordering is the
    filter's triage priority, matching the paper's cascade).

    Every rule is evaluated in INTEGER cross-multiplied form
    (``10*distinct >= 3*wc`` instead of ``distinct/wc >= 0.3``) so the
    keep decision is bit-identical on any engine — a float ratio at a
    band edge is exactly the cross-engine divergence the repo's
    determinism policy exists to prevent. One explode + two partial-agg
    shuffles: the per-(doc, term) histogram feeds ALL four statistics
    (wc = Σtf, distinct = count, max_tf, chars = Σ len·tf) in a single
    pass — never one scan per rule."""
    doc = load_table(spark, sf_dir, "documents")
    s = term_counts(doc, "doc_id").groupBy("doc_id").agg(
        F.sum("n").alias("wc"),
        F.count(F.lit(1)).alias("distinct_wc"),
        F.max("n").alias("max_tf"),
        F.sum(F.length("term") * F.col("n")).alias("n_chars"),
    )
    wc, dwc = F.col("wc"), F.col("distinct_wc")
    mx, ch = F.col("max_tf"), F.col("n_chars")
    keep = (
        (wc >= 5) & (wc <= 500)
        & (ch >= 2 * wc) & (ch <= 10 * wc)
        & (10 * dwc >= 3 * wc)
        & (5 * mx <= wc)
    )
    reason = (
        F.when((wc < 5) | (wc > 500), "word_count")
        .when((ch < 2 * wc) | (ch > 10 * wc), "mean_word_length")
        .when(10 * dwc < 3 * wc, "distinct_fraction")
        .when(5 * mx > wc, "repetition")
    )
    return s.select(
        "doc_id",
        wc.alias("n_words"),
        reason.alias("reject_reason"),
        keep.alias("keep"),
    )


# ----------------------------------------------------------------------
# Token-length bucketed batching (padding-waste minimization)
# ----------------------------------------------------------------------
#: tokens per length bucket (fixed-width bins — integer-exact on any
#: engine, unlike float log2 binning at power-of-two edges)
BUCKET_WIDTH = 16
#: documents per training batch within a bucket
BATCH_DOCS = 8


_LENGTH_BUCKETS_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), b AS (
      SELECT doc_id, n_tokens,
             CAST(n_tokens // {BUCKET_WIDTH} AS BIGINT) AS bucket,
             CAST((ROW_NUMBER() OVER (
                 PARTITION BY CAST(n_tokens // {BUCKET_WIDTH} AS BIGINT)
                 ORDER BY doc_id) - 1) // {BATCH_DOCS} AS BIGINT)
               AS batch_id
      FROM d
    )
    SELECT bucket, batch_id,
           COUNT(*) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
             AS pad_waste
    FROM b GROUP BY bucket, batch_id
    """


@query("x8_length_buckets", oracle=_LENGTH_BUCKETS_ORACLE)
@query("x8_length_buckets_scalable", oracle=_LENGTH_BUCKETS_ORACLE)
def x8_length_buckets_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly: group documents into fixed-width
    token-length buckets, then assign deterministic training batches of
    ``BATCH_DOCS`` docs within each bucket (ordered by doc_id), reporting
    per-batch padding waste (docs·max − Σ tokens — the cost the bucketing
    exists to minimize: batching unsorted docs pads every row to the
    global max; bucketing caps the spread at ``BUCKET_WIDTH``).

    Both names run this body. The oracle's per-bucket ROW_NUMBER is
    replaced by the grouped distributed prefix sum, so no task ever
    holds a whole bucket (a bucket is a corpus-sized fraction at
    scale):

    1. range-partition on (bucket, doc_id) — every partition holds a
       contiguous slice, so a bucket spans consecutive partitions and
       each partition touches a CONTIGUOUS run of buckets.
    2. count rows per (partition, bucket): ≤ P + B rows total (each of
       P partitions adds its interior buckets once, and boundary
       buckets once per partition that touches them) — bounded by
       config + bucket-count, not data — collected and turned into
       exclusive per-bucket prefix offsets on the driver.
    3. local ROW_NUMBER per (partition, bucket) + broadcast offset =
       the exact global within-bucket rank → the oracle's batch ids.

    Same construction as ``x8_budget_select_scalable`` generalized to
    a grouping key (the offsets are per (pid, bucket), cumulating over
    pids WITHIN each bucket) — both the shared
    ``functions.distributed.global_prefix_sums`` primitive."""
    from ..functions.distributed import global_prefix_sums

    doc = load_table(spark, sf_dir, "documents")
    d = doc.select("doc_id", F.size(words()).alias("n_tokens")).withColumn(
        "bucket", F.expr(f"CAST(n_tokens DIV {BUCKET_WIDTH} AS BIGINT)")
    )
    ranked, _totals = global_prefix_sums(
        spark,
        d,
        [F.col("doc_id")],
        val_col=None,
        group_cols=["bucket"],
        out_col="grank",
    )
    b = ranked.withColumn(
        "batch_id",
        F.expr(f"CAST((grank - 1) DIV {BATCH_DOCS} AS BIGINT)"),
    )
    return b.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        (
            F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens")
        ).cast("bigint").alias("pad_waste"),
    )


# ----------------------------------------------------------------------
# Deterministic per-epoch corpus shuffle (training-order generation)
# ----------------------------------------------------------------------
#: training epochs to generate orderings for
N_EPOCHS = 2


@query(
    "x8_epoch_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT e.epoch, d.doc_id,
             md5(CAST(e.epoch AS VARCHAR) || ':'
                 || CAST(d.doc_id AS VARCHAR)) AS sortkey
      FROM documents d
      CROSS JOIN (SELECT UNNEST(range({N_EPOCHS})) AS epoch) e
    )
    SELECT CAST(epoch AS BIGINT) AS epoch,
           substr(sortkey, 1, 1) AS shard,
           COUNT(*) AS n_docs,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY sortkey, doc_id)) AS order_fp
    FROM keyed GROUP BY epoch, substr(sortkey, 1, 1)
    """,
)
def x8_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch deterministic corpus shuffle: every epoch orders the
    corpus by ``md5(epoch:doc_id)`` — a different, reproducible
    permutation per epoch with no RNG state to checkpoint (re-running
    epoch 3 after a crash yields byte-identical order; the same
    portable-hash-rank trick as x8_stratified_sample). Docs are
    distributed into 16 shards by the key's first hex digit, and each
    shard's ORDER is pinned cross-engine by an md5 fingerprint of its
    doc_id sequence — the oracle checks the actual training order, not
    just shard membership.

    Scale shape: shard assignment and sort keys are scan-side
    projections; the only shuffle is the (epoch, shard) groupBy. No
    epoch ever needs a GLOBAL sort — training readers consume shards
    independently, each shard sorting locally (here inside the agg's
    collect_list; at 100 TB via repartition(epoch, shard) +
    sortWithinPartitions on the same key, same resulting order)."""
    doc = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(N_EPOCHS).select(F.col("id").alias("epoch"))
    keyed = doc.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat_ws(
                ":",
                F.col("epoch").cast("string"),
                F.col("doc_id").cast("string"),
            )
        ).alias("sortkey"),
    )
    return keyed.groupBy(
        "epoch", F.substring("sortkey", 1, 1).alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.md5(_ordered_join("sortkey", "doc_id", ",")).alias("order_fp"),
    )


# ----------------------------------------------------------------------
# CCNet-style perplexity bucketing over the bigram-LM scores
# ----------------------------------------------------------------------
_PPL_BUCKETS_ORACLE = f"""
    WITH lp AS ({_BIGRAM_LP_ORACLE}),
    ranked AS (
      SELECT doc_id, avg_logprob,
             NTILE(10) OVER (ORDER BY avg_logprob DESC, doc_id) AS decile
      FROM lp
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           COUNT(*) AS n_docs,
           ROUND(MIN(avg_logprob), 6) AS min_logprob,
           ROUND(MAX(avg_logprob), 6) AS max_logprob
    FROM ranked GROUP BY decile
    """


@query("x4_perplexity_buckets", oracle=_PPL_BUCKETS_ORACLE)
@query("x4_perplexity_buckets_scalable", oracle=_PPL_BUCKETS_ORACLE)
def x4_perplexity_buckets_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every document with the
    corpus bigram LM (higher mean logprob = more 'in-distribution' =
    lower perplexity), then cut the corpus into NTILE(10) quality
    deciles — decile 1 is the head CCNet keeps, 10 the tail it drops or
    down-weights. Ties at decile boundaries break on doc_id so the cut
    is engine-exact (the LM scores themselves are oracle-matched
    IEEE-identical doubles via x4_bigram_logprob).

    Both names run this body. The oracle's global NTILE is replaced by
    exact distributed ranks + NTILE arithmetic:

    1. range-partition the (doc_id, avg_logprob) pairs on
       (avg_logprob DESC, doc_id); per-partition counts → exclusive
       prefix-sum offsets on the driver (O(config) rows) — the same
       construction as ``x8_budget_select_scalable``.
    2. global rank k = local row_number + partition offset; n = Σ
       counts (a driver scalar).
    3. NTILE(10) is then pure arithmetic on (k, n): with q = n div 10
       and r = n mod 10, the first r tiles take q+1 rows —
       decile(k) = ceil(k / (q+1)) while k ≤ r·(q+1), else
       r + ceil((k − r·(q+1)) / q).

    So the exact boundary semantics survive without any task seeing
    more than one range-partition; ``x4_perplexity_buckets_approx``
    is the sketch rung for when even exact ranks aren't worth a
    range exchange. The rank construction is the shared
    ``functions.distributed.global_ranks`` primitive."""
    from ..functions.distributed import global_ranks, ntile_of_rank

    lp = x4_bigram_logprob(spark, sf_dir).select("doc_id", "avg_logprob")
    ranked, n = global_ranks(
        spark, lp, [F.col("avg_logprob").desc(), F.col("doc_id")]
    )
    ranked = ranked.withColumn("decile", ntile_of_rank(F.col("k"), n, 10))
    return ranked.groupBy(
        F.col("decile").cast("long").alias("decile")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.min("avg_logprob"), 6).alias("min_logprob"),
        F.round(F.max("avg_logprob"), 6).alias("max_logprob"),
    )


#: percentile_approx accuracy for the sketch decile cut — rank error
#: is bounded by 1/accuracy of the total mass
PPL_SKETCH_ACCURACY = 10_000


@query(
    "x4_perplexity_buckets_approx",
    # The oracle RECOMPUTES the band contract from the exact NTILE
    # deciles instead of asserting TRUE literals:
    # exact decile masses are n/10 ± 1, strictly inside the sketch's
    # tolerance band (±(2 + 2n/accuracy)), so a correct sketch and the
    # exact cut agree on both booleans — and a sketch whose masses
    # drift out of band hash-mismatches against the oracle's derived
    # TRUE rather than being self-reported.
    oracle=f"""
    WITH lp AS ({_BIGRAM_LP_ORACLE}),
    deciles AS (
      SELECT NTILE(10) OVER (ORDER BY avg_logprob DESC, doc_id)
               AS decile
      FROM lp
    ),
    masses AS (SELECT decile, COUNT(*) AS n FROM deciles GROUP BY decile)
    SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
           COUNT(*) = 10 AS deciles_cover,
           MAX(n) <= SUM(n) / 10.0
                     + (2.0 + SUM(n) * (2.0 / {PPL_SKETCH_ACCURACY}))
           AND MIN(n) >= SUM(n) / 10.0
                     - (2.0 + SUM(n) * (2.0 / {PPL_SKETCH_ACCURACY}))
             AS counts_in_band
    FROM masses
    """,
)
def x4_perplexity_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch rung of ``x4_perplexity_buckets`` (band-twin
    contract, same pattern as ``ext_approx_percentile_band``): decile
    edges come from ONE mergeable ``percentile_approx`` sketch over the
    LM scores — partial-aggregated on every partition, merged once —
    and each document is bucketed scan-side by counting edges below its
    score. No window operator anywhere (the plan gate asserts it): the
    only global step is a 9-value sketch merge, in place of the
    oracle's global NTILE and the exact deciles' range exchange.

    Output contract: exact total doc count (oracle-matched) plus two
    band booleans computed in-plan — all ten deciles non-empty, and
    every decile's mass within ``N/10 ± (2 + 2·N/accuracy)`` (the
    sketch's rank-error bound with slack for boundary ties)."""
    # Doubly-consumed intermediate (edge sketch + bucket join): the
    # bigram-LM scoring is this query's dominant cost, so materialize
    # the (doc_id, avg_logprob) pairs ONCE — without this the full LM
    # subtree executes twice (same localCheckpoint pattern as
    # ext_q2/ext_q11/x6_rfm_scores_scalable).
    lp = (
        x4_bigram_logprob(spark, sf_dir)
        .select("doc_id", "avg_logprob")
        .localCheckpoint(eager=True)
    )
    edges = lp.agg(
        F.percentile_approx(
            "avg_logprob",
            F.array(*[F.lit(i / 10.0) for i in range(1, 10)]),
            F.lit(PPL_SKETCH_ACCURACY),
        ).alias("edges")
    )
    # decile 1 = highest scores (matches the oracle's DESC NTILE):
    # count ascending edges strictly below the score, subtract from 10
    bucketed = lp.join(F.broadcast(edges)).select(
        (
            F.lit(10)
            - F.size(F.filter("edges", lambda e: e < F.col("avg_logprob")))
        ).alias("decile")
    )
    counts = bucketed.groupBy("decile").agg(F.count(F.lit(1)).alias("n"))
    tol = F.lit(2.0) + F.col("n_docs") * (2.0 / PPL_SKETCH_ACCURACY)
    return (
        counts.agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_deciles"),
            F.max("n").alias("mx"),
            F.min("n").alias("mn"),
        )
        .select(
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.col("n_deciles") == 10).alias("deciles_cover"),
            (
                (F.col("mx") <= F.col("n_docs") / 10.0 + tol)
                & (F.col("mn") >= F.col("n_docs") / 10.0 - tol)
            ).alias("counts_in_band"),
        )
    )


# ----------------------------------------------------------------------
# Minority-class oversampling (deterministic replication to balance)
# ----------------------------------------------------------------------
@query(
    "x8_oversample_minority",
    oracle="""
    WITH cnt AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), mx AS (SELECT MAX(n) AS mxn FROM cnt),
    factor AS (
      SELECT lang, n, CAST((mxn + n - 1) // n AS BIGINT) AS factor
      FROM cnt CROSS JOIN mx
    )
    SELECT d.doc_id, d.lang, CAST(c.copy_id AS BIGINT) AS copy_id,
           c.copy_id = 0 AS is_original
    FROM documents d
    JOIN factor f USING (lang)
    CROSS JOIN LATERAL (
      SELECT UNNEST(range(f.factor)) AS copy_id
    ) c
    """,
)
def x8_oversample_minority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-rebalancing oversampling: every language's documents are
    replicated ``ceil(max_class / class)`` times (integer ceiling —
    engine-exact, no float ratios), so after expansion every class
    sits within one replication step of the majority — the
    deterministic twin of random oversampling (each copy is traceable
    to its source row by (doc_id, copy_id), which is what lets a
    training run dedup or re-weight copies later; RNG oversampling
    loses that provenance).

    Scale shape: class counts are one partial-agg shuffle (|classes|
    rows), the factor table broadcasts, and the expansion itself is a
    scan-side ``explode(sequence(...))`` — NO shuffle touches the
    replicated rows. The inflation is bounded by construction:
    output ≤ 2 · max_class · |classes| rows regardless of skew
    (a 1-row class replicates max_class times, never more)."""
    doc = load_table(spark, sf_dir, "documents")
    cnt = doc.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mx = cnt.agg(F.max("n").alias("mxn"))
    factor = F.broadcast(
        cnt.join(mx).select(
            "lang",
            F.expr("CAST((mxn + n - 1) DIV n AS BIGINT)").alias("factor"),
        )
    )
    return (
        doc.select("doc_id", "lang")
        .join(factor, "lang")
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("factor") - 1)
            ).alias("copy_id"),
        )
        .select(
            "doc_id",
            "lang",
            "copy_id",
            (F.col("copy_id") == 0).alias("is_original"),
        )
    )


# ----------------------------------------------------------------------
# Vocabulary coverage curve (tokenizer-budget sizing)
# ----------------------------------------------------------------------
#: vocabulary-size cutoffs for the coverage curve
VOCAB_CUTS = (10, 50, 100, 500)


@query(
    "x4_vocab_coverage",
    oracle=f"""
    WITH tf AS ({term_counts_sql()}),
    ranked AS (
      SELECT term, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rnk,
             SUM(n) OVER (ORDER BY n DESC, term
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(n) OVER () AS total
      FROM tf
    )
    SELECT CAST(cut.n AS BIGINT) AS vocab_size,
           CAST(MAX(CASE WHEN rnk <= cut.n THEN cum END) AS BIGINT)
             AS covered_tokens,
           CAST(MAX(total) AS BIGINT) AS total_tokens
    FROM ranked
    CROSS JOIN (SELECT UNNEST({list(VOCAB_CUTS)}) AS n) cut
    GROUP BY cut.n
    """,
)
def x4_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-budget question: how
    many corpus token OCCURRENCES do the top-N most frequent terms
    cover, for each candidate vocab size N? (The Zipf head covers most
    of the mass; the curve's knee is where adding vocab stops paying.)
    Counts stay integers end-to-end — the coverage FRACTION is left to
    the consumer so no float ever crosses the engine boundary.

    Scale shape: one explode + partial-agg term count (the only shuffle
    that sees token volume); the grand total is its own one-row partial
    aggregate (broadcast); and the ranking window's INPUT is pre-pruned
    to exactly the top ``max(VOCAB_CUTS)`` terms via ORDER BY + LIMIT —
    Spark plans that as TakeOrderedAndProject (per-partition top-K,
    K-way merged on the driver; the plan gate asserts it), so the
    row_number/cumsum window sees O(max cuts) rows REGARDLESS of
    vocabulary size — the 'curve costs the same at any |vocab|' claim
    made literal (ranking the full |vocab| before the rnk filter would
    sort the whole vocabulary in one task). The prune is EXACT, not a
    sketch: limit's (count DESC, term) order is the window's order, so
    the kept set is precisely the terms with global rnk ≤ max(cuts).
    Tie order at a cutoff boundary is pinned by (count DESC, term)."""
    from pyspark.sql.window import Window as W

    doc = load_table(spark, sf_dir, "documents")
    # Doubly-consumed intermediate (`total` agg + top-K prune below):
    # materialize the |vocab|-row term-frequency aggregate once so the
    # explode→groupBy token scan never executes twice.
    tf = term_counts(doc).localCheckpoint(eager=True)
    total = tf.agg(F.sum("n").alias("total"))
    topk = tf.orderBy(F.col("n").desc(), "term").limit(max(VOCAB_CUTS))
    order = W.orderBy(F.col("n").desc(), "term")
    ranked = topk.select(
        "n",
        F.row_number().over(order).alias("rnk"),
        F.sum("n").over(
            order.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("cum"),
    ).join(F.broadcast(total))
    cuts = F.array(*[F.lit(n) for n in VOCAB_CUTS])
    return (
        ranked.select(
            "rnk", "cum", "total", F.explode(cuts).alias("vocab_size")
        )
        .groupBy(F.col("vocab_size").cast("long").alias("vocab_size"))
        .agg(
            F.max(
                F.when(F.col("rnk") <= F.col("vocab_size"), F.col("cum"))
            ).cast("long").alias("covered_tokens"),
            F.max("total").cast("long").alias("total_tokens"),
        )
    )


# ----------------------------------------------------------------------
# Token-budget data selection (best docs under a global budget)
# ----------------------------------------------------------------------
#: total token budget for the selection
SELECT_BUDGET = 10_000


_BUDGET_SELECT_ORACLE = f"""
    WITH s AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS wc,
             len(list_distinct(string_split(text, ' '))) AS dwc
      FROM documents
    ), scored AS (
      SELECT doc_id, CAST(wc AS BIGINT) AS wc,
             CAST(dwc * 1000000 // wc AS BIGINT) AS score
      FROM s
    ), ranked AS (
      SELECT doc_id, wc, score,
             SUM(wc) OVER (ORDER BY score DESC, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, wc, score, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked WHERE cum_tokens <= {SELECT_BUDGET}
    """


@query("x8_budget_select", oracle=_BUDGET_SELECT_ORACLE)
@query("x8_budget_select_scalable", oracle=_BUDGET_SELECT_ORACLE)
def x8_budget_select_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection under a token budget — 'give me the best
    ~10k tokens': rank documents by quality and take the greedy prefix
    whose cumulative token count fits the budget. The quality key is
    INTEGER lexical diversity (distinct-words-per-million-tokens via
    floor division — engine-exact, no float ratio at any rank
    boundary), ties pinned by doc_id, so the selected SET is identical
    on any engine and any partitioning — the property a reproducible
    training-data release needs.

    Both names run this body. The oracle's global cumulative window is
    replaced by the classic distributed prefix sum, so no operator
    anywhere sees more than one range-partition of (doc_id, wc, score)
    triples:

    1. ``repartitionByRange(score DESC, doc_id)`` — the range
       partitioner guarantees every key in partition *i* sorts before
       every key in partition *i+1* (doc_id makes the order total, so
       boundary placement is deterministic). Materialized once with
       ``localCheckpoint`` so the offsets job and the final job read
       the same partition assignment — and the storage self-frees with
       the result (same lifetime pattern as x9_pagerank).
    2. per-partition token totals: ONE row per partition (bounded by
       shuffle-partition config, not data) → collected to the driver
       and turned into exclusive prefix-sum offsets.
    3. local cumulative sums (window partitioned by partition id —
       every window group is one range-partition, never the world) +
       broadcast-joined offset = the exact global prefix sum.

    The plan gate (tests/test_plans.py) asserts RangePartitioning and
    the ABSENCE of any single-partition exchange. The
    partition/count/offset bookkeeping is the shared
    ``functions.distributed.global_prefix_sums`` primitive."""
    from ..functions.distributed import global_prefix_sums

    # the score product is forced to BIGINT BEFORE the *1e6 scale-up:
    # ``size()`` returns INT, and with ANSI off ``size(..)*1000000``
    # silently wraps past 2147 distinct words; DuckDB's ``len`` is BIGINT
    scored = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(words()).cast("long").alias("wc"),
        F.expr(
            "CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
            " * 1000000 DIV size(split(text, ' '))"
        ).alias("score"),
    )
    cum, _total = global_prefix_sums(
        spark,
        scored,
        [F.col("score").desc(), F.col("doc_id")],
        val_col="wc",
        out_col="cum_tokens",
    )
    return cum.select("doc_id", "wc", "score", "cum_tokens").filter(
        F.col("cum_tokens") <= SELECT_BUDGET
    )


# ----------------------------------------------------------------------
# Training-sequence packing: concat-and-split offsets
# ----------------------------------------------------------------------
#: fixed training-sequence length (tokens) for the packing layout
SEQ_LEN = 512


@query(
    "x8_sequence_pack",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS wc
      FROM documents
    ), cum AS (
      SELECT doc_id, wc,
             SUM(wc) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_tokens
      FROM s
    )
    SELECT doc_id, wc,
           CAST(cum_tokens - wc AS BIGINT) AS start_offset,
           CAST((cum_tokens - wc) // {SEQ_LEN} AS BIGINT) AS first_seq,
           CAST((cum_tokens - 1) // {SEQ_LEN} AS BIGINT) AS last_seq,
           (cum_tokens - 1) // {SEQ_LEN} > (cum_tokens - wc) // {SEQ_LEN}
             AS crosses_boundary
    FROM cum
    """,
)
def x8_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing layout — the concat-and-split step of
    an LLM data pipeline: documents are concatenated in doc_id order
    into one token stream and cut into fixed ``SEQ_LEN`` sequences;
    each document gets its byte-exact placement (global start offset,
    first/last sequence id, whether it straddles a cut). Downstream
    this IS the shuffle-free map from documents to training examples —
    a worker holding sequence ids [a, b) knows exactly which documents
    to fetch.

    Scale shape: the only global step is the exact distributed prefix
    sum over (doc_id, wc) pairs — ``functions.distributed.
    global_prefix_sums`` (range exchange + per-partition window +
    broadcast offsets; NO single-partition funnel, plan-gated) — so no
    task ever holds more than one range-partition of the corpus, while
    the oracle's global cumulative window checks the exact same
    offsets. Everything after the prefix sum is per-row arithmetic
    (integer floor-div — engine-exact at any offset)."""
    from ..functions.distributed import global_prefix_sums

    doc = load_table(spark, sf_dir, "documents")
    d = doc.select("doc_id", F.size(words()).cast("long").alias("wc"))
    cum, _total = global_prefix_sums(
        spark, d, [F.col("doc_id")], val_col="wc", out_col="cum_tokens"
    )
    start = F.col("cum_tokens") - F.col("wc")
    first = F.expr(f"(cum_tokens - wc) DIV {SEQ_LEN}")
    last = F.expr(f"(cum_tokens - 1) DIV {SEQ_LEN}")
    return cum.select(
        "doc_id",
        "wc",
        start.cast("long").alias("start_offset"),
        first.cast("long").alias("first_seq"),
        last.cast("long").alias("last_seq"),
        (last > first).alias("crosses_boundary"),
    )


# ----------------------------------------------------------------------
# BPE pair statistics: the merge-candidate count of one
# byte-pair-encoding training step
# ----------------------------------------------------------------------
#: top adjacent-character pairs emitted
BPE_TOP_PAIRS = 20


@query(
    "x4_bpe_pair_stats",
    oracle=f"""
    WITH wc AS ({term_counts_sql(min_len=2)}),
    pairs AS (
      SELECT substr(term, CAST(i AS INTEGER), 2) AS pair, n
      FROM wc, UNNEST(range(1, len(term))) AS t(i)
    )
    SELECT pair, CAST(SUM(n) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT {BPE_TOP_PAIRS}
    """,
)
def x4_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training step's merge-candidate statistics: the most
    frequent ADJACENT symbol pairs across the corpus, weighted by word
    frequency. This is the inner loop of byte-pair-encoding tokenizer
    training (count pairs → merge the argmax → repeat); here symbols
    are characters, pairs are 2-char substrings.

    Scale shape — the classic BPE trick made distributed: pairs are
    counted over the WORD-FREQUENCY DICTIONARY, not the corpus. The
    only token-volume pass is the explode→groupBy word count (one
    partial-aggregated shuffle); the pair explode then runs over
    |vocab| dictionary rows (heavy-tailed but corpus-size-independent)
    weighted by the counts, and the final top-K is a
    TakeOrderedAndProject (per-partition top-K, no global sort). Both
    engines floor the same integer weights, ties pinned by pair."""
    doc = load_table(spark, sf_dir, "documents")
    pairs = term_counts(doc, min_len=2).select(
        F.explode(
            F.expr("transform(sequence(1, length(term) - 1),"
                   " i -> substring(term, i, 2))")
        ).alias("pair"),
        "n",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(BPE_TOP_PAIRS)
    )


# ----------------------------------------------------------------------
# Temperature-scaled mixture weights: multilingual sampling
# ----------------------------------------------------------------------
#: documents drawn per training epoch by the mixture
MIXTURE_EPOCH_BUDGET = 1_000_000


@query(
    "x8_temperature_mixture",
    oracle=f"""
    WITH cnt AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), w AS (
      SELECT lang, n,
             CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
               AS wgt
      FROM cnt
    ), tot AS (SELECT SUM(wgt) AS total FROM w)
    SELECT lang, CAST(n AS BIGINT) AS n_docs,
           CAST(wgt * 1000000 // total AS BIGINT) AS p_micro,
           CAST(wgt * {MIXTURE_EPOCH_BUDGET} // total AS BIGINT)
             AS epoch_docs
    FROM w CROSS JOIN tot
    """,
)
def x8_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights for a multilingual mixture
    (the multilingual-pretraining upsampling rule, T = 2 i.e.
    p_i ∝ n_i^(1/2)): low-resource languages are upsampled relative to
    their raw share so the head language cannot drown the tail.

    Engine-exact by construction: the ONLY floating-point op is
    ``sqrt`` (IEEE-754 correctly rounded — bit-identical on any
    engine), immediately floored into integer micro-weights; shares
    and per-epoch document budgets are integer cross-multiplication +
    floor-division from there, so no libm ``pow`` and no float sum
    ever crosses the engine boundary (the reason T is 2 and not an
    arbitrary temperature: x^(1/2) is exact where x^0.3 is
    libm-dependent). One tiny groupBy(lang) aggregate + a broadcast
    1-row total — nothing data-sized moves."""
    doc = load_table(spark, sf_dir, "documents")
    # cnt feeds both the total and the final projection, so the count
    # scan executes twice — DELIBERATELY lazy: the subtree is one
    # column-pruned scan + a |langs|-row partial agg, and a
    # same-session A/B at sf0.1 (best-of-5, warmed JVM) measured lazy
    # 0.35 s vs eager-checkpointed 0.47 s — materialization overhead
    # exceeds re-running the cheap scan (contrast x4_vocab_coverage,
    # whose duplicated subtree is a token-volume explode and IS
    # checkpointed)
    cnt = doc.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    w = cnt.withColumn(
        "wgt",
        F.floor(F.sqrt(F.col("n").cast("double")) * 1_000_000).cast("long"),
    )
    tot = w.agg(F.sum("wgt").alias("total"))
    return w.join(F.broadcast(tot)).select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.expr("wgt * 1000000 DIV total").cast("long").alias("p_micro"),
        F.expr(f"wgt * {MIXTURE_EPOCH_BUDGET} DIV total")
        .cast("long")
        .alias("epoch_docs"),
    )


# ----------------------------------------------------------------------
# Composed cleaning pipeline: quality → lang → dedup funnel
# ----------------------------------------------------------------------
#: C4-style quality gates for the composed pipeline
C4_MIN_WORDS = 5
C4_MAX_WORDS = 100_000
C4_KEEP_LANG = "en"


@query(
    "x8_c4_pipeline",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source, lang, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS wc
      FROM documents
    ), staged AS (
      SELECT *,
             wc >= {C4_MIN_WORDS} AND wc <= {C4_MAX_WORDS} AS q_ok,
             lang = '{C4_KEEP_LANG}' AS l_ok
      FROM s
    ), dedup AS (
      SELECT *,
             CASE WHEN q_ok AND l_ok THEN
               ROW_NUMBER() OVER (PARTITION BY CASE WHEN q_ok AND l_ok
                                    THEN md5(text) END
                                  ORDER BY doc_id)
             END AS rn
      FROM staged
    )
    SELECT source,
           COUNT(*) AS n_input,
           CAST(SUM(CASE WHEN NOT q_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quality_fail,
           CAST(SUM(CASE WHEN q_ok AND NOT l_ok THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lang_fail,
           CAST(SUM(CASE WHEN q_ok AND l_ok AND rn > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup,
           CAST(SUM(CASE WHEN q_ok AND l_ok AND rn = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN q_ok AND l_ok AND rn = 1 THEN wc
                    ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM dedup GROUP BY source
    """,
)
def x8_c4_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed C4-style cleaning funnel in ONE DataFrame DAG —
    quality gate (word-count band) → language keep → exact dedup
    (first doc_id wins per text digest) — with per-source stage
    attribution: how many documents each stage removed and what
    survived. This is the audit table a data release ships next to the
    corpus.

    Scale shape: stage predicates are scan-side projections (no
    shuffle); the ONLY data-sized exchange is the dedup window keyed
    on md5(text), and only rows that passed both cheap gates enter it
    — failed rows are split off BEFORE the window and unioned back
    for the rollup, so there is no single NULL hot key carrying every
    rejected document through one task (the skew trap of keying the
    window on a CASE expression). Final per-source rollup is a tiny
    partial-aggregated exchange."""
    from pyspark.sql.window import Window as W

    doc = load_table(spark, sf_dir, "documents")
    s = doc.select(
        "doc_id",
        "source",
        "lang",
        "text",
        F.size(words()).cast("long").alias("wc"),
    ).withColumn(
        "q_ok",
        (F.col("wc") >= C4_MIN_WORDS) & (F.col("wc") <= C4_MAX_WORDS),
    ).withColumn("l_ok", F.col("lang") == C4_KEEP_LANG)
    # dedup rank ONLY over survivors — the failed rows never enter the
    # digest window (no NULL hot key); their counts come from the
    # stage booleans in the same rollup
    surv = s.filter(F.col("q_ok") & F.col("l_ok")).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy(F.md5("text")).orderBy("doc_id")
        ),
    )
    failed = s.filter(~(F.col("q_ok") & F.col("l_ok"))).withColumn(
        "rn", F.lit(None).cast("int")
    )
    staged = surv.unionByName(failed)
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.when(~F.col("q_ok"), 1).otherwise(0)).alias(
            "n_quality_fail"
        ),
        F.sum(
            F.when(F.col("q_ok") & ~F.col("l_ok"), 1).otherwise(0)
        ).alias("n_lang_fail"),
        F.sum(
            F.when(
                F.col("q_ok") & F.col("l_ok") & (F.col("rn") > 1), 1
            ).otherwise(0)
        ).alias("n_dup"),
        F.sum(
            F.when(
                F.col("q_ok") & F.col("l_ok") & (F.col("rn") == 1), 1
            ).otherwise(0)
        ).alias("n_kept"),
        F.sum(
            F.when(
                F.col("q_ok") & F.col("l_ok") & (F.col("rn") == 1),
                F.col("wc"),
            ).otherwise(F.lit(0))
        ).cast("long").alias("tokens_kept"),
    )


# ----------------------------------------------------------------------
# Word-entropy quality score
# ----------------------------------------------------------------------
@query(
    "x4_entropy_score",
    oracle=f"""
    WITH wc AS ({term_counts_sql("doc_id")})
    SELECT doc_id,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           COUNT(*) AS distinct_words,
           ROUND(ln(CAST(SUM(n) AS DOUBLE))
                 - CAST(SUM(CAST(FLOOR(n * ln(CAST(n AS DOUBLE))
                                       * 10000000000)
                                 AS DECIMAL(38,0))) AS DOUBLE)
                   / 10000000000 / SUM(n), 6) AS entropy_nats
    FROM wc GROUP BY doc_id
    """,
)
def x4_entropy_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-distribution Shannon entropy (nats) — the
    information-density quality signal: keyboard-mash and template
    boilerplate score low (few distinct words dominating), natural
    prose scores near ln(distinct). Complements the Gopher repetition
    rules with a single scalar that pretraining filters can band.

    Computed as H = ln(n) − (Σ c·ln c)/n over per-doc word counts, so
    the only shuffle keys on (doc_id, word) and partial-aggregates;
    the per-doc combine is exact: each word's c·ln(c) term
    floor-quantizes to an integer at 1e-10 BEFORE the exact
    DECIMAL(38,0) sum (the microunit convention — order-independent
    by arithmetic; |c·ln c|·1e10 < 2^53 holds for
    per-doc counts ≤ ~5e4), with one double ln + division at the emit
    boundary."""
    doc = load_table(spark, sf_dir, "documents")
    c = F.col("n")
    term = F.floor(c * F.log(c.cast("double")) * F.lit(1e10)).cast(
        "decimal(38,0)"
    )
    return term_counts(doc, "doc_id").groupBy("doc_id").agg(
        F.sum(c).cast("long").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_words"),
        F.round(
            F.log(F.sum(c).cast("double"))
            - F.sum(term).cast("double") / F.lit(1e10) / F.sum(c),
            6,
        ).alias("entropy_nats"),
    )


# ----------------------------------------------------------------------
# Tokenizer application: words → vocab ids + OOV accounting
# ----------------------------------------------------------------------
#: vocabulary size for the id mapping (top-N by corpus frequency)
TOKENIZE_VOCAB_N = 200
#: id reserved for out-of-vocabulary tokens
UNK_ID = 0


@query(
    "x8_tokenize_to_ids",
    oracle=f"""
    WITH tok AS ({tokens_sql("doc_id", pos=True)}),
    vocab AS (
      SELECT term, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS id
      FROM ({term_counts_sql()})
      ORDER BY n DESC, term LIMIT {TOKENIZE_VOCAB_N}
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           md5(string_agg(CAST(COALESCE(v.id, {UNK_ID}) AS VARCHAR), ','
                          ORDER BY pos)) AS ids_fp
    FROM tok LEFT JOIN vocab v USING (term)
    GROUP BY doc_id
    """,
)
def x8_tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the step after x4_bpe_pair_stats (train)
    and x4_vocab_coverage (budget): map every token to its vocabulary
    id (top-``TOKENIZE_VOCAB_N`` terms by corpus frequency, ids
    assigned by (count DESC, term) so the mapping is engine-exact) or
    ``UNK_ID``, and emit per document the token count, the OOV count,
    and an md5 fingerprint of the POSITION-ORDERED id sequence — the
    contract that lets a release assert 'these exact token streams'
    without shipping them.

    Scale shape: the vocab build is one partial-aggregated term count
    pruned to N rows via TakeOrderedAndProject (per-partition top-K —
    the x4_vocab_coverage trick), then BROADCAST into the token join
    (vocab ≪ corpus always, by construction); the per-doc rollup
    shuffles (doc_id, ord, id) triples once. Sequence order is carried
    by posexplode and pinned inside the fingerprint aggregation with
    an explicit sort — the one place ordering matters, paid only
    within each doc's group."""
    doc = load_table(spark, sf_dir, "documents")
    order = [F.col("n").desc(), "term"]
    vocab = term_counts(doc).orderBy(*order).limit(TOKENIZE_VOCAB_N)
    vid = vocab.select(
        "term", F.row_number().over(Window.orderBy(*order)).alias("id")
    )
    joined = tokens(doc, "doc_id", pos=True).join(
        F.broadcast(vid), "term", "left"
    ).select(
        "doc_id",
        "pos",
        F.coalesce(F.col("id"), F.lit(UNK_ID)).alias("id"),
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("id") == UNK_ID, 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.md5(_ordered_join("pos", "id", ",")).alias("ids_fp"),
    )


# ----------------------------------------------------------------------
# N-gram uniqueness score: inverse-df quality signal
# ----------------------------------------------------------------------
@query(
    "x4_uniqueness_score",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), sh AS (
      SELECT DISTINCT doc_id,
             words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
      FROM w, UNNEST(generate_series(1, len(words) - 2)) AS t(i)
    ), df AS (
      SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
    )
    SELECT doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS uniq_ppm
    FROM sh JOIN df USING (shingle)
    GROUP BY doc_id
    """,
)
def x4_uniqueness_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram UNIQUENESS — the inverse-document-frequency
    quality signal: what fraction of a doc's distinct trigrams appear
    in NO other document (boilerplate and templates score near zero;
    original prose near one). The score the near-dup ladder uses to
    pick keepers reads from the same gram statistics, so at 100 TB
    this query and the dedup rungs share their heaviest intermediate.

    One gram explode → df count (partial-aggregated, the only
    token-volume shuffle) → join back on the gram key → per-doc
    conditional count. The fraction is integer parts-per-million
    (floor cross-multiplication — no float ratio crosses the engine
    boundary). Gram keys are xxhash64 on the Spark side (16-byte
    strings → 8-byte keys) with the collision bound documented on
    x2_ngram_jaccard."""
    from ..session import fan_out
    from .dedup import gram_postings

    doc = fan_out(load_table(spark, sf_dir, "documents"))
    # Materialized once: the df count and the join-back side shuffle on
    # h with DIFFERENT payloads (partial-agg combiners vs doc_id
    # postings), so exchange reuse never fires and the corpus
    # scan+explode would run twice.
    sh = gram_postings(doc).select("doc_id", "h").localCheckpoint(eager=True)
    df_tbl = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(df_tbl, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
            F.expr(
                "CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("uniq_ppm"),
        )
    )


# ----------------------------------------------------------------------
# Source-interleaved training order
# ----------------------------------------------------------------------
#: hash shards for the interleave-order fingerprints (the
#: x8_epoch_shuffle convention: verify order per shard, never globally)
INTERLEAVE_SHARDS = 16


@query(
    "x8_interleave_sources",
    oracle=f"""
    WITH src AS (
      SELECT source, ROW_NUMBER() OVER (ORDER BY source) - 1 AS s_idx,
             COUNT(*) OVER () AS n_sources
      FROM (SELECT DISTINCT source FROM documents)
    ), ranked AS (
      SELECT d.doc_id, d.source,
             ROW_NUMBER() OVER (PARTITION BY d.source
                                ORDER BY d.doc_id) - 1 AS r,
             s.s_idx, s.n_sources
      FROM documents d JOIN src s USING (source)
    ), pos AS (
      SELECT doc_id, source,
             r * n_sources + s_idx AS position
      FROM ranked
    )
    SELECT CAST(position % {INTERLEAVE_SHARDS} AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY position)) AS order_fp
    FROM pos GROUP BY position % {INTERLEAVE_SHARDS}
    """,
)
def x8_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SOURCE-INTERLEAVED training order — round-robin
    across sources (doc r of source s lands at global position
    r·|sources| + s), the mixing rule that stops any single source
    from clumping in the training stream without needing sampling
    randomness. The order is pinned per hash shard by an md5
    fingerprint of the position-ordered doc sequence (the
    x8_epoch_shuffle contract: byte-identical re-runs).

    Scale shape: within-source ranks come from the shared
    ``functions.distributed.global_prefix_sums`` grouped primitive
    (range exchange + per-partition windows + broadcast offsets — NO
    whole-source window task); the source index is derived
    DISTRIBUTIVELY — row_number over the |sources|-row distinct frame,
    broadcast-joined back (a create_map literal would need the distinct
    sources collected to the driver, a data-dependent collect; the
    single-partition window here is over |sources| rows, a config-sized
    dim, not data). The interleave
    position is pure arithmetic on (rank, index). The only other
    exchange is the 16-shard fingerprint rollup, whose per-group sort
    is bounded by shard membership — the same bound x8_epoch_shuffle
    carries."""
    from pyspark.sql.window import Window

    from ..functions.distributed import global_prefix_sums

    doc = load_table(spark, sf_dir, "documents")
    src = (
        doc.select("source")
        .distinct()
        .select(
            "source",
            (F.row_number().over(Window.orderBy("source")) - 1).alias(
                "s_idx"
            ),
            F.count(F.lit(1))
            .over(Window.partitionBy())
            .cast("long")
            .alias("n_sources"),
        )
    )
    ranked, _totals = global_prefix_sums(
        spark,
        doc.select("doc_id", "source"),
        [F.col("doc_id")],
        val_col=None,
        group_cols=["source"],
        out_col="r1",
    )
    pos = ranked.join(F.broadcast(src), "source").select(
        "doc_id",
        "source",
        ((F.col("r1") - 1) * F.col("n_sources") + F.col("s_idx")).alias(
            "position"
        ),
    )
    return pos.groupBy(
        (F.col("position") % INTERLEAVE_SHARDS).cast("long").alias("shard")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.md5(_ordered_join("position", "doc_id", ",")).alias("order_fp"),
    )


# ----------------------------------------------------------------------
# HTML/markup → text extraction: the stage upstream of the C4
# funnel in a real web-scale corpus (reference analog: the raw-JSON →
# staged-table parse, weather_etl.py:62-90 — same capability class).
# ----------------------------------------------------------------------
# The synthetic documents carry no markup, so the rung RENDERS each doc
# into deterministic HTML scan-side (pure function of (doc_id, text) —
# the mm_image_phash convention: synthesize the encoded form, then
# prove the decoder recovers the payload exactly) and extracts it back:
# script/style/comment drop, tag strip, boilerplate-line removal (short
# or unterminated lines), entity decode AFTER tag strip (so a literal
# &lt;2026&gt; in content survives as <2026> instead of being eaten as
# a tag). `extract_ok` asserts in-band that the kept content line is
# byte-identical to the original text.
_HTML_LINE_HEAD = (
    '<html><head><script type="text/javascript">var a = 1; '
    "// <b>x</b> &amp;</script><style>p { color: red }</style></head>"
)
_HTML_LINE_NAV = '<div class="nav">Home | About | Contact</div>'
_HTML_LINE_COMMENT = "<!-- hidden <p>comment.</p> -->"
_HTML_LINE_FOOTER = "<p>Footer &amp; copyright &lt;2026&gt; on this page.</p>"
_HTML_LINE_TAIL = "</body></html>"

#: shared Java/RE2 regexes — no backreferences (RE2 has none), inline
#: flags instead of engine-specific option strings
_RE_SCRIPT = "(?is)<script[^>]*>.*?</script>"
_RE_STYLE = "(?is)<style[^>]*>.*?</style>"
_RE_COMMENT = "(?s)<!--.*?-->"
_RE_TAG = "<[^>]+>"
_RE_TERMINAL = "[.!?]$"
_HTML_MIN_LINE_WORDS = 3
#: decode order: named/numeric entities first, &amp; LAST (else
#: &amp;lt; would double-decode)
_HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def _sqlq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _html_oracle() -> str:
    strip = "html"
    for pat, rep in (
        (_RE_SCRIPT, " "),
        (_RE_STYLE, " "),
        (_RE_COMMENT, " "),
        (_RE_TAG, ""),
    ):
        strip = f"regexp_replace({strip}, {_sqlq(pat)}, {_sqlq(rep)}, 'g')"
    decode = "array_to_string(kept, chr(10))"
    for ent, ch in _HTML_ENTITIES:
        decode = f"replace({decode}, {_sqlq(ent)}, {_sqlq(ch)})"
    return f"""
    WITH h AS (
      SELECT doc_id, text,
             {_sqlq(_HTML_LINE_HEAD)} || chr(10) ||
             {_sqlq(_HTML_LINE_NAV)} || chr(10) ||
             {_sqlq(_HTML_LINE_COMMENT)} || chr(10) ||
             '<p>' || text || '.</p>' || chr(10) ||
             {_sqlq(_HTML_LINE_FOOTER)} || chr(10) ||
             {_sqlq(_HTML_LINE_TAIL)} AS html
      FROM documents
    ), s AS (
      SELECT doc_id, text, string_split({strip}, chr(10)) AS lines FROM h
    ), k AS (
      SELECT doc_id, text, lines,
             list_filter(lines, x ->
               len(list_filter(string_split_regex(x, '\\s+'),
                               w -> w <> '')) >= {_HTML_MIN_LINE_WORDS}
               AND regexp_matches(rtrim(x), {_sqlq(_RE_TERMINAL)})) AS kept
      FROM s
    ), c AS (
      SELECT doc_id, text, lines, kept, {decode} AS clean FROM k
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(len(lines) - len(kept) AS BIGINT) AS n_dropped,
           CAST(LENGTH(clean) AS BIGINT) AS clean_len,
           md5(clean) AS clean_fp,
           (string_split(clean, chr(10))[1] = text || '.') AS extract_ok
    FROM c
    """


#: one oracle for the batch rung and its ingest-stream twin
#: (s_html_extract_stream): extraction is stateless, so the drained
#: stream must equal the batch scan row-for-row.
HTML_EXTRACT_ORACLE = _html_oracle()


def html_extract_frame(doc: DataFrame) -> DataFrame:
    """The markup-extraction transform over a (doc_id, text) frame —
    shared by the batch rung and the streaming ingest twin (stateless
    per-row expressions, so it drops into a micro-batch plan
    unchanged). See ``x4_html_extract`` for semantics."""
    html = F.concat_ws(
        "\n",
        F.lit(_HTML_LINE_HEAD),
        F.lit(_HTML_LINE_NAV),
        F.lit(_HTML_LINE_COMMENT),
        F.concat(F.lit("<p>"), F.col("text"), F.lit(".</p>")),
        F.lit(_HTML_LINE_FOOTER),
        F.lit(_HTML_LINE_TAIL),
    )
    stripped = html
    for pat, rep in (
        (_RE_SCRIPT, " "),
        (_RE_STYLE, " "),
        (_RE_COMMENT, " "),
        (_RE_TAG, ""),
    ):
        stripped = F.regexp_replace(stripped, pat, rep)
    lines = F.split(stripped, "\n")
    kept = F.filter(
        lines,
        lambda x: (
            F.size(F.filter(F.split(x, r"\s+"), lambda w: w != ""))
            >= _HTML_MIN_LINE_WORDS
        )
        & F.rtrim(x).rlike(_RE_TERMINAL),
    )
    clean = F.array_join(kept, "\n")
    for ent, ch in _HTML_ENTITIES:
        clean = F.replace(clean, F.lit(ent), F.lit(ch))
    d = doc.select(
        "doc_id",
        "text",
        lines.alias("lines"),
        kept.alias("kept"),
        clean.alias("clean"),
    )
    return d.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size("kept").cast("long").alias("n_kept"),
        (F.size("lines") - F.size("kept")).cast("long").alias("n_dropped"),
        F.length("clean").cast("long").alias("clean_len"),
        F.md5("clean").alias("clean_fp"),
        (
            F.element_at(F.split("clean", "\n"), 1)
            == F.concat(F.col("text"), F.lit("."))
        ).alias("extract_ok"),
    )


@query("x4_html_extract", oracle=HTML_EXTRACT_ORACLE)
def x4_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/markup → text extraction (the step upstream of the C4
    funnel in a web-scale corpus): render each doc
    into deterministic markup scan-side, then extract — drop
    script/style blocks WITH their content (ordering matters: the
    script body contains tags and entities that must never leak),
    drop comments, strip remaining tags, remove boilerplate lines
    (fewer than {_HTML_MIN_LINE_WORDS} words OR no terminal
    punctuation — the C4 line rule, which kills nav bars that pass a
    bare word count), and decode entities AFTER tag stripping so
    decoded angle brackets can't be re-eaten as tags. Per-doc
    kept/dropped counts + an md5 fingerprint of the cleaned text, and
    ``extract_ok`` proves in-band that extraction recovered the
    original content line byte-exactly.

    Scale shape: one documents scan, everything codegen
    string/array expressions (regexp_replace / split / filter /
    array_join — no Python, no UDF), ZERO exchanges: extraction is
    embarrassingly parallel and the plan must stay a scan + project
    (tests/test_plans.py::test_html_extract_scan_side). The regex
    passes are shared Java/RE2 syntax — no backreferences, inline
    flags — so the DuckDB oracle replays the identical chain. The
    transform itself lives in ``html_extract_frame`` (stateless
    per-row expressions), shared with the ingest-stream twin
    ``s_html_extract_stream``."""
    return html_extract_frame(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


# ----------------------------------------------------------------------
# Hashed linear quality classifier: model-scored filtering
# ----------------------------------------------------------------------
#: fastText-style feature-hash bucket count (kept small so bucket
#: collisions are exercised at test scale; production uses ~2M)
HLS_BUCKETS = 2001
#: keep threshold in integer per-mille of mean token weight:
#: keep iff score·1000 ≥ HLS_THRESH_PM · n_tokens
HLS_THRESH_PM = 25


@query(
    "x4_hashed_linear_score",
    oracle=f"""
    SELECT doc_id, score, n_tokens,
           score * 1000 >= {HLS_THRESH_PM} * n_tokens AS keep
    FROM (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(string_split(text, ' '),
                   w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)
                        % {HLS_BUCKETS} - {HLS_BUCKETS // 2})),
               (acc, v) -> acc + v) AS score,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    """,
)
def x4_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scored quality filtering — the fastText-shaped linear
    classifier inference every production corpus pipeline runs (CCNet,
    RefinedWeb, FineWeb use exactly this op class to keep "wiki-like"
    text): tokens feature-HASH into a fixed bucket space (no
    vocabulary, no OOV — fastText's trick), each bucket carries a
    weight, a document's score is the sum over its token stream, and
    the keep decision thresholds the MEAN weight. Weights here are a
    deterministic pure function of the bucket (md5-prefix hash →
    integer in [-1000, 1000]) standing in for learned values — the
    execution shape is identical to broadcasting a trained weight
    array and indexing it by bucket, which is how real weights slot in
    (a w[h % B] lookup replaces the hash arithmetic; nothing else
    changes). Portable md5-prefix hashes (the x4_rolling_fingerprint
    convention) keep scoring oracle-exact; all integer arithmetic —
    the threshold is the cross-multiplied per-mille form, no division.

    Scale shape: ZERO exchanges — the entire inference is a JVM
    ``aggregate`` fold over the split-token array inside the scan
    (plan-gated with x4_html_extract's scan-side gate pattern). At
    100 TB this op is scan-bandwidth-bound, exactly as fastText
    inference should be; a 2M-bucket learned weight array broadcasts
    at 8 MB and leaves the plan unchanged."""
    doc = load_table(spark, sf_dir, "documents")
    half = HLS_BUCKETS // 2
    wt = lambda w: (  # noqa: E731
        F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
        % F.lit(HLS_BUCKETS)
        - F.lit(half)
    )
    toks = words()
    score = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, w: acc + wt(w)
    )
    return doc.select(
        "doc_id",
        score.alias("score"),
        F.size(toks).cast("long").alias("n_tokens"),
    ).select(
        "doc_id",
        "score",
        "n_tokens",
        (F.col("score") * 1000 >= F.lit(HLS_THRESH_PM) * F.col("n_tokens"))
        .alias("keep"),
    )


# ----------------------------------------------------------------------
# Curriculum ordering: difficulty-staged training order
# ----------------------------------------------------------------------
#: number of curriculum stages (easy → hard)
CURRICULUM_STAGES = 4


@query(
    "x8_curriculum_order",
    oracle=f"""
    SELECT doc_id, difficulty,
           ROW_NUMBER() OVER (ORDER BY difficulty, doc_id) AS k,
           CAST(NTILE({CURRICULUM_STAGES})
                OVER (ORDER BY difficulty, doc_id) AS BIGINT) AS stage
    FROM (
      SELECT doc_id,
             length(text) * 1000 // len(string_split(text, ' '))
               AS difficulty
      FROM documents
    )
    """,
)
def x8_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM ordering — the difficulty-staged training order
    (easy→hard) curriculum-learning pipelines assign before packing:
    every document gets an exact global curriculum position and a
    stage, ordered by a readability proxy (average characters per
    token in integer per-mille — longer-word text reads harder;
    swap in any scored difficulty column and nothing else changes).
    The position must be a TOTAL order (doc_id tiebreak) and exact —
    the training schedule is reproducible run-to-run and
    partitioning-independent, the same release property as
    x8_budget_select.

    Scale shape: the rank is the shared
    ``functions.distributed.global_ranks`` primitive (range partition →
    per-partition ranks + O(partitions) driver offsets — no
    SinglePartition exchange, no task sees more than one range), and
    the stage is ``ntile_of_rank`` arithmetic on (k, n) — NTILE
    boundary semantics without a window. Fifth consumer of the
    prefix-sum primitive; plan-gated like its siblings."""
    from ..functions.distributed import global_ranks, ntile_of_rank

    doc = load_table(spark, sf_dir, "documents")
    proj = doc.select(
        "doc_id",
        F.expr(
            "CAST(length(text) AS BIGINT) * 1000 "
            "DIV size(split(text, ' '))"
        ).alias("difficulty"),
    )
    ranked, n = global_ranks(
        spark, proj, [F.col("difficulty"), F.col("doc_id")]
    )
    return ranked.select(
        "doc_id",
        "difficulty",
        F.col("k").cast("long").alias("k"),
        ntile_of_rank(F.col("k"), n, CURRICULUM_STAGES)
        .cast("long")
        .alias("stage"),
    )


# ----------------------------------------------------------------------
# BPE tokenizer TRAINING loop: the iterated
# pair-count → merge-argmax → re-pair recurrence that produces the
# vocab x4_bpe_pair_stats (one step's stats) and x8_tokenize_to_ids
# (application) presuppose
# ----------------------------------------------------------------------
#: merge rounds learned by the training loop
BPE_MERGE_ROUNDS = 6
#: end-of-word marker appended to every word's symbol sequence
#: (Sennrich et al. 2016's </w> — lets merges distinguish word-final
#: from word-internal contexts)
BPE_EOW = "</w>"


def _bpe_merge_step(_l: str, _r: str, _m: str):
    """One learned merge as a greedy left-to-right ``aggregate`` fold
    step over a symbol array: drop the trailing ``l`` and append the
    merged symbol whenever (tail == l, next == r)."""

    def step(acc, x):
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(_l))
            & (x == F.lit(_r))
        )
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(_m))),
        ).otherwise(F.concat(acc, F.array(x)))

    return step


def _bpe_train_chain(doc, rounds: int, update_last: bool):
    """The shared BPE training recurrence over the word-frequency
    DICTIONARY: returns ``(dict_df, merges)`` where ``dict_df`` is
    (w, n, syms) after the applied merges and ``merges`` is the learned
    table as driver-side tuples (rank, l, r, merged, cnt). The training
    rung skips the LAST round's dict update (dead work for learning,
    ``update_last=False``); the application rung needs the fully-merged
    dictionary (``update_last=True``) so downstream encoding touches
    the token volume only through a dict join. Carrying ``w`` through
    the rounds costs one string column per checkpoint and changes no
    merge decision (stats aggregate only (n, syms))."""
    chars = F.expr(
        "concat(transform(sequence(1, length(term)),"
        f" i -> substring(term, i, 1)), array('{BPE_EOW}'))"
    )
    cur = (
        term_counts(doc, min_len=1)
        .select(F.col("term").alias("w"), "n", chars.alias("syms"))
        .localCheckpoint(eager=True)
    )

    pairs_expr = F.expr(
        "zip_with(slice(syms, 1, size(syms) - 1),"
        " slice(syms, 2, size(syms) - 1),"
        " (a, b) -> named_struct('l', a, 'r', b))"
    )
    merges: list[tuple] = []
    since_ck = 0  # rounds since the dict was last checkpointed
    for rank in range(1, rounds + 1):
        stats = (
            cur.filter(F.size("syms") >= 2)
            .select("n", F.explode(pairs_expr).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("cnt"))
        )
        top_df = stats.orderBy(F.col("cnt").desc(), "l", "r").limit(1)
        row = top_df.first()  # one 3-field row per round, nothing more
        if row is None:  # corpus fully merged (or empty) before K — done
            break
        merges.append(
            (rank, row["l"], row["r"], row["l"] + row["r"], int(row["cnt"]))
        )
        if rank == rounds and not update_last:
            break  # last round's dict update would be dead work
        cur = cur.select(
            "w",
            "n",
            F.aggregate(
                "syms",
                F.expr("CAST(array() AS array<string>)"),
                _bpe_merge_step(row["l"], row["r"], row["l"] + row["r"]),
            ).alias("syms"),
        )
        # Flat lineage every SECOND round (the _nsw_beam_rounds cadence):
        # the per-round .first() forces evaluation anyway, so a lazy odd
        # round just folds two merge steps in one job instead of paying
        # a separate materialization per round — interleaved A/B at
        # sf0.1: x4_bpe_apply median 2.70 s -> 2.51 s. The fold depth
        # between checkpoints is bounded at 2 HOF lambdas, so codegen/
        # planning cost stays flat.
        since_ck += 1
        if since_ck >= 2 or rank == rounds:
            cur = cur.localCheckpoint(eager=True)
            since_ck = 0
    return cur, merges


def _bpe_chain_sql(k: int, update_last: bool) -> str:
    """K-step-unrolled DuckDB twin of ``_bpe_train_chain``: the word
    dictionary ``words0`` (w, n, syms), then per round a (stats_i,
    top_i, words_i) CTE block, the last round's ``words_k`` only with
    ``update_last``. The greedy left-to-right merge application is the
    same fold both engines run — DuckDB's ``list_reduce`` over a
    chr(31)-encoded accumulator ("drop last == l, append x == r"
    collapses to ``acc || r`` because the dropped suffix is exactly
    ``l``), Spark's ``aggregate`` over a real array accumulator."""
    parts = [
        f"""
    WITH words0 AS (
      SELECT term AS w, n,
             list_append(list_transform(range(1, len(term) + 1),
                           i -> substr(term, CAST(i AS INTEGER), 1)),
                         '{BPE_EOW}') AS syms
      FROM ({term_counts_sql(min_len=1)})
    )"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f""", stats{i} AS (
      SELECT syms[CAST(i AS INTEGER)] AS l,
             syms[CAST(i AS INTEGER) + 1] AS r, SUM(n) AS cnt
      FROM words{i - 1}, UNNEST(range(1, len(syms))) AS t(i)
      GROUP BY 1, 2
    ), top{i} AS (
      SELECT l, r, cnt FROM stats{i} ORDER BY cnt DESC, l, r LIMIT 1
    )"""
        )
        if i < k or update_last:
            parts.append(
                f""", words{i} AS (
      SELECT w.w, w.n,
             string_split(list_reduce(list_prepend('', w.syms),
               (acc, x) -> CASE
                 WHEN acc = '' THEN x
                 WHEN (acc = t.l OR suffix(acc, chr(31) || t.l))
                      AND x = t.r
                   THEN acc || t.r
                 ELSE acc || chr(31) || x END), chr(31)) AS syms
      FROM words{i - 1} w CROSS JOIN top{i} t
    )"""
            )
    return "".join(parts)


def _bpe_train_oracle(k: int) -> str:
    """The training chain's K argmax rows as the learned merge table."""
    arms = "\n    UNION ALL ".join(
        f"SELECT {i} AS merge_rank, l AS lft, r AS rgt, l || r AS merged,"
        f" CAST(cnt AS BIGINT) AS pair_n FROM top{i}"
        for i in range(1, k + 1)
    )
    return _bpe_chain_sql(k, update_last=False) + "\n    " + arms


@query("x4_bpe_merge_train", oracle=_bpe_train_oracle(BPE_MERGE_ROUNDS))
def x4_bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING: the full
    iterated loop — count adjacent symbol pairs, merge the most
    frequent pair everywhere, repeat — for ``BPE_MERGE_ROUNDS`` rounds,
    returning the learned merge table (rank, pair, merged symbol,
    weighted frequency). Reference scope: the reference has no
    tokenizer at all (weather_etl.py trains a regressor); this is the
    LLM-data-pipeline extension tier. Symbols start as characters plus
    the </w> end-of-word marker; the argmax tie-breaks (cnt DESC, l, r)
    so both engines pick identical pairs every round.

    Scale shape — the eighth sharded-recurrence kernel, and the
    classic BPE trick made distributed: the ONLY token-volume pass is
    the word-count explode→groupBy (one partial-aggregated shuffle);
    every merge round then runs over the WORD-FREQUENCY DICTIONARY
    (|vocab| rows — corpus-size-independent for natural text; a
    min-frequency floor is the standard adversarial-corpus
    mitigation), localCheckpoint-truncated each round so lineage never
    stacks. Per round the cluster does one bounded pair explode
    (Σ word lengths over the dict) + partial-agg shuffle +
    TakeOrderedAndProject, and exactly ONE (l, r, cnt) row reaches the
    driver — the same O(k)-collect discipline as the Lloyd iterations
    in x3_ivf_kmeans_topk. The merge application is a JVM ``aggregate``
    fold per dict row (greedy left-to-right, provably equivalent to
    the scan-replace form since merged = l||r can never equal l). The
    returned merge table is assembled driver-side from the ≤ k
    collected argmax rows (three fields each, already on the driver —
    re-returning the TakeOrdered arms would re-execute every round's
    argmax at collect, doubling the work) into one local
    relation: the result plan touches NO parquet and launches NO jobs
    (plan-gated), and an empty/degenerate corpus — zero words, or
    every word a single symbol — returns the EMPTY typed table
    instead of raising."""
    doc = load_table(spark, sf_dir, "documents")
    _, merges = _bpe_train_chain(doc, BPE_MERGE_ROUNDS, update_last=False)
    return spark.createDataFrame(
        merges,
        schema="merge_rank long, lft string, rgt string,"
        " merged string, pair_n long",
    )


def _encoded_streams(doc: DataFrame, dic: DataFrame) -> DataFrame:
    """The emit both tokenizer-apply rungs share, over a (term, enc, tk)
    word → encoding dictionary: per document the word count, the token
    count, and an md5 fingerprint of the encoded stream in word order.
    Empty tokens are not words here. The token volume is touched once,
    by the (occurrence ⇄ dict) equi-join on the word, then one doc_id
    partial-agg; the order is pinned by sorting (pos, enc) structs."""
    occ = tokens(doc, "doc_id", pos=True).filter(F.length("term") >= 1)
    return (
        occ.join(dic, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("tk").cast("long").alias("n_tokens"),
            F.md5(_ordered_join("pos", "enc", "\x1e")).alias("stream_fp"),
        )
    )


#: DuckDB twin of ``_encoded_streams``, appended to a CTE chain whose
#: ``dict`` CTE maps each word ``w`` to its encoding ``enc`` and token
#: count ``tk``.
_ENCODED_STREAMS_SQL = f""", occ AS (
      SELECT doc_id, pos, term AS w FROM ({tokens_sql("doc_id", pos=True)})
      WHERE len(term) >= 1
    )
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(d.tk) AS BIGINT) AS n_tokens,
           md5(string_agg(d.enc, chr(30) ORDER BY o.pos)) AS stream_fp
    FROM occ o JOIN dict d USING (w)
    GROUP BY o.doc_id"""


def _bpe_apply_oracle(k: int) -> str:
    """Train-then-APPLY: the fully-merged training chain as the encoding
    dict, joined back onto per-doc word occurrences."""
    return _bpe_chain_sql(k, update_last=True) + f""", dict AS (
      SELECT w, array_to_string(syms, chr(31)) AS enc,
             CAST(len(syms) AS BIGINT) AS tk
      FROM words{k}
    ){_ENCODED_STREAMS_SQL}"""


@query("x4_bpe_apply", oracle=_bpe_apply_oracle(BPE_MERGE_ROUNDS))
def x4_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION with the LEARNED merges — closing the
    tokenizer lifecycle the training rung opens (train → freeze →
    encode the corpus; x8_tokenize_to_ids applies a FIXED vocab, this
    rung applies the merges x4_bpe_merge_train just learned from the
    same corpus): per document, the word stream encodes through all
    ``BPE_MERGE_ROUNDS`` merges, and the row reports word count,
    post-merge TOKEN count (the number every budget/packing rung
    downstream consumes), and an md5 fingerprint of the full encoded
    symbol stream in document order — the fingerprint pins the exact
    segmentation, not just its size. Reference scope: no tokenizer in
    the reference; LLM-data extension tier.

    Scale shape — the classic BPE apply trick, distributed: merges
    fold over the DISTINCT-WORD dictionary (|vocab| rows,
    corpus-size-independent for natural text; _bpe_train_chain with
    update_last=True), and the token volume is touched exactly once
    by an (occurrence ⇄ dict) equi-join on the word — Catalyst
    broadcasts the dict at test scale, co-partitioned join at 100 TB
    — followed by one doc_id partial-agg that assembles counts and
    the order-exact fingerprint (array_sort over (pos, enc) structs;
    the oracle's string_agg ORDER BY pos). No per-occurrence folding
    anywhere: a doc repeating one word a million times costs one
    dictionary fold plus a million dict-join lookups, never a million
    merge replays."""
    doc = load_table(spark, sf_dir, "documents")
    dict_df, _ = _bpe_train_chain(doc, BPE_MERGE_ROUNDS, update_last=True)
    enc = dict_df.select(
        F.col("w").alias("term"),
        F.array_join("syms", "\x1f").alias("enc"),
        F.size("syms").cast("long").alias("tk"),
    )
    return _encoded_streams(doc, enc)


# ----------------------------------------------------------------------
# URL / domain-tier curation: the
# over-represented-domain stage of a CommonCrawl-style pipeline —
# registrable-domain extraction, per-domain rollup, contribution caps
# ----------------------------------------------------------------------
#: multi-label public suffixes the extractor recognizes (a fixed
#: in-repo slice of the public-suffix list; the real list is a config
#: file, the LOGIC is what's under test)
URL_MULTI_SUFFIXES = ("co.uk", "com.au")
#: per-registrable-domain document cap (the classic over-represented-
#: domain mitigation — e.g. Dolma/RefinedWeb cap per-domain shares)
DOMAIN_DOC_CAP = 12

#: deterministic synthetic URL per document (documents carries no URL
#: column, so — same discipline as the mm payload CTEs — both engines
#: derive the SAME url from doc_id, then the extractor under test
#: parses it back knowing nothing of the construction). Two-thirds of
#: docs land on the 'hub' stem, splitting into 7 suffix variants — the
#: over-represented-domain skew the cap rung exists to mitigate.
_URL_SPARK = (
    "concat(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END, '://',"
    " element_at(array('', 'www.', 'blog.', 'cdn.news.'),"
    "            CAST(doc_id % 4 AS INT) + 1),"
    " CASE WHEN doc_id % 3 <> 0 THEN 'hub'"
    "      ELSE concat('site', CAST(doc_id % 23 AS STRING)) END,"
    " '.', element_at(array('com', 'org', 'net', 'io', 'de',"
    "                       'co.uk', 'com.au'),"
    "                 CAST(doc_id % 7 AS INT) + 1),"
    " CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END,"
    " '/p/', CAST(doc_id AS STRING))"
)
_URL_DUCK = (
    "concat(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END, '://',"
    " (['', 'www.', 'blog.', 'cdn.news.'])[CAST(doc_id % 4 AS INTEGER) + 1],"
    " CASE WHEN doc_id % 3 <> 0 THEN 'hub'"
    "      ELSE concat('site', CAST(doc_id % 23 AS VARCHAR)) END,"
    " '.', (['com', 'org', 'net', 'io', 'de', 'co.uk', 'com.au'])"
    "      [CAST(doc_id % 7 AS INTEGER) + 1],"
    " CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END,"
    " '/p/', CAST(doc_id AS VARCHAR))"
)

_SUFFIX_IN = "('" + "', '".join(URL_MULTI_SUFFIXES) + "')"

#: DuckDB CTE: url → registrable domain (scheme strip → hostport →
#: port strip → label split → last-2 or last-3 on a multi-label
#: public suffix)
_DOMAIN_DUCK_CTE = f"""
    u AS (SELECT doc_id, text, source, n_chars, {_URL_DUCK} AS url
          FROM documents),
    hosts AS (
      SELECT *, string_split(split_part(split_part(split_part(
               url, '://', 2), '/', 1), ':', 1), '.') AS labels
      FROM u
    ), dom AS (
      SELECT doc_id, text, source, n_chars,
             CASE WHEN labels[-2] || '.' || labels[-1] IN {_SUFFIX_IN}
                       AND len(labels) >= 3
                  THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
                  ELSE labels[-2] || '.' || labels[-1] END AS domain
      FROM hosts
    )"""


def _with_domain(doc: DataFrame) -> DataFrame:
    """url synth + registrable-domain extraction, all JVM built-ins:
    substring_index peels scheme/path/port, split labels the host, and
    the public-suffix rule keeps 2 labels (3 over a multi-label suffix
    like co.uk). ``get()`` (NULL out-of-bounds) keeps the 3-label arm
    ANSI-safe."""
    d = doc.withColumn("url", F.expr(_URL_SPARK))
    host = F.substring_index(
        F.substring_index(F.substring_index("url", "://", -1), "/", 1),
        ":",
        1,
    )
    d = d.withColumn("labels", F.split(host, "\\."))
    last2 = F.concat_ws(
        ".", F.element_at("labels", -2), F.element_at("labels", -1)
    )
    reg3 = F.concat_ws(
        ".", F.get("labels", F.size("labels") - 3), last2
    )
    return d.withColumn(
        "domain",
        F.when(
            last2.isin(*URL_MULTI_SUFFIXES) & (F.size("labels") >= 3),
            reg3,
        ).otherwise(last2),
    )


@query(
    "x4_domain_rollup",
    oracle=f"""
    WITH {_DOMAIN_DUCK_CTE},
    agg AS (
      SELECT domain, COUNT(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS n_tokens,
             COUNT(DISTINCT source) AS n_sources
      FROM dom GROUP BY domain
    ), tot AS (SELECT SUM(n_docs) AS total FROM agg)
    SELECT domain, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_sources AS BIGINT) AS n_sources,
           CAST(n_docs * 1000000 // total AS BIGINT) AS share_ppm
    FROM agg CROSS JOIN tot
    """,
)
def x4_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain rollup: per-domain
    doc/token/source counts plus corpus share in ppm — the profiling
    stage that decides which domains the cap rung throttles. Reference
    scope: no analog (the reference pipeline has no URL handling);
    this is the CommonCrawl-curation extension tier.

    Scale shape: domain extraction is pure scan-side string built-ins
    (substring_index × 3, split, concat_ws — zero Python, inside
    whole-stage codegen), then ONE partial-aggregated groupBy(domain)
    — |domains| ≪ |docs| — and a broadcast 1-row total for the share
    (same integer-ppm discipline as x8_temperature_mixture). Single
    scan, one exchange, plan-gated."""
    doc = load_table(spark, sf_dir, "documents")
    agg = (
        _with_domain(doc)
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(words())).alias("n_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )
    tot = agg.agg(F.sum("n_docs").alias("total"))
    return agg.join(F.broadcast(tot)).select(
        "domain",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_sources").cast("long").alias("n_sources"),
        F.expr("n_docs * 1000000 DIV total").cast("long").alias("share_ppm"),
    )


@query(
    "x8_domain_caps",
    oracle=f"""
    WITH {_DOMAIN_DUCK_CTE},
    ranked AS (
      SELECT doc_id, domain,
             ROW_NUMBER() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id)
               AS domain_rank
      FROM dom
    )
    SELECT doc_id, domain, CAST(domain_rank AS BIGINT) AS domain_rank
    FROM ranked WHERE domain_rank <= {DOMAIN_DOC_CAP}
    """,
)
def x8_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution caps: keep at most
    ``DOMAIN_DOC_CAP`` documents per registrable domain, priority
    n_chars DESC (keep the most substantial pages) with doc_id as the
    deterministic tiebreak — the over-represented-domain mitigation
    every web-scale corpus applies (the synthetic URL skew routes ~2/3
    of docs onto one 'hub' stem precisely so the cap bites).

    Scale shape: same quota machinery as x8_cluster_balance — the
    rank-≤-cap filter collapses the window into WindowGroupLimit
    (per-partition top-cap BEFORE the exchange, so the shuffle carries
    at most cap rows per (partition, domain), never the full domain's
    documents — the over-represented domain is exactly the case where
    that bound matters). One scan, one hash exchange on domain,
    plan-gated."""
    doc = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    return (
        _with_domain(doc)
        .select("doc_id", "domain", "n_chars")
        .withColumn("domain_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("domain_rank") <= DOMAIN_DOC_CAP)
        .select("doc_id", "domain", "domain_rank")
    )


# ----------------------------------------------------------------------
# Code-vs-prose detection: the pretraining curation signal
# that routes documents to code/prose-specific cleaning pipelines
# ----------------------------------------------------------------------
#: code-score threshold (per-mille of weighted markers per word)
CODE_SCORE_PM = 60

#: synthetic code decoration: documents carry no code, so 1/4 of docs
#: are wrapped in a deterministic code-shaped preamble (def header,
#: braces, semicolons) the detector must separate from the prose rest —
#: the same synth-payload discipline as the URL and media rungs
_CODE_TEXT_SPARK = (
    "CASE WHEN doc_id % 4 = 0 THEN concat("
    "'def fn', CAST(doc_id AS STRING), '(x) {\\n"
    "  y = x + 1;\\n  return y;\\n}\\n', text) ELSE text END"
)
_CODE_TEXT_DUCK = (
    "CASE WHEN doc_id % 4 = 0 THEN concat("
    "'def fn', CAST(doc_id AS VARCHAR), '(x) {', chr(10),"
    "'  y = x + 1;', chr(10), '  return y;', chr(10), '}', chr(10), text)"
    " ELSE text END"
)


@query(
    "x4_code_detect",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, {_CODE_TEXT_DUCK} AS s FROM documents
    ), f AS (
      SELECT doc_id,
             len(s) - len(replace(s, '{{', ''))
               + len(s) - len(replace(s, '}}', '')) AS n_braces,
             len(s) - len(replace(s, ';', '')) AS n_semi,
             (len(s) - len(replace(s, 'def ', ''))) // 4 AS n_def,
             len(string_split(s, ' ')) AS n_words
      FROM c
    )
    SELECT doc_id, CAST(n_braces AS BIGINT) AS n_braces,
           CAST(n_semi AS BIGINT) AS n_semi,
           CAST(n_def AS BIGINT) AS n_def,
           CAST(n_words AS BIGINT) AS n_words,
           CAST((3 * n_braces + 2 * n_semi + 5 * n_def) * 1000 // n_words
                AS BIGINT) AS code_score_pm,
           (3 * n_braces + 2 * n_semi + 5 * n_def) * 1000
             >= {CODE_SCORE_PM} * n_words AS is_code
    FROM f
    """,
)
def x4_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection — the curation router every mixed
    pretraining corpus needs (code routes to code-specific cleaning
    and its own mixture weight; prose to the C4/Gopher funnel):
    integer marker densities (braces, semicolons, ``def `` headers)
    per word, a weighted per-mille score, and the keep-band decision
    in cross-multiplied integer form so it is engine-exact — the same
    heuristic family as fastText's code detector, with the learned
    weights replaced by fixed ones (swap in x4_hashed_linear_score's
    machinery for a learned router). Marker counts use the
    length-difference idiom (len(s) − len(replace(s, m, ''))), all
    JVM built-ins. Reference scope: no text ops in the reference;
    §2.10 X4 extension tier.

    Scale shape: ZERO exchanges — every feature and the decision are
    scan-side codegen expressions; embarrassingly parallel at any
    corpus size (plan-gated like x4_html_extract)."""
    doc = load_table(spark, sf_dir, "documents")
    s = F.expr(_CODE_TEXT_SPARK)
    d = doc.select("doc_id", s.alias("s"))
    nb = (
        F.length("s")
        - F.length(F.replace(F.col("s"), F.lit("{")))
        + F.length("s")
        - F.length(F.replace(F.col("s"), F.lit("}")))
    )
    ns = F.length("s") - F.length(F.replace(F.col("s"), F.lit(";")))
    nd = (
        F.length("s") - F.length(F.replace(F.col("s"), F.lit("def ")))
    ) / F.lit(4)
    d = d.select(
        "doc_id",
        nb.cast("long").alias("n_braces"),
        ns.cast("long").alias("n_semi"),
        nd.cast("long").alias("n_def"),
        F.size(words("s")).cast("long").alias("n_words"),
    )
    score = (
        3 * F.col("n_braces") + 2 * F.col("n_semi") + 5 * F.col("n_def")
    ) * 1000
    return d.select(
        "doc_id",
        "n_braces",
        "n_semi",
        "n_def",
        "n_words",
        F.expr(
            "(3 * n_braces + 2 * n_semi + 5 * n_def) * 1000 DIV n_words"
        )
        .cast("long")
        .alias("code_score_pm"),
        (score >= CODE_SCORE_PM * F.col("n_words")).alias("is_code"),
    )


# ----------------------------------------------------------------------
# Count-min sketch: the mergeable-frequency member of the
# sketch tier — Bloom answers membership, HLL cardinality,
# approx-percentile quantiles; CMS answers "how often", mergeably
# ----------------------------------------------------------------------
#: sketch geometry: d hash rows x w columns. w is deliberately small
#: relative to the corpus vocabulary so collisions are REAL at test
#: scale and the overestimate column actually exercises (the BLOOM_M
#: lesson applied to frequency); production sizes w ~ e/eps for an
#: eps.N additive error bound with d ~ ln(1/delta) rows — only the
#: constants change, never the plan.
CMS_D = 4
CMS_W = 2048
#: candidate terms whose estimates the rung emits (top by exact
#: frequency, term tiebreak — the heavy-hitter read path a CMS serves)
CMS_TOP = 30

_CMS_POS_DUCK = (
    "CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || '#' || term), 1, 15))"
    f" AS BIGINT) % {CMS_W}"
)


def _cms_pos_structs() -> list:
    """CMS_D portable (row, position) pairs of the ``term`` column —
    the Bloom rungs' md5 hash-family discipline, so both engines
    derive bit-identical cells and the estimate is oracle-exact."""
    return [
        F.struct(
            F.lit(i).cast("int").alias("i"),
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{i}#"), F.col("term"))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
                % CMS_W
            ).alias("p"),
        )
        for i in range(CMS_D)
    ]


def cms_term_counts(df: DataFrame) -> DataFrame:
    """(term, n) — word-TRIGRAM occurrence counts (every instance, not
    per-doc distinct: frequency sketching counts occurrences). Trigrams
    because the synthetic corpus has only ~31 distinct unigrams — no
    collision could ever exercise — while its trigram vocabulary is
    ~16k at sf0.01, so the sketch's error path is real; n-gram
    frequency profiling is also the actual CMS deployment in curation
    (contamination n-grams, boilerplate phrases). JVM-side NGram, the
    dedup ladder's measured-fastest gram builder."""
    from pyspark.ml.feature import NGram

    arrays = df.select(words().alias("words")).filter(F.size("words") >= 3)
    grams = NGram(n=3, inputCol="words", outputCol="terms").transform(arrays)
    return (
        grams.select(F.explode("terms").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "x4_countmin_sketch",
    oracle=f"""
    WITH t AS (
      SELECT words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS term
      FROM (SELECT string_split(text, ' ') AS words FROM documents),
           UNNEST(generate_series(1, len(words) - 2)) u(i)
    ), tc AS (
      SELECT term, COUNT(*) AS true_count FROM t GROUP BY term
    ), pos AS (
      SELECT term, true_count, i, {_CMS_POS_DUCK} AS p
      FROM tc, UNNEST(generate_series(0, {CMS_D - 1})) u(i)
    ), cells AS (
      SELECT i, p, CAST(SUM(true_count) AS BIGINT) AS cell
      FROM pos GROUP BY i, p
    ), cand AS (
      SELECT term, true_count FROM (
        SELECT term, true_count,
               ROW_NUMBER() OVER (ORDER BY true_count DESC, term) AS rn
        FROM tc
      ) WHERE rn <= {CMS_TOP}
    )
    SELECT c.term,
           CAST(c.true_count AS BIGINT) AS true_count,
           CAST(MIN(ce.cell) AS BIGINT) AS est_count,
           CAST((MIN(ce.cell) - c.true_count) * 1000000
                // c.true_count AS BIGINT) AS over_ppm
    FROM cand c
    JOIN pos cp ON cp.term = c.term
    JOIN cells ce ON ce.i = cp.i AND ce.p = cp.p
    GROUP BY c.term, c.true_count
    """,
)
def x4_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005, public) — the
    MERGEABLE frequency summary every streaming/distributed counting
    pipeline keeps where the exact vocabulary groupBy can't fit:
    completes the sketch tier (Bloom prefilter = membership,
    approx_count_distinct = cardinality, approx-percentile =
    quantiles, Misra-Gries heavy hitters = the non-mergeable two-pass
    exact cousin). Each term hashes to one cell per sketch row
    (portable md5 family, the Bloom discipline); a cell is the SUM of
    colliding terms' counts; the estimate is the min over rows —
    >= true BY CONSTRUCTION (no underestimate, pinned in tests), with
    the overestimate surfaced in integer ppm against exact truth for
    the top-{CMS_TOP} terms (the heavy-hitter read path). Terms are word TRIGRAMS
    (cms_term_counts — the corpus's unigram vocabulary is ~31 terms,
    collision-free at any w; its ~16k trigrams make the error path
    real), and CMS_W is deliberately small relative to that vocabulary
    — the BLOOM_M lesson applied to frequency.

    Scale shape: ONE corpus scan into the term partial-agg
    (vocabulary-bound, the shuffle every exact counter already pays);
    the sketch build then fans out d cells per DISTINCT term — the
    occurrence⇄dict move x4_bpe_apply measured 4.9x, never a
    per-instance explode — into a <= d*w-row partial-agg (the
    materialized sketch, corpus-size-INDEPENDENT: exactly why CMS
    wins at 100 TB, and why its cells merge across executors, days,
    or streams by plain addition). The estimate read is a
    |candidates|*d-row broadcast join against the sketch. Reference
    scope: no analog; LLM-curation extension tier (token-frequency
    profiling at corpus scale)."""
    doc = load_table(spark, sf_dir, "documents")
    tc = cms_term_counts(doc).withColumnRenamed("n", "true_count")
    pos = tc.select(
        "term",
        "true_count",
        F.explode(F.array(*_cms_pos_structs())).alias("ip"),
    ).select("term", "true_count", F.col("ip.i").alias("i"), F.col("ip.p").alias("p"))
    cells = pos.groupBy("i", "p").agg(F.sum("true_count").alias("cell"))
    # top-N via orderBy+limit, NOT a global row_number window: Spark
    # compiles this to TakeOrderedAndProject — a per-partition bounded
    # heap merged on the driver — where the windowed form would sort
    # the whole vocabulary in ONE partition (total order with the term
    # tiebreak keeps it deterministic)
    cand = (
        tc.orderBy(F.col("true_count").desc(), "term")
        .limit(CMS_TOP)
        .select("term", "true_count")
    )
    cand_pos = cand.select(
        "term",
        "true_count",
        F.explode(F.array(*_cms_pos_structs())).alias("ip"),
    ).select("term", "true_count", F.col("ip.i").alias("i"), F.col("ip.p").alias("p"))
    return (
        cand_pos.join(cells, ["i", "p"])
        .groupBy("term", "true_count")
        .agg(F.min("cell").alias("est_count"))
        .select(
            "term",
            F.col("true_count").cast("long").alias("true_count"),
            F.col("est_count").cast("long").alias("est_count"),
            F.expr(
                "(est_count - true_count) * 1000000 DIV true_count"
            ).cast("long").alias("over_ppm"),
        )
    )


# ----------------------------------------------------------------------
# Zipf rank-frequency fit: the corpus-naturalness diagnostic
# ----------------------------------------------------------------------
#: per-language rank depth for the fit (covers the synthetic corpus's
#: full vocabulary; on a natural-language corpus the head of the rank
#: curve is where Zipf holds and where the fit is standard practice)
ZIPF_TOP = 64
#: minimum points for a meaningful line (guards the degenerate
#: zero-variance denominator)
ZIPF_MIN_TERMS = 3


@query(
    "x4_zipf_fit",
    oracle=f"""
    WITH tf AS ({term_counts_sql("lang")}),
    ranked AS (
      SELECT lang, term, n,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n DESC, term) AS r
      FROM tf
    ),
    pts AS (
      SELECT lang,
             CAST(FLOOR(ln(r) * 1000000000000)
                  AS DECIMAL(38,0)) AS x,
             CAST(FLOOR(ln(n) * 1000000000000)
                  AS DECIMAL(38,0)) AS y,
             CAST(FLOOR(ln(r) * ln(n) * 1000000000000)
                  AS DECIMAL(38,0)) AS xy,
             CAST(FLOOR(ln(r) * ln(r) * 1000000000000)
                  AS DECIMAL(38,0)) AS xx,
             CAST(FLOOR(ln(n) * ln(n) * 1000000000000)
                  AS DECIMAL(38,0)) AS yy
      FROM ranked WHERE r <= {ZIPF_TOP}
    ),
    agg AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(x) AS DOUBLE) / 1000000000000 AS sx,
             CAST(SUM(y) AS DOUBLE) / 1000000000000 AS sy,
             CAST(SUM(xy) AS DOUBLE) / 1000000000000 AS sxy,
             CAST(SUM(xx) AS DOUBLE) / 1000000000000 AS sxx,
             CAST(SUM(yy) AS DOUBLE) / 1000000000000 AS syy
      FROM pts GROUP BY lang
    )
    SELECT lang, n_terms,
           FLOOR((n_terms * sxy - sx * sy)
                 / (n_terms * sxx - sx * sx) * 1000000) / 1000000.0
             AS zipf_slope,
           CASE WHEN n_terms * syy - sy * sy = 0 THEN NULL
                ELSE FLOOR((n_terms * sxy - sx * sy)
                           * (n_terms * sxy - sx * sy)
                           / ((n_terms * sxx - sx * sx)
                              * (n_terms * syy - sy * sy)) * 1000000)
                     / 1000000.0
           END AS fit_r2
    FROM agg WHERE n_terms >= {ZIPF_MIN_TERMS}
    """,
)
def x4_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf rank-frequency fit — the corpus-naturalness
    diagnostic (natural language shows ln(freq) ≈ a + s·ln(rank) with
    s ≈ -1 and high R²; machine-generated or template-heavy text bends
    the curve, so (slope, R²) per language is a standard corpus-QA
    gate before training). OLS over the top-``ZIPF_TOP`` terms per
    language in log-log space, emitting slope and R². Reference scope:
    no text ops in the reference (440-line pandas ETL); §2.10
    extension tier.

    Determinism: rank and counts are integers, so every ln() sees
    bit-identical inputs on both engines; per-row double products
    floor-quantize to integers at 1e-12 BEFORE the exact DECIMAL(38,0)
    sums (order-independent by arithmetic — the x4_unigram_logprob
    microunit discipline), and only the final
    slope/R² combination runs in double over per-group scalars,
    floor-truncated to 6.

    Scale shape: term frequency is one partial-aggregated (lang, term)
    exchange; the per-language top-``ZIPF_TOP`` rank cut rewrites to
    WindowGroupLimit (per-task top-K heap BEFORE the lang exchange —
    never a full vocabulary sort); the moment sums partial-aggregate
    over ≤ TOP rows per language. Output is |languages| rows."""
    doc = load_table(spark, sf_dir, "documents")
    return zipf_fit_from_tf(term_counts(doc, "lang"))


def zipf_fit_from_tf(tf: DataFrame) -> DataFrame:
    """The Zipf OLS fit over a (lang, term, n) term-frequency relation —
    extracted from the query body so BOTH branches of the naturalness
    gate are testable: the firing branch on the
    template corpus (tests/test_plans.py::
    test_zipf_fit_plan_and_diagnostic_direction pins slope<0, R²<0.5)
    and the green branch on a genuinely Zipf-distributed table
    (tests/test_properties.py pins slope≈−1, high R²)."""
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "term")
    lr, ln = F.log(F.col("r").cast("double")), F.log(
        F.col("n").cast("double")
    )
    # microunit quantization: ln() outputs are
    # derived doubles — floor-quantize each moment term to an integer
    # at 1e-12 before the exact DECIMAL(38,0) sums (|term|·1e12 ≤
    # ~2e14 < 2^53 for ranks ≤ ZIPF_TOP and any corpus count)
    def q(c):
        return F.floor(c * F.lit(1e12)).cast("decimal(38,0)")

    pts = (
        tf.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= ZIPF_TOP)
        .select(
            "lang",
            q(lr).alias("x"),
            q(ln).alias("y"),
            q(lr * ln).alias("xy"),
            q(lr * lr).alias("xx"),
            q(ln * ln).alias("yy"),
        )
    )
    agg = pts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        (F.sum("x").cast("double") / F.lit(1e12)).alias("sx"),
        (F.sum("y").cast("double") / F.lit(1e12)).alias("sy"),
        (F.sum("xy").cast("double") / F.lit(1e12)).alias("sxy"),
        (F.sum("xx").cast("double") / F.lit(1e12)).alias("sxx"),
        (F.sum("yy").cast("double") / F.lit(1e12)).alias("syy"),
    )
    num = F.col("n_terms") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("n_terms") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n_terms") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.filter(F.col("n_terms") >= ZIPF_MIN_TERMS).select(
        "lang",
        "n_terms",
        # floor-truncation, not ROUND — same round-half hazard class
        # the sf0.1 sweep caught in x6_theil_sen (the _trunc6 rule)
        (F.floor(num / den_x * F.lit(1e6)) / F.lit(1e6)).alias(
            "zipf_slope"
        ),
        # all-equal counts → zero y-variance → R² is 0/0: both engines
        # return NULL deterministically instead of a NaN/inf divergence
        F.when(
            den_y != 0,
            F.floor(num * num / (den_x * den_y) * F.lit(1e6))
            / F.lit(1e6),
        ).alias("fit_r2"),
    )


# ----------------------------------------------------------------------
# Unigram-LM tokenizer training: the SentencePiece-class
# algorithm beside BPE train/apply
# ----------------------------------------------------------------------
#: maximum candidate piece length in the seed vocabulary
UNI_MAX_PIECE = 4
#: EM rounds (Viterbi E-step + count M-step), unrolled in the oracle
UNI_ROUNDS = 2
#: word-length dispatch threshold: corpora whose longest word fits use
#: the bitmask segmentation enumeration (2^(L-1) masks per word —
#: SQL-oracle-expressible; the fixture corpus tops out at 8 chars);
#: longer-word corpora switch to the linear Viterbi DP kernel
#: (_unigram_dp_segment_fn), which equals the enumeration by the
#: tiebreak proof there (property-pinned in tests/test_properties.py)
UNI_MAX_WORD = 16
#: log-prob microunit scale (ln() outputs floor-quantize to integers,
#: never cast to decimal)
UNI_LP_SCALE = 1_000_000_000_000


def _viterbi_sql(r: int) -> str:
    """The E-step under vocab ``l{r}``: ``s{r}`` scores every mask whose
    pieces are all in the vocab, ``b{r}`` keeps each word's best by
    (score DESC, mask ASC)."""
    return f"""
    s{r} AS (
      SELECT m.word, m.mask, SUM(l.lp) AS score,
             COUNT(*) AS matched, MAX(m.nseg) AS nseg
      FROM mseg m JOIN l{r} l ON l.piece = m.piece
      GROUP BY m.word, m.mask
      HAVING COUNT(*) = MAX(m.nseg)
    ),
    b{r} AS (
      SELECT word, mask FROM (
        SELECT word, mask,
               ROW_NUMBER() OVER (PARTITION BY word
                                  ORDER BY score DESC, mask) AS rn
        FROM s{r}
      ) WHERE rn = 1
    )"""


def _unigram_cte_chain() -> str:
    """Seed + ``UNI_ROUNDS`` EM rounds unrolled as CTEs (the eighth
    sharded-recurrence precedent, x4_bpe_merge_train): each round's
    Viterbi segmentation is the argmax over ALL 2^(L-1) bitmask
    segmentations of each distinct word — identical to the DP by
    definition — with the deterministic (score DESC, mask ASC)
    tiebreak, and each round's log-probs floor-quantize to integer
    microunits before any comparison. Shared by the train and apply
    oracles (the _bpe_train_chain pattern)."""
    parts = [
        f"""
    wc AS (
      SELECT term AS word, n FROM ({term_counts_sql(min_len=1)})
    ),
    seed AS (
      SELECT substr(word, s, l) AS piece, SUM(n) AS cnt
      FROM wc,
           UNNEST(generate_series(1, len(word))) AS a(s),
           UNNEST(generate_series(1, {UNI_MAX_PIECE})) AS b(l)
      WHERE s + l - 1 <= len(word)
      GROUP BY piece
    ),
    v0 AS (
      SELECT piece,
             cnt + CASE WHEN len(piece) = 1 THEN 1 ELSE 0 END AS cnt
      FROM seed
    ),
    t0 AS (SELECT SUM(cnt) AS t FROM v0),
    l0 AS (
      SELECT piece, cnt,
             CAST(FLOOR(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE))
                        * {UNI_LP_SCALE}) AS BIGINT) AS lp
      FROM v0 CROSS JOIN t0
    ),
    mseg AS (
      SELECT word, n, mask, len(bounds) - 1 AS nseg, k,
             substr(word, bounds[k] + 1,
                    bounds[k + 1] - bounds[k]) AS piece
      FROM (
        SELECT word, n, mask,
               list_filter(generate_series(0, len(word)),
                 x -> x = 0 OR x = len(word)
                      OR (mask & (1 << greatest(x - 1, 0))) <> 0)
                 AS bounds
        FROM wc,
             UNNEST(generate_series(0,
               (1 << (len(word) - 1)) - 1)) AS t(mask)
      ), UNNEST(generate_series(1, len(bounds) - 1)) AS g(k)
    )"""
    ]
    for r in range(UNI_ROUNDS):
        parts.append(
            f""",{_viterbi_sql(r)},
    c{r + 1} AS (
      SELECT m.piece, SUM(m.n) AS cnt
      FROM b{r} JOIN mseg m USING (word, mask)
      GROUP BY m.piece
    ),
    v{r + 1} AS (
      SELECT piece, cnt FROM (
        SELECT COALESCE(c.piece, s.piece) AS piece,
               COALESCE(c.cnt, 0)
                 + CASE WHEN len(COALESCE(c.piece, s.piece)) = 1
                        THEN 1 ELSE 0 END AS cnt
        FROM c{r + 1} c
        FULL JOIN (SELECT piece FROM l{r} WHERE len(piece) = 1) s
          ON s.piece = c.piece
      ) WHERE cnt > 0
    ),
    t{r + 1} AS (SELECT SUM(cnt) AS t FROM v{r + 1}),
    l{r + 1} AS (
      SELECT piece, cnt,
             CAST(FLOOR(ln(CAST(cnt AS DOUBLE) / CAST(t AS DOUBLE))
                        * {UNI_LP_SCALE}) AS BIGINT) AS lp
      FROM v{r + 1} CROSS JOIN t{r + 1}
    )"""
        )
    return "".join(parts)


def _unigram_oracle() -> str:
    return (
        "WITH "
        + _unigram_cte_chain()
        + f"""
    SELECT piece, CAST(cnt AS BIGINT) AS freq, lp AS logp_micro
    FROM l{UNI_ROUNDS}
    """
    )


def _unigram_apply_oracle() -> str:
    """Chain + one more Viterbi pass against the FINAL vocab, then the
    occurrence⇄dict join and per-doc rollup — byte-for-byte the
    x4_bpe_apply emit shape (n_words, n_tokens, ordered stream
    fingerprint)."""
    return (
        "WITH "
        + _unigram_cte_chain()
        + f""",{_viterbi_sql(UNI_ROUNDS)},
    dict AS (
      SELECT m.word AS w,
             string_agg(m.piece, chr(31) ORDER BY m.k) AS enc,
             CAST(MAX(m.nseg) AS BIGINT) AS tk
      FROM b{UNI_ROUNDS} JOIN mseg m USING (word, mask)
      GROUP BY m.word
    ){_ENCODED_STREAMS_SQL}
    """
    )


def _unigram_mseg(wc: DataFrame) -> DataFrame:
    """The bitmask segmentation lattice over the distinct-word relation
    (word, n, mask, nseg, k, piece) — built once, localCheckpointed,
    re-read by every EM round and by the apply rung's final pass."""
    return (
        wc.selectExpr(
            "word",
            "n",
            "explode(sequence(0, shiftleft(1, length(word) - 1) - 1))"
            " AS mask",
        )
        .selectExpr(
            "word",
            "n",
            "mask",
            "filter(sequence(0, length(word)),"
            " x -> x = 0 OR x = length(word)"
            " OR (mask & shiftleft(1, greatest(x - 1, 0))) != 0)"
            " AS bounds",
        )
        .selectExpr(
            "word",
            "n",
            "mask",
            "size(bounds) - 1 AS nseg",
            "explode(sequence(1, size(bounds) - 1)) AS k",
            "bounds",
        )
        .selectExpr(
            "word",
            "n",
            "mask",
            "nseg",
            "k",
            "substring(word, element_at(bounds, k) + 1,"
            " element_at(bounds, k + 1) - element_at(bounds, k))"
            " AS piece",
        )
        .localCheckpoint(eager=True)  # re-read every EM round
    )


#: Winning-segmentation relation shape shared by the enumeration and
#: DP paths: one row per (word, piece position).
_UNI_SEG_SCHEMA = "word string, n long, nseg int, k int, piece string"


def _unigram_dp_segment_fn(bc_vocab):
    """Linear Viterbi DP per distinct word (the long-word E-step past
    ``UNI_MAX_WORD``): left-to-right
    best-score fold with ``UNI_MAX_PIECE`` lookback, O(L·P) per word
    instead of the 2^(L-1) mask enumeration. The tiebreak reproduces
    the enumeration's (score DESC, mask ASC) total order EXACTLY: the
    mask integer's most-significant differing bit is the LATEST
    boundary position where two segmentations differ, so mask-ASC ==
    prefer-the-longer-LAST-piece at every tie, applied recursively —
    i.e. at each DP position, among equal-score transitions keep the
    largest piece length (property-pinned equal to the enumeration on
    ≤ UNI_MAX_WORD words by tests/test_properties.py). Runs as an
    Arrow kernel over the DISTINCT-WORD relation (vocab-bounded, not
    corpus-bounded) with the piece log-probs broadcast as a dict."""

    def seg(batches):
        import pandas as pd

        lp = bc_vocab.value
        for pdf in batches:
            words, ns, nsegs, ks, pieces = [], [], [], [], []
            for word, n in zip(pdf["word"], pdf["n"]):
                L = len(word)
                # score[j] = best integer-microunit score of word[:j];
                # pick[j] = chosen last-piece length (largest on ties)
                score = [None] * (L + 1)
                pick = [0] * (L + 1)
                score[0] = 0
                for j in range(1, L + 1):
                    bs, bl = None, 0
                    for le in range(1, min(UNI_MAX_PIECE, j) + 1):
                        p = lp.get(word[j - le : j])
                        if p is None or score[j - le] is None:
                            continue
                        s = score[j - le] + p
                        if bs is None or s > bs or (s == bs and le > bl):
                            bs, bl = s, le
                    score[j], pick[j] = bs, bl
                if score[L] is None:
                    continue  # no covering segmentation (the enum
                    # path's matched == nseg drop; unreachable while
                    # the Laplace floor keeps every char in vocab)
                lens = []
                j = L
                while j > 0:
                    lens.append(pick[j])
                    j -= pick[j]
                lens.reverse()
                pos = 0
                for k, le in enumerate(lens, start=1):
                    words.append(word)
                    ns.append(n)
                    nsegs.append(len(lens))
                    ks.append(k)
                    pieces.append(word[pos : pos + le])
                    pos += le
            yield pd.DataFrame(
                {
                    "word": words,
                    "n": ns,
                    "nseg": nsegs,
                    "k": ks,
                    "piece": pieces,
                }
            )

    return seg


def _unigram_best_seg(
    wc: DataFrame, vocab: DataFrame, mseg: DataFrame | None
) -> DataFrame:
    """Winning segmentation per distinct word as (word, n, nseg, k,
    piece). With ``mseg`` (the ≤ UNI_MAX_WORD lattice): the bitmask
    enumeration argmax — SQL-oracle-expressible, used by the driver
    rungs. Without: the linear Viterbi DP Arrow kernel (the long-word
    production path; same winner by the tiebreak proof on the DP
    docstring). The vocab is collected and broadcast as a dict — it
    is the ≤ UNI_MAX_PIECE-char substring inventory, alphabet-bounded
    (the enumeration path broadcasts the same relation)."""
    if mseg is not None:
        return (
            _unigram_viterbi_best(mseg, vocab)
            .join(mseg, ["word", "mask"])
            .select("word", "n", "nseg", "k", "piece")
        )
    spark = wc.sparkSession
    rows = vocab.select("piece", "lp").collect()
    bc = spark.sparkContext.broadcast(
        {r["piece"]: r["lp"] for r in rows}
    )
    return wc.mapInPandas(
        _unigram_dp_segment_fn(bc), schema=_UNI_SEG_SCHEMA
    )


def _unigram_viterbi_best(mseg: DataFrame, vocab: DataFrame) -> DataFrame:
    """Winning (word, mask) per word under the given vocab's integer
    microunit log-probs — masks with any out-of-vocab piece drop via
    the matched == nseg guard; ties break (score DESC, mask ASC)."""
    w = Window.partitionBy("word").orderBy(F.col("score").desc(), "mask")
    scored = (
        mseg.join(F.broadcast(vocab.select("piece", "lp")), "piece")
        .groupBy("word", "mask")
        .agg(
            F.sum("lp").alias("score"),
            F.count(F.lit(1)).alias("matched"),
            F.max("nseg").alias("nseg"),
        )
        .filter(F.col("matched") == F.col("nseg"))
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("word", "mask")
    )


def unigram_vocab_rounds(
    wc: DataFrame,
    rounds: int,
    mseg: DataFrame | None = None,
    use_dp: bool = False,
) -> list[DataFrame]:
    """Seed vocab + ``rounds`` EM iterations over a (word, n) relation;
    returns the per-round vocab frames (piece, cnt, lp) — the seed at
    index 0 — so the pruning-monotonicity property is testable
    round-by-round (tests/test_properties.py). ``use_dp=True`` runs
    each E-step through the linear Viterbi DP kernel instead of the
    2^(L-1) mask lattice (the long-word corpus path; never builds
    mseg), producing identical vocabularies by the tiebreak proof in
    ``_unigram_dp_segment_fn``."""
    spark = wc.sparkSession
    seed = (
        wc.select(
            "word",
            "n",
            F.explode(
                F.sequence(F.lit(1), F.length("word"))
            ).alias("s"),
        )
        .select(
            "word",
            "n",
            "s",
            F.explode(
                F.sequence(F.lit(1), F.lit(UNI_MAX_PIECE))
            ).alias("l"),
        )
        .filter(F.col("s") + F.col("l") - 1 <= F.length("word"))
        .select(
            F.col("word").substr(F.col("s"), F.col("l")).alias("piece"),
            "n",
        )
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
    )

    def with_lp(v: DataFrame) -> DataFrame:
        t = v.agg(F.sum("cnt").alias("t"))
        return (
            v.crossJoin(F.broadcast(t))
            .select(
                "piece",
                "cnt",
                F.floor(
                    F.log(
                        F.col("cnt").cast("double")
                        / F.col("t").cast("double")
                    )
                    * F.lit(float(UNI_LP_SCALE))
                )
                .cast("long")
                .alias("lp"),
            )
            .localCheckpoint(eager=True)  # read by E-step + next round
        )

    vocabs = [
        with_lp(
            seed.select(
                "piece",
                (
                    F.col("cnt")
                    + (F.length("piece") == 1).cast("long")
                ).alias("cnt"),
            )
        )
    ]
    if mseg is None and not use_dp:
        mseg = _unigram_mseg(wc)
    for _ in range(rounds):
        cur = vocabs[-1]
        seg = _unigram_best_seg(wc, cur, None if use_dp else mseg)
        counts = seg.groupBy("piece").agg(F.sum("n").alias("cnt"))
        singles = cur.filter(F.length("piece") == 1).select("piece")
        v_next = (
            counts.join(singles, "piece", "full")
            .select(
                "piece",
                (
                    F.coalesce(F.col("cnt"), F.lit(0))
                    + (F.length("piece") == 1).cast("long")
                ).alias("cnt"),
            )
            .filter(F.col("cnt") > 0)
        )
        vocabs.append(with_lp(v_next))
    return vocabs


def _unigram_words(doc: DataFrame) -> tuple[DataFrame, bool]:
    """The preamble both unigram rungs share: the distinct-word counts
    (word, n), materialized once because the length probe, the seed
    explode, the mask lattice and every EM round read them, and the
    E-step dispatch. Corpora whose longest word fits ``UNI_MAX_WORD``
    take the SQL-oracle-expressible mask enumeration; longer words
    switch the E-step to the linear Viterbi DP kernel (same winner by
    the tiebreak proof at ``_unigram_dp_segment_fn``)."""
    wc = (
        term_counts(doc, min_len=1)
        .select(F.col("term").alias("word"), "n")
        .localCheckpoint(eager=True)
    )
    max_len = wc.agg(F.max(F.length("word"))).first()[0]
    return wc, max_len is not None and max_len > UNI_MAX_WORD


@query("x4_unigram_train", oracle=_unigram_oracle())
def x4_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018, the SentencePiece
    algorithm — public) — the second mainstream tokenizer family
    beside BPE train/apply: seed the vocabulary
    with every ≤``UNI_MAX_PIECE``-char substring of the corpus's
    distinct words (counts = corpus occurrences, with a permanent
    Laplace floor on single characters so the alphabet can never be
    pruned), then run ``UNI_ROUNDS`` EM rounds — E-step: Viterbi-best
    segmentation of each distinct word under the current piece
    log-probs; M-step: re-estimate piece probabilities from the
    winning segmentations' corpus-weighted counts, dropping pieces no
    segmentation uses (the pruning step). Output: the final vocabulary
    as (piece, freq, logp_micro) — all-integer columns, hash-exact.
    Reference scope: no tokenizer in the reference (440-line pandas
    ETL); §2.10 LLM-data extension tier.

    Determinism: the Viterbi argmax enumerates ALL 2^(L-1) bitmask
    segmentations per distinct word (equal to the DP by definition of
    argmax; guarded by ``UNI_MAX_WORD``) with the total order
    (score DESC, mask ASC); scores are exact BIGINT sums of
    floor-quantized log-prob microunits (the microunit discipline — a
    derived double never casts to decimal, and ln() sees only exact
    integer ratios).

    Scale shape: word counting is the one corpus-scale exchange
    (partial-aggregated, the BPE-train shape); everything after runs
    on the DISTINCT-WORD relation — seed explode is |words|·L·P rows,
    the mask lattice is |words|·2^(L-1) rows materialized ONCE
    (localCheckpoint) and re-read per round, and each EM round is one
    broadcast piece-join + one per-word window + one piece groupBy.
    At 100 TB the distinct-word table is the corpus's vocabulary
    (Zipf-bounded, millions not billions); past the UNI_MAX_WORD
    lattice bound the E-step DISPATCHES to the linear Viterbi DP
    Arrow kernel (O(L·P) per word, same winner — URLs/code/
    agglutinative corpora run end-to-end instead of failing)."""
    wc, use_dp = _unigram_words(load_table(spark, sf_dir, "documents"))
    final = unigram_vocab_rounds(wc, UNI_ROUNDS, use_dp=use_dp)[-1]
    return final.select(
        "piece",
        F.col("cnt").cast("long").alias("freq"),
        F.col("lp").alias("logp_micro"),
    )


@query("x4_unigram_apply", oracle=_unigram_apply_oracle())
def x4_unigram_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram tokenizer APPLICATION with the LEARNED vocabulary —
    closing the unigram lifecycle exactly as ``x4_bpe_apply`` closes
    BPE's (train → freeze → encode the corpus): one more Viterbi pass
    segments every DISTINCT word under the final EM vocab's integer
    microunit log-probs, and the corpus encodes through the resulting
    word→segmentation dictionary. Per document: word count, post-
    segmentation TOKEN count (what the budget/packing rungs consume),
    and an md5 fingerprint of the full encoded piece stream in
    document order — pinning the exact segmentation, not just its
    size. Reference scope: no tokenizer in the reference (440-line
    pandas ETL); §2.10 LLM-data extension tier.

    Scale shape — the x4_bpe_apply contract verbatim: training and
    the final Viterbi pass fold over the DISTINCT-WORD lattice
    (corpus-size-independent for natural text), and the token volume
    is touched exactly once by an (occurrence ⇄ dict) equi-join on
    the word, followed by one doc_id partial-agg assembling counts
    and the order-exact fingerprint (array_sort over (pos, enc)
    structs; the oracle's string_agg ORDER BY pos). No per-occurrence
    segmentation anywhere: a doc repeating one word a million times
    costs one lattice argmax plus a million dict-join lookups."""
    doc = load_table(spark, sf_dir, "documents")
    wc, use_dp = _unigram_words(doc)
    mseg = None if use_dp else _unigram_mseg(wc)
    final = unigram_vocab_rounds(
        wc, UNI_ROUNDS, mseg=mseg, use_dp=use_dp
    )[-1]
    seg = _unigram_best_seg(wc, final, mseg)
    dic = seg.groupBy(F.col("word").alias("term")).agg(
        _ordered_join("k", "piece", "\x1f").alias("enc"),
        F.max("nseg").cast("long").alias("tk"),
    )
    return _encoded_streams(doc, dic)
