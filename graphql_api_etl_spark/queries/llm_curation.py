"""LLM-pipeline catalog, part 2: corpus curation passes (span dedup,
global shuffle, Bloom decontamination, quality scoring, manifests),
feature hashing, text clustering, PCA, BM25.

Split out of the round-11 query monolith (r12, VERDICT ask #4):
a pure move — entries register into the shared QUERIES dict in
the original order via the package __init__ import sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from graphql_api_etl_spark.operators import dedup as D
from graphql_api_etl_spark.operators import multimodal as MM
from graphql_api_etl_spark.operators import similarity as S
from graphql_api_etl_spark.operators import text as TX
from graphql_api_etl_spark.queries._registry import _q, _t

# ---------------------------------------------------------------------------
# Corpus-level curation passes (operators/corpus.py)
# ---------------------------------------------------------------------------

from graphql_api_etl_spark.operators import corpus as C  # noqa: E402


def _bloom_pos_sql(key_expr: str) -> str:
    """DuckDB list of the k md5-derived Bloom bit positions for a key —
    mirrors corpus.bloom_positions exactly."""
    cells = ", ".join(
        f"CAST('0x' || substr(md5('bloom{j}:' || {key_expr}), 1, 7) AS BIGINT) "
        f"% {C.BLOOM_BITS}"
        for j in range(C.BLOOM_HASHES)
    )
    return f"[{cells}]"


@_q(
    "dedup_span_exact",
    rf"""
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
sp AS (
  SELECT doc_id,
         list_transform(range(0, greatest(CAST(ceil(len(t) / {C.SPAN_WORDS}.0) AS BIGINT), 1)),
                        i -> array_to_string(t[(i*{C.SPAN_WORDS}+1):(i*{C.SPAN_WORDS}+{C.SPAN_WORDS})], ' ')) AS spans
  FROM toks
),
rows_ AS (
  SELECT doc_id, unnest(spans) AS span,
         unnest(range(0, len(spans))) AS span_idx
  FROM sp
),
k AS (
  SELECT doc_id, span_idx, span,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) = 1 AS keep
  FROM rows_
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(span, ' ' ORDER BY span_idx) FILTER (WHERE keep), '')) AS new_text_md5
FROM k GROUP BY doc_id
""",
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-SPAN removal with document reassembly: any
    20-word span seen elsewhere in the corpus survives only at its
    first (doc_id, span_idx) occurrence; documents are re-joined from
    their surviving spans. This is the intra-document-granularity
    dedup that exact/MinHash doc-level dedup cannot do (boilerplate
    headers, repeated disclaimers). Two balanced shuffles at any
    scale — see operators/corpus.dedup_spans. The differential hashes
    the reassembled text itself. (No scan repartition here, unlike
    curate_bloom_decontaminate: measured 0.86 s → 1.16 s WITH one at
    sf0.1 — the span window is already the first shuffle, so an extra
    exchange only adds latency.)"""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = C.dedup_spans(docs)
    return out.select(
        "doc_id", "n_spans", "n_kept", F.md5("new_text").alias("new_text_md5")
    )


@_q(
    "curate_global_shuffle",
    f"""
WITH keyed AS (
  SELECT doc_id,
         md5('{C.SHARD_SEED}' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents
),
sharded AS (
  SELECT doc_id, shuffle_key,
         CAST('0x' || substr(shuffle_key, 1, 7) AS BIGINT) % 8 AS shard_id
  FROM keyed
)
SELECT doc_id, shuffle_key, shard_id,
       CAST(row_number() OVER (PARTITION BY shard_id ORDER BY shuffle_key, doc_id)
            AS BIGINT) AS pos
FROM sharded
""",
)
def curate_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle → training-shard assignment: every
    document gets a reproducible pseudo-random position (md5 sort key,
    28-bit-prefix shard, row_number within shard). The "shuffle your
    corpus exactly once, identically on every rerun" pass that
    precedes shard writing. One shuffle total; md5 keys make shards
    uniform by construction (operators/corpus.global_shuffle)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return C.global_shuffle(docs, n_shards=8)


@_q(
    "curate_bloom_decontaminate",
    rf"""
WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
  FROM toks
),
bench AS (SELECT DISTINCT unnest(grams) AS key FROM g WHERE doc_id < 5),
bpos AS (SELECT DISTINCT unnest({_bloom_pos_sql('key')}) AS p FROM bench),
bits AS (SELECT list_sort(list(p)) AS bits FROM bpos),
corpus AS (SELECT doc_id, unnest(grams) AS key FROM g WHERE doc_id >= 5),
probe AS (
  SELECT doc_id, key,
         list_has_all(bits, {_bloom_pos_sql('key')}) AS bloom_hit,
         key IN (SELECT key FROM bench) AS exact_hit
  FROM corpus, bits
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits,
       max(bloom_hit) AS bloom_flagged
FROM probe GROUP BY doc_id
""",
)
def curate_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination: benchmark 3-grams (docs 0-4 stand
    in) build a DETERMINISTIC md5-hashed Bloom filter (8192 bits, k=3)
    that is broadcast and probed map-only over the corpus — the scale
    path when the benchmark gram set itself is too big to broadcast
    exactly but its Bloom image is a few KB. Exact hits ride along, so
    the output exhibits the filter's contract: every exact hit is a
    bloom hit (no false negatives), false positives bounded by the
    standard (1-e^{{-kn/m}})^k rate. The oracle replays the identical
    hash family bit-for-bit — the FPR set matches exactly, not just
    within a bound.

    The repartition ahead of the gram chain is the small-file-source
    mitigation (the mm-decode precedent): the testdata table is ONE
    parquet file with ONE row group, so the scan is a single task and
    the regex/ngram chain — the entry's dominant cost — ran
    single-core on a 32-core box (measured 2.8 s at sf0.1; 0.9 s
    after). A real corpus arrives in many files and the scan
    parallelizes itself; the 0.6 MB text shuffle is noise either way.
    Width comes from ``defaultParallelism`` (VERDICT r7 ask #5), so
    the same code sizes itself to the cluster instead of pinning this
    box's core count.

    r14-opt plan shape (guide §2.3/§2.4 — shuffle fewer bytes, remove
    shuffles outright): the corpus side is never exploded. The filter
    rides along as a 1-row ``bloom_bitmap`` (map<int,bigint>, ~1 KB
    broadcast) and every per-gram quantity is an array expression over
    the un-exploded gram set — n_grams = size, n_bloom_hits =
    size(filter(grams, bloom_hit_expr)). Only the BLOOM-HIT grams
    (bench grams + the filter's false positives — rare by
    construction) are exploded for the exact-mark join, and because
    the filter has no false negatives, summing exact marks over hit
    grams only is identical to the old sum over all grams. The r13
    shape exploded every corpus gram through 4 broadcast hash joins
    and re-aggregated per doc (the gram-stream Generate dominated:
    0.76 s of the 1.11 s entry); this one groups ~1 row per doc.
    Measured 1.11 s → ~0.3 s at sf0.1, output differential-identical
    (docs with an empty gram set keep producing no row, as the old
    explode enforced). Tokenizing splits on \\s+ directly off the
    LOWERED text — one regex pass; the norm_text collapse pass added
    nothing the split doesn't already do (equality over all three SF
    corpora pinned in tests)."""
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    grams = docs.select(
        "doc_id",
        F.array_distinct(TX.ngrams(TX.tokens(F.lower(F.col("text"))), 3)).alias("grams"),
    )
    from pyspark.storagelevel import StorageLevel

    # The tiny build side feeds two consumers (bitmap build + the
    # exact-mark broadcast); persisting skips re-running the docs<5
    # gram explode subtree per consumer.
    bench_keys = (
        grams.filter(F.col("doc_id") < 5)
        .select(F.explode("grams").alias("key"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bitmap = C.bloom_bitmap(bench_keys, key_col="key")
    corpus = grams.filter((F.col("doc_id") >= 5) & (F.size("grams") > 0))
    probed = corpus.join(F.broadcast(bitmap)).select(
        "doc_id",
        F.size("grams").cast("bigint").alias("n_grams"),
        F.filter(F.col("grams"), lambda g: C.bloom_hit_expr(g, F.col("bm"))).alias("__hits"),
    )
    # ONE linear pipeline: explode_outer keeps zero-hit docs, the
    # exact-mark join touches only hit grams, and the per-doc group
    # carries ~1 row per doc instead of the full gram stream.
    marked = probed.select(
        "doc_id", "n_grams", F.size("__hits").cast("bigint").alias("n_bloom_hits"),
        F.explode_outer("__hits").alias("key"),
    ).join(F.broadcast(bench_keys.withColumn("__ex", F.lit(1))), "key", "left")
    return marked.groupBy("doc_id", "n_grams", "n_bloom_hits").agg(
        F.sum(F.coalesce(F.col("__ex"), F.lit(0)).cast("bigint")).cast("bigint").alias("n_exact_hits"),
    ).select(
        "doc_id", "n_grams", "n_bloom_hits", "n_exact_hits",
        (F.col("n_bloom_hits") > 0).alias("bloom_flagged"),
    )


@_q(
    "text_unigram_logprob",
    r"""
WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS word FROM toks),
v AS (SELECT word, count(*) AS c FROM w GROUP BY word),
tot AS (SELECT sum(c) AS total FROM v),
lp AS (SELECT word, ln(c / total) AS lp FROM v, tot)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(lp), 3) AS avg_logprob
FROM w JOIN lp USING (word)
GROUP BY doc_id
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram LM scoring: each document's mean ln-probability
    of its tokens under the corpus's own unigram distribution — the
    cheap KenLM-style typicality signal used as a pre-training quality
    filter. Vocab counts shuffle by word (partial agg collapses heavy
    hitters map-side), the tiny vocab broadcasts back (Heaps' law), so
    the corpus-sized stream is never reshuffled
    (operators/corpus.unigram_logprob)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return C.unigram_logprob(docs)


# ---------------------------------------------------------------------------
# Model-style scoring passes: fixed-weight quality logit, embedding
# outlier detection against label centroids
# ---------------------------------------------------------------------------

# Fixed published-style weights for the quality logit (the shape of a
# fastText/logreg quality classifier, frozen so both engines score
# identically): z = b + w·features over the ROUNDED feature columns.
_LOGIT_B = -2.0
_LOGIT_W_LNTOK = 0.9
_LOGIT_W_STOP = 8.0
_LOGIT_W_DIGIT = -6.0
_LOGIT_W_DUP = -3.0


@_q(
    "curate_quality_logit",
    rf"""
WITH toks AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t FROM documents),
f AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         round(len(list_filter(t, x -> list_contains(['the','a','and','of','to'], x)))::DOUBLE
               / len(t), 4) AS stopword_ratio,
         round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
               / length(text), 4) AS digit_ratio,
         CASE WHEN len(t) >= 2
              THEN round(1.0 - len(list_distinct(list_transform(range(1, len(t)),
                     i -> t[i] || ' ' || t[i+1])))::DOUBLE / (len(t) - 1), 4)
              ELSE 0.0 END AS dup_2gram_frac
  FROM toks
),
z AS (
  SELECT doc_id, n_tokens, stopword_ratio, digit_ratio, dup_2gram_frac,
         {_LOGIT_B} + {_LOGIT_W_LNTOK} * ln(n_tokens)
                    + {_LOGIT_W_STOP} * stopword_ratio
                    + {_LOGIT_W_DIGIT} * digit_ratio
                    + {_LOGIT_W_DUP} * dup_2gram_frac AS z
  FROM f
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(1.0 / (1.0 + exp(-z)), 4) AS quality_score,
       z > 0 AS keep
FROM z
""",
)
def curate_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-weight logistic quality classifier over the native text
    features (ln tokens, stopword ratio, digit ratio, duplicate-2-gram
    fraction) — the shape of a trained fastText/logreg quality model
    applied as pure columnar math, i.e. model SCORING at scan speed
    with no Python on the path. Features are rounded to 4 decimals
    before entering the logit on both engines, so the differential is
    deterministic; keep = z > 0 (≡ score ≥ 0.5). At 100 TB this is the
    map-only "keep the top-quality slice" gate that feeds sampling."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    feats = TX.with_repetition_stats(TX.with_quality_score(TX.with_text_stats(docs)))
    z = (
        F.lit(_LOGIT_B)
        + F.lit(_LOGIT_W_LNTOK) * F.log(F.col("n_tokens").cast("double"))
        + F.lit(_LOGIT_W_STOP) * F.col("stopword_ratio")
        + F.lit(_LOGIT_W_DIGIT) * F.col("digit_ratio")
        + F.lit(_LOGIT_W_DUP) * F.col("dup_2gram_frac")
    )
    return feats.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4).alias("quality_score"),
        (z > 0).alias("keep"),
    )


_EMB_DIM = 64


def _outlier_oracle_sql() -> str:
    """Centroid/distance SQL generated over the 64 dims in a FIXED
    term order so both engines sum identically."""
    cent = ", ".join(f"avg(v[{i}]) AS c{i}" for i in range(1, _EMB_DIM + 1))
    dist2 = " + ".join(f"(v[{i}] - c{i}) * (v[{i}] - c{i})" for i in range(1, _EMB_DIM + 1))
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT label, {cent} FROM e GROUP BY label),
d AS (
  SELECT vec_id, e.label, round(sqrt({dist2}), 4) AS dist
  FROM e JOIN c ON e.label = c.label
),
s AS (SELECT label, avg(dist) AS mean_d, stddev_samp(dist) AS std_d FROM d GROUP BY label)
SELECT vec_id, d.label, dist,
       dist > mean_d + 2.0 * std_d AS is_outlier
FROM d JOIN s ON d.label = s.label
"""


@_q("curate_embedding_outliers", _outlier_oracle_sql())
def curate_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection per label: distance of each
    vector to its label centroid, flagged when > mean + 2σ within the
    label — the "probably mislabeled / garbage embedding" curation
    pass before contrastive training.

    Scale shape: centroids via ONE partial-aggregated groupBy emitting
    64 scalar avg columns (no per-dim explode — the map side reduces
    each partition to |labels|·64 doubles before the shuffle), then a
    broadcast join back (|labels| rows), a map-only fixed-order
    distance expression, a second tiny per-label moment aggregate, and
    a second broadcast join. The corpus-sized stream is never
    reshuffled; everything stays in whole-stage codegen."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", S.as_double(F.col("embedding")).alias("v"))
    cent = e.groupBy("label").agg(
        *[F.avg(F.element_at("v", i)).alias(f"c{i}") for i in range(1, _EMB_DIM + 1)]
    )
    dist2 = None
    for i in range(1, _EMB_DIM + 1):
        term = (F.element_at("v", i) - F.col(f"c{i}")) * (
            F.element_at("v", i) - F.col(f"c{i}")
        )
        dist2 = term if dist2 is None else dist2 + term
    d = (
        e.join(F.broadcast(cent), "label")
        .select("vec_id", "label", F.round(F.sqrt(dist2), 4).alias("dist"))
    )
    s = d.groupBy("label").agg(
        F.avg("dist").alias("mean_d"), F.stddev_samp("dist").alias("std_d")
    )
    return d.join(F.broadcast(s), "label").select(
        "vec_id", "label", "dist",
        (F.col("dist") > F.col("mean_d") + 2.0 * F.col("std_d")).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Arrow/BLAS similarity path
# ---------------------------------------------------------------------------

_MATMUL_ORACLE = (
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 50), "
    "c AS (SELECT vec_id AS neighbor_id, v AS cv FROM e), "
    "scored AS (SELECT query_id, neighbor_id, "
    "CAST(floor(list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) * 1000000) AS BIGINT) AS sim_micro "
    "FROM q CROSS JOIN c WHERE query_id != neighbor_id), "
    "ranked AS (SELECT query_id, neighbor_id, sim_micro, "
    "row_number() OVER (PARTITION BY query_id ORDER BY sim_micro DESC, neighbor_id) AS rank FROM scored) "
    "SELECT query_id, neighbor_id, sim_micro, rank FROM ranked WHERE rank <= 5"
)


@_q("sim_topk_matmul", _MATMUL_ORACLE)
def sim_topk_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for a 50-query set via the Arrow/BLAS path
    (operators/similarity.topk_matmul): one numpy matmul per corpus
    Arrow batch + per-batch partial top-k, so only batches·k rows per
    query reach the final window — the vectorized alternative to the
    scalar-codegen brute force, and the shape a 100 TB ANN scoring
    job actually runs (per-pair expression eval measured ~50× the
    FLOP cost of the fused kernel). Fixed-point micro-sims make the
    selection order engine-exact; the oracle replays it with DuckDB's
    list_dot_product."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.topk_matmul(emb.filter(F.col("vec_id") < 50), emb, k=5)


# ---------------------------------------------------------------------------
# Full training-run manifest: the 5-stage composed pipeline
# ---------------------------------------------------------------------------

_MANIFEST_SQL = r"""
WITH toks AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t FROM documents),
q AS (
  SELECT doc_id, len(t) AS n_tokens,
         round(len(list_filter(t, x -> list_contains(['the','a','and','of','to'], x)))::DOUBLE
               / len(t), 4) AS stopword_ratio
  FROM toks
),
keepers AS (
  SELECT min(doc_id) AS keeper_id
  FROM (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h, doc_id FROM documents)
  GROUP BY h
),
ng AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
       FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents)),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM ng WHERE doc_id < 5),
contaminated AS (
  SELECT DISTINCT doc_id FROM (SELECT doc_id, unnest(grams) AS gram FROM ng WHERE doc_id >= 5)
  WHERE gram IN (SELECT gram FROM bench)
),
kept AS (
  SELECT q.doc_id, n_tokens FROM q
  JOIN keepers ON q.doc_id = keeper_id
  WHERE q.doc_id >= 5
    AND n_tokens >= 20 AND n_tokens <= 10000 AND stopword_ratio >= 0.01
    AND q.doc_id NOT IN (SELECT doc_id FROM contaminated)
    AND CAST('0x' || substr(md5(CAST(q.doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 10 < 8
),
sharded AS (
  SELECT doc_id, n_tokens,
         CAST('0x' || substr(md5('shard-seed-42:' || CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 4 AS shard_id
  FROM kept
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS docset_md5
FROM sharded GROUP BY shard_id
"""


@_q("curate_training_manifest", _MANIFEST_SQL)
def curate_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed 5-stage pipeline a training-data run exports:
    quality gate ∘ exact-dedup keepers ∘ benchmark decontamination
    (3-gram overlap with held-out docs 0-4) ∘ deterministic 80%
    hash-sample ∘ shard assignment — reduced to a per-shard MANIFEST
    (doc count, token budget, md5 of the ordered doc-id set), i.e.
    exactly what the trainer consumes. One declarative plan: the
    dedup keeper set and the benchmark gram set are the only
    aggregates feeding joins (both broadcast-sized), every gate stays
    map-only, and the manifest aggregate is the single corpus-keyed
    shuffle. The docset hash makes the differential sensitive to ANY
    membership difference across the five stages."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    gated = TX.with_quality_score(TX.with_text_stats(docs))
    keepers = D.exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    grams = docs.select(
        "doc_id",
        F.array_distinct(TX.ngrams(TX.norm_tokens("text"), 3)).alias("grams"),
    )
    bench = (
        grams.filter(F.col("doc_id") < 5)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    contaminated = (
        grams.filter(F.col("doc_id") >= 5)
        .select("doc_id", F.explode("grams").alias("gram"))
        .join(F.broadcast(bench), "gram")
        .select("doc_id")
        .distinct()
    )
    kept = (
        gated.join(keepers, "doc_id")
        .filter(
            (F.col("doc_id") >= 5)
            & F.col("quality_ok")
            & (D.shingle_hash(F.col("doc_id").cast("string")) % 10 < 8)
        )
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "n_tokens")
    )
    shard = (
        D.shingle_hash(F.concat(F.lit("shard-seed-42:"), F.col("doc_id").cast("string"))) % 4
    ).alias("shard_id")
    return (
        kept.select("doc_id", "n_tokens", shard)
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("doc_id")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("docset_md5"),
        )
    )


# ---------------------------------------------------------------------------
# Feature-hashing text embedding (the hashing-trick featurizer)
# ---------------------------------------------------------------------------

_HASH_EMB_DIM = 16


def _hash_emb_sql() -> str:
    """DuckDB twin of the feature-hashing embedding: same md5-derived
    bucket per token, same normalized counts."""
    bucket = "CAST('0x' || substr(md5(word), 1, 7) AS BIGINT) % 16"
    dims = ", ".join(
        f"round(sum(CASE WHEN b = {j} THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS e{j}"
        for j in range(_HASH_EMB_DIM)
    )
    return f"""
WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS word FROM toks),
b AS (SELECT doc_id, {bucket} AS b FROM w)
SELECT doc_id, {dims} FROM b GROUP BY doc_id
"""


@_q("text_hash_embedding", _hash_emb_sql())
def text_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing ("hashing trick") bag-of-words embedding: each
    document becomes a 16-dim normalized bucket-count vector, the
    vocabulary-free featurizer used for cheap clustering/classifier
    passes before real embeddings exist. One explode + one partial-
    aggregated shuffle on doc_id carrying 16 conditional sums — no
    vocabulary table, no pivot, map-side reduction does the heavy
    lifting at any scale. Buckets are md5-derived so the oracle
    replays them exactly."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.explode(TX.norm_tokens("text")).alias("word")
    )
    bucket = (D.shingle_hash(F.col("word")) % _HASH_EMB_DIM).alias("b")
    b = words.select("doc_id", bucket)
    n = F.count(F.lit(1))
    return b.groupBy("doc_id").agg(
        *[
            F.round(
                F.sum(F.when(F.col("b") == j, 1).otherwise(0)).cast("double") / n, 4
            ).alias(f"e{j}")
            for j in range(_HASH_EMB_DIM)
        ]
    )


# ---------------------------------------------------------------------------
# Text clustering over the hash embeddings (domain discovery)
# ---------------------------------------------------------------------------

_TCL_K = 4
_TCL_ITERS = 2
_TCL_SAMPLE = 4096


def _hash_emb_py(text: str) -> list[float]:
    """Python twin of the 16-dim feature-hashing embedding (UNROUNDED
    c/n components — exact double divisions of small ints, so JVM and
    Python produce bit-identical vectors)."""
    import hashlib

    toks = text.strip().lower().split()
    v = [0] * _HASH_EMB_DIM
    for t in toks:
        v[int(hashlib.md5(t.encode()).hexdigest()[:7], 16) % _HASH_EMB_DIM] += 1
    n = len(toks)
    return [c / n for c in v]


def _text_cluster_centroids(sf_dir: str) -> list[list[float]]:
    """Train the k=4 cosine k-means on the md5-ordered doc sample —
    pure-Python/pyarrow path shared (verbatim) by the Spark entry and
    the oracle builder, so both see bit-identical centroids."""
    import hashlib

    import pyarrow.parquet as pq

    from graphql_api_etl_spark.operators.ivf import _lloyd
    import numpy as np

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    ids = tbl.column("doc_id").to_pylist()
    texts = tbl.column("text").to_pylist()
    order = sorted(
        range(len(ids)), key=lambda i: hashlib.md5(str(ids[i]).encode()).hexdigest()
    )[:_TCL_SAMPLE]
    V = np.asarray([_hash_emb_py(texts[i]) for i in order], dtype="float64")
    return _lloyd(V, _TCL_K, _TCL_ITERS)


def _tcl_e_cols_sql() -> str:
    bucket = f"CAST('0x' || substr(md5(word), 1, 7) AS BIGINT) % {_HASH_EMB_DIM}"
    dims = ", ".join(
        f"sum(CASE WHEN b = {j} THEN 1 ELSE 0 END)::DOUBLE / count(*) AS e{j}"
        for j in range(_HASH_EMB_DIM)
    )
    return (
        r"toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents), "
        "w AS (SELECT doc_id, unnest(t) AS word FROM toks), "
        f"b AS (SELECT doc_id, {bucket} AS b FROM w), "
        f"e AS (SELECT doc_id, {dims} FROM b GROUP BY doc_id)"
    )


def _text_cluster_oracle() -> str:
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    C = _text_cluster_centroids(sf_dir)
    cn2 = [sum(x * x for x in c) for c in C]
    norm = "sqrt(" + " + ".join(f"e{i} * e{i}" for i in range(_HASH_EMB_DIM)) + ")"
    d_cols = ", ".join(
        f"{cn2[j]!r} - 2.0 * ("
        + " + ".join(f"(e{i} / nrm) * {C[j][i]!r}" for i in range(_HASH_EMB_DIM))
        + f") AS d{j}"
        for j in range(_TCL_K)
    )
    # argmin with <=: ties resolve to the LOWER centroid id, matching
    # the Spark side's array_min over (d, cid) structs
    cluster = (
        "CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0 "
        "WHEN d1 <= d2 AND d1 <= d3 THEN 1 "
        "WHEN d2 <= d3 THEN 2 ELSE 3 END"
    )
    return (
        f"WITH {_tcl_e_cols_sql()}, "
        f"n AS (SELECT doc_id, e.*, {norm} AS nrm FROM e), "
        f"d AS (SELECT doc_id, {d_cols} FROM n) "
        f"SELECT doc_id, CAST({cluster} AS BIGINT) AS cluster_id, "
        "round(least(d0, d1, d2, d3), 6) AS dist FROM d"
    )


@_q("curate_text_clusters", _text_cluster_oracle)
def curate_text_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain discovery: cosine k-means (k=4) over the feature-hashing
    embeddings — the unsupervised "what sub-corpora do I have" pass
    that feeds data-mixing decisions. Training follows the IVF recipe
    (deterministic md5-ordered sample, shared-Python Lloyd's, only
    k×16 doubles of driver state); assignment is a NATIVE expression —
    16-dim normalized dot against 4 literal centroids, argmin via
    array_min over (distance, cid) structs — map-only after the one
    embedding aggregate. The oracle replays the identical literal
    centroids, summation order, and tie rule."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.explode(TX.norm_tokens("text")).alias("word")
    )
    b = words.select(
        "doc_id", (D.shingle_hash(F.col("word")) % _HASH_EMB_DIM).alias("b")
    )
    n = F.count(F.lit(1))
    e = b.groupBy("doc_id").agg(
        *[
            (F.sum(F.when(F.col("b") == j, 1).otherwise(0)).cast("double") / n).alias(f"e{j}")
            for j in range(_HASH_EMB_DIM)
        ]
    )
    C = _text_cluster_centroids(sf_dir)
    cn2 = [sum(x * x for x in c) for c in C]
    norm = None
    for i in range(_HASH_EMB_DIM):
        term = F.col(f"e{i}") * F.col(f"e{i}")
        norm = term if norm is None else norm + term
    withn = e.withColumn("nrm", F.sqrt(norm))
    d_exprs = []
    for j in range(_TCL_K):
        dot = None
        for i in range(_HASH_EMB_DIM):
            term = (F.col(f"e{i}") / F.col("nrm")) * F.lit(C[j][i])
            dot = term if dot is None else dot + term
        d_exprs.append((F.lit(cn2[j]) - 2.0 * dot).alias("d"))
    cand = F.array(
        *[F.struct(d_exprs[j].alias("d"), F.lit(j).alias("cid")) for j in range(_TCL_K)]
    )
    best = F.array_min(cand)
    return withn.select(
        "doc_id",
        best["cid"].cast("bigint").alias("cluster_id"),
        F.round(best["d"], 6).alias("dist"),
    )


@_q(
    "curate_mixture_temperature",
    """
WITH counts AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
tot AS (SELECT sum(n_docs) AS total FROM counts),
p AS (SELECT lang, n_docs, n_docs / total AS p_raw, pow(n_docs / total, 0.3) AS p_temp
      FROM counts, tot),
z AS (SELECT sum(p_temp) AS zsum FROM p)
SELECT lang, n_docs,
       round(p_raw, 6) AS p_raw,
       round(p_temp / zsum, 6) AS p_sample,
       round((p_temp / zsum) / p_raw, 4) AS upweight
FROM p, z
""",
)
def curate_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture (the mT5/XLM-R α-sampling
    rule, α=0.3): raw language shares are flattened with p^α and
    renormalized, up-weighting low-resource slices — THE standard
    recipe for setting multilingual/domain sampling rates. Two tiny
    aggregates over the per-lang counts (the corpus-sized scan feeds
    one partial-aggregated groupBy); the per-lang math is driver-free
    broadcast arithmetic. Output: raw share, sampled share, and the
    resulting up-weight factor per language."""
    docs = _t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("total"))
    p = counts.crossJoin(F.broadcast(tot)).select(
        "lang", "n_docs",
        (F.col("n_docs") / F.col("total")).alias("p_raw"),
        F.pow(F.col("n_docs") / F.col("total"), 0.3).alias("p_temp"),
    )
    z = p.agg(F.sum("p_temp").alias("zsum"))
    return p.crossJoin(F.broadcast(z)).select(
        "lang", "n_docs",
        F.round("p_raw", 6).alias("p_raw"),
        F.round(F.col("p_temp") / F.col("zsum"), 6).alias("p_sample"),
        F.round((F.col("p_temp") / F.col("zsum")) / F.col("p_raw"), 4).alias("upweight"),
    )


@_q(
    "dedup_url_canonicalize",
    r"""
WITH salted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN 'HTTPS://WWW.Example' || (doc_id % 7) || '.com/Path/Item'
                   || (doc_id % 50) || '/?utm_source=feed&utm_campaign=x'
                   || (doc_id % 4) || '&id=' || (doc_id % 50) || '#frag'
              ELSE 'http://example' || (doc_id % 7) || '.com/Path/Item'
                   || (doc_id % 50) || '?id=' || (doc_id % 50) END AS url
  FROM documents
),
parsed AS (
  SELECT doc_id,
         string_split(
           regexp_replace(regexp_replace(regexp_replace(lower(url),
             '^https?://', ''), '^www\.', ''), '#.*$', ''),
           '?') AS parts
  FROM salted
),
canon AS (
  SELECT doc_id,
         rtrim(parts[1], '/') AS base,
         array_to_string(
           list_filter(string_split(coalesce(parts[2], ''), '&'),
                       p -> p <> '' AND NOT starts_with(p, 'utm_')),
           '&') AS q
  FROM parsed
),
final AS (
  SELECT doc_id,
         base || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical
  FROM canon
)
SELECT doc_id, canonical,
       CAST(count(*) OVER (PARTITION BY canonical) AS BIGINT) AS n_same_url,
       CAST(row_number() OVER (PARTITION BY canonical ORDER BY doc_id) AS BIGINT) AS occurrence
FROM final
""",
)
def dedup_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization → duplicate grouping: THE web-crawl dedup
    primitive (scheme/www/tracking-param/fragment stripping, case
    folding, trailing-slash normalization) applied before any content
    hashing. The corpus has no URLs, so both engines synthesize
    identical messy ones per doc (the text_pii_scrub salting pattern)
    and docs with the same item+id collapse to one canonical URL.

    Canonicalization is STRUCTURAL (split at '?', filter params,
    rejoin), not an iterative regex-cleanup chain: Spark's
    regexp_replace is always-global while DuckDB's default is
    first-match-only, so multi-occurrence regex rewrites silently
    diverge (caught by the differential: '?utm_a=..&utm_b=..' left
    '?&&' on one engine and '?&' on the other). Anchored single-match
    patterns (scheme, www, fragment) are the only regexes kept.
    Map-only + one window on the canonical key."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit("HTTPS://WWW.Example"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".com/Path/Item"), (F.col("doc_id") % 50).cast("string"),
            F.lit("/?utm_source=feed&utm_campaign=x"), (F.col("doc_id") % 4).cast("string"),
            F.lit("&id="), (F.col("doc_id") % 50).cast("string"), F.lit("#frag"),
        ),
    ).otherwise(
        F.concat(
            F.lit("http://example"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".com/Path/Item"), (F.col("doc_id") % 50).cast("string"),
            F.lit("?id="), (F.col("doc_id") % 50).cast("string"),
        )
    )
    stripped = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), r"^https?://", ""), r"^www\.", ""
        ),
        r"#.*$", "",
    )
    parted = docs.select(
        "doc_id", F.split(stripped, r"\?", 2).alias("parts")
    ).select(
        "doc_id",
        F.expr("TRIM(TRAILING '/' FROM parts[0])").alias("base"),
        F.array_join(
            F.filter(
                F.split(F.coalesce(F.element_at("parts", 2), F.lit("")), "&"),
                lambda p: (p != "") & ~p.startswith("utm_"),
            ),
            "&",
        ).alias("q"),
    )
    canonical = F.concat(
        F.col("base"),
        F.when(F.col("q") != "", F.concat(F.lit("?"), F.col("q"))).otherwise(F.lit("")),
    )
    out = parted.select("doc_id", canonical.alias("canonical"))
    wcan = W.partitionBy("canonical")
    return out.select(
        "doc_id", "canonical",
        F.count(F.lit(1)).over(wcan).cast("bigint").alias("n_same_url"),
        F.row_number().over(wcan.orderBy("doc_id")).cast("bigint").alias("occurrence"),
    )


@_q(
    "curate_code_filter",
    r"""
WITH salted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN text || ' function f' || (doc_id % 9)
                   || '(x) { if (x > 0) { return x + 1; } else { return 0; } }'
              ELSE text END AS t
  FROM salted_src
), metrics AS (
  SELECT doc_id,
         length(t) AS n_chars,
         length(t) - length(regexp_replace(t, '[{};()=<>+]', '', 'g')) AS n_code_chars,
         CAST(len(regexp_extract_all(t, '\b(function|return|if|else|for|while|var|const)\b')) AS BIGINT) AS n_keywords
  FROM metrics_src
)
SELECT doc_id, n_code_chars, n_keywords,
       round(n_code_chars::DOUBLE / n_chars, 4) AS code_char_ratio,
       (n_code_chars::DOUBLE / n_chars > 0.02 AND n_keywords >= 3) AS looks_like_code
FROM metrics
""".replace("salted_src", "documents").replace("metrics_src", "salted"),
)
def curate_code_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-detection heuristic — the "separate code from prose" gate
    every web-corpus pipeline runs (to route code to its own mix or
    drop it). The corpus is punctuation-free prose, so docs ≡ 0 mod 4
    get a deterministic JS-ish snippet appended on BOTH engines; the
    signals are symbol-character density and reserved-word hits, and
    the gate fires only when both agree (ratio > 2% AND ≥3 keywords).
    Map-only scan-speed expressions; the count-based regexes are
    global-safe (regexp_extract_all/char-class strip, not iterative
    replacement — see dedup_url_canonicalize for why that matters)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    snippet = F.concat(
        F.lit(" function f"), (F.col("doc_id") % 9).cast("string"),
        F.lit("(x) { if (x > 0) { return x + 1; } else { return 0; } }"),
    )
    t = F.when(F.col("doc_id") % 4 == 0, F.concat(F.col("text"), snippet)).otherwise(
        F.col("text")
    )
    salted = docs.select("doc_id", t.alias("t"))
    n_chars = F.length("t")
    n_code = n_chars - F.length(F.regexp_replace("t", r"[{};()=<>+]", ""))
    n_kw = F.size(
        F.regexp_extract_all(
            "t", F.lit(r"\b(function|return|if|else|for|while|var|const)\b"), 0
        )
    ).cast("bigint")
    m = salted.select(
        "doc_id", n_chars.alias("n_chars"), n_code.alias("n_code_chars"), n_kw.alias("n_keywords")
    )
    ratio = F.col("n_code_chars").cast("double") / F.col("n_chars")
    return m.select(
        "doc_id", "n_code_chars", "n_keywords",
        F.round(ratio, 4).alias("code_char_ratio"),
        ((ratio > 0.02) & (F.col("n_keywords") >= 3)).alias("looks_like_code"),
    )


@_q(
    "text_tfidf_topterms",
    r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
),
terms AS (SELECT doc_id, unnest(t) AS term FROM toks),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM terms GROUP BY doc_id, term
),
dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
ranked AS (
  SELECT doc_id, term, tf, df, n_docs,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tf DESC, df ASC, term ASC) AS rk
  FROM tf JOIN dfx USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df,
       round(tf * ln(n_docs::DOUBLE / df), 4) AS tfidf,
       CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3
""",
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-terms per document — the classic keyword-extraction /
    relevance-weighting pass a corpus pipeline runs before topic
    routing or sparse retrieval. Three key-balanced shuffles: doc-term
    counts (tf), term document-frequency (df, combiner-reduced to one
    row per term before its join back onto tf), and the per-doc top-3
    window. The corpus size N rides a broadcast single-row frame.

    RANKING is integer-only (tf DESC, df ASC, term ASC) — the float
    tfidf score is an OUTPUT, never an ordering key, so cross-engine
    float summation/ln ulp differences cannot flip ranks (the
    rounding-after-ranking trap the fixed-point similarity entries
    document). At 100 TB the df side is the concern: stopword terms
    have huge df ROWS only pre-aggregation, and the partial aggregate
    collapses them map-side; the tf⋈df equi-join on term is
    hash-balanced because tf rows are (doc,term)-distinct."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    terms = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = docs.agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    scored = tf.join(dfx, "term").crossJoin(F.broadcast(n))
    w = W.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "doc_id", "term", "tf", "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


@_q(
    "curate_train_split",
    """
WITH s AS (
  SELECT lang, n_chars,
         CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT lang, n_chars,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 AS b
        FROM documents)
)
SELECT split, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_total
FROM s GROUP BY split, lang
""",
)
def curate_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5) via the same
    md5-prefix uniform hash as p_hash_sample: the split is a pure
    function of doc_id, so it is disjoint and exhaustive BY
    CONSTRUCTION — stable across engines, runs, partitionings, and
    corpus growth (a doc never migrates between splits when new data
    arrives, unlike rand()-seeded splits). Map-only assignment + one
    partial-aggregable rollup; the differential pins per-split/lang
    doc and char totals."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    b = D.shingle_hash(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(b < 90, F.lit("train")).when(b < 95, F.lit("val")).otherwise(F.lit("test"))
    )
    return docs.groupBy(split.alias("split"), "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_total"),
    )


@_q(
    "text_chunk_windows",
    r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
st AS (
  SELECT doc_id, t, len(t) AS n,
         unnest(range(1, len(t) + 1, 64)) AS start
  FROM toks
)
SELECT doc_id,
       CAST((start - 1) // 64 AS BIGINT) AS chunk_idx,
       CAST(start AS BIGINT) AS start_tok,
       CAST(least(128, n - start + 1) AS BIGINT) AS chunk_len,
       md5(array_to_string(list_slice(t, start, start + 127), ' ')) AS chunk_md5
FROM st
""",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (chunk 128 tokens, stride 64):
    the training-example construction pass that turns a corpus into
    fixed-context overlapping windows. One generated start-offset array
    per doc (`sequence`), `posexplode` fan-out, then `slice` — all
    native array expressions, map-only, no shuffle at all: chunk rows
    are emitted in the scan stage and each is independent, so the op
    parallelizes with the input at any scale. The differential pins
    chunk boundaries exactly via md5 of each reassembled window
    (stride/clamping off-by-ones cannot hide); token arrays are
    captured ONCE per row as a column — never inside a lambda (the
    O(L²) re-evaluation trap ngrams documents). Empty tokens are
    filtered BEFORE windowing, so a whitespace-only document yields
    zero chunks instead of one empty chunk (hypothesis-found edge:
    split('') is [''] on both engines)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != F.lit(""))
    base = docs.select("doc_id", toks.alias("t"), F.size(toks).alias("n"))
    st = base.select(
        "doc_id", "t", "n",
        F.posexplode(
            F.when(F.col("n") > 0, F.sequence(F.lit(1), F.col("n"), F.lit(64)))
            .otherwise(F.array().cast("array<int>"))
        ).alias("pos", "start"),
    )
    return st.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("chunk_idx"),
        F.col("start").cast("bigint").alias("start_tok"),
        F.least(F.lit(128), F.col("n") - F.col("start") + 1).cast("bigint").alias("chunk_len"),
        F.md5(F.array_join(F.slice("t", F.col("start"), 128), " ")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# PCA projection (dimensionality reduction for embedding pipelines)
# ---------------------------------------------------------------------------

_PCA_K = 4
_PCA_SAMPLE = 4096


def _pca_model(sf_dir: str) -> tuple[list[list[float]], list[float]]:
    """Fit PCA on the md5-ordered bounded sample (IVF/k-means recipe:
    deterministic sample order, ≤ 4096×64 doubles of driver state) —
    pure-Python/pyarrow path shared verbatim by the Spark entry and
    the oracle builder, so both embed bit-identical literals.

    Returns (W, offsets): W is the K×64 component matrix (rows are
    unit eigenvectors of the sample covariance, eigenvalue-descending,
    sign-pinned so each row's largest-|w| entry is positive — eigh's
    sign is otherwise arbitrary), offsets[j] = mean · W[j] folds the
    centering into a single subtraction per component. Both are
    rounded before use so the two engines share exact constants."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = tbl.column("vec_id").to_pylist()
    V = np.asarray(tbl.column("embedding").to_pylist(), dtype="float64")
    order = sorted(
        range(len(ids)), key=lambda i: hashlib.md5(str(ids[i]).encode()).hexdigest()
    )[:_PCA_SAMPLE]
    X = V[order]
    mean = X.mean(axis=0)
    Xc = X - mean
    C = (Xc.T @ Xc) / max(len(X) - 1, 1)
    evals, evecs = np.linalg.eigh(C)
    idx = np.argsort(evals)[::-1][:_PCA_K]
    Wm = evecs[:, idx].T.copy()
    for j in range(_PCA_K):
        if Wm[j][int(np.argmax(np.abs(Wm[j])))] < 0:
            Wm[j] = -Wm[j]
    Wm = np.round(Wm, 8)
    mean = np.round(mean, 8)
    W = [[float(x) for x in row] for row in Wm]
    offsets = []
    for j in range(_PCA_K):
        acc = 0.0
        for i in range(64):
            acc += float(mean[i]) * W[j][i]
        offsets.append(round(acc, 10))
    return W, offsets


def _pca_oracle() -> str:
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    W, offsets = _pca_model(sf_dir)
    pcs = ", ".join(
        "round("
        + " + ".join(f"v[{i + 1}] * {W[j][i]!r}" for i in range(64))
        + f" - {offsets[j]!r}, 6) AS pc{j + 1}"
        for j in range(_PCA_K)
    )
    return (
        "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings) "
        f"SELECT vec_id, label, {pcs} FROM e"
    )


@_q("emb_pca_project", _pca_oracle)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding corpus onto its top-4 principal
    components — the dimensionality-reduction pass before clustering /
    visualization / cheap ANN. Fit follows the engine's deterministic
    training recipe (md5-ordered ≤4096-vector sample → 64×64 sample
    covariance → eigh, bounded driver state; the covariance itself is
    one numpy pass over the sample, and at 100 TB the full-data
    variant is a single map-reduce of per-partition X'X partials —
    64×64 doubles per partition). The PROJECTION — the data-sized
    work — is an Arrow-batched numpy kernel (r7; the fused 4×64-term
    native expression compiled to one ~20 KB consume method HotSpot
    never JITs — same threshold call as the 48-plane LSH bucket):
    4 dot products against literal component rows with the centering
    folded into one pre-computed offset per component, map-only, zero
    shuffle, scales with the scan; the HALF_UP round(6) stays native.
    The kernel accumulates SEQUENTIALLY over dimensions, the same
    left-to-right sum over float→double casts both engines compute,
    so values are bit-identical before the round(6). Sign is pinned (largest-|w| entry positive) because
    eigenvector sign is arbitrary."""
    import numpy as np
    import pandas as pd

    W, offsets = _pca_model(sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    # Arrow kernel for the 4×64-term projection (r7): fused native
    # codegen emitted ONE ~20 KB consume method (4 pcs × 64 cast+mul
    # terms) — over HotSpot's 8 KB JIT ceiling, so the span ran on the
    # hugeMethodLimit fallback. Same decision as the 48-plane LSH
    # bucket (similarity.py): past the point where whole-stage codegen
    # stays JIT-able, a numpy kernel with SEQUENTIAL per-dimension
    # accumulation is both faster and bit-identical — acc_j is updated
    # in dimension order with one add each, the same left-associative
    # IEEE-754 sequence the SQL chain and DuckDB's sum compute. The
    # HALF_UP round stays a native expression on top.
    Wm = np.asarray(W, dtype=np.float64)  # K × 64

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            acc = V[:, 0:1] * Wm[:, 0]  # batch × K
            for i in range(1, 64):
                acc = acc + V[:, i : i + 1] * Wm[:, i]
            out = {"vec_id": pdf["vec_id"], "label": pdf["label"]}
            for j in range(_PCA_K):
                out[f"raw{j + 1}"] = acc[:, j] - offsets[j]
            yield pd.DataFrame(out)

    raw = emb.select("vec_id", "label", "embedding").mapInPandas(
        project,
        "vec_id bigint, label int, "
        + ", ".join(f"raw{j + 1} double" for j in range(_PCA_K)),
    )
    return raw.select(
        "vec_id", "label",
        *[F.round(F.col(f"raw{j + 1}"), 6).alias(f"pc{j + 1}") for j in range(_PCA_K)],
    )


_KNN_K = 10


@_q(
    "sim_knn_classify",
    f"""
WITH q AS (SELECT vec_id AS query_id, label AS true_label,
                  CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, label, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, true_label, neighbor_id, label,
         list_dot_product(qv, cv) /
           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
  FROM q CROSS JOIN c WHERE query_id != neighbor_id
),
ranked AS (
  SELECT query_id, true_label, label,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
),
votes AS (
  SELECT query_id, true_label, label, CAST(count(*) AS BIGINT) AS votes
  FROM ranked WHERE rank <= {_KNN_K}
  GROUP BY query_id, true_label, label
),
best AS (
  SELECT query_id, true_label, label AS predicted_label, votes,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY votes DESC, label ASC) AS vr
  FROM votes
)
SELECT query_id, predicted_label, votes, true_label,
       predicted_label = true_label AS correct
FROM best WHERE vr = 1
""",
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor classification (k=10, majority vote) over
    the embedding corpus — the label-propagation / auto-labeling
    primitive of a training-data platform. Reuses the exact top-k
    plan (broadcast queries × streamed corpus, per-query window
    rank), joins neighbor labels from the corpus side, and votes with
    an INTEGER-ONLY tie-break (votes DESC, label ASC) so the
    prediction is engine-deterministic even when two labels tie at
    5–5. Scale: identical to sim_topk_bruteforce (|Q| rows broadcast,
    corpus streamed once, no shuffle beyond the vote aggregate whose
    cardinality is |Q|·|labels|); the ANN variants (LSH-bucketed,
    IVF, matmul) drop in as the scoring stage unchanged."""
    emb = _t(spark, sf_dir, "embeddings")
    topk = S.topk_bruteforce(
        emb.filter(F.col("vec_id") < 10), emb, k=_KNN_K, dim=64
    )
    labels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("label")
    )
    truth = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    votes = (
        topk.join(F.broadcast(labels), "neighbor_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("votes"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("label"))
    best = votes.withColumn("vr", F.row_number().over(w)).filter(F.col("vr") == 1)
    return best.join(F.broadcast(truth), "query_id").select(
        "query_id",
        F.col("label").alias("predicted_label"),
        "votes",
        "true_label",
        (F.col("label") == F.col("true_label")).alias("correct"),
    )


@_q(
    "text_zipf_fit",
    r"""
WITH toks AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS n
           FROM (SELECT unnest(t) AS tok FROM toks) GROUP BY tok),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS rank FROM counts
),
top AS (SELECT ln(rank::DOUBLE) AS x, ln(n::DOUBLE) AS y
        FROM ranked WHERE rank <= 1000),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_words,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM top
)
SELECT n_words,
       round((sxy - sx * sy / n_words) / (sxx - sx * sx / n_words), 4) AS zipf_slope,
       round((sy - ((sxy - sx * sy / n_words) / (sxx - sx * sx / n_words)) * sx)
             / n_words, 4) AS intercept
FROM s
""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares slope
    of ln(frequency) against ln(rank) for the top-1000 words — the
    corpus-linguistics health check (natural text slopes ≈ -1;
    boilerplate or synthetic corpora deviate). The vocabulary
    aggregate is the one data-sized shuffle (partial-aggregated, as
    text_wordcount); ranking and the 5-sum regression run over at
    most 1000 rows. The rank cut is INTEGER-deterministic
    ((n DESC, tok) row_number), so both engines regress over the
    identical point set; ln/round(4) absorbs libm ulp noise. The
    closed-form normal-equation slope avoids any iterative fit."""
    from graphql_api_etl_spark.operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    # top-1000 via TakeOrderedAndProject, rank assigned over the 1000
    # survivors (global-window-ok: <=1000 rows post-limit) — a rank-
    # then-filter window would sort the whole vocabulary through one
    # partition (r11 global-window sweep)
    kept = counts.orderBy(F.desc("n"), F.asc("tok")).limit(1000)
    ranked = kept.select(
        # global-window-ok: rank over the limit(1000) frame — ≤1000 rows
        "n", F.row_number().over(W.orderBy(F.desc("n"), F.asc("tok"))).alias("rank")
    )
    top = ranked.select(
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    s = top.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n_words")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n_words")
    )
    return s.select(
        "n_words",
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n_words"), 4).alias(
            "intercept"
        ),
    )


@_q(
    "curate_weighted_sample",
    """
WITH t AS (
  SELECT doc_id, n_chars,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS h
  FROM documents WHERE n_chars > 0
),
k AS (
  SELECT doc_id, n_chars,
         ln((h + 1) / 268435456.0) / n_chars AS es_key
  FROM t
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, round(es_key, 8) AS es_key
FROM k ORDER BY es_key DESC, doc_id LIMIT 100
""",
)
def curate_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-Res): key = u^(1/w) with u the doc's
    md5-uniform in (0,1] and w = n_chars, take the k largest keys —
    here ranked equivalently by ln(u)/w (monotone in u^(1/w), avoids
    pow). Longer documents are proportionally likelier, yet the draw
    is reproducible on any engine / partitioning because the
    randomness is the same 28-bit md5 hash the sampling family uses
    (p_hash_sample, curate_domain_mixture). Top-k via
    TakeOrderedAndProject — per-partition heaps, no global sort — the
    one-pass distributed weighted-reservoir pattern. Selection
    boundary holds cross-engine because both compute the identical
    expression over identical doubles (integer hash → one division,
    one ln)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = D.shingle_hash(F.col("doc_id").cast("string"))
    es_key = F.log((h + 1) / F.lit(268435456.0)) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            F.round(es_key, 8).alias("es_key"),
        )
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(100)
    )


@_q(
    "mm_audio_rms",
    """
WITH d AS (
  SELECT doc_id, 600 + (doc_id % 5) * 100 AS n FROM documents
),
i AS (
  SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM d
),
s AS (
  SELECT doc_id, i // 200 AS window_idx,
         ((((doc_id * 31 + i * 17) * 2654435761) % 4294967296) // 65536) - 32768 AS v
  FROM i
)
SELECT doc_id AS media_id,
       CAST(window_idx AS BIGINT) AS window_idx,
       CAST(count(*) AS BIGINT) AS n_in_window,
       CAST(floor(sqrt(sum(v * v) / count(*)) * 10000) AS BIGINT) AS rms_micro
FROM s GROUP BY doc_id, window_idx
""",
)
def mm_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio DSP on REAL PCM bytes: per-doc WAV payloads (PCM16 mono,
    600–1000 samples, closed-form waveform) synthesized on executors,
    then windowed RMS energy (200-sample windows) extracted by the
    Arrow-batched decode stage (operators/multimodal.audio_rms_windows:
    RIFF walk → int16 LE → exact-int Σv² → sqrt).

    Differential design: unlike the LCG payloads elsewhere in the
    family, each sample is a CLOSED FORM of (doc_id, i), so DuckDB
    replays the entire waveform with generate_series and must agree on
    every window's RMS — the real sample values flow through
    synthesize→encode→decode→DSP, so any byte-order, chunk-walk,
    windowing, or accumulation bug breaks the hash. Σv² is exact
    int64 on both sides (order-independent); the single sqrt/division
    is the only float op."""
    import pandas as pd

    # r14-opt: the testdata table is ONE row group -> ONE scan task;
    # the pure-Python synth+codec map stage must use every core
    # (guide 2.5 "input skew ... repartition immediately after the
    # read"). The shuffle moves 8 bytes/row.
    docs = D.repartition_for_cpu(
        _t(spark, sf_dir, "documents").select("doc_id")
    )

    def make(batches):
        for pdf in batches:
            ids = pdf["doc_id"]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "payload": ids.map(
                        lambda i: MM.synthesize_wav_samples(
                            MM.closed_form_samples(int(i), 600 + int(i) % 5 * 100)
                        )
                    ),
                }
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    return MM.audio_rms_windows(media, window=200)


@_q(
    "mm_image_histogram",
    """
WITH d AS (
  SELECT doc_id, 24 * (4 + doc_id % 3) AS n_bytes FROM documents
),
i AS (
  SELECT doc_id, unnest(generate_series(0, n_bytes - 1)) AS i FROM d
),
v AS (
  SELECT doc_id,
         ((((doc_id * 13 + i * 29) * 2654435761) % 4294967296) // 16777216) AS b
  FROM i
)
SELECT doc_id AS media_id,
       CAST(b // 64 AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n
FROM v GROUP BY doc_id, bin
""",
)
def mm_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image pixel-value histogram on REAL decoded pixels: 8×(4..6)
    images with CLOSED-FORM pixel bytes synthesized on executors in
    ALTERNATING containers (even ids: 24-bpp BMP; odd ids: 8-bit
    truecolor PNG — stdlib zlib inflate + cycling scanline unfilters),
    full stdlib decode (BMP: header + bottom-up rows, width 8 ⇒ zero
    row padding; PNG: chunk walk + inflate + unfilter), then 4-bin
    channel-value counts in the Arrow stage.

    Completes the multimodal differential story: mm_audio_rms checks
    SAMPLE values, this checks PIXEL values (thumbnails/features check
    dims and byte plumbing) — DuckDB replays every pixel byte via
    generate_series, so a decode bug in row order, channel unpacking,
    or padding handling breaks the count match. Pure integer work on
    both sides; histogram order-independence makes traversal order
    irrelevant."""
    import pandas as pd

    # r14-opt: the testdata table is ONE row group -> ONE scan task;
    # the pure-Python synth+codec map stage must use every core
    # (guide 2.5 "input skew ... repartition immediately after the
    # read"). The shuffle moves 8 bytes/row.
    docs = D.repartition_for_cpu(
        _t(spark, sf_dir, "documents").select("doc_id")
    )

    def make(batches):
        for pdf in batches:
            ids = pdf["doc_id"]

            def build(i: int) -> bytes:
                h = 4 + i % 3
                px = MM.closed_form_pixel_bytes(i, 24 * h)
                # Alternate containers: even ids BMP, odd ids PNG (r7,
                # VERDICT r6 ask #4) — the PNG rows run real zlib
                # inflate + cycling scanline unfilters, and because the
                # histogram counts the DECODED byte multiset the same
                # closed-form oracle covers both containers.
                if i % 2 == 0:
                    return MM.synthesize_bmp_bytes(8, h, px)
                return MM.synthesize_png(8, h, px)

            yield pd.DataFrame(
                {"media_id": ids, "payload": ids.map(lambda i: build(int(i)))}
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    return MM.image_histogram(media, bins=4)


# ---------------------------------------------------------------------------
# Sparse retrieval: BM25 scoring (Robertson/Spärck Jones; the lexical
# retrieval baseline every RAG / data-curation stack runs next to the
# embedding top-k entries above).
# ---------------------------------------------------------------------------

_BM25_TERMS = ("hash", "join", "merge")  # fixed literal query


@_q(
    "text_bm25_topk",
    r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
),
d AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS dl FROM toks),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot_tokens FROM d
),
terms AS (SELECT doc_id, dl, unnest(t) AS term FROM d),
tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM terms WHERE term IN ('hash', 'join', 'merge')
  GROUP BY doc_id, dl, term
),
dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
sc AS (
  SELECT doc_id, dl, tf,
         CAST(tf AS DOUBLE) AS tfd, CAST(dl AS DOUBLE) AS dld,
         CAST(df AS DOUBLE) AS dfd, CAST(n_docs AS DOUBLE) AS nd,
         CAST(tot_tokens AS DOUBLE) AS ttd
  FROM tf JOIN dfx USING (term) CROSS JOIN stats
),
fp AS (
  SELECT doc_id, dl, tf,
         CAST(floor(ln((nd - dfd + 0.5) / (dfd + 0.5) + 1.0)
                    * (tfd * 2.2)
                    / (tfd + 1.2 * (0.25 + 0.75 * dld / (ttd / nd)))
                    * 1000000) AS BIGINT) AS term_fp
  FROM sc
),
agg AS (
  SELECT doc_id, dl, CAST(sum(tf) AS BIGINT) AS tf_total,
         CAST(sum(term_fp) AS BIGINT) AS bm25_micro
  FROM fp GROUP BY doc_id, dl
),
top AS (
  SELECT doc_id, dl, tf_total, bm25_micro,
         row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS rk
  FROM agg
)
SELECT doc_id, dl, tf_total, bm25_micro, CAST(rk AS BIGINT) AS rk
FROM top WHERE rk <= 20
""",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a fixed 3-term query (k1=1.2, b=0.75, the
    idf = ln((N-df+0.5)/(df+0.5)+1) "plus-one" variant so scores stay
    positive) — the lexical-retrieval twin of sim_topk_*: a curation
    stack that mines targeted subsets ("find docs about X") runs
    exactly this over the corpus.

    Determinism: each per-term score is evaluated by the SAME textual
    expression tree over pre-cast doubles on both engines, then
    fixed-pointed to micro units (floor ×1e6, the house convention)
    BEFORE the per-doc sum — so the doc score is an exact BIGINT sum,
    immune to float summation order, and the ranking key
    (bm25_micro DESC, doc_id) is integer-only. ln() is the one libm
    call; its ulp is scaled by ≤1e7 so a floor flip needs the true
    value within ~1e-8 of an integer — checked at three scales.

    Scale: the term filter lands BEFORE the tf aggregation, so the
    shuffled stream is only query-term occurrences (|Q|-bounded per
    doc), not the corpus token stream; df (|Q| rows) and the corpus
    stats row are broadcast; top-20 is TakeOrderedAndProject, no
    global sort. At 100 TB the plan is: one scan, one |Q|-sparse
    shuffle, one per-doc agg (partial-aggregated map-side), top-k.
    """
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("t")
    ).select("doc_id", "t", F.size("t").cast("bigint").alias("dl"))
    stats = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("tot_tokens"),
    )
    terms = toks.select("doc_id", "dl", F.explode("t").alias("term")).filter(
        F.col("term").isin(*_BM25_TERMS)
    )
    tf = terms.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    dfx = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    sc = tf.join(F.broadcast(dfx), "term").crossJoin(F.broadcast(stats))
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    dfd = F.col("df").cast("double")
    nd = F.col("n_docs").cast("double")
    ttd = F.col("tot_tokens").cast("double")
    term_fp = F.floor(
        F.log((nd - dfd + 0.5) / (dfd + 0.5) + 1.0)
        * (tfd * 2.2)
        / (tfd + 1.2 * (0.25 + 0.75 * dld / (ttd / nd)))
        * 1000000
    ).cast("bigint")
    agg = (
        sc.select("doc_id", "dl", "tf", term_fp.alias("term_fp"))
        .groupBy("doc_id", "dl")
        .agg(
            F.sum("tf").cast("bigint").alias("tf_total"),
            F.sum("term_fp").cast("bigint").alias("bm25_micro"),
        )
    )
    top = agg.orderBy(F.desc("bm25_micro"), F.asc("doc_id")).limit(20)
    # rk is assigned AFTER the TakeOrdered limit: the window's single
    # partition holds exactly 20 rows, never the corpus.
    # global-window-ok: rank over the limit(20) frame — ≤20 rows
    w = W.orderBy(F.desc("bm25_micro"), F.asc("doc_id"))
    return top.withColumn("rk", F.row_number().over(w).cast("bigint"))


@_q(
    "text_lm_score",
    r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= 2
                     THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                     ELSE [] END) AS bigram
  FROM toks
),
m AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS m FROM bg GROUP BY doc_id, bigram),
c2 AS (SELECT bigram, CAST(sum(m) AS BIGINT) AS c2 FROM m GROUP BY bigram),
c1 AS (
  SELECT string_split(bigram, ' ')[1] AS w1, CAST(sum(c2) AS BIGINT) AS c1
  FROM c2 GROUP BY 1
),
v AS (
  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
  FROM (SELECT unnest(t) AS tok FROM toks)
),
sc AS (
  SELECT doc_id, m,
         CAST(floor(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)) * 1000000)
              AS BIGINT) AS lp_fp
  FROM m
  JOIN c2 USING (bigram)
  JOIN c1 ON string_split(m.bigram, ' ')[1] = c1.w1
  CROSS JOIN v
)
SELECT doc_id,
       CAST(sum(m) AS BIGINT) AS n_bigrams,
       CAST(sum(m * lp_fp) AS BIGINT) AS sum_lp_micro,
       sum(m * lp_fp) >= -3400000 * sum(m) AS keep_lm
FROM sc GROUP BY doc_id
""",
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing — the
    CCNet/Wikipedia-LM quality-filter shape: train token statistics on
    the corpus itself, score every document by its average bigram log
    probability, gate on a perplexity threshold (keep_lm; −3.4 nats
    average splits this corpus so BOTH verdict branches carry driver
    evidence). p(w2|w1) = (c(w1w2)+1)/(c(w1)+V) with c(w1) summed over
    bigram histories and V the corpus unigram vocabulary.

    Determinism: the smoothed probability is a ratio of exact BIGINTs,
    so both engines divide identical integers; ln() is fixed-pointed
    per bigram TYPE (floor ×1e6) before the multiplicity-weighted
    per-doc sum — everything after the single libm call is exact
    integer arithmetic, and the keep gate compares BIGINTs only.

    Scale: one shuffle for per-doc bigram multiplicities
    (doc_id,bigram — key-balanced because rows are doc-distinct), the
    corpus model c2/c1/V collapses via partial aggregation (stopword
    bigrams combine map-side), and the score join is an equi-join on
    bigram — hash-balanced for the same reason the TF-IDF df join is.
    Vocabulary here is tiny so the model side broadcasts; at real
    corpus scale Catalyst falls back to sort-merge and the plan still
    holds (no all-pairs, no driver state)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("t")
    )
    bigrams = F.expr(
        "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t)-1), "
        "i -> concat(element_at(t, i), ' ', element_at(t, i+1))) "
        "ELSE array() END"
    )
    bg = toks.select("doc_id", F.explode(bigrams).alias("bigram"))
    # Persisted: three consumers (c2 aggregation, the score join's
    # probe side, and through c2 the c1 rollup) would otherwise each
    # recompute the tokenize→explode→count tree.
    from pyspark.storagelevel import StorageLevel

    m = (
        bg.groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("m"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c2 = m.groupBy("bigram").agg(F.sum("m").cast("bigint").alias("c2"))
    c1 = c2.groupBy(F.split("bigram", " ").getItem(0).alias("w1")).agg(
        F.sum("c2").cast("bigint").alias("c1")
    )
    v = toks.select(F.explode("t").alias("tok")).agg(
        F.countDistinct("tok").cast("bigint").alias("v")
    )
    sc = (
        m.join(c2, "bigram")
        .join(c1, F.split(F.col("bigram"), " ").getItem(0) == F.col("w1"))
        .crossJoin(F.broadcast(v))
    )
    lp_fp = F.floor(
        F.log((F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v")).cast("double"))
        * 1000000
    ).cast("bigint")
    return (
        sc.select("doc_id", "m", lp_fp.alias("lp_fp"))
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("m") * F.col("lp_fp")).cast("bigint").alias("sum_lp_micro"),
        )
        .select(
            "doc_id", "n_bigrams", "sum_lp_micro",
            (
                F.col("sum_lp_micro") >= F.lit(-3400000) * F.col("n_bigrams")
            ).alias("keep_lm"),
        )
    )
