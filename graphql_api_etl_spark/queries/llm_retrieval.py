"""LLM-pipeline catalog, part 3: SemDeDup, RRF hybrid retrieval,
Hamming-packed ANN, Matryoshka, MMR, kNN classify, RAKE, PMI
collocations, triplet mining, recall adjudicators.

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
from graphql_api_etl_spark.queries._registry import (
    QUERIES,
    _q,
    _t,
)
from graphql_api_etl_spark.operators import corpus as C
from graphql_api_etl_spark.queries.llm_curation import _BM25_TERMS, _EMB_DIM, _HASH_EMB_DIM, _LOGIT_B, _LOGIT_W_DIGIT, _LOGIT_W_DUP, _LOGIT_W_LNTOK, _LOGIT_W_STOP, text_bm25_topk
from graphql_api_etl_spark.queries.llm_dedup_text_sim import _NTOKS_CTE, _SHS_CTE, dedup_minhash_lsh, dedup_ngram_jaccard, dedup_simhash_pairs, sim_topk_lsh_bucketed

# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup, Abbas et al. 2023): cluster embeddings,
# then exact-cosine dedup WITHIN clusters only.
# ---------------------------------------------------------------------------

_SEMDEDUP_K = 4
_SEMDEDUP_ITERS = 3
_SEMDEDUP_TAU = 0.4


def _semdedup_centroids(sf_dir: str) -> list[list[float]]:
    from graphql_api_etl_spark.operators.ivf import train_kmeans_local

    return train_kmeans_local(
        f"{sf_dir}/embeddings.parquet", k=_SEMDEDUP_K, iters=_SEMDEDUP_ITERS
    )


def _semdedup_oracle() -> str:
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    C = _semdedup_centroids(sf_dir)
    cn2 = [sum(x * x for x in c) for c in C]
    d_cols = ", ".join(
        f"{cn2[j]!r} - 2.0 * ("
        + " + ".join(f"(v[{i + 1}] / nrm) * {C[j][i]!r}" for i in range(64))
        + f") AS d{j}"
        for j in range(_SEMDEDUP_K)
    )
    cluster = (
        "CASE WHEN d0 <= d1 AND d0 <= d2 AND d0 <= d3 THEN 0 "
        "WHEN d1 <= d2 AND d1 <= d3 THEN 1 "
        "WHEN d2 <= d3 THEN 2 ELSE 3 END"
    )
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
d AS (SELECT vec_id, v, nrm, {d_cols} FROM n),
asg AS (SELECT vec_id, v, nrm, CAST({cluster} AS BIGINT) AS cluster_id FROM d),
dups AS (
  SELECT DISTINCT b.vec_id AS vec_id
  FROM asg a JOIN asg b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= {_SEMDEDUP_TAU}
)
SELECT asg.vec_id, cluster_id, dups.vec_id IS NOT NULL AS is_dup
FROM asg LEFT JOIN dups ON asg.vec_id = dups.vec_id
"""


@_q("dedup_semdedup", _semdedup_oracle)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means over the
    embedding space, then EXACT cosine dedup restricted to
    within-cluster pairs — a vector keeps its cluster's lowest-id
    representative and everything cosine ≥ τ=0.4 to an earlier member
    is flagged a semantic duplicate. Clustering bounds the quadratic:
    all-pairs cost drops from |N|² to Σ|cluster|², and cross-cluster
    near-dups are the method's documented recall loss (the oracle
    replays the same clusters, so the differential pins exactly that
    semantics).

    Training follows the house IVF recipe — deterministic md5-ordered
    sample through the shared pure-Python Lloyd's, k×64 doubles of
    driver state, bit-identical on the Spark and oracle paths.
    Assignment is a NATIVE expression (normalized 64-dot against 4
    literal centroids, array_min over (d, cid) structs with the
    lower-cid tie rule); verification reuses dot_fixed/norm_fixed with
    the round-6 sim convention the embedding-cosine entry proved
    engine-stable.

    Scale: assignment is map-only; the self-join is an equi-join ON
    cluster_id (shuffle both sides by cluster, AQE handles skewed
    clusters); the dup-id set is DISTINCT-aggregated before the flag
    join. At 100 TB you'd raise k so Σ|cluster|² stays bounded —
    the plan shape is unchanged."""
    from pyspark.storagelevel import StorageLevel

    C = _semdedup_centroids(sf_dir)
    cn2 = [sum(x * x for x in c) for c in C]
    emb = _t(spark, sf_dir, "embeddings")
    # Flattened-scalars + PERSIST below the heavy expressions (r7, the
    # embedding-cosine/triplet pattern): with array columns the verify
    # dot above the cluster join generated a 19.6 KB never-JIT method,
    # and without the cache boundary projection collapse substitutes
    # the cast/sqrt subtrees into the 4×64-term assignment chains,
    # where Catalyst's commutative canonicalization goes
    # super-quadratic (see emb_triplet_mining).
    e = emb.selectExpr(
        "vec_id", *[f"CAST(embedding[{i}] AS DOUBLE) AS c{i}" for i in range(64)]
    ).selectExpr(
        "vec_id",
        "sqrt(" + " + ".join(f"c{i} * c{i}" for i in range(64)) + ") AS nrm",
        *[f"c{i}" for i in range(64)],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    d_exprs = []
    for j in range(_SEMDEDUP_K):
        dot = None
        for i in range(64):
            term = (F.col(f"c{i}") / F.col("nrm")) * F.lit(C[j][i])
            dot = term if dot is None else dot + term
        d_exprs.append(F.lit(cn2[j]) - 2.0 * dot)
    best = F.array_min(
        F.array(
            *[
                F.struct(d_exprs[j].alias("d"), F.lit(j).alias("cid"))
                for j in range(_SEMDEDUP_K)
            ]
        )
    )
    asg = e.select(
        "vec_id", "nrm", *[f"c{i}" for i in range(64)],
        best["cid"].cast("bigint").alias("cluster_id"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = asg.selectExpr(
        "vec_id AS id_a", "nrm AS na", "cluster_id",
        *[f"c{i} AS a{i}" for i in range(64)],
    )
    b = asg.selectExpr(
        "vec_id AS id_b", "nrm AS nb", "cluster_id",
        *[f"c{i} AS b{i}" for i in range(64)],
    )
    dot = " + ".join(f"a{i} * b{i}" for i in range(64))
    dups = (
        a.join(b, "cluster_id")
        .filter("id_a < id_b")
        .filter(f"round(({dot}) / (na * nb), 6) >= {_SEMDEDUP_TAU}")
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dup_", F.lit(True))
    )
    return asg.join(dups, "vec_id", "left").select(
        "vec_id", "cluster_id", F.coalesce("is_dup_", F.lit(False)).alias("is_dup")
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical list
# with a dense (hash-embedding cosine) list.
# ---------------------------------------------------------------------------


def _rrf_query_vec() -> tuple[list[float], float]:
    """16-dim hash embedding of the fixed BM25 query, derived from md5
    at import time (data-independent literals shared with the SQL
    oracle — the query-side twin of _hash_emb_py)."""
    import hashlib
    import math

    v = [0] * _HASH_EMB_DIM
    for t in _BM25_TERMS:
        v[int(hashlib.md5(t.encode()).hexdigest()[:7], 16) % _HASH_EMB_DIM] += 1
    q = [c / len(_BM25_TERMS) for c in v]
    return q, math.sqrt(sum(x * x for x in q))


def _rrf_sql() -> str:
    qv, qn = _rrf_query_vec()
    bm25 = QUERIES["text_bm25_topk"][1]
    bucket = f"CAST('0x' || substr(md5(word), 1, 7) AS BIGINT) % {_HASH_EMB_DIM}"
    dims = ", ".join(
        f"sum(CASE WHEN b = {j} THEN 1 ELSE 0 END)::DOUBLE / count(*) AS e{j}"
        for j in range(_HASH_EMB_DIM)
    )
    nrm = "sqrt(" + " + ".join(f"e{i} * e{i}" for i in range(_HASH_EMB_DIM)) + ")"
    dot = " + ".join(f"e{i} * {qv[i]!r}" for i in range(_HASH_EMB_DIM))
    return rf"""
WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS word FROM toks),
b AS (SELECT doc_id, {bucket} AS b FROM w),
e AS (SELECT doc_id, {dims} FROM b GROUP BY doc_id),
simd AS (
  SELECT doc_id,
         CAST(floor(({dot}) / ({nrm} * {qn!r}) * 1000000) AS BIGINT) AS sim_micro
  FROM e
),
densetop AS (SELECT doc_id, sim_micro FROM simd ORDER BY sim_micro DESC, doc_id LIMIT 50),
dense AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY sim_micro DESC, doc_id) AS BIGINT) AS rk_dense
  FROM densetop
),
lex AS (SELECT doc_id, rk AS rk_lex FROM ({bm25})),
fused AS (
  SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id, rk_lex, rk_dense,
         coalesce(CAST(floor(1000000 / (60 + rk_lex)) AS BIGINT), 0)
         + coalesce(CAST(floor(1000000 / (60 + rk_dense)) AS BIGINT), 0) AS rrf_micro
  FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id
),
top AS (SELECT * FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT 20)
SELECT doc_id, rk_lex, rk_dense, rrf_micro,
       CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS BIGINT) AS rk
FROM top
"""


@_q("sim_rrf_hybrid", _rrf_sql())
def sim_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.):
    the BM25 top-20 lexical list fused with a dense top-50 list
    (cosine of each document's 16-dim hash embedding against the
    query's embedding — data-independent md5-derived literals) by
    RRF(d) = Σ 1/(60+rank). Fusion is EXACT integer arithmetic:
    ranks are integers by construction, each reciprocal is
    fixed-pointed (floor of 1e6/(60+rk)), and the sum/final ordering
    key is a BIGINT — nothing float crosses the fusion boundary, the
    classic reason RRF beats score-interpolation for cross-engine /
    cross-model stability.

    Scale: both candidate lists are TakeOrderedAndProject top-k
    (ranks assigned post-limit over ≤50 rows), the fusion is a
    full-outer join of two ≤50-row frames — broadcast-trivial — and
    each list's generation keeps its own entry's scale shape
    (BM25: |Q|-sparse shuffle; dense: one partial-aggregated
    embedding shuffle, map-only scoring)."""
    qv, qn = _rrf_query_vec()
    lex = text_bm25_topk(spark, sf_dir).select("doc_id", F.col("rk").alias("rk_lex"))
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
    nrm = None
    dot = None
    for i in range(_HASH_EMB_DIM):
        t2 = F.col(f"e{i}") * F.col(f"e{i}")
        nrm = t2 if nrm is None else nrm + t2
        td = F.col(f"e{i}") * F.lit(qv[i])
        dot = td if dot is None else dot + td
    sim_micro = F.floor(dot / (F.sqrt(nrm) * F.lit(qn)) * 1000000).cast("bigint")
    densetop = (
        e.select("doc_id", sim_micro.alias("sim_micro"))
        .orderBy(F.desc("sim_micro"), F.asc("doc_id"))
        .limit(50)
    )
    # global-window-ok: rank over the limit(50) frame — ≤50 rows
    wd = W.orderBy(F.desc("sim_micro"), F.asc("doc_id"))
    dense = densetop.select(
        "doc_id", F.row_number().over(wd).cast("bigint").alias("rk_dense")
    )
    rec = lambda c: F.coalesce(  # noqa: E731
        F.floor(F.lit(1000000) / (F.lit(60) + F.col(c))).cast("bigint"), F.lit(0)
    )
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id", "rk_lex", "rk_dense",
            (rec("rk_lex") + rec("rk_dense")).alias("rrf_micro"),
        )
        .orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
        .limit(20)
    )
    # global-window-ok: rank over the limit(20) frame — ≤20 rows
    wf = W.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return fused.withColumn("rk", F.row_number().over(wf).cast("bigint"))


@_q(
    "curate_stratified_sample",
    """
WITH h AS (
  SELECT doc_id, lang,
         md5(CAST(doc_id AS VARCHAR)) AS hkey
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY hkey, doc_id) AS BIGINT) AS pick
  FROM h
)
SELECT doc_id, lang, pick FROM r WHERE pick <= 40
""",
)
def curate_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified fixed-quota sampling: exactly min(40, |stratum|)
    documents per language, chosen by md5(doc_id) order — the
    balanced-data-mixing primitive (equal per-language slices for an
    eval set or an anneal mix) complementing the proportional
    samplers (p_hash_sample: global rate; curate_domain_mixture /
    curate_mixture_temperature: per-domain rates; curate_weighted_
    sample: weighted top-k). The md5 sort key makes the pick
    deterministic across engines, runs, and partitionings, and STABLE
    under corpus growth at the head: a new document displaces at most
    one pick in its own stratum, never reshuffles others.

    Scale: one window partitioned BY STRATUM — work is distributed
    across languages and each partition's sort is |stratum|-bounded;
    no global sort, no driver state. (A still-larger-scale variant
    replaces the full per-stratum sort with a two-pass hash-threshold
    pick; the window form is exact and sufficient while strata fit a
    partition.)"""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    h = docs.select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("hkey")
    )
    w = W.partitionBy("lang").orderBy("hkey", "doc_id")
    return (
        h.withColumn("pick", F.row_number().over(w).cast("bigint"))
        .filter(F.col("pick") <= 40)
        .select("doc_id", "lang", "pick")
    )


# ---------------------------------------------------------------------------
# Binary-code ANN: sign-bit compression + Hamming-distance top-k.
# ---------------------------------------------------------------------------


def _hamming_sql() -> str:
    hi = " + ".join(f"CASE WHEN v[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END" for i in range(32))
    lo = " + ".join(
        f"CASE WHEN v[{i + 1}] >= 0 THEN {1 << (i - 32)} ELSE 0 END" for i in range(32, 64)
    )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        f"codes AS (SELECT vec_id, CAST({hi} AS BIGINT) AS hi, CAST({lo} AS BIGINT) AS lo FROM e), "
        "q AS (SELECT vec_id AS query_id, hi AS qhi, lo AS qlo FROM codes WHERE vec_id < 10), "
        "c AS (SELECT vec_id AS neighbor_id, hi, lo FROM codes), "
        "scored AS (SELECT query_id, neighbor_id, "
        "CAST(bit_count(xor(qhi, hi)) + bit_count(xor(qlo, lo)) AS BIGINT) AS hamming "
        "FROM q CROSS JOIN c WHERE query_id != neighbor_id), "
        "ranked AS (SELECT query_id, neighbor_id, hamming, "
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS BIGINT) AS rank "
        "FROM scored) "
        "SELECT query_id, neighbor_id, hamming, rank FROM ranked WHERE rank <= 5"
    )


@_q("sim_topk_hamming", _hamming_sql())
def sim_topk_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding ANN: each 64-dim float vector compresses to a
    64-BIT SIGN CODE (two 32-bit halves packed into BIGINTs), and
    top-5 neighbors rank by Hamming distance — XOR + popcount, the
    memory-bandwidth trick real vector stores ship (32× smaller than
    float32 vectors; candidates from Hamming, exact cosine re-ranks
    the shortlist — sim_topk_bruteforce is that second stage).
    Everything after the sign comparison is INTEGER: codes are exact
    bit sums, distance is bit_count(xor), ranking ties break on
    neighbor_id — the differential cannot drift.

    Scale: codes are computed map-side in one projection (the 64-term
    conditional bit sum is a codegen'd chain); queries broadcast as
    16-byte rows; the corpus streams with zero shuffle; the per-query
    rank window ships 3 integer columns. At 100 TB the code table is
    the index you'd materialize (layout_* entries) — 8 GB per billion
    vectors vs 256 GB of floats."""
    from pyspark.storagelevel import StorageLevel

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bit = lambda i: F.when(F.element_at("v", i + 1) >= 0, F.lit(1 << (i % 32))).otherwise(0)  # noqa: E731
    hi = sum(bit(i) for i in range(32))
    lo = sum(bit(i) for i in range(32, 64))
    # PERSIST the code table (r7): this IS the materialized index the
    # docstring describes, and the cache boundary keeps the 64-way
    # conditional bit-pack out of the join span — fused, the
    # pack+cross-join+rank stage generated a 16.5 KB never-JIT
    # method; split, every method is small enough to compile.
    codes = emb.select(
        "vec_id", hi.cast("bigint").alias("hi"), lo.cast("bigint").alias("lo")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    q = F.broadcast(
        codes.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("hi").alias("qhi"),
            F.col("lo").alias("qlo"),
        )
    )
    c = codes.select(
        F.col("vec_id").alias("neighbor_id"), "hi", "lo"
    )
    ham = (
        F.bit_count(F.col("qhi").bitwiseXOR(F.col("hi")))
        + F.bit_count(F.col("qlo").bitwiseXOR(F.col("lo")))
    ).cast("bigint")
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", ham.alias("hamming"))
    )
    w = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
    )


@_q(
    "dedup_containment_pairs",
    f"""
WITH {_NTOKS_CTE}, {_SHS_CTE},
sizes AS (SELECT doc_id, len(sh) AS sz FROM shs),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM shs),
common AS (SELECT a.doc_id AS src_id, b.doc_id AS dst_id, count(*) AS n_common
           FROM inv a JOIN inv b USING (shingle)
           WHERE a.doc_id != b.doc_id GROUP BY 1, 2),
scored AS (SELECT src_id, dst_id,
                  round(n_common::DOUBLE / za.sz, 4) AS containment
           FROM common JOIN sizes za ON za.doc_id = src_id)
SELECT src_id, dst_id, containment FROM scored WHERE containment >= 0.8
""",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard CONTAINMENT C(src→dst) = |src∩dst| / |src| — the
    asymmetric twin of dedup_ngram_jaccard that symmetric similarity
    misses: a short document quoted inside a long one has low Jaccard
    but containment ≈ 1, the relation quote/boilerplate/sub-document
    dedup actually needs (cf. suffix-style decontamination, where the
    benchmark side is the contained one). Directional by
    construction: both (a→b) and (b→a) are scored, each against its
    own source size.

    Same inverted-shingle-index plan as the Jaccard entry — |∩| is a
    groupBy count off the posting-list self-join, Σ|posting|² cost,
    never |n|²; at scale the candidate set comes from MinHash banding
    and this becomes the verification stage (the operator's
    `candidates` parameter)."""
    docs = _t(spark, sf_dir, "documents")
    sets = D.shingled(docs, "text", "doc_id", 2)
    sizes = sets.select("doc_id", F.size("sh").alias("sz"))
    inv = sets.select("doc_id", F.explode("sh").alias("shingle"))
    a = inv.select(F.col("doc_id").alias("src_id"), "shingle")
    b = inv.select(F.col("doc_id").alias("dst_id"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("src_id") != F.col("dst_id"))
        .groupBy("src_id", "dst_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = sizes.select(F.col("doc_id").alias("src_id"), F.col("sz").alias("sz_src"))
    return (
        common.join(za, "src_id")
        .select(
            "src_id", "dst_id",
            F.round(F.col("n_common").cast("double") / F.col("sz_src"), 4).alias("containment"),
        )
        .filter(F.col("containment") >= 0.8)
    )


def _lsh_eval_sql() -> str:
    truth = QUERIES["dedup_ngram_jaccard"][1]
    pred = QUERIES["dedup_minhash_lsh"][1]
    return f"""
WITH truth AS (SELECT id_a, id_b FROM ({truth})),
pred AS (SELECT id_a, id_b FROM ({pred})),
t AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
p AS (SELECT CAST(count(*) AS BIGINT) AS n_pred FROM pred),
h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM truth JOIN pred USING (id_a, id_b))
SELECT n_true, n_pred, n_hit,
       CAST((1000000 * n_hit) // n_pred AS BIGINT) AS precision_micro,
       CAST((1000000 * n_hit) // n_true AS BIGINT) AS recall_micro
FROM t CROSS JOIN p CROSS JOIN h
"""


@_q("dedup_lsh_recall_eval", _lsh_eval_sql())
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH quality adjudication AS A QUERY: the MinHash+LSH pair set
    evaluated against the exact inverted-index Jaccard ground truth
    at the same 0.5 threshold — candidate-generation recall and
    precision as driver-checked numbers rather than docstring claims.
    Because the LSH entry verifies true Jaccard on its candidates,
    precision is 1 by construction (the differential pins that); the
    interesting number is recall — exactly the banding miss rate the
    dedup_minhash_lsh docstring reasons about (8 bands × 2 rows:
    P(miss) = (1−j²)⁸). Metrics are ×1e6 integer divisions of exact
    counts — nothing float.

    Plan: both pair sets are the existing entries' plans (banded
    equi-join; Σ|posting|² index join); the evaluation adds three
    count aggregates and one pair equi-join, all on pair-sized
    frames."""
    truth = dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    pred = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    t = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    p = pred.agg(F.count(F.lit(1)).cast("bigint").alias("n_pred"))
    h = truth.join(pred, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    return (
        t.crossJoin(p)
        .crossJoin(h)
        .select(
            "n_true", "n_pred", "n_hit",
            F.expr("(1000000 * n_hit) div n_pred").cast("bigint").alias("precision_micro"),
            F.expr("(1000000 * n_hit) div n_true").cast("bigint").alias("recall_micro"),
        )
    )


@_q(
    "mm_video_scene_cut",
    """
WITH g AS (SELECT doc_id, i FROM documents, generate_series(0, 95) s(i))
SELECT doc_id AS media_id,
       CAST(1 + doc_id % 3 AS BIGINT) AS cut_frame,
       CAST(sum(abs(
           ((((doc_id * 2) * 13 + i * 29) * 2654435761) % 4294967296) // 16777216
         - ((((doc_id * 2 + 1) * 13 + i * 29) * 2654435761) % 4294967296) // 16777216
       )) AS BIGINT) AS delta_at_cut,
       CAST(4 AS BIGINT) AS n_frames
FROM g GROUP BY doc_id
""",
)
def mm_video_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video scene-cut detection on REAL decoded frames: per-doc
    4-frame videos (8×4 24-bpp BMPs, closed-form pixel streams, scene
    switch at frame 1 + doc_id % 3), container-walked, frame-decoded,
    and scored by the inter-frame pixel delta Σ|pₜ − pₜ₋₁| inside the
    Arrow batch — the cut is the first frame whose delta is nonzero.

    The differential is real on BOTH claims: the cut position must
    emerge from decoded deltas (oracle derives it from the
    construction arithmetic — a mis-walked frame boundary or wrong
    decode shifts it), and delta_at_cut must equal the closed-form
    byte sum DuckDB replays via generate_series (any decode byte
    corruption breaks the exact sum; pixel-order permutations cancel
    because both frames permute identically under Σ|·|).

    Scale: pure in-batch fan-out — frames never leave the Arrow
    stage, one output row per video; the same shape ships a real
    shot-boundary detector (histogram or SSIM deltas) at 100 TB of
    video."""
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
            out = {"media_id": [], "cut_frame": [], "delta_at_cut": [], "n_frames": []}
            for i in pdf["doc_id"]:
                i = int(i)
                cut = 1 + i % 3
                video = MM.synthesize_video(
                    [
                        MM.synthesize_bmp_bytes(
                            8, 4,
                            MM.closed_form_pixel_bytes(2 * i + (0 if f < cut else 1), 96),
                        )
                        for f in range(4)
                    ]
                )
                streams = []
                for fb in MM.split_video_frames(video):
                    _, _, pix = MM.decode_bmp_pixels(fb)
                    streams.append(
                        bytes(c for row in pix for px in row for c in px)
                    )
                deltas = [
                    sum(abs(a - b) for a, b in zip(streams[f - 1], streams[f]))
                    for f in range(1, len(streams))
                ]
                found = next(f for f, d in enumerate(deltas, start=1) if d > 0)
                out["media_id"].append(i)
                out["cut_frame"].append(found)
                out["delta_at_cut"].append(deltas[found - 1])
                out["n_frames"].append(len(streams))
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        make, "media_id bigint, cut_frame bigint, delta_at_cut bigint, n_frames bigint"
    )


def _ann_eval_sql() -> str:
    pred = QUERIES["sim_topk_lsh_bucketed"][1]
    return f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 50),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (SELECT query_id, neighbor_id,
           list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
           FROM q CROSS JOIN c WHERE query_id != neighbor_id),
exact AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored) WHERE rank <= 3),
pred AS (SELECT query_id, neighbor_id FROM ({pred})),
e AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
p AS (SELECT CAST(count(*) AS BIGINT) AS n_ann FROM pred),
h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM exact JOIN pred USING (query_id, neighbor_id))
SELECT n_exact, n_ann, n_hit,
       CAST((1000000 * n_hit) // n_exact AS BIGINT) AS recall_micro
FROM e CROSS JOIN p CROSS JOIN h
"""


@_q("sim_ann_recall_eval", _ann_eval_sql())
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality adjudication AS A QUERY (the vector twin of
    dedup_lsh_recall_eval): the LSH-bucketed top-3 measured against
    exact brute-force top-3 over the SAME 50-query set — recall@3 as
    a driver-checked ×1e6 integer division instead of a docstring
    claim. Bucketing trades recall for the Σ|Q_b|·|C_b| candidate
    bound; this entry prices that trade every round, and the same
    harness evaluates any ANN variant (IVF, Hamming) by swapping the
    pred list.

    Plan: both lists are the existing entries' plans; the evaluation
    adds one pair equi-join and three count aggregates on
    150-row frames."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = S.topk_bruteforce(
        emb.filter(F.col("vec_id") < 50), emb, k=3, dim=64
    ).select("query_id", "neighbor_id")
    pred = sim_topk_lsh_bucketed(spark, sf_dir).select("query_id", "neighbor_id")
    e = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    p = pred.agg(F.count(F.lit(1)).cast("bigint").alias("n_ann"))
    h = exact.join(pred, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    return (
        e.crossJoin(p)
        .crossJoin(h)
        .select(
            "n_exact", "n_ann", "n_hit",
            F.expr("(1000000 * n_hit) div n_exact").cast("bigint").alias("recall_micro"),
        )
    )


def _matryoshka_sql() -> str:
    dot = " + ".join(f"qv[{i + 1}] * cv[{i + 1}]" for i in range(16))
    qn = "sqrt(" + " + ".join(f"qv[{i + 1}] * qv[{i + 1}]" for i in range(16)) + ")"
    cn = "sqrt(" + " + ".join(f"cv[{i + 1}] * cv[{i + 1}]" for i in range(16)) + ")"
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 50),
c AS (SELECT vec_id AS neighbor_id, v AS cv FROM e),
scored AS (SELECT query_id, neighbor_id,
           CAST(floor(({dot}) / ({qn} * {cn}) * 1000000) AS BIGINT) AS sim_micro
           FROM q CROSS JOIN c WHERE query_id != neighbor_id),
pred AS (SELECT query_id, neighbor_id FROM (
           SELECT query_id, neighbor_id,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim_micro DESC, neighbor_id) AS rank
           FROM scored) WHERE rank <= 3),
fscored AS (SELECT query_id, neighbor_id,
            list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
            FROM q CROSS JOIN c WHERE query_id != neighbor_id),
exact AS (SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
            FROM fscored) WHERE rank <= 3),
x AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit FROM exact JOIN pred USING (query_id, neighbor_id))
SELECT n_exact, n_hit,
       CAST((1000000 * n_hit) // n_exact AS BIGINT) AS recall_micro
FROM x CROSS JOIN h
"""


@_q("sim_matryoshka_recall", _matryoshka_sql())
def sim_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-dimension trade pricing: top-3 by the
    16-dim PREFIX cosine (4× cheaper dot, 4× smaller index — the MRL
    deployment trick) measured against full 64-dim exact top-3 over
    the same 50 queries, recall@3 as a ×1e6 integer division. The
    prefix list's ranking key is fixed-pointed (floor ×1e6, explicit
    left-to-right 16-term chains shared with the SQL), so the
    candidate list itself is engine-exact; the same harness prices
    any prefix length.

    Plan: one broadcast(queries) × corpus pass per list (prefix dots
    read 16 components; column pruning keeps the full vector out of
    the prefix scan), a pair equi-join, two count aggregates."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = F.broadcast(
        e.filter(F.col("vec_id") < 50).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
    )
    c = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"))
    dot = None
    qn = None
    cn = None
    for i in range(16):
        d = F.element_at("qv", i + 1) * F.element_at("cv", i + 1)
        a2 = F.element_at("qv", i + 1) * F.element_at("qv", i + 1)
        b2 = F.element_at("cv", i + 1) * F.element_at("cv", i + 1)
        dot = d if dot is None else dot + d
        qn = a2 if qn is None else qn + a2
        cn = b2 if cn is None else cn + b2
    sim_micro = F.floor(dot / (F.sqrt(qn) * F.sqrt(cn)) * 1000000).cast("bigint")
    pairs = q.crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    wp = W.partitionBy("query_id").orderBy(F.desc("sim_micro"), F.asc("neighbor_id"))
    pred = (
        pairs.select("query_id", "neighbor_id", sim_micro.alias("sim_micro"))
        .withColumn("rank", F.row_number().over(wp))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    exact = S.topk_bruteforce(
        emb.filter(F.col("vec_id") < 50), emb, k=3, dim=64
    ).select("query_id", "neighbor_id")
    x = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    h = exact.join(pred, ["query_id", "neighbor_id"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    return x.crossJoin(h).select(
        "n_exact", "n_hit",
        F.expr("(1000000 * n_hit) div n_exact").cast("bigint").alias("recall_micro"),
    )


def _triplet_sql() -> str:
    cos = (
        "CAST(floor(list_dot_product(qv, cv) / "
        "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) * 1000000) AS BIGINT)"
    )
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, label AS ql, v AS qv FROM e WHERE vec_id < 50),
c AS (SELECT vec_id AS neighbor_id, label AS cl, v AS cv FROM e),
scored AS (
  SELECT query_id, ql, neighbor_id, cl, {cos} AS sim_micro
  FROM q CROSS JOIN c WHERE query_id != neighbor_id
),
pos AS (
  SELECT query_id, neighbor_id AS pos_id, sim_micro AS pos_sim_micro
  FROM (SELECT query_id, neighbor_id, sim_micro,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim_micro DESC, neighbor_id) AS rk
        FROM scored WHERE ql = cl) WHERE rk = 1
),
neg AS (
  SELECT query_id, neighbor_id AS neg_id, sim_micro AS neg_sim_micro
  FROM (SELECT query_id, neighbor_id, sim_micro,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sim_micro DESC, neighbor_id) AS rk
        FROM scored WHERE ql != cl) WHERE rk = 1
)
SELECT pos.query_id, pos_id, pos_sim_micro, neg_id, neg_sim_micro,
       pos_sim_micro > neg_sim_micro AS margin_ok
FROM pos JOIN neg ON pos.query_id = neg.query_id
"""


@_q("emb_triplet_mining", _triplet_sql())
def emb_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining — the pair-generation pass an
    embedding-model training pipeline runs over its own corpus: for
    each anchor, the hardest POSITIVE (most-similar same-label
    vector) and the hardest NEGATIVE (most-similar different-label
    vector — the semi-hard negatives that make triplet/InfoNCE losses
    work), plus a margin flag. Similarities are fixed-pointed
    (floor ×1e6) so both rank windows order by exact integers; the
    flag compares BIGINTs.

    Plan: one broadcast(anchors) × corpus scoring pass feeds BOTH
    windows (same partitioning, one exchange); per-anchor state is
    two rank-1 rows. At 100 TB anchors batch through the same plan,
    and an ANN candidate stage (sim_topk_lsh_bucketed / _hamming)
    replaces the cross join — the mining windows are unchanged."""
    emb = _t(spark, sf_dir, "embeddings")
    # Flatten each side to 64 scalar columns + a PRE-COMPUTED norm
    # below the join (r7): the array form evaluated dot_fixed + BOTH
    # norm_fixed chains per PAIR above the cross join — 192 element_at
    # terms that re-fetch the array per element and fused into a 17 KB
    # never-JIT method. Scalars + per-vector norms keep every method
    # JIT-able and compute each norm once per vector instead of once
    # per pair; the arithmetic per value is unchanged (same
    # left-associative sums), so sim_micro is bit-identical.
    from pyspark.storagelevel import StorageLevel

    # PERSISTED flattened projection (the embedding-cosine pattern):
    # the cache boundary matters for more than reuse — it keeps the
    # scalar columns as plain attribute references on the join side.
    # Without it, projection collapse substitutes the CAST subtrees
    # into the 64-term sum and Catalyst's commutative-chain
    # canonicalization (orderCommutative sorts terms by recursive
    # TreeNode.hashCode) goes super-quadratic: the optimizer burned
    # 100+ CPU-seconds on THIS query's plan before ever executing
    # (observed in a thread dump, r7).
    e = emb.selectExpr(
        "vec_id", "label",
        *[f"CAST(embedding[{i}] AS DOUBLE) AS c{i}" for i in range(64)],
    ).selectExpr(
        "vec_id", "label",
        "sqrt(" + " + ".join(f"c{i} * c{i}" for i in range(64)) + ") AS nrm",
        *[f"c{i}" for i in range(64)],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    q = F.broadcast(
        e.filter(F.col("vec_id") < 50).selectExpr(
            "vec_id AS query_id", "label AS ql", "nrm AS qn",
            *[f"c{i} AS q{i}" for i in range(64)],
        )
    )
    c = e.selectExpr(
        "vec_id AS neighbor_id", "label AS cl", "nrm AS cn",
        *[f"c{i}" for i in range(64)],
    )
    dot = " + ".join(f"q{i} * c{i}" for i in range(64))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .selectExpr(
            "query_id", "ql", "neighbor_id", "cl",
            f"CAST(floor(({dot}) / (qn * cn) * 1000000) AS BIGINT) AS sim_micro",
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim_micro"), F.asc("neighbor_id"))
    pos = (
        scored.filter(F.col("ql") == F.col("cl"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("pos_id"),
            F.col("sim_micro").alias("pos_sim_micro"),
        )
    )
    neg = (
        scored.filter(F.col("ql") != F.col("cl"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "query_id",
            F.col("neighbor_id").alias("neg_id"),
            F.col("sim_micro").alias("neg_sim_micro"),
        )
    )
    return pos.join(neg, "query_id").select(
        "query_id", "pos_id", "pos_sim_micro", "neg_id", "neg_sim_micro",
        (F.col("pos_sim_micro") > F.col("neg_sim_micro")).alias("margin_ok"),
    )


@_q(
    "curate_vocab_coverage",
    r"""
WITH toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok FROM documents
),
c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
r AS (
  SELECT tok, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT) AS rk,
         CAST(sum(cnt) OVER (ORDER BY cnt DESC, tok
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER () AS BIGINT) AS total
  FROM c
)
SELECT rk AS vocab_size, cum AS covered, total,
       CAST((1000000 * cum) // total AS BIGINT) AS coverage_micro
FROM r WHERE rk IN (5, 10, 20)
""",
)
def curate_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-sizing question
    (what fraction of corpus token OCCURRENCES does a top-k
    vocabulary cover?) answered at k = 5/10/20: tokens ranked by
    exact count with a running occurrence share, everything a ×1e6
    integer division of BIGINT sums (ties break on the token string,
    so the rank order is total). The curve's knee is where a BPE
    vocab stops paying.

    Plan: one partial-aggregated shuffle to the VOCAB-sized count
    table (stopword mass collapses map-side), then top-20 via
    TakeOrderedAndProject with the rank/coverage windows over only
    the 20 survivors and the total as a 1-row broadcast aggregate
    (r11 global-window sweep) — no vocab-sized frame ever funnels
    through one partition."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
    )
    c = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # r11 global-window sweep: only ranks <= 20 are consumed, so keep
    # the top 20 via TakeOrderedAndProject and rank/cumulate over
    # those 20 rows (global-window-ok: <=20 rows post-limit); the
    # vocabulary total is a 1-row broadcast aggregate instead of an
    # all-rows window.
    tot = c.agg(F.sum("cnt").cast("bigint").alias("total"))
    top = c.orderBy(F.desc("cnt"), F.asc("tok")).limit(20)
    # global-window-ok: windows over the limit(20) frame — ≤20 rows
    wr = W.orderBy(F.desc("cnt"), F.asc("tok"))
    wc = wr.rowsBetween(W.unboundedPreceding, W.currentRow)
    r = top.crossJoin(F.broadcast(tot)).select(
        F.row_number().over(wr).cast("bigint").alias("vocab_size"),
        F.sum("cnt").over(wc).cast("bigint").alias("covered"),
        "total",
    )
    return r.filter(F.col("vocab_size").isin(5, 10, 20)).select(
        "vocab_size", "covered", "total",
        F.expr("(1000000 * covered) div total").cast("bigint").alias("coverage_micro"),
    )


def _dedup_panel_sql() -> str:
    mh = QUERIES["dedup_minhash_lsh"][1]
    sh = QUERIES["dedup_simhash_pairs"][1]
    return rf"""
WITH h AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
  FROM documents
),
ex AS (
  SELECT doc_id, doc_id != min(doc_id) OVER (PARTITION BY ch) AS is_exact_dup FROM h
),
mh AS (SELECT DISTINCT id_b AS doc_id FROM ({mh})),
sh AS (SELECT DISTINCT doc_id FROM (
         SELECT id_a AS doc_id FROM ({sh})
         UNION ALL SELECT id_b FROM ({sh}))),
p AS (
  SELECT ex.doc_id, is_exact_dup,
         mh.doc_id IS NOT NULL AS is_minhash_dup,
         sh.doc_id IS NOT NULL AS is_simhash_candidate
  FROM ex LEFT JOIN mh ON ex.doc_id = mh.doc_id
          LEFT JOIN sh ON ex.doc_id = sh.doc_id
)
SELECT doc_id, is_exact_dup, is_minhash_dup, is_simhash_candidate,
       CAST(CAST(is_exact_dup AS INTEGER) + CAST(is_minhash_dup AS INTEGER)
            + CAST(is_simhash_candidate AS INTEGER) AS BIGINT) AS n_signals
FROM p
"""


@_q("dedup_panel_report", _dedup_panel_sql)
def dedup_panel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document dedup PANEL: the exact-hash, MinHash-LSH, and
    SimHash signals side by side with an agreement count — the
    decision table a curation run actually reviews before choosing
    drop rules (exact says copy, MinHash says near-dup at J≥0.5,
    SimHash says candidate at its hamming band; disagreement rows
    are precisely where thresholds get tuned). Composes the three
    existing entries' plans unchanged; the panel itself is two
    dim-sized left joins onto a window-flagged hash pass and costs
    nothing extra at scale.

    (Callable oracle only to defer building the two heavyweight
    component SQL strings until the gate runs.)"""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    h = docs.select("doc_id", F.md5(TX.norm_text("text")).alias("ch"))
    ex = h.select(
        "doc_id",
        (F.col("doc_id") != F.min("doc_id").over(W.partitionBy("ch"))).alias(
            "is_exact_dup"
        ),
    )
    mh = (
        dedup_minhash_lsh(spark, sf_dir)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
        .withColumn("mh", F.lit(True))
    )
    shp = dedup_simhash_pairs(spark, sf_dir)
    sh = (
        shp.select(F.col("id_a").alias("doc_id"))
        .unionAll(shp.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("sh", F.lit(True))
    )
    p = (
        ex.join(mh, "doc_id", "left")
        .join(sh, "doc_id", "left")
        .select(
            "doc_id", "is_exact_dup",
            F.coalesce("mh", F.lit(False)).alias("is_minhash_dup"),
            F.coalesce("sh", F.lit(False)).alias("is_simhash_candidate"),
        )
    )
    return p.select(
        "doc_id", "is_exact_dup", "is_minhash_dup", "is_simhash_candidate",
        (
            F.col("is_exact_dup").cast("int")
            + F.col("is_minhash_dup").cast("int")
            + F.col("is_simhash_candidate").cast("int")
        ).cast("bigint").alias("n_signals"),
    )


def _split_leakage_sql() -> str:
    mh = QUERIES["dedup_minhash_lsh"][1]
    return f"""
WITH sp AS (
  SELECT doc_id,
         CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 100 AS b
        FROM documents)
),
pairs AS (SELECT id_a, id_b FROM ({mh}))
SELECT sa.split AS split_a, sb.split AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       sa.split != sb.split AS is_leakage
FROM pairs
JOIN sp sa ON sa.doc_id = id_a
JOIN sp sb ON sb.doc_id = id_b
GROUP BY sa.split, sb.split
"""


@_q("curate_split_leakage", _split_leakage_sql)
def curate_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: MinHash near-dup pairs bucketed by which
    train/val/test splits their two sides landed in — the
    eval-contamination check (a near-duplicate of a training document
    sitting in the test split silently inflates benchmarks; the same
    failure benchmark decontamination hunts EXTERNALLY, audited here
    INTERNALLY across the pipeline's own split). Composes the
    deterministic md5 split (curate_train_split) with the LSH pair
    set unchanged; cross-split rows carry is_leakage = true, and the
    fix — split by near-dup CLUSTER id (dedup_cluster_components)
    instead of raw doc id — is one join away in the same catalog.

    Plan: the pair set's banded plan plus two dim-sized split joins
    and one rollup — nothing input-sized beyond the existing entry."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    b = D.shingle_hash(F.col("doc_id").cast("string")) % 100
    sp = docs.select(
        "doc_id",
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test").alias("split"),
    )
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    sa = sp.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            "split_a", "split_b", "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("is_leakage"),
        )
    )


@_q(
    "text_jsd_by_lang",
    r"""
WITH toks AS (
  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
  FROM documents
),
c AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY lang, tok),
en AS (SELECT tok, n AS n_en FROM c WHERE lang = 'en'),
ent AS (SELECT CAST(sum(n_en) AS BIGINT) AS t_en FROM en),
oth AS (SELECT lang, tok, n AS n_o FROM c WHERE lang != 'en'),
ott AS (SELECT lang, CAST(sum(n_o) AS BIGINT) AS t_o FROM oth GROUP BY lang),
en_x AS (SELECT ott.lang AS lang, tok, n_en FROM en CROSS JOIN ott),
u AS (
  SELECT coalesce(en_x.lang, oth.lang) AS lang,
         coalesce(en_x.tok, oth.tok) AS tok,
         coalesce(n_en, 0) AS a, coalesce(n_o, 0) AS b
  FROM en_x FULL OUTER JOIN oth
    ON en_x.lang = oth.lang AND en_x.tok = oth.tok
),
j AS (
  SELECT u.lang, tok, a, b, t_en, t_o
  FROM u CROSS JOIN ent JOIN ott ON ott.lang = u.lang
),
terms AS (
  SELECT lang,
         CASE WHEN a > 0 THEN CAST(floor((CAST(a AS DOUBLE) / t_en) / 2
              * ln((CAST(a AS DOUBLE) / t_en)
                   / ((CAST(a AS DOUBLE) / t_en + CAST(b AS DOUBLE) / t_o) / 2))
              * 1000000000) AS BIGINT) ELSE 0 END AS pa,
         CASE WHEN b > 0 THEN CAST(floor((CAST(b AS DOUBLE) / t_o) / 2
              * ln((CAST(b AS DOUBLE) / t_o)
                   / ((CAST(a AS DOUBLE) / t_en + CAST(b AS DOUBLE) / t_o) / 2))
              * 1000000000) AS BIGINT) ELSE 0 END AS pb
  FROM j
)
SELECT lang, CAST(sum(pa) + sum(pb) AS BIGINT) AS jsd_nano
FROM terms GROUP BY lang
""",
)
def text_jsd_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between each language's word
    distribution and English — the domain-shift / distribution-drift
    measure a data-mixing pipeline tracks (JSD is symmetric and
    bounded, unlike raw KL, and this same plan compares corpus
    snapshots over time). Computed term-by-term over the UNION
    vocabulary per comparison (English-only tokens are replicated
    per language by a vocab×langs cross join, so a word absent from
    either side still contributes the other side's term — the CASE
    guards encode exactly the 0·ln 0 = 0 convention), with each term fixed-pointed to nano
    units before the exact integer sum: probabilities are ratios of
    exact BIGINT counts, so both engines evaluate identical double
    trees and the sum order cannot drift.

    Plan: one shuffle to (lang, token) counts, marginals by partial
    aggregation, one vocab-grain outer join per comparison — the
    corpus token stream is read once."""
    docs = _t(spark, sf_dir, "documents").select("lang", "text")
    toks = docs.select(
        "lang", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
    )
    c = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    en = c.filter(F.col("lang") == "en").select("tok", F.col("n").alias("n_en"))
    t_en = en.agg(F.sum("n_en").cast("bigint").alias("t_en"))
    oth = c.filter(F.col("lang") != "en").select(
        "lang", "tok", F.col("n").alias("n_o")
    )
    ott = oth.groupBy("lang").agg(F.sum("n_o").cast("bigint").alias("t_o"))
    en_x = en.crossJoin(F.broadcast(ott.select("lang")))
    j = (
        en_x.join(oth, ["lang", "tok"], "full_outer")
        .crossJoin(F.broadcast(t_en))
        .join(F.broadcast(ott), "lang")
        .select(
            "lang",
            F.coalesce("n_en", F.lit(0)).alias("a"),
            F.coalesce("n_o", F.lit(0)).alias("b"),
            "t_en", "t_o",
        )
    )
    pa_ = F.col("a").cast("double") / F.col("t_en")
    pb_ = F.col("b").cast("double") / F.col("t_o")
    m = (pa_ + pb_) / 2
    pa = F.when(
        F.col("a") > 0,
        F.floor(pa_ / 2 * F.log(pa_ / m) * 1000000000).cast("bigint"),
    ).otherwise(F.lit(0))
    pb = F.when(
        F.col("b") > 0,
        F.floor(pb_ / 2 * F.log(pb_ / m) * 1000000000).cast("bigint"),
    ).otherwise(F.lit(0))
    return (
        j.select("lang", pa.alias("pa"), pb.alias("pb"))
        .groupBy("lang")
        .agg((F.sum("pa") + F.sum("pb")).cast("bigint").alias("jsd_nano"))
    )


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction
# ---------------------------------------------------------------------------

_RAKE_STOPS = ["the", "a", "and", "of", "to"]

_RAKE_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), pos AS (
  SELECT doc_id, t[u.i] AS w, u.i AS pos,
         CASE WHEN list_contains(['the','a','and','of','to'], t[u.i]) THEN 1 ELSE 0 END AS stop
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
), flagged AS (
  SELECT doc_id, w, pos, stop,
         sum(stop) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM pos
), runs AS (
  SELECT doc_id, w, pos, run_id FROM flagged WHERE stop = 0
), pw AS (
  SELECT doc_id, run_id, w, pos,
         count(*) OVER (PARTITION BY doc_id, run_id) AS phrase_len
  FROM runs
), phrases AS (
  SELECT doc_id, run_id, string_agg(w, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS n_words
  FROM pw GROUP BY doc_id, run_id
), ws AS (
  SELECT doc_id, w,
         CAST(floor(1000000.0 * sum(phrase_len) / count(*)) AS BIGINT) AS w_score
  FROM pw GROUP BY doc_id, w
), scored AS (
  SELECT pw.doc_id, pw.run_id, CAST(sum(ws.w_score) AS BIGINT) AS score_scaled
  FROM pw JOIN ws ON pw.doc_id = ws.doc_id AND pw.w = ws.w
  GROUP BY pw.doc_id, pw.run_id
), ranked AS (
  SELECT p.doc_id, p.phrase, s.score_scaled, p.n_words,
         row_number() OVER (PARTITION BY p.doc_id
                            ORDER BY s.score_scaled DESC, p.phrase) AS rn
  FROM phrases p JOIN scored s ON p.doc_id = s.doc_id AND p.run_id = s.run_id
)
SELECT doc_id, phrase AS top_phrase, score_scaled, n_words FROM ranked WHERE rn = 1
"""


@_q("text_rake_keyphrases", _RAKE_SQL)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs; each word scores
    degree/frequency (degree = Σ lengths of phrases containing it) and
    a phrase scores the sum of its words' scores. Top phrase per doc.

    Determinism discipline: the per-word score is floor-scaled to an
    INTEGER (floor(1e6·degree/freq) — one identical IEEE op in both
    engines) BEFORE the per-phrase sum, so phrase scores are integer
    sums — order-independent — where the textbook float formulation
    would expose partial-aggregation order at rank boundaries. Run
    segmentation is a per-doc window cumsum over token positions
    (stopwords increment the run id and are dropped); everything is
    one doc-partitioned shuffle + two doc-local aggregates, no UDFs."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias("pos", "w"),
    ).withColumn("stop", F.col("w").isin(_RAKE_STOPS).cast("int"))
    w_run = W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, W.currentRow)
    runs = pos.withColumn("run_id", F.sum("stop").over(w_run)).filter(F.col("stop") == 0)
    pw = runs.withColumn("phrase_len", F.count(F.lit(1)).over(W.partitionBy("doc_id", "run_id")))
    phrases = pw.groupBy("doc_id", "run_id").agg(
        F.concat_ws(
            " ",
            F.transform(F.sort_array(F.collect_list(F.struct("pos", "w"))), lambda s: s.w),
        ).alias("phrase"),
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
    )
    ws = pw.groupBy("doc_id", "w").agg(
        F.floor(1_000_000.0 * F.sum("phrase_len") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("w_score")
    )
    scored = (
        pw.join(ws, ["doc_id", "w"])
        .groupBy("doc_id", "run_id")
        .agg(F.sum("w_score").cast("bigint").alias("score_scaled"))
    )
    w_rank = W.partitionBy("doc_id").orderBy(F.desc("score_scaled"), F.asc("phrase"))
    return (
        phrases.join(scored, ["doc_id", "run_id"])
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("phrase").alias("top_phrase"), "score_scaled", "n_words")
    )


# ---------------------------------------------------------------------------
# PMI bigram collocations
# ---------------------------------------------------------------------------

_PMI_SQL = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
), pos AS (
  SELECT doc_id, t[u.i] AS w, t[u.i + 1] AS nxt
  FROM toks, unnest(range(1, len(t) + 1)) AS u(i)
), uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cw FROM pos GROUP BY w
), bi AS (
  SELECT w AS w1, nxt AS w2, CAST(count(*) AS BIGINT) AS cb
  FROM pos WHERE nxt IS NOT NULL GROUP BY w, nxt
), n AS (
  SELECT sum(cb) AS total FROM bi
), scored AS (
  SELECT b.w1, b.w2, b.cb,
         round(ln((CAST(b.cb AS DOUBLE) * CAST(n.total AS DOUBLE)) / (CAST(u1.cw AS DOUBLE) * CAST(u2.cw AS DOUBLE))), 4) AS pmi
  FROM bi b JOIN uni u1 ON b.w1 = u1.w JOIN uni u2 ON b.w2 = u2.w, n
  WHERE b.cb >= 5
)
SELECT w1, w2, cb, pmi,
       CAST(row_number() OVER (ORDER BY cb DESC, w1, w2) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= 25
"""


@_q("text_pmi_collocations", _PMI_SQL)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information bigram collocations — the corpus
    statistic under phrase mining and tokenizer-merge candidates
    (high-PMI adjacent pairs are what BPE merges first). Adjacency
    pairs come from one positional self-zip of the token array (array
    index arithmetic, zero join), then two integer aggregates; PMI's
    single float expression is computed identically in both engines
    and is an OUTPUT, never an ordering key — ranking is by the exact
    integer pair count with lexicographic tie-breaks, so top-k
    membership can't flip on ulp noise. min-count 5 is the standard
    sparse-PMI guard (one-off pairs otherwise dominate the top)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(F.split(F.lower(F.trim("text")), r"\s+").alias("t"))
    pairs = toks.select(
        F.posexplode("t").alias("i", "w1"),
        F.col("t"),
    ).select("w1", F.expr("get(t, i + 1)").alias("w2"))  # NULL past the end
    uni = (
        pairs.groupBy(F.col("w1").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cw"))
    )
    bi_all = (
        pairs.filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cb"))
    )
    # normalizer is the FULL bigram mass — computed before the
    # min-count guard trims the sparse tail
    total = bi_all.agg(F.sum("cb").alias("total"))
    bi = bi_all.filter(F.col("cb") >= 5)
    u1 = uni.select(F.col("w").alias("w1"), F.col("cw").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cw").alias("c2"))
    scored = (
        bi.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1", "w2", "cb",
            F.round(
                F.log(
                    (F.col("cb").cast("double") * F.col("total").cast("double"))
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    # top-25 via TakeOrderedAndProject; rank over the 25 survivors
    # (global-window-ok) instead of every bigram through one partition
    # (r11 global-window sweep)
    # global-window-ok: rank over the limit(25) frame — ≤25 rows
    w = W.orderBy(F.desc("cb"), F.asc("w1"), F.asc("w2"))
    return (
        scored.orderBy(F.desc("cb"), F.asc("w1"), F.asc("w2"))
        .limit(25)
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .select("w1", "w2", "cb", "pmi", "rk")
    )


@_q(
    "text_word_burstiness",
    r"""
WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
wc AS (
  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents)
  GROUP BY doc_id, tok
),
w AS (
  SELECT tok,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(c) AS BIGINT) AS total,
         CAST(sum(c * c) AS BIGINT) AS sumsq
  FROM wc GROUP BY tok
),
s AS (
  SELECT tok, df, total,
         CAST(floor(1000000.0 * (CAST(n_docs AS DOUBLE) * sumsq - CAST(total AS DOUBLE) * total)
              / (CAST(n_docs AS DOUBLE) * total)) AS BIGINT) AS vmr_micro
  FROM w CROSS JOIN nd
  WHERE total >= 50
)
SELECT tok, df, total, vmr_micro,
       row_number() OVER (ORDER BY vmr_micro DESC, tok) AS rk
FROM s
ORDER BY vmr_micro DESC, tok
LIMIT 20
""",
)
def text_word_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word burstiness: the variance-to-mean ratio (index of
    dispersion) of each word's per-document count, top-20 among words
    with corpus frequency ≥ 50 — the statistic that separates TOPICAL
    words (bursty: absent from most documents, dense in a few) from
    FUNCTION words (VMR ≈ uniform), which is the principled way to
    build stopword lists and topical-keyword pools where raw
    frequency (text_wordcount) and tf-idf conflate the two. Zero
    cells never materialize: VMR = (N·Σc² − (Σc)²)/(N·Σc) needs only
    per-PRESENT-document counts, so the moments come straight off the
    (doc, word) count grain as exact BIGINTs; the single double
    division is floored to micro units (both operands < 2⁵³).

    Plan: explode → one partial-aggregated shuffle to (doc, word)
    grain, one to word grain, a broadcast scalar N, then
    TakeOrderedAndProject top-20 under the pinned (vmr, word) order
    — the same two-shuffle skeleton as text_tfidf_topterms, no
    window over anything larger than the surviving vocabulary."""
    docs = _t(spark, sf_dir, "documents")
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    wc = (
        docs.select(
            "doc_id", F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = wc.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("c").cast("bigint").alias("total"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sumsq"),
    )
    s = (
        w.crossJoin(F.broadcast(nd))
        .filter(F.col("total") >= 50)
        .select(
            "tok", "df", "total",
            F.floor(
                1000000.0
                * (
                    F.col("n_docs").cast("double") * F.col("sumsq")
                    - F.col("total").cast("double") * F.col("total")
                )
                / (F.col("n_docs").cast("double") * F.col("total"))
            )
            .cast("bigint")
            .alias("vmr_micro"),
        )
    )
    # limit BEFORE rank: TakeOrderedAndProject keeps the top 20, the
    # rank window then runs over 20 rows (global-window-ok), not the
    # whole vocabulary (r11 global-window sweep)
    return (
        s.orderBy(F.desc("vmr_micro"), F.asc("tok"))
        .limit(20)
        .withColumn(
            # global-window-ok: rank over the limit(20) frame — ≤20 rows
            "rk", F.row_number().over(W.orderBy(F.desc("vmr_micro"), F.asc("tok")))
        )
    )


def _langid_eval_sql() -> str:
    """Confusion-matrix oracle sharing text_lang_id's exact scoring
    text (same marker lists, same strictly-greater argmax fold), with
    the gold ``lang`` column carried through the token CTE."""
    profiles = list(TX.DEFAULT_LANG_PROFILES.items())
    score_cols = ", ".join(
        "len(list_filter(t, x -> list_contains(["
        + ",".join(f"'{m}'" for m in markers)
        + f"], x))) AS score_{name}"
        for name, markers in profiles
    )
    guess, best = f"'{profiles[0][0]}'", f"score_{profiles[0][0]}"
    for name, _ in profiles[1:]:
        guess = f"CASE WHEN score_{name} > {best} THEN '{name}' ELSE {guess} END"
        best = f"CASE WHEN score_{name} > {best} THEN score_{name} ELSE {best} END"
    return (
        r"WITH toks AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS t"
        " FROM documents), "
        f"scored AS (SELECT doc_id, lang, {score_cols} FROM toks), "
        f"pred AS (SELECT lang AS gold, {guess} AS pred FROM scored) "
        "SELECT gold, pred, CAST(count(*) AS BIGINT) AS n, "
        "       CAST((1000000 * count(*)) // sum(count(*)) OVER (PARTITION BY gold)"
        "            AS BIGINT) AS gold_share_micro, "
        "       gold = pred AS correct "
        "FROM pred GROUP BY gold, pred"
    )


@_q("text_langid_eval", _langid_eval_sql())
def text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID quality adjudication AS A QUERY (the
    lsh_recall_eval / ann_recall_eval pattern applied to the text
    family): the confusion matrix of text_lang_id's marker-argmax
    guess against the corpus's gold ``lang`` label, with each cell's
    within-gold share as a ×1e6 integer — per-class recall sits on
    the diagonal, and every off-diagonal cell says exactly which
    language pair the heuristic confuses and how often. This is the
    eval a pipeline runs before trusting a classifier gate to filter
    100 TB: the gate's error structure, measured on the same engine
    and data as the gate itself.

    Plan: one scan (the scoring is the same map-only expression tree
    as text_lang_id), one partial-aggregated shuffle to the
    |langs|² confusion grain, a window over that dim-sized frame."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    pred = TX.with_lang_guess(docs).select(
        F.col("lang").alias("gold"), F.col("lang_guess").alias("pred")
    )
    cell = pred.groupBy("gold", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return cell.select(
        "gold", "pred", "n",
        F.expr("(1000000 * n) div sum(n) OVER (PARTITION BY gold)")
        .cast("bigint")
        .alias("gold_share_micro"),
        (F.col("gold") == F.col("pred")).alias("correct"),
    )


@_q(
    "curate_gate_ablation",
    r"""
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
flags AS (
  SELECT CASE WHEN n_tokens BETWEEN 20 AND 10000 THEN 0 ELSE 1 END AS f_len,
         CASE WHEN stopword_ratio >= 0.01 THEN 0 ELSE 1 END AS f_stop,
         CASE WHEN digit_ratio <= 0.30 THEN 0 ELSE 1 END AS f_digit,
         CASE WHEN dup_2gram_frac <= 0.20 THEN 0 ELSE 1 END AS f_rep
  FROM f
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(f_len) AS BIGINT) AS nf_len,
         CAST(sum(f_stop) AS BIGINT) AS nf_stop,
         CAST(sum(f_digit) AS BIGINT) AS nf_digit,
         CAST(sum(f_rep) AS BIGINT) AS nf_rep,
         CAST(sum(CASE WHEN f_len + f_stop + f_digit + f_rep = f_len AND f_len = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS only_len,
         CAST(sum(CASE WHEN f_len + f_stop + f_digit + f_rep = f_stop AND f_stop = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS only_stop,
         CAST(sum(CASE WHEN f_len + f_stop + f_digit + f_rep = f_digit AND f_digit = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS only_digit,
         CAST(sum(CASE WHEN f_len + f_stop + f_digit + f_rep = f_rep AND f_rep = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS only_rep,
         CAST(sum(CASE WHEN f_len + f_stop + f_digit + f_rep >= 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_any,
         CAST(sum(CASE WHEN f_len + f_stop + f_digit + f_rep = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_exactly_one
  FROM flags
)
SELECT 'length' AS gate, n_docs, nf_len AS n_fail, only_len AS n_fail_only,
       CAST((1000000 * nf_len) // n_docs AS BIGINT) AS fail_micro FROM s
UNION ALL
SELECT 'stopword', n_docs, nf_stop, only_stop, CAST((1000000 * nf_stop) // n_docs AS BIGINT) FROM s
UNION ALL
SELECT 'digit', n_docs, nf_digit, only_digit, CAST((1000000 * nf_digit) // n_docs AS BIGINT) FROM s
UNION ALL
SELECT 'repetition', n_docs, nf_rep, only_rep, CAST((1000000 * nf_rep) // n_docs AS BIGINT) FROM s
UNION ALL
SELECT '__any__', n_docs, n_any, n_exactly_one, CAST((1000000 * n_any) // n_docs AS BIGINT) FROM s
""",
)
def curate_gate_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate ablation report — the question a curation run
    answers before committing a filter stack to 100 TB: what does
    EACH gate reject, and what does it reject that NO OTHER gate
    would catch (n_fail_only — a gate whose unique contribution is
    ~0 is redundant; one that uniquely drops 5% deserves review
    before it deletes a petabyte). Four standard gates (length
    bounds, stopword floor, digit ceiling, duplicate-2-gram ceiling)
    over the SAME rounded feature definitions as
    curate_quality_logit, so the ablation describes exactly the
    features the scoring model sees. The '__any__' row carries the
    stack's total rejection and the exactly-one-gate count.

    Plan: one scan computes all four flags map-only, one
    partial-aggregated reduce to a single moment row, and the
    five-row report is literal projections of that row — adding a
    gate is one flag column, not a new pass."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    feats = TX.with_repetition_stats(TX.with_quality_score(TX.with_text_stats(docs)))
    f_len = F.when(F.col("n_tokens").between(20, 10000), 0).otherwise(1)
    f_stop = F.when(F.col("stopword_ratio") >= 0.01, 0).otherwise(1)
    f_digit = F.when(F.col("digit_ratio") <= 0.30, 0).otherwise(1)
    f_rep = F.when(F.col("dup_2gram_frac") <= 0.20, 0).otherwise(1)
    flags = feats.select(
        f_len.alias("f_len"), f_stop.alias("f_stop"),
        f_digit.alias("f_digit"), f_rep.alias("f_rep"),
    ).withColumn("nf", F.col("f_len") + F.col("f_stop") + F.col("f_digit") + F.col("f_rep"))
    def only(g: str):
        return F.sum(
            F.when((F.col("nf") == F.col(g)) & (F.col(g) == 1), 1).otherwise(0)
        ).cast("bigint")
    s = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("f_len").cast("bigint").alias("nf_len"),
        F.sum("f_stop").cast("bigint").alias("nf_stop"),
        F.sum("f_digit").cast("bigint").alias("nf_digit"),
        F.sum("f_rep").cast("bigint").alias("nf_rep"),
        only("f_len").alias("only_len"),
        only("f_stop").alias("only_stop"),
        only("f_digit").alias("only_digit"),
        only("f_rep").alias("only_rep"),
        F.sum(F.when(F.col("nf") >= 1, 1).otherwise(0)).cast("bigint").alias("n_any"),
        F.sum(F.when(F.col("nf") == 1, 1).otherwise(0)).cast("bigint").alias("n_exactly_one"),
    )
    def row(gate: str, fail: str, fail_only: str):
        return s.select(
            F.lit(gate).alias("gate"),
            "n_docs",
            F.col(fail).alias("n_fail"),
            F.col(fail_only).alias("n_fail_only"),
            F.expr(f"(1000000 * {fail}) div n_docs").cast("bigint").alias("fail_micro"),
        )
    return (
        row("length", "nf_len", "only_len")
        .unionByName(row("stopword", "nf_stop", "only_stop"))
        .unionByName(row("digit", "nf_digit", "only_digit"))
        .unionByName(row("repetition", "nf_rep", "only_rep"))
        .unionByName(row("__any__", "n_any", "n_exactly_one"))
    )


@_q(
    "curate_ccnet_buckets",
    r"""
WITH toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t FROM documents),
w AS (SELECT doc_id, unnest(t) AS word FROM toks),
v AS (SELECT word, count(*) AS c FROM w GROUP BY word),
tot AS (SELECT sum(c) AS total FROM v),
lp AS (SELECT word, ln(c / total) AS lp FROM v, tot),
scored AS (
  SELECT doc_id, round(avg(lp), 3) AS avg_logprob
  FROM w JOIN lp USING (word) GROUP BY doc_id
),
ranked AS (
  SELECT d.lang, s.avg_logprob,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY s.avg_logprob DESC, s.doc_id) AS tercile
  FROM scored s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT lang,
       CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       max(avg_logprob) AS best_logprob,
       min(avg_logprob) AS worst_logprob
FROM ranked GROUP BY lang, tercile
""",
)
def curate_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus bucketing: per language,
    documents rank by their unigram-LM typicality
    (text_unigram_logprob's score) and split into terciles — the
    published CommonCrawl curation recipe where 'head' feeds
    training directly, 'middle' gets a second look, and 'tail' is
    dropped or mined for diversity. Ranking runs WITHIN language so
    low-resource languages are never crowded out by English
    typicality norms — the property that makes per-lang bucketing
    the standard over one global threshold. ntile under the pinned
    (score DESC, doc_id) order is engine-identical; scores enter
    ranking ROUNDED (3 decimals), the same stabilization the base
    entry uses. Bucket boundary scores are in the output, so the
    thresholds this run would freeze for STREAMING application to
    new crawl shards are visible and auditable.

    Plan: the LM scoring plan of text_unigram_logprob unchanged
    (vocab shuffle + broadcast-back), a broadcast dim join for lang,
    one per-lang window over doc grain, one rollup to 3·|langs|
    rows."""
    docs = _t(spark, sf_dir, "documents")
    scored = C.unigram_logprob(docs.select("doc_id", "text")).select(
        "doc_id", "avg_logprob"
    )
    ranked = scored.join(
        F.broadcast(docs.select("doc_id", "lang")), "doc_id"
    ).withColumn(
        "tercile",
        F.ntile(3).over(
            W.partitionBy("lang").orderBy(F.desc("avg_logprob"), F.asc("doc_id"))
        ),
    )
    return (
        ranked.groupBy("lang", "tercile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("avg_logprob").alias("best_logprob"),
            F.min("avg_logprob").alias("worst_logprob"),
        )
        .select(
            "lang",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs", "best_logprob", "worst_logprob",
        )
    )


def _class_sep_oracle_sql() -> str:
    """Fisher-style class-separation SQL generated over the 64 dims in
    a FIXED term order (the curate_embedding_outliers convention)."""
    cent = ", ".join(f"avg(v[{i}]) AS c{i}" for i in range(1, _EMB_DIM + 1))
    sumsq = " + ".join(f"v[{i}] * v[{i}]" for i in range(1, _EMB_DIM + 1))
    cnorm2 = " + ".join(f"c.c{i} * c.c{i}" for i in range(1, _EMB_DIM + 1))
    gm = ", ".join(f"sum(n * c{i}) / sum(n) AS g{i}" for i in range(1, _EMB_DIM + 1))
    bdist2 = " + ".join(f"(c.c{i} - g.g{i}) * (c.c{i} - g.g{i})" for i in range(1, _EMB_DIM + 1))
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ss AS (SELECT label, CAST(count(*) AS BIGINT) AS n, sum({sumsq}) AS s2 FROM e GROUP BY label),
c AS (SELECT label, {cent} FROM e GROUP BY label),
g AS (SELECT {gm} FROM c JOIN ss USING (label)),
per AS (
  SELECT c.label, ss.n,
         round(sqrt(ss.s2 / ss.n - ({cnorm2})), 4) AS within_rms,
         round(sqrt({bdist2}), 4) AS centroid_shift
  FROM c JOIN ss ON c.label = ss.label CROSS JOIN g
)
SELECT label, n, within_rms, centroid_shift,
       round(centroid_shift / within_rms, 4) AS separation_ratio
FROM per
"""


@_q("emb_class_separation", _class_sep_oracle_sql())
def emb_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding-space separation report: each label's
    within-class RMS radius (√(E‖x‖² − ‖μ_l‖²), the moment identity
    — no second pass over residuals) against its centroid's distance
    to the GLOBAL mean, and their Fisher-style ratio — the eval that
    says whether labels are actually separable in this embedding
    space before anyone trains a classifier head or trusts
    SemDeDup's cluster blocking on it. A label with ratio ≪ its
    peers is noise or duplicated-label territory; computed per
    class, it localizes the problem where one global silhouette
    number can't.

    Plan: two partial-aggregated shuffles to label grain (moment
    sums and 64 centroid avgs — map side reduces to |labels|·64
    doubles, never an explode), the global mean DERIVED from the
    label-grain rows (count-weighted — never a second corpus pass),
    and label-dim arithmetic in fixed term order with rounded
    outputs (the curate_embedding_outliers float convention)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", S.as_double(F.col("embedding")).alias("v"))
    sumsq = None
    for i in range(1, _EMB_DIM + 1):
        t = F.element_at("v", i) * F.element_at("v", i)
        sumsq = t if sumsq is None else sumsq + t
    ss = e.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), F.sum(sumsq).alias("s2")
    )
    cent = e.groupBy("label").agg(
        *[F.avg(F.element_at("v", i)).alias(f"c{i}") for i in range(1, _EMB_DIM + 1)]
    )
    joined = cent.join(ss, "label")
    g = joined.agg(
        *[
            (F.sum(F.col("n") * F.col(f"c{i}")) / F.sum("n")).alias(f"g{i}")
            for i in range(1, _EMB_DIM + 1)
        ]
    )
    cnorm2 = None
    bdist2 = None
    for i in range(1, _EMB_DIM + 1):
        ct = F.col(f"c{i}") * F.col(f"c{i}")
        bt = (F.col(f"c{i}") - F.col(f"g{i}")) * (F.col(f"c{i}") - F.col(f"g{i}"))
        cnorm2 = ct if cnorm2 is None else cnorm2 + ct
        bdist2 = bt if bdist2 is None else bdist2 + bt
    per = joined.crossJoin(F.broadcast(g)).select(
        "label", "n",
        F.round(F.sqrt(F.col("s2") / F.col("n") - cnorm2), 4).alias("within_rms"),
        F.round(F.sqrt(bdist2), 4).alias("centroid_shift"),
    )
    return per.select(
        "label", "n", "within_rms", "centroid_shift",
        F.round(F.col("centroid_shift") / F.col("within_rms"), 4).alias(
            "separation_ratio"
        ),
    )


def _mmr_oracle_sql() -> str:
    """Unrolled 5-round MMR CTE chain (graph_pagerank's fixed-
    iteration oracle pattern). Scores are built from the same
    loop-order dot products the Spark fold computes (bit-identical —
    the sim_topk precedent), so argmax picks agree without rounding;
    only the reported score is rounded."""
    cos = (
        "list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    rounds = []
    for k in range(2, 6):
        prev = f"s{k - 1}"
        rounds.append(f"""
c{k} AS (
  SELECT c.vec_id, c.rel,
         0.7 * c.rel - 0.3 * max(p.sim) AS score
  FROM cand c
  JOIN p ON p.a = c.vec_id AND p.b IN (SELECT vec_id FROM {prev})
  WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
  GROUP BY c.vec_id, c.rel
),
pick{k} AS (
  SELECT {k} AS rank, vec_id, score FROM c{k}
  ORDER BY score DESC, vec_id LIMIT 1
),
s{k} AS (SELECT vec_id FROM s{k - 1} UNION ALL SELECT vec_id FROM pick{k})""")
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "q AS (SELECT v AS qv FROM e WHERE vec_id = 0), "
        "scored AS (SELECT vec_id, v, "
        + cos.format(a="qv", b="v")
        + " AS rel FROM e CROSS JOIN q WHERE vec_id != 0), "
        "cand AS (SELECT vec_id, v, rel FROM scored ORDER BY rel DESC, vec_id LIMIT 16), "
        "p AS (SELECT a.vec_id AS a, b.vec_id AS b, "
        + cos.format(a="a.v", b="b.v")
        + " AS sim FROM cand a JOIN cand b ON a.vec_id != b.vec_id), "
        "pick1 AS (SELECT 1 AS rank, vec_id, 0.7 * rel AS score FROM cand "
        "ORDER BY rel DESC, vec_id LIMIT 1), "
        "s1 AS (SELECT vec_id FROM pick1),"
        + ",".join(rounds)
        + " SELECT rank, vec_id, round(score, 6) AS score FROM ("
        "SELECT * FROM pick1 UNION ALL SELECT * FROM pick2 UNION ALL "
        "SELECT * FROM pick3 UNION ALL SELECT * FROM pick4 UNION ALL "
        "SELECT * FROM pick5)"
    )


@_q("sim_mmr_rerank", _mmr_oracle_sql())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance reranking — the diversity stage of
    a retrieval stack (RAG context assembly, dedup'd search results):
    from the query's top-16 cosine candidates, greedily pick 5 where
    each pick maximizes λ·relevance − (1−λ)·max-similarity-to-
    already-picked (λ = 0.7 frozen) — pure relevance top-k returns
    five near-copies when the corpus has duplicates; MMR provably
    trades that redundancy for coverage. Greedy selection is
    SEQUENTIAL by nature, so it runs as 5 unrolled plan rounds over
    the 16-row candidate frame (the graph_pagerank fixed-iteration
    treatment): anti-join the picked set, fold max-sim from the
    16×16 pairwise frame, argmax under the pinned (score, id) order.
    All cosines come from the fold/loop dot products both engines
    compute bit-identically (the sim_topk precedent), so every
    argmax agrees without rounding tricks.

    Scale shape: the expensive part is the RELEVANCE scan (broadcast
    query × corpus, zero shuffle — topk_matmul's plan); everything
    after operates on k²=256 pairwise rows regardless of corpus
    size. That candidates-then-rerank split is exactly how
    production retrieval runs MMR at 100 TB."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", S.as_double(F.col("embedding")).alias("v"))
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    rel = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "v", S.cosine(F.col("qv"), F.col("v")).alias("rel"))
    )
    cand = rel.orderBy(F.desc("rel"), F.asc("vec_id")).limit(16).localCheckpoint(eager=True)
    a = cand.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    b = cand.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    p = (
        a.join(b, F.col("a") != F.col("b"))
        .select("a", "b", S.cosine(F.col("va"), F.col("vb")).alias("sim"))
        .localCheckpoint(eager=True)
    )
    pick = (
        cand.orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(1)
        .select(F.lit(1).alias("rank"), "vec_id", (0.7 * F.col("rel")).alias("score"))
    )
    picks = [pick]
    sel = pick.select("vec_id")
    for k in range(2, 6):
        remaining = cand.join(sel, "vec_id", "left_anti")
        ms = (
            remaining.join(p, remaining["vec_id"] == p["a"])
            .join(sel.select(F.col("vec_id").alias("b_sel")), F.col("b") == F.col("b_sel"))
            .groupBy(remaining["vec_id"], "rel")
            .agg(F.max("sim").alias("ms"))
        )
        pk = (
            ms.select(
                F.lit(k).alias("rank"),
                "vec_id",
                (0.7 * F.col("rel") - 0.3 * F.col("ms")).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("vec_id"))
            .limit(1)
        )
        picks.append(pk)
        sel = sel.unionByName(pk.select("vec_id")).localCheckpoint(eager=True)
    out = picks[0]
    for pk in picks[1:]:
        out = out.unionByName(pk)
    return out.select("rank", "vec_id", F.round("score", 6).alias("score"))


@_q(
    "curate_dsir_weights",
    r"""
WITH w AS (
  SELECT d.doc_id, d.lang,
         CAST('0x' || substr(md5(tok), 1, 7) AS BIGINT) % 256 AS b
  FROM (SELECT doc_id, lang, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        FROM documents) d
),
db AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY doc_id, b),
raw AS (SELECT b, CAST(count(*) AS BIGINT) AS cr FROM w GROUP BY b),
tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS ct FROM w WHERE lang = 'en' GROUP BY b),
tot AS (
  SELECT CAST(sum(cr) AS BIGINT) AS nr,
         CAST((SELECT sum(ct) FROM tgt) AS BIGINT) AS nt
  FROM raw
),
term AS (
  SELECT raw.b,
         CAST(floor(1000000000.0 * ln(
           ((coalesce(ct, 0) + 1.0) / (nt + 256)) / ((cr + 1.0) / (nr + 256))
         )) AS BIGINT) AS t_nano
  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot
),
score AS (
  SELECT db.doc_id,
         CAST(sum(db.c) AS BIGINT) AS n_tokens,
         CAST(sum(db.c * term.t_nano) AS BIGINT) AS dsir_nano
  FROM db JOIN term ON db.b = term.b
  GROUP BY db.doc_id
)
SELECT doc_id, n_tokens, dsir_nano,
       row_number() OVER (ORDER BY dsir_nano DESC, doc_id) AS rk
FROM score
ORDER BY dsir_nano DESC, doc_id
LIMIT 20
""",
)
def curate_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling): score every document by how much more likely its
    HASHED token-bucket bag is under the target distribution (here:
    the 'en' slice) than under the raw corpus — the published recipe
    for tilting a web-scale crawl toward a target domain without
    training a classifier. Token features hash into 256 buckets (the
    md5-prefix portable hash), both distributions are
    Laplace-smoothed, and each bucket's log-ratio is fixed-pointed
    to an integer NANO term BEFORE the per-document Σ count·term —
    the BM25 convention again, so document scores are exact BIGINTs
    and the top-20 ranking key (dsir_nano DESC, doc_id) is
    integer-only.

    Plan: one explode feeds three partial-aggregated groupBys
    ((doc, bucket), raw buckets, target buckets); the 256-row term
    table broadcasts back onto the (doc, bucket) grain; top-20 is
    TakeOrderedAndProject. The corpus token stream shuffles once, by
    (doc, bucket) — at 100 TB that's the same shape as
    text_hash_embedding's featurizer, which is the point: DSIR costs
    one featurizer pass."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    w = docs.select(
        "doc_id", "lang",
        F.explode(TX.tokens(F.lower(F.col("text")))).alias("tok"),
    ).select(
        "doc_id", "lang",
        (D.shingle_hash(F.col("tok")) % 256).alias("b"),
    )
    # ONE pass over the exploded token stream: the (doc, lang, bucket)
    # rollup is the only corpus-sized aggregation; raw and target
    # bucket distributions derive from it (≤ |docs|·256 rows), so the
    # featurizer explode is never re-scanned per distribution.
    dlb = (
        w.groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    db = dlb.select("doc_id", "b", "c")
    raw = dlb.groupBy("b").agg(F.sum("c").cast("bigint").alias("cr"))
    tgt = (
        dlb.filter(F.col("lang") == "en")
        .groupBy(F.col("b").alias("bt"))
        .agg(F.sum("c").cast("bigint").alias("ct"))
    )
    tot = raw.agg(F.sum("cr").cast("bigint").alias("nr")).crossJoin(
        tgt.agg(F.sum("ct").cast("bigint").alias("nt"))
    )
    term = (
        raw.join(F.broadcast(tgt), F.col("b") == F.col("bt"), "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.floor(
                1000000000.0
                * F.log(
                    ((F.coalesce(F.col("ct"), F.lit(0)) + 1.0) / (F.col("nt") + 256))
                    / ((F.col("cr") + 1.0) / (F.col("nr") + 256))
                )
            )
            .cast("bigint")
            .alias("t_nano"),
        )
    )
    score = (
        db.join(F.broadcast(term), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * F.col("t_nano")).cast("bigint").alias("dsir_nano"),
        )
    )
    # limit BEFORE rank (global-window-ok: 20 rows post-limit; the
    # rank-then-limit form sorted every doc through one partition —
    # r11 global-window sweep)
    return (
        score.orderBy(F.desc("dsir_nano"), F.asc("doc_id"))
        .limit(20)
        .withColumn(
            # global-window-ok: rank over the limit(20) frame — ≤20 rows
            "rk", F.row_number().over(W.orderBy(F.desc("dsir_nano"), F.asc("doc_id")))
        )
        .select("doc_id", "n_tokens", "dsir_nano", "rk")
    )


@_q(
    "mm_image_ahash_dedup",
    """
WITH d AS (
  SELECT doc_id, doc_id % 50 AS s,
         24 * (4 + (doc_id % 50) % 3) AS nb
  FROM documents
),
i AS (SELECT doc_id, s, nb, unnest(generate_series(0, nb - 1)) AS i FROM d),
v AS (
  SELECT doc_id, nb, i,
         ((((s * 13 + i * 29) * 2654435761) % 4294967296) // 16777216) AS b
  FROM i
),
t AS (SELECT doc_id, CAST(sum(b) AS BIGINT) AS tot FROM v GROUP BY doc_id),
bits AS (
  SELECT v.doc_id,
         CAST(sum(CASE WHEN v.i < 63 AND v.b * v.nb > t.tot
                       THEN (CAST(1 AS BIGINT) << v.i) ELSE 0 END) AS BIGINT) AS ahash
  FROM v JOIN t ON v.doc_id = t.doc_id
  GROUP BY v.doc_id
)
SELECT ahash, CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS keeper_id
FROM bits GROUP BY ahash
""",
)
def mm_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup by perceptual average-hash on REAL decoded pixels:
    payloads are synthesized with a 50-way repeated seed (doc_id % 50
    — the corpus genuinely contains duplicate images) in ALTERNATING
    BMP/PNG containers, each runs the full stdlib decode for its
    format, and the 63-bit aHash groups exact visual duplicates with
    min-id keepers — byte-DIFFERENT containers of the same pixels
    hash identically, the point of perceptual (vs byte) dedup — dedup_exact_groups' hash-groupBy
    shape applied to the MULTIMODAL column, which is how image-heavy
    training sets drop repeated crawl assets without comparing bytes
    pairwise. The DuckDB side replays every pixel byte closed-form
    (the mm_image_histogram convention) INCLUDING the bit positions,
    so a decode bug in row order, channel unpacking, or the
    mean-threshold comparison breaks the hash match — this is the
    ORDER-SENSITIVE pixel check the order-insensitive histogram
    can't express.

    Plan: map-only synthesize + Arrow decode/hash, one
    partial-aggregated shuffle on the 63-bit hash — near-dup images
    would bucket by Hamming bands next (sim_topk_hamming's
    machinery), same as text SimHash."""
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
                s = i % 50
                h = 4 + s % 3
                px = MM.closed_form_pixel_bytes(s, 24 * h)
                # Alternate containers by doc parity (r7, VERDICT r6
                # ask #4): a BMP and a PNG carrying the same canonical
                # pixel stream hash IDENTICALLY because aHash runs on
                # the decoded stream (decode_image_stream), so the
                # corpus's byte-different containers of one stream
                # land in one group and the ORDER-SENSITIVE
                # closed-form oracle covers both.
                if i % 2 == 0:
                    return MM.synthesize_bmp_bytes(8, h, px)
                return MM.synthesize_png(8, h, px)

            yield pd.DataFrame(
                {"media_id": ids, "payload": ids.map(lambda i: build(int(i)))}
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    hashed = MM.image_ahash(media)
    return hashed.groupBy("ahash").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.min("media_id").cast("bigint").alias("keeper_id"),
    )


@_q(
    "mm_audio_silence_segments",
    """
WITH d AS (
  SELECT doc_id, 600 + (doc_id % 5) * 100 AS n FROM documents
),
i AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM d),
s AS (
  SELECT doc_id, i // 200 AS window_idx,
         CASE WHEN (i // 200) % 3 = 2
              THEN (((((doc_id * 31 + i * 17) * 2654435761) % 4294967296) // 65536) - 32768) // 64
              ELSE ((((doc_id * 31 + i * 17) * 2654435761) % 4294967296) // 65536) - 32768
         END AS v
  FROM i
),
w AS (
  SELECT doc_id, window_idx,
         CAST(floor(sqrt(sum(v * v) / count(*)) * 10000) AS BIGINT) AS rms_micro
  FROM s GROUP BY doc_id, window_idx
),
sil AS (
  SELECT doc_id, window_idx,
         window_idx - row_number() OVER (PARTITION BY doc_id ORDER BY window_idx) AS grp
  FROM w WHERE rms_micro < 10000000
),
seg AS (
  SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run
  FROM sil GROUP BY doc_id, grp
)
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(run) AS BIGINT) AS n_silent_windows,
       CAST(max(run) AS BIGINT) AS longest_run
FROM seg GROUP BY doc_id
""",
)
def mm_audio_silence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence detection over REAL decoded audio: the synthesized
    waveforms carry a closed-form amplitude ENVELOPE (every third
    200-sample window attenuated 64×), the Arrow stage decodes PCM
    and computes windowed RMS (mm_audio_rms's DSP), and silent
    windows (< 1e7 micro ≈ −36 dB vs the loud floor) merge into
    segments by the gaps-and-islands identity (idx − row_number) —
    per clip: segment count, total silent windows, longest run. This
    is the pre-processing cut every speech pipeline makes (strip
    silence before feature extraction / transcription), and the
    first mm entry whose oracle must reproduce STRUCTURE (runs),
    not just per-window values: the envelope, the decode, the RMS,
    the threshold, and the island grouping all have to agree.

    Plan: map-only synthesize + Arrow DSP, one shuffle to (clip,
    window) grain, per-clip windows over ≤5-row frames, two tiny
    rollups."""
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
                base = MM.closed_form_samples(i, 600 + i % 5 * 100)
                shaped = [
                    v // 64 if (j // 200) % 3 == 2 else v
                    for j, v in enumerate(base)
                ]
                return MM.synthesize_wav_samples(shaped)

            yield pd.DataFrame(
                {"media_id": ids, "payload": ids.map(lambda i: build(int(i)))}
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    w = MM.audio_rms_windows(media, window=200)
    sil = w.filter(F.col("rms_micro") < 10000000).select(
        "media_id", "window_idx",
        (
            F.col("window_idx")
            - F.row_number().over(W.partitionBy("media_id").orderBy("window_idx"))
        ).alias("grp"),
    )
    seg = sil.groupBy("media_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("run")
    )
    return seg.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.sum("run").cast("bigint").alias("n_silent_windows"),
        F.max("run").cast("bigint").alias("longest_run"),
    )


@_q(
    "mm_audio_zero_crossings",
    """
WITH d AS (
  SELECT doc_id, 600 + (doc_id % 5) * 100 AS n FROM documents
),
i AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM d),
s AS (
  SELECT doc_id, i, i // 200 AS window_idx,
         ((((doc_id * 31 + i * 17) * 2654435761) % 4294967296) // 65536) - 32768 AS v
  FROM i
),
p AS (
  SELECT doc_id, window_idx, i,
         CASE WHEN i % 200 <> 0
                   AND ((v >= 0) <> (lag(v) OVER (PARTITION BY doc_id ORDER BY i) >= 0))
              THEN 1 ELSE 0 END AS x
  FROM s
)
SELECT doc_id AS media_id,
       CAST(window_idx AS BIGINT) AS window_idx,
       CAST(sum(CASE WHEN i % 200 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       CAST(sum(x) AS BIGINT) AS n_crossings
FROM p GROUP BY doc_id, window_idx
""",
)
def mm_audio_zero_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed zero-crossing counts over REAL decoded PCM — the
    voiced/unvoiced + noisiness feature every audio front end pairs
    with RMS (mm_audio_rms), here as the ORDER-SENSITIVE member of
    the audio family: RMS is an order-independent Σv², but a crossing
    couples each sample to its PREDECESSOR (sign flip between
    consecutive samples, window-interior pairs only), so a decode bug
    that permutes, drops, or byte-swaps samples moves the count even
    when the sample multiset — and hence RMS — is untouched. The
    sequential twin of the Sobel entry's spatial coupling.

    Same closed-form waveform as mm_audio_rms (DuckDB replays every
    sample with generate_series and a lag window); the Spark side
    synthesizes WAVs on executors, decodes via the RIFF walk, and
    counts numpy sign-diffs per 200-sample window — all integer, in
    one Arrow stage, zero shuffles (the oracle pays a per-sample
    window function; Spark never materializes a sample row)."""
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
    return MM.audio_zero_crossings(media, window=200)


@_q(
    "mm_image_edge_density",
    """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 3 AS h FROM documents
),
yy AS (SELECT doc_id, h, unnest(generate_series(0, h - 1)) AS y FROM d),
px AS (SELECT doc_id, h, y, unnest(generate_series(0, 7)) AS x FROM yy),
g AS (
  SELECT doc_id, h, x, y,
         (((((doc_id * 13 + ((y * 8 + x) * 3 + 0) * 29) * 2654435761) % 4294967296) // 16777216)
        + ((((doc_id * 13 + ((y * 8 + x) * 3 + 1) * 29) * 2654435761) % 4294967296) // 16777216)
        + ((((doc_id * 13 + ((y * 8 + x) * 3 + 2) * 29) * 2654435761) % 4294967296) // 16777216)
         ) // 3 AS v
  FROM px
),
s AS (
  SELECT a.doc_id, a.x, a.y,
         sum((n.x - a.x) * (2 - abs(n.y - a.y)) * n.v) AS gx,
         sum((n.y - a.y) * (2 - abs(n.x - a.x)) * n.v) AS gy
  FROM g a JOIN g n
    ON n.doc_id = a.doc_id
   AND n.x BETWEEN a.x - 1 AND a.x + 1
   AND n.y BETWEEN a.y - 1 AND a.y + 1
  WHERE a.x BETWEEN 1 AND 6 AND a.y BETWEEN 1 AND a.h - 2
  GROUP BY a.doc_id, a.x, a.y
)
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_interior,
       CAST(sum(CASE WHEN gx * gx + gy * gy >= 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_edges,
       CAST((sum(CASE WHEN gx * gx + gy * gy >= 200000 THEN 1 ELSE 0 END) * 10000) // count(*)
            AS BIGINT) AS edge_bp
FROM s GROUP BY doc_id
""",
)
def mm_image_edge_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sobel edge density over REAL decoded pixels — the image-
    complexity / blur screen a multimodal curation pipeline runs
    before training (flat frames carry little signal; aHash dedup
    keeps one copy, edge density decides whether any copy is worth
    keeping). Same corpus shape as mm_image_histogram: closed-form
    pixel bytes in ALTERNATING containers (even ids BMP, odd PNG),
    full stdlib decode, then the 3×3 Sobel operator on every interior
    pixel as numpy integer slice arithmetic
    (operators/multimodal.image_edge_density) — edge iff
    gx² + gy² ≥ 200000 (compared SQUARED: no sqrt, no float anywhere).

    This is the strongest spatial differential in the mm family: the
    histogram is order-INsensitive and aHash tests a per-byte
    threshold, but a Sobel gradient couples each pixel to its 8
    NEIGHBOURS, so any decode bug in row order, adjacency, or stride
    moves gradients and breaks the match. The oracle replays the
    closed-form grid with a single top-down mapping for BOTH
    containers: the BMP grid is the vertical FLIP of the PNG grid
    (bottom-up storage, and gray sums the channel triple so BGR vs
    RGB cancels), and Sobel magnitude² is flip-invariant — under
    y → h−1−y the symmetric-row Gx is unchanged and Gy negates, so
    gx² + gy² and the interior census are identical. The 9-neighbour
    self-join is the oracle's cost, not Spark's: the Spark side is
    map-only (synthesize + decode + convolve inside one Arrow stage,
    zero shuffles), which is exactly how a 100 TB image sweep must
    run — per-image work local to the payload batch, no pixel ever
    shuffled."""
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
                if i % 2 == 0:
                    return MM.synthesize_bmp_bytes(8, h, px)
                return MM.synthesize_png(8, h, px)

            yield pd.DataFrame(
                {"media_id": ids, "payload": ids.map(lambda i: build(int(i)))}
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    return MM.image_edge_density(media, thresh_sq=200000)


@_q(
    "curate_quality_auc",
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
sc AS (
  SELECT doc_id,
         CAST(floor(10000.0 * ({_LOGIT_B} + {_LOGIT_W_LNTOK} * ln(n_tokens)
                    + {_LOGIT_W_STOP} * stopword_ratio
                    + {_LOGIT_W_DIGIT} * digit_ratio
                    + {_LOGIT_W_DUP} * dup_2gram_frac)) AS BIGINT) AS z4,
         CASE WHEN n_tokens BETWEEN 20 AND 10000
               AND stopword_ratio >= 0.01
               AND digit_ratio <= 0.30
               AND dup_2gram_frac <= 0.20 THEN 1 ELSE 0 END AS label
  FROM f
),
g AS (
  SELECT z4,
         CAST(sum(label) AS BIGINT) AS n_pos,
         CAST(count(*) - sum(label) AS BIGINT) AS n_neg
  FROM sc GROUP BY z4
),
c AS (
  SELECT n_pos, n_neg,
         CAST(coalesce(sum(n_neg) OVER (ORDER BY z4
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumneg
  FROM g
),
s AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS np,
         CAST(sum(n_neg) AS BIGINT) AS nn,
         CAST(sum(n_pos * (2 * cumneg + n_neg)) AS BIGINT) AS auc2_num
  FROM c
)
SELECT np AS n_pos, nn AS n_neg, auc2_num,
       CAST((1000000 * auc2_num) // (2 * np * nn) AS BIGINT) AS auc_micro
FROM s
""",
)
def curate_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of the fixed-weight quality logit
    (curate_quality_logit's score) against the hard gate stack
    (curate_gate_ablation's pass-all label) — classifier evaluation
    at corpus scale with no sampling and no trapezoid approximation,
    via the AUC ≡ U/(n₊·n₋) identity: on the score VALUE GRAIN
    (scores fixed-pointed to 1e4 before grouping), 2·AUC·n₊·n₋ =
    Σ n₊(s)·(2·cumneg₍₋₎ + n₋(s)) counts win-pairs + half-ties as an
    exact BIGINT — the a_mannwhitney_u machinery pointed at model
    eval. This closes the model-eval loop the curation family needs:
    ablation says what the GATES do, calibration-free AUC says how
    well the SCORE orders documents against them, before anyone
    trusts a threshold at 100 TB.

    Plan: one scan computes score and label map-only, one
    partial-aggregated shuffle to score grain, one running window
    over that frame, a scalar reduce."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    feats = TX.with_repetition_stats(TX.with_quality_score(TX.with_text_stats(docs)))
    z = (
        _LOGIT_B
        + _LOGIT_W_LNTOK * F.log(F.col("n_tokens"))
        + _LOGIT_W_STOP * F.col("stopword_ratio")
        + _LOGIT_W_DIGIT * F.col("digit_ratio")
        + _LOGIT_W_DUP * F.col("dup_2gram_frac")
    )
    label = (
        F.when(
            F.col("n_tokens").between(20, 10000)
            & (F.col("stopword_ratio") >= 0.01)
            & (F.col("digit_ratio") <= 0.30)
            & (F.col("dup_2gram_frac") <= 0.20),
            1,
        ).otherwise(0)
    )
    sc = feats.select(
        F.floor(10000.0 * z).cast("bigint").alias("z4"), label.alias("label")
    )
    g = sc.groupBy("z4").agg(
        F.sum("label").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("bigint").alias("n_neg"),
    )
    # global-window-ok: input is the z4 score-grain aggregate — z∈[0,1] fixed-pointed to ≤10⁴ distinct values
    wb = W.orderBy("z4").rowsBetween(W.unboundedPreceding, -1)
    c = g.select(
        "n_pos", "n_neg",
        F.coalesce(F.sum("n_neg").over(wb), F.lit(0)).cast("bigint").alias("cumneg"),
    )
    s = c.agg(
        F.sum("n_pos").cast("bigint").alias("np"),
        F.sum("n_neg").cast("bigint").alias("nn"),
        F.sum(F.col("n_pos") * (2 * F.col("cumneg") + F.col("n_neg")))
        .cast("bigint")
        .alias("auc2_num"),
    )
    return s.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        "auc2_num",
        F.expr("(1000000 * auc2_num) div (2 * np * nn)").cast("bigint").alias("auc_micro"),
    )


@_q(
    "curate_f1_threshold",
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
sc AS (
  SELECT CAST(floor(10000.0 * ({_LOGIT_B} + {_LOGIT_W_LNTOK} * ln(n_tokens)
                    + {_LOGIT_W_STOP} * stopword_ratio
                    + {_LOGIT_W_DIGIT} * digit_ratio
                    + {_LOGIT_W_DUP} * dup_2gram_frac)) AS BIGINT) AS z4,
         CASE WHEN n_tokens BETWEEN 20 AND 10000
               AND stopword_ratio >= 0.01
               AND digit_ratio <= 0.30
               AND dup_2gram_frac <= 0.20 THEN 1 ELSE 0 END AS label
  FROM f
),
g AS (
  SELECT z4,
         CAST(sum(label) AS BIGINT) AS n_pos,
         CAST(count(*) - sum(label) AS BIGINT) AS n_neg
  FROM sc GROUP BY z4
),
tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS np FROM g),
c AS (
  SELECT z4,
         CAST(sum(n_pos) OVER (ORDER BY z4 DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         CAST(sum(n_neg) OVER (ORDER BY z4 DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
  FROM g
),
s AS (
  SELECT z4, tp, fp, np - tp AS fn,
         CAST((2000000 * tp) // (2 * tp + fp + (np - tp)) AS BIGINT) AS f1_micro
  FROM c CROSS JOIN tot
)
SELECT z4 AS threshold_z4, tp, fp, fn, f1_micro
FROM s
ORDER BY f1_micro DESC, z4 DESC
LIMIT 1
""",
)
def curate_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operational companion to curate_quality_auc: the EXACT
    F1-optimal cut of the quality score against the gate-stack
    label, swept over every distinct score in one pass — the
    threshold a pipeline freezes before applying "keep score ≥ t" to
    100 TB. On the score value grain, descending cumulative sums
    give (TP, FP) at every candidate cut simultaneously; F1 =
    2TP/(2TP+FP+FN) is fixed-pointed per threshold from exact
    integers and the argmax is pinned by (F1, threshold). No
    sampling, no grid — the full sweep costs one window over the
    |distinct scores| frame.

    Plan: same scan + score-grain shuffle as the AUC entry, one
    descending running window, TakeOrderedAndProject for the
    argmax."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    feats = TX.with_repetition_stats(TX.with_quality_score(TX.with_text_stats(docs)))
    z = (
        _LOGIT_B
        + _LOGIT_W_LNTOK * F.log(F.col("n_tokens"))
        + _LOGIT_W_STOP * F.col("stopword_ratio")
        + _LOGIT_W_DIGIT * F.col("digit_ratio")
        + _LOGIT_W_DUP * F.col("dup_2gram_frac")
    )
    label = (
        F.when(
            F.col("n_tokens").between(20, 10000)
            & (F.col("stopword_ratio") >= 0.01)
            & (F.col("digit_ratio") <= 0.30)
            & (F.col("dup_2gram_frac") <= 0.20),
            1,
        ).otherwise(0)
    )
    sc = feats.select(
        F.floor(10000.0 * z).cast("bigint").alias("z4"), label.alias("label")
    )
    g = sc.groupBy("z4").agg(
        F.sum("label").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("bigint").alias("n_neg"),
    )
    tot = g.agg(F.sum("n_pos").cast("bigint").alias("np"))
    # global-window-ok: input is the z4 score-grain aggregate — ≤10⁴ distinct values
    wd = W.orderBy(F.desc("z4")).rowsBetween(W.unboundedPreceding, W.currentRow)
    c = g.select(
        "z4",
        F.sum("n_pos").over(wd).cast("bigint").alias("tp"),
        F.sum("n_neg").over(wd).cast("bigint").alias("fp"),
    )
    s = c.crossJoin(F.broadcast(tot)).select(
        "z4", "tp", "fp",
        (F.col("np") - F.col("tp")).alias("fn"),
        F.expr("(2000000 * tp) div (2 * tp + fp + (np - tp))")
        .cast("bigint")
        .alias("f1_micro"),
    )
    return (
        s.orderBy(F.desc("f1_micro"), F.desc("z4"))
        .limit(1)
        .select(F.col("z4").alias("threshold_z4"), "tp", "fp", "fn", "f1_micro")
    )


@_q(
    "dedup_yield_curve",
    r"""
WITH h AS (
  SELECT doc_id,
         array_to_string(string_split_regex(lower(trim(text)), '\s+')[1:8], ' ') AS ch
  FROM documents
),
k AS (SELECT ch, min(doc_id) AS keeper FROM h GROUP BY ch),
d AS (
  SELECT h.doc_id, h.doc_id > k.keeper AS is_dup
  FROM h JOIN k ON h.ch = k.ch
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
pref AS (
  SELECT 1 AS quarter, CAST(count(*) AS BIGINT) AS n_seen,
         CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
  FROM d CROSS JOIN nd WHERE 4 * doc_id < n_docs
  UNION ALL
  SELECT 2, CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
  FROM d CROSS JOIN nd WHERE 2 * doc_id < n_docs
  UNION ALL
  SELECT 3, CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
  FROM d CROSS JOIN nd WHERE 4 * doc_id < 3 * n_docs
  UNION ALL
  SELECT 4, CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
  FROM d
)
SELECT quarter, n_seen, n_dups,
       CAST((1000000 * n_dups) // n_seen AS BIGINT) AS dup_rate_micro
FROM pref
""",
)
def dedup_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup yield curve: the exact-duplicate rate measured over
    growing arrival-order prefixes (¼, ½, ¾, full corpus, doc_id as
    arrival) — the capacity-planning signal behind every dedup run:
    duplication compounds superlinearly as a crawl grows (each new
    doc can collide with everything before it), so the rate at
    today's size UNDERSTATES the rate at 4×, and this curve is the
    measured extrapolation base for storage and compute budgets.
    The duplicate key is the 8-token LEDE (syndicated articles and
    templated pages share openings long before full texts match —
    full-content duplicates are this corpus's rarer exact-dedup
    case); a document counts as duplicate iff an earlier doc
    (smaller id) shares its lede — the keeper rule — computed
    WITHOUT four scans: one hash pass, one keeper aggregate,
    then four filtered rollups of the same (doc, is_dup) frame.

    Plan: one shuffle to content-hash grain, a keeper join back,
    four partial-aggregated slices of one stream; the prefix
    predicates are integer comparisons against the broadcast corpus
    size."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    h = docs.select(
        "doc_id",
        F.array_join(
            F.slice(TX.tokens(F.lower(F.col("text"))), 1, 8), " "
        ).alias("ch"),
    )
    k = h.groupBy("ch").agg(F.min("doc_id").alias("keeper"))
    d = h.join(k, "ch").select(
        "doc_id", (F.col("doc_id") > F.col("keeper")).alias("is_dup")
    ).localCheckpoint(eager=True)
    nd = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    dd = d.crossJoin(F.broadcast(nd))
    def slice_(q: int, pred):
        return dd.filter(pred).agg(
            F.lit(q).alias("quarter"),
            F.count(F.lit(1)).cast("bigint").alias("n_seen"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dups"),
        )
    out = (
        slice_(1, 4 * F.col("doc_id") < F.col("n_docs"))
        .unionByName(slice_(2, 2 * F.col("doc_id") < F.col("n_docs")))
        .unionByName(slice_(3, 4 * F.col("doc_id") < 3 * F.col("n_docs")))
        .unionByName(slice_(4, F.lit(True)))
    )
    return out.select(
        "quarter", "n_seen", "n_dups",
        F.expr("(1000000 * n_dups) div n_seen").cast("bigint").alias("dup_rate_micro"),
    )


def _langid_kappa_sql() -> str:
    """Cohen's kappa oracle over the SAME confusion cells as
    text_langid_eval (shared scoring text)."""
    profiles = list(TX.DEFAULT_LANG_PROFILES.items())
    score_cols = ", ".join(
        "len(list_filter(t, x -> list_contains(["
        + ",".join(f"'{m}'" for m in markers)
        + f"], x))) AS score_{name}"
        for name, markers in profiles
    )
    guess, best = f"'{profiles[0][0]}'", f"score_{profiles[0][0]}"
    for name, _ in profiles[1:]:
        guess = f"CASE WHEN score_{name} > {best} THEN '{name}' ELSE {guess} END"
        best = f"CASE WHEN score_{name} > {best} THEN score_{name} ELSE {best} END"
    return (
        r"WITH toks AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS t"
        " FROM documents), "
        f"scored AS (SELECT doc_id, lang, {score_cols} FROM toks), "
        f"pred AS (SELECT lang AS gold, {guess} AS pred FROM scored), "
        "cell AS (SELECT gold, pred, CAST(count(*) AS BIGINT) AS n FROM pred GROUP BY gold, pred), "
        "marg AS (SELECT coalesce(g.gold, p.pred) AS cls, "
        "         coalesce(g.rn, 0) AS row_n, coalesce(p.cn, 0) AS col_n FROM "
        "  (SELECT gold, CAST(sum(n) AS BIGINT) AS rn FROM cell GROUP BY gold) g "
        "  FULL OUTER JOIN "
        "  (SELECT pred, CAST(sum(n) AS BIGINT) AS cn FROM cell GROUP BY pred) p "
        "  ON g.gold = p.pred), "
        "s AS (SELECT "
        "  (SELECT CAST(sum(n) AS BIGINT) FROM cell) AS nt, "
        "  (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM cell WHERE gold = pred) AS agree, "
        "  CAST(sum(row_n * col_n) AS BIGINT) AS chance_num "
        "  FROM marg) "
        "SELECT nt AS n_docs, agree AS n_agree, chance_num, "
        "  CAST(floor(1000000.0 * (CAST(nt AS DOUBLE) * agree - chance_num) "
        "       / (CAST(nt AS DOUBLE) * nt - chance_num)) AS BIGINT) AS kappa_micro "
        "FROM s"
    )


@_q("text_langid_kappa", _langid_kappa_sql())
def text_langid_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the language-ID gate: chance-corrected
    agreement between the marker-argmax guess and the gold label —
    the honest summary of text_langid_eval's confusion matrix when
    classes are imbalanced (raw accuracy is inflated by the dominant
    class; kappa subtracts the agreement the marginals alone would
    produce). κ = (N·Σdiag − Σrowᵢ·colᵢ)/(N² − Σrowᵢ·colᵢ): both
    numerator and denominator are exact BIGINT cross-products of
    cell counts; one double division, floored. Classes appearing
    only as gold or only as prediction enter via the full-outer
    marginal join with a zero partner (their chance product is 0,
    exactly as the formula wants).

    Plan: the lang-id scoring scan, one shuffle to the |langs|²
    cell grid, marginals + a scalar row derived from the cells."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    pred = TX.with_lang_guess(docs).select(
        F.col("lang").alias("gold"), F.col("lang_guess").alias("pred")
    )
    cell = pred.groupBy("gold", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    ).localCheckpoint(eager=True)
    rows_ = cell.groupBy("gold").agg(F.sum("n").cast("bigint").alias("rn"))
    cols_ = cell.groupBy(F.col("pred").alias("pcls")).agg(
        F.sum("n").cast("bigint").alias("cn")
    )
    marg = rows_.join(cols_, F.col("gold") == F.col("pcls"), "full_outer").select(
        F.coalesce(F.col("rn"), F.lit(0)).alias("row_n"),
        F.coalesce(F.col("cn"), F.lit(0)).alias("col_n"),
    )
    chance = marg.agg(
        F.sum(F.col("row_n") * F.col("col_n")).cast("bigint").alias("chance_num")
    )
    base = cell.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(F.when(F.col("gold") == F.col("pred"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("agree"),
    )
    return base.crossJoin(F.broadcast(chance)).select(
        F.col("nt").alias("n_docs"),
        F.col("agree").alias("n_agree"),
        "chance_num",
        F.floor(
            1000000.0
            * (F.col("nt").cast("double") * F.col("agree") - F.col("chance_num"))
            / (F.col("nt").cast("double") * F.col("nt") - F.col("chance_num"))
        )
        .cast("bigint")
        .alias("kappa_micro"),
    )


@_q(
    "text_readability_flesch",
    r"""
WITH s AS (
  SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '[.!?]+ '),
              x -> length(trim(x)) > 0)) AS BIGINT) AS n_sent,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_words,
         CAST(greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS BIGINT)
           AS n_syll
  FROM documents
)
SELECT doc_id, n_sent, n_words, n_syll,
       CAST(floor(1000.0 * (206.835
            - 1.015 * CAST(n_words AS DOUBLE) / greatest(n_sent, 1)
            - 84.6 * CAST(n_syll AS DOUBLE) / greatest(n_words, 1))) AS BIGINT)
         AS flesch_milli
FROM s
""",
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with a vowel-run syllable
    heuristic (maximal [aeiouy]+ groups ≈ syllables — the standard
    cheap proxy; the regex is lookahead-free so Java and RE2 count
    identically) and the text_sentence_split segmentation rule —
    readability joins the quality-feature family
    (text_quality_stats' ratios, repetition, LM typicality) as the
    classic fluency signal curation stacks threshold on: very low
    ease flags legalese/boilerplate, implausibly high flags
    token-salad. Counts are exact integers; the published Flesch
    constants are frozen in the query text and the one double
    expression is fixed-pointed to milli units.

    Plan: pure map pass — three regex counts per row, no shuffle at
    all; composes with the curation gate at zero extra cost."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n_sent = F.size(
        F.filter(
            F.split("text", r"[.!?]+ "),
            lambda x: F.length(F.trim(x)) > 0,
        )
    ).cast("bigint")
    n_words = F.size(TX.tokens(F.col("text"))).cast("bigint")
    n_syll = F.greatest(
        F.size(F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
        F.lit(1),
    ).cast("bigint")
    s = docs.select(
        "doc_id",
        n_sent.alias("n_sent"),
        n_words.alias("n_words"),
        n_syll.alias("n_syll"),
    )
    ease = (
        206.835
        - 1.015 * F.col("n_words").cast("double") / F.greatest(F.col("n_sent"), F.lit(1))
        - 84.6 * F.col("n_syll").cast("double") / F.greatest(F.col("n_words"), F.lit(1))
    )
    return s.select(
        "doc_id", "n_sent", "n_words", "n_syll",
        F.floor(1000.0 * ease).cast("bigint").alias("flesch_milli"),
    )
