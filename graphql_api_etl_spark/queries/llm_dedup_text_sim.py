"""LLM-pipeline catalog, part 1: shared oracle-SQL fragments, document
dedup (exact/MinHash/SimHash/n-gram/URL/containment), text quality
and language-ID, similarity search ladder, multimodal binary
plumbing, embedding-cosine near-dup, lookup-replace, sliding
windows.

Split out of the round-11 query monolith (r12, VERDICT ask #4):
a pure move — entries register into the shared QUERIES dict in
the original order via the package __init__ import sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphql_api_etl_spark.operators import dedup as D
from graphql_api_etl_spark.operators import multimodal as MM
from graphql_api_etl_spark.operators import similarity as S
from graphql_api_etl_spark.operators import text as TX
from graphql_api_etl_spark.queries._registry import _q, _t

# ---------------------------------------------------------------------------
# Shared oracle-SQL fragments (DuckDB), mirroring operators.text/dedup.
# ---------------------------------------------------------------------------

_NORM_TEXT = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"

# Raw tokens (quality/lang-ID) vs case-normalized tokens (dedup:
# shingles/simhash tokenize norm_text — "The" ≡ "the" for dedup only).
_TOKS_CTE = r"toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents)"
_NTOKS_CTE = r"toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents)"

# Distinct word-2-gram shingles; short docs collapse to one whole-text
# shingle (mirrors dedup.shingles).
_SHS_CTE = (
    "shs AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 2 "
    "THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) "
    "ELSE [array_to_string(t, ' ')] END) AS sh FROM toks)"
)

# 28-bit engine-portable shingle hash (dedup.shingle_hash).
_HV = "CAST('0x' || substr(md5(shingle), 1, 7) AS BIGINT)"


def _minhash_sig_sql() -> str:
    """CTE chain ending in sig(doc_id, m0..m{k-1}) — same (a, b)
    coefficients as dedup.minhash_params()."""
    mins = ", ".join(
        f"min(({a} * hv + {b}) % {D.MINHASH_P}) AS m{i}"
        for i, (a, b) in enumerate(D.minhash_params())
    )
    return (
        f"{_NTOKS_CTE}, {_SHS_CTE}, "
        "sh AS (SELECT doc_id, unnest(sh) AS shingle FROM shs), "
        f"h AS (SELECT doc_id, {_HV} AS hv FROM sh), "
        f"sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id)"
    )


def _lsh_pairs_sql(threshold: float, prefilter_slack: float = 0.25) -> str:
    rows = D.N_MINHASHES // D.LSH_BANDS
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band_idx, "
        + " || '-' || ".join(f"CAST(m{j * rows + r} AS VARCHAR)" for r in range(rows))
        + " AS band_key FROM sig"
        for j in range(D.LSH_BANDS)
    )
    min_match = int(max(0.0, threshold - prefilter_slack) * D.N_MINHASHES)
    match_expr = " + ".join(
        f"CASE WHEN za.m{i} = zb.m{i} THEN 1 ELSE 0 END" for i in range(D.N_MINHASHES)
    )
    return (
        f"WITH {_minhash_sig_sql()}, "
        f"bands AS ({band_selects}), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM bands a JOIN bands b USING (band_idx, band_key) WHERE a.doc_id < b.doc_id), "
        # signature-agreement prefilter (mirrors dedup.signature_agreement)
        f"pref AS (SELECT id_a, id_b FROM cand "
        "JOIN sig za ON za.doc_id = id_a JOIN sig zb ON zb.doc_id = id_b "
        f"WHERE {match_expr} >= {min_match}), "
        "sizes AS (SELECT doc_id, len(sh) AS sz FROM shs), "
        "inv AS (SELECT doc_id, unnest(sh) AS shingle FROM shs), "
        "common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common "
        "FROM inv a JOIN inv b USING (shingle) "
        "JOIN pref ON pref.id_a = a.doc_id AND pref.id_b = b.doc_id GROUP BY 1, 2), "
        "scored AS (SELECT id_a, id_b, "
        "round(n_common::DOUBLE / (za.sz + zb.sz - n_common), 4) AS jaccard "
        "FROM common JOIN sizes za ON za.doc_id = id_a JOIN sizes zb ON zb.doc_id = id_b) "
        f"SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {threshold}"
    )


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------


@_q(
    "dedup_exact_groups",
    f"""
SELECT md5({_NORM_TEXT}) AS content_hash,
       count(*) AS n_copies,
       min(doc_id) AS keeper_id
FROM documents GROUP BY 1
""",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy over normalized content (scale path
    for A2's drop_duplicates, ETL:781). One shuffle on the md5 key;
    keeper = min(id) is an aggregate, not a sort."""
    return D.exact_dedup(_t(spark, sf_dir, "documents"))


@_q("dedup_minhash_lsh", _lsh_pairs_sql(0.5))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) → banded LSH(8×2) → true-Jaccard verification.
    The banding equi-join replaces the O(n²) pair matrix; only
    colliding candidates are ever scored. The oracle recomputes the
    identical md5-derived signatures in SQL, so the candidate set —
    not just the final pairs — must match across engines."""
    return D.minhash_lsh_dedup(_t(spark, sf_dir, "documents"), threshold=0.5)


@_q(
    "dedup_ngram_jaccard",
    f"""
WITH {_NTOKS_CTE}, {_SHS_CTE},
sizes AS (SELECT doc_id, len(sh) AS sz FROM shs),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM shs),
common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
           FROM inv a JOIN inv b USING (shingle)
           WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
scored AS (SELECT id_a, id_b,
  round(n_common::DOUBLE / (za.sz + zb.sz - n_common), 4) AS jaccard
  FROM common JOIN sizes za ON za.doc_id = id_a JOIN sizes zb ON zb.doc_id = id_b)
SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute n-gram Jaccard via an inverted shingle index (the
    verification oracle for LSH recall; cost Σ|posting|², not n²).
    At equal threshold this is the ground truth dedup_minhash_lsh
    approximates — their diff measures LSH recall."""
    return D.jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


def _jaccard_pairs_cte(threshold: float) -> str:
    """Non-recursive CTE chain ending in p(id_a, id_b) — the
    dedup_ngram_jaccard pair set, reusable inside other oracles."""
    return (
        f"{_NTOKS_CTE}, {_SHS_CTE}, "
        "sizes AS (SELECT doc_id, len(sh) AS sz FROM shs), "
        "inv AS (SELECT doc_id, unnest(sh) AS shingle FROM shs), "
        "common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common "
        "FROM inv a JOIN inv b USING (shingle) "
        "WHERE a.doc_id < b.doc_id GROUP BY 1, 2), "
        "scored AS (SELECT id_a, id_b, "
        "round(n_common::DOUBLE / (za.sz + zb.sz - n_common), 4) AS jaccard "
        "FROM common JOIN sizes za ON za.doc_id = id_a JOIN sizes zb ON zb.doc_id = id_b), "
        f"p AS (SELECT id_a, id_b FROM scored WHERE jaccard >= {threshold})"
    )


@_q(
    "dedup_cluster_components",
    "WITH RECURSIVE "
    + _jaccard_pairs_cte(0.5)
    + ", e AS (SELECT id_a AS src, id_b AS dst FROM p "
    "UNION SELECT id_b, id_a FROM p), "
    "reach(node, lab) AS ("
    "SELECT src, src FROM e "
    "UNION "
    "SELECT e.dst, r.lab FROM e JOIN reach r ON r.node = e.src) "
    "SELECT node AS node_id, min(lab) AS component_id FROM reach GROUP BY node",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS from near-dup PAIRS: hash-min label
    propagation (operators/graph.connected_components) over the
    n-gram-Jaccard pair graph — the step every dedup pipeline needs
    between pair generation and keeper selection (keep one doc per
    component). Each round is one partitioned equi-join + min-agg;
    rounds = component diameter (tiny for near-dup clusters). The
    oracle recomputes the same pairs and closes them with DuckDB's
    WITH RECURSIVE reachability, so both the pair set AND the
    transitive clustering must match."""
    from graphql_api_etl_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold=0.5).select("id_a", "id_b")
    return connected_components(pairs)


@_q(
    "dedup_cluster_keepers",
    "WITH RECURSIVE "
    + _jaccard_pairs_cte(0.5)
    + ", e AS (SELECT id_a AS src, id_b AS dst FROM p "
    "UNION SELECT id_b, id_a FROM p), "
    "reach(node, lab) AS ("
    "SELECT src, src FROM e "
    "UNION "
    "SELECT e.dst, r.lab FROM e JOIN reach r ON r.node = e.src), "
    "comp AS (SELECT node AS doc_id, min(lab) AS component_id FROM reach GROUP BY node) "
    "SELECT component_id, "
    "arg_max(comp.doc_id, n_chars * 1000000 - comp.doc_id) AS keeper_id, "
    "CAST(count(*) AS BIGINT) AS n_members "
    "FROM comp JOIN documents USING (doc_id) GROUP BY component_id",
)
def dedup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's last step, end-to-end under the hash gate:
    pairs → clusters (connected_components) → ONE KEEPER per cluster
    by a quality key (longest doc, deterministic unique pick key —
    same pattern as curate_stratified_best). Everything upstream of
    the final groupBy is partitioned on the node/doc key; the keeper
    choice is an argmax aggregate, never a sort."""
    from graphql_api_etl_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, threshold=0.5).select("id_a", "id_b")
    comp = connected_components(pairs).withColumnRenamed("node_id", "doc_id")
    return (
        comp.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("component_id")
        .agg(
            F.expr("max_by(doc_id, n_chars * 1000000 - doc_id)").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def _simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(D.SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN v{j} > 0 THEN (CAST(1 AS BIGINT) << {j}) ELSE CAST(0 AS BIGINT) END"
        for j in range(D.SIMHASH_BITS)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {j} AS band_idx, (simhash >> {j * 16}) & 65535 AS band_key FROM sig"
        for j in range(4)
    )
    return (
        f"WITH {_NTOKS_CTE}, "
        "toked AS (SELECT doc_id, unnest(list_distinct(t)) AS tok FROM toks), "
        "h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hv FROM toked), "
        f"votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id), "
        f"sig AS (SELECT doc_id, {sig} AS simhash FROM votes), "
        f"bands AS ({bands}), "
        "cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, "
        "a.simhash AS sig_a, b.simhash AS sig_b "
        "FROM bands a JOIN bands b USING (band_idx, band_key) WHERE a.doc_id < b.doc_id) "
        "SELECT id_a, id_b, bit_count(xor(sig_a, sig_b)) AS hamming "
        "FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 8"
    )


@_q("dedup_simhash_pairs", _simhash_sql())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(60-bit) near-dup pairs within Hamming distance 8,
    candidate-limited by 16-bit band collisions. Vote sums, signature
    packing, banding, and bit_count(xor) are all BIGINT-exact and
    reproduced verbatim by the SQL oracle."""
    return D.simhash_near_pairs(_t(spark, sf_dir, "documents"), max_distance=8)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@_q(
    "text_quality_stats",
    r"""
WITH toks AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t FROM documents)
SELECT doc_id,
       len(t) AS n_tokens,
       length(text) AS text_len,
       round(length(text)::DOUBLE / len(t), 2) AS avg_token_len,
       round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
             / length(text), 4) AS digit_ratio,
       round(len(list_filter(t, x -> list_contains(['the','a','and','of','to'], x)))::DOUBLE
             / len(t), 4) AS stopword_ratio,
       (len(t) >= 20 AND len(t) <= 10000
        AND len(list_filter(t, x -> list_contains(['the','a','and','of','to'], x)))::DOUBLE
            / len(t) >= 0.01) AS quality_ok
FROM toks
""",
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/length stats + Gopher/C4-style quality gate —
    one map-only native-expression pass (no shuffle, no Python)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = TX.with_quality_score(TX.with_text_stats(docs))
    return out.select(
        "doc_id", "n_tokens", "text_len", "avg_token_len",
        "digit_ratio", "stopword_ratio", "quality_ok",
    )


def _lang_id_sql() -> str:
    profiles = list(TX.DEFAULT_LANG_PROFILES.items())
    score_cols = ", ".join(
        "len(list_filter(t, x -> list_contains(["
        + ",".join(f"'{m}'" for m in markers)
        + f"], x))) AS score_{name}"
        for name, markers in profiles
    )
    # Fold argmax exactly as text.with_lang_guess: start at profile 0,
    # strictly-greater replaces.
    guess, best = f"'{profiles[0][0]}'", f"score_{profiles[0][0]}"
    for name, _ in profiles[1:]:
        guess = f"CASE WHEN score_{name} > {best} THEN '{name}' ELSE {guess} END"
        best = f"CASE WHEN score_{name} > {best} THEN score_{name} ELSE {best} END"
    scores = ", ".join(f"score_{name}" for name, _ in profiles)
    return (
        f"WITH {_TOKS_CTE}, scored AS (SELECT doc_id, {score_cols} FROM toks) "
        f"SELECT doc_id, {scores}, {guess} AS lang_guess FROM scored"
    )


@_q(
    "text_token_counts",
    r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS bpe_ish_tokens,
       round(octet_length(encode(text)) / 4.0, 2) AS byte_budget_tokens
FROM documents
""",
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways (whitespace words, BPE-ish regex
    pre-tokens, bytes/4 budget heuristic) — the quantities an LLM data
    pipeline budgets with. Pure map pass, lookahead-free regex so Java
    and RE2 engines tokenize identically."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        TX.token_count("text").alias("ws_tokens"),
        TX.bpe_ish_token_count("text").alias("bpe_ish_tokens"),
        F.round(F.octet_length(F.encode(F.col("text"), "UTF-8")) / 4.0, 2).alias(
            "byte_budget_tokens"
        ),
    )


@_q("text_lang_id", _lang_id_sql())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic: per-profile hit counts +
    argmax guess, all vocabulary-driven native expressions."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = TX.with_lang_guess(docs)
    score_cols = [f"score_{name}" for name in TX.DEFAULT_LANG_PROFILES]
    return out.select("doc_id", *score_cols, "lang_guess")


@_q(
    "text_fingerprint",
    f"""
SELECT doc_id,
       md5({_NORM_TEXT}) AS content_hash,
       CAST('0x' || substr(md5({_NORM_TEXT}), 1, 15) AS BIGINT) AS fingerprint
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 content hash + 60-bit integer
    prefix (join/bucket-friendly form for shard-local dedup)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.with_fingerprint(docs).select("doc_id", "content_hash", "fingerprint")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_CORE = (
    "q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10), "
    "c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings), "
    "scored AS (SELECT query_id, neighbor_id, "
    "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos "
    "FROM q CROSS JOIN c WHERE query_id != neighbor_id), "
    "ranked AS (SELECT query_id, neighbor_id, cos, "
    "row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored)"
)


@_q(
    "sim_topk_bruteforce",
    f"WITH {_COSINE_CORE} "
    "SELECT query_id, neighbor_id, round(cos, 6) AS sim, rank FROM ranked WHERE rank <= 5",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for a 10-query set: broadcast(queries) ×
    corpus — the corpus streams once with zero shuffle; ranking is a
    per-query window. The 100 TB path: only |Q| rows broadcast."""
    emb = _t(spark, sf_dir, "embeddings")
    return S.topk_bruteforce(emb.filter(F.col("vec_id") < 10), emb, k=5, dim=64)


def _bucketed_sql() -> str:
    planes = [S._hyperplane(p, 64) for p in range(8)]
    bucket = " + ".join(
        "CASE WHEN list_dot_product(v, ["
        + ",".join(f"{float(c)}" for c in planes[p])
        + f"]) >= 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for p in range(8)
    )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        f"b AS (SELECT vec_id, v, {bucket} AS bucket FROM e), "
        "q AS (SELECT vec_id AS query_id, bucket, v AS qv FROM b WHERE vec_id < 50), "
        "c AS (SELECT vec_id AS neighbor_id, bucket, v AS cv FROM b), "
        "scored AS (SELECT query_id, neighbor_id, "
        "list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos "
        "FROM q JOIN c USING (bucket) WHERE query_id != neighbor_id), "
        "ranked AS (SELECT query_id, neighbor_id, cos, "
        "row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM scored) "
        "SELECT query_id, neighbor_id, round(cos, 6) AS sim, rank FROM ranked WHERE rank <= 3"
    )


@_q("sim_topk_lsh_bucketed", _bucketed_sql())
def sim_topk_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-3 within sign-random-hyperplane LSH buckets: the cross
    join becomes an equi-join on the bucket key (Σ_b |Q_b|·|C_b|
    scored pairs instead of |Q|·|C|). Hyperplanes are md5-derived and
    embedded as literals in BOTH plans, so buckets match exactly."""
    from pyspark.storagelevel import StorageLevel

    emb = _t(spark, sf_dir, "embeddings")
    bucketed = S.with_hyperplane_bucket(emb, n_planes=8, dim=64).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    bucketed.count()  # queries and corpus both read it; compute once
    return S.topk_bucketed(
        bucketed.filter(F.col("vec_id") < 50), bucketed, bucket_col="lsh_bucket", k=3, dim=64
    )


def _ivf_oracle_sql() -> str:
    """DuckDB replay of the full IVF search with the TRAINED centroids
    embedded as literal DOUBLE[] arrays (VERDICT r3 ask #1a).

    Training is deterministic by construction (md5-ordered sample,
    fixed iterations): :func:`ivf.train_kmeans_local` reproduces the
    Spark query's centroids bit-identically from the parquet file, so
    the oracle replays assignment (argmin of ||c||² − 2·v̂·c over the
    literal centroids), nprobe=4 probing, and the windowed top-3 in
    plain SQL. Assignment is tie-safe: the smallest nearest-vs-next
    margin at sf0.01 is 2.6e-4 (probe boundary 1.3e-5) vs ~1e-13
    cross-engine float noise. Built lazily (callable oracle) because
    it reads the sf0.01 embeddings — the scale the driver's
    correctness gate contractually runs at (override:
    $SPARK_GRAFT_ORACLE_SF_DIR, used by the pytest harness)."""
    import os

    from graphql_api_etl_spark.operators.ivf import train_kmeans_local

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    C = train_kmeans_local(f"{sf_dir}/embeddings.parquet", k=16, iters=2)
    cn2 = [sum(x * x for x in c) for c in C]  # same float64 sum the UDF uses
    cent_rows = ", ".join(
        f"({j}, [{','.join(repr(x) for x in C[j])}], {cn2[j]!r})" for j in range(len(C))
    )
    return (
        f"WITH cent AS (SELECT * FROM (VALUES {cent_rows}) t(cid, cv, cn2)), "
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e), "
        "dist AS (SELECT vec_id, v, nrm, cid, "
        "cn2 - 2.0 * (list_dot_product(v, cv) / CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END) AS d "
        "FROM en CROSS JOIN cent), "
        "ra AS (SELECT vec_id, v, nrm, cid, "
        "row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM dist), "
        "corpus AS (SELECT vec_id AS neighbor_id, v AS cvv, nrm AS cnn, cid AS bucket "
        "FROM ra WHERE rn = 1), "
        "probes AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, cid AS bucket "
        "FROM ra WHERE vec_id < 50 AND rn <= 4), "
        "scored AS (SELECT query_id, neighbor_id, "
        "list_dot_product(qv, cvv) / (qn * cnn) AS cos "
        "FROM probes JOIN corpus USING (bucket) WHERE query_id != neighbor_id), "
        "ranked AS (SELECT query_id, neighbor_id, cos, "
        "row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank "
        "FROM scored) "
        "SELECT query_id, neighbor_id, round(cos, 6) AS sim, rank FROM ranked WHERE rank <= 3"
    )


@_q("sim_topk_ivf", _ivf_oracle_sql)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF k-means ANN top-k (operators/ivf.py): deterministic-seeded
    Lloyd's coarse quantizer (only the k×dim centroid matrix is ever
    collected), Arrow-matmul assignment, nprobe=4 bucket probe, exact
    within-bucket cosine + WindowGroupLimit top-k. Recall vs the exact
    brute-force oracle is asserted in tests/test_operators.py; the
    DuckDB oracle (:func:`_ivf_oracle_sql`) replays the whole search
    over literal trained centroids."""
    from graphql_api_etl_spark.operators import ivf as IVF

    emb = _t(spark, sf_dir, "embeddings")
    centroids = IVF.train_kmeans(emb, k=16, iters=2, dim=64)
    queries = emb.filter(F.col("vec_id") < 50)
    return IVF.topk_ivf(queries, emb, centroids, k=3, nprobe=4, dim=64)


def _pq_oracle_sql() -> str:
    """DuckDB replay of the full PQ/ADC search with the TRAINED
    codebooks embedded as literals (same discipline as
    :func:`_ivf_oracle_sql`): training is deterministic
    (md5-ordered sample, fixed iterations), so
    :func:`pq.train_pq_local` reproduces the Spark query's codebooks
    bit-identically from the parquet file. The oracle recomputes each
    vector's 8 subspace codes (argmin of ``cn² − 2·v̂ₘ·c`` over the
    literal centroids, ties by centroid id), then scores every
    (query, corpus) pair with the SAME left-associative 8-term ADC sum
    the Spark UDF accumulates — each term a ``list_dot_product`` over
    one subspace slice — fixed-point floored BEFORE ranking so the
    selection order is engine-exact. Built lazily (callable oracle)
    because it reads the comparison scale's embeddings
    ($SPARK_GRAFT_ORACLE_SF_DIR, default the driver's sf0.01)."""
    import os

    from graphql_api_etl_spark.operators.pq import codebook_norms, train_pq_local

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    cb = train_pq_local(f"{sf_dir}/embeddings.parquet", m=8, k=16, iters=2)
    cn2 = codebook_norms(cb)
    dsub = 8
    cb_rows = ", ".join(
        f"({j}, {c}, [{','.join(repr(x) for x in cb[j][c])}], {cn2[j][c]!r})"
        for j in range(8)
        for c in range(len(cb[j]))  # tiny corpora may train < k centroids
    )
    ms = ",".join(f"({j})" for j in range(8))
    adc = " + ".join(
        f"list_dot_product(list_slice(qh, {j * dsub + 1}, {(j + 1) * dsub}), cb{j}.cv)"
        for j in range(8)
    )
    cb_joins = " ".join(f"JOIN cb cb{j} ON cb{j}.m = {j} AND cb{j}.cid = cw.c{j}" for j in range(8))
    cw_cols = ", ".join(f"max(CASE WHEN m = {j} THEN cid END) AS c{j}" for j in range(8))
    return (
        f"WITH cb AS (SELECT * FROM (VALUES {cb_rows}) t(m, cid, cv, cn2)), "
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e), "
        "nh AS (SELECT vec_id, "
        "list_transform(v, x -> x / CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END) AS vh FROM en), "
        f"sub AS (SELECT vec_id, mm.m AS m, list_slice(vh, mm.m * {dsub} + 1, (mm.m + 1) * {dsub}) AS vs "
        f"FROM nh CROSS JOIN (VALUES {ms}) mm(m)), "
        "asgn AS (SELECT vec_id, m, cid, cn2 - 2.0 * list_dot_product(vs, cv) AS d "
        "FROM sub JOIN cb USING (m)), "
        "codes AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m, cid, "
        "row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM asgn) WHERE rn = 1), "
        f"cw AS (SELECT vec_id, {cw_cols} FROM codes GROUP BY vec_id), "
        "q AS (SELECT vec_id AS query_id, vh AS qh FROM nh WHERE vec_id < 50), "
        "scored AS (SELECT query_id, cw.vec_id AS neighbor_id, "
        f"CAST(floor(({adc}) * 1000000) AS BIGINT) AS sim_micro "
        f"FROM q CROSS JOIN cw {cb_joins} WHERE query_id != cw.vec_id), "
        "ranked AS (SELECT query_id, neighbor_id, sim_micro, "
        "row_number() OVER (PARTITION BY query_id ORDER BY sim_micro DESC, neighbor_id) AS rank "
        "FROM scored) "
        "SELECT query_id, neighbor_id, sim_micro, rank FROM ranked WHERE rank <= 5"
    )


@_q("sim_topk_pq", _pq_oracle_sql)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ADC top-5 (operators/pq.py): 8 subspaces ×
    16 centroids → one 32-bit code per vector (64× smaller than the
    float32 vector — at 100 TB the scoring pass reads codes, not
    vectors), deterministic driver-side codebook training on a bounded
    md5-ordered sample, Arrow encode (map-only), and LUT-gather ADC
    scoring with per-batch partial top-k. Completes the ANN family's
    scale ladder: brute force (baseline) → matmul (exact, vectorized)
    → LSH/IVF (prune WHO is scored) → PQ (shrink WHAT is scored).
    Quantization quality (ADC-vs-exact recall) is asserted in
    tests/test_operators.py; the DuckDB oracle replays encode + search
    over literal trained codebooks."""
    from graphql_api_etl_spark.operators import pq as PQ

    emb = _t(spark, sf_dir, "embeddings")
    cb = PQ.train_pq(emb, m=8, k=16, iters=2, dim=64)
    codes = PQ.encode_pq(emb, cb, dim=64)
    return PQ.topk_pq(emb.filter(F.col("vec_id") < 50), codes, cb, k=5, dim=64)


def _ivfpq_oracle_sql() -> str:
    """DuckDB replay of the composed IVF-PQ search: literal trained
    coarse centroids (ivf.train_kmeans_local) AND literal PQ codebooks
    (pq.train_pq_local) — both trainers are bit-identical twins of the
    Spark query's. Replays coarse assignment + nprobe probing (the
    _ivf_oracle_sql machinery), per-subspace codes, and the SAME
    left-associative 8-term ADC sum over the candidates, fixed-point
    floored before ranking. Lazily built against
    $SPARK_GRAFT_ORACLE_SF_DIR."""
    import os

    from graphql_api_etl_spark.operators.ivf import train_kmeans_local
    from graphql_api_etl_spark.operators.pq import codebook_norms, train_pq_local

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    path = f"{sf_dir}/embeddings.parquet"
    cent = train_kmeans_local(path, k=16, iters=2)
    ccn2 = [sum(x * x for x in c) for c in cent]
    cb = train_pq_local(path, m=8, k=16, iters=2)
    cn2 = codebook_norms(cb)
    dsub = 8
    cent_rows = ", ".join(
        f"({j}, [{','.join(repr(x) for x in cent[j])}], {ccn2[j]!r})" for j in range(len(cent))
    )
    cb_rows = ", ".join(
        f"({j}, {c}, [{','.join(repr(x) for x in cb[j][c])}], {cn2[j][c]!r})"
        for j in range(8)
        for c in range(len(cb[j]))
    )
    ms = ",".join(f"({j})" for j in range(8))
    adc = " + ".join(
        f"list_dot_product(list_slice(qh, {j * dsub + 1}, {(j + 1) * dsub}), cb{j}.cv)"
        for j in range(8)
    )
    cb_joins = " ".join(f"JOIN cb cb{j} ON cb{j}.m = {j} AND cb{j}.cid = cw.c{j}" for j in range(8))
    cw_cols = ", ".join(f"max(CASE WHEN m = {j} THEN cid END) AS c{j}" for j in range(8))
    return (
        f"WITH cent AS (SELECT * FROM (VALUES {cent_rows}) t(bid, bv, bn2)), "
        f"cb AS (SELECT * FROM (VALUES {cb_rows}) t(m, cid, cv, cn2)), "
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        "en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e), "
        "nh AS (SELECT vec_id, "
        "list_transform(v, x -> x / CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END) AS vh FROM en), "
        # coarse assignment / probing (same form as _ivf_oracle_sql)
        "dist AS (SELECT vec_id, bid, "
        "bn2 - 2.0 * (list_dot_product(v, bv) / CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END) AS d "
        "FROM en CROSS JOIN cent), "
        "ra AS (SELECT vec_id, bid, row_number() OVER (PARTITION BY vec_id ORDER BY d, bid) AS rn "
        "FROM dist), "
        "corpus_b AS (SELECT vec_id AS neighbor_id, bid AS bucket FROM ra WHERE rn = 1), "
        "probes AS (SELECT vec_id AS query_id, bid AS bucket FROM ra WHERE vec_id < 50 AND rn <= 4), "
        # PQ codes (same form as _pq_oracle_sql)
        f"sub AS (SELECT vec_id, mm.m AS m, list_slice(vh, mm.m * {dsub} + 1, (mm.m + 1) * {dsub}) AS vs "
        f"FROM nh CROSS JOIN (VALUES {ms}) mm(m)), "
        "asgn AS (SELECT vec_id, m, cid, cn2 - 2.0 * list_dot_product(vs, cv) AS d "
        "FROM sub JOIN cb USING (m)), "
        "codes AS (SELECT vec_id, m, cid FROM (SELECT vec_id, m, cid, "
        "row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM asgn) WHERE rn = 1), "
        f"cw AS (SELECT vec_id, {cw_cols} FROM codes GROUP BY vec_id), "
        "q AS (SELECT vec_id AS query_id, vh AS qh FROM nh WHERE vec_id < 50), "
        # candidates = probe×bucket equi-join; ADC over candidates only
        "cand AS (SELECT DISTINCT p.query_id, c.neighbor_id "
        "FROM probes p JOIN corpus_b c USING (bucket) WHERE p.query_id != c.neighbor_id), "
        "scored AS (SELECT cand.query_id, cand.neighbor_id, "
        f"CAST(floor(({adc}) * 1000000) AS BIGINT) AS sim_micro "
        "FROM cand JOIN q ON q.query_id = cand.query_id "
        f"JOIN cw ON cw.vec_id = cand.neighbor_id {cb_joins}), "
        "ranked AS (SELECT query_id, neighbor_id, sim_micro, "
        "row_number() OVER (PARTITION BY query_id ORDER BY sim_micro DESC, neighbor_id) AS rank "
        "FROM scored) "
        "SELECT query_id, neighbor_id, sim_micro, rank FROM ranked WHERE rank <= 5"
    )


@_q("sim_topk_ivfpq", _ivfpq_oracle_sql)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (operators/pq.topk_ivfpq): coarse quantizer
    prunes WHO is scored (nprobe=4 of 16 buckets), PQ codes shrink
    WHAT is scored (32-bit codes, no vector math in the search join).
    The search is pure Catalyst — per-query ADC lookup tables become 8
    broadcast-joined frames and the score is one native left-assoc
    8-term sum — so the hot path whole-stage-codegens end-to-end; the
    only Python is the two map-only Arrow index passes, which a real
    deployment runs once at ingest. Both trainers have Spark-free
    bit-identical twins; the oracle replays the entire index + search
    over their literal outputs."""
    from graphql_api_etl_spark.operators import ivf as IVF
    from graphql_api_etl_spark.operators import pq as PQ

    emb = _t(spark, sf_dir, "embeddings")
    cent = IVF.train_kmeans(emb, k=16, iters=2, dim=64)
    cb = PQ.train_pq(emb, m=8, k=16, iters=2, dim=64)
    return PQ.topk_ivfpq(
        emb.filter(F.col("vec_id") < 50), emb, cent, cb, k=5, nprobe=4, dim=64
    )


# ---------------------------------------------------------------------------
# Multimodal binary plumbing
# ---------------------------------------------------------------------------


@_q(
    "mm_binary_metadata",
    """
SELECT doc_id AS media_id,
       'image' AS media_type,
       octet_length(encode(text)) AS payload_bytes,
       sha256(text) AS payload_sha256,
       lower(substr(hex(encode(text)), 1, 8)) AS magic
FROM documents
""",
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only pass over opaque binary payloads — native
    expressions, nothing shipped to Python; at scale parquet column
    stats make this scan-bound."""
    media = MM.documents_as_media(_t(spark, sf_dir, "documents"))
    return MM.binary_metadata(media)


_MM_FEATURES_ORACLE = (
    "SELECT doc_id AS media_id, 'image' AS media_type, "
    "sha256(text) AS payload_sha256, "
    "CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes, "
    + ", ".join(
        f"CAST('0x' || substr(md5(text), {2 * i + 1}, 2) AS BIGINT) AS f{i}"
        for i in range(MM.FEATURE_DIM)
    )
    + " FROM documents"
)


@_q("mm_extract_features", _MM_FEATURES_ORACLE)
def mm_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode/feature-extract over binary
    payloads (deterministic fake decoder here; the real BMP/WAV header
    decoder is exercised in tests/test_sources_sinks.py).

    Oracle-checkable output (VERDICT r3 ask #1c): the fake features
    are md5-byte-derived, so each feature is rescaled back to its
    source byte (``round(f·255)`` — exact, the /255 rounding error is
    ~1 ulp) and DuckDB recomputes the byte from ``md5(text)`` hex.
    The bytes flow THROUGH the Python decode stage, so a broken
    mapInPandas path breaks the hash match; the full double array is
    covered by pytest (test_sources_sinks)."""
    media = MM.documents_as_media(_t(spark, sf_dir, "documents"))
    feats = MM.extract_features(media, fake=True)
    return feats.select(
        "media_id",
        "media_type",
        "payload_sha256",
        "payload_bytes",
        *[
            F.round(F.element_at("features", i + 1) * 255).cast("bigint").alias(f"f{i}")
            for i in range(MM.FEATURE_DIM)
        ],
    )


@_q(
    "mm_thumbnails",
    """
SELECT doc_id AS media_id,
       CAST(8 + doc_id % 5 AS BIGINT) AS width,
       CAST(6 + doc_id % 3 AS BIGINT) AS height,
       CAST(16 AS BIGINT) AS n_thumb
FROM documents
""",
)
def mm_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode→resize→featurize on REAL pixels: deterministic
    payloads synthesized per doc on executors in alternating
    containers (even ids: LCG-pixel BMP; odd ids: closed-form-pixel
    PNG with cycling scanline filters), decoded and downsampled to
    4×4 grayscale thumbnails by the pure-stdlib codecs.

    Oracle-checkable output (VERDICT r3 ask #1c): the synthesized
    dimensions are doc_id arithmetic (w = 8+id%5, h = 6+id%3), so the
    oracle recomputes them directly while the Spark values round-trip
    through synthesize→encode→decode_bmp_pixels→thumbnail — a broken
    header codec or resize grid breaks the match. Pixel values (the
    thumb array itself) are LCG payloads, pytest-verified in
    test_sources_sinks."""
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
                        lambda i: MM.synthesize_bmp(8 + int(i) % 5, 6 + int(i) % 3, seed=int(i))
                        if int(i) % 2 == 0
                        # odd ids: PNG container (r7) — same dims
                        # formula, closed-form RGB scanlines, cycling
                        # filters; the dims oracle covers both decoders
                        else MM.synthesize_png(
                            8 + int(i) % 5,
                            6 + int(i) % 3,
                            MM.closed_form_pixel_bytes(
                                int(i), 3 * (8 + int(i) % 5) * (6 + int(i) % 3)
                            ),
                        )
                    ),
                }
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    feats = MM.thumbnail_features(media, tw=4, th=4)
    return feats.select(
        "media_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.size("thumb").cast("bigint").alias("n_thumb"),
    )


@_q(
    "mm_frame_sample",
    """
SELECT d.doc_id AS media_id,
       CAST(g.f AS BIGINT) AS frame_idx,
       CAST(6 AS BIGINT) AS width,
       CAST(4 AS BIGINT) AS height
FROM documents d, generate_series(0, 3) g(f)
WHERE g.f < 2 + d.doc_id % 3 AND g.f % 2 = 0
""",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: per-doc 'videos' of 2-4
    concatenated BMP frames, every 2nd frame sampled and thumbnailed
    inside the Arrow batch (fan-out never touches the driver).

    Oracle-checkable output (VERDICT r3 ask #1c): frame count is
    doc_id arithmetic (2+id%3) and sampling takes every 2nd index from
    0, so the oracle fans out the expected (media_id, frame_idx) set
    with a generate_series join plus the literal 6×4 frame dims; the
    Spark values round-trip through the container walk
    (split_video_frames' header-declared sizes) and the BMP decode —
    a mis-walked boundary or wrong stride breaks the match. Thumb
    pixels stay pytest-verified (test_sources_sinks)."""
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
                        lambda i: MM.synthesize_video(
                            [
                                MM.synthesize_bmp(6, 4, seed=int(i) * 31 + f)
                                for f in range(2 + int(i) % 3)
                            ]
                        )
                    ),
                }
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    frames = MM.sample_frames(media, every_k=2)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (the dedup-family vector variant)
# ---------------------------------------------------------------------------


# Multi-probe sign-LSH geometry (shared by the Spark plan and the
# DuckDB oracle — change them TOGETHER): a 48-bit code split into
# 6 bands × 8 bits; a pair is a candidate when ≥2 bands agree, where
# per-band agreement is Hamming distance ≤ 1 (found by joining each
# vector's 6 "home" band keys against the other side's 6×9 probe keys
# — the key itself plus each of its 8 one-bit flips).
_EC_PLANES = 48
_EC_BAND_BITS = 8
_EC_N_BANDS = _EC_PLANES // _EC_BAND_BITS
_EC_MIN_AGREE = 2
_EC_FLIPS = [0] + [1 << i for i in range(_EC_BAND_BITS)]


def _emb_cosine_dedup_sql(threshold: float) -> str:
    planes = [S._hyperplane(p, 64) for p in range(_EC_PLANES)]
    bucket = " + ".join(
        "CASE WHEN list_dot_product(v, ["
        + ",".join(f"{float(c)}" for c in planes[p])
        + f"]) >= 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for p in range(_EC_PLANES)
    )
    nb, bb = _EC_N_BANDS, _EC_BAND_BITS
    js = ",".join(f"({j})" for j in range(nb))
    fs = ",".join(f"({f})" for f in _EC_FLIPS)

    def band(src: str, j: int) -> str:
        return f"(({src} >> {j * bb}) & {(1 << bb) - 1})"

    # HD(band j) ≤ 1  ⇔  x = band_a XOR band_b is 0 or a power of two
    # ⇔  (x & (x-1)) = 0 — portable to any engine, no popcount needed.
    def hd_ok(j: int) -> str:
        x = f"xor({band('a.bucket', j)}, {band('p.bucket', j)})"
        return f"(({x} & ({x} - 1)) = 0)"

    n_agree = " + ".join(f"CASE WHEN {hd_ok(j)} THEN 1 ELSE 0 END" for j in range(nb))
    first_band = (
        "CASE "
        + " ".join(f"WHEN {hd_ok(j)} THEN {j}" for j in range(nb - 1))
        + f" ELSE {nb - 1} END"
    )
    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
        f"b AS (SELECT vec_id, v, {bucket} AS bucket FROM e), "
        "home AS (SELECT vec_id, bucket, j.j AS band_idx, "
        f"((bucket >> (j.j * {bb})) & {(1 << bb) - 1}) AS band_key "
        f"FROM b, (VALUES {js}) j(j)), "
        "probe AS (SELECT vec_id, bucket, j.j AS band_idx, "
        f"xor((bucket >> (j.j * {bb})) & {(1 << bb) - 1}, f.f) AS band_key "
        f"FROM b, (VALUES {js}) j(j), (VALUES {fs}) f(f)), "
        "cand AS (SELECT a.vec_id AS id_a, p.vec_id AS id_b "
        "FROM home a JOIN probe p USING (band_idx, band_key) "
        f"WHERE a.vec_id < p.vec_id AND ({n_agree}) >= {_EC_MIN_AGREE} "
        f"AND band_idx = ({first_band})), "
        "scored AS (SELECT id_a, id_b, "
        "round(list_dot_product(ea.v, eb.v) / "
        "(sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))), 6) AS sim "
        "FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b) "
        f"SELECT id_a, id_b, sim FROM scored WHERE sim >= {threshold}"
    )


@_q("dedup_embedding_cosine", _emb_cosine_dedup_sql(0.4))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via MULTI-PROBE sign-LSH
    (r5, VERDICT r4 ask #3): a 48-bit hyperplane code in 6 bands of
    8 bits; per-band agreement is Hamming distance ≤ 1, found without
    widening the join key space by probing — each vector joins its 6
    "home" band keys against the other side's 6×9 probe keys (the key
    plus its 8 one-bit flips), so a pair at band-HD 1 still meets on
    an equi-join key. Candidate = ≥2 agreeing bands, then exact cosine
    verification at the 0.4 floor. Hyperplanes are md5-derived
    literals shared with the SQL oracle, so the candidate set matches
    across engines exactly.

    Why multi-probe: the r2–r4 design (16 planes, 4 bands × 4 bits,
    exact band match) collided heavily on this label-clustered corpus
    — 4-bit band keys give only 16 buckets/band, so moderate-cosine
    cluster-mates met constantly (measured sf0.1: 514 k raw band
    matches, 49.7 k candidate pairs = 2.49% of all pairs, recall 12.9%
    at the 0.4 floor). Widening bands to 8 bits (256 buckets) prunes
    the moderate-sim mass, and Hamming-1 probing buys the recall back:
    measured on the same corpus, 46.7 k candidates (2.34%) with recall
    24.9% @0.4 — 2× the recall at a slightly SMALLER candidate budget
    — and analytically (p_band = Σ_{k≤1} C(8,k) q^k (1-q)^{8-k} with
    q = arccos(s)/π, candidate = ≥2 of 6 bands) 88% @0.8 and 99.9%
    @0.95 vs the old 52%/88%, with random-pair survival down from
    2.1% to 1.7%. tests/test_corpus.py asserts the candidate-count
    ceiling so a regression to all-pairs behavior fails loud.

    Plan shape: the probe side is deliberately SLIM (id + 48-bit code
    only, 54 rows/vector) — vectors and norms ride the 6-row home side,
    and the surviving candidates re-join the persisted projection once
    to fetch the right-hand vector (duplicating a 64-double vector 54×
    to skip that join would cost 13.5× the shuffle bytes). Band
    agreement (HD ≤ 1 ⇔ x & (x−1) = 0 on the band XOR), the ≥2-of-6
    rule, and pair dedup (keep the pair only at its FIRST agreeing
    band — per agreeing band exactly one of the 9 probe keys can match,
    so no groupBy is needed) are all codegen'd join-filter predicates,
    and every generated method stays under HotSpot's 8 KB JIT limit
    (the r6 4.4×-DuckDB gap was a 54 KB permanently-interpreted
    probe-explode method — see _emb_cosine_candidates and session.py's
    hugeMethodLimit note; fixed r7 to ~0.67 s at sf0.1).
    AQE picks broadcast here (slim side, 5 MB) and a shuffled equi-join
    on (band_idx, band_key) at cluster scale; skewed buckets split via
    AQE skew-join, and the per-band key space (256 × 6 bands) is wide
    enough that no single bucket holds a cluster."""
    return _emb_cosine_dedup(_t(spark, sf_dir, "embeddings"))


def _emb_cosine_dedup(emb: DataFrame) -> DataFrame:
    """Plan body of dedup_embedding_cosine over an embeddings frame;
    tests count its candidates via ``_emb_cosine_candidates``.

    The verify dot runs over FLATTENED scalar columns (a0..a63 riding
    the home side, b0..b63 from the right-vector re-join), not over
    the array columns: evaluating a 64-term element_at chain above a
    join re-fetches the array object from the joined row per element
    (the _flatten_side lesson, similarity.py), and the array form's
    fused join+score stage generated a 50 KB method HotSpot never
    JITs. Scalar ordinals keep the whole span's methods ≈8 KB and the
    summation stays the same left-associative sequence DuckDB's
    list_dot_product computes — bit-identical sims."""
    e = _emb_cosine_projection(emb)
    cand = _emb_cosine_candidates(e)
    eb = _emb_cosine_flat(e).selectExpr(
        "vec_id AS id_b", "n AS nb", *[f"c{i} AS b{i}" for i in range(64)]
    )
    dot = " + ".join(f"a{i} * b{i}" for i in range(64))
    return (
        cand.join(eb, "id_b")
        .selectExpr("id_a", "id_b", f"round(({dot}) / (na * nb), 6) AS sim")
        .filter("sim >= 0.4")
    )


def _emb_cosine_flat(e: DataFrame) -> DataFrame:
    """The persisted projection with the vector unpacked to 64 scalar
    double columns — shared by the home side and the right-vector
    fetch so the unpack expression text (and thus the codegen class)
    is identical at both use sites."""
    return e.selectExpr(
        "vec_id", "n", "lsh_bucket", *[f"v[{i}] AS c{i}" for i in range(64)]
    )


def _emb_cosine_projection(emb: DataFrame) -> DataFrame:
    """Persisted single projection all three readers share (home side,
    probe side, right-vector fetch): id, double vector, norm, packed
    48-bit code — the 48-plane expression must run exactly once."""
    from pyspark.storagelevel import StorageLevel

    return (
        S.with_hyperplane_bucket(emb, n_planes=_EC_PLANES, dim=64, vec_out="v")
        .select("vec_id", "v", S.norm_fixed("v", 64).alias("n"), "lsh_bucket")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _emb_cosine_candidates(e: DataFrame) -> DataFrame:
    """Candidate pairs (id_a, id_b, na, a0..a63 — the left vector as
    flattened scalars, see _emb_cosine_dedup) from the multi-probe
    band join — exactly one row per unordered pair with ≥2 bands at
    Hamming distance ≤ 1 (see dedup_embedding_cosine docstring).

    Built from whole SQL strings, not Column-by-Column: the probe side
    alone is a 54-struct explode, and composing it through ~200 py4j
    calls measured ~1 s of construction overhead per run (the JVM-side
    parse of the same expression takes ~10 ms)."""
    nb, bits = _EC_N_BANDS, _EC_BAND_BITS
    mask = (1 << bits) - 1

    def band(c: str, j: int) -> str:
        return f"(shiftright({c}, {j * bits}) & {mask})"

    home = (
        _emb_cosine_flat(e)
        .selectExpr(
            "vec_id AS id_a", "n AS na", "lsh_bucket AS ba",
            *[f"c{i} AS a{i}" for i in range(64)],
            f"explode(sequence(0, {nb - 1})) AS band_idx",
        )
        .selectExpr(
            "id_a", "na", "ba", "band_idx",
            *[f"a{i}" for i in range(64)],
            f"(shiftright(ba, band_idx * {bits}) & {mask}) AS band_key",
        )
    )
    # Probe side: nested explodes (6 band indices × 9 flips), NOT one
    # inline(array(<54 structs>)) — the single-Generate form compiled
    # to a 54 KB produce method, over HotSpot's 8 KB
    # DontCompileHugeMethods limit, so the probe build stage ran
    # INTERPRETED (measured 10.7 core-seconds for 2,000 vectors at
    # sf0.1). Two small Generates + one key expression keep every
    # generated method JIT-able; the row stream (6 × 9 per vector) is
    # identical.
    flips = ",".join(str(f) for f in _EC_FLIPS)
    probe = (
        e.selectExpr(
            "vec_id AS id_b", "lsh_bucket AS bb",
            f"explode(sequence(0, {nb - 1})) AS band_idx",
        )
        .selectExpr("id_b", "bb", "band_idx", f"explode(array({flips})) AS flip")
        .selectExpr(
            "id_b", "bb", "band_idx",
            f"((shiftright(bb, band_idx * {bits}) & {mask}) ^ flip) AS band_key",
        )
    )

    # HD(band j) ≤ 1 ⇔ band XOR is 0 or a power of two ⇔ x & (x−1) = 0.
    def hd_ok(j: int) -> str:
        x = f"({band('ba', j)} ^ {band('bb', j)})"
        return f"(({x} & ({x} - 1)) = 0)"

    n_agree = " + ".join(f"CAST({hd_ok(j)} AS INT)" for j in range(nb))
    first_band = (
        "CASE "
        + " ".join(f"WHEN {hd_ok(j)} THEN {j}" for j in range(nb - 1))
        + f" ELSE {nb - 1} END"
    )
    return (
        home.join(probe, ["band_idx", "band_key"])
        .filter(F.expr(f"id_a < id_b AND ({n_agree}) >= {_EC_MIN_AGREE} AND band_idx = ({first_band})"))
        .select("id_a", "id_b", "na", *[f"a{i}" for i in range(64)])
    )


@_q(
    "p_hash_sample",
    """
SELECT doc_id, lang, source
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) % 10 = 0
""",
)
def p_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample via an md5 key hash — the reproducible
    sampling primitive of a training pipeline (same subset on every
    engine, every run, any partitioning; unlike rand()/TABLESAMPLE,
    which are seed- and engine-specific). Map-only, pushdown-friendly;
    stratify by composing with the strata key in the hashed value."""
    docs = _t(spark, sf_dir, "documents")
    bucket = D.shingle_hash(F.col("doc_id").cast("string")) % 10
    return docs.filter(bucket == 0).select("doc_id", "lang", "source")


_CURATE_SQL = r"""
WITH toks AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t FROM documents),
q AS (
  SELECT doc_id, text,
         len(t) AS n_tokens,
         round(len(list_filter(t, x -> list_contains(['the','a','and','of','to'], x)))::DOUBLE
               / len(t), 4) AS stopword_ratio
  FROM toks
),
keepers AS (
  SELECT min(doc_id) AS keeper_id
  FROM (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h, doc_id FROM documents)
  GROUP BY h
)
SELECT q.doc_id, n_tokens, stopword_ratio
FROM q JOIN keepers ON q.doc_id = keeper_id
WHERE n_tokens >= 20 AND n_tokens <= 10000 AND stopword_ratio >= 0.01
"""


@_q("curate_documents", _CURATE_SQL)
def curate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline every LLM-data run starts with:
    quality gate (length + stopword density) ∘ exact-dedup keeper
    filter, in one declarative plan — the dedup keeper set is an
    aggregate (one shuffle on the content hash, keeper join is a
    broadcast at dim size), the quality gate stays map-only, and
    Catalyst pushes the projection into both scans."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    gated = TX.with_quality_score(TX.with_text_stats(docs))
    keepers = D.exact_dedup(docs).select(F.col("keeper_id").alias("doc_id"))
    return (
        gated.join(keepers, "doc_id")
        .filter(F.col("quality_ok"))
        .select("doc_id", "n_tokens", "stopword_ratio")
    )


@_q(
    "text_repetition_stats",
    r"""
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
g AS (
  SELECT doc_id, t,
         list_transform(range(1, greatest(len(t) - 1, 0) + 1), i -> t[i] || ' ' || t[i+1]) AS grams
  FROM toks
)
SELECT doc_id,
       CAST(len(grams) AS BIGINT) AS n_2grams,
       CASE WHEN len(grams) > 0
            THEN round(1.0 - len(list_distinct(grams))::DOUBLE / len(grams), 4)
            ELSE 0.0 END AS dup_2gram_frac,
       CAST(len(list_filter(range(1, greatest(len(t) - 1, 0) + 1), i -> t[i] = t[i+1]))
            AS BIGINT) AS n_stutters
FROM g
""",
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (duplicate-2-gram
    fraction, immediate token stutters) — map-only native expressions
    over the documents scan; the filters that use them compose with
    the curation gate at zero extra passes.

    r14-opt: spread across cores first — the per-doc 2-gram dup
    counting is quadratic-ish in doc length and a one-row-group
    source ran it on ONE task (measured 5.0 s → ~0.5 s at sf0.1;
    guide §2.5). Values are per-row integer ratios, so partitioning
    cannot move them."""
    docs = D.repartition_for_cpu(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return TX.with_repetition_stats(docs).select(
        "doc_id", "n_2grams", "dup_2gram_frac", "n_stutters"
    )


@_q(
    "text_pii_scrub",
    r"""
WITH salted AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@mail' || (doc_id % 7)
              || '.com or call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' now' AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
            AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b555-[0-9]{4}\b', '<PHONE>', 'g')) AS scrubbed_md5
FROM salted
""",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking (emails, phone-shaped tokens) with typed
    placeholders — the pre-training scrub pass. The corpus has no PII,
    so both engines append identical synthesized contact strings per
    doc first; the differential then hashes the SCRUBBED text, so any
    regex-dialect or replacement divergence breaks the match. Map-only
    at scale (regexp_replace in whole-stage codegen)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    salted = docs.withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".com or call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" now"),
        ),
    )
    scrubbed = TX.scrub_pii(salted, text_col="t", out_col="t_scrubbed")
    return scrubbed.select(
        "doc_id", "n_emails", "n_phones", F.md5("t_scrubbed").alias("scrubbed_md5")
    )


@_q(
    "curate_stratified_best",
    r"""
WITH scored AS (
  SELECT lang, source, doc_id, n_chars,
         n_chars * 1000000 - doc_id AS pick_key
  FROM documents
)
SELECT lang, source,
       arg_max(doc_id, pick_key) AS best_doc_id,
       max(n_chars) AS best_n_chars,
       CAST(count(*) AS BIGINT) AS n_in_stratum
FROM scored GROUP BY lang, source
""",
)
def curate_stratified_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified exemplar selection: the best document per
    (lang, source) stratum by a quality key — the "pick k per bucket"
    curation primitive. The pick key is made unique
    (score·1e6 − doc_id) so argmax is deterministic on BOTH engines
    (max_by/arg_max tie behavior is otherwise unspecified). One
    partial-aggregated shuffle on the stratum key at any scale."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.expr("max_by(doc_id, n_chars * 1000000 - doc_id)").alias("best_doc_id"),
            F.max("n_chars").alias("best_n_chars"),
            F.count(F.lit(1)).alias("n_in_stratum"),
        )
    )


@_q(
    "curate_decontaminate",
    r"""
WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(t) - 2, 0) + 1),
                                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS grams
  FROM toks
),
bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id < 5),
corpus AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id >= 5)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
FROM corpus JOIN bench USING (gram)
GROUP BY doc_id
""",
)
def curate_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    3-gram with a held-out benchmark set (docs 0-4 stand in), with the
    overlap count per flagged doc. The scale shape is an inverted-
    index equi-join — corpus explodes to distinct (doc, gram) rows,
    the (small) benchmark gram set broadcasts, and the aggregation is
    partially applied map-side; the anti-join keep-list is this
    result's complement. No all-pairs comparison anywhere."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    grams = docs.select(
        "doc_id",
        F.array_distinct(TX.ngrams(TX.norm_tokens("text"), 3)).alias("grams"),
    )
    bench = (
        grams.filter(F.col("doc_id") < 5)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    corpus = grams.filter(F.col("doc_id") >= 5).select(
        "doc_id", F.explode("grams").alias("gram")
    )
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


@_q(
    "emb_quantize_int8",
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e)
SELECT vec_id,
       CAST(round(scale * 1000000) AS BIGINT) AS scale_micro,
       md5(array_to_string(list_transform(v, x -> CAST(round(x / scale * 127.0) AS INTEGER)), ',')) AS q_md5
FROM s
""",
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (the storage/transfer
    compression step of an embedding pipeline: 4× smaller than
    float32, 8× smaller than the double working form). Map-only native
    array expressions; the oracle hashes the exact integer codes, so
    any scale or rounding divergence between engines breaks the match.
    At 100 TB this runs at scan speed and the quantized column is what
    the ANN index layers consume.

    The scale is reported as integer MICROS, not round(scale, 6)
    (r12, found by an off-gate sf0.001 sweep): Spark's round(d, 6) is
    exact-BigDecimal HALF_UP on the binary double while DuckDB's
    scales by 1e6 in float first, so the two can disagree by one ulp
    exactly at a x.5e-6 boundary.  round-to-integer of the SAME
    scaled double is computed identically by both engines."""
    emb = _t(spark, sf_dir, "embeddings")
    v = S.as_double(F.col("embedding"))
    withv = emb.select("vec_id", v.alias("v"))
    scale = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    scaled = withv.withColumn("scale", scale)
    codes = F.transform(
        F.col("v"), lambda x: F.round(x / F.col("scale") * 127.0).cast("int")
    )
    return scaled.select(
        "vec_id",
        F.round(F.col("scale") * 1000000).cast("bigint").alias("scale_micro"),
        F.md5(F.array_join(codes, ",")).alias("q_md5"),
    )


@_q(
    "text_winnowing",
    r"""
WITH n AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents),
kh AS (
  SELECT doc_id,
         CASE WHEN length(norm) >= 8
              THEN list_transform(range(1, length(norm) - 8 + 2), i ->
                   CAST('0x' || substr(md5(substr(norm, i, 8)), 1, 7) AS BIGINT))
              ELSE [] END AS hs
  FROM n
),
wm AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4
              THEN list_transform(range(1, len(hs) - 4 + 2), j ->
                   list_min(list_slice(hs, j, j + 3)))
              ELSE hs END AS mins
  FROM kh
)
SELECT doc_id,
       CAST(len(list_distinct(mins)) AS BIGINT) AS n_fingerprints,
       md5(array_to_string(list_sort(list_distinct(mins)), ',')) AS fp_md5
FROM wm
""",
)
def text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (the brief's 'document
    fingerprinting (rolling hash)' in its classic MOSS form) over the
    corpus: 8-char-gram hashes, window-4 minima, distinct set per doc.
    The oracle recomputes the identical selection in DuckDB list ops
    and hashes the sorted fingerprint set — selection semantics, not
    just counts, must match. Map-only; at scale the fingerprint sets
    feed the same banded-join machinery as MinHash for substring-level
    near-dup detection."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fp = TX.winnowing_fingerprints(docs, k=8, w=4)
    return fp.select(
        "doc_id",
        F.size("fingerprints").cast("bigint").alias("n_fingerprints"),
        F.md5(F.array_join("fingerprints", ",")).alias("fp_md5"),
    )


@_q(
    "curate_winsorize",
    """
WITH b AS (
  SELECT lang,
         quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents GROUP BY lang
)
SELECT doc_id, documents.lang,
       CAST(round(100 * lo) AS BIGINT) AS lo_x100,
       CAST(round(100 * hi) AS BIGINT) AS hi_x100,
       CAST(round(100 * CASE WHEN n_chars < lo THEN lo WHEN n_chars > hi THEN hi
                  ELSE n_chars END) AS BIGINT) AS n_chars_w_x100,
       CAST((n_chars < lo OR n_chars > hi) AS BIGINT) AS clipped
FROM documents JOIN b ON documents.lang = b.lang
""",
)
def curate_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (clip to the group's p5/p95) — the
    outlier-handling staple of feature cleaning, in the scale shape:
    one partially-aggregated percentile pass per group (bounded: one
    row per lang), broadcast of that tiny bounds table back onto the
    fact, clip as a map-side expression. Exact interpolated
    percentiles on both engines (a_percentiles' proven pairing), and
    the interpolated bounds are emitted INTEGER-SCALED (hundredths,
    the r12 knife-edge-hardening pattern) instead of round(x, 2) —
    decimal rounding of an inexact interpolated double is the hazard
    class that flipped two entries in the r12 off-gate sweep. At
    extreme group cardinality swap in approx_percentile at a declared
    error bound."""
    docs = _t(spark, sf_dir, "documents")
    bounds = docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    joined = docs.join(F.broadcast(bounds), "lang")
    clip = (
        F.when(F.col("n_chars") < F.col("lo"), F.col("lo"))
        .when(F.col("n_chars") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("n_chars"))
    )
    return joined.select(
        "doc_id",
        "lang",
        F.round(F.lit(100) * F.col("lo")).cast("bigint").alias("lo_x100"),
        F.round(F.lit(100) * F.col("hi")).cast("bigint").alias("hi_x100"),
        F.round(F.lit(100) * clip).cast("bigint").alias("n_chars_w_x100"),
        ((F.col("n_chars") < F.col("lo")) | (F.col("n_chars") > F.col("hi")))
        .cast("bigint")
        .alias("clipped"),
    )


_MIX_RATES = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.25, "zh": 0.125}


def _mixture_sql() -> str:
    rates = " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_RATES.items())
    return (
        "WITH keyed AS (SELECT doc_id, lang, source, "
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 7) AS BIGINT) AS h, "
        f"CASE lang {rates} ELSE 0.0 END AS rate FROM documents) "
        "SELECT doc_id, lang, source FROM keyed "
        "WHERE h < rate * 268435456.0"
    )


@_q("curate_domain_mixture", _mixture_sql())
def curate_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampling — the data-mixing step of
    LLM corpus assembly (per-domain acceptance rates, e.g. upweight
    English, downsample zh to 12.5%): keep a doc iff its md5-uniform
    28-bit hash falls under rate·2^28. Same subset on every engine,
    every run, any partitioning (unlike rand()); map-only and
    pushdown-friendly; composes with the stratum key for temperature
    sampling. Rates are compile-time literals shared with the oracle."""
    docs = _t(spark, sf_dir, "documents")
    rate = F.lit(0.0)
    for k, v in _MIX_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    h = D.shingle_hash(F.col("doc_id").cast("string"))
    return docs.filter(h < rate * float(1 << 28)).select("doc_id", "lang", "source")


@_q(
    "curate_token_packing",
    r"""
WITH toks AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens FROM documents
),
packed AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM toks
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(floor((cum_tokens - 1) / 2000) AS BIGINT) AS shard_id
FROM packed
""",
)
def curate_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard assignment — the packing step before
    training: documents in a stable order, running token total, shard
    id = ⌊(cum−1)/budget⌋ so each shard holds ~budget tokens. The
    running sum runs DISTRIBUTED (r11:
    operators/rank.global_running_sums — range repartition +
    per-partition running sum + broadcast offsets, one range
    shuffle), so the global packing order no longer funnels every
    document through one partition; at 100 TB the same shape can
    also run per stratum (PARTITION BY source)."""
    from graphql_api_etl_spark.operators.rank import global_running_sums

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.token_count("text").alias("n_tokens"))
    packed = global_running_sums(toks, [F.asc("doc_id")], {"cum_tokens": "n_tokens"})
    return packed.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
        F.floor((F.col("cum_tokens") - 1) / F.lit(2000)).cast("bigint").alias("shard_id"),
    )


# ---------------------------------------------------------------------------
# Lookup-replace and name parsing (reference J10/P6 and X9/U1)
# ---------------------------------------------------------------------------


@_q(
    "x_lookup_replace",
    """
SELECT c_custkey,
       CASE n_name WHEN 'GERMANY' THEN 'DE' WHEN 'FRANCE' THEN 'FR'
                   WHEN 'CHINA' THEN 'CN' ELSE n_name END AS nation_code
FROM customer JOIN nation ON c_nationkey = n_nationkey
""",
)
def x_lookup_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dict-replace semantics (J10/P6: ``Series.replace(dict)``
    ETL:636–647): mapped value when present, original otherwise, via a
    broadcast lookup join — no shuffle of the fact side."""
    from graphql_api_etl_spark.operators.join import lookup_replace

    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("nation_code"))
    mapping = spark.createDataFrame(
        [("GERMANY", "DE"), ("FRANCE", "FR"), ("CHINA", "CN")], "k string, v string"
    )
    return lookup_replace(joined, "nation_code", mapping, "k", "v")


@_q(
    "x_name_parsing",
    """
SELECT p_partkey,
       CASE WHEN p_size > 25 THEN p_name ELSE concat(p_brand, ' / ', p_name) END AS raw_name,
       CASE WHEN contains(CASE WHEN p_size > 25 THEN p_name ELSE concat(p_brand, ' / ', p_name) END, '/')
            THEN string_split_regex(trim(string_split(CASE WHEN p_size > 25 THEN p_name ELSE concat(p_brand, ' / ', p_name) END, '/')[-1]), '\\s+')[1]
            ELSE string_split_regex(trim(CASE WHEN p_size > 25 THEN p_name ELSE concat(p_brand, ' / ', p_name) END), '\\s+')[1]
       END AS first_name,
       CASE WHEN len(string_split_regex(trim(CASE WHEN contains(CASE WHEN p_size > 25 THEN p_name ELSE concat(p_brand, ' / ', p_name) END, '/')
                 THEN string_split(CASE WHEN p_size > 25 THEN p_name ELSE concat(p_brand, ' / ', p_name) END, '/')[-1]
                 ELSE CASE WHEN p_size > 25 THEN p_name ELSE concat(p_brand, ' / ', p_name) END END), '\\s+')) > 1
            THEN array_to_string(string_split_regex(trim(CASE WHEN contains(CASE WHEN p_size > 25 THEN p_name ELSE concat(p_brand, ' / ', p_name) END, '/')
                 THEN string_split(CASE WHEN p_size > 25 THEN p_name ELSE concat(p_brand, ' / ', p_name) END, '/')[-1]
                 ELSE CASE WHEN p_size > 25 THEN p_name ELSE concat(p_brand, ' / ', p_name) END END), '\\s+')[2:], ' ')
            ELSE '' END AS last_name
FROM part
""",
)
def x_name_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Name tokenization (X9/U1, ETL:616–657): take the segment after
    "/" when present, first token = first name, remaining tokens =
    last name — as native expressions (the reference used a row
    ``.apply`` UDF; SURVEY §2.9 policy replaces it)."""
    from graphql_api_etl_spark.operators.transform import first_last_name

    part = _t(spark, sf_dir, "part")
    raw = F.when(F.col("p_size") > 25, F.col("p_name")).otherwise(
        F.concat(F.col("p_brand"), F.lit(" / "), F.col("p_name"))
    )
    named = part.select("p_partkey", raw.alias("raw_name"))
    first, last = first_last_name("raw_name")
    return named.select(
        "p_partkey", "raw_name", first.alias("first_name"), last.alias("last_name")
    )


# ---------------------------------------------------------------------------
# Sliding event-time window (complements the tumbling variant)
# ---------------------------------------------------------------------------


@_q(
    "events_sliding_window",
    """
WITH expanded AS (
  SELECT e.*, make_timestamp(((epoch_ms(ts) // 1000) // 1800 * 1800 - k * 1800) * 1000000) AS ws
  FROM events e, unnest([0, 1]) AS t(k)
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM expanded
GROUP BY 1, 2
""",
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h window, 30 min slide): each event lands in
    two windows. Spark's native window() generates the expansion;
    the oracle reproduces it with an explicit unnest over slide
    offsets (epoch-aligned starts, identical to Spark's origin)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
