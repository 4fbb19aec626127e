"""Similarity search over embedding columns (``array<float>``).

Three tiers, all returning (query_id, neighbor_id, sim, rank):

1. :func:`topk_bruteforce` — exact cosine top-k via a broadcast
   query-side cross join. The 100 TB story: the candidate corpus stays
   partitioned and is streamed once; only the (small) query set is
   broadcast, so cost is |Q|·|C| FLOPs with zero shuffle of the corpus.
   All arithmetic is a native ``aggregate(zip_with(...))`` fold —
   JVM-side, no Python.
2. :func:`topk_bucketed` — ANN via coarse buckets (IVF-style): only
   candidates in the query's bucket are scored. Any bucketing column
   works (a cluster id, an LSH key from :func:`with_hyperplane_bucket`).
3. :func:`with_hyperplane_bucket` — sign-random-hyperplane LSH key,
   md5-derived so it is deterministic and engine-portable.

Engine-native extension beyond the reference (no vector ops there);
cosine in double precision for cross-engine reproducibility.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def as_double(vec: Column) -> Column:
    # native array cast, not transform(x -> cast(x)): same element-wise
    # result, but stays in whole-stage codegen instead of paying the
    # interpreted-lambda HOF path (~µs per element)
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product — deterministic summation order,
    so results are bit-identical across engines that fold in order.

    NOTE: higher-order functions are CodegenFallback and each lambda
    invocation costs ~µs interpreted — for known-dimension vectors use
    :func:`dot_fixed` (unrolled, whole-stage-codegen, same summation
    order, measured ~50× faster)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _left_sum(terms: list[Column]) -> Column:
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def _sql_name(c: Column | str) -> str | None:
    """Column name usable inside a generated SQL fragment, or None."""
    if isinstance(c, str):
        return f"`{c}`"
    return None


def dot_fixed(a: Column | str, b: Column | str, dim: int) -> Column:
    """Unrolled dot product for a known dimension: 1-based element_at
    chain, left-associative adds — the SAME sequential summation order
    as the fold/DuckDB's loop (bit-identical results), but fully
    inside whole-stage codegen instead of interpreted lambdas.

    Pass column NAMES (strings) on hot construction paths: the
    expression is then built as one SQL string → one py4j round trip
    instead of ~3·dim Column-object calls (plan CONSTRUCTION, not
    execution, dominates unrolled vector math from Python — measured
    ~0.17 s of py4j chatter per 64-term plane)."""
    na, nb = _sql_name(a), _sql_name(b)
    if na and nb:
        return F.expr(" + ".join(f"element_at({na}, {i + 1}) * element_at({nb}, {i + 1})" for i in range(dim)))
    return _left_sum([F.element_at(a, i + 1) * F.element_at(b, i + 1) for i in range(dim)])


def norm_fixed(a: Column | str, dim: int) -> Column:
    na = _sql_name(a)
    if na:
        return F.expr(
            "sqrt(" + " + ".join(f"element_at({na}, {i + 1}) * element_at({na}, {i + 1})" for i in range(dim)) + ")"
        )
    return F.sqrt(_left_sum([F.element_at(a, i + 1) * F.element_at(a, i + 1) for i in range(dim)]))


def arrow_cosine():
    """Arrow-vectorized cosine pandas UDF: ~2.3× the throughput of the
    interpreted ``aggregate(zip_with)`` fold (higher-order functions
    are CodegenFallback). NOT bit-identical to the fold — numpy uses
    pairwise/SIMD summation — so the oracle-matched catalog queries
    stay on the native fold and this is the opt-in throughput path."""
    from graphql_api_etl_spark.operators._arrow_udfs import arrow_cosine_udf

    return arrow_cosine_udf


def _flatten_side(df: DataFrame, id_col: str, out_id: str, vec_col: str, prefix: str, dim: int, extra: list[str] | None = None) -> DataFrame:
    """Project a vector side to ``dim`` scalar double columns + norm,
    in ONE map-side pass over the vectorized scan.

    Why: evaluating an unrolled dot ABOVE a join re-fetches the array
    object from the joined row on every element_at (2·dim allocations
    per pair — measured ~3-5× the whole query's cost at 20k pairs).
    Scalar columns make the post-join dot plain ordinal double reads."""
    v = as_double(F.col(vec_col))
    nrm_sql = "sqrt(" + " + ".join(f"__v[{i}] * __v[{i}]" for i in range(dim)) + ")"
    return (
        df.select(*(extra or []), F.col(id_col).alias(out_id), v.alias("__v"))
        .selectExpr(
            *(extra or []),
            out_id,
            *[f"__v[{i}] AS {prefix}{i}" for i in range(dim)],
            f"{nrm_sql} AS {prefix}n",
        )
    )


def _flat_cos(dim: int) -> Column:
    dot_sql = " + ".join(f"q{i} * c{i}" for i in range(dim))
    return F.expr(f"({dot_sql}) / (qn * cn)")


def topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    use_arrow: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: broadcast(queries) × corpus, windowed rank
    (partial+final WindowGroupLimit keeps only k rows per query past
    the map side). With a known ``dim`` both sides are flattened to
    scalar columns first (see _flatten_side) — the dot above the join
    is then a codegen'd multiply-add chain over ordinal reads, same
    left-to-right summation order as the fold / DuckDB's loop.

    Norms are precomputed per side (each vector's norm computed once,
    not once per pair). Rank ties break on neighbor_id for
    determinism. ``use_arrow`` switches scoring to the vectorized
    pandas UDF (float-associativity differences in the ~1e-12 range).
    """
    if dim and not use_arrow:
        q = F.broadcast(_flatten_side(queries, id_col, "query_id", vec_col, "q", dim))
        c = _flatten_side(corpus, id_col, "neighbor_id", vec_col, "c", dim)
        pairs = q.crossJoin(c)
        if exclude_self:
            pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        # project to 3 columns BEFORE the window: carrying the 2·dim
        # flattened columns through the rank exchange costs a measured
        # ~0.09 s of plan/shuffle overhead at sf0.1 (and real bytes at
        # scale — the window shuffle would otherwise move every vector
        # component just to drop it after ranking)
        scored = pairs.select("query_id", "neighbor_id", _flat_cos(dim).alias("cos"))
    else:
        nrm = lambda col: norm(F.col(col))  # noqa: E731
        q = F.broadcast(
            queries.select(
                F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
            ).withColumn("qn", nrm("qv"))
        )
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
        ).withColumn("cn", nrm("cv"))
        pairs = q.crossJoin(c)
        if exclude_self:
            pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        if use_arrow:
            scored = pairs.select(
                "query_id", "neighbor_id", arrow_cosine()(F.col("qv"), F.col("cv")).alias("cos")
            )
        else:
            scored = pairs.select(
                "query_id",
                "neighbor_id",
                (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
            )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("sim"), "rank")
    )


def topk_bucketed(
    queries: DataFrame,
    corpus: DataFrame,
    bucket_col: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k within coarse buckets: the scale path. The cross join
    becomes an equi-join on the bucket key, so scored pairs drop from
    |Q|·|C| to Σ_b |Q_b|·|C_b|. Recall depends on bucket quality
    (IVF centroids, LSH keys, or any partitioning column)."""
    if dim:
        # flatten to scalar columns map-side (see _flatten_side): the
        # post-join dot then reads ordinals, not array objects. The
        # bucket key is projected with an explicit select (not a
        # withColumnRenamed) so an unrelated pre-existing `bucket`
        # column can never create an ambiguous reference.
        def _pick(df: DataFrame) -> DataFrame:
            return df.select(
                F.col(bucket_col).alias("bucket"), F.col(id_col), F.col(vec_col)
            )

        q = _flatten_side(_pick(queries), id_col, "query_id", vec_col, "q", dim, extra=["bucket"])
        c = _flatten_side(_pick(corpus), id_col, "neighbor_id", vec_col, "c", dim, extra=["bucket"])
        pairs = q.join(c, "bucket")
        if exclude_self:
            pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        # slim pre-window projection — same rationale as topk_bruteforce
        scored = pairs.select("query_id", "neighbor_id", _flat_cos(dim).alias("cos"))
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"), F.col(bucket_col).alias("bucket"), as_double(F.col(vec_col)).alias("qv")
        ).withColumn("qn", norm(F.col("qv")))
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(bucket_col).alias("bucket"), as_double(F.col(vec_col)).alias("cv")
        ).withColumn("cn", norm(F.col("cv")))
        pairs = q.join(c, "bucket")
        if exclude_self:
            pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
        scored = pairs.select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("sim"), "rank")
    )


# Deterministic pseudo-random hyperplanes: component (p, d) is derived
# from md5(p:d), mapped to ±1. Engine-portable (md5 is universal).
def _hyperplane(plane_idx: int, dim: int) -> list[int]:
    import hashlib

    comps = []
    for d in range(dim):
        h = hashlib.md5(f"{plane_idx}:{d}".encode()).hexdigest()
        comps.append(1 if int(h[:2], 16) % 2 == 0 else -1)
    return comps


def with_hyperplane_bucket(
    df: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    vec_col: str = "embedding",
    out_col: str = "lsh_bucket",
    vec_out: str | None = None,
) -> DataFrame:
    """Sign-LSH bucket key: n_planes sign bits of ±1-hyperplane dots,
    packed into an integer. Cosine-similar vectors collide with
    probability (1 - θ/π)^n_planes.

    The double-cast vector is materialized in its own projection first
    — inlining it means every plane's fold re-evaluates the cast
    transform (n_planes× the work, interpreted); and the input is
    repartitioned because HOF evaluation is CPU-bound and a single-file
    source otherwise runs it on one core.
    """
    from graphql_api_etl_spark.operators.dedup import repartition_for_cpu

    src = repartition_for_cpu(df).withColumn("__v__", as_double(F.col(vec_col)))
    if n_planes * dim <= 1024:
        # Native unrolled path: the whole n_planes×dim computation is
        # ONE generated SQL string → one py4j call. Building it
        # Column-by-Column costs ~0.17 s/plane of Python↔JVM chatter
        # (the JVM-side parse, analyze and codegen of the same tree
        # take ~0.2 s total). Capped at 1024 leaf terms: whole-stage
        # codegen binds inputs to local variables, so Spark CANNOT
        # split a larger expression into sub-64KB methods — janino
        # rejects the class and every execution pays a multi-second
        # doomed compile before falling back to interpreted eval
        # (measured: the 48-plane/64-dim variant ran 2–14 s/run at
        # sf0.1 vs ~0.4 s for 16-plane).
        terms = []
        for p in range(n_planes):
            coeffs = _hyperplane(p, dim)
            # ±1 coefficients → pure add/sub chain, left-associative in
            # SQL, same sequential summation order as DuckDB's loop
            dot_sql = "".join(
                (("+" if c > 0 else "-") if i else ("" if c > 0 else "-"))
                + f"element_at(__v__, {i + 1})"
                for i, c in enumerate(coeffs)
            )
            terms.append(
                f"CASE WHEN ({dot_sql}) >= 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            )
        out = src.withColumn(out_col, F.expr(" + ".join(terms)))
    else:
        out = src.withColumn(out_col, _bucket_arrow_udf(n_planes, dim)(F.col("__v__")))
    # vec_out keeps the double-cast vector for callers that score
    # candidates in the same pass (avoids a second cast downstream).
    if vec_out is not None:
        return out.withColumnRenamed("__v__", vec_out)
    return out.drop("__v__")


def _bucket_arrow_udf(n_planes: int, dim: int):
    """Arrow-vectorized sign-LSH bucket for plane counts too large for
    whole-stage codegen (see with_hyperplane_bucket). One numpy kernel
    per Arrow batch; BIT-EXACT parity with the native SQL chain and
    DuckDB's ``list_dot_product`` loop is preserved by accumulating the
    plane dots SEQUENTIALLY over dimensions in float64 —
    ``acc_p = ((±v_1 ±v_2) ±v_3)…`` — the identical left-associative
    IEEE-754 operation order, not numpy's pairwise ``sum`` (whose
    different rounding could flip the sign of a near-zero dot and
    desync the candidate set between engines)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    signs = np.array([_hyperplane(p, dim) for p in range(n_planes)], dtype=np.float64)
    weights = np.int64(1) << np.arange(n_planes, dtype=np.int64)

    def bucket(v):
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        V = np.stack(v.to_numpy())  # batch × dim, float64
        acc = np.zeros((V.shape[0], n_planes), dtype=np.float64)
        for i in range(dim):
            # one multiply-add step per dimension: ±1 coefficients
            # make the product exact, and += keeps left-assoc order
            acc += V[:, i : i + 1] * signs[None, :, i]
        return pd.Series((acc >= 0).astype(np.int64) @ weights)

    # explicit annotations (module uses `from __future__ import
    # annotations`, so inline string hints wouldn't resolve for the
    # decorator's signature inference)
    bucket.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf("long")(bucket)


# The search-operator contract: the query side is a SERVING BATCH
# (|Q| ≪ corpus), collected once to the driver and broadcast inside
# the scoring closure.  This cap turns a silently-wrong use (a
# fact-scale query frame OOMing the driver) into an actionable error.
# At the default, a dim-64 float64 matrix is ~32 MB — comfortably
# driver-sized; raise it deliberately if your serving batches are
# bigger, or switch paths entirely when |Q| is fact-scale.
MAX_QUERY_BATCH = 65536


def collect_query_matrix(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    max_queries: int = MAX_QUERY_BATCH,
) -> list:
    """Collect the query side of an ANN search, enforcing the
    |Q| ≪ corpus contract shared by topk_matmul / topk_pq /
    topk_ivfpq.  Raises with the scale-path alternative named when the
    frame exceeds ``max_queries`` (docs/PLANS.md: for fact-scale |Q|
    use the all-distributed paths — topk_bruteforce /
    topk_bucketed LSH — whose pair generation is a join, not a
    driver-side closure)."""
    rows = queries.select(id_col, vec_col).limit(max_queries + 1).collect()
    if len(rows) > max_queries:
        raise ValueError(
            f"query side exceeds the {max_queries}-row serving-batch cap: "
            "the matmul/PQ/IVF-PQ search operators collect the query "
            "matrix to the driver by contract (|Q| << corpus). For a "
            "fact-scale query frame use the distributed pair paths "
            "instead (similarity.topk_bruteforce or similarity."
            "topk_bucketed), or raise max_queries deliberately."
        )
    return rows


def stack_f64(values) -> "object":
    """Stack a pandas Series of fixed-dim vectors (Arrow list cells
    arrive as np.ndarray or list) into an (n, dim) float64 matrix via
    C-loop ``np.stack`` instead of a per-row ``list()`` detour —
    measured ~7 µs/row → ~0.8 at dim 64, the dominant Python-side cost
    of the Arrow kernels (r10, measured at sf0.1).  float32 cells are
    upcast so fixed-point scores stay bit-identical to the float64
    oracle arithmetic."""
    import numpy as np

    return np.stack(values.to_numpy()).astype(np.float64, copy=False)


def topk_matmul(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    micro: int = 1_000_000,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched BLAS: the query matrix is
    small by contract (an ANN serving batch), collected once and
    captured in the closure; each corpus Arrow batch becomes one numpy matmul
    (batch×dim @ dim×|Q|) followed by a per-batch partial top-k, so
    the rows that reach the final per-query window are ≤ batches·k per
    query — never the |Q|·|C| pair stream. This is the genuinely
    vectorized form of ``topk_bruteforce``'s scalar-codegen plan: one
    BLAS kernel amortizes the per-pair expression-eval overhead that
    dominates the native path (measured ~0.5 µs/pair codegen vs
    ~0.01 µs/pair matmul at dim=64).

    Scores are fixed-point micro-similarities
    (``sim_micro = floor(cos·1e6)``) and ALL ordering — batch-partial
    and final — is by (sim_micro DESC, neighbor_id): a total order
    both engines compute identically, immune to float-summation-order
    noise at rank boundaries (rounding the float after ranking is
    not, which is why this variant doesn't reuse the brute-force
    convention).

    Output: (query_id, neighbor_id, sim_micro, rank).
    """
    import numpy as np

    qrows = collect_query_matrix(queries, id_col, vec_col)
    qids = [int(r[0]) for r in qrows]
    qmat = np.asarray([list(r[1]) for r in qrows], dtype=np.float64)
    qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    qid_to_idx = {qid: j for j, qid in enumerate(qids)}
    qid_arr = np.asarray(qids, dtype=np.int64)
    nq = len(qids)
    sentinel = np.iinfo(np.int64).min

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf[id_col].to_numpy(dtype=np.int64)
            cmat = stack_f64(pdf[vec_col])
            cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
            simq = np.floor((cmat @ qmat.T) * micro).astype(np.int64)
            if exclude_self:
                # touch only the rows whose id IS a query id (≤|Q| per
                # batch) instead of dict-probing every corpus row
                for pos in np.flatnonzero(np.isin(cids, qid_arr)):
                    simq[pos, qid_to_idx[int(cids[pos])]] = sentinel
            out_q: list[int] = []
            out_c: list[int] = []
            out_s: list[int] = []
            for j in range(nq):
                col = simq[:, j]
                # mask the sentinel BEFORE sorting: negating INT64_MIN
                # overflows back to INT64_MIN, which would sort the
                # excluded self-row first instead of last
                valid = np.flatnonzero(col != sentinel)
                if len(valid) > k:
                    # exact top-k under (sim DESC, id ASC): O(n) select
                    # of the kth-largest value, then lexsort only the
                    # ≥threshold survivors — boundary ties all survive
                    # the select, so the id tie-break stays exact
                    # (measured ~14x faster than the full lexsort)
                    vcol = col[valid]
                    thr = np.partition(vcol, len(vcol) - k)[len(vcol) - k]
                    valid = valid[vcol >= thr]
                idx = valid[np.lexsort((cids[valid], -col[valid]))[:k]]
                out_q.extend([qids[j]] * len(idx))
                out_c.extend(int(c) for c in cids[idx])
                out_s.extend(int(s) for s in col[idx])
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    "neighbor_id": pd.Series(out_c, dtype="int64"),
                    "sim_micro": pd.Series(out_s, dtype="int64"),
                }
            )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, sim_micro long"
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim_micro").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim_micro", "rank")
    )
