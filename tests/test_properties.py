"""Property-based tests (hypothesis) for the engine's core invariants
(SURVEY §5.4): full-outer provenance partition, inner-slice equivalence,
dedup idempotence, union-distinct commutativity.

Each example spins Spark jobs, so examples are few and inputs small —
the value is in the generated EDGE CASES (empty sides, all-duplicate
keys, disjoint keys), not volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from graphql_api_etl_spark.operators.join import outer_merge, split_by_provenance

KEYS = st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=8)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _df(spark, keys, side):
    if not keys:
        return spark.createDataFrame([], f"k int, {side} string")
    return spark.createDataFrame([(k, f"{side}{i}") for i, k in enumerate(keys)], f"k int, {side} string")


@given(left_keys=KEYS, right_keys=KEYS)
@_SETTINGS
def test_provenance_partition_invariant(spark, left_keys, right_keys):
    left, right = _df(spark, left_keys, "l"), _df(spark, right_keys, "r")
    m = outer_merge(left, right, on="k")
    both, lo, ro = split_by_provenance(m)
    n_both, n_lo, n_ro = both.count(), lo.count(), ro.count()
    # the three slices partition the outer join
    assert n_both + n_lo + n_ro == m.count()
    # inner slice ≡ inner join; anti slices ≡ SQL anti joins
    assert n_both == left.join(right, "k", "inner").count()
    assert n_lo == left.join(right, "k", "left_anti").count()
    assert n_ro == right.join(left, "k", "left_anti").count()


@given(keys=KEYS)
@_SETTINGS
def test_self_outer_merge_has_no_anti_rows(spark, keys):
    df = _df(spark, keys, "v")
    m = outer_merge(df, df.withColumnRenamed("v", "w"), on="k")
    _, lo, ro = split_by_provenance(m)
    assert lo.count() == 0 and ro.count() == 0


@given(keys=KEYS)
@_SETTINGS
def test_distinct_idempotent_and_union_commutative(spark, keys):
    a = _df(spark, keys, "v").select("k")
    b = _df(spark, list(reversed(keys)), "v").select("k")
    da = a.distinct()
    assert da.distinct().count() == da.count()  # idempotence
    ab = {r["k"] for r in a.unionByName(b).distinct().collect()}
    ba = {r["k"] for r in b.unionByName(a).distinct().collect()}
    assert ab == ba == set(keys)


@given(texts=st.lists(st.text(alphabet="ab ", min_size=1, max_size=20), min_size=1, max_size=6))
@_SETTINGS
def test_exact_dedup_counts(spark, texts):
    from graphql_api_etl_spark.operators.dedup import exact_dedup

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    groups = exact_dedup(docs).collect()
    # group sizes partition the corpus; keepers are distinct ids
    assert sum(r["n_copies"] for r in groups) == len(texts)
    keepers = [r["keeper_id"] for r in groups]
    assert len(keepers) == len(set(keepers))


INTERVALS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),  # start
        st.integers(min_value=0, max_value=25),  # length
    ),
    min_size=0,
    max_size=6,
)
POINTS = st.lists(st.integers(min_value=0, max_value=60), min_size=0, max_size=8)


@given(points=POINTS, ivals=INTERVALS, chunk=st.sampled_from([3.0, 10.0, 50.0]))
@_SETTINGS
def test_interval_join_equals_naive_for_any_chunk(spark, points, ivals, chunk):
    """Chunked containment join ≡ the naive BETWEEN join for every
    chunk width (edge cases: empty sides, zero-length intervals,
    intervals spanning many chunks, duplicate points)."""
    from graphql_api_etl_spark.operators.rangejoin import interval_join

    left = spark.createDataFrame(
        [(i, float(p)) for i, p in enumerate(points)] or [], "lid int, t double"
    ) if points else spark.createDataFrame([], "lid int, t double")
    right = spark.createDataFrame(
        [(j, float(s), float(s + ln)) for j, (s, ln) in enumerate(ivals)] or [],
        "rid int, s double, e double",
    ) if ivals else spark.createDataFrame([], "rid int, s double, e double")
    naive = left.crossJoin(right).filter((F.col("t") >= F.col("s")) & (F.col("t") <= F.col("e")))
    chunked = interval_join(left, right, ts_col="t", start_col="s", end_col="e", chunk=chunk)
    assert sorted((r["lid"], r["rid"]) for r in chunked.collect()) == sorted(
        (r["lid"], r["rid"]) for r in naive.collect()
    )


PARENTS = st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=10)


@given(parents=PARENTS)
@_SETTINGS
def test_closure_roots_equals_sequential_walk(spark, parents):
    """Pointer doubling ≡ the obvious one-step-at-a-time walk, on
    arbitrary forests (child i → parent[i], self-loops dropped)."""
    from graphql_api_etl_spark.operators.graph import closure_roots

    # child i+10 → parent p (offset avoids accidental cycles: edges
    # always point from >=10 to <10, and 0..9 have no parents)
    edges = [(i + 10, p) for i, p in enumerate(parents)]
    # second tier: child i+20 → i+10 (chains of depth 2)
    edges += [(i + 20, i + 10) for i in range(len(parents))]
    df = spark.createDataFrame(
        [(str(c), str(p)) for c, p in edges], "child string, parent string"
    )
    got = {r["node_id"]: (r["root_id"], r["depth"]) for r in closure_roots(df).collect()}

    pmap = {str(c): str(p) for c, p in edges}
    for c in pmap:
        node, depth = c, 0
        while node in pmap:
            node, depth = pmap[node], depth + 1
        assert got[c] == (node, depth), (c, got[c], (node, depth))
    assert len(got) == len(pmap)


TOKENS = st.lists(
    st.text(alphabet="abcx", min_size=1, max_size=3), min_size=0, max_size=10
)


@given(toks=TOKENS, n=st.sampled_from([1, 2, 3, 5]))
@_SETTINGS
def test_ngrams_equals_python_reference(spark, toks, n):
    """ngrams() must match the plain Python sliding window for any
    token list — including lists shorter than n, where Spark's
    sequence(1, 0) would otherwise produce a DESCENDING index range
    (the r4 bug the _index_range guard exists for)."""
    from graphql_api_etl_spark.operators.text import ngrams

    text = " ".join(toks)
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(
        ngrams(F.split(F.trim(F.col("text")), r"\s+"), n).alias("g")
    ).first()["g"]
    pytoks = text.strip().split() if text.strip() else [""]
    expect = [" ".join(pytoks[i : i + n]) for i in range(len(pytoks) - n + 1)]
    assert got == expect


@given(texts=st.lists(st.text(alphabet="ab@. 5-", min_size=0, max_size=30), min_size=1, max_size=4))
@_SETTINGS
def test_scrub_pii_idempotent(spark, texts):
    """Scrubbing is idempotent: placeholders must never re-match the
    patterns (a second pass changes nothing)."""
    from graphql_api_etl_spark.operators.text import scrub_pii

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id int, text string")
    once = scrub_pii(df).select("doc_id", F.col("text_scrubbed").alias("text"))
    twice = scrub_pii(once).select("doc_id", "text_scrubbed")
    joined = once.join(twice, "doc_id")
    assert joined.filter(F.col("text") != F.col("text_scrubbed")).count() == 0


PAIRS = st.lists(
    st.tuples(st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)),
    min_size=1,
    max_size=12,
).filter(lambda ps: any(a != b for a, b in ps))


@given(pairs=PAIRS)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_connected_components_equals_union_find(spark, pairs):
    """Distributed hash-min label propagation must equal a plain
    union-find over the same edges (self-loops dropped)."""
    from graphql_api_etl_spark.operators.graph import connected_components

    edges = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    got = {r["node_id"]: r["component_id"] for r in connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in parent}
    assert got == expect


@given(
    st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=60, unique=True)
)
@_SETTINGS
def test_global_shuffle_is_permutation(spark, ids):
    """Any id set: shards partition it, positions are 1..|shard|, and
    the assignment is reproducible."""
    from graphql_api_etl_spark.operators import corpus as C

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    rows = C.global_shuffle(df, n_shards=3).collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(ids)
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r["pos"])
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


@given(
    st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=50),
        min_size=1,
        max_size=8,
    )
)
@_SETTINGS
def test_dedup_spans_conserves_and_dedupes(spark, docs):
    """For any corpus: every span survives exactly once globally (kept
    spans across all docs = distinct spans in the corpus), and
    reassembled text is the subsequence of surviving spans."""
    from graphql_api_etl_spark.operators import corpus as C

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = C.dedup_spans(df, span_words=3).collect()
    # expected distinct spans computed by a python reference
    def spans(words):
        return [" ".join(words[i : i + 3]) for i in range(0, len(words), 3)]

    all_spans = [s for _, words in zip(range(len(docs)), docs) for s in spans(words)]
    assert sum(r["n_kept"] for r in out) == len(set(all_spans))
    assert sum(r["n_spans"] for r in out) == len(all_spans)
    for r in out:
        kept_words = r["new_text"].split() if r["new_text"] else []
        # kept text must be drawn from the doc's own spans, in order
        doc_spans = spans(docs[r["doc_id"]])
        kept_sp = spans(kept_words) if kept_words else []
        it = iter(doc_spans)
        assert all(s in it for s in kept_sp)


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=1, max_size=40), min_size=1, max_size=4
    )
)
@_SETTINGS
def test_chunk_windows_cover_and_overlap(spark, texts):
    """Every chunk window is within bounds, consecutive chunks start
    exactly one stride (64) apart, and the windows jointly cover all
    tokens: last start + its length == n for every doc (clamped final
    window reaches the document end)."""
    from graphql_api_etl_spark.queries_llm import text_chunk_windows
    import os, tempfile

    rows = [(i, t) for i, t in enumerate(texts)]
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(rows, "doc_id long, text string").withColumn(
            "lang", F.lit("en")
        ).withColumn("source", F.lit("t")).withColumn(
            "n_chars", F.length("text")
        ).write.parquet(os.path.join(tmp, "documents.parquet"))
        out = text_chunk_windows(spark, tmp).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # whitespace-only/empty docs have zero tokens -> zero chunks
    assert set(by_doc) == {i for i, t in rows if t.strip()}
    for i, t in rows:
        n = len(t.strip().split())
        if n == 0:
            continue
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        starts = [c.start_tok for c in chunks]
        assert starts == list(range(1, n + 1, 64))
        for c in chunks:
            assert 1 <= c.chunk_len <= 128
            assert c.start_tok + c.chunk_len - 1 <= n
        last = chunks[-1]
        assert last.start_tok + last.chunk_len - 1 == n


@given(ids=st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=30, unique=True))
@_SETTINGS
def test_train_split_partitions_corpus(spark, ids):
    """The hash split is a partition: every doc lands in exactly one
    of train/val/test, and re-running with extra docs never moves an
    existing doc's split (growth stability)."""
    from graphql_api_etl_spark.queries_llm import curate_train_split
    import os, tempfile

    def run(id_list):
        with tempfile.TemporaryDirectory() as tmp:
            spark.createDataFrame(
                [(i, f"doc {i}", "en", "t", 5) for i in id_list],
                "doc_id long, text string, lang string, source string, n_chars int",
            ).write.parquet(os.path.join(tmp, "documents.parquet"))
            return curate_train_split(spark, tmp).collect()

    full = run(ids)
    assert sum(r.n_docs for r in full) == len(ids)
    assert {r.split for r in full} <= {"train", "val", "test"}
    # growth stability: the subset's per-split totals are bounded by the
    # full run's (no doc migrates when the corpus grows).
    half = ids[: max(1, len(ids) // 2)]
    sub = run(half)
    full_by = {(r.split, r.lang): r.n_docs for r in full}
    for r in sub:
        assert r.n_docs <= full_by.get((r.split, r.lang), 0)


@given(
    ivals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),  # key
            st.integers(min_value=0, max_value=20),  # start
            st.integers(min_value=1, max_value=10),  # length
        ),
        min_size=0,
        max_size=10,
    )
)
@_SETTINGS
def test_max_concurrency_equals_brute_force(spark, ivals):
    """Sweep-line max overlap == O(n²) brute force counting, for any
    interval set per key, half-open [s, e) semantics (touching
    intervals never overlap)."""
    from graphql_api_etl_spark.operators.timeseries import max_concurrency

    if not ivals:
        return
    rows = [(k, s, s + ln) for k, s, ln in ivals]
    df = spark.createDataFrame(rows, "k int, s int, e int")
    got = {
        r["k"]: r["max_concurrency"]
        for r in max_concurrency(df, "k", "s", "e").collect()
    }
    for k in {k for k, _, _ in rows}:
        span = [(s, e) for kk, s, e in rows if kk == k]
        # brute force: at every start point, count open intervals
        want = max(sum(1 for s2, e2 in span if s2 <= s < e2) for s, _ in span)
        assert got[k] == want, (k, span)


@given(
    seq=st.lists(st.sampled_from("abc"), min_size=0, max_size=12),
)
@_SETTINGS
def test_scd2_versions_tile_the_timeline(spark, seq):
    """SCD2 invariants for any state sequence: versions are 1..n
    contiguous, consecutive versions have distinct states, each
    version opens exactly when the previous closes, and exactly one
    version is open (next_ts NULL)."""
    from graphql_api_etl_spark.operators.timeseries import scd2_history

    if not seq:
        return
    rows = [(1, s, t, t) for t, s in enumerate(seq)]
    df = spark.createDataFrame(rows, "uid int, state string, ts int, tb int")
    hist = sorted(
        scd2_history(df, "uid", "state", "ts", "tb").collect(),
        key=lambda r: r["version"],
    )
    # python reference: collapse consecutive duplicates
    want_states = [s for i, s in enumerate(seq) if i == 0 or s != seq[i - 1]]
    assert [r["state"] for r in hist] == want_states
    assert [r["version"] for r in hist] == list(range(1, len(want_states) + 1))
    opens = [r for r in hist if r["next_ts"] is None]
    assert len(opens) == 1 and opens[0]["version"] == len(want_states)
    for prev, nxt in zip(hist, hist[1:]):
        assert prev["next_ts"] == nxt["ts"]
        assert prev["state"] != nxt["state"]


@given(
    vals=st.lists(st.integers(min_value=0, max_value=50000), min_size=1, max_size=15),
    depth=st.integers(min_value=1, max_value=6),
)
@_SETTINGS
def test_ewma_trailing_equals_python_reference(spark, vals, depth):
    """Windowed EWMA == the direct weighted sum over the trailing
    `depth` values with weights 2^-d, computed exactly in Python."""
    from graphql_api_etl_spark.operators.timeseries import ewma_trailing_cents

    rows = [(1, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "uid int, pos int, cents long")
    out, ewma = ewma_trailing_cents(df, "uid", ["pos"], "cents", depth=depth)
    got = {
        r["pos"]: r["ewma"]
        for r in out.select("pos", ewma.alias("ewma")).collect()
    }
    for i in range(len(vals)):
        window = vals[max(0, i - depth + 1) : i + 1][::-1]  # newest first
        num = sum(v * (1 << (depth - 1 - d)) for d, v in enumerate(window))
        den = sum(100 * (1 << (depth - 1 - d)) for d in range(len(window)))
        assert got[i] == round(num / den, 4), (i, window)


@given(seq=st.lists(st.sampled_from("abc"), min_size=0, max_size=12))
@_SETTINGS
def test_transition_matrix_counts_and_normalizes(spark, seq):
    """Transition counts == Python bigram counts; probabilities per
    source state sum to ~1."""
    from collections import Counter

    from graphql_api_etl_spark.operators.timeseries import transition_matrix

    if len(seq) < 2:
        return
    rows = [(1, s, t) for t, s in enumerate(seq)]
    df = spark.createDataFrame(rows, "uid int, state string, ts int")
    got = transition_matrix(df, "uid", "state", ["ts"]).collect()
    want = Counter(zip(seq, seq[1:]))
    assert {(r["prev_state"], r["next_state"]): r["n"] for r in got} == dict(want)
    by_src = {}
    for r in got:
        by_src.setdefault(r["prev_state"], 0.0)
        by_src[r["prev_state"]] += r["p"]
    for src, total in by_src.items():
        assert abs(total - 1.0) < 0.01, (src, total)


@given(
    ivals=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 10)), min_size=1, max_size=12
    )
)
@_SETTINGS
def test_interval_coalesce_equals_day_union(spark, ivals):
    """The single-pass gaps-and-islands merge (x_interval_coalesce's
    formulation) must agree with the brute-force day-set union on ANY
    interval multiset: same covered-day total, same span count, and
    every span maximal (its start strictly after the previous span's
    end)."""
    import datetime as dt

    from pyspark.sql import Window as W

    base = dt.date(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(days=s), base + dt.timedelta(days=s + ln))
        for s, ln in ivals
    ]
    iv = spark.createDataFrame(rows, "k bigint, s date, e date")
    w = W.partitionBy("k").orderBy("s", "e")
    o = iv.withColumn("pmax", F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1)))
    fl = o.withColumn(
        "st", F.when(F.col("pmax").isNull() | (F.col("s") > F.col("pmax")), 1).otherwise(0)
    )
    g = fl.withColumn("gid", F.sum("st").over(w.rowsBetween(W.unboundedPreceding, 0)))
    spans = (
        g.groupBy("k", "gid")
        .agg(F.min("s").alias("ss"), F.max("e").alias("se"))
        .collect()
    )
    # brute force: union of day sets
    days = set()
    for _, s, e in rows:
        d = s
        while d <= e:
            days.add(d)
            d += dt.timedelta(days=1)
    covered = sum((r["se"] - r["ss"]).days + 1 for r in spans)
    assert covered == len(days)
    ordered = sorted((r["ss"], r["se"]) for r in spans)
    for (_s1, e1), (s2, _e2) in zip(ordered, ordered[1:]):
        assert s2 > e1  # maximality: spans never overlap or touch


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=24,
    ),
    k=st.integers(2, 5),
)
@settings(max_examples=60, deadline=None)
def test_kcore_bsp_matches_sequential_peel(pairs, k):
    """The synchronous BSP peel (graph_kcore's per-round rule: drop
    EVERY under-degree node simultaneously) converges to the same
    fixpoint as the textbook SEQUENTIAL peel (remove one node at a
    time) on any graph — the k-core is unique, so peeling order and
    batching cannot matter. Pure-Python replicas of both (the Spark
    loop itself is pinned by the hand-graph test and the oracle
    differential; this pins the MATH the fixed-round contract rests
    on), plus the round bound: BSP reaches the fixpoint in at most
    n rounds."""
    edges = {(min(a, b), max(a, b)) for a, b in pairs}
    nodes = {n for e in edges for n in e}

    seq_edges = set(edges)
    while True:
        deg: dict[int, int] = {}
        for u, v in seq_edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        victim = next((n for n in sorted(deg) if deg[n] < k), None)
        if victim is None:
            break
        seq_edges = {(u, v) for u, v in seq_edges if victim not in (u, v)}

    bsp_edges, rounds = set(edges), 0
    while True:
        deg = {}
        for u, v in bsp_edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(u, v) for u, v in bsp_edges if u in keep and v in keep}
        if nxt == bsp_edges:
            break
        bsp_edges, rounds = nxt, rounds + 1

    assert bsp_edges == seq_edges
    assert rounds <= max(len(nodes), 1)


_DELTA_ROWS = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=4)),
        st.integers(min_value=0, max_value=2),
    ),
    min_size=0,
    max_size=8,
)


@given(old_rows=_DELTA_ROWS, new_rows=_DELTA_ROWS)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_staging_delta_merge_always_lands_exactly_the_new_state(
    spark, tmp_path_factory, old_rows, new_rows
):
    """ReconcileStaging delta-merge invariant (r13): whatever path the
    classifier takes — zero-write, append, or full re-land — landing
    state B after state A must read back EXACTLY B's multiset.
    Generated edges: empty sides, null keys, duplicate keys, duplicate
    identical rows, adds/updates/deletes in one batch."""
    import uuid

    from graphql_api_etl_spark.sinks.tables import ReconcileStaging

    tag = uuid.uuid4().hex[:10]
    base = tmp_path_factory.mktemp(f"deltaprop_{tag}")
    staging = ReconcileStaging(f"graft_prop_{tag}", str(base / "s"), num_buckets=2)

    def frame(rows):
        if not rows:
            return spark.createDataFrame([], "node_name string, v int")
        return spark.createDataFrame(
            [(None if k is None else f"k{k}", v) for k, v in rows],
            "node_name string, v int",
        )

    try:
        staging.land(frame(old_rows), "api", "node_name")
        out = staging.land(frame(new_rows), "api", "node_name")
        got = sorted(
            ((r["node_name"], r["v"]) for r in out.collect()),
            key=lambda t: (t[0] is None, t),
        )
        want = sorted(
            ((None if k is None else f"k{k}", v) for k, v in new_rows),
            key=lambda t: (t[0] is None, t),
        )
        assert got == want
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS graft_prop_{tag} CASCADE")
