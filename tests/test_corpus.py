"""Semantic tests for operators/corpus.py — duplicate-span removal,
deterministic global shuffle, Bloom decontamination, unigram LM
scoring. (Cross-engine value equality is covered separately by
test_oracle_diff; these pin the operator CONTRACTS on hand-built
inputs where the expected answer is known by construction.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from graphql_api_etl_spark.operators import corpus as C


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# dedup_spans
# ---------------------------------------------------------------------------


def test_dedup_spans_removes_later_occurrence_only(spark):
    boiler = " ".join(f"b{i}" for i in range(C.SPAN_WORDS))
    uniq_a = " ".join(f"a{i}" for i in range(C.SPAN_WORDS))
    uniq_b = " ".join(f"c{i}" for i in range(C.SPAN_WORDS))
    df = _docs(spark, [(1, f"{boiler} {uniq_a}"), (2, f"{boiler} {uniq_b}")])
    out = {r["doc_id"]: r for r in C.dedup_spans(df).collect()}
    # doc 1 holds the first occurrence -> intact; doc 2 loses the span.
    assert out[1]["n_spans"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["new_text"] == f"{boiler} {uniq_a}"
    assert out[2]["n_spans"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["new_text"] == uniq_b


def test_dedup_spans_dedupes_within_one_doc(spark):
    span = " ".join(f"w{i}" for i in range(C.SPAN_WORDS))
    df = _docs(spark, [(7, f"{span} {span}")])
    row = C.dedup_spans(df).collect()[0]
    assert row["n_spans"] == 2 and row["n_kept"] == 1
    assert row["new_text"] == span


def test_dedup_spans_fully_duplicate_doc_empties(spark):
    span = " ".join(f"z{i}" for i in range(C.SPAN_WORDS))
    df = _docs(spark, [(1, span), (2, span)])
    out = {r["doc_id"]: r for r in C.dedup_spans(df).collect()}
    assert out[1]["new_text"] == span
    assert out[2]["new_text"] == "" and out[2]["n_kept"] == 0


def test_dedup_spans_partial_final_span_preserved(spark):
    # 25 words -> one full 20-word span + one 5-word tail span.
    words = [f"p{i}" for i in range(25)]
    df = _docs(spark, [(1, " ".join(words))])
    row = C.dedup_spans(df).collect()[0]
    assert row["n_spans"] == 2 and row["n_kept"] == 2
    assert row["new_text"] == " ".join(words)


# ---------------------------------------------------------------------------
# global_shuffle
# ---------------------------------------------------------------------------


def test_global_shuffle_is_deterministic_partition(spark):
    df = _docs(spark, [(i, "x") for i in range(100)]).select("doc_id")
    a = C.global_shuffle(df, n_shards=4).collect()
    b = C.global_shuffle(df, n_shards=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # A permutation: every doc exactly once; positions contiguous from 1
    # within each shard.
    assert sorted(r["doc_id"] for r in a) == list(range(100))
    by_shard: dict[int, list[int]] = {}
    for r in a:
        assert 0 <= r["shard_id"] < 4
        by_shard.setdefault(r["shard_id"], []).append(r["pos"])
    assert sum(len(v) for v in by_shard.values()) == 100
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))


def test_global_shuffle_order_follows_key(spark):
    df = _docs(spark, [(i, "x") for i in range(50)]).select("doc_id")
    rows = C.global_shuffle(df, n_shards=2).collect()
    for shard in (0, 1):
        in_shard = sorted(
            (r for r in rows if r["shard_id"] == shard), key=lambda r: r["pos"]
        )
        keys = [r["shuffle_key"] for r in in_shard]
        assert keys == sorted(keys)


# ---------------------------------------------------------------------------
# bloom filter
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_low_fpr(spark):
    members = [(f"member-{i}",) for i in range(200)]
    others = [(f"other-{i}",) for i in range(1000)]
    keys = spark.createDataFrame(members, "key string")
    bloom = C.bloom_build(keys)
    probe = spark.createDataFrame(members + others, "key string")
    got = {r["key"]: r["bloom_hit"] for r in C.bloom_probe(probe, "key", bloom).collect()}
    assert all(got[k] for (k,) in members), "bloom filter missed a member"
    # k=3, n=200, m=8192 -> theoretical FPR ~ (1-e^(-3*200/8192))^3 ~ 3e-4.
    false_pos = sum(1 for (k,) in others if got[k])
    assert false_pos <= 10


def test_bloom_bitmap_expr_agrees_with_probe_joins(spark):
    """The r14-opt map<word,bits> representation + bloom_hit_expr must
    decide hit/miss identically to the r13 position-row broadcast-join
    probe for every key — members AND non-members (the expression form
    is what curate_bloom_decontaminate now ships; the join form stays
    the reference)."""
    from pyspark.sql import functions as F

    members = [(f"member-{i}",) for i in range(200)]
    others = [(f"other-{i}",) for i in range(1000)]
    keys = spark.createDataFrame(members, "key string")
    probe = spark.createDataFrame(members + others, "key string")
    joins = {
        r["key"]: r["bloom_hit"]
        for r in C.bloom_probe(probe, "key", C.bloom_build(keys)).collect()
    }
    bm = C.bloom_bitmap(keys)
    expr = {
        r["key"]: r["hit"]
        for r in probe.join(F.broadcast(bm))
        .select("key", C.bloom_hit_expr(F.col("key"), F.col("bm")).alias("hit"))
        .collect()
    }
    assert expr == joins


def test_bloom_bitmap_probes_inside_array_lambda(spark):
    """bloom_hit_expr must work as an F.filter lambda over an
    un-exploded key set — the shape the decontamination entry runs."""
    from pyspark.sql import functions as F

    keys = spark.createDataFrame([("a",), ("b",)], "key string")
    bm = C.bloom_bitmap(keys)
    df = spark.createDataFrame([(["a", "zz", "b"],)], "ks array<string>")
    got = (
        df.join(F.broadcast(bm))
        .select(F.filter(F.col("ks"), lambda k: C.bloom_hit_expr(k, F.col("bm"))).alias("hits"))
        .collect()[0]["hits"]
    )
    assert "a" in got and "b" in got  # no false negatives, ever


def test_bloom_position_set_is_bounded(spark):
    keys = spark.createDataFrame([("a",), ("b",)], "key string")
    rows = C.bloom_build(keys).collect()
    assert 1 <= len(rows) <= 2 * C.BLOOM_HASHES
    assert all(0 <= r["p"] < C.BLOOM_BITS for r in rows)
    assert len({r["p"] for r in rows}) == len(rows)


# ---------------------------------------------------------------------------
# unigram logprob
# ---------------------------------------------------------------------------


def test_unigram_logprob_rare_words_score_lower(spark):
    common = " ".join(["the"] * 20)
    rare = "zyx wvu tsr qpo nml"
    df = _docs(spark, [(1, common), (2, rare)])
    out = {r["doc_id"]: r for r in C.unigram_logprob(df).collect()}
    assert out[1]["n_tokens"] == 20 and out[2]["n_tokens"] == 5
    assert out[1]["avg_logprob"] > out[2]["avg_logprob"]


def test_unigram_logprob_uniform_corpus_exact_value(spark):
    import math

    # 4 distinct words, each once -> every token lp = ln(1/4).
    df = _docs(spark, [(1, "a b"), (2, "c d")])
    out = C.unigram_logprob(df).collect()
    want = round(math.log(0.25), 3)
    assert all(abs(r["avg_logprob"] - want) < 1e-9 for r in out)


# ---------------------------------------------------------------------------
# Catalog-level contracts for the scoring/compaction entries (value
# equality vs DuckDB is covered by test_oracle_diff)
# ---------------------------------------------------------------------------


def test_quality_logit_score_range_and_keep_consistency(spark, sf_dir):
    from graphql_api_etl_spark.queries import QUERIES

    rows = QUERIES["curate_quality_logit"][0](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["quality_score"] < 1.0
        if abs(r["quality_score"] - 0.5) > 1e-3:
            assert r["keep"] == (r["quality_score"] > 0.5)


def test_embedding_outliers_minority_and_nonnegative(spark, sf_dir):
    from graphql_api_etl_spark.queries import QUERIES

    rows = QUERIES["curate_embedding_outliers"][0](spark, sf_dir).collect()
    assert rows
    assert all(r["dist"] >= 0 for r in rows)
    n_out = sum(1 for r in rows if r["is_outlier"])
    # 2-sigma flags must be a small minority of any sane distribution.
    assert n_out < 0.2 * len(rows)
    labels_all = {r["label"] for r in rows}
    labels_with_inlier = {r["label"] for r in rows if not r["is_outlier"]}
    assert labels_all == labels_with_inlier


def test_latest_per_user_is_argmax(spark, sf_dir):
    from graphql_api_etl_spark.queries import QUERIES
    from graphql_api_etl_spark.sources.registry import load_table

    out = QUERIES["events_latest_per_user"][0](spark, sf_dir).collect()
    users = [r["user_id"] for r in out]
    assert len(users) == len(set(users))
    ev = load_table(spark, sf_dir, "events")
    want = {
        r["user_id"]: r["mx"]
        for r in ev.groupBy("user_id")
        .agg(F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("mx"))
        .collect()
    }
    assert len(out) == len(want)
    for r in out:
        assert r["latest_ts"] == want[r["user_id"]]


def test_topk_matmul_contract(spark, sf_dir):
    from graphql_api_etl_spark.queries import QUERIES

    rows = QUERIES["sim_topk_matmul"][0](spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        sims = [r["sim_micro"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(-1_000_000 <= s <= 1_000_000 for s in sims)
        assert all(r["neighbor_id"] != q for r in rs)


def test_topk_matmul_equals_numpy_reference(spark):
    """topk_matmul must reproduce, exactly, a sequential numpy
    implementation of its own contract (floor(cos*1e6) micro-sims,
    (sim DESC, id ASC) total order) on a small random-but-seeded
    corpus."""
    import numpy as np

    from graphql_api_etl_spark.operators.similarity import topk_matmul

    rng = np.random.RandomState(7)
    n, dim, k = 80, 8, 3
    V = rng.randn(n, dim)
    rows = [(i, [float(x) for x in V[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 5)
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim_micro"])
        for r in topk_matmul(q, df, k=k).collect()
    }
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = np.floor(Vn @ Vn.T * 1_000_000).astype(np.int64)
    for qi in range(5):
        cand = [(-sims[ci, qi], ci) for ci in range(n) if ci != qi]
        cand.sort()
        for rank, (negs, ci) in enumerate(cand[:k], start=1):
            assert got[(qi, rank)] == (ci, -negs)


def test_bloom_probe_matches_exact_membership_semantics(spark):
    """For ANY key sets: no false negatives, and every false positive
    is stable (same key probes to the same answer on a rebuild)."""
    members = [(f"m{i}",) for i in range(50)]
    probes = [(f"m{i}",) for i in range(50)] + [(f"x{i}",) for i in range(300)]
    keys = spark.createDataFrame(members, "key string")
    pdf = spark.createDataFrame(probes, "key string")
    b1 = {r["key"]: r["bloom_hit"] for r in C.bloom_probe(pdf, "key", C.bloom_build(keys)).collect()}
    b2 = {r["key"]: r["bloom_hit"] for r in C.bloom_probe(pdf, "key", C.bloom_build(keys)).collect()}
    assert b1 == b2
    assert all(b1[f"m{i}"] for i in range(50))


# ---------------------------------------------------------------------------
# dedup_embedding_cosine multi-probe candidate generation
# ---------------------------------------------------------------------------


def test_emb_cosine_candidates_subquadratic_and_deduped(spark, sf_oracle_dir):
    """The multi-probe band join must stay sub-quadratic on the
    label-clustered corpus (VERDICT r4 ask #3) and emit each unordered
    pair exactly once. Ceiling = 3% of all pairs — the r2–r4 16-plane
    design sat at 2.4–2.5% and a regression toward any-band agreement
    (22.6%) or all-pairs behavior blows straight through it."""
    from graphql_api_etl_spark.queries.llm_dedup_text_sim import (
        _emb_cosine_candidates,
        _emb_cosine_projection,
    )
    from graphql_api_etl_spark.sources.registry import load_table

    emb = load_table(spark, sf_oracle_dir, "embeddings")
    n = emb.count()
    cand = _emb_cosine_candidates(_emb_cosine_projection(emb)).select("id_a", "id_b")
    rows = cand.collect()
    all_pairs = n * (n - 1) / 2
    assert len(rows) < 0.03 * all_pairs, (len(rows), all_pairs)
    # exactly one row per unordered pair (first-agreeing-band dedup)
    assert len({(r.id_a, r.id_b) for r in rows}) == len(rows)
    assert all(r.id_a < r.id_b for r in rows)


def test_bpe_merges_hand_corpus_closed_form(spark):
    """bpe_merge_table on a corpus small enough to train by hand:
    'low lower lowest low low' — pair stats over frequency-compressed
    words, greedy non-overlapping application, lexicographic
    tie-break.  Expected merges derived independently below (same spec
    as Sennrich's get_stats/merge_vocab)."""
    from graphql_api_etl_spark.operators.text import bpe_merge_table

    from collections import Counter

    words = [("low", 3), ("lower", 1), ("lowest", 1)]
    wdf = spark.createDataFrame(words, "word string, freq bigint")

    # independent replica (mirrors the oracle's algorithm)
    freq = dict(words)
    seqs = {w: list(w) + ["</w>"] for w, _ in words}
    expect = []
    for rank in range(1, 5):
        stats = Counter()
        for w, s in seqs.items():
            for i in range(len(s) - 1):
                stats[(s[i], s[i + 1])] += freq[w]
        (l, r), c = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((rank, l, r, l + r, c))
        for w, s in seqs.items():
            out = []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            seqs[w] = out

    got = [tuple(r) for r in bpe_merge_table(spark, wdf, 4)
           .orderBy("merge_rank").collect()]
    assert got == expect
    # spot-check the closed form: every word starts l-o-w, so (l,o)
    # and then (lo,w) dominate with count 5 = total word mass.
    assert got[0][1:] == ("l", "o", "lo", 5)
    assert got[1][1:] == ("lo", "w", "low", 5)


def test_bpe_merge_application_is_greedy_nonoverlapping(spark):
    """'aaaa' with rule (a,a) must segment to [aa, aa] — a just-merged
    symbol never re-matches as the left half in the same round — and
    overlapping pair STATS still count every position (get_stats
    semantics: (a,a) appears 4 times in 'aaaaa'-with-marker? no — 3
    times in 'aaaa')."""
    from graphql_api_etl_spark.operators.text import bpe_merge_table

    wdf = spark.createDataFrame([("aaaa", 1)], "word string, freq bigint")
    got = bpe_merge_table(spark, wdf, 2).orderBy("merge_rank").collect()
    # round 1: (a,a) counted at 3 positions; merged greedily -> [aa, aa, </w>]
    assert tuple(got[0]) == (1, "a", "a", "aa", 3)
    # round 2: pairs are (aa,aa) and (aa,</w>) — tie at 1 each, and
    # '<' sorts before 'a', so (aa,</w>) wins lexicographically.
    assert tuple(got[1]) == (2, "aa", "</w>", "aa</w>", 1)


def test_bpe_segmentation_and_apply_agree(spark):
    """The trainer's carried-through segmentation
    (bpe_train_with_segmentation) must equal a standalone bpe_apply of the
    emitted rules — the equivalence text_bpe_tokenize relies on when
    it skips the second fold pass — and per-word symbol counts match
    the hand replica on the 'low/lower/lowest' corpus."""
    from graphql_api_etl_spark.operators.text import bpe_apply, bpe_train_with_segmentation

    words = [("low", 3), ("lower", 1), ("lowest", 1)]
    wdf = spark.createDataFrame(words, "word string, freq bigint")
    table, segmented = bpe_train_with_segmentation(spark, wdf, 4)
    rules = [
        (r["left_sym"], r["right_sym"], r["merged_sym"])
        for r in table.orderBy("merge_rank").collect()
    ]
    seg = {r["word"]: list(r["seq"]) for r in segmented.collect()}
    app = {r["word"]: r["n_sym"] for r in bpe_apply(wdf.select("word"), rules).collect()}
    assert {w: len(s) for w, s in seg.items()} == app
    # hand check after 4 merges (l,o)(lo,w)(low,</w>)(e? ...): 'low'
    # fuses completely; the suffixed forms keep their tails split.
    assert seg["low"] == ["low</w>"]
    assert app["lower"] >= 3 and app["lowest"] >= 3
