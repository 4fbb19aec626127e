"""LLM-pipeline catalog, part 4: BPE merge training and tokenization,
JPEG decode differentials, mojibake repair, readability and
language-model scoring additions.

Split out of the round-11 query monolith (r12, VERDICT ask #4):
a pure move — entries register into the shared QUERIES dict in
the original order via the package __init__ import sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphql_api_etl_spark.operators import dedup as D
from graphql_api_etl_spark.operators import multimodal as MM
from graphql_api_etl_spark.operators import text as TX
from graphql_api_etl_spark.queries._registry import _q, _t

# ---------------------------------------------------------------------------
# BPE merge training — the tokenizer-building step of a training-data
# pipeline (Sennrich et al. 2016), distributed via word-frequency
# compression
# ---------------------------------------------------------------------------

BPE_MERGES = 12


def _bpe_oracle_sql() -> str:
    """Independent pure-Python BPE replica (no Spark, no shared code
    with operators.text.bpe_merge_table): reads the documents parquet
    via DuckDB, trains the same fixed number of merges under the same
    spec — lowercase ``[a-z]+`` words, char sequences + ``</w>``,
    all-positions pair stats weighted by word frequency, argmax with
    (count DESC, left, right) tie-break, greedy left-to-right
    non-overlapping merge application — and emits the merge table as
    literals.  Built lazily because it reads the gate's sf
    ($SPARK_GRAFT_ORACLE_SF_DIR, default the driver's sf0.01)."""
    import os
    import re
    from collections import Counter

    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    rows = duckdb.connect().execute(
        f"SELECT lower(text) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    freq: Counter = Counter()
    for (txt,) in rows:
        for w in re.findall(r"[a-z]+", txt or ""):
            freq[w] += 1
    seqs = {w: list(w) + ["</w>"] for w in freq}
    merges = []
    for rank in range(1, BPE_MERGES + 1):
        stats: Counter = Counter()
        for w, s in seqs.items():
            f = freq[w]
            for i in range(len(s) - 1):
                stats[(s[i], s[i + 1])] += f
        if not stats:
            break
        (l, r), c = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, l + r, c))
        for w, s in seqs.items():
            out: list = []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            seqs[w] = out
    vals = ", ".join(
        f"({rk}, '{l}', '{r}', '{m}', {c})" for rk, l, r, m, c in merges
    )
    return (
        f"SELECT CAST(merge_rank AS BIGINT) AS merge_rank, left_sym, right_sym, "
        f"merged_sym, CAST(pair_count AS BIGINT) AS pair_count "
        f"FROM (VALUES {vals}) t(merge_rank, left_sym, right_sym, merged_sym, pair_count)"
    )


@_q("text_bpe_merges", _bpe_oracle_sql)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the first 12 BPE merge rules from the documents corpus
    (operators/text.py:bpe_merge_table) — the tokenizer-construction
    step every LLM data pipeline runs before token counting/packing.

    Corpus → word-frequency frame is one tokenize+count shuffle
    (lowercase ``[a-z]+`` words); the merge loop then operates on the
    frequency-compressed vocabulary, so its per-round cost is bounded
    by |V| rows regardless of corpus bytes — the property that makes
    BPE training feasible at 100 TB.  Pair counting, argmax, and merge
    application are all native (transform/explode/agg, TakeOrdered,
    aggregate-fold); the only driver state is the 1-row winning rule
    per round.  Determinism: exact BIGINT counts with a total-order
    tie-break (count DESC, left, right) — sf0.01 hits a genuine tie at
    rank 5 ((o,w) vs a 2747-count rival), so the differential
    exercises the tie-break.  The reference (ETL:1–1162) has no
    tokenizer surface; SURVEY §6's training-data mandate covers it."""
    from graphql_api_etl_spark.operators.text import bpe_merge_table

    words = (
        _t(spark, sf_dir, "documents")
        .select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    return bpe_merge_table(spark, words, BPE_MERGES)


def _bpe_tokenize_oracle_sql() -> str:
    """Pure-Python replica for text_bpe_tokenize (same independent
    trainer spec as _bpe_oracle_sql, then merge APPLICATION to every
    word and per-document accounting), emitting one literal row per
    document.  No shared code with operators.text; reads the gate's sf
    via $SPARK_GRAFT_ORACLE_SF_DIR."""
    import os
    import re
    from collections import Counter

    import duckdb

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    rows = duckdb.connect().execute(
        f"SELECT doc_id, lower(text) FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    per_doc: dict[int, Counter] = {}
    freq: Counter = Counter()
    for doc_id, txt in rows:
        c = Counter(re.findall(r"[a-z]+", txt or ""))
        per_doc[doc_id] = c
        freq.update(c)
    seqs = {w: list(w) + ["</w>"] for w in freq}
    for _rank in range(BPE_MERGES):
        stats: Counter = Counter()
        for w, s in seqs.items():
            f = freq[w]
            for i in range(len(s) - 1):
                stats[(s[i], s[i + 1])] += f
        if not stats:
            break
        (l, r), _c = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        for w, s in seqs.items():
            out: list = []
            for x in s:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            seqs[w] = out
    n_sym = {w: len(s) for w, s in seqs.items()}
    lits = []
    for doc_id, c in sorted(per_doc.items()):
        if not c:  # wordless doc: the Spark side's word join emits no
            continue  # row for it — mirror the inner-join semantics
        nw = sum(c.values())
        nt = sum(cnt * n_sym[w] for w, cnt in c.items())
        nc = sum(cnt * len(w) for w, cnt in c.items())
        lits.append(f"({doc_id}, {nw}, {nt}, {nc + nw - nt})")
    vals = ", ".join(lits)
    return (
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_words AS BIGINT) AS n_words, "
        "CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens, CAST(n_saved AS BIGINT) AS n_saved "
        f"FROM (VALUES {vals}) t(doc_id, n_words, n_bpe_tokens, n_saved)"
    )


@_q("text_bpe_tokenize", _bpe_tokenize_oracle_sql)
def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY accounting: train the corpus BPE (the
    text_bpe_merges rules) and apply it back to every document —
    per doc: word count, post-BPE token count, and symbols saved vs
    the character+marker baseline.  This is the number that drives
    mixture and packing decisions in an LLM data pipeline (tokens, not
    words or bytes, are what the training budget buys), closing the
    loop the trainer opened.

    Scale shape: training is |V|-bounded after one tokenize+count
    shuffle, and because each training round folds the vocabulary in
    place, the trainer's final segmentation IS the applied tokenizer
    for this corpus (``bpe_train_with_segmentation`` — zero extra fold
    passes; ``operators/text.bpe_apply`` is the standalone path that
    tokenizes NEW text against a stored merge table, same shared
    fold).  Tokenization is never per-occurrence: a 100 TB corpus
    re-tokenizes via its |V|-row vocabulary, then one broadcast join
    of the word→n_sym map onto doc-word counts plus a
    partial-aggregated sum.  All counts exact BIGINTs; the oracle is
    the independent pure-Python replica emitting per-doc literals
    (the IVF callable-oracle pattern)."""
    from graphql_api_etl_spark.operators.text import bpe_train_with_segmentation

    # localCheckpoint (not persist, ADVICE r7): the doc-word counts are
    # read twice (vocab build + the final join), and the eager
    # checkpoint both materializes them once and lets the context
    # cleaner reclaim the blocks when the result is dropped — persist()
    # with no unpersist pinned them for the session lifetime.
    dw = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("word"),
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    words = dw.groupBy("word").agg(F.sum("cnt").cast("bigint").alias("freq"))
    # Training folds the vocabulary in place each round, so the final
    # segmentation IS the applied tokenizer for this corpus — no
    # second 12-round bpe_apply pass (that operator serves NEW text).
    _rules, segmented = bpe_train_with_segmentation(spark, words, BPE_MERGES)
    vocab_sym = segmented.select(
        "word", F.size("seq").cast("bigint").alias("n_sym")
    )
    return (
        dw.join(F.broadcast(vocab_sym), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sym")).cast("bigint").alias("n_bpe_tokens"),
            F.sum(F.col("cnt") * (F.length("word") + 1 - F.col("n_sym")))
            .cast("bigint")
            .alias("n_saved"),
        )
    )


# ---------------------------------------------------------------------------
# JPEG decode differential (r8, VERDICT r7 ask #6 resolved IN scope:
# operators/jpeg.py is a pure-stdlib baseline sequential decoder). The
# exactness trick that lets a LOSSY codec carry a value-hash oracle:
# constant 8x8 tiles have only a DC coefficient (FDCT gives 8·(v−128),
# every AC exactly 0), so encode→decode is BIT-exact and plain SQL can
# replay every tile level from the closed form — no decoder on the
# oracle side.
# ---------------------------------------------------------------------------


@_q(
    "mm_jpeg_decode",
    """
WITH d AS (
  SELECT doc_id, 2 AS bw, (1 + doc_id % 3) AS bh FROM documents
),
j AS (
  SELECT doc_id, bw, unnest(generate_series(0, bw * bh - 1)) AS blk FROM d
),
v AS (
  SELECT doc_id,
         CAST(blk % bw AS BIGINT) AS bx,
         CAST(blk // bw AS BIGINT) AS by,
         ((((doc_id * 13 + blk * 29) * 2654435761) % 4294967296) // 16777216) AS lvl
  FROM j
)
SELECT doc_id AS media_id, bx, by,
       CAST(lvl AS BIGINT) AS lvl_min,
       CAST(lvl AS BIGINT) AS lvl_max
FROM v
""",
)
def mm_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG decode on REAL entropy-coded payloads: 16-wide,
    8·(1..3)-tall grayscale JPEGs whose 8x8 tiles carry CLOSED-FORM
    levels (the closed_form_pixel_bytes hash family over the tile
    index), synthesized ON EXECUTORS by the pure-stdlib encoder —
    Huffman-coded with the Annex K tables, byte-stuffed, odd ids with
    restart markers every 2 MCUs so the RSTn resync path is inside the
    differential too. The decode stage walks markers, Huffman-decodes
    DC/AC, dequantizes, runs the separable IDCT, and the entry emits
    per-tile (bx, by, min, max) channel levels — POSITIONAL, so an
    MCU-order, predictor-reset, or IDCT bug moves a tile and breaks
    the hash (see operators/multimodal.image_block_levels).

    Constant tiles make the lossy pipeline exact (DC-only blocks), so
    DuckDB replays every level with integer arithmetic. Scale shape:
    synth + decode are both per-row Arrow-batched map stages — no
    shuffle at all until the (tiny) result."""
    media = _jpeg_gray_tiles_media(spark, sf_dir)
    return MM.image_block_levels(media, block=8)


def _jpeg_gray_tiles_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fixture for the gray-JPEG entries: 16-wide, 8·(1..3)-tall
    grayscale JPEGs with closed-form constant 8x8 tiles (level =
    closed_form hash of doc_id·13 + blk·29), encoded on executors;
    odd ids carry restart markers every 2 MCUs."""
    import pandas as pd

    from graphql_api_etl_spark.operators.jpeg import synthesize_jpeg_gray

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
                bw, bh = 2, 1 + i % 3
                w, h = bw * 8, bh * 8
                px = bytearray(w * h)
                for blk in range(bw * bh):
                    lvl = (((i * 13 + blk * 29) * 2654435761) % 4294967296) >> 24
                    bx, by = blk % bw, blk // bw
                    for y in range(8):
                        base = (by * 8 + y) * w + bx * 8
                        px[base : base + 8] = bytes([lvl]) * 8
                return synthesize_jpeg_gray(
                    w, h, bytes(px), restart_interval=2 if i % 2 else 0
                )

            yield pd.DataFrame(
                {"media_id": ids, "payload": ids.map(lambda i: build(int(i)))}
            )

    return docs.mapInPandas(make, "media_id bigint, payload binary")


@_q(
    "mm_jpeg_color_420",
    """
WITH d AS (
  SELECT doc_id, 2 AS mw, (1 + doc_id % 2) AS mh FROM documents
),
j AS (
  SELECT doc_id, mw, unnest(generate_series(0, mw * mh - 1)) AS mcu FROM d
),
v AS (
  SELECT doc_id,
         CAST(mcu % mw AS BIGINT) AS bx,
         CAST(mcu // mw AS BIGINT) AS by,
         ((((doc_id * 17 + mcu * 31) * 2654435761) % 4294967296) // 16777216) AS lvl
  FROM j
)
SELECT doc_id AS media_id, bx, by,
       CAST(lvl AS BIGINT) AS lvl_min,
       CAST(lvl AS BIGINT) AS lvl_max
FROM v
""",
)
def mm_jpeg_color_420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG 4:2:0 CHROMA path differential: 32-wide, 16·(1..2)-tall
    THREE-component YCbCr JPEGs, interleaved MCUs (4 luma + 2 chroma
    blocks each), chroma downsampled 2x2 — the full color machinery of
    the baseline decoder (per-component Huffman table selection,
    MCU-interleaved predictors, nearest-neighbour upsample, YCbCr→RGB).

    Exactness for a lossy colorspace pipeline: every 16x16 MCU is a
    constant GRAY level v (r=g=b=v from the closed form), and gray is
    a fixed point of JFIF color conversion — Y=v exactly (the three
    luma weights sum to 1), Cb=Cr=128 exactly (each chroma row sums to
    0), and back. So luma blocks are DC-only exact, chroma blocks are
    all-zero exact, upsampling of a constant is itself, and the
    decoded RGB equals the closed form bit-for-bit — SQL replays it
    with no colorspace code at all. Emitted per-MCU (16-px tiles),
    positional like mm_jpeg_decode."""
    import pandas as pd

    from graphql_api_etl_spark.operators.jpeg import synthesize_jpeg

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
                mw, mh = 2, 1 + i % 2
                w, h = mw * 16, mh * 16
                rgb = bytearray(w * h * 3)
                for mcu in range(mw * mh):
                    lvl = (((i * 17 + mcu * 31) * 2654435761) % 4294967296) >> 24
                    bx, by = mcu % mw, mcu // mw
                    for y in range(16):
                        base = ((by * 16 + y) * w + bx * 16) * 3
                        rgb[base : base + 48] = bytes([lvl]) * 48
                return synthesize_jpeg(w, h, bytes(rgb), subsampling="4:2:0")

            yield pd.DataFrame(
                {"media_id": ids, "payload": ids.map(lambda i: build(int(i)))}
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    return MM.image_block_levels(media, block=16)


@_q(
    "mm_jpeg_progressive",
    """
WITH d AS (
  SELECT doc_id, 2 AS bw, (1 + doc_id % 3) AS bh FROM documents
),
j AS (
  SELECT doc_id, bw, unnest(generate_series(0, bw * bh - 1)) AS blk FROM d
),
v AS (
  SELECT doc_id,
         CAST(blk % bw AS BIGINT) AS bx,
         CAST(blk // bw AS BIGINT) AS by,
         ((((doc_id * 19 + blk * 37) * 2654435761) % 4294967296) // 16777216) AS lvl
  FROM j
)
SELECT doc_id AS media_id, bx, by,
       CAST(lvl AS BIGINT) AS lvl_min,
       CAST(lvl AS BIGINT) AS lvl_max
FROM v
""",
)
def mm_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG decode on real multi-scan streams — the
    mode most web-crawl JPEGs actually use (VERDICT r8 ask #6, scoped
    IN): grayscale images whose coefficients arrive across FOUR scans
    (DC first at Al=1, two spectral-selection AC bands with EOB-run
    coding, then a DC refinement scan), synthesized on executors by
    operators/jpeg.synthesize_jpeg_gray_progressive; odd ids add
    restart intervals INSIDE each progressive scan. The decoder
    accumulates coefficients across scans (T.81 G.2) and reconstructs
    at EOI; constant 8x8 tiles keep the lossy pipeline bit-exact (the
    mm_jpeg_decode trick), so the oracle replays every tile level from
    the closed form (doc_id*19 + blk*37 hash). Positional (bx, by)
    output: a scan-ordering, EOB-run, successive-approximation, or
    band-boundary bug moves or corrupts a tile and breaks the hash.
    The successive-approximation AC refinement path our encoder does
    not emit is pinned by foreign fixtures instead
    (tests/test_jpeg.py::test_foreign_progressive_gray_jpeg_decodes).

    Scale shape: synth + decode are per-row Arrow-batched map stages —
    no shuffle until the (tiny) result, same as mm_jpeg_decode."""
    import pandas as pd

    from graphql_api_etl_spark.operators.jpeg import synthesize_jpeg_gray_progressive

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
                bw, bh = 2, 1 + i % 3
                w, h = bw * 8, bh * 8
                px = bytearray(w * h)
                for blk in range(bw * bh):
                    lvl = (((i * 19 + blk * 37) * 2654435761) % 4294967296) >> 24
                    bx, by = blk % bw, blk // bw
                    for y in range(8):
                        base = (by * 8 + y) * w + bx * 8
                        px[base : base + 8] = bytes([lvl]) * 8
                return synthesize_jpeg_gray_progressive(
                    w, h, bytes(px), restart_interval=2 if i % 2 else 0
                )

            yield pd.DataFrame(
                {"media_id": ids, "payload": ids.map(lambda i: build(int(i)))}
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    return MM.image_block_levels(media, block=8)


@_q(
    "text_ngram_novelty",
    r"""
WITH toks AS (
  SELECT doc_id % 4 AS shard,
         string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents
),
g AS (
  SELECT DISTINCT shard, unnest(
    list_distinct(list_transform(range(1, greatest(len(t) - 4, 0) + 1),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))
  ) AS gram
  FROM toks
),
counts AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY shard),
firsts AS (SELECT gram, CAST(min(shard) AS BIGINT) AS first_shard FROM g GROUP BY gram),
nov AS (SELECT first_shard AS shard, CAST(count(*) AS BIGINT) AS n_novel
        FROM firsts GROUP BY first_shard)
SELECT counts.shard, counts.n_grams, coalesce(nov.n_novel, 0) AS n_novel
FROM counts LEFT JOIN nov ON counts.shard = nov.shard
""",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram NOVELTY curve across crawl shards — the diminishing-
    returns measurement behind every "is another crawl worth it"
    decision (and the shard-level twin of the dedup yield curve):
    per shard (doc_id mod 4 stands in for crawl order), how many
    distinct 5-grams appear, and how many appear for the FIRST time.
    The load-bearing reformulation: "novel in shard k" ⇔ "min shard
    of the gram is k", so instead of an O(shards²) anti-join cascade
    the whole curve is ONE groupBy(gram).min(shard) over the deduped
    (shard, gram) frame plus two tiny rollups — the same
    first-occurrence trick keepers/selection entries use, and the
    shape that survives a 100 TB corpus (everything shuffles on the
    gram key once; no shard ever compares against another pairwise).

    Token/gram chain is the shared TX.norm_text→tokens→ngrams
    formulation, mirrored exactly by the oracle's
    string_split_regex/list_transform chain (the bloom entry's
    precedent)."""
    docs = _t(spark, sf_dir, "documents")
    g = (
        docs.select(
            (F.col("doc_id") % 4).alias("shard"),
            F.explode(
                F.array_distinct(TX.ngrams(TX.norm_tokens("text"), 5))
            ).alias("gram"),
        )
        .distinct()
    )
    counts = g.groupBy("shard").agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"))
    firsts = g.groupBy("gram").agg(F.min("shard").cast("bigint").alias("first_shard"))
    nov = firsts.groupBy(F.col("first_shard").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_novel")
    )
    return counts.join(nov, "shard", "left_outer").select(
        "shard",
        "n_grams",
        F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
    )


@_q(
    "mm_jpeg_thumbnail",
    """
WITH d AS (SELECT doc_id, (1 + doc_id % 3) AS bh FROM documents),
pos AS (
  SELECT doc_id, bh, ty, tx
  FROM d CROSS JOIN (VALUES (0), (1)) tys(ty) CROSS JOIN (VALUES (0), (1)) txs(tx)
),
v AS (
  SELECT doc_id,
         CAST(ty * 2 + tx AS BIGINT) AS idx,
         ((ty * bh) // 2) * 2 + tx AS blk
  FROM pos
)
SELECT doc_id AS media_id, idx,
       CAST((((doc_id * 13 + blk * 29) * 2654435761) % 4294967296) // 16777216 AS BIGINT) AS lvl
FROM v
""",
)
def mm_jpeg_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-over-JPEG through the driver gate: the 2×2 nearest-
    neighbour grayscale thumbnail of each gray-tile JPEG
    (_jpeg_gray_tiles_media — same payloads mm_jpeg_decode gates), via
    the shared thumbnail_features mapInPandas operator. Because every
    payload is constant 8x8 tiles and the thumbnail samples pixel
    (ty·h//2, tx·w//2), each thumbnail cell equals the level of tile
    (by, bx) = ((ty·bh)//2, tx) EXACTLY — and gray levels are
    power-of-two-exact through the float pipeline (lvl/256 is a dyadic
    rational; ×256 recovers the integer bit-for-bit), so the entry
    re-emits integer levels and the oracle replays them from the
    closed form with pure integer arithmetic: decode + resample +
    float feature path, all under one value hash.

    mm_thumbnails gates dims over the text-byte corpus; this gates the
    PIXEL VALUES the resize actually samples, over a compressed
    container."""
    media = _jpeg_gray_tiles_media(spark, sf_dir)
    thumbs = MM.thumbnail_features(media, tw=2, th=2)
    return thumbs.select(
        "media_id",
        F.posexplode("thumb").alias("idx", "g"),
    ).select(
        "media_id",
        F.col("idx").cast("bigint").alias("idx"),
        (F.col("g") * 256).cast("bigint").alias("lvl"),
    )


@_q(
    "mm_gif_decode",
    """
WITH d AS (
  SELECT doc_id, 2 AS bw, (1 + doc_id % 3) AS bh FROM documents
),
j AS (
  SELECT doc_id, bw, unnest(generate_series(0, bw * bh - 1)) AS blk FROM d
),
v AS (
  SELECT doc_id,
         CAST(blk % bw AS BIGINT) AS bx,
         CAST(blk // bw AS BIGINT) AS by,
         ((((doc_id * 19 + blk * 23) * 2654435761) % 4294967296) // 16777216) AS lvl
  FROM j
)
SELECT doc_id AS media_id, bx, by,
       CAST(lvl AS BIGINT) AS lvl_min,
       CAST(lvl AS BIGINT) AS lvl_max
FROM v
""",
)
def mm_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF decode differential — third compressed image container
    (PNG r7, JPEG r8): 16-wide, 8·(1..3)-tall gray-tile GIFs with
    closed-form levels, LZW-encoded on executors (variable-width
    LSB-first codes, clear/EOI, dictionary resets) — odd ids
    INTERLACED, so the 4-pass row reordering sits inside the
    positional differential: a deinterlace bug transposes tiles and
    breaks the hash where a multiset check would pass. GIF is
    lossless, so unlike the JPEG entries no DC-only trick is needed;
    the same image_block_levels harness gates exact (bx, by, level)
    replay. Synth + decode are per-row Arrow map stages — no shuffle
    until the tiny result."""
    import pandas as pd

    from graphql_api_etl_spark.operators.gif import synthesize_gif

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
                bw, bh = 2, 1 + i % 3
                w, h = bw * 8, bh * 8
                rows = []
                for y in range(h):
                    row = []
                    for x in range(w):
                        blk = (y // 8) * bw + (x // 8)
                        lvl = (((i * 19 + blk * 23) * 2654435761) % 4294967296) >> 24
                        row.append((lvl, lvl, lvl))
                    rows.append(row)
                return synthesize_gif(w, h, rows, interlace=bool(i % 2))

            yield pd.DataFrame(
                {"media_id": ids, "payload": ids.map(lambda i: build(int(i)))}
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    return MM.image_block_levels(media, block=8)


@_q(
    "mm_audio_ulaw",
    """
WITH d AS (
  SELECT doc_id, 600 + (doc_id % 5) * 100 AS n FROM documents
),
i AS (
  SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM d
),
s AS (
  SELECT doc_id,
         ((((doc_id * 31 + i * 17) * 2654435761) % 4294967296) // 65536) - 32768 AS v
  FROM i
),
q AS (
  SELECT doc_id, v,
         least(abs(v), 32635) + 132 AS a
  FROM s
),
seg AS (
  SELECT doc_id, v, a,
         CASE WHEN a < 256 THEN 0 WHEN a < 512 THEN 1 WHEN a < 1024 THEN 2
              WHEN a < 2048 THEN 3 WHEN a < 4096 THEN 4 WHEN a < 8192 THEN 5
              WHEN a < 16384 THEN 6 ELSE 7 END AS sg
  FROM q
),
dec AS (
  SELECT doc_id,
         CASE WHEN v < 0 THEN -1 ELSE 1 END
           * ((((a // (8 * (1 << sg))) % 16) * 8 + 132) * (1 << sg) - 132) AS dv
  FROM seg
)
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(dv) AS BIGINT) AS sum_dec,
       CAST(sum(abs(dv)) AS BIGINT) AS sum_abs,
       CAST(min(dv) AS BIGINT) AS v_min,
       CAST(max(dv) AS BIGINT) AS v_max
FROM dec GROUP BY doc_id
""",
)
def mm_audio_ulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 mu-law audio differential — the compressed-telephony
    format next to the PCM16 WAV entries: the closed-form waveform is
    COMPANDED to 8-bit mu-law on executors (sign/segment/mantissa,
    ones-complemented), wrapped as a format-7 RIFF/WAVE, then the
    decode stage expands every byte back to PCM16 and emits exact
    integer sample statistics. The oracle replays the full
    encode→decode QUANTIZATION in pure SQL — segment by range CASE,
    mantissa by shift arithmetic, bias 132 — so a single off-by-one in
    either companding direction breaks the value hash (both directions
    are pure integer shifts; G.711 is an exact spec, not a tolerance).

    Same scale shape as every decode entry: synth and expand are
    per-row Arrow map stages, no shuffle until the per-media rollup.
    8-bit mu-law is also the 'media columns can be recompressed 2x
    with a known quality contract' lever a 100 TB audio corpus
    actually uses."""
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
                n = 600 + i % 5 * 100
                return MM.synthesize_ulaw_wav(MM.closed_form_samples(i, n))

            yield pd.DataFrame(
                {"media_id": ids, "payload": ids.map(lambda i: build(int(i)))}
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    return MM.audio_ulaw_stats(media)


@_q(
    "mm_gif_frame_sample",
    """
WITH d AS (
  SELECT doc_id, 2 + doc_id % 3 AS n_frames FROM documents
),
f AS (
  SELECT doc_id, unnest(generate_series(0, n_frames - 1, 2)) AS frame FROM d
),
b AS (
  SELECT doc_id, frame, unnest(generate_series(0, 1)) AS bx FROM f
),
v AS (
  SELECT doc_id, frame, bx,
         ((((doc_id * 41 + frame * 59 + bx * 29) * 2654435761) % 4294967296) // 16777216) AS lvl
  FROM b
)
SELECT doc_id AS media_id,
       CAST(frame AS BIGINT) AS frame,
       CAST(bx AS BIGINT) AS bx,
       CAST(0 AS BIGINT) AS by,
       CAST(lvl AS BIGINT) AS lvl_min,
       CAST(lvl AS BIGINT) AS lvl_max
FROM v
""",
)
def mm_gif_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-2nd-frame sampling over ANIMATED GIFs — frame fan-out on
    a real multi-image container (NETSCAPE loop extension, per-frame
    graphic-control blocks, one global palette, fresh LZW stream per
    frame): 16x8 frames of two constant 8x8 tiles whose level is a
    closed form over (doc_id, frame, tile), 2..4 frames per doc. The
    oracle replays the SAMPLED (even) frames only, so both an
    off-by-one in the frame walk and state bleeding between per-frame
    LZW streams break the hash — the concatenated-BMP video entry
    (mm_frame_sample) checks fan-out plumbing; this one checks a real
    container's frame DECODE."""
    import pandas as pd

    from graphql_api_etl_spark.operators.gif import synthesize_gif_animation

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
                n_frames = 2 + i % 3
                frames = []
                for fr in range(n_frames):
                    rows = []
                    for y in range(8):
                        row = []
                        for x in range(16):
                            bx = x // 8
                            lvl = (((i * 41 + fr * 59 + bx * 29) * 2654435761)
                                   % 4294967296) >> 24
                            row.append((lvl, lvl, lvl))
                        rows.append(row)
                    frames.append(rows)
                return synthesize_gif_animation(16, 8, frames)

            yield pd.DataFrame(
                {"media_id": ids, "payload": ids.map(lambda i: build(int(i)))}
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    return MM.gif_frame_levels(media, every_k=2, block=8)


@_q(
    "mm_audio_alaw",
    """
WITH d AS (
  SELECT doc_id, 600 + (doc_id % 5) * 100 AS n FROM documents
),
i AS (
  SELECT doc_id, unnest(generate_series(0, n - 1)) AS i FROM d
),
s AS (
  SELECT doc_id,
         ((((doc_id * 31 + i * 17) * 2654435761) % 4294967296) // 65536) - 32768 AS v
  FROM i
),
q AS (
  -- NB: DuckDB's // TRUNCATES toward zero while the codec's >> 3
  -- floors; the negative branch therefore divides a POSITIVE operand:
  -- m = -floor(v/8) - 1 = (-v - 1) // 8 for v < 0.
  SELECT doc_id, v,
         least(CASE WHEN v >= 0 THEN v // 8 ELSE (-v - 1) // 8 END, 4095) AS m
  FROM s
),
seg AS (
  SELECT doc_id, v, m,
         CASE WHEN m <= 31 THEN 0 WHEN m <= 63 THEN 1 WHEN m <= 127 THEN 2
              WHEN m <= 255 THEN 3 WHEN m <= 511 THEN 4 WHEN m <= 1023 THEN 5
              WHEN m <= 2047 THEN 6 ELSE 7 END AS sg
  FROM q
),
mant AS (
  SELECT doc_id, v, sg,
         (m // (CASE WHEN sg < 2 THEN 2 ELSE 1 << sg END)) % 16 AS mt
  FROM seg
),
dec AS (
  SELECT doc_id,
         CASE WHEN v >= 0 THEN 1 ELSE -1 END
           * (CASE WHEN sg = 0 THEN mt * 16 + 8
                   WHEN sg = 1 THEN mt * 16 + 264
                   ELSE (mt * 16 + 264) * (1 << (sg - 1)) END) AS dv
  FROM mant
)
SELECT doc_id AS media_id,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(dv) AS BIGINT) AS sum_dec,
       CAST(sum(abs(dv)) AS BIGINT) AS sum_abs,
       CAST(min(dv) AS BIGINT) AS v_min,
       CAST(max(dv) AS BIGINT) AS v_max
FROM dec GROUP BY doc_id
""",
)
def mm_audio_alaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 A-LAW audio differential — the European companding law
    next to mm_audio_ulaw (mask 0x55, 13-bit domain, different
    segment-0/1 structure): closed-form waveform → A-law bytes →
    format-6 RIFF/WAVE → expand → exact integer sample statistics,
    with the oracle replaying the encode→decode quantization in pure
    SQL (note the v//8 floor-division negative handling — Python's
    arithmetic shift and DuckDB's // both floor, which is exactly the
    ~x of the reference C). Code-point identity encode(decode(b))==b
    holds for ALL 256 bytes (A-law has no negative-zero fold, unlike
    mu-law) — unit-tested; this entry gates the distributed path."""
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
                n = 600 + i % 5 * 100
                return MM.synthesize_alaw_wav(MM.closed_form_samples(i, n))

            yield pd.DataFrame(
                {"media_id": ids, "payload": ids.map(lambda i: build(int(i)))}
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    return MM.audio_alaw_stats(media)


# ---------------------------------------------------------------------------
# r9 text addition: mojibake repair (the UTF-8-as-Latin-1 double-encoding
# every web crawl contains).
# ---------------------------------------------------------------------------

# Mojibake fixtures: UTF-8 text mis-decoded as Latin-1 — the classic
# double-encoding corruption ("caf\u00e9" -> "caf\u00c3\u00a9"). The
# corrupted literals are precomputed at import (encode utf-8 -> decode
# latin-1) so the injection is a pure JVM CASE expression; the
# per-variant non-ASCII char counts are what the closed-form oracle
# replays.
_MOJI_CLEAN = [
    "caf\u00e9",
    "na\u00efve d\u00e9j\u00e0 vu",
    "\u00fcber se\u00f1or",
    "t\u00eate-\u00e0-t\u00eate",
]
_MOJI_BAD = [w.encode("utf-8").decode("latin-1") for w in _MOJI_CLEAN]
_MOJI_N = [sum(1 for ch in w if ord(ch) > 127) for w in _MOJI_CLEAN]  # 1,3,2,3


@_q(
    "text_mojibake_repair",
    f"""
SELECT doc_id,
       (doc_id % 5 = 0) AS had_mojibake,
       CAST(CASE WHEN doc_id % 5 = 0 THEN
         CASE doc_id % 4 WHEN 0 THEN {_MOJI_N[0]} WHEN 1 THEN {_MOJI_N[1]}
                         WHEN 2 THEN {_MOJI_N[2]} ELSE {_MOJI_N[3]} END
       ELSE 0 END AS BIGINT) AS n_moji_pairs,
       CAST(CASE WHEN doc_id % 5 = 0 THEN
         CASE doc_id % 4 WHEN 0 THEN {_MOJI_N[0]} WHEN 1 THEN {_MOJI_N[1]}
                         WHEN 2 THEN {_MOJI_N[2]} ELSE {_MOJI_N[3]} END
       ELSE 0 END AS BIGINT) AS n_chars_recovered,
       (doc_id % 5 = 0) AS repaired_ok
FROM documents
""",
)
def text_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake detection + repair — the UTF-8-read-as-Latin-1 double
    encoding that every web crawl contains and every training-data
    pipeline must fix before tokenization. The differential uses the
    closed-form-injection trick from the JPEG entries: docs with
    doc_id % 5 = 0 get a known accented phrase APPENDED IN CORRUPTED
    FORM (a JVM CASE over precomputed literals), then the pipeline
    under test must (1) DETECT it — the classic [C2 C3][80-BF]
    char-pair signature counted with pure JVM length-diff/regexp (no
    UDF in the detection path), and (2) REPAIR it — the real
    encode('latin-1') -> decode('utf-8') roundtrip inside an
    Arrow-batched mapInPandas with a strict-errors fallback (text that
    is NOT mojibake fails latin-1 encoding and passes through
    untouched). The oracle replays the expected pair counts, recovered
    char counts, and repair success from the closed form — a detection
    regex off by one char class, a repair that mangles the phrase, or
    a fallback that eats clean text each breaks a different column.

    Scale shape: injection/detection are codegen'd expressions; repair
    is one Arrow map stage; no shuffle at all until the (row-per-doc)
    result — the same per-row map discipline as the codec entries."""
    import pandas as pd

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variant = (F.col("doc_id") % 4).cast("int")
    bad = F.when(variant == 0, F.lit(_MOJI_BAD[0]))
    for i in range(1, 4):
        bad = bad.when(variant == i, F.lit(_MOJI_BAD[i]))
    corrupt = F.when(
        F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" "), bad)
    ).otherwise(F.col("text"))
    staged = docs.select("doc_id", corrupt.alias("corrupt"))

    def repair(batches):
        def fix(s: str) -> str:
            try:
                return s.encode("latin-1").decode("utf-8")
            except (UnicodeEncodeError, UnicodeDecodeError):
                return s

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "corrupt": pdf["corrupt"],
                    "repaired": pdf["corrupt"].map(fix),
                }
            )

    fixed = staged.mapInPandas(repair, "doc_id bigint, corrupt string, repaired string")
    pair_re = "[\u00c2\u00c3][\u0080-\u00bf]"
    n_pairs = (
        (F.length("corrupt") - F.length(F.regexp_replace("corrupt", pair_re, ""))) / 2
    ).cast("bigint")
    clean = F.when(variant == 0, F.lit(_MOJI_CLEAN[0]))
    for i in range(1, 4):
        clean = clean.when(variant == i, F.lit(_MOJI_CLEAN[i]))
    return fixed.select(
        "doc_id",
        (F.col("doc_id") % 5 == 0).alias("had_mojibake"),
        n_pairs.alias("n_moji_pairs"),
        (F.length("corrupt") - F.length("repaired")).cast("bigint").alias(
            "n_chars_recovered"
        ),
        ((F.col("doc_id") % 5 == 0) & F.col("repaired").endswith(clean)).alias(
            "repaired_ok"
        ),
    )


@_q(
    "mm_png_interlaced",
    """
WITH d AS (
  SELECT doc_id, 2 AS bw, (1 + doc_id % 3) AS bh FROM documents
),
j AS (
  SELECT doc_id, bw, unnest(generate_series(0, bw * bh - 1)) AS blk FROM d
),
v AS (
  SELECT doc_id,
         CAST(blk % bw AS BIGINT) AS bx,
         CAST(blk // bw AS BIGINT) AS by,
         ((((doc_id * 23 + blk * 41) * 2654435761) % 4294967296) // 16777216) AS lvl
  FROM j
)
SELECT doc_id AS media_id, bx, by,
       CAST(lvl AS BIGINT) AS lvl_min,
       CAST(lvl AS BIGINT) AS lvl_max
FROM v
""",
)
def mm_png_interlaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adam7-INTERLACED PNG decode (r9): the seven-pass pixel scatter
    most web PNGs older than HTTP/2 actually use, with each pass
    FILTERED INDEPENDENTLY (cycling None/Sub/Up/Average/Paeth inside
    every pass) — so a pass-grid, pass-boundary, or per-pass filter
    state bug scrambles pixels ACROSS tiles and moves a tile's
    min/max. Streams are synthesized on executors by the in-repo
    encoder (interlace=True) over closed-form constant 8x8 tiles;
    PNG is lossless, so the oracle replays every tile level exactly
    (doc_id*23 + blk*41 hash), positional like the JPEG family. The
    decoder path under test: chunk walk, IDAT inflate, per-pass
    unfilter, Adam7 scatter, RGB normalization — decoder also proven
    against a FOREIGN Adam7 stream (OpenJDK ImageIO progressive mode,
    tests/test_sources_sinks.py::test_foreign_png_adam7_interlaced_decodes_exact).

    Scale shape: synth + decode are per-row Arrow-batched map stages —
    no shuffle until the (tiny) result, same as mm_jpeg_decode."""
    import pandas as pd

    from graphql_api_etl_spark.operators.multimodal import synthesize_png

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
                bw, bh = 2, 1 + i % 3
                w, h = bw * 8, bh * 8
                px = bytearray(w * h * 3)
                for blk in range(bw * bh):
                    lvl = (((i * 23 + blk * 41) * 2654435761) % 4294967296) >> 24
                    bx, by = blk % bw, blk // bw
                    for y in range(8):
                        base = ((by * 8 + y) * w + bx * 8) * 3
                        px[base : base + 24] = bytes([lvl]) * 24
                return synthesize_png(w, h, bytes(px), interlace=True)

            yield pd.DataFrame(
                {"media_id": ids, "payload": ids.map(lambda i: build(int(i)))}
            )

    media = docs.mapInPandas(make, "media_id bigint, payload binary")
    return MM.image_block_levels(media, block=8)
