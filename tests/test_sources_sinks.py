"""Tests for the paginated connection source, nested flatten, CSV/
mutation sinks, validation gates, and multimodal plumbing."""

from __future__ import annotations

import glob
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphql_api_etl_spark.operators.multimodal import (
    binary_metadata,
    documents_as_media,
    extract_features,
)
from graphql_api_etl_spark.sinks.gates import (
    ValidationError,
    require_empty,
    require_nonempty,
    warn_if_nonempty,
)
from graphql_api_etl_spark.sinks.mutations import MockMutationClient, MutationSink
from graphql_api_etl_spark.sinks.reports import write_csv_report
from graphql_api_etl_spark.sources.flatten import flatten
from graphql_api_etl_spark.sources.graphql import (
    LocalPagesClient,
    fetch_connection,
    walk_pages,
)
from graphql_api_etl_spark.sources.registry import (
    load_table,
    normalize_column_name,
    register_views,
)

NODE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("isTop", T.BooleanType()),
        T.StructField(
            "label",
            T.StructType(
                [T.StructField("id", T.StringType()), T.StructField("name", T.StringType())]
            ),
        ),
    ]
)


def _pages():
    def node(i):
        return {
            "id": f"g{i}",
            "name": f"group-{i}",
            "isTop": i % 2 == 0,
            "label": {"id": f"lab{i}", "name": f"label-{i}"},
        }

    return [
        {
            "pageInfo": {"hasNextPage": True, "endCursor": "c1"},
            "edges": [{"cursor": "e0", "node": node(0)}, {"cursor": "e1", "node": node(1)}],
        },
        {
            "pageInfo": {"hasNextPage": True, "endCursor": "c2"},
            "edges": [{"cursor": "e2", "node": node(2)}],
        },
        {"pageInfo": {"hasNextPage": False, "endCursor": None}, "edges": []},
    ]


def test_walk_pages_cursor_chain():
    nodes = walk_pages(LocalPagesClient(pages=_pages()))
    assert [n["id"] for n in nodes] == ["g0", "g1", "g2"]


def test_walk_pages_raises_on_repeated_cursor():
    """A server that hands back an endCursor it already returned would
    loop until max_pages and return duplicated nodes; it must raise."""
    pages = _pages()[:2]
    pages[1]["pageInfo"]["endCursor"] = "c1"  # page 2 points back at itself
    with pytest.raises(RuntimeError, match="cursor loop"):
        walk_pages(LocalPagesClient(pages=pages))


def test_walk_pages_raises_when_max_pages_runs_out():
    """Stopping at max_pages while hasNextPage is still true is a
    truncated connection, not a short one."""
    with pytest.raises(RuntimeError, match="truncated"):
        walk_pages(LocalPagesClient(pages=_pages()), max_pages=2)
    # exactly enough pages is not a truncation
    assert len(walk_pages(LocalPagesClient(pages=_pages()), max_pages=3)) == 3


def test_local_pages_directory_reads_pages_in_numeric_order(tmp_path):
    """Landed pages are read in numeric page order: with unpadded names
    ``page-10`` sorts before ``page-2`` as a string, which would break
    the cursor chain after three pages and return 3 of 11 nodes without
    an error. Only ``page-<int>.json`` files are pages."""
    for i in range(11):
        page = {
            "pageInfo": {"hasNextPage": i < 10, "endCursor": f"c{i}"},
            "edges": [{"cursor": f"e{i}", "node": {"id": f"n{i}"}}],
        }
        (tmp_path / f"page-{i}.json").write_text(json.dumps(page))
    (tmp_path / "schema.json").write_text("not a page")
    nodes = walk_pages(LocalPagesClient(directory=str(tmp_path)))
    assert [n["id"] for n in nodes] == [f"n{i}" for i in range(11)]

    (tmp_path / "page-x.json").write_text("{}")
    with pytest.raises(ValueError, match="non-numeric page file name 'page-x.json'"):
        LocalPagesClient(directory=str(tmp_path))


def test_fetch_connection_flattens(spark):
    df = fetch_connection(spark, LocalPagesClient(pages=_pages()), NODE_SCHEMA)
    assert set(df.columns) == {"node_id", "node_name", "node_isTop", "node_label_id", "node_label_name"}
    rows = {r["node_id"]: r for r in df.collect()}
    assert rows["g2"]["node_label_name"] == "label-2"
    assert rows["g0"]["node_isTop"] is True


def test_flatten_depth_and_arrays(spark):
    df = spark.createDataFrame(
        [({"a": {"b": 1, "c": {"d": "x"}}, "arr": [{"v": 1}, {"v": 2}]},)],
        "s struct<a: struct<b: int, c: struct<d: string>>, arr: array<struct<v: int>>>",
    )
    flat = flatten(df)
    assert set(flat.columns) == {"s_a_b", "s_a_c_d", "s_arr"}  # arrays preserved
    exploded = flatten(df, explode_arrays=True)
    assert "s_arr_v" in exploded.columns
    assert exploded.count() == 2


def test_normalize_column_name():
    assert normalize_column_name("REGION / SUPERVISOR") == "region_supervisor"
    assert normalize_column_name(" Zip Code ") == "zip_code"
    assert normalize_column_name("DM Email") == "dm_email"


def test_register_views_sql(spark, sf_dir):
    register_views(spark, sf_dir, ["region", "nation"])
    n = spark.sql("SELECT count(*) AS n FROM region JOIN nation ON n_regionkey = r_regionkey").first()["n"]
    assert n == 25


def test_events_nanos_timestamps(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert ev.filter(F.col("ts").isNull()).count() == 0


# ---------------------------------------------------------------------------
# Sinks & gates
# ---------------------------------------------------------------------------


def test_csv_report_sink(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    path = str(tmp_path / "report")
    write_csv_report(df, path)
    files = glob.glob(f"{path}/part-*.csv")
    assert len(files) == 1  # single-file audit artifact
    body = open(files[0]).read()
    assert body.startswith("k,v")


def test_mutation_sink_batches_and_status(spark):
    df = spark.createDataFrame([(i, f"loc-{i}") for i in range(25)], "id int, name string")
    client = MockMutationClient()
    sink = MutationSink(lambda: client, "locationAdd", batch_size=10)
    status = sink.write(df.coalesce(1)).status
    acc = status.agg(F.sum(F.when(F.col("success"), 1).otherwise(0)).alias("ok")).first()
    assert acc["ok"] == 25


def test_mutation_sink_posts_through_the_factorys_client(spark):
    """The sink calls its factory where the write runs and posts through
    that client: a client that records its batches in a list sees every
    record, in batches of at most ``batch_size``."""
    batches: list[list[dict]] = []

    class Recording(MockMutationClient):
        def post_batch(self, operation, records):
            batches.append(records)
            return super().post_batch(operation, records)

    df = spark.createDataFrame([(i,) for i in range(10)], "id int").repartition(3)
    posted = MutationSink(Recording, "op", batch_size=4).write(df)
    assert (posted.records, posted.failed) == (10, 0)
    assert sorted(r["id"] for batch in batches for r in batch) == list(range(10))
    assert [len(b) for b in batches] == [4, 4, 2]


def test_mutation_sink_failure_accounting(spark):
    df = spark.createDataFrame([(i,) for i in range(10)], "id int")
    sink = MutationSink(lambda: MockMutationClient(fail_when=lambda r: r["id"] % 3 == 0), "op")
    posted = sink.write(df.coalesce(1))
    assert (posted.records, posted.failed) == (10, 4)  # 0,3,6,9 fail
    status = posted.status.cache()
    try:
        assert status.filter(~F.col("success")).count() == 4
        assert status.count() == 10
    finally:
        status.unpersist()


def test_mutation_sink_posts_exactly_once_across_actions(spark, tmp_path):
    """Two consumer actions on the returned status frame (count + a
    report write) must not re-run the side-effecting partition function
    and re-post every mutation (the spool observes actual posts)."""
    from graphql_api_etl_spark.sinks.mutations import SpoolMutationClient, read_spool

    spool = str(tmp_path / "spool")
    df = spark.createDataFrame([(i,) for i in range(20)], "id int")
    sink = MutationSink(lambda: SpoolMutationClient(spool), "op", batch_size=7)
    status = sink.write(df.coalesce(1)).status
    try:
        status.count()
        status.filter(~F.col("success")).count()
        write_csv_report(status, str(tmp_path / "report"))
        assert len(read_spool(spool)) == 20  # once per record, not per action
    finally:
        status.unpersist()


def test_gates(spark, tmp_path):
    empty = spark.createDataFrame([], "x int")
    full = spark.createDataFrame([(1,)], "x int")
    require_nonempty(full, "ok")
    with pytest.raises(ValidationError):
        require_nonempty(empty, "bad")
    require_empty(empty, "ok")
    with pytest.raises(ValidationError):
        require_empty(full, "bad", report_path=str(tmp_path / "evidence"))
    assert glob.glob(str(tmp_path / "evidence" / "part-*.csv"))
    with pytest.warns(UserWarning):
        assert warn_if_nonempty(full, "soft") is True
    assert warn_if_nonempty(empty, "soft") is False
    # a caller-supplied count decides instead of the probe
    with pytest.warns(UserWarning):
        assert warn_if_nonempty(full, "soft", str(tmp_path / "counted"), count=1) is True
    assert glob.glob(str(tmp_path / "counted" / "part-*.csv"))
    assert warn_if_nonempty(full, "soft", str(tmp_path / "skipped"), count=0) is False
    assert not glob.glob(str(tmp_path / "skipped"))


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def test_multimodal_metadata_and_features(spark, sf_dir):
    media = documents_as_media(load_table(spark, sf_dir, "documents")).limit(20)
    meta = binary_metadata(media)
    row = meta.first()
    assert len(row["payload_sha256"]) == 64
    assert row["payload_bytes"] > 0 and len(row["magic"]) == 8
    feats = extract_features(media, fake=True)
    frow = feats.first()
    assert len(frow["features"]) == 8
    assert all(0 <= v < 1 for v in frow["features"])
    assert frow["payload_sha256"] == meta.filter(F.col("media_id") == frow["media_id"]).first()["payload_sha256"]


def test_multimodal_unknown_format_is_marked_stub(spark, sf_dir):
    # text bytes are neither BMP nor WAV → the non-fake path must raise
    # at the documented integration point
    media = documents_as_media(load_table(spark, sf_dir, "documents")).limit(1)
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        extract_features(media, fake=False).collect()


def _media_df(spark, rows):
    from graphql_api_etl_spark.operators.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_multimodal_real_bmp_wav_decode(spark):
    from graphql_api_etl_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_bmp,
        decode_wav,
        synthesize_bmp,
        synthesize_wav,
    )

    bmp = synthesize_bmp(17, 9, seed=3)  # odd width exercises row padding
    wav = synthesize_wav(n_samples=8000 * 2, sample_rate=8000, seed=5)  # 2 s

    # codecs round-trip standalone
    w, h, feats = decode_bmp(bmp)
    assert (w, h) == (17, 9) and len(feats) == FEATURE_DIM
    dur, wfeats = decode_wav(wav)
    assert dur == 2000 and len(wfeats) == FEATURE_DIM
    assert all(0.0 <= v < 1.0 for v in feats + wfeats)

    # and end-to-end through the mapInPandas operator (fake=False)
    media = _media_df(
        spark,
        [
            (1, "image", bmp, None, None, None),
            (2, "audio", wav, None, None, None),
        ],
    )
    out = {r["media_id"]: r for r in extract_features(media, fake=False).collect()}
    assert out[1]["width"] == 17 and out[1]["height"] == 9 and out[1]["duration_ms"] is None
    assert out[2]["duration_ms"] == 2000 and out[2]["width"] is None
    assert len(out[1]["features"]) == FEATURE_DIM
    # native-precomputed sha/len agree with the metadata-only operator
    meta = {r["media_id"]: r for r in binary_metadata(media).collect()}
    for mid in (1, 2):
        assert out[mid]["payload_sha256"] == meta[mid]["payload_sha256"]
        assert out[mid]["payload_bytes"] == meta[mid]["payload_bytes"]


def test_multimodal_thumbnail_and_frame_sampling(spark):
    from graphql_api_etl_spark.operators.multimodal import (
        decode_bmp_pixels,
        sample_frames,
        split_video_frames,
        synthesize_bmp,
        synthesize_video,
        thumbnail_gray,
        thumbnail_features,
    )

    bmp = synthesize_bmp(10, 7, seed=9)
    w, h, rows = decode_bmp_pixels(bmp)
    assert (w, h) == (10, 7) and len(rows) == 7 and len(rows[0]) == 10
    thumb = thumbnail_gray(bmp, 4, 4)
    assert len(thumb) == 16 and all(0.0 <= v < 1.0 for v in thumb)

    media = _media_df(spark, [(1, "image", bmp, None, None, None)])
    row = thumbnail_features(media).first()
    assert (row["width"], row["height"]) == (10, 7)
    assert row["thumb"] == thumb  # operator == standalone codec

    video = synthesize_video([synthesize_bmp(6, 4, seed=f) for f in range(5)])
    assert len(split_video_frames(video)) == 5
    vmedia = _media_df(spark, [(2, "video", video, None, None, None)])
    frames = sample_frames(vmedia, every_k=2).collect()
    assert sorted(r["frame_idx"] for r in frames) == [0, 2, 4]
    assert all((r["width"], r["height"]) == (6, 4) for r in frames)


def test_multimodal_png_codec_roundtrip_all_filters():
    """PNG codec (r7, VERDICT r6 ask #4): synthesize→decode is the
    identity on the raw RGB scanline bytes for every scanline filter
    type (None/Sub/Up/Average/Paeth), including the default cycling
    mix — the unfilter math is the part a library would otherwise
    own."""
    from graphql_api_etl_spark.operators.multimodal import (
        closed_form_pixel_bytes,
        decode_png_pixels,
        decode_png_stream,
        synthesize_png,
    )

    w, h = 7, 6
    px = closed_form_pixel_bytes(11, 3 * w * h)
    for filters in [None, [0] * h, [1] * h, [2] * h, [3] * h, [4] * h, [3, 4, 1, 0, 2, 4]]:
        png = synthesize_png(w, h, px, filters)
        assert decode_png_stream(png) == (w, h, px)
    pw, ph, rows = decode_png_pixels(synthesize_png(w, h, px))
    assert (pw, ph) == (w, h)
    assert rows[0][0] == (px[0], px[1], px[2])
    assert rows[h - 1][w - 1] == tuple(px[-3:])


def test_multimodal_png_bmp_cross_container_parity(spark):
    """Two cross-container properties: (a) a BMP and a PNG carrying
    the SAME canonical stored stream agree on decode_image_stream and
    on the stream-indexed aHash — what lets one closed-form replay
    oracle cover both containers; (b) a PNG re-encode of a BMP's
    VISUAL pixels (BMP stores bottom-up BGR; PNG top-down RGB, so the
    bytes differ) produces the identical thumbnail — the pixel-space
    equivalence resize/featurize relies on."""
    from graphql_api_etl_spark.operators.multimodal import (
        closed_form_pixel_bytes,
        decode_bmp_pixels,
        decode_image_stream,
        image_ahash,
        synthesize_bmp_bytes,
        synthesize_png,
        thumbnail_gray,
    )

    px = closed_form_pixel_bytes(23, 24 * 5)
    bmp = synthesize_bmp_bytes(8, 5, px)
    png = synthesize_png(8, 5, px)
    assert bmp != png  # genuinely different byte containers
    assert decode_image_stream(bmp) == (8, 5, px)
    assert decode_image_stream(png) == (8, 5, px)

    media = _media_df(
        spark,
        [(1, "image", bmp, None, None, None), (2, "image", png, None, None, None)],
    )
    hashes = {r["media_id"]: r["ahash"] for r in image_ahash(media).collect()}
    assert hashes[1] == hashes[2]

    # visual re-encode: PNG scanlines = the BMP's decoded top-down RGB
    w, h, rows = decode_bmp_pixels(bmp)
    visual = bytes(c for row in rows for pix in row for c in pix)
    png_visual = synthesize_png(w, h, visual)
    assert thumbnail_gray(bmp) == thumbnail_gray(png_visual)


def test_multimodal_png_through_feature_operator(spark):
    """PNG payloads flow through the fake=False mapInPandas decode with
    parsed dimensions and in-range features, alongside BMP/WAV."""
    from graphql_api_etl_spark.operators.multimodal import (
        FEATURE_DIM,
        closed_form_pixel_bytes,
        synthesize_png,
    )

    png = synthesize_png(9, 4, closed_form_pixel_bytes(3, 3 * 9 * 4))
    media = _media_df(spark, [(7, "image", png, None, None, None)])
    row = extract_features(media, fake=False).first()
    assert (row["width"], row["height"]) == (9, 4) and row["duration_ms"] is None
    assert len(row["features"]) == FEATURE_DIM
    assert all(0.0 <= v < 1.0 for v in row["features"])


def test_dynamic_partition_overwrite_replaces_only_touched(spark, tmp_path):
    """INSERT OVERWRITE with partitionOverwriteMode=dynamic must
    rewrite only the partitions present in the incoming frame — the
    idempotent daily-reload primitive (static mode would drop every
    other day)."""
    path = str(tmp_path / "dpo")
    base = spark.createDataFrame(
        [(1, "d1", 10), (2, "d1", 20), (3, "d2", 30), (4, "d3", 40)],
        "id long, day string, v long",
    )
    base.write.partitionBy("day").mode("overwrite").parquet(path)
    patch = spark.createDataFrame([(9, "d2", 99)], "id long, day string, v long")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        patch.write.partitionBy("day").mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    got = {
        (r["id"], r["day"], r["v"]) for r in spark.read.parquet(path).collect()
    }
    # d1/d3 untouched, d2 fully replaced by the single patch row
    assert got == {(1, "d1", 10), (2, "d1", 20), (9, "d2", 99), (4, "d3", 40)}


def test_multimodal_sobel_edge_density_hand_image(spark):
    """Closed-form Sobel check: an 8×4 image whose left half is black
    and right half white has a 2-column vertical edge band (gx = ±1020
    at the columns straddling the step, gy = 0 everywhere), so exactly
    4 of the 12 interior pixels are edges → 3333 bp. And because Sobel
    magnitude² is invariant under vertical flip, a BMP (bottom-up
    storage) and a PNG (top-down) of the SAME stored byte stream must
    report identical counts — the property that lets the catalog
    oracle use one top-down replay for both containers."""
    from graphql_api_etl_spark.operators.multimodal import (
        image_edge_density,
        synthesize_bmp_bytes,
        synthesize_png,
    )

    w, h = 8, 4
    px = bytes(
        (255 if x >= 4 else 0)
        for _y in range(h)
        for x in range(w)
        for _c in range(3)
    )
    media = _media_df(
        spark,
        [
            (1, "image", synthesize_bmp_bytes(w, h, px), None, None, None),
            (2, "image", synthesize_png(w, h, px), None, None, None),
        ],
    )
    rows = {
        r["media_id"]: (r["n_interior"], r["n_edges"], r["edge_bp"])
        for r in image_edge_density(media, thresh_sq=200000).collect()
    }
    assert rows[1] == (12, 4, 3333)
    assert rows[2] == rows[1]


def test_multimodal_zero_crossings_hand_waveform(spark):
    """Closed-form ZCR check: sign pattern [+,-,+,-,+,+] has 4
    crossings among its 5 consecutive pairs; split into windows of 3
    the boundary pair (idx 2→3) belongs to NEITHER window, so the
    windowed counts are 2 and 1 — the window-interior rule the oracle
    replays with ``i % w <> 0``."""
    from graphql_api_etl_spark.operators.multimodal import (
        audio_zero_crossings,
        synthesize_wav_samples,
    )

    wav = synthesize_wav_samples([1, -1, 2, -3, 0, 5])
    media = _media_df(spark, [(1, "audio", wav, None, None, None)])
    whole = {
        r["window_idx"]: (r["n_pairs"], r["n_crossings"])
        for r in audio_zero_crossings(media, window=200).collect()
    }
    assert whole == {0: (5, 4)}  # 0 counts as non-negative
    split = {
        r["window_idx"]: (r["n_pairs"], r["n_crossings"])
        for r in audio_zero_crossings(media, window=3).collect()
    }
    assert split == {0: (2, 2), 1: (2, 1)}


# --- PNG color types + Adam7 (r9) ------------------------------------------


def test_png_adam7_roundtrip_exact():
    """Adam7 interlaced synthesize→decode is the identity on raw RGB
    bytes — every pass filtered independently, cycling filters inside
    each pass, sizes on and off the 8x8 pass grid (incl. degenerate
    1-wide/1-tall where later passes are empty)."""
    import random

    from graphql_api_etl_spark.operators.multimodal import (
        decode_png_stream,
        synthesize_png,
    )

    rng = random.Random(3)
    for (w, h) in [(1, 1), (7, 3), (8, 8), (13, 9), (31, 17), (5, 1), (1, 5)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * 3))
        assert decode_png_stream(synthesize_png(w, h, px, interlace=True)) == (w, h, px)
        assert decode_png_stream(synthesize_png(w, h, px)) == (w, h, px)


# Foreign-encoder PNG fixtures (OpenJDK 17 javax.imageio): grayscale
# (color type 0), palette (3, PLTE chunk), RGBA (6), and an Adam7
# INTERLACED truecolor stream (progressive mode). PNG is lossless, so
# every assertion is exact. The RGB references are Java's own decode —
# except grayscale, where Java's getRGB applies a gray→sRGB color-space
# conversion the FILE does not contain; the reference there is the raw
# sample pattern the fixture was written with ((x*29 + y*53) % 256).

_PNG_GRAY_HEX = (
    "89504e470d0a1a0a0000000d4948445200000009000000070800000000fff038bc0000005149"
    "444154785e014600b9ff00001d3a577491aecbe80035526f8ca9c6e3001d006a87a4c1defb18"
    "3552009fbcd9f613304d6a8700d4f10e2b4865829fbc00092643607d9ab7d4f1003e5b7895b2"
    "cfec09261edd1eae3d64bdc00000000049454e44ae426082"
)
_PNG_PAL_HEX = (
    "89504e470d0a1a0a0000000d4948445200000008000000060803000000c9db2fc90000030050"
    "4c54450000000000330000660000990000cc0000ff0033000033330033660033990033cc0033"
    "ff0066000066330066660066990066cc0066ff0099000099330099660099990099cc0099ff00"
    "cc0000cc3300cc6600cc9900cccc00ccff00ff0000ff3300ff6600ff9900ffcc00ffff330000"
    "3300333300663300993300cc3300ff3333003333333333663333993333cc3333ff3366003366"
    "333366663366993366cc3366ff3399003399333399663399993399cc3399ff33cc0033cc3333"
    "cc6633cc9933cccc33ccff33ff0033ff3333ff6633ff9933ffcc33ffff660000660033660066"
    "6600996600cc6600ff6633006633336633666633996633cc6633ff6666006666336666666666"
    "996666cc6666ff6699006699336699666699996699cc6699ff66cc0066cc3366cc6666cc9966"
    "cccc66ccff66ff0066ff3366ff6666ff9966ffcc66ffff9900009900339900669900999900cc"
    "9900ff9933009933339933669933999933cc9933ff9966009966339966669966999966cc9966"
    "ff9999009999339999669999999999cc9999ff99cc0099cc3399cc6699cc9999cccc99ccff99"
    "ff0099ff3399ff6699ff9999ffcc99ffffcc0000cc0033cc0066cc0099cc00cccc00ffcc3300"
    "cc3333cc3366cc3399cc33cccc33ffcc6600cc6633cc6666cc6699cc66cccc66ffcc9900cc99"
    "33cc9966cc9999cc99cccc99ffcccc00cccc33cccc66cccc99ccccccccccffccff00ccff33cc"
    "ff66ccff99ccffccccffffff0000ff0033ff0066ff0099ff00ccff00ffff3300ff3333ff3366"
    "ff3399ff33ccff33ffff6600ff6633ff6666ff6699ff66ccff66ffff9900ff9933ff9966ff99"
    "99ff99ccff99ffffcc00ffcc33ffcc66ffcc99ffccccffccffffff00ffff33ffff66ffff99ff"
    "ffccffffff1212121818181e1e1e2424242a2a2a3030303636363c3c3c4242424848484e4e4e"
    "5454545a5a5a6060606666666c6c6c7272727878787e7e7e8484848a8a8a9090909696969c9c"
    "9ca2a2a2a8a8a8aeaeaeb4b4b4bababac0c0c0c6c6c6ccccccd2d2d2d8d8d8dededee4e4e4ea"
    "eaeaf0f0f0f6f6f6fcfcfc202962c30000003b49444154785e6364b8e1aba2c2a8c2c0c2c6cc"
    "c6c6cec0c6c8c8abb281693a832a0390c1a832997933500a28ceccccc6c02c28ca2cf6e04cfc"
    "7d00b920084a56ea99dd0000000049454e44ae426082"
)
_PNG_PAL_RGB = [
    0, 0, 0, 18, 18, 18, 51, 0, 51, 102, 0, 51, 153, 0, 51, 153, 0, 102, 204,
    0, 102, 204, 0, 102, 0, 51, 0, 36, 36, 36, 51, 51, 51, 102, 51, 51, 153,
    51, 102, 153, 51, 102, 204, 51, 102, 204, 51, 153, 0, 102, 51, 51, 102,
    51, 72, 72, 72, 84, 84, 84, 153, 102, 102, 153, 102, 102, 204, 102, 153,
    204, 102, 153, 0, 102, 51, 51, 102, 51, 51, 102, 102, 102, 102, 102, 120,
    120, 120, 138, 138, 138, 204, 102, 153, 204, 102, 153, 0, 153, 51, 51,
    153, 102, 51, 153, 102, 102, 153, 102, 138, 138, 138, 156, 156, 156, 204,
    153, 153, 204, 153, 153, 0, 204, 102, 51, 204, 102, 51, 204, 102, 102,
    204, 153, 153, 204, 153, 153, 204, 153, 192, 192, 192, 204, 204, 204
]
_PNG_RGBA_HEX = (
    "89504e470d0a1a0a0000000d494844520000000a0000000508060000007c647d68000000ae49"
    "444154785e0dca216e03311005d0cfc2c2022a2d0b5bd641cbc2424cf704d590122bd0c401c6"
    "66913e368c4c4c4c135430c7a8ef51503ffc00403f002f40704052204780044a03aa017d006f"
    "4066948317390627a7a4b2e4286752d6d2e4b39a6c7dc865469d518f5e74094ed7a4bae5a857"
    "52f7d2f4ab9adefad0fb8c9c91272f5c83e32529f71cf94df25e1a1fd5f8ec83af196d465bbc"
    "d8169ced49ed96a365d29ea5d94f35fbedc3fedeff898952229f7bc7dd0000000049454e44ae"
    "426082"
)
_PNG_RGBA_RGB = [
    0, 0, 0, 25, 0, 0, 50, 0, 0, 75, 0, 0, 100, 0, 0, 125, 0, 0, 150, 0, 0,
    175, 0, 0, 200, 0, 0, 225, 0, 0, 0, 50, 0, 25, 50, 7, 50, 50, 14, 75, 50,
    21, 100, 50, 28, 125, 50, 35, 150, 50, 42, 175, 50, 49, 200, 50, 56, 225,
    50, 63, 0, 100, 0, 25, 100, 14, 50, 100, 28, 75, 100, 42, 100, 100, 56,
    125, 100, 70, 150, 100, 84, 175, 100, 98, 200, 100, 112, 225, 100, 126, 0,
    150, 0, 25, 150, 21, 50, 150, 42, 75, 150, 63, 100, 150, 84, 125, 150,
    105, 150, 150, 126, 175, 150, 147, 200, 150, 168, 225, 150, 189, 0, 200,
    0, 25, 200, 28, 50, 200, 56, 75, 200, 84, 100, 200, 112, 125, 200, 140,
    150, 200, 168, 175, 200, 196, 200, 200, 224, 225, 200, 252
]
_PNG_ILACE_HEX = (
    "89504e470d0a1a0a0000000d494844520000000d0000000b08020000015cd7a0a00000018b49"
    "444154785e0d8db167a44100477f1c716125ec8859c2cab1868bcbd86a1996706e58775f1352"
    "ad61c23517b6faa6d92ad57dc254cb115f3be108d36e314dc655d78e49b57fc0986bc3b557dc"
    "16af785ef100a0df83803efc420394bd34e1a6843340a151d35edd14b501035a20ee2b53a356"
    "2da25a8385691b3631bc021c8c0f1a3e6af9a4e7d3c8e7852f000b66278d5db476d5db4db4db"
    "62774005abf3a6aedbbaedeb6bac1f4afd06020840031de081bc1f117e20f850f371c7cf3d9f"
    "65fe11440d849a6835efd4b557abacbe83d8a1b0336d979dbdf3f631dbdf206124c242877517"
    "9e7cd8e5f016a48e455deafad0d5175f8f72fd0c5010fa86d103410f1b3ad0f4b8a5c38e9ef4"
    "74e4e969a4e34cdf153a0124883c647228e46923275a5eb472d6c9cb5e2ebcbc8a7299e5d722"
    "57800131c7cc8c85b968cc5c9b2fad5976e6b6376b6feea379c8e667315bc081b813e6ce85bb"
    "6cdcb576b7adbbebdc8fde3d79f71cdd4b767f8afb07249074cad24ca4ab26ad74ba6fd36397"
    "9efbb4f3e96f4c4739bd2fe9d37ffe29a932bc2fe73a0000000049454e44ae426082"
)
_PNG_ILACE_RGB = [
    0, 0, 0, 19, 0, 0, 38, 0, 0, 57, 0, 0, 76, 0, 0, 95, 0, 0, 114, 0, 0, 133,
    0, 0, 152, 0, 0, 171, 0, 0, 190, 0, 0, 209, 0, 0, 228, 0, 0, 0, 23, 0, 19,
    23, 3, 38, 23, 6, 57, 23, 9, 76, 23, 12, 95, 23, 15, 114, 23, 18, 133, 23,
    21, 152, 23, 24, 171, 23, 27, 190, 23, 30, 209, 23, 33, 228, 23, 36, 0,
    46, 0, 19, 46, 6, 38, 46, 12, 57, 46, 18, 76, 46, 24, 95, 46, 30, 114, 46,
    36, 133, 46, 42, 152, 46, 48, 171, 46, 54, 190, 46, 60, 209, 46, 66, 228,
    46, 72, 0, 69, 0, 19, 69, 9, 38, 69, 18, 57, 69, 27, 76, 69, 36, 95, 69,
    45, 114, 69, 54, 133, 69, 63, 152, 69, 72, 171, 69, 81, 190, 69, 90, 209,
    69, 99, 228, 69, 108, 0, 92, 0, 19, 92, 12, 38, 92, 24, 57, 92, 36, 76,
    92, 48, 95, 92, 60, 114, 92, 72, 133, 92, 84, 152, 92, 96, 171, 92, 108,
    190, 92, 120, 209, 92, 132, 228, 92, 144, 0, 115, 0, 19, 115, 15, 38, 115,
    30, 57, 115, 45, 76, 115, 60, 95, 115, 75, 114, 115, 90, 133, 115, 105,
    152, 115, 120, 171, 115, 135, 190, 115, 150, 209, 115, 165, 228, 115, 180,
    0, 138, 0, 19, 138, 18, 38, 138, 36, 57, 138, 54, 76, 138, 72, 95, 138,
    90, 114, 138, 108, 133, 138, 126, 152, 138, 144, 171, 138, 162, 190, 138,
    180, 209, 138, 198, 228, 138, 216, 0, 161, 0, 19, 161, 21, 38, 161, 42,
    57, 161, 63, 76, 161, 84, 95, 161, 105, 114, 161, 126, 133, 161, 147, 152,
    161, 168, 171, 161, 189, 190, 161, 210, 209, 161, 231, 228, 161, 252, 0,
    184, 0, 19, 184, 24, 38, 184, 48, 57, 184, 72, 76, 184, 96, 95, 184, 120,
    114, 184, 144, 133, 184, 168, 152, 184, 192, 171, 184, 216, 190, 184, 240,
    209, 184, 8, 228, 184, 32, 0, 207, 0, 19, 207, 27, 38, 207, 54, 57, 207,
    81, 76, 207, 108, 95, 207, 135, 114, 207, 162, 133, 207, 189, 152, 207,
    216, 171, 207, 243, 190, 207, 14, 209, 207, 41, 228, 207, 68, 0, 230, 0,
    19, 230, 30, 38, 230, 60, 57, 230, 90, 76, 230, 120, 95, 230, 150, 114,
    230, 180, 133, 230, 210, 152, 230, 240, 171, 230, 14, 190, 230, 44, 209,
    230, 74, 228, 230, 104
]


def _png_flat(payload_hex: str):
    from graphql_api_etl_spark.operators.multimodal import decode_png_pixels

    w, h, rows = decode_png_pixels(bytes.fromhex(payload_hex))
    return w, h, [v for row in rows for px in row for v in px]


def test_foreign_png_gray_decodes_exact():
    w, h, flat = _png_flat(_PNG_GRAY_HEX)
    assert (w, h) == (9, 7)
    expected = [v for y in range(7) for x in range(9) for v in ((x * 29 + y * 53) % 256,) * 3]
    assert flat == expected


def test_foreign_png_palette_decodes_exact():
    w, h, flat = _png_flat(_PNG_PAL_HEX)
    assert (w, h) == (8, 6) and flat == _PNG_PAL_RGB


def test_foreign_png_rgba_drops_alpha_exact():
    w, h, flat = _png_flat(_PNG_RGBA_HEX)
    assert (w, h) == (10, 5) and flat == _PNG_RGBA_RGB


def test_png_palette_index_out_of_range_raises():
    """r10 ADVICE: an out-of-range palette index made the RHS slice
    0–2 bytes and bytearray slice-assignment silently SHRANK the
    output, shifting every later pixel — must raise instead."""
    import struct as _struct
    import zlib as _zlib

    import pytest as _pytest

    from graphql_api_etl_spark.operators.multimodal import (
        _png_chunk,
        _PNG_SIG,
        decode_png_stream,
    )

    ihdr = _struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)  # 2x1, palette
    scanline = b"\x00" + bytes([0, 3])  # index 3 vs a 1-entry PLTE
    payload = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", bytes([10, 20, 30]))
        + _png_chunk(b"IDAT", _zlib.compress(scanline))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="palette index"):
        decode_png_stream(payload)


def test_foreign_png_adam7_interlaced_decodes_exact():
    payload = bytes.fromhex(_PNG_ILACE_HEX)
    assert payload[8 + 8 + 12] == 1  # IHDR interlace byte really set
    w, h, flat = _png_flat(_PNG_ILACE_HEX)
    assert (w, h) == (13, 11) and flat == _PNG_ILACE_RGB
