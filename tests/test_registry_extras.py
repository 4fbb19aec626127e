"""Source-registry extras: CSV scan with column normalization and
directory file discovery (reference S2/S5)."""

from __future__ import annotations

import pytest


def test_read_csv_normalizes_headers(spark, tmp_path):
    from graphql_api_etl_spark.sources.registry import read_csv

    p = tmp_path / "managers.csv"
    p.write_text("Corporate Managers\nA@x.com\nB@x.com\n")
    df = read_csv(spark, str(p))
    assert df.columns == ["corporate_managers"]
    assert df.count() == 2


@pytest.mark.parametrize(
    "content",
    [
        pytest.param(b"a,,b\n1,2,3\n", id="empty-cell"),
        pytest.param(b"a,A,b\n1,2,3\n", id="case-insensitive-repeat"),
        pytest.param(b"\xef\xbb\xbfName,x\n1,2\n", id="utf8-bom"),
        pytest.param(b"", id="empty-file"),
        pytest.param(b'"x, y",z\n1,2\n', id="quoted-comma"),
    ],
)
def test_read_csv_header_matches_spark_inference(spark, tmp_path, content):
    """Without a schema, the header is read on the driver and follows
    Spark's own header rules: ``_c<index>`` for an empty cell, the index
    appended to a case-insensitive repeat, no BOM, no columns for an
    empty file, quoted commas kept in one name."""
    from graphql_api_etl_spark.sources.registry import normalize_columns, read_csv

    p = tmp_path / "drop.csv"
    p.write_bytes(content)
    inferred = normalize_columns(spark.read.option("header", True).csv(str(p)))
    assert read_csv(spark, str(p)).columns == inferred.columns


def test_read_csv_without_schema_runs_no_job(spark, tmp_path):
    """Reading a CSV without a schema runs no Spark job: the header row
    is read on the driver, not by Spark's header inference."""
    from graphql_api_etl_spark.sources.registry import read_csv

    p = tmp_path / "managers.csv"
    p.write_text("Corporate Managers\nA@x.com\n")
    sc = spark.sparkContext
    group = "test-read-csv-header"
    sc.setJobGroup(group, "read_csv header")
    try:
        df = read_csv(spark, str(p))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert df.columns == ["corporate_managers"]


def test_discover_input_files(tmp_path):
    from graphql_api_etl_spark.sources.registry import discover_input_files

    (tmp_path / "b.xlsx").write_text("")
    (tmp_path / "a.xlsx").write_text("")
    (tmp_path / "z.csv").write_text("")
    found = discover_input_files(str(tmp_path))
    # deterministic: first by sorted name (reference: first listed wins)
    assert found["xlsx"].endswith("a.xlsx")
    assert found["csv"].endswith("z.csv")


def test_discover_handles_missing_kinds(tmp_path):
    from graphql_api_etl_spark.sources.registry import discover_input_files

    found = discover_input_files(str(tmp_path))
    assert found == {"xlsx": None, "csv": None}


def test_publish_layout_race_loser_discards(tmp_path):
    """_publish_layout: if another session published the final dir
    between the cache check and the rename, the loser's build is
    discarded and the winner's copy is untouched."""
    import os

    from graphql_api_etl_spark.queries.tpch import _publish_layout

    final = str(tmp_path / "copy")
    os.makedirs(final)
    with open(os.path.join(final, "_SUCCESS"), "w") as fh:
        fh.write("winner")

    def build(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "_SUCCESS"), "w") as fh:
            fh.write("loser")

    _publish_layout(build, final)
    with open(os.path.join(final, "_SUCCESS")) as fh:
        assert fh.read() == "winner"
    assert not [p for p in os.listdir(tmp_path) if ".tmp." in p]
