"""Source-registry extras: CSV scan with column normalization and
directory file discovery (reference S2/S5)."""

from __future__ import annotations


def test_read_csv_normalizes_headers(spark, tmp_path):
    from graphql_api_etl_spark.sources.registry import read_csv

    p = tmp_path / "managers.csv"
    p.write_text("Corporate Managers\nA@x.com\nB@x.com\n")
    df = read_csv(spark, str(p))
    assert df.columns == ["corporate_managers"]
    assert df.count() == 2


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
