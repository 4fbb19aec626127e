"""Pure-stdlib xlsx codec + distributed Excel source (reference S1):
round-trip through the minimal writer, shared-strings parsing against a
hand-built workbook, and the executor-side multi-file scan."""

from __future__ import annotations

import zipfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from graphql_api_etl_spark.sources.registry import read_excel_sheet
from graphql_api_etl_spark.sources.xlsx import (
    parse_xlsx_sheet,
    sheet_header,
    write_xlsx,
)

HEADER = ["REGION / SUPERVISOR", "Unit #", "Location"]
ROWS = [
    ["Acme / Ada Lovelace", 101, "Store Alpha"],
    ["Acme / Alan Turing", 102.5, "Store <Bravo> & Co"],  # XML escaping
    [None, 103, None],  # sparse row
]


def test_xlsx_roundtrip_codec(tmp_path):
    p = str(tmp_path / "wb.xlsx")
    write_xlsx(p, "Alignments", HEADER, ROWS)
    assert sheet_header(p, "Alignments") == HEADER
    with open(p, "rb") as f:
        header, rows = parse_xlsx_sheet(f.read(), "Alignments")
    assert header == HEADER
    assert rows == [
        ["Acme / Ada Lovelace", "101", "Store Alpha"],
        ["Acme / Alan Turing", "102.5", "Store <Bravo> & Co"],
        [None, "103", None],
    ]


def test_xlsx_bool_cells_roundtrip_symmetrically(tmp_path):
    # booleans must serialize as t="b" cells so the reader renders the
    # same "true"/"false" it renders for externally-authored workbooks
    p = str(tmp_path / "wb.xlsx")
    write_xlsx(p, "S", ["flag", "n"], [[True, 1], [False, 2.5]])
    with open(p, "rb") as f:
        _, rows = parse_xlsx_sheet(f.read(), "S")
    assert rows == [["true", "1"], ["false", "2.5"]]


def _shared_strings_workbook(p, rows_xml: str) -> None:
    """A one-sheet workbook ("S") with the shared strings "name", "val"
    and "rich text" and the given ``<row>`` elements."""
    with zipfile.ZipFile(p, "w") as zf:
        # reuse the writer's boilerplate parts
        from graphql_api_etl_spark.sources import xlsx as X

        zf.writestr(
            "[Content_Types].xml",
            X._CONTENT_TYPES.replace(
                "</Types>",
                '<Override PartName="/xl/sharedStrings.xml" '
                'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>',
            ),
        )
        zf.writestr("_rels/.rels", X._ROOT_RELS)
        zf.writestr(
            "xl/workbook.xml",
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr("xl/_rels/workbook.xml.rels", X._WB_RELS)
        zf.writestr(
            "xl/sharedStrings.xml",
            '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            "<si><t>name</t></si><si><t>val</t></si>"
            "<si><r><t>rich </t></r><r><t>text</t></r></si></sst>",  # runs concatenate
        )
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
            + rows_xml
            + "</sheetData></worksheet>",
        )


def test_xlsx_shared_strings_and_cell_refs(tmp_path):
    """Real-world workbooks (Excel, pandas) use sharedStrings and
    explicit A1-style cell refs with gaps — hand-build one."""
    p = tmp_path / "shared.xlsx"
    _shared_strings_workbook(
        p,
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        # C2 present, B2 skipped entirely (gap), bool + shared string
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="C2" t="b"><v>1</v></c></row>',
    )
    with open(p, "rb") as f:
        header, rows = parse_xlsx_sheet(f.read(), "S")
    assert header == ["name", "val"]
    assert rows == [["rich text", None]]  # C2 beyond header width → truncated


def test_sheet_header_reads_only_the_first_row(tmp_path):
    """Schema discovery stops at the end of the header row: a data row
    that a full parse cannot read (a shared-string index past the
    table) does not reach it."""
    p = tmp_path / "bad_row.xlsx"
    _shared_strings_workbook(
        p,
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>99</v></c></row>',
    )
    assert sheet_header(str(p), "S") == ["name", "val"]


def test_read_excel_sheet_distributed(spark, tmp_path):
    xdir = tmp_path / "drops"
    xdir.mkdir()
    write_xlsx(str(xdir / "week1.xlsx"), "Alignments", HEADER, ROWS[:2])
    write_xlsx(str(xdir / "week2.xlsx"), "Alignments", HEADER, ROWS[2:])

    df = read_excel_sheet(spark, str(xdir), "Alignments")
    assert df.columns == ["region_supervisor", "unit", "location"]
    got = {r["unit"]: r["region_supervisor"] for r in df.collect()}
    assert got == {
        "101": "Acme / Ada Lovelace",
        "102.5": "Acme / Alan Turing",
        "103": None,
    }

    # declared schema casts by normalized name (CSV-source convention)
    schema = T.StructType(
        [
            T.StructField("location", T.StringType()),
            T.StructField("unit", T.DoubleType()),
        ]
    )
    typed = read_excel_sheet(spark, str(xdir / "week1.xlsx"), "Alignments", schema=schema)
    assert typed.schema["unit"].dataType == T.DoubleType()
    assert {r["unit"] for r in typed.collect()} == {101.0, 102.5}

    # the parse runs on executors (ArrowEvalPython/mapInPandas), with a
    # binaryFile scan underneath — not a driver-side pandas read
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert df.filter(F.col("unit") == "101").count() == 1


def test_xlsx_report_sink_roundtrip_through_source(spark, tmp_path):
    """DataFrame → xlsx report sink → distributed xlsx SOURCE scan:
    the full workbook round trip through both of the engine's own
    codecs (numbers, bools, nulls, and a string that needs XML
    escaping)."""
    from pyspark.sql import types as T

    from graphql_api_etl_spark.sinks.reports import write_xlsx_report
    from graphql_api_etl_spark.sources.registry import read_excel_sheet

    df = spark.createDataFrame(
        [
            (1, "plain", True, 1.5),
            (2, 'needs <&"> escaping', False, None),
            (3, None, None, -2.25),
        ],
        "id long, name string, flag boolean, score double",
    )
    out = tmp_path / "wb"
    out.mkdir()
    write_xlsx_report(df, str(out / "report.xlsx"), sheet_name="r1")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("flag", T.BooleanType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    back = read_excel_sheet(spark, str(out), sheet_name="r1", schema=schema)
    got = {r["id"]: (r["name"], r["flag"], r["score"]) for r in back.collect()}
    assert got == {
        1: ("plain", True, 1.5),
        2: ('needs <&"> escaping', False, None),
        3: (None, None, -2.25),
    }


def test_xlsx_report_ceiling_raises(spark, tmp_path):
    """The report sink's "report-sized only" contract is enforced, not
    advisory: an over-ceiling frame raises instead of collecting."""
    import pytest

    from graphql_api_etl_spark.sinks.reports import write_xlsx_report

    df = spark.range(50).selectExpr("id", "CAST(id AS STRING) AS s")
    with pytest.raises(ValueError, match="report ceiling"):
        write_xlsx_report(df, str(tmp_path / "big.xlsx"), max_rows=10)
    # under the ceiling still writes
    out = write_xlsx_report(df.limit(5), str(tmp_path / "ok.xlsx"), max_rows=10)
    import os

    assert os.path.exists(out)
