"""S2 Excel reader: typed-cell decode matrix of the reference
(~ excel_range_reader.rs:68-154 and its rstest fixtures :174-330), driven
through a minimal hand-built OOXML zip (no openpyxl in this container)."""

import datetime as dt
import zipfile

import pytest

from phenoxtract_spark.sources.readers import ExtractionConfig, read_excel
from phenoxtract_spark.sources.xlsx import parse_xlsx

_CT = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>
</Types>"""

_ROOT_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
</Relationships>"""

_WB = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
 xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="worksheet" sheetId="1" r:id="rId1"/></sheets>
</workbook>"""

_WB_RELS = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
</Relationships>"""

# style 0 = general, 1 = built-in date (14), 2 = built-in duration (46),
# 3 = custom datetime, 4 = custom duration
_STYLES = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<numFmts count="2">
<numFmt numFmtId="164" formatCode="yyyy-mm-dd hh:mm"/>
<numFmt numFmtId="165" formatCode="[hh]:mm:ss"/>
</numFmts>
<cellXfs count="5">
<xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="46"/>
<xf numFmtId="164"/><xf numFmtId="165"/>
</cellXfs>
</styleSheet>"""


def _col_letter(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, rem = divmod(i - 1, 26)
        s = chr(65 + rem) + s
    return s


def build_xlsx(path, rows, shared_strings):
    """rows: list of rows; each cell is None or a dict(t=..., v=..., s=...)."""
    body = []
    for ri, row in enumerate(rows, start=1):
        cells = []
        for ci, cell in enumerate(row):
            if cell is None:
                continue
            ref = f"{_col_letter(ci)}{ri}"
            attrs = f' r="{ref}"'
            if cell.get("t"):
                attrs += f' t="{cell["t"]}"'
            if cell.get("s") is not None:
                attrs += f' s="{cell["s"]}"'
            cells.append(f"<c{attrs}><v>{cell['v']}</v></c>")
        body.append(f"<row r=\"{ri}\">{''.join(cells)}</row>")
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        f"<sheetData>{''.join(body)}</sheetData></worksheet>"
    )
    sst = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        + "".join(f"<si><t>{s}</t></si>" for s in shared_strings)
        + "</sst>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", _CT)
        zf.writestr("_rels/.rels", _ROOT_RELS)
        zf.writestr("xl/workbook.xml", _WB)
        zf.writestr("xl/_rels/workbook.xml.rels", _WB_RELS)
        zf.writestr("xl/styles.xml", _STYLES)
        zf.writestr("xl/sharedStrings.xml", sst)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


def s(i):
    return {"t": "s", "v": i}


def n(v, style=None):
    return {"v": v, "s": style}


@pytest.fixture(scope="module")
def fixture_xlsx(tmp_path_factory):
    """The reference's test matrix: strings, ints, floats, bools, a
    sparse-null string column — plus error, date, duration, mixed."""
    path = str(tmp_path_factory.mktemp("xlsx") / "cohort.xlsx")
    shared = [
        "patient_id", "age", "weight", "smokes", "null", "dated", "dur",
        "mixed", "P001", "P002", "P003", "P004", "blah", "word",
    ]
    rows = [
        [s(0), s(1), s(2), s(3), s(4), s(5), s(6), s(7)],
        # 45658 = 2025-01-01; duration 1.5 days = 36h
        [s(8), n(41), n(100.5), {"t": "b", "v": 1}, None, n(45658, 1), n(1.5, 2), n(7)],
        [s(9), n(29), n(70.3), {"t": "b", "v": 0}, None, n(45658.5, 3), n(0.25, 4), s(13)],
        [s(10), n(53), n(95.8), {"t": "b", "v": 1}, None, None, None, {"t": "b", "v": 1}],
        [s(11), n(101), n(40.2), {"t": "b", "v": 0}, s(12), {"t": "e", "v": "#DIV/0!"}, None, None],
    ]
    build_xlsx(path, rows, shared)
    return path


def test_parse_grid_types(fixture_xlsx):
    with pytest.warns(UserWarning, match="error cell"):
        grid = parse_xlsx(fixture_xlsx, 0)
    assert grid[0][0] == "patient_id"
    assert grid[1][1] == 41.0 and isinstance(grid[1][1], float)  # int cell → float
    assert grid[1][3] is True and grid[2][3] is False
    assert grid[1][4] is None  # sparse empty
    assert grid[4][4] == "blah"
    assert grid[1][5] == dt.datetime(2025, 1, 1)  # built-in date style
    assert grid[2][5] == dt.datetime(2025, 1, 1, 12)  # custom datetime fmt
    assert grid[1][6] == dt.timedelta(hours=36)  # built-in duration style
    assert grid[2][6] == dt.timedelta(hours=6)  # custom [hh] fmt
    assert grid[4][5] is None  # error → null


def test_read_excel_typed_columns(spark, fixture_xlsx):
    cfg = ExtractionConfig("worksheet", has_headers=True, patients_are_rows=True)
    with pytest.warns(UserWarning, match="error cell"):
        df = read_excel(spark, fixture_xlsx, cfg)
    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert schema["patient_id"] == "string"
    assert schema["age"] == "double"
    assert schema["weight"] == "double"
    assert schema["smokes"] == "boolean"
    assert schema["null"] == "string"
    assert schema["dated"] == "timestamp"
    assert schema["dur"] == "string"  # ISO-8601 duration strings
    assert schema["mixed"] == "string"  # mixed types stringified
    rows = df.collect()
    assert [r["patient_id"] for r in rows] == ["P001", "P002", "P003", "P004"]
    assert [r["age"] for r in rows] == [41.0, 29.0, 53.0, 101.0]
    assert [r["null"] for r in rows] == [None, None, None, "blah"]
    assert rows[0]["dur"] == "P1DT12H"
    assert rows[1]["dur"] == "PT6H"
    assert rows[3]["dated"] is None  # error cell
    # mixed column: float + string + bool all rendered as text
    assert [r["mixed"] for r in rows] == ["7.0", "word", "true", None]


def test_read_excel_headerless_and_transposed(spark, tmp_path):
    path = str(tmp_path / "t.xlsx")
    shared = ["P1", "P2", "a", "b"]
    # patients are COLUMNS: row 0 = ids, row 1 = values
    rows = [[s(0), s(1)], [s(2), s(3)]]
    build_xlsx(path, rows, shared)
    cfg = ExtractionConfig("t", has_headers=False, patients_are_rows=False)
    df = read_excel(spark, path, cfg)
    assert df.columns == ["0", "1"]
    vals = [tuple(r) for r in df.collect()]
    # vectors come from ROWS: vector0 = (P1, P2), vector1 = (a, b)
    assert vals == [("P1", "a"), ("P2", "b")]


def test_read_excel_header_must_be_string(spark, tmp_path):
    path = str(tmp_path / "h.xlsx")
    build_xlsx(path, [[n(3)], [n(4)]], [])
    cfg = ExtractionConfig("h", has_headers=True, patients_are_rows=True)
    with pytest.raises(ValueError, match="header row"):
        read_excel(spark, path, cfg)



def test_vectors_to_df_naive_datetimes_keep_local_zone_instants(spark, monkeypatch):
    # naive cells are wall-clock times of the Python process's zone, as
    # createDataFrame(list) reads them, whatever the session zone is
    import time

    from phenoxtract_spark.sources.readers import vectors_to_df

    cells = [dt.datetime(2025, 1, 1, 12), dt.datetime(2025, 7, 1, 0, 30, 0, 5), None]
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        got = vectors_to_df(spark, [["seen", *cells]], has_headers=True)
        want = spark.createDataFrame([(c,) for c in cells], "seen timestamp")
    finally:
        monkeypatch.undo()
        time.tzset()
    q = "unix_micros(seen) AS us"
    assert [r.us for r in got.selectExpr(q).collect()] == [
        r.us for r in want.selectExpr(q).collect()
    ]
    assert got.selectExpr(q).first().us == 1735750800000000  # 17:00 UTC

def test_ron_config_parse(tmp_path):
    """S7 RON format (~ config/config_loader.rs:8-43 FileFormat::Ron)."""
    from phenoxtract_spark.sources.readers import load_config

    p = tmp_path / "config.ron"
    p.write_text(
        """
        // comment
        (
            data_sources: [ Csv(( source: "test/path", separator: ',',
                                  has_headers: true, limit: Some(3), )) ],
            pipeline: ( strategies: ["alias_map"], mode: Strict,
                        fill: None, weights: { "a": 1.5 } ),
        )
        """
    )
    cfg = load_config(str(p))
    assert cfg["data_sources"][0]["Csv"]["source"] == "test/path"
    assert cfg["data_sources"][0]["Csv"]["limit"] == 3
    assert cfg["pipeline"]["mode"] == "Strict"
    assert cfg["pipeline"]["fill"] is None
    assert cfg["pipeline"]["weights"] == {"a": 1.5}
