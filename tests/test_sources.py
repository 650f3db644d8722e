"""Source reader tests (≙ the reference's parser unit tests:
CSV/XML/JSON/text tokenization, choice branching)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tensei_agent_spark.plans import Field, SourceSpec
from tensei_agent_spark.sources import read_source, to_struct_type
from tensei_agent_spark.sources.csv import read_choice


def test_csv_with_schema_and_defaults(spark, tmp_path):
    p = tmp_path / "d.csv"
    p.write_text("1, alice ,\n2,bob,9\n")
    spec = SourceSpec(
        "s", "csv", str(p),
        (Field("id", "long"), Field("name"), Field("score", "long", default=0)),
    )
    rows = {r["id"]: r for r in read_source(spark, spec).collect()}
    assert rows[1]["name"] == "alice"  # whitespace trimmed
    assert rows[1]["score"] == 0  # empty → default-num
    assert rows[2]["score"] == 9


def test_text_regex_extraction(spark, tmp_path):
    """formatstr elements over a non-delimited flat grammar."""
    p = tmp_path / "log.txt"
    p.write_text("ts=100 user=alice\nts=200 user=bob\n")
    spec = SourceSpec(
        "s", "text", str(p),
        (Field("ts", "long", format=r"ts=(\d+)"),
         Field("user", "string", format=r"user=(\w+)")),
    )
    rows = sorted(read_source(spark, spec).collect())
    assert [(r["ts"], r["user"]) for r in rows] == [(100, "alice"), (200, "bob")]


def test_choice_cascade(spark, tmp_path):
    """`choice`: ordered alternative layouts, first parse wins
    (BaseParser.scala:250-271)."""
    p = tmp_path / "mixed.csv"
    # layout A: id,name,amount ; layout B: id,name
    p.write_text("1,alice,10\n2,bob\n3,carol,30\n")
    spec = SourceSpec("s", "csv", str(p), None)
    layouts = [
        ((Field("id", "long"), Field("name"), Field("amount", "long")), ","),
        ((Field("id", "long"), Field("name")), ","),
    ]
    df = read_choice(spark, spec, layouts)
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["_branch"] == 0 and rows[1]["amount"] == 10
    # branch B has no amount: unified schema pads it with NULL
    assert rows[2]["_branch"] == 1 and rows[2]["amount"] is None
    assert rows[3]["_branch"] == 0


def test_json_explode_path(spark, tmp_path):
    p = tmp_path / "doc.json"
    p.write_text('{"items": [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]}')
    spec = SourceSpec(
        "s", "json", str(p),
        (Field("id", "long"), Field("v")),
        {"explodePath": "items"},
    )
    rows = sorted((r["id"], r["v"]) for r in read_source(spark, spec).collect())
    assert rows == [(1, "a"), (2, "b")]


def test_xml_source(spark, tmp_path):
    p = tmp_path / "d.xml"
    p.write_text(
        "<rows><row id=\"1\"><name>ada</name><bal>10.5</bal></row>"
        "<row id=\"2\"><name>alan</name><bal>7.25</bal></row></rows>"
    )
    spec = SourceSpec(
        "s", "xml", str(p),
        (Field("_id", "long"), Field("name"), Field("bal", "decimal(10,2)")),
        {"rowTag": "row"},
    )
    df = read_source(spark, spec)
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["name"] == "ada" and str(rows[1]["bal"]) == "10.50"


def test_excel_gated(tmp_path):
    """Corrupt workbooks must raise a clear error, not crash
    arbitrarily — both the OOXML zip path and the BIFF8 OLE2 path."""
    from tensei_agent_spark.sources.excel import excel_to_csv

    fake = tmp_path / "wb.xlsx"
    fake.write_bytes(b"PK\x03\x04 not a real workbook")
    with pytest.raises((NotImplementedError, ValueError, Exception)):
        excel_to_csv(str(fake))
    fake_xls = tmp_path / "wb.xls"
    fake_xls.write_bytes(b"not an ole2 container")
    with pytest.raises(ValueError, match="OLE2"):
        excel_to_csv(str(fake_xls))


_REF_EXCEL = "/root/reference/src/test/resources/com/wegtam/tensei/agent/parsers/Excel"


@pytest.mark.skipif(
    not os.path.isdir(_REF_EXCEL), reason="reference fixture corpus not present"
)
def test_xls_biff8_matches_xlsx_twin():
    """The stdlib BIFF8 reader must produce the same cell grid as the
    proven OOXML reader on the reference's parallel divers.{xls,xlsx}
    fixtures. Numeric cells compare as parsed doubles: the workbooks
    store the same float64, but .xlsx carries a 17-digit lexeme while
    BIFF stores the binary double (rendered shortest-round-trip)."""
    from tensei_agent_spark.sources.biff import read_xls_rows
    from tensei_agent_spark.sources.excel import read_xlsx_rows

    def canon(rows):
        out = []
        for r in rows:
            vals = list(r)
            while vals and vals[-1] == "":
                vals.pop()
            canon_row = []
            for v in vals:
                try:
                    canon_row.append(float(v))
                except ValueError:
                    canon_row.append(v)
            out.append(canon_row)
        return out

    for name in ("divers", "empty"):
        xls = canon(read_xls_rows(f"{_REF_EXCEL}/{name}.xls"))
        xlsx = canon(read_xlsx_rows(f"{_REF_EXCEL}/{name}.xlsx"))
        assert xls == xlsx, f"{name}: BIFF8 grid diverges from OOXML twin"


@pytest.mark.skipif(
    not os.path.isdir(_REF_EXCEL), reason="reference fixture corpus not present"
)
def test_xls_reference_golden_cells():
    """Reference golden values for divers.xls
    (``ExcelToCSVConverterTest.scala:163-330``): 22 product rows; spot
    cells per column. Date cells render ISO (the converter's
    ``java.sql.Date.toString`` branch) and percent cells render scaled —
    the values the reference's DFASDL parse then types as LocalDate /
    BigDecimal (0.005-stored → 0.50 expected,
    ``ExcelToCSVConverterTest.scala:316-330``)."""
    from tensei_agent_spark.sources.biff import read_xls_rows

    rows = read_xls_rows(f"{_REF_EXCEL}/divers.xls")
    data = rows[1:]  # header row feeds the DFASDL header element
    # 22 sequence rows including the blank spacer rows (the parser
    # counts empty records too — GetSequenceRowCount == 22)
    assert len(data) == 22

    def col(i, j):
        r = data[i]
        return r[j] if j < len(r) else ""

    assert (col(0, 0), col(1, 0), col(3, 0), col(21, 0)) == (
        "Hans", "Dieter", "Klaus-Werner", "Mike Hannes",
    )
    assert (col(0, 1), col(1, 1), col(3, 1), col(21, 1)) == (
        "100.00", "1000.01", "100.03", "100.22",
    )
    assert col(0, 2) == "Paulstr. 2"
    assert col(1, 2) == "Augusten Straße 1"
    assert col(3, 2) == "Rostock; Körpeliner Str. 34 c"
    assert (col(0, 3), col(1, 3), col(3, 3)) == ("18055", "D-18055", "(F) 18055")

    # datum: date-formatted cells render ISO, exactly what the
    # reference test's LocalDate assertions require.
    assert col(0, 4) == "2017-01-01"
    assert col(1, 4) == "2017-02-01"
    assert col(2, 4) == "1999-03-31"
    assert [float(col(i, 5)) for i in (0, 1, 2, 21)] == [8.0, 12.0, -24.0, 50000.0]
    # prozent: stored fractions render ×100 with the format's decimals;
    # the DFASDL formatnum regex strips the trailing '%' downstream.
    assert col(0, 6) == "0.50%"      # → BigDecimal(0.50)
    assert col(1, 6) == "10.00%"     # → BigDecimal(10.00)
    assert col(2, 6) == "50.00%"     # → BigDecimal(50.00)
    assert col(21, 6) == "1000.00%"  # → BigDecimal(1000.00)


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/src/it/resources/usecases/copy/excel"),
    reason="reference fixture corpus not present",
)
def test_xls_source_end_to_end(spark):
    """Full legacy path: .xls → BIFF8 read → ~~~-staged CSV →
    distributed typed read (reference minimal.xls fixture)."""
    from tensei_agent_spark.sources import read_source

    spec = SourceSpec(
        "people", "excel",
        "/root/reference/src/it/resources/usecases/copy/excel/minimal.xls",
        (Field("name"), Field("firstname"), Field("age", "long"),
         Field("price", "decimal(10,2)")),
        options={"header": "true"},
    )
    rows = {r["name"]: r for r in read_source(spark, spec).collect()}
    assert rows["Mustermann"]["firstname"] == "Max"
    assert rows["Mustermann"]["age"] == 30
    assert str(rows["Musterfrau"]["price"]) == "222.21"
    assert rows["Musterkind"]["age"] == 5


def _write_xlsx(path, sheets):
    """Build a minimal OOXML workbook with the stdlib (the test-side
    inverse of sources/excel.py's stdlib reader). ``sheets`` is a list of
    (name, rows); string cells go inline, numbers stay numeric."""
    import zipfile

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

    def col(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org'
            '/package/2006/content-types">'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats'
            '-package.relationships+xml"/></Types>',
        )
        zf.writestr(
            "_rels/.rels",
            f'<Relationships xmlns="http://schemas.openxmlformats.org/package/2006'
            f'/relationships"><Relationship Id="rId1" Type="{rns}/officeDocument" '
            f'Target="xl/workbook.xml"/></Relationships>',
        )
        sheet_tags = "".join(
            f'<sheet name="{nm}" sheetId="{i+1}" r:id="rId{i+1}"/>'
            for i, (nm, _) in enumerate(sheets)
        )
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}" xmlns:r="{rns}"><sheets>{sheet_tags}'
            "</sheets></workbook>",
        )
        rels = "".join(
            f'<Relationship Id="rId{i+1}" Type="{rns}/worksheet" '
            f'Target="worksheets/sheet{i+1}.xml"/>'
            for i in range(len(sheets))
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006'
            f'/relationships">{rels}</Relationships>',
        )
        for i, (_, rows) in enumerate(sheets):
            body = []
            for rn, row in enumerate(rows, start=1):
                cells = []
                for ci, v in enumerate(row):
                    if v is None:
                        continue  # skipped cell — reader must pad
                    ref = f"{col(ci)}{rn}"
                    if isinstance(v, bool):
                        cells.append(
                            f'<c r="{ref}" t="b"><v>{1 if v else 0}</v></c>')
                    elif isinstance(v, (int, float)):
                        cells.append(f'<c r="{ref}"><v>{v}</v></c>')
                    else:
                        cells.append(
                            f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>')
                body.append(f'<row r="{rn}">{"".join(cells)}</row>')
            zf.writestr(
                f"xl/worksheets/sheet{i+1}.xml",
                f'<worksheet xmlns="{ns}"><sheetData>{"".join(body)}'
                "</sheetData></worksheet>",
            )


def test_xlsx_stdlib_reader(tmp_path):
    """The stdlib OOXML reader resolves inline strings, booleans,
    numerics (float-stored ints render as ints), skipped cells, and
    sheet selection by name and index."""
    from tensei_agent_spark.sources.excel import read_xlsx_rows

    wb = tmp_path / "wb.xlsx"
    _write_xlsx(
        str(wb),
        [
            ("data", [["id", "name", "flag"], [1, "alice", True],
                      [2.5, None, False]]),
            ("other", [["x"], [99]]),
        ],
    )
    rows = read_xlsx_rows(str(wb), sheet=0)
    assert rows == [
        ["id", "name", "flag"],
        ["1", "alice", "TRUE"],
        ["2.5", "", "FALSE"],
    ]
    assert read_xlsx_rows(str(wb), sheet="other") == [["x"], ["99"]]
    with pytest.raises(ValueError):
        read_xlsx_rows(str(wb), sheet="missing")


def test_excel_source_end_to_end(spark, tmp_path):
    """Full path: xlsx → ~~~-separated staging CSV (the reference's
    ExcelToCSVConverter shape) → distributed CSV read with typed fields."""
    from tensei_agent_spark.sources import read_source

    wb = tmp_path / "books.xlsx"
    _write_xlsx(
        str(wb),
        [("s1", [[1, "dune", 9.99], [2, "foundation", 7.5]])],
    )
    spec = SourceSpec(
        "books", "excel", str(wb),
        (Field("id", "long"), Field("title"), Field("price", "decimal(10,2)")),
    )
    rows = {r["id"]: r for r in read_source(spark, spec).collect()}
    assert rows[1]["title"] == "dune" and str(rows[1]["price"]) == "9.99"
    assert str(rows[2]["price"]) == "7.50"


def test_excel_staging_dir_removed_at_exit(tmp_path):
    """The staged CSV outlives excel_to_csv (Spark reads it lazily), but
    not the process: a process that reads a workbook and exits leaves
    no tensei_excel_* directory in its temp dir."""
    import subprocess
    import sys

    wb = tmp_path / "wb.xlsx"
    _write_xlsx(str(wb), [("s1", [[1, "dune"], [2, "emma"]])])
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    code = (
        "import os, sys\n"
        "from tensei_agent_spark.sources.excel import excel_to_csv\n"
        "staged = excel_to_csv(sys.argv[1])\n"
        "assert open(staged).read() == '1~~~dune\\n2~~~emma\\n'\n"
        "print(staged)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [sys.executable, "-c", code, str(wb)],
        cwd=repo,
        env={**os.environ, "TMPDIR": str(tmp)},
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert done.returncode == 0, done.stderr
    assert done.stdout.strip().startswith(str(tmp))
    assert list(tmp.glob("tensei_excel_*")) == []


def test_columnar_orc_roundtrip(spark, tmp_path):
    """ORC sink → ORC source round-trip with spec schema and options;
    parquet source reads through the same registry path."""
    from tensei_agent_spark.plans.spec import TargetSpec
    from tensei_agent_spark.sinks import write_target

    df = spark.createDataFrame(
        [(1, "ada", 10.5), (2, "alan", 7.25)], "id long, name string, bal double"
    )
    orc_uri = str(tmp_path / "out_orc")
    write_target(df, TargetSpec("t", "orc", orc_uri))
    spec = SourceSpec(
        "s", "orc", orc_uri,
        (Field("id", "long"), Field("name"), Field("bal", "double")),
    )
    rows = {r["id"]: r for r in read_source(spark, spec).collect()}
    assert rows[1]["name"] == "ada" and rows[2]["bal"] == 7.25

    pq_uri = str(tmp_path / "out_pq")
    df.write.parquet(pq_uri)
    pq = read_source(
        spark, SourceSpec("p", "parquet", pq_uri, (Field("id", "long"), Field("name")))
    )
    # spec-driven projection prunes to the two requested columns
    assert pq.columns == ["id", "name"] and pq.count() == 2

    with pytest.raises(NotImplementedError):
        read_source(spark, SourceSpec("a", "avro", pq_uri, None))


def test_orc_partitioned_write(spark, tmp_path):
    """partition_by lays out one directory per key value — the layout
    that gives partition pruning on read."""
    import os

    from tensei_agent_spark.plans.spec import TargetSpec
    from tensei_agent_spark.sinks import write_target

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "id long, grp string"
    )
    uri = str(tmp_path / "part_orc")
    write_target(df, TargetSpec("t", "orc", uri, options={"partition_by": ["grp"]}))
    assert sorted(
        d for d in os.listdir(uri) if d.startswith("grp=")
    ) == ["grp=a", "grp=b"]
    back = read_source(spark, SourceSpec("s", "orc", uri, None))
    assert back.filter("grp = 'a'").count() == 2


def test_struct_type_mapping():
    st = to_struct_type(
        (Field("a", "long"), Field("b", "decimal(12,2)"), Field("c", "date"))
    )
    assert [f.dataType.simpleString() for f in st.fields] == [
        "bigint", "decimal(12,2)", "date",
    ]


def test_csv_locale_decimal_separator(spark, tmp_path):
    """formatnum locale parity: German-style numbers (grouping '.',
    decimal ',') normalize JVM-side before the decimal cast."""
    p = tmp_path / "de.csv"
    p.write_text("widget;1.234,56\nbolt;7,5\nnut;999\n")
    from tensei_agent_spark.plans.spec import Field, SourceSpec
    from tensei_agent_spark.sources import read_source

    spec = SourceSpec(
        name="de",
        format="csv",
        uri=str(p),
        fields=(Field("name", "string"), Field("price", "decimal(10,2)")),
        options={"sep": ";", "decimalSeparator": ",", "groupingSeparator": "."},
    )
    rows = {r["name"]: str(r["price"]) for r in read_source(spark, spec).collect()}
    assert rows == {"widget": "1234.56", "bolt": "7.50", "nut": "999.00"}


def test_ref_field_copies_sibling_element(spark, tmp_path):
    """DFASDL `ref` elements (BaseParser.scala:285-312): a field that
    consumes no input and mirrors another element's value, with its own
    declared type. The CSV has exactly two physical columns."""
    p = tmp_path / "r.csv"
    p.write_text("1,42\n2,7\n")
    spec = SourceSpec(
        "s", "csv", str(p),
        (
            Field("id", "long"),
            Field("amount", "string"),
            Field("amount_num", "long", ref="amount"),
        ),
    )
    rows = {r["id"]: r for r in read_source(spark, spec).collect()}
    assert rows[1]["amount"] == "42" and rows[1]["amount_num"] == 42
    assert rows[2]["amount_num"] == 7


def test_vcard_multiline_grammar(spark, tmp_path):
    """Multi-line flat records (the reference's vCard parser fixtures):
    recordSep turns each card into one parse unit; field regexes match
    across the card's inner newlines."""
    p = tmp_path / "cards.vcf"
    p.write_text(
        "BEGIN:VCARD\nFN:Ada Lovelace\nTEL:+44-1\nEND:VCARD\n"
        "BEGIN:VCARD\nFN:Alan Turing\nTEL:+44-2\nEND:VCARD\n"
    )
    spec = SourceSpec(
        "cards", "text", str(p),
        (
            Field("full_name", "string", format=r"FN:([^\n]+)"),
            Field("tel", "string", format=r"TEL:([^\n]+)"),
        ),
        {"recordSep": "END:VCARD\n"},
    )
    rows = sorted(
        (r["full_name"], r["tel"]) for r in read_source(spark, spec).collect()
    )
    assert rows == [("Ada Lovelace", "+44-1"), ("Alan Turing", "+44-2")]


def test_csv_capture_corrupt_records(spark, tmp_path):
    """captureCorrupt keeps the raw line of grammar-breaking rows in
    _corrupt_record (the reference marks the branch BROKEN and logs the
    offset); clean rows carry NULL there."""
    p = tmp_path / "bad.csv"
    p.write_text("1,alice\nnot-a-number,bob\n3,carol\n")
    spec = SourceSpec(
        "s", "csv", str(p),
        (Field("id", "long"), Field("name")),
        {"captureCorrupt": True},
    )
    df = read_source(spark, spec).cache()
    good = df.filter("_corrupt_record IS NULL")
    bad = df.filter("_corrupt_record IS NOT NULL")
    assert sorted(r["id"] for r in good.collect()) == [1, 3]
    assert [r["_corrupt_record"] for r in bad.collect()] == ["not-a-number,bob"]


def test_xlsx_multiline_cell_and_empty_row(tmp_path, spark):
    """An Alt+Enter multi-line cell must survive conversion as ONE
    record (Excel-style quoting + multiLine read), and a workbook row
    omitted from sheetData (entirely empty) must stay a blank record so
    positions match the POI conversion."""
    import zipfile

    from tensei_agent_spark.sources import read_source
    from tensei_agent_spark.sources.excel import read_xlsx_rows

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    wb = tmp_path / "ml.xlsx"
    with zipfile.ZipFile(str(wb), "w") as zf:
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{ns}" xmlns:r="{rns}"><sheets>'
            f'<sheet name="s" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package'
            f'/2006/relationships"><Relationship Id="rId1" Type="{rns}/worksheet" '
            'Target="worksheets/sheet1.xml"/></Relationships>',
        )
        # row 1: id + multi-line note; row 2 omitted (empty); row 3: data
        zf.writestr(
            "xl/worksheets/sheet1.xml",
            f'<worksheet xmlns="{ns}"><sheetData>'
            '<row r="1"><c r="A1"><v>1</v></c>'
            '<c r="B1" t="inlineStr"><is><t>line1\nline2</t></is></c></row>'
            '<row r="3"><c r="A3"><v>3</v></c>'
            '<c r="B3" t="inlineStr"><is><t>plain</t></is></c></row>'
            "</sheetData></worksheet>",
        )
    rows = read_xlsx_rows(str(wb))
    assert rows[0] == ["1", "line1\nline2"]
    assert rows[1] == ["", ""]  # the omitted empty row is preserved
    assert rows[2] == ["3", "plain"]

    spec = SourceSpec(
        "ml", "excel", str(wb), (Field("id", "long"), Field("note"))
    )
    got = {r["id"]: r["note"] for r in read_source(spark, spec).collect()}
    assert got[1] == "line1\nline2" and got[3] == "plain"


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/src/it/resources/usecases/copy/excel"),
    reason="reference fixture corpus not present",
)
def test_excel_distributed_many_files(spark, tmp_path):
    """Distributed workbook ingest: N files → binaryFile + mapInPandas,
    one task per workbook, typed rows out — the 100 TB path for an
    Excel corpus (the staging converter is per-file driver work)."""
    import shutil as _sh

    src = "/root/reference/src/it/resources/usecases/copy/excel/minimal.xls"
    d = tmp_path / "books"
    d.mkdir()
    for i in range(3):
        _sh.copy(src, d / f"book{i}.xls")

    spec = SourceSpec(
        "people", "excel", str(d),
        (Field("name"), Field("firstname"), Field("age", "long"),
         Field("price", "double"), Field("birthdate", "date"),
         Field("birthtime")),
        options={"distributed": True, "header": "true"},
    )
    from tensei_agent_spark.sources import read_source

    df = read_source(spark, spec)
    rows = df.collect()
    assert len(rows) == 9  # 3 files × 3 data rows
    got = {(r["name"], r["age"], str(r["birthdate"]), r["birthtime"])
           for r in rows}
    assert ("Mustermann", 30, "1987-03-22", "12:30:22") in got
    assert ("Musterkind", 5, "2012-03-28", "23:01") in got
    # the format-aware rendering must match the staging converter's
    assert {str(r["price"]) for r in rows} == {"9.3", "222.21", "12.22"}
