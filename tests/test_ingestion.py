"""Ingestion-parity tests: FIXTURES.md F1-F6 recreated from scratch (the
reference's examples/ semantics, not its files) plus the README golden cases
G1-G3. Pins format sniffing, table naming, JSON union-of-keys widening,
nested/ragged handling, normalize mode, and compressor handling.
"""

from __future__ import annotations

import gzip
import json
import zipfile

import pytest

from localsql_spark.catalog import discover_files, tablename_from_file
from localsql_spark.engine import LocalSparkSQL
from localsql_spark.sources.readers import df_from_file, sniff_format


# -- fixture data (FIXTURES.md F1-F6) ---------------------------------------

F1_CSV = "id,b,c\n1,4,7\n2,5,8\n3,6,9\n"
F3_ONE_JSON = [{"id": 1, "b": 4}, {"id": 2, "c": 5}, {"id": 3, "d": 6}]
F4_LINES = [{"id": 1, "b": 4}, {"id": 2, "b": 5}, {"id": 3, "c": 6}]
F5_NESTED = [{"id": 1, "nest": {"a": 1, "b": [1, 2, 3]}},
             {"id": 2, "nest": 5},
             {"id": 3, "c": 6}]


def _write_xlsx(path, header, rows):
    """Minimal valid xlsx (zip of SpreadsheetML) via stdlib — inline strings
    for the header, numbers for data."""
    def cell(ref, v):
        if isinstance(v, str):
            return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'
        return f'<c r="{ref}"><v>{v}</v></c>'

    def row(idx, vals):
        cells = "".join(cell(f"{chr(65 + i)}{idx}", v)
                        for i, v in enumerate(vals))
        return f'<row r="{idx}">{cells}</row>'

    all_rows = [row(1, header)] + [row(i + 2, r) for i, r in enumerate(rows)]
    sheet = ('<?xml version="1.0"?><worksheet xmlns='
             '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
             f'<sheetData>{"".join(all_rows)}</sheetData></worksheet>')
    ct = ('<?xml version="1.0"?><Types xmlns='
          '"http://schemas.openxmlformats.org/package/2006/content-types">'
          '<Default Extension="xml" ContentType="application/xml"/>'
          '<Default Extension="rels" ContentType="application/vnd.'
          'openxmlformats-package.relationships+xml"/>'
          '<Override PartName="/xl/workbook.xml" ContentType="application/'
          'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
          '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="appli'
          'cation/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
          '</Types>')
    wb = ('<?xml version="1.0"?><workbook xmlns="http://schemas.openxml'
          'formats.org/spreadsheetml/2006/main"><sheets>'
          '<sheet name="Sheet1" sheetId="1" r:id="rId1" xmlns:r="http://'
          'schemas.openxmlformats.org/officeDocument/2006/relationships"/>'
          '</sheets></workbook>')
    rels = ('<?xml version="1.0"?><Relationships xmlns="http://schemas.open'
            'xmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId0" Type="http://schemas.openxmlformats.org/'
            'officeDocument/2006/relationships/officeDocument" '
            'Target="xl/workbook.xml"/></Relationships>')
    wbrels = ('<?xml version="1.0"?><Relationships xmlns="http://schemas.open'
              'xmlformats.org/package/2006/relationships">'
              '<Relationship Id="rId1" Type="http://schemas.openxmlformats.'
              'org/officeDocument/2006/relationships/worksheet" '
              'Target="worksheets/sheet1.xml"/></Relationships>')
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("_rels/.rels", rels)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", wbrels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


@pytest.fixture(scope="module")
def example_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("examples")
    (d / "csv.csv").write_text(F1_CSV)
    (d / "one.json").write_text(json.dumps(F3_ONE_JSON))
    (d / "lines.json").write_text(
        "\n".join(json.dumps(r) for r in F4_LINES))
    (d / "lines_nested.json").write_text(
        "\n".join(json.dumps(r) for r in F5_NESTED))
    with gzip.open(d / "lines_nested2.json.gz", "wt") as f:
        f.write("\n".join(json.dumps(r) for r in F5_NESTED))
    _write_xlsx(d / "excel.xlsx",
                ["id", "b", "c"],
                [[1, 6, 11], [2, 7, 12], [3, 8, 13], [4, 9, 14], [5, 10, 15]])
    return d


@pytest.fixture(scope="module")
def eng(spark, example_dir):
    e = LocalSparkSQL(spark)
    e.load_directory(example_dir, verbose=False)
    return e


# -- A8: table naming --------------------------------------------------------

@pytest.mark.parametrize("fname,expected", [
    ("csv.csv", "csv_csv"),
    ("2020-sales.csv", "t2020_sales_csv"),
    ("my file (1).json", "my_file_1_json"),
    ("lines_nested.json.gz", "lines_nested_json_gz"),
])
def test_tablename_from_file(fname, expected):
    assert tablename_from_file(fname) == expected


# -- A1: format sniffing -----------------------------------------------------

@pytest.mark.parametrize("fname,fmt,comp", [
    ("a.csv", "csv", None),
    ("a.json.gz", "json", "gz"),
    ("a.jsonl.bz2", "jsonl", "bz2"),
    ("a.csv.zip", "csv", "zip"),
    ("a.xlsx", "xlsx", None),
    ("a.unknown", None, None),
])
def test_sniff_format(fname, fmt, comp):
    assert sniff_format(fname) == (fmt, comp)


# -- A9: discovery -----------------------------------------------------------

def test_discover_files(example_dir):
    names = {p.name for p in discover_files(example_dir)}
    assert names == {"csv.csv", "one.json", "lines.json",
                     "lines_nested.json", "lines_nested2.json.gz",
                     "excel.xlsx"}


# -- F1-F6 load semantics ----------------------------------------------------

def test_f1_csv(eng):
    rows = eng.run_sql("SELECT * FROM csv_csv ORDER BY id").collect()
    assert [tuple(r) for r in rows] == [(1, 4, 7), (2, 5, 8), (3, 6, 9)]


def test_f2_excel(eng):
    rows = eng.run_sql("SELECT * FROM excel_xlsx ORDER BY id").collect()
    assert [tuple(r) for r in rows] == [
        (1, 6, 11), (2, 7, 12), (3, 8, 13), (4, 9, 14), (5, 10, 15)]


def test_f3_union_of_keys(eng):
    """JSON array-of-objects: union-of-keys widening, 3 rows -> 4 columns."""
    df = eng.tables["one_json"]
    assert sorted(df.columns) == ["b", "c", "d", "id"]
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["b"] == 4 and rows[1]["c"] is None
    assert rows[2]["c"] == 5 and rows[2]["d"] is None
    assert rows[3]["d"] == 6


def test_f4_jsonl(eng):
    df = eng.tables["lines_json"]
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["b"] == 4 and rows[2]["b"] == 5 and rows[2]["c"] is None
    assert rows[3]["c"] == 6


def test_f5_ragged_nested(eng):
    """Object-on-row-1 / scalar-on-row-2 field: Spark reads `nest` as string
    (matching the reference's stringified behavior for ragged types)."""
    df = eng.tables["lines_nested_json"]
    rows = {r["id"]: r for r in df.collect()}
    assert rows[2]["nest"] == "5"
    assert "a" in rows[1]["nest"] and rows[3]["nest"] is None


def test_f6_gz(eng):
    """Compressor sniffing: .json.gz streams through the native reader."""
    a = eng.tables["lines_nested_json"].drop("_corrupt_record", "c").collect()
    b = eng.tables["lines_nested2_json_gz"].drop("_corrupt_record", "c").collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_normalize_mode(spark, example_dir):
    """-jn: consistent nested objects flatten to dotted columns."""
    p = example_dir / "consistent_nested.json"
    p.write_text("\n".join(json.dumps(
        {"id": i, "nest": {"a": i * 10, "b": [i]}}) for i in (1, 2)))
    df = df_from_file(spark, p, json_normalize=True)
    assert "nest.a" in df.columns
    got = {r["id"]: r["nest.a"] for r in df.collect()}
    assert got == {1: 10, 2: 20}


# -- README goldens G2/G3 ----------------------------------------------------

def test_g2_left_join_null_extension(eng):
    rows = eng.run_sql(
        "SELECT e.id, j.id AS jid FROM excel_xlsx e "
        "LEFT JOIN one_json j ON e.id = j.id ORDER BY e.id").collect()
    assert [(r["id"], r["jid"]) for r in rows] == [
        (1, 1), (2, 2), (3, 3), (4, None), (5, None)]


def test_g3_groupby_nulls_last(eng):
    rows = eng.run_sql(
        "SELECT c, count(*) AS cnt FROM one_json "
        "GROUP BY c ORDER BY 1 ASC NULLS LAST").collect()
    assert [(r["c"], r["cnt"]) for r in rows] == [(5, 1), (None, 2)]


def test_xlsx_datasource_distributed(spark, example_dir, tmp_path):
    """spark.read.format('xlsx'): one partition per workbook, same rows as
    the driver-side reader, directory scan works."""
    from localsql_spark.sources.xlsx_datasource import register
    register(spark)

    df = spark.read.format("xlsx").load(str(example_dir / "excel.xlsx"))
    assert [tuple(r) for r in df.orderBy("id").collect()] == [
        (1, 6, 11), (2, 7, 12), (3, 8, 13), (4, 9, 14), (5, 10, 15)]

    # directory of two workbooks -> two partitions, union of rows
    d = tmp_path / "books"
    d.mkdir()
    import shutil
    shutil.copy(example_dir / "excel.xlsx", d / "a.xlsx")
    shutil.copy(example_dir / "excel.xlsx", d / "b.xlsx")
    many = spark.read.format("xlsx").load(str(d))
    assert many.count() == 10
    assert many.rdd.getNumPartitions() == 2


def test_zip_skips_directory_and_metadata_entries(spark, tmp_path):
    """Real-world zips lead with folder prefixes and __MACOSX metadata; the
    reader must pick the first actual data member (ADVICE r1)."""
    target = tmp_path / "data.csv.zip"
    with zipfile.ZipFile(target, "w") as z:
        z.writestr("folder/", "")                       # directory entry
        z.writestr("__MACOSX/._data.csv", "junk")       # macOS metadata
        z.writestr("folder/.DS_Store", "junk")          # hidden file
        z.writestr("folder/data.csv", F1_CSV)           # the real payload
    df = df_from_file(spark, target)
    assert df.count() == 3
    assert df.columns == ["id", "b", "c"]


def test_gz_parquet_decompresses_driver_side(spark, tmp_path):
    """parquet is a binary format — .parquet.gz cannot stream through the
    text codec path and must decompress driver-side (ADVICE r1)."""
    plain = tmp_path / "t.parquet"
    spark.range(0, 10).toDF("n").coalesce(1).write.parquet(str(tmp_path / "pq"))
    import shutil as _sh
    part = next((tmp_path / "pq").glob("part-*.parquet"))
    _sh.copy(part, plain)
    gz = tmp_path / "t.parquet.gz"
    with open(plain, "rb") as fin, gzip.open(gz, "wb") as fout:
        fout.write(fin.read())
    df = df_from_file(spark, gz)
    assert df.count() == 10
    assert sorted(r["n"] for r in df.collect()) == list(range(10))


def test_register_directory_uniquifies_name_collisions(spark, tmp_path):
    """Distinct files normalizing to the same identifier must BOTH survive
    registration, not silently overwrite (ADVICE r1)."""
    from localsql_spark.catalog import register_directory

    (tmp_path / "report#1.csv").write_text("a\n1\n")
    (tmp_path / "report$1.csv").write_text("b\n2\n")
    tables = register_directory(spark, tmp_path, verbose=False)
    assert sorted(tables) == ["report_1_csv", "report_1_csv_2"]
    cols = {name: df.columns for name, df in tables.items()}
    assert sorted(cols.values()) == [["a"], ["b"]]


def test_orc_roundtrip(spark, tmp_path):
    """ORC is a first-class source/sink alongside parquet: export a result
    to .orc, sniff + read it back via the normal ingestion path."""
    from localsql_spark.sinks.writers import export_result

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    out = str(tmp_path / "t.orc")
    export_result(df, out)
    assert sniff_format(out) == ("orc", None)
    back = df_from_file(spark, out)
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b")]


def _write_xlsx_custom(path, sheet_files, first_rid_target, shared_si=None):
    """Workbook with explicit workbook.xml ordering (and optional raw
    sharedStrings <si> xml) for reader edge cases."""
    m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    r = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    ct = ('<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats'
          '.org/package/2006/content-types">'
          '<Default Extension="xml" ContentType="application/xml"/>'
          '<Default Extension="rels" ContentType="application/vnd.'
          'openxmlformats-package.relationships+xml"/></Types>')
    wb = (f'<?xml version="1.0"?><workbook xmlns="{m}" xmlns:r="{r}">'
          f'<sheets><sheet name="Front" sheetId="1" r:id="rId1"/></sheets>'
          '</workbook>')
    rel_ns = "http://schemas.openxmlformats.org/package/2006/relationships"
    wbrels = (f'<?xml version="1.0"?><Relationships xmlns="{rel_ns}">'
              f'<Relationship Id="rId1" Type="{r}/worksheet" '
              f'Target="{first_rid_target}"/></Relationships>')
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", ct)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", wbrels)
        if shared_si is not None:
            z.writestr("xl/sharedStrings.xml",
                       f'<?xml version="1.0"?><sst xmlns="{m}">'
                       f'{shared_si}</sst>')
        for name, body in sheet_files.items():
            z.writestr(name, body)


def _sheet_xml(header, value):
    m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    return (f'<?xml version="1.0"?><worksheet xmlns="{m}"><sheetData>'
            f'<row r="1"><c r="A1" t="inlineStr"><is><t>{header}</t></is></c></row>'
            f'<row r="2"><c r="A2"><v>{value}</v></c></row>'
            '</sheetData></worksheet>')


def test_xlsx_first_sheet_follows_workbook_order(spark, tmp_path):
    """Display order comes from xl/workbook.xml, not worksheet file names: a
    workbook whose front sheet is stored as sheet2.xml must read sheet2."""
    from localsql_spark.sources.readers import _read_xlsx_stdlib

    f = tmp_path / "reordered.xlsx"
    _write_xlsx_custom(
        f,
        {"xl/worksheets/sheet1.xml": _sheet_xml("wrong", 111),
         "xl/worksheets/sheet2.xml": _sheet_xml("right", 222)},
        first_rid_target="worksheets/sheet2.xml")
    pdf = _read_xlsx_stdlib(f)
    assert list(pdf.columns) == ["right"]
    assert pdf.iloc[0, 0] == 222


def test_xlsx_shared_strings_skip_phonetic_runs(spark, tmp_path):
    """<rPh> phonetic (furigana) runs must not be concatenated into cell
    text — openpyxl excludes them too."""
    from localsql_spark.sources.readers import _read_xlsx_stdlib

    m = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    si = ('<si><t>Tokyo</t><rPh sb="0" eb="2"><t>TOUKYOU</t></rPh>'
          '<phoneticPr fontId="1"/></si>')
    sheet = (f'<?xml version="1.0"?><worksheet xmlns="{m}"><sheetData>'
             '<row r="1"><c r="A1" t="inlineStr"><is><t>city</t></is></c></row>'
             '<row r="2"><c r="A2" t="s"><v>0</v></c></row>'
             '</sheetData></worksheet>')
    f = tmp_path / "phonetic.xlsx"
    _write_xlsx_custom(f, {"xl/worksheets/sheet1.xml": sheet},
                       first_rid_target="worksheets/sheet1.xml",
                       shared_si=si)
    pdf = _read_xlsx_stdlib(f)
    assert pdf.iloc[0, 0] == "Tokyo"


def test_xlsx_datasource_glob_in_directory_segment(spark, tmp_path, example_dir):
    """A wildcard in a DIRECTORY segment must expand ('/data/*/book.xlsx')."""
    import shutil
    from localsql_spark.sources.xlsx_datasource import _expand

    for sub in ("a", "b"):
        (tmp_path / sub).mkdir()
        shutil.copy(example_dir / "excel.xlsx", tmp_path / sub / "book.xlsx")
    got = _expand(str(tmp_path / "*" / "book.xlsx"))
    assert len(got) == 2


def test_text_lines_reader_numbers_lines_in_order(spark, tmp_path):
    import gzip

    f = tmp_path / "corpus.txt"
    lines = [f"line {i} payload" for i in range(50)]
    f.write_text("\n".join(lines) + "\n")
    from localsql_spark.sources.readers import df_from_file

    got = df_from_file(spark, f).orderBy("line_no").collect()
    assert [r["value"] for r in got] == lines
    assert [r["line_no"] for r in got] == list(range(1, 51))
    assert all(r["file"].endswith("corpus.txt") for r in got)
    # gz streams through the same text source
    gz = tmp_path / "corpus.txt.gz"
    gz.write_bytes(gzip.compress(("\n".join(lines) + "\n").encode()))
    got_gz = df_from_file(spark, gz).orderBy("line_no").collect()
    assert [r["value"] for r in got_gz] == lines


def test_binary_files_reader_reads_content(spark, tmp_path):
    blobs = {f"img_{i}.bin": bytes([i]) * (10 + i) for i in range(4)}
    for name, data in blobs.items():
        (tmp_path / name).write_bytes(data)
    (tmp_path / "skip.txt").write_text("not a blob")
    from localsql_spark.sources.readers import read_binary_files

    rows = read_binary_files(spark, tmp_path, glob="*.bin").collect()
    assert len(rows) == 4
    by_name = {r["path"].rsplit("/", 1)[-1]: r for r in rows}
    for name, data in blobs.items():
        assert bytes(by_name[name]["content"]) == data
        assert by_name[name]["length"] == len(data)


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Files written at different pipeline versions (columns added over
    time) must union under mergeSchema with NULL back-fill — the schema-
    evolution contract a long-lived ingestion directory depends on."""
    spark.createDataFrame([(1, "a")], "id long, name string")\
        .write.parquet(str(tmp_path / "t" / "v1"))
    spark.createDataFrame([(2, "b", 9.5)], "id long, name string, score double")\
        .write.parquet(str(tmp_path / "t" / "v2"))
    df = (spark.read.option("mergeSchema", "true")
          .option("recursiveFileLookup", "true").parquet(str(tmp_path / "t")))
    rows = {r["id"]: r for r in df.collect()}
    assert set(df.columns) == {"id", "name", "score"}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5


def test_partially_corrupt_jsonl_raises_instead_of_one_row(spark, tmp_path):
    """A JSONL file with SOME bad lines must not take the multiLine
    fallback — Spark's multiLine mode parses ONE record per file, so a
    million-line file with one bad line silently collapsed to a single
    row (code-review r9).  Pure array/object docs still fall back."""
    from localsql_spark.sources.readers import read_json

    f = tmp_path / "mixed.json"
    f.write_text('{"a": 1}\nnot json at all\n{"a": 3}\n')
    with pytest.raises(Exception, match="malformed JSONL"):
        read_json(spark, f).collect()
    # the fallback still serves pretty-printed array documents
    g = tmp_path / "arr.json"
    g.write_text('[\n  {"a": 1},\n  {"a": 2}\n]\n')
    assert read_json(spark, g).count() == 2
    # '['-leading JSONL (array-per-line, Spark-legal) with one corrupt
    # line must RAISE too, not collapse to the first record — first_char
    # alone misses it (advisor r9)
    h = tmp_path / "arrlines.json"
    h.write_text('[{"a": 1}, {"a": 2}]\n[{"a": 3}\n[{"a": 4}]\n')
    with pytest.raises(Exception, match="malformed JSONL"):
        read_json(spark, h).collect()
    # ...and JSONL whose FIRST line is blank (multiLine would silently
    # collapse it to the first record)
    j = tmp_path / "blankfirst.json"
    j.write_text('\n{"a": 1}\nnot json\n{"a": 2}\n')
    with pytest.raises(Exception, match="malformed JSONL"):
        read_json(spark, j).collect()
    # ...and so must JSONL whose FIRST line is the corrupt one
    i = tmp_path / "badfirst.json"
    i.write_text('not json at all\n{"a": 1}\n{"a": 2}\n')
    with pytest.raises(Exception, match="malformed JSONL"):
        read_json(spark, i).collect()


def test_xlsx_error_date_and_empty_cells_do_not_abort(tmp_path):
    """Error cells (#DIV/0!), ISO-date cells, and empty <v/> must read as
    missing / literal strings, not crash float() on the whole file
    (code-review r9)."""
    import zipfile

    from localsql_spark.sources.readers import _read_xlsx_stdlib

    # hand-build a sheet with the hazardous cell types in the data row
    src = tmp_path / "plain.xlsx"
    _write_xlsx(src, ["a", "b", "c", "d"], [[1, 2, 3, 4]])
    hazard = (
        '<row r="3">'
        '<c r="A3" t="e"><v>#DIV/0!</v></c>'
        '<c r="B3" t="d"><v>2024-01-02T00:00:00</v></c>'
        '<c r="C3"><v/></c>'
        '<c r="D3"><v>7</v></c>'
        '</row>')
    out = tmp_path / "hazard.xlsx"
    with zipfile.ZipFile(src) as zin, \
            zipfile.ZipFile(out, "w") as zout:
        for item in zin.namelist():
            data = zin.read(item)
            if item == "xl/worksheets/sheet1.xml":
                data = data.replace(b"</sheetData>",
                                    hazard.encode() + b"</sheetData>")
            zout.writestr(item, data)
    pdf = _read_xlsx_stdlib(out)
    assert len(pdf) == 2
    row = pdf.iloc[1]
    assert row["a"] is None or row["a"] != row["a"]  # error cell -> missing
    assert row["b"] == "2024-01-02T00:00:00"
    assert row["c"] is None or row["c"] != row["c"]
    assert row["d"] == 7


def test_directory_load_does_not_shadow_earlier_tables(spark, tmp_path):
    """A directory load after load_file (or a second directory) must
    uniquify against the LIVE catalog instead of silently replacing the
    earlier table's view (code-review r9)."""
    from localsql_spark.engine import LocalSparkSQL

    (tmp_path / "a").mkdir()
    (tmp_path / "b").mkdir()
    (tmp_path / "a" / "report.csv").write_text("x\n1\n")
    (tmp_path / "b" / "report.csv").write_text("x\n2\n")
    eng = LocalSparkSQL(spark)
    eng.load_file(tmp_path / "a" / "report.csv")
    eng.load_directory(tmp_path / "b", verbose=False)
    assert {"report_csv", "report_csv_2"} <= set(eng.tables)
    assert spark.sql("SELECT x FROM report_csv").collect()[0][0] == 1
    assert spark.sql("SELECT x FROM report_csv_2").collect()[0][0] == 2


def test_json_normalize_escapes_backtick_keys(spark, tmp_path):
    """A JSON key containing a backtick must flatten instead of raising
    an invalid-identifier parse error (code-review r9)."""
    from localsql_spark.sources.readers import df_from_file

    f = tmp_path / "bt.json"
    f.write_text('{"a`b": 1, "nest": {"c": 2}}\n')
    df = df_from_file(spark, f, json_normalize=True)
    row = df.collect()[0]
    assert row["a`b"] == 1 and row["nest.c"] == 2


def test_xml_source_and_sink_roundtrip(spark, tmp_path):
    """XML extension (Spark 4 native xml source/sink): sniffed, engine-
    registered, roundtrips through export_result; gz variant streams."""
    from localsql_spark.engine import LocalSparkSQL
    from localsql_spark.sinks.writers import export_result
    from localsql_spark.sources.readers import (df_from_file, read_xml,
                                                sniff_format)

    assert sniff_format("a/b/data.xml") == ("xml", None)
    assert sniff_format("data.xml.gz") == ("xml", "gz")

    xml = tmp_path / "people.xml"
    xml.write_text(
        "<rows>"
        "<row><id>1</id><name>ada</name></row>"
        "<row><id>2</id><name>bob &amp; co</name></row>"
        "</rows>")
    df = df_from_file(spark, xml)
    got = sorted((r.id, r.name) for r in df.collect())
    assert got == [(1, "ada"), (2, "bob & co")]

    eng = LocalSparkSQL(spark)
    eng.load_directory(str(tmp_path), verbose=False)
    rows = eng.run_sql(
        "SELECT id, name FROM people_xml ORDER BY id").collect()
    assert [tuple(r) for r in rows] == [(1, "ada"), (2, "bob & co")]

    out = str(tmp_path / "exported.xml")
    export_result(df, out)
    back = sorted((r.id, r.name)
                  for r in read_xml(spark, out).collect())
    assert back == got


def test_register_directory_overlapped_reads_keep_sequential_naming(
        spark, tmp_path, capsys):
    """Reads run concurrently, but names, printed lines and their order
    are those of a load that reads one file after another: a file that
    fails to read (corrupt JSONL) takes no name, so the next colliding
    file gets the suffix the failed one would have had."""
    from localsql_spark.catalog import register_directory

    (tmp_path / "c#1.csv").write_text("a\n1\n")
    (tmp_path / "c$1.csv").write_text("b\n2\n")
    (tmp_path / "r#1.jsonl").write_text('{"x": 1}\n')
    (tmp_path / "r$1.jsonl").write_text('{"y": 1}\n{"y": 2\n')  # corrupt
    (tmp_path / "r%1.jsonl").write_text('{"z": 1}\n')
    tables = register_directory(spark, tmp_path, verbose=True)
    out, err = capsys.readouterr()

    assert {n: df.columns for n, df in tables.items()} == {
        "c_1_csv": ["a"], "c_1_csv_2": ["b"],
        "r_1_jsonl": ["x"], "r_1_jsonl_2": ["z"]}
    d = tmp_path
    assert out.splitlines() == [
        f"{d}/c#1.csv -> table 'c_1_csv' columns=1",
        f"{d}/c$1.csv: table name 'c_1_csv' taken -> 'c_1_csv_2'",
        f"{d}/c$1.csv -> table 'c_1_csv_2' columns=1",
        f"{d}/r#1.jsonl -> table 'r_1_jsonl' columns=1",
        f"{d}/r$1.jsonl: table name 'r_1_jsonl' taken -> 'r_1_jsonl_2'",
        f"{d}/r%1.jsonl: table name 'r_1_jsonl' taken -> 'r_1_jsonl_2'",
        f"{d}/r%1.jsonl -> table 'r_1_jsonl_2' columns=1"]
    bad = [line for line in err.splitlines() if line.startswith(str(d))]
    assert len(bad) == 1
    assert bad[0].startswith(f"{d}/r$1.jsonl: ")
    assert "malformed JSONL" in bad[0]


def test_td_rows_exact_below_and_above_the_sample(spark):
    """\\td counts a table under 1000 rows by its sample and a larger one
    with count(); both give exact Rows, and Bytes is count x the average
    sampled row width."""
    from localsql_spark.catalog import tables_descr

    small = spark.createDataFrame([(i, f"s{i}") for i in range(3)],
                                  "id long, s string")
    big = spark.range(1500).selectExpr("id", "id * 2 AS twice")
    got = {r["Table"]: tuple(r) for r in
           tables_descr(spark, {"small": small, "big": big}).collect()}

    def expect(name, df):
        count = df.count()
        sample = df.limit(1000).collect()
        avg = sum(len(str(r)) for r in sample) / len(sample)
        return (name, count, len(df.columns), int(count * avg))

    assert got == {"small": expect("small", small), "big": expect("big", big)}
    assert got["small"][1] == 3 and got["big"][1] == 1500


def test_td_on_empty_catalog(spark):
    from localsql_spark.catalog import tables_descr

    df = tables_descr(spark, {})
    assert df.collect() == []
    assert df.schema.simpleString() == (
        "struct<Table:string,Rows:bigint,Columns:bigint,Bytes:bigint>")


def test_decompressed_copy_reused_per_file_version(spark, tmp_path):
    """Loading the same .csv.zip twice reuses one temp copy; a touched file
    (new mtime) gets a new one."""
    import os

    from localsql_spark.sources import readers

    zp = tmp_path / "t.csv.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("t.csv", "a,b\n1,2\n3,4\n")

    def copies():
        return [v for k, v in readers._TEMPFILES.items()
                if k[0] == str(zp.resolve())]

    assert df_from_file(spark, zp).count() == 2
    assert df_from_file(spark, zp).count() == 2
    assert len(copies()) == 1
    st = zp.stat()
    os.utime(zp, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert df_from_file(spark, zp).count() == 2
    assert len(set(copies())) == 2


def test_concurrent_decompression_shares_one_copy(tmp_path):
    """Concurrent loads of one .csv.zip (a directory load reads its files
    from several threads) make one temp copy between them."""
    import sys
    import threading

    from localsql_spark.sources import readers

    zp = tmp_path / "c.csv.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("c.csv", "a\n" + "1\n" * 200000)
    got, errors = [], []

    def load():
        try:
            got.append(readers._decompress_to_temp(zp, "zip"))
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=load) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(got) == 16 and len(set(got)) == 1
    assert len({v for k, v in readers._TEMPFILES.items()
                if k[0] == str(zp.resolve())}) == 1
