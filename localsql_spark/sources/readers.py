"""File-format readers: csv / json (lines-first) / excel / parquet, with
compressor sniffing.

Capability parity with the reference's ingestion layer
(reference: localsql/localsql.py:78-145):

- format sniffing on the last extension, or second-to-last when the last is a
  compressor among gz/bz2/zip/xz (reference: localsql/localsql.py:91-97)
- CSV with header + inferred schema (reference: localsql/localsql.py:103)
- JSON lines-first with fallback to array-of-objects (multiLine)
  (reference: localsql/localsql.py:108-111)
- Excel first-sheet via driver-side pandas/openpyxl
  (reference: localsql/localsql.py:105) — Excel files are inherently small
  and driver-local, so a driver-side read + createDataFrame is the right
  Spark shape; everything else streams through executor-side readers.
- nested JSON stays native StructType/ArrayType (a deliberate fidelity
  improvement over the reference's stringify hack at
  localsql/localsql.py:72-76); ``json_normalize=True`` gives the flattened
  dotted-column view (reference: localsql/localsql.py:126-135).

Scale note: csv/json/parquet go through ``spark.read`` so they inherit
splittable scans, predicate pushdown, and column pruning; zip/xz are not
splittable codecs in Spark, so those decompress driver-side (same as the
reference) — documented as the small-file path.
"""

from __future__ import annotations

import bz2
import gzip
import lzma
import tempfile
import threading
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

SUPPORTED_EXTS = ("csv", "tsv", "xlsx", "json", "jsonl", "ndjson", "parquet",
                  "orc", "txt", "xml")
COMPRESSORS = ("gz", "bz2", "zip", "xz")  # reference: localsql/localsql.py:91


def sniff_format(file: str | Path) -> tuple[str | None, str | None]:
    """Return (format, compressor) from extensions
    (reference: localsql/localsql.py:78-100)."""
    suffixes = [s.lstrip(".").lower() for s in Path(file).suffixes]
    if not suffixes:
        return None, None
    if suffixes[-1] in COMPRESSORS:
        comp = suffixes[-1]
        fmt = suffixes[-2] if len(suffixes) >= 2 and suffixes[-2] in SUPPORTED_EXTS else None
        return fmt, comp
    fmt = suffixes[-1] if suffixes[-1] in SUPPORTED_EXTS else None
    return fmt, None


# (resolved path, st_size, st_mtime_ns) -> decompressed temp copy
_TEMPFILES: dict[tuple[str, int, int], str] = {}
_TEMPFILES_LOCK = threading.Lock()


def _cleanup_tempfiles() -> None:
    import os

    for f in _TEMPFILES.values():
        try:
            os.unlink(f)
        except OSError:
            pass


import atexit  # noqa: E402

atexit.register(_cleanup_tempfiles)


def _decompress_to_temp(file: Path, comp: str) -> Path:
    """Driver-side decompression for codecs Spark can't stream (zip/xz).
    Spark reads lazily, so the temp file must outlive this call; it is
    removed at interpreter exit.  One copy serves every load of the same
    file version (path, size and mtime); the lock makes concurrent loads
    of one file share it rather than race."""
    st = file.stat()
    key = (str(file.resolve()), st.st_size, st.st_mtime_ns)
    with _TEMPFILES_LOCK:
        cached = _TEMPFILES.get(key)
        if cached is not None and Path(cached).exists():
            return Path(cached)
        tmp_path = _decompress(file, comp)
        _TEMPFILES[key] = tmp_path
        return Path(tmp_path)


def _decompress(file: Path, comp: str) -> str:
    openers = {"gz": gzip.open, "bz2": bz2.open, "xz": lzma.open}
    suffix = "".join(Path(file).suffixes[:-1]) or ".dat"
    tmp = tempfile.NamedTemporaryFile(suffix=suffix, delete=False)
    if comp == "zip":
        with zipfile.ZipFile(file) as z:
            # real-world zips lead with directory entries or macOS metadata
            # (__MACOSX/, .DS_Store) — pick the first actual data member
            inner = next(
                (i.filename for i in z.infolist()
                 if not i.is_dir()
                 and not i.filename.startswith("__MACOSX")
                 and not Path(i.filename).name.startswith(".")),
                None)
            if inner is None:
                raise ValueError(f"no data member found in {file}")
            tmp.write(z.read(inner))
    else:
        with openers[comp](file, "rb") as f:
            tmp.write(f.read())
    tmp.close()
    return tmp.name


def read_csv(spark: SparkSession, path: str | Path, sep: str = ",") -> DataFrame:
    return (spark.read
            .option("header", True)
            .option("inferSchema", True)
            .option("sep", sep)
            .csv(str(path)))


# ambiguous-JSONL validation reads the whole file to the driver; refuse
# above this on-disk size (decoded content is larger still for gz/bz2)
_JSON_VALIDATE_CAP_BYTES = 64 * 1024 * 1024


def read_json(spark: SparkSession, path: str | Path) -> DataFrame:
    """JSONL first, fall back to a whole-file JSON array/object
    (reference: localsql/localsql.py:108-111).

    The fallback fires only when NOTHING parsed line-wise (the file is a
    pretty-printed array/object — _corrupt_record is the ONLY inferred
    column).  A PARTIALLY corrupt JSONL file (some lines parsed, some
    not) must not take the multiLine path: Spark's multiLine mode parses
    ONE record per file, so a million-line file with one bad line would
    silently collapse to a single row; it raises instead, matching the
    reference's per-file failure (pandas read_json raises on it too) so
    the catalog's per-file error isolation reports it."""
    df = spark.read.json(str(path))
    if "_corrupt_record" in df.columns:
        # whole-file documents take the multiLine fallback: an ARRAY file
        # starts with '[' (some of its element lines can incidentally
        # parse line-wise, so a parsed-count test alone misclassifies
        # it), and a pretty-printed OBJECT parses no line at all.  A
        # '{'-leading file where SOME lines parsed is JSONL with corrupt
        # lines and must RAISE: Spark's multiLine mode parses one record
        # per file, so the old unconditional fallback silently collapsed
        # a million-line file with one bad line to a single row.
        head = spark.read.text(str(path)).limit(1).collect()
        first_char = head[0][0].lstrip()[:1] if head and head[0][0] else ""
        line_parsed = df.columns != ["_corrupt_record"]
        if first_char == "{" and line_parsed:
            raise ValueError(
                f"{path}: malformed JSONL — some lines parsed and some "
                f"did not; refusing to guess (fix or remove the corrupt "
                f"lines)")
        if line_parsed:
            # ambiguous: a genuine pretty-printed array lands here (its
            # last element line parses), but so does partially-corrupt
            # JSONL whose first line is a '['-array / blank / corrupt
            # (advisor r9).  Spark's multiLine parser accepts the FIRST
            # document and ignores trailing bytes, so it would silently
            # collapse the latter to one record — validate driver-side
            # that ONE JSON document spans the whole file (json.loads
            # rejects trailing content).  The collect is codec-aware via
            # spark.read.text and costs the same order as multiLine's
            # one-record whole-file read, and only ambiguous files pay it.
            import json as _json
            # size cap (advisor r10): the collect holds ~2-3x the
            # DECODED file in driver memory (Row objects + joined str),
            # so a misnamed multi-GB file could OOM the driver that the
            # executor-side multiLine parse survives.  Above the cap,
            # skip validation with a warning and let multiLine decide —
            # the reference-parity ingestion path targets laptop-sized
            # files, and an over-cap ambiguous file is already suspect.
            # (st_size is the ON-DISK size: for gz/bz2 that undercounts
            # the decoded bytes, which is why the cap is conservative.)
            try:
                on_disk = Path(path).stat().st_size
            except OSError:
                on_disk = 0
            if on_disk > _JSON_VALIDATE_CAP_BYTES:
                import warnings
                warnings.warn(
                    f"{path}: ambiguous JSON layout in a "
                    f"{on_disk}-byte file — skipping the driver-side "
                    f"single-document validation (cap "
                    f"{_JSON_VALIDATE_CAP_BYTES} bytes) and taking the "
                    f"whole-file JSON fallback; a partially-corrupt "
                    f"JSONL file this large may silently collapse to "
                    f"one record", RuntimeWarning)
            else:
                full = "\n".join(r[0] for r in
                                 spark.read.text(str(path)).collect())
                try:
                    _json.loads(full)
                except ValueError:
                    raise ValueError(
                        f"{path}: malformed JSONL — some lines parsed "
                        f"and some did not, and the file is not a "
                        f"single JSON document; refusing to guess (fix "
                        f"or remove the corrupt lines)") from None
        # whole-file JSON array/object (reference fallback:
        # localsql.py:111)
        return spark.read.option("multiLine", True).json(str(path))
    return df


def _read_xlsx_stdlib(path: str | Path):
    """Minimal first-sheet xlsx reader (zipfile + xml.etree) used when
    openpyxl is absent.  xlsx is a zip of SpreadsheetML XML: shared strings in
    xl/sharedStrings.xml, the first worksheet in xl/worksheets/sheet1.xml.
    Covers the reference's use-case (small, flat, header-row sheets,
    reference: localsql/localsql.py:105); not a general Excel engine.
    """
    import re
    import xml.etree.ElementTree as ET

    import pandas as pd

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    m_uri = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"

    def _first_sheet_target(z: zipfile.ZipFile) -> str | None:
        """Workbook DISPLAY order lives in xl/workbook.xml (+ its rels), not
        in the worksheet file names — a sheet created second but dragged to
        the front is sheet2.xml yet first in the workbook."""
        try:
            wb = ET.fromstring(z.read("xl/workbook.xml"))
            sheets = wb.find("m:sheets", ns)
            first = sheets.findall("m:sheet", ns)[0]
            rid = first.get("{http://schemas.openxmlformats.org/"
                            "officeDocument/2006/relationships}id")
            rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
            rel_ns = "{http://schemas.openxmlformats.org/package/2006/relationships}"
            for rel in rels.iter(rel_ns + "Relationship"):
                if rel.get("Id") == rid:
                    target = rel.get("Target")
                    target = target.lstrip("/")
                    if not target.startswith("xl/"):
                        target = "xl/" + target
                    return target if target in z.namelist() else None
        except (KeyError, ET.ParseError, IndexError, AttributeError):
            return None
        return None

    with zipfile.ZipFile(path) as z:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in root.findall("m:si", ns):
                # drop rPh subtrees before collecting text runs
                for rph in si.findall(f"{m_uri}rPh"):
                    si.remove(rph)
                shared.append("".join(t.text or ""
                                      for t in si.iter(m_uri + "t")))
        first = _first_sheet_target(z)
        if first is None:
            sheet_names = sorted(n for n in z.namelist()
                                 if re.fullmatch(r"xl/worksheets/sheet\d+\.xml", n))
            if not sheet_names:
                raise ValueError(f"no worksheet found in {path}")
            first = sheet_names[0]
        root = ET.fromstring(z.read(first))
        rows: list[dict[int, object]] = []
        for row in root.iter("{http://schemas.openxmlformats.org/spreadsheetml/2006/main}row"):
            cells: dict[int, object] = {}
            next_col = 1  # cells without r= are position-implied (legal)
            for c in row:
                ref = c.get("r", "")
                col_idx = 0
                for ch in ref:
                    if ch.isalpha():
                        col_idx = col_idx * 26 + (ord(ch.upper()) - 64)
                    else:
                        break
                if col_idx == 0:
                    col_idx = next_col
                next_col = col_idx + 1
                v = c.find("m:v", ns)
                is_node = c.find("m:is", ns)
                if v is None and is_node is not None:
                    val: object = "".join(t.text or "" for t in is_node.iter(
                        "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}t"))
                elif v is None:
                    val = None
                elif c.get("t") == "s":
                    val = shared[int(v.text)]
                elif c.get("t") == "b":
                    val = v.text == "1"
                elif c.get("t") in ("str", "inlineStr", "d"):
                    # "d" = ISO-8601 date cells: keep the literal string
                    val = v.text
                elif c.get("t") == "e":
                    # error cells (#DIV/0!, #N/A, ...) read as missing —
                    # float(v.text) used to abort the whole file (and,
                    # executor-side, the whole Spark job) on one bad cell
                    val = None
                elif v.text is None:
                    val = None  # empty <v/>
                else:
                    try:
                        num = float(v.text)
                        val = int(num) if num.is_integer() else num
                    except ValueError:
                        val = v.text  # unknown cell type: keep raw text
                cells[col_idx - 1] = val
            rows.append(cells)
    if not rows:
        return pd.DataFrame()
    width = max(max(r.keys(), default=-1) for r in rows) + 1
    header = [str(rows[0].get(i, f"col{i}")) for i in range(width)]
    data = [[r.get(i) for i in range(width)] for r in rows[1:]]
    return pd.DataFrame(data, columns=header)


def read_excel(spark: SparkSession, path: str | Path) -> DataFrame:
    """First sheet, driver-side (reference: localsql/localsql.py:104-105):
    pandas/openpyxl when available, stdlib SpreadsheetML parser otherwise."""
    import pandas as pd

    try:
        pdf = pd.read_excel(str(path), engine="openpyxl")
    except ImportError:
        pdf = _read_xlsx_stdlib(path)
    return spark.createDataFrame(pdf)


def df_from_file(spark: SparkSession, file: str | Path, *,
                 format: str | None = None,
                 json_normalize: bool = False) -> DataFrame:
    """Dispatch on sniffed format (reference: localsql/localsql.py:78-145)."""
    file = Path(file)
    fmt, comp = sniff_format(file)
    fmt = format or fmt
    if fmt is None:
        raise ValueError(f"cannot determine format of {file}")
    path: Path = file
    # gz/bz2 stream through Spark's TEXT-based readers natively (csv/json);
    # zip/xz never stream, and the binary formats (xlsx/parquet) can't go
    # through the codec path at all — those decompress driver-side.
    if comp in ("zip", "xz") or (comp and fmt in ("xlsx", "parquet", "orc")):
        path = _decompress_to_temp(file, comp)
    is_tsv = fmt == "tsv"  # sniffed ext, so data.tsv.xz/.zip keep tabs too
    fmt = {"jsonl": "json", "ndjson": "json", "tsv": "csv"}.get(fmt, fmt)
    if fmt == "csv":
        return read_csv(spark, path, sep="\t" if is_tsv else ",")
    if fmt == "json":
        df = read_json(spark, path)
        if json_normalize:
            from localsql_spark.sources.json_normalize import flatten_structs
            df = flatten_structs(df)
        return df
    if fmt == "xlsx":
        return read_excel(spark, path)
    if fmt == "parquet":
        return spark.read.parquet(str(path))
    if fmt == "orc":
        return spark.read.orc(str(path))
    if fmt == "txt":
        return read_text_lines(spark, path)
    if fmt == "xml":
        return read_xml(spark, path)
    raise ValueError(f"unsupported format {fmt!r} for {file}")


def read_xml(spark: SparkSession, path: str | Path,
             row_tag: str = "row") -> DataFrame:
    """XML through Spark 4's NATIVE xml source (spark-xml was merged
    upstream in 4.0 — executor-side, splittable, schema-inferred): one
    row per ``row_tag`` element, attributes as ``_attr`` columns, nested
    elements as structs.  Extension beyond the reference's format
    surface (localsql/localsql.py:78-100 stops at csv/xlsx/json);
    registered here so directory discovery and the REPL pick ``.xml``
    files up like any other table file.  gz/bz2 stream through the
    text-based codec path like csv/json."""
    return (spark.read.format("xml")
            .option("rowTag", row_tag)
            .option("inferSchema", "true")
            .load(str(path)))


def read_text_lines(spark: SparkSession, path: str | Path) -> DataFrame:
    """Plain text, one row per line (``value: string``) with the line number
    attached — raw-corpus ingestion for text pipelines.  Spark's text source
    splits large files and streams gz/bz2 like the csv/json readers; the
    line number comes from a per-file window, deterministic because the
    source tags each row with its file and the ordering key is the row's
    byte position in that file (monotonically_increasing_id is per-partition
    ordered and the text source reads splits in file order)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    df = (spark.read.text(str(path))
          .select(F.col("value"),
                  F.input_file_name().alias("file"),
                  F.monotonically_increasing_id().alias("_pos")))
    w = Window.partitionBy("file").orderBy("_pos")
    # the file column stays in the output: line_no restarts per file, so
    # directory/glob input is only unambiguous with the provenance attached
    return (df.withColumn("line_no", F.row_number().over(w))
            .select("file", "line_no", "value"))


def read_binary_files(spark: SparkSession, path: str | Path,
                      glob: str | None = None) -> DataFrame:
    """Opaque binary assets (images / audio / video) as (path, mod_time,
    length, content) via Spark's binaryFile source — the ingestion edge of
    the multimodal pipeline (operators.multimodal consumes the ``content``
    column).  Distributed: each file is one row read on an executor; pair
    with maxPartitionBytes-style batching for many-small-file corpora."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(str(path))
