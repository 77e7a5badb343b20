"""File discovery, table naming, and catalog registration.

Reproduces the reference's native ingestion/catalog surface
(reference: localsql/localsql.py:78-153, 288-313 — format sniffing, table
auto-naming, directory discovery with per-file error isolation) on top of the
Spark session catalog: each file becomes a temp view named after the file, and
``spark.sql`` then runs directly over the views (no per-query copy — the
reference's copy-into-SQLite step, localsql/localsql.py:230, intentionally has
no equivalent here).
"""

from __future__ import annotations

import re
import sys
from functools import partial
from pathlib import Path
from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from localsql_spark.sinks.overlap import run_overlapped
from localsql_spark.sources.readers import COMPRESSORS, SUPPORTED_EXTS, df_from_file

# reference: localsql/localsql.py:41 maps a fixed char list to "_"; widened
# here to every non-identifier char so names like report#1.csv can't produce
# an invalid view identifier (which would fail registration silently)
_RE_SPECIAL = re.compile(r"[^A-Za-z0-9_]")
_RE_UNDERSCORES = re.compile(r"__+")


def tablename_from_file(file: str | Path) -> str:
    """Filename -> SQL identifier (reference: localsql/localsql.py:147-153).

    Special characters become ``_``, runs of ``_`` collapse, and a leading
    digit gets a ``t`` prefix: ``csv.csv`` -> ``csv_csv``,
    ``2020-sales.csv`` -> ``t2020_sales_csv``.
    """
    name = Path(file).name
    name = _RE_SPECIAL.sub("_", name)
    name = _RE_UNDERSCORES.sub("_", name)
    if name and name[0].isdigit():
        name = "t" + name
    return name


def register_file(spark: SparkSession, file: str | Path, *,
                  format: str | None = None, json_normalize: bool = False,
                  name: str | None = None,
                  df: DataFrame | None = None) -> tuple[str, DataFrame]:
    """Load one file and register it as a temp view. Returns (name, df).
    ``df`` is the file's frame when the caller has already read it (the
    directory load reads its files concurrently, then registers them in
    order)."""
    if df is None:
        df = df_from_file(spark, file, format=format,
                          json_normalize=json_normalize)
    table = name or tablename_from_file(file)
    df.createOrReplaceTempView(table)
    return table, df


def discover_files(directory: str | Path, recursive: bool = False) -> list[Path]:
    """Glob candidate data files (reference: localsql/localsql.py:288-300)."""
    pattern = "**/*.*" if recursive else "*.*"
    out = []
    for p in sorted(Path(directory).glob(pattern)):
        if not p.is_file():
            continue
        suffixes = [s.lstrip(".").lower() for s in p.suffixes]
        if suffixes and (suffixes[-1] in SUPPORTED_EXTS
                         or (len(suffixes) >= 2 and suffixes[-1] in COMPRESSORS
                             and suffixes[-2] in SUPPORTED_EXTS)):
            out.append(p)
    return out


def register_directory(spark: SparkSession, directory: str | Path, *,
                       recursive: bool = False, json_normalize: bool = False,
                       verbose: bool = True,
                       existing: set[str] | None = None
                       ) -> dict[str, DataFrame]:
    """Register every readable file in a directory; per-file errors are
    isolated and non-fatal (reference: localsql/localsql.py:302-313).
    ``existing`` carries table names already registered by EARLIER loads
    (the engine passes its catalog) so a colliding name uniquifies
    against those too instead of silently replacing their views.

    The files are read concurrently (:func:`run_overlapped`): each read is
    a few small Spark jobs (CSV header and schema inference, JSON
    inference) or driver-side work (xlsx, zip/xz), and one after another
    they leave the executors idle.  Each read catches its own error.
    Naming, view registration and the printed lines then follow in
    discovery order, so they are the same as for a sequential load: a
    file that failed to read takes no name."""
    files = discover_files(directory, recursive=recursive)

    def read(f: Path):
        try:
            return df_from_file(spark, f, json_normalize=json_normalize)
        except Exception as e:  # noqa: BLE001 — per-file isolation
            return e

    read_out = run_overlapped([(str(f), partial(read, f)) for f in files],
                              spark=spark)
    tables: dict[str, DataFrame] = {}
    taken = set(existing or ())
    for f in files:
        try:
            # distinct files can normalize to the same identifier
            # ('report#1.csv' and 'report$1.csv' -> report_1_csv); uniquify
            # with a numeric suffix instead of silently overwriting the view
            name = tablename_from_file(f)
            if name in tables or name in taken:
                i = 2
                while f"{name}_{i}" in tables or f"{name}_{i}" in taken:
                    i += 1
                uniq = f"{name}_{i}"
                if verbose:
                    print(f"{f}: table name {name!r} taken -> {uniq!r}")
                name = uniq
            df = read_out[str(f)]
            if isinstance(df, Exception):
                raise df
            name, df = register_file(spark, f, json_normalize=json_normalize,
                                     name=name, df=df)
            tables[name] = df
            if verbose:
                print(f"{f} -> table {name!r} columns={len(df.columns)}")
        except Exception as e:  # noqa: BLE001 — per-file isolation by design
            # errors go to stderr unconditionally: silent mode protects
            # stdout, not failure visibility
            print(f"{f}: {e}", file=sys.stderr)
    return tables


_CACHE_DIR = Path(__file__).resolve().parent.parent / ".cache" / "parquet_us"


def _normalize_nanos(path: Path) -> Path:
    """Spark's parquet reader rejects TIMESTAMP(NANOS) columns
    (PARQUET_TYPE_ILLEGAL); the driver's testdata uses them.  Rewrite once
    with microsecond timestamps via pyarrow and read the normalized copy —
    downstream scans stay native/distributed with full predicate pushdown.
    At real scale this is the standard one-time ETL normalization step (Spark
    cannot scan NANOS parquet at all); it is cached and mtime-invalidated.
    """
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    if not any(str(f.type).startswith("timestamp[ns") for f in schema):
        return path
    # the cache key carries a hash of the FULL absolute path: keying on
    # the last two components alone let /runA/sf0.01/orders.parquet and
    # /runB/sf0.01/orders.parquet collide — the mtime check could then
    # serve runA's bytes for runB's table
    import hashlib
    tag = hashlib.md5(str(path.resolve()).encode()).hexdigest()[:8]
    out = _CACHE_DIR / f"{path.parts[-2]}_{tag}" / path.name
    if out.exists() and out.stat().st_mtime >= path.stat().st_mtime:
        return out
    out.parent.mkdir(parents=True, exist_ok=True)
    table = pq.read_table(path)
    pq.write_table(table, out, coerce_timestamps="us",
                   allow_truncated_timestamps=True)
    return out


# Memoized per (session, sf_dir): every workload query calls load() ->
# register_testdata, and re-reading 10 parquet footers per query is pure
# fixed overhead (~the dominant cost of a small-sf benchmark run).  The key
# is a WeakKeyDictionary on the session object — id() would collide when a
# stopped session's id is reused — and a cache hit still re-runs
# createOrReplaceTempView (cheap catalog upsert) so a view some other code
# replaced or dropped is restored rather than silently left stale.
import weakref

_TESTDATA_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary())


def register_testdata(spark: SparkSession, sf_dir: str,
                      tables: Iterable[str] = ("region", "nation", "customer",
                                               "supplier", "part", "orders",
                                               "lineitem", "events",
                                               "documents", "embeddings"),
                      ) -> dict[str, DataFrame]:
    """Register the driver's parquet tables from an sf directory as views
    (parquet reads memoized per session + directory; view registration
    always re-applied).  On a miss the reads run concurrently
    (:func:`run_overlapped`): each starts its own schema job."""
    per_session = _TESTDATA_CACHE.setdefault(spark, {})
    key = (str(sf_dir), tuple(tables))
    out = per_session.get(key)
    if out is None:
        paths = {t: Path(f"{sf_dir}/{t}.parquet") for t in tables}
        out = run_overlapped(
            [(t, lambda p=p: spark.read.parquet(str(_normalize_nanos(p))))
             for t, p in paths.items() if p.exists()], spark=spark)
        per_session[key] = out
    for t, df in out.items():
        df.createOrReplaceTempView(t)
    return out


_DESCR_SCHEMA = pa.schema([("Table", pa.string()), ("Rows", pa.int64()),
                           ("Columns", pa.int64()), ("Bytes", pa.int64())])
_DESCR_SAMPLE = 1000


def tables_descr(spark: SparkSession, tables: dict[str, DataFrame]) -> DataFrame:
    """Catalog-stats table ['Table','Rows','Columns','Bytes'] (reference:
    localsql/localsql.py:50-54). The reference reports pandas in-memory
    bytes; distributed data has no single resident size, so Bytes here is
    row_count x average UnsafeRow-ish size from a 1000-row sample — an
    estimate, which is what a catalog stat is for.

    The tables are described concurrently (:func:`run_overlapped`).  The
    sample is taken first, and a table whose sample is not full is
    counted by it, so ``df.count()`` runs only for tables of 1000 rows or
    more.  The result is built from an Arrow table: the rows go to the
    JVM without passing through Python workers."""
    def stats(name: str) -> dict:
        df = tables[name]
        sample = df.limit(_DESCR_SAMPLE).collect()
        count = df.count() if len(sample) == _DESCR_SAMPLE else len(sample)
        avg = sum(len(str(r)) for r in sample) / len(sample) if sample else 0
        return {"Table": name, "Rows": count, "Columns": len(df.columns),
                "Bytes": int(count * avg)}

    got = run_overlapped([(n, partial(stats, n)) for n in sorted(tables)],
                         spark=spark)
    return spark.createDataFrame(
        pa.Table.from_pylist(list(got.values()), schema=_DESCR_SCHEMA))
