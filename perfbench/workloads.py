"""The workloads.  Each drives the engine only through its public calls and
records one :class:`Op` per user-visible command.

A workload has these phases, called by ``run.py``:

- ``prepare``   benchmark-owned input generation (never timed);
- ``register``  catalog registration on a fresh engine (part of set-up);
- ``first_op``  the workload's fixed first command (ends set-up);
- ``round``     one round (a pass over the SQL texts, or one ingest or
  corpus cycle); ``run.py`` runs a fixed number of them, so every run does
  the same work.  ``traced(key)`` says whether to trace the round's
  operation with that key (unique within a round);
- ``verify``    oracle comparison of every recorded result, after the clock
  stops.

``ROUND_S`` is a warm round's nominal length on a 4-core host.
``WARMUP_ROUNDS`` untraced rounds end set-up, after the first operation: a
round that is the process's first run of an operator or reader costs two
to four times a warm one, and the next few rounds still get faster as the
JVM compiles, by amounts that vary from run to run.  Over ``PAIR_ROUNDS``
consecutive rounds every operation key occurs twice, once traced and once
untraced in a traced run.
"""

from __future__ import annotations

import contextlib
import random
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

import datagen
from checks import duckdb_connect, fingerprint, oracle
from tracing import OFF

# Oracle SQL texts of the relational and function suites that are written
# in DuckDB's dialect (strftime, list_*, QUALIFY, EXCLUDE, VARCHAR casts,
# glob literals, ...): Spark cannot run them unchanged, so they are not
# ad-hoc SQL a Spark user would type.  Fixed here so a change to the engine
# cannot change which texts the workload runs.
DUCKDB_DIALECT = frozenset({
    "q3_top_orders", "group_concat_suppliers", "window_lag_lead_events",
    "explode_embedding_positions", "recursive_cte_monthly_orders",
    "window_exclude_emulated", "qualify_top_suppliers",
    "grouping_sets_orders", "fn_array_suite",
    "window_count_distinct_emulated", "fn_string_suite", "fn_like_glob",
    "fn_datetime_suite", "fn_json_suite", "fn_cast_typeconv",
    "fn_strftime_modifiers",
})
FIRST_SQL = "q1_pricing_summary"  # the cold first query: fixed across seeds


@dataclass
class Op:
    kind: str
    key: object  # identity of the op's input, for the repeated-input share
    latency_s: float
    ok: bool | None  # None: checked later by verify()
    check: object = None
    traced: bool = False


def sql_templates() -> list[tuple[str, str]]:
    """(name, oracle SQL) of every Spark-runnable relational/function
    registry entry, in registration order — read straight from the
    registry so set-up does not pay the registry's git-based ordering."""
    from localsql_spark import workload as W
    from localsql_spark.workload import functions_suite, relational  # noqa: F401

    return [(n, s.oracle) for n, s in W.REGISTRY.items()
            if s.oracle and n not in DUCKDB_DIALECT
            and s.fn.__module__.rsplit(".", 1)[-1]
            in ("relational", "functions_suite")]


class SqlWorkload:
    """``sql_adhoc``: one closed-loop client; each round runs every
    template once through ``run_sql`` + ``collect`` in a seeded order.
    The first round is each text's first run in the process, as an ad-hoc
    user pays it."""

    ROUND_S = 20.0
    WARMUP_ROUNDS = 0  # each text's first run is what an ad-hoc user pays
    PAIR_ROUNDS = 2

    def prepare(self, seed: int, sf: float, work: Path) -> dict:
        self.rng = random.Random(seed)
        self.data = datagen.write_parquet_dir(datagen.tables(seed, sf),
                                              work / "tables")
        self.templates = sql_templates()
        self.by_name = dict(self.templates)
        return {"sql_texts": len(self.templates),
                "data_mb": round(sum(p.stat().st_size for p in
                                     self.data.iterdir()) / 2**20, 2)}

    def register(self, eng, tr) -> None:
        from localsql_spark.catalog import register_testdata
        with tr.span("catalog.register_testdata"):
            register_testdata(eng.spark, str(self.data))

    def _op(self, eng, tr, name: str, traced: bool) -> Op:
        t = tr if traced else OFF
        t0 = time.perf_counter()
        with t.span("op"), t.jobs(eng.spark.sparkContext, "engine"):
            with t.span("engine.run_sql"):
                df = eng.run_sql(self.by_name[name])
            with t.span("engine.collect"):
                rows = df.collect()
        return Op(name, name, time.perf_counter() - t0, None,
                  fingerprint(rows), traced)

    def first_op(self, eng, tr, traced: bool) -> Op:
        return self._op(eng, tr, FIRST_SQL, traced)

    def round(self, eng, tr, rnd: int, traced) -> list[Op]:
        names = [n for n, _ in self.templates]
        self.rng.shuffle(names)
        return [self._op(eng, tr, n, traced(n)) for n in names]

    def verify(self, ops: list[Op]) -> None:
        con = duckdb_connect({p.stem: str(p) for p in self.data.iterdir()})
        con.execute("SET TimeZone = 'UTC'")
        expected = {}
        for op in ops:
            if op.kind not in expected:
                expected[op.kind] = oracle(con, self.by_name[op.kind])
            op.ok = op.check == expected[op.kind]
        con.close()

    def layer_metrics(self, tr) -> dict:
        return {}


# -- ingest + export ---------------------------------------------------------

INGEST_FORMATS = ("csv", "tsv_gz", "jsonl", "json_nested", "csv_zip",
                  "json_xz", "xlsx")
EXPORT_FORMATS = ("csv", "jsonl", "xlsx", "parquet")
_FMT_OF_FILE = {"customer.csv": "csv", "orders.tsv.gz": "tsv_gz",
                "lineitem.jsonl": "jsonl", "part.json": "json_nested",
                "supplier.csv.zip": "csv_zip", "events.json.xz": "json_xz",
                "accounts.xlsx": "xlsx"}
EXPORT_TABLE = "customer_csv"


class IngestWorkload:
    """Per cycle: a fresh engine, ``load_directory`` over seven raw files
    (one per reader format), one light query per table, ``\\td``, and a
    ``\\s`` export whose format rotates through csv, jsonl, xlsx and
    parquet from cycle to cycle, so four measured cycles export each format
    once.  The first warm-up cycle exports every format, so no measured
    export is its format's first."""

    ROUND_S = 5.0
    WARMUP_ROUNDS = 3
    PAIR_ROUNDS = 2 * len(EXPORT_FORMATS)

    def __init__(self, rows: int):
        self.rows = rows

    def prepare(self, seed: int, sf: float, work: Path) -> dict:
        self.raw = work / "raw"
        self.expect = datagen.raw_files(seed, self.rows, self.raw)
        self.rng = random.Random(seed)
        self.fmt_i = self.rng.randrange(len(EXPORT_FORMATS))
        self.out = work / "exports"
        self.out.mkdir()
        self.export_bytes = {}  # format -> sizes of its traced exports
        self.tracing = False
        self.raw_bytes = sum(p.stat().st_size for p in self.raw.iterdir())
        return {"raw_files": len(self.expect),
                "raw_mb": round(self.raw_bytes / 2**20, 3)}

    def register(self, eng, tr) -> None:
        pass  # loading the directory is the first operation

    def install_tracing(self, tr) -> None:
        """Time the catalog, source and sink calls the engine makes, by
        wrapping the module attributes it looks them up through.  The
        wrappers pass straight through while ``self.tracing`` is off."""
        import localsql_spark.catalog as C
        import localsql_spark.engine as E

        def wrap(mod, attr, span):
            real = getattr(mod, attr)

            def call(*a, **k):
                if not self.tracing:
                    return real(*a, **k)
                with span(*a):
                    return real(*a, **k)
            setattr(mod, attr, call)

        @contextlib.contextmanager
        def read(spark, file, *_):
            fmt = _FMT_OF_FILE[Path(file).name]
            with tr.span(f"sources.read.{fmt}"), \
                    tr.jobs(spark.sparkContext, f"sources.{fmt}", "engine"):
                yield

        wrap(C, "discover_files", lambda *_: tr.span("catalog.discover"))
        wrap(C, "register_file", lambda *_: tr.span("catalog.register_file"))
        wrap(C, "df_from_file", read)
        wrap(E, "tables_descr", lambda *_: tr.span("catalog.descr"))
        wrap(E, "export_result", lambda df, path, *_: tr.span(
            "sinks.export." + Path(path).suffix.lstrip(".")))

    def _timed(self, tr, traced: bool, kind: str, key, body) -> Op:
        """Run ``body(t)`` as one operation; it returns the check result."""
        t = tr if traced else OFF
        self.tracing = traced
        t0 = time.perf_counter()
        with t.span("op"):
            ok = body(t)
        return Op(kind, key, time.perf_counter() - t0, ok, traced=traced)

    def _load(self, eng, tr, traced: bool) -> Op:
        def body(t):
            found = eng.load_directory(self.raw, json_normalize=True,
                                       verbose=False)
            return sorted(found) == sorted(self.expect)
        return self._timed(tr, traced, "load", "load", body)

    def first_op(self, eng, tr, traced: bool) -> Op:
        return self._load(eng, tr, traced)

    def _count(self, eng, tr, traced: bool, name: str) -> Op:
        def body(t):
            with t.jobs(eng.spark.sparkContext, "engine"):
                with t.span("engine.run_sql"):
                    df = eng.run_sql(f"SELECT COUNT(*) AS n FROM {name}")
                with t.span("engine.collect"):
                    return df.collect()[0][0] == self.expect[name]
        return self._timed(tr, traced, "count", name, body)

    def _descr(self, eng, tr, traced: bool) -> Op:
        def body(t):
            with t.jobs(eng.spark.sparkContext, "engine"):
                rows = eng.run_sql("\\td").collect()
            return {r["Table"]: r["Rows"] for r in rows} == self.expect
        return self._timed(tr, traced, "descr", "descr", body)

    def _export(self, eng, tr, traced: bool, fmt: str, target: Path) -> Op:
        def body(t):
            with t.jobs(eng.spark.sparkContext, "engine"):
                eng.run_sql(f"SELECT * FROM {EXPORT_TABLE}")
                eng.run_sql(f"\\s {target}")
        op = self._timed(tr, traced, f"export_{fmt}", fmt, body)
        op.check = target  # read back by verify()
        return op

    def round(self, eng, tr, rnd: int, traced) -> list[Op]:
        """One cycle on a fresh engine, so no engine state survives a
        load."""
        from localsql_spark.engine import LocalSparkSQL

        fresh = LocalSparkSQL(eng.spark)
        names = sorted(self.expect)
        self.rng.shuffle(names)
        out = [self._load(fresh, tr, traced("load"))]
        out += [self._count(fresh, tr, traced(n), n) for n in names]
        out.append(self._descr(fresh, tr, traced("descr")))
        n_fmt = len(EXPORT_FORMATS)
        fmts = (EXPORT_FORMATS if rnd == 0 else
                [EXPORT_FORMATS[(self.fmt_i + rnd) % n_fmt]])
        out += [self._export(fresh, tr, traced(f"export_{fmt}"), fmt,
                             self.out / f"out{rnd}.{fmt}") for fmt in fmts]
        self.tracing = False
        return out

    def verify(self, ops: list[Op]) -> None:
        """Counts were checked inline; every export is read back here, its
        size kept if it was traced, and removed."""
        for op in ops:
            if op.kind.startswith("export_"):
                if op.traced:
                    self.export_bytes.setdefault(op.key, []).append(
                        _tree_bytes(op.check))
                op.ok = (_read_back_rows(op.check)
                         == self.expect[EXPORT_TABLE])
                _remove(op.check)

    def layer_metrics(self, tr) -> dict:
        m = {}
        read_s = 0.0
        for fmt in INGEST_FORMATS:
            n = tr.n(f"sources.read.{fmt}")
            m[f"sources.read_ms.{fmt}"] = tr.mean_ms(f"sources.read.{fmt}")
            m[f"sources.jobs_per_file.{fmt}"] = (
                tr.counts.get(f"sources.{fmt}.jobs", 0) / n if n else 0.0)
            read_s += tr.total_ms(f"sources.read.{fmt}") / 1000
        loads = tr.n("catalog.discover")
        m["sources.input_mb_per_s"] = (
            loads * self.raw_bytes / 2**20 / read_s if read_s else 0.0)
        for fmt in EXPORT_FORMATS:
            sizes = self.export_bytes.get(fmt)
            m[f"sinks.export_ms.{fmt}"] = tr.mean_ms(f"sinks.export.{fmt}")
            m[f"sinks.export_bytes.{fmt}"] = (
                sum(sizes) / len(sizes) if sizes else 0.0)
        return m


def _tree_bytes(p: Path) -> int:
    if p.is_file():
        return p.stat().st_size
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def _remove(p: Path) -> None:
    if p.is_dir():
        shutil.rmtree(p)
    else:
        p.unlink(missing_ok=True)


def _read_back_rows(p: Path) -> int:
    """Row count of an exported file, read without Spark."""
    import zipfile

    fmt = p.suffix.lstrip(".")
    if fmt == "xlsx":
        with zipfile.ZipFile(p) as z:
            return z.read("xl/worksheets/sheet1.xml").count(b"<row ") - 1
    reader = {"csv": "read_csv", "jsonl": "read_json",
              "parquet": "read_parquet"}[fmt]
    src = f"{p}/*.parquet" if fmt == "parquet" else str(p)
    con = duckdb_connect({})
    n = con.execute(f"SELECT count(*) FROM {reader}('{src}')").fetchone()[0]
    con.close()
    return n


# -- corpus pipeline ---------------------------------------------------------

# pipeline command -> registry entry whose DuckDB oracle computes the same
# rows for the default options used here (none for \quality: its view has
# different columns, so it is checked against its own first result)
CORPUS_CMDS = (
    ("dedup_exact", "\\dedup", "exact documents AS v_exact",
     "dedup_exact_documents"),
    ("dedup_minhash", "\\dedup", "minhash documents AS v_minhash",
     "dedup_minhash_pairs"),
    ("dedup_simhash", "\\dedup", "simhash documents AS v_simhash",
     "dedup_simhash_pairs"),
    ("knn", "\\knn", "embeddings knn_queries k=5 AS v_knn",
     "knn_brute_force_top5"),
    ("quality", "\\quality", "documents AS v_quality", None),
)


# read-backs of the merged store: (op kind, SQL)
STORE_QUERIES = (
    ("store_langs", "SELECT lang, COUNT(*), MIN(version), MAX(version) "
                    "FROM parquet.`{store}` GROUP BY lang"),
    ("store_keys", "SELECT COUNT(*), COUNT(DISTINCT doc_id) "
                   "FROM parquet.`{store}` WHERE version = {version}"),
)


class CorpusWorkload:
    """Per cycle over one seeded batch of documents and embeddings: the
    five pipeline commands, each followed by one SQL query over its view,
    then the exact-dedup keepers merged into a lang-partitioned store (the
    warm-up cycle fills it, measured ones rewrite every partition at a
    newer version) and the store read back with two SQL queries.  The
    second read-back puts as many light operations in a cycle as heavy
    ones, so that p50 falls in the middle of the group of medium ones
    (``\knn``, ``\quality``) and not at its edge."""

    ROUND_S = 6.0
    WARMUP_ROUNDS = 2
    PAIR_ROUNDS = 2

    def __init__(self, docs: int, vecs: int):
        self.docs, self.vecs = docs, vecs

    def prepare(self, seed: int, sf: float, work: Path) -> dict:
        self.batch = datagen.corpus_batch(seed, self.docs, self.vecs)
        self.dir = datagen.write_parquet_dir(
            dict(zip(("documents", "embeddings"), self.batch)), work / "batch")
        self.store = work / "store"
        self.version = None  # of the last merge
        return {"docs": self.docs, "vecs": self.vecs}

    def register(self, eng, tr) -> None:
        """Register the batch as ``documents`` / ``embeddings`` (memoized
        per session) and define the kNN query set over it."""
        from localsql_spark.catalog import register_testdata
        with tr.span("catalog.register_testdata"):
            register_testdata(eng.spark, str(self.dir))
        eng.run_sql("CREATE OR REPLACE TEMP VIEW knn_queries AS "
                    "SELECT * FROM embeddings WHERE vec_id < 10")

    def _cmd(self, eng, tr, traced: bool, key: str, cmd: str,
             args: str) -> Op:
        t = tr if traced else OFF
        view = args.rsplit(" ", 1)[-1]
        t0 = time.perf_counter()
        with t.span("op"):
            with t.span(f"operators.{key}.cmd"):
                eng.pipeline_command(cmd, args)
            with t.span(f"operators.{key}.scan"), \
                    t.jobs(eng.spark.sparkContext, f"operators.{key}",
                           "engine"):
                with t.span("engine.run_sql"):
                    df = eng.run_sql(f"SELECT * FROM {view}")
                with t.span("engine.collect"):
                    rows = df.collect()
        return Op(key, key, time.perf_counter() - t0, None,
                  fingerprint(rows), traced)

    def first_op(self, eng, tr, traced: bool) -> Op:
        return self._cmd(eng, tr, traced, *CORPUS_CMDS[0][:3])

    def _merge(self, eng, tr, traced: bool, version: int) -> Op:
        from localsql_spark.sinks.merge import merge_into_partitioned

        t = tr if traced else OFF
        t0 = time.perf_counter()
        with t.span("op"), t.jobs(eng.spark.sparkContext, "engine"):
            keepers = eng.run_sql(
                f"SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars, "
                f"CAST({version} AS BIGINT) AS version FROM documents d "
                f"JOIN v_exact v ON d.doc_id = v.keep_id")
            with t.span("sinks.merge"):
                merge_into_partitioned(eng.spark, str(self.store), keepers,
                                       key="doc_id", version="version",
                                       partition_col="lang")
        self.version = version
        return Op("merge", "merge", time.perf_counter() - t0, None,
                  traced=traced)

    def _scan_store(self, eng, tr, traced: bool, kind: str, sql: str,
                    version: int) -> Op:
        """The store read back with ``sql`` (``{store}`` and ``{version}``
        filled in)."""
        t = tr if traced else OFF
        t0 = time.perf_counter()
        with t.span("op"), t.jobs(eng.spark.sparkContext, "engine"):
            with t.span("engine.run_sql"):
                df = eng.run_sql(sql.format(store=self.store,
                                            version=version))
            with t.span("engine.collect"):
                rows = df.collect()
        return Op(kind, kind, time.perf_counter() - t0, None,
                  ([tuple(r) for r in rows], version), traced)

    def round(self, eng, tr, rnd: int, traced) -> list[Op]:
        """Cycle ``rnd`` merges its keepers at version ``rnd``."""
        out = [self._cmd(eng, tr, traced(key), key, cmd, args)
               for key, cmd, args, _ in CORPUS_CMDS]
        out.append(self._merge(eng, tr, traced("merge"), rnd))
        out += [self._scan_store(eng, tr, traced(kind), kind, sql, rnd)
                for kind, sql in STORE_QUERIES]
        with tr.span("operators.cleanup"):
            eng.close()
        return out

    def verify(self, ops: list[Op]) -> None:
        """Each view against the registry's DuckDB oracle where it has one,
        else against the first result; the store must hold exactly the
        exact-dedup keepers, at the version of the last merge, and each
        read-back must count the keepers (of every lang) at its own cycle's
        version."""
        from localsql_spark import workload as W
        from localsql_spark.workload import extensions  # noqa: F401

        docs, emb = self.batch
        con = duckdb_connect({"documents": docs, "embeddings": emb})
        expected = {key: oracle(con, W.REGISTRY[name].oracle)
                    for key, _, _, name in CORPUS_CMDS if name}
        keepers = W.REGISTRY["dedup_exact_documents"].oracle
        want = {r[0]: self.version for r in con.execute(
            f"SELECT keep_id FROM ({keepers})").fetchall()}
        per_lang = dict(con.execute(
            f"SELECT d.lang, COUNT(*) FROM documents d JOIN ({keepers}) k "
            f"ON d.doc_id = k.keep_id GROUP BY d.lang").fetchall())
        got = dict(con.execute(
            f"SELECT doc_id, version FROM read_parquet("
            f"'{self.store}/*/*.parquet', hive_partitioning = true)"
        ).fetchall())
        con.close()
        for op in ops:
            if op.kind == "merge":
                op.ok = got == want
            elif op.kind == "store_langs":
                rows, v = op.check
                op.ok = {r[0]: r[1:] for r in rows} == {
                    lang: (n, v, v) for lang, n in per_lang.items()}
            elif op.kind == "store_keys":
                rows, v = op.check
                op.ok = rows == [(len(want), len(want))]
            else:
                op.ok = expected.setdefault(op.kind, op.check) == op.check

    def layer_metrics(self, tr) -> dict:
        m = {}
        for key, *_ in CORPUS_CMDS:
            n = tr.n(f"operators.{key}.cmd")
            m[f"operators.{key}.cmd_ms"] = tr.mean_ms(f"operators.{key}.cmd")
            m[f"operators.{key}.scan_ms"] = tr.mean_ms(f"operators.{key}.scan")
            m[f"operators.{key}.tasks"] = (
                tr.counts.get(f"operators.{key}.tasks", 0) / n if n else 0.0)
        m["operators.cleanup_ms"] = tr.mean_ms("operators.cleanup")
        m["sinks.merge_ms"] = tr.mean_ms("sinks.merge")
        files = list(self.store.rglob("*.parquet"))
        m["sinks.store_files"] = len(files)
        m["sinks.store_bytes_per_input_byte"] = (
            sum(f.stat().st_size for f in files)
            / (self.dir / "documents.parquet").stat().st_size)
        return m
