"""The engine facade: SQL over auto-registered file tables.

Reproduces the reference's ``LocalSQL`` class surface
(reference: localsql/localsql.py:22-266) Spark-first:

- ``run_sql(q)`` -> DataFrame via ``spark.sql`` directly over temp views —
  no per-query table copy (the reference pays O(table) per query copying
  DataFrames into SQLite, localsql/localsql.py:230; Catalyst instead gets
  predicate pushdown / column pruning / join selection for free).
- special commands ``\\t \\td \\s \\pp \\lsql \\lpy`` (reference:
  localsql/localsql.py:155-214).
- bare table name -> schema dump (reference: localsql/localsql.py:226-228).
- ``latest_result`` register feeding export (reference: localsql/localsql.py:34).
- ``/t`` transpose suffix -> vertical show (reference: localsql/localsql.py:349-358).
- python escape hatch evaluating against {spark, tables, F}
  (reference: localsql/localsql.py:245-260).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.utils import AnalysisException

from localsql_spark.catalog import register_directory, register_file, tables_descr
from localsql_spark.sinks.writers import export_result


class LocalSparkSQL:
    def __init__(self, spark: SparkSession | None = None):
        if spark is None:
            from localsql_spark.session import get_spark
            spark = get_spark()
        self.spark = spark
        from localsql_spark.functions.sqlite_compat import register_sqlite_compat
        register_sqlite_compat(spark)  # glob_match / typeof in user SQL
        self.tables: dict[str, DataFrame] = {}
        self.latest_result: DataFrame | None = None
        self.pretty = True
        self.py_mode = False

    # -- lifecycle ---------------------------------------------------------
    def close(self) -> None:
        """Release engine-held storage: operator-persisted intermediates
        (LSH signature tables, CC label frames) registered via
        ``operators.track_persist``.  The REPL releases these per line
        (cli.run_line's finally); embedders driving the engine API directly
        call ``close()`` — or use the engine as a context manager — so
        repeated pipeline runs in one long-lived session don't accumulate
        cached tables.  The SparkSession itself is NOT stopped: it may be
        shared with the caller."""
        from localsql_spark.operators import cleanup
        cleanup()

    def __enter__(self) -> "LocalSparkSQL":
        return self

    def __exit__(self, *exc) -> bool:
        self.close()
        return False

    # -- catalog ----------------------------------------------------------
    def load_file(self, file: str | Path, **kw) -> str:
        if "name" not in kw:
            # uniquify against the live catalog, same as register_directory:
            # two positional files normalizing to one identifier must not
            # silently shadow each other
            from localsql_spark.catalog import tablename_from_file
            name = tablename_from_file(file)
            if name in self.tables:
                i = 2
                while f"{name}_{i}" in self.tables:
                    i += 1
                name = f"{name}_{i}"
            kw["name"] = name
        name, df = register_file(self.spark, file, **kw)
        self.tables[name] = df
        return name

    def load_directory(self, directory: str | Path, **kw) -> dict[str, DataFrame]:
        # names uniquify against the LIVE catalog too: a directory load
        # after load_file (or a second load_directory) must not silently
        # replace earlier tables' views
        found = register_directory(self.spark, directory,
                                   existing=set(self.tables), **kw)
        self.tables.update(found)
        return found

    # -- query ------------------------------------------------------------
    def run_sql(self, query: str) -> DataFrame | None:
        """Execute SQL (or a special command / bare table name) and cache the
        result for export (reference: localsql/localsql.py:216-243)."""
        query = query.strip().rstrip(";")
        if not query:
            return None
        if query.startswith("\\"):
            return self.special(query)
        if query in self.tables:
            # bare table name -> info dump (reference: localsql/localsql.py:226-228
            # calls pandas df.info(): schema + entries + non-null counts)
            self.table_info(query)
            return None
        try:
            result = self.spark.sql(query)
        except AnalysisException as e:
            # error shaping (reference: localsql/localsql.py:235-242)
            raise RuntimeError(str(e).split(";")[0]) from None
        self.latest_result = result
        return result

    def run_py(self, command: str):
        """Python escape hatch (reference: localsql/localsql.py:245-260)."""
        from pyspark.sql import functions as F  # noqa: N812

        if not hasattr(self, "_py_ns"):  # persists across \lpy lines
            self._py_ns = {"spark": self.spark, "tables": self.tables,
                           "F": F, "self": self}
        ns = self._py_ns
        try:
            return eval(command, ns)  # noqa: S307 — REPL escape hatch by design
        except SyntaxError:
            exec(command, ns)  # noqa: S102
            return None

    def table_info(self, name: str) -> None:
        """``df.info()``-style dump for a bare table name: schema, row count,
        and per-column non-null counts — all from ONE distributed aggregate
        (no per-column jobs; reference: localsql/localsql.py:226-228)."""
        from pyspark.sql import functions as F  # noqa: N812

        from localsql_spark.operators.text import qcol
        df = self.tables[name]
        df.printSchema()
        # backtick-quote column references: flattened-JSON tables carry
        # literal dots in column names ('nest.a'), which a bare string
        # reference would resolve as struct-field access.  The row-count
        # alias must not shadow a real column of the same name.
        rows_alias = "__rows"
        while rows_alias in df.columns:
            rows_alias += "_"
        stats = df.agg(
            F.count(F.lit(1)).alias(rows_alias),
            *[F.count(qcol(c)).alias(c)
              for c in df.columns]).collect()[0]
        print(f"{stats[rows_alias]} entries, {len(df.columns)} columns")
        for c in df.columns:
            print(f"  {c}: {stats[c]} non-null")

    SPECIAL_HELP = (
        "  \\t     List of tables.\n"
        "  \\td    Detailed list of tables.\n"
        "  \\s     Save last not empty results to file.\n"
        "  \\pp    Toggle pretty print.\n"
        "  \\lpy   Python commands mode\n"
        "  \\lsql  SQL commands mode\n"
        "  \\dedup <exact|minhash|simhash|ngram> <table> [k=v ...] "
        "[AS <view>]\n"
        "         Dedup the table; register the result as a queryable "
        "view.\n"
        "         Options: text= id= threshold= max_hamming=\n"
        "  \\knn <corpus> [<queries>] [k=5 vec=embedding id=vec_id] "
        "[AS <view>]\n"
        "         Exact cosine top-k neighbors as a view.\n"
        "  \\quality <table> [text= id=] [AS <view>]\n"
        "         Per-document text-quality scores as a view.\n")

    # -- special commands ---------------------------------------------------
    def special(self, command: str) -> DataFrame | None:
        cmd, _, args = command.partition(" ")
        if cmd == "\\t":
            for name in sorted(self.tables):
                print(name)
            return None
        if cmd == "\\td":
            # returned (not shown here): run_line/one-shot prints it once
            return tables_descr(self.spark, self.tables)
        if cmd == "\\s":
            if self.latest_result is None:
                raise RuntimeError(
                    "no result to save — run the query before save")
            target = args.strip()
            if not target:
                # reference prints usage on a missing filename
                # (localsql/localsql.py:172-175)
                import sys
                print("Save result to file.\n"
                      "Usage: \\s <filename>.<csv/json/jsonl/xlsx/parquet/orc>",
                      file=sys.stderr)
                return None
            export_result(self.latest_result, target)
            # feedback on stderr (reference eprints, localsql.py:188) so the
            # one-shot -s stdout stays pure result
            import sys
            print(f"Result saved to {target}", file=sys.stderr)
            return None
        if cmd == "\\pp":
            self.pretty = not self.pretty
            print("Pretty print " + ("ON" if self.pretty else "OFF"))
            return None
        if cmd == "\\lpy":
            self.py_mode = True
            return None
        if cmd == "\\lsql":
            self.py_mode = False
            return None
        if cmd in ("\\dedup", "\\knn", "\\quality"):
            return self.pipeline_command(cmd, args)
        # unknown special -> help cheat sheet, non-fatal
        # (reference: localsql/localsql.py:161-167)
        print(f"Unrecognized special command: {cmd}")
        print(self.SPECIAL_HELP)
        return None

    # -- pipeline commands --------------------------------------------------
    # The reference's UX contract is "everything reachable from the REPL";
    # the engine's flagship pipeline operators (dedup / kNN / text quality)
    # are therefore exposed as temp-VIEW-producing special commands (r13
    # verdict task 6): each runs the DataFrame operator and registers the
    # result as a named view the next SQL statement can join/filter —
    # `\dedup minhash docs AS nd` then `SELECT * FROM nd WHERE ...`.
    # Declarative results stay lazy: registering the view costs nothing
    # until SQL scans it.

    def _parse_pipeline_args(self, args: str):
        """``<positional...> [key=value ...] [AS <view>]`` — the minimal
        grammar the commands share."""
        toks = args.split()
        pos: list[str] = []
        opts: dict[str, str] = {}
        view: str | None = None
        i = 0
        while i < len(toks):
            t = toks[i]
            if t.upper() == "AS":
                if i + 1 >= len(toks):
                    raise RuntimeError("AS needs a view name")
                view = toks[i + 1]
                i += 2
                continue
            if "=" in t:
                k, _, v = t.partition("=")
                opts[k] = v
            else:
                pos.append(t)
            i += 1
        return pos, opts, view

    def _table(self, name: str) -> DataFrame:
        if name in self.tables:
            return self.tables[name]
        try:  # any SQL-visible view (incl. one a previous command made)
            return self.spark.table(name)
        except AnalysisException:
            raise RuntimeError(f"unknown table: {name}") from None

    def _register_view(self, df: DataFrame, view: str) -> DataFrame:
        import sys

        df.createOrReplaceTempView(view)
        self.tables[view] = df
        self.latest_result = df
        print(f"Registered view: {view}", file=sys.stderr)
        return df

    def pipeline_command(self, cmd: str, args: str) -> DataFrame:
        """Dispatch ``\\dedup`` / ``\\knn`` / ``\\quality``."""
        pos, opts, view = self._parse_pipeline_args(args)
        if cmd == "\\dedup":
            from localsql_spark.operators import dedup as D
            if not pos or pos[0] not in ("exact", "minhash", "simhash",
                                         "ngram") or len(pos) != 2:
                raise RuntimeError(
                    "usage: \\dedup <exact|minhash|simhash|ngram> <table> "
                    "[text= id= threshold= max_hamming=] [AS <view>]")
            mode, table = pos
            df = self._table(table)
            text = opts.get("text", "text")
            id_col = opts.get("id", "doc_id")
            if mode == "exact":
                out = D.exact_dedup(df, text, id_col)
            elif mode == "minhash":
                out = D.minhash_lsh_pairs(
                    df, text, id_col,
                    threshold=float(opts.get("threshold", "0.5")))
            elif mode == "simhash":
                out = D.simhash_near_pairs(
                    df, text, id_col,
                    max_hamming=int(opts.get("max_hamming", "3")))
            else:
                kw = {"threshold": float(opts.get("threshold", "0.2"))}
                if "block" in opts:
                    kw["block_col"] = opts["block"]
                out = D.ngram_jaccard_pairs(df, text, id_col, **kw)
            return self._register_view(out, view or f"{table}_dedup_{mode}")
        if cmd == "\\knn":
            from localsql_spark.operators.similarity import knn_brute_force
            if not 1 <= len(pos) <= 2:
                raise RuntimeError(
                    "usage: \\knn <corpus> [<queries>] [k= vec= id=] "
                    "[AS <view>]")
            corpus = self._table(pos[0])
            queries = self._table(pos[1]) if len(pos) == 2 else corpus
            out = knn_brute_force(
                corpus, queries, k=int(opts.get("k", "5")),
                id_col=opts.get("id", "vec_id"),
                vec_col=opts.get("vec", "embedding"))
            return self._register_view(out, view or f"{pos[0]}_knn")
        # \quality
        from pyspark.sql import functions as F  # noqa: N812

        from localsql_spark.operators import text as T
        if len(pos) != 1:
            raise RuntimeError(
                "usage: \\quality <table> [text= id=] [AS <view>]")
        df = self._table(pos[0])
        text = opts.get("text", "text")
        id_col = opts.get("id", "doc_id")
        out = df.select(
            T.qcol(id_col),
            T.quality_score(text).alias("quality_score"),
            T.langid(text).alias("lang"),
            T.token_count_ws(text).alias("tokens_ws"),
            F.round(T.punct_ratio(text), 9).alias("punct_ratio"),
            F.round(T.stopword_ratio(text), 9).alias("stopword_ratio"),
            F.round(T.avg_word_len(text), 9).alias("avg_word_len"))
        return self._register_view(out, view or f"{pos[0]}_quality")

    # -- presentation -------------------------------------------------------
    def print_result(self, df: DataFrame, transpose: bool = False,
                     n: int = 20) -> None:
        """Plain/pretty/vertical display (reference: localsql/localsql.py:262-266,
        349-358)."""
        if transpose:
            df.show(n=n, truncate=False, vertical=True)
        elif self.pretty:
            df.show(n=n, truncate=False)
        else:
            for row in df.limit(n).collect():
                print(row)
