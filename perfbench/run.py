"""Benchmark for localsql_spark: SQL over local files, ingest, export and
the corpus pipeline, driven through the engine's public calls.

    python3 perfbench/run.py --workload sql_adhoc --seed 1 --seconds 20 --trace 0

Workloads (inputs are generated from ``--seed``; see ``workloads.py``):

- ``sql_adhoc``        one closed-loop client running the registry's
                       Spark-runnable oracle SQL texts in a seeded order;
- ``ingest_export``    fresh ``load_directory`` over seven raw formats, a
                       light query per table, ``\\td`` and a ``\\s`` export;
- ``corpus_pipeline``  ``\\dedup`` / ``\\knn`` / ``\\quality`` plus a SQL
                       query over each view, keepers merged into a store.

A run imports the engine, generates its inputs, then sets the session up
once: JVM launch and session build, function registration, catalog
registration, the workload's first operation and its untraced warm-up
rounds.  ``setup_s`` is the time from process start to the end of the
warm-up, less the benchmark's own work in between (its imports and input
generation); ``first_op_ms`` is the first operation alone, in a cold JVM.
Then it measures closed-loop operations in whole rounds, as many as fill
``--seconds`` at the workload's nominal round length, and checks every
result against DuckDB or the generated inputs.

With ``--trace 0`` the last stdout line holds the end-to-end metrics of
``BENCHMARK.json``.  With ``--trace 1`` it holds the per-layer metrics: at
least one untraced warm-up round, then rounds in which every operation key
is traced at every other occurrence, so ``trace.overhead_ms`` compares each
operation with itself.  The spans are written once, at the end, to a JSONL
file.  Exit status is 0 only when every result is correct.

Inputs and outputs live under ``.perfbench_work/`` in the working directory
and are removed at exit (span files stay); the Spark JVM is stopped and
waited for.
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# per-layer metric (first matching pattern) -> (end-to-end metrics it should
# move, workloads it should move them on)
LAYER_TARGETS = {
    "session.build_ms": ("setup_s", "all"),
    "functions.register_ms": ("setup_s", "all"),
    "catalog.register_testdata_ms": (
        "setup_s", "sql_adhoc,corpus_pipeline"),
    "engine.run_sql_ms": ("op_p50_ms", "sql_adhoc"),
    "engine.collect_ms": ("op_p50_ms,op_p90_ms,ops_per_s", "sql_adhoc"),
    "engine.first_collect_ms": ("first_op_ms", "sql_adhoc,corpus_pipeline"),
    "engine.*_per_op": ("op_p50_ms,ops_per_s", "sql_adhoc"),
    "engine.failed_tasks": ("ok_ratio", "all"),
    "catalog.*": ("op_p50_ms", "ingest_export"),
    "sources.input_mb_per_s": ("ops_per_s", "ingest_export"),
    "sources.*": ("op_p50_ms,op_p90_ms", "ingest_export"),
    "sinks.export_*": ("op_p90_ms", "ingest_export"),
    "sinks.*": ("op_p90_ms,peak_rss_mb", "corpus_pipeline"),
    "operators.cleanup_ms": ("peak_rss_mb", "corpus_pipeline"),
    "operators.*": ("op_p50_ms,op_p90_ms", "corpus_pipeline"),
    "trace.*": ("op_p50_ms", "all"),
}


def layer_target(name: str) -> dict:
    moves, on = next(v for pat, v in LAYER_TARGETS.items()
                     if fnmatch.fnmatchcase(name, pat))
    return {"moves": moves, "on": on}


def _workloads() -> dict:
    from workloads import CorpusWorkload, IngestWorkload, SqlWorkload

    return {
        "sql_adhoc": lambda: SqlWorkload(),
        "ingest_export": lambda: IngestWorkload(rows=2000),
        "corpus_pipeline": lambda: CorpusWorkload(docs=300, vecs=300),
    }


def _parse(argv, workloads):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=0.01,
                   help="scale factor of the SQL tables (0.01: ~60k lineitems)")
    return p.parse_args(argv)


def _machine() -> tuple[int, int]:
    """(cores, JVM heap MB): every core this process may use, and a
    heap of 1 GiB or half of MemAvailable, whichever is smaller."""
    cores = len(os.sched_getaffinity(0))
    avail_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    heap = min(1024, avail_kb // 1024 // 2) // 256 * 256
    if heap < 512:
        raise SystemExit(f"only {avail_kb // 1024} MB available; need 1 GB")
    return cores, heap


def _since_process_start() -> float:
    """Seconds since this process started (the kernel counts in 10 ms
    ticks of the boot-time clock)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def _reset_peak_rss() -> None:
    """Restart this process's peak-RSS count (VmHWM, and so ru_maxrss) at
    its current RSS, so the benchmark's own input generation is not in
    ``peak_rss_mb``."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _vm_hwm_kb(pid: int | None) -> int:
    if pid is None:
        return 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _pct(xs: list[float], q: int) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def _never(key) -> bool:
    return False


class Bench:
    def __init__(self, args, work: Path, workload, engine_imported: float):
        from tracing import OFF, Tracer

        self.engine_imported = engine_imported  # perf_counter() after import
        self.args = args
        self.work = work
        self.wl = workload
        self.cores, self.heap_mb = _machine()
        self.tr = Tracer() if args.trace else OFF
        self.spark = None

    def _conf(self) -> dict:
        """The heap starts at its full size (-Xms, without pre-touch) and
        its young generation is a fixed quarter of it (-Xmn): left to G1,
        both are resized at moments that depend on GC pause times, which
        follow the host's load, and the JVM's peak RSS then varies by a
        quarter from run to run."""
        w = self.work
        return {
            "spark.driver.memory": f"{self.heap_mb}m",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={w / 'tmp'} -XX:-UsePerfData "
                f"-Xms{self.heap_mb}m -Xmn{self.heap_mb // 4}m",
            "spark.local.dir": str(w / "spark"),
            "spark.sql.warehouse.dir": str(w / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    def setup(self):
        """Session build + function registration + catalog registration +
        the workload's first operation.  Returns (engine, op)."""
        from localsql_spark.engine import LocalSparkSQL
        from localsql_spark.session import get_spark

        tr = self.tr
        with tr.span("session.build"):
            self.spark = get_spark(master=f"local[{self.cores}]",
                                   extra_conf=self._conf())
        self.spark.sparkContext.setLogLevel("FATAL")
        with tr.span("functions.register"):
            eng = LocalSparkSQL(self.spark)
        self.wl.register(eng, tr)
        return eng, self.wl.first_op(eng, tr, tr.enabled)

    def warm_up(self, eng) -> list:
        """Rounds ``0 .. w-1``, untraced: the workload's warm-up rounds, and
        at least one in a traced run, so that every traced and untraced
        sample is warm."""
        from tracing import OFF

        self.warmup_rounds = max(self.wl.WARMUP_ROUNDS, int(self.tr.enabled))
        return [op for r in range(self.warmup_rounds)
                for op in self.wl.round(eng, OFF, r, _never)]

    def measure(self, eng) -> list[list]:
        """The measured rounds, each a list of operations, numbered on from
        the warm-up.  Untraced: ``n`` rounds.  Traced: ``n`` rounded up to
        a multiple of the workload's ``PAIR_ROUNDS``, over which every
        operation key occurs an even number of times; a key is traced at
        every other occurrence, so it has as many traced as untraced
        samples."""
        from tracing import OFF

        wl, tr = self.wl, self.tr
        w = self.warmup_rounds
        n = max(1, round(self.args.seconds / wl.ROUND_S))
        if not tr.enabled:
            return [wl.round(eng, OFF, r, _never) for r in range(w, w + n)]
        n = -(-n // wl.PAIR_ROUNDS) * wl.PAIR_ROUNDS
        seen = {}  # key -> its rank among keys + its occurrences so far

        def traced(key) -> bool:
            seen[key] = seen.get(key, len(seen)) + 1
            return seen[key] % 2 == 0

        return [wl.round(eng, tr, r, traced) for r in range(w, w + n)]

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext
        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc else None

    def shutdown(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — must not leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)

    def run(self) -> tuple[dict, dict, list]:
        args, tr, wl = self.args, self.tr, self.wl
        info = {"workload": args.workload, "seed": args.seed,
                "cores": self.cores, "heap_mb": self.heap_mb,
                "sf": args.sf}
        info.update(wl.prepare(args.seed, args.sf, self.work))
        _reset_peak_rss()
        if tr.enabled and hasattr(wl, "install_tracing"):
            wl.install_tracing(tr)
        harness_s = time.perf_counter() - self.engine_imported
        eng, first = self.setup()
        warm = self.warm_up(eng)
        setup_s = _since_process_start() - harness_s
        setup_trace = tr.reset() if tr.enabled else None
        rounds = self.measure(eng)
        ops = [op for rnd in rounds for op in rnd]
        peak_kb = _vm_hwm_kb(self.jvm_pid()) + resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss
        eng.close()
        all_ops = [first] + warm + ops
        wl.verify(all_ops)
        lat = [1000 * op.latency_s for op in ops]
        m = {
            "setup_s": setup_s,
            "first_op_ms": 1000 * first.latency_s,
            "op_p50_ms": _pct(lat, 50),
            "op_p90_ms": _pct(lat, 90),
            "ops_per_s": statistics.median(
                len(rnd) / sum(op.latency_s for op in rnd) for rnd in rounds),
            "ok_ratio": sum(bool(op.ok) for op in all_ops) / len(all_ops),
            "peak_rss_mb": peak_kb / 1024,
        }
        seen, repeated = {first.key} | {op.key for op in warm}, 0
        for op in ops:
            repeated += op.key in seen
            seen.add(op.key)
        info.update({"harness_s": round(harness_s, 3),
                     "measured_rounds": len(rounds), "measured_ops": len(ops),
                     "warmup_ops": len(warm),
                     "p90_samples_beyond": sum(x > m["op_p90_ms"] for x in lat),
                     "repeated_input_share": round(repeated / len(ops), 4)})
        if tr.enabled:
            m = self.layer_metrics(ops, setup_trace)
        return m, info, all_ops

    def layer_metrics(self, ops, setup_trace) -> dict:
        """Set-up metrics from the set-up spans; everything else from the
        traced operations of the measured rounds."""
        tr = self.tr
        spans, _ = setup_trace
        n = max(1, sum(op.traced for op in ops))

        def setup_ms(name):
            return sum(1000 * (s[2] - s[1]) for s in spans if s[0] == name)

        first_collect = next((1000 * (s[2] - s[1]) for s in spans
                              if s[0] == "engine.collect"), 0.0)
        pairs = {}  # op key -> ([traced ms], [untraced ms])
        for op in ops:
            pairs.setdefault((op.kind, op.key), ([], []))[
                not op.traced].append(1000 * op.latency_s)
        on = [x for t, _ in pairs.values() for x in t]
        off = [x for _, u in pairs.values() for x in u]
        diffs = [statistics.mean(t) - statistics.mean(u)
                 for t, u in pairs.values() if t and u]
        m = {
            "session.build_ms": setup_ms("session.build"),
            "functions.register_ms": setup_ms("functions.register"),
            "catalog.register_testdata_ms":
                setup_ms("catalog.register_testdata"),
            "engine.run_sql_ms": tr.mean_ms("engine.run_sql"),
            "engine.collect_ms": tr.mean_ms("engine.collect"),
            "engine.first_collect_ms": first_collect,
            "engine.jobs_per_op": tr.counts.get("engine.jobs", 0) / n,
            "engine.stages_per_op": tr.counts.get("engine.stages", 0) / n,
            "engine.tasks_per_op": tr.counts.get("engine.tasks", 0) / n,
            "engine.failed_tasks": tr.counts.get("engine.failed_tasks", 0),
            "catalog.discover_ms": tr.mean_ms("catalog.discover"),
            "catalog.register_file_ms": tr.mean_ms("catalog.register_file"),
            "catalog.descr_ms": tr.mean_ms("catalog.descr"),
            "trace.op_p50_traced_ms": _pct(on, 50) if len(on) > 1 else 0.0,
            "trace.op_p50_untraced_ms": _pct(off, 50) if len(off) > 1 else 0.0,
            "trace.overhead_ms": statistics.median(diffs) if diffs else 0.0,
            "trace.bookkeeping_ms":
                1000 * tr.counts.get("trace.bookkeeping_s", 0) / n,
        }
        m.update(self.wl.layer_metrics(tr))
        return m


def main(argv=None) -> int:
    sys.path.insert(0, str(ROOT))
    try:
        import localsql_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    engine_imported = time.perf_counter()
    workloads = _workloads()
    args = _parse(argv, workloads)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    work = Path.cwd() / ".perfbench_work" / f"run-{os.getpid()}"
    spans = work.parent / f"spans-{args.workload}-{args.seed}.jsonl"
    (work / "tmp").mkdir(parents=True)
    # the JVM and the Python workers it starts inherit these: workers must
    # import the engine's UDF modules, and every scratch file stays in work
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = str(work / "tmp")
    bench = Bench(args, work, workloads[args.workload](),
                  engine_imported)
    try:
        metrics, info, ops = bench.run()
        if bench.tr.enabled:
            bench.tr.dump(spans)
            info["spans_file"] = str(spans)
            info["layer_targets"] = {k: layer_target(k) for k in units}
    finally:
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    if bench.tr.enabled:  # layers the workload does not exercise read 0
        metrics = dict.fromkeys(units, 0.0) | metrics
    if set(metrics) != set(units):
        raise SystemExit("metrics differ from BENCHMARK.json: "
                         f"{sorted(set(metrics) ^ set(units))}")
    failed = sum(not op.ok for op in ops)
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
