#!/usr/bin/env python
"""Per-query job/stage wall-time breakdown (optimization guide §1).

For each named query: one warm pass (plan/codegen compile), then one timed
pass executed via ``.count()`` (the bench's action).  The session writes a
Spark event log; afterwards the log is parsed into, per query:

- total wall, number of Spark jobs, sum of job walls, and the DRIVER GAP
  (wall - sum of job walls: planning, collect processing, driver file I/O);
- py4j round-trips (``GatewayClient.send_command`` calls) made while
  BUILDING the DataFrame and while RUNNING its action — the Python-side
  share of the driver gap, one socket round-trip each;
- generated classes compiled, and the compile milliseconds, while building
  and while running (``session.codegen_compiles``): each is a miss of
  Spark's codegen cache, so a warm query that still compiles shows it;
- the slowest stages (wall, summed executor task time, callsite name).

Usage:  python tools/profile_query.py q1 q2 ...
        [env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_DRIVER_MEMORY]
Output: JSON to stdout + human summary to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


class Py4jCalls:
    """Counts the py4j round-trips this thread makes: wraps
    ``GatewayClient.send_command`` (every JVM call and attribute lookup
    from Python goes through it) for the counter's lifetime; ``n`` is the
    running count.  Calls from other threads are not counted — notably
    py4j's finalizer thread, which releases garbage-collected Java
    objects at times unrelated to the work being measured."""

    def __init__(self) -> None:
        import threading

        from py4j.java_gateway import GatewayClient

        self.n = 0
        self._cls, self._orig = GatewayClient, GatewayClient.send_command
        orig, owner = self._orig, threading.get_ident()

        def send_command(client, *args, **kwargs):
            if threading.get_ident() == owner:
                self.n += 1
            return orig(client, *args, **kwargs)

        GatewayClient.send_command = send_command

    def close(self) -> None:
        self._cls.send_command = self._orig


def parse_event_log(path: Path) -> dict:
    """Event log -> {job_id: {desc, submit, complete, stages: [...]},
    stage_id: {...}}."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    task_time: dict[int, float] = {}
    with path.open() as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "desc": props.get("spark.job.description", ""),
                    "submit": ev.get("Submission Time", 0) / 1000.0,
                    "complete": None,
                    "stage_ids": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                }
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["complete"] = ev.get("Completion Time", 0) / 1000.0
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                com = si.get("Completion Time")
                stages[sid] = {
                    "name": si.get("Stage Name", ""),
                    "wall": ((com - sub) / 1000.0) if sub and com else None,
                    "n_tasks": si.get("Number of Tasks"),
                }
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                tm = ev.get("Task Metrics") or {}
                task_time[sid] = task_time.get(sid, 0.0) + tm.get(
                    "Executor Run Time", 0) / 1000.0
    for sid, st in stages.items():
        st["task_time"] = round(task_time.get(sid, 0.0), 3)
    return {"jobs": jobs, "stages": stages}


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = Path(tempfile.mkdtemp(prefix="spark-events-"))
    from localsql_spark.operators import cleanup
    from localsql_spark.session import codegen_compiles, get_spark
    from localsql_spark.workload import all_queries, load

    spark = get_spark(app_name="profile_query", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": evdir.as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    load(spark, sf_dir)

    # mark the timed window of each query with a job-description label so
    # the event-log jobs can be attributed (guide §1.5)
    windows: dict[str, tuple[float, float]] = {}
    calls: dict[str, tuple[int, int]] = {}
    compiles: dict[str, dict] = {}
    py4j = Py4jCalls()
    for name in names:
        fn = queries.get(name)
        if fn is None:
            print(f"# unknown query {name}", file=sys.stderr)
            continue
        fn(spark, sf_dir).count()  # warm: plan+codegen+page cache
        cleanup()
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        n0, c0 = py4j.n, codegen_compiles(spark)
        df = fn(spark, sf_dir)
        n1, c1 = py4j.n, codegen_compiles(spark)
        df.count()
        t1 = time.time()
        c2 = codegen_compiles(spark)
        calls[name] = (n1 - n0, py4j.n - n1)
        compiles[name] = {
            "compiles_build": c1[0] - c0[0], "compiles_run": c2[0] - c1[0],
            "compile_ms_build": round(c1[1] - c0[1], 1),
            "compile_ms_run": round(c2[1] - c1[1], 1)}
        spark.sparkContext.setJobDescription(None)
        cleanup()
        windows[name] = (t0, t1)
        print(f"# {name}: {t1 - t0:.3f}s", file=sys.stderr)
    py4j.close()
    app_id = spark.sparkContext.applicationId
    spark.stop()

    logs = list(evdir.glob(f"*{app_id}*"))
    if not logs:
        logs = sorted(evdir.iterdir())
    log = logs[0]
    if log.is_dir():  # Spark 4 rolling event-log dir (eventlog_v2_*)
        inner = sorted(p for p in log.iterdir() if "appstatus" not in p.name)
        log = inner[0]
    parsed = parse_event_log(log)
    out: dict[str, dict] = {}
    for name, (t0, t1) in windows.items():
        jobs = {jid: j for jid, j in parsed["jobs"].items()
                if j["desc"] == name and j["submit"] >= t0 - 1}
        job_walls = []
        stage_rows = []
        for jid in sorted(jobs):
            j = jobs[jid]
            if j["complete"]:
                job_walls.append(round(j["complete"] - j["submit"], 3))
            for sid in j["stage_ids"]:
                st = parsed["stages"].get(sid)
                if st and st["wall"] is not None:
                    stage_rows.append({
                        "stage": sid, "job": jid, "wall": round(st["wall"], 3),
                        "task_time": st["task_time"], "n_tasks": st["n_tasks"],
                        "name": st["name"].split("\n")[0][:120]})
        stage_rows.sort(key=lambda r: -r["wall"])
        wall = round(t1 - t0, 3)
        sum_jobs = round(sum(job_walls), 3)
        out[name] = {
            "wall": wall,
            "n_jobs": len(jobs),
            "sum_job_walls": sum_jobs,
            "driver_gap": round(wall - sum_jobs, 3),
            "py4j_build": calls[name][0],
            "py4j_run": calls[name][1],
            **compiles[name],
            "job_walls": job_walls,
            "top_stages": stage_rows[:12],
        }
        c = compiles[name]
        print(f"## {name}: wall={wall}s jobs={len(jobs)} "
              f"sum_job_walls={sum_jobs}s driver_gap={out[name]['driver_gap']}s"
              f" py4j_calls={calls[name][0]}+{calls[name][1]}"
              f" compiles={c['compiles_build']}+{c['compiles_run']}"
              f" ({c['compile_ms_build']}+{c['compile_ms_run']} ms)"
              " (build+run)", file=sys.stderr)
        for r in stage_rows[:8]:
            print(f"    stage {r['stage']:>4} wall={r['wall']:>7.3f}s "
                  f"task_time={r['task_time']:>8.3f}s tasks={r['n_tasks']:>4} "
                  f"{r['name']}", file=sys.stderr)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
