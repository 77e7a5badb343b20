"""In-memory spans and Spark job counts for the traced run.

A span is ``(name, start, end, parent, op_id)``: every outermost span (one
benchmark operation, or one set-up step) takes a fresh ``op_id`` that the
spans inside it share.  Nothing is written until :meth:`Tracer.dump`.
Untraced runs use :data:`OFF`, whose methods do no timing and no Spark calls.
The benchmark drives the engine from one thread, so there is no locking.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


class _Off:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    @contextlib.contextmanager
    def jobs(self, sc, *keys: str):
        yield None


OFF = _Off()


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = {}
        self.done: list[tuple[list, dict]] = []
        self._stack: list[tuple[str, int]] = []
        self._ops = itertools.count()
        self._groups = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        op_id = parent[1] if parent else next(self._ops)
        self._stack.append((name, op_id))
        t0 = time.perf_counter()
        try:
            yield None
        finally:
            self._stack.pop()
            self.spans.append((name, t0, time.perf_counter(),
                               parent[0] if parent else None, op_id))

    def count(self, key: str, value: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    @contextlib.contextmanager
    def jobs(self, sc, *keys: str):
        """Run the block under a fresh Spark job group and add its job,
        stage, task and failed-task counts to ``<key>.jobs`` etc. for every
        key.  Groups do not nest: the block must not open another."""
        group = f"pb-{next(self._groups)}"
        sc.setJobGroup(group, keys[0])
        try:
            yield None
        finally:
            t0 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = sc.statusTracker()
            jobs = stages = tasks = failed = 0
            for jid in tracker.getJobIdsForGroup(group):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        stages += 1
                        tasks += st.numTasks
                        failed += st.numFailedTasks
            for key in keys:
                for k, v in (("jobs", jobs), ("stages", stages),
                             ("tasks", tasks), ("failed_tasks", failed)):
                    self.count(f"{key}.{k}", v)
            self.count("trace.bookkeeping_s", time.perf_counter() - t0)

    def reset(self) -> tuple[list, dict]:
        """Hand back the spans and counts so far and start afresh."""
        out = (self.spans, self.counts)
        self.spans, self.counts = [], {}
        self.done.append(out)
        return out

    def total_ms(self, name: str) -> float:
        return 1000 * sum(s[2] - s[1] for s in self.spans if s[0] == name)

    def n(self, name: str) -> int:
        return sum(1 for s in self.spans if s[0] == name)

    def mean_ms(self, name: str) -> float:
        k = self.n(name)
        return self.total_ms(name) / k if k else 0.0

    def dump(self, path) -> None:
        """Every span and count, earlier resets included, as JSON lines."""
        with open(path, "w") as f:
            for spans, counts in self.done + [(self.spans, self.counts)]:
                for name, t0, t1, parent, op in spans:
                    f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                        "parent": parent, "op": op}) + "\n")
                f.write(json.dumps({"counts": counts}) + "\n")
