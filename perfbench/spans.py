"""Spans and Spark stage counters, recorded from outside the program.

Spans are kept in memory and written out when the run ends. A span is
opened around a call into one of the program's public functions, either
directly by a workload or by a wrapper that :meth:`Tracer.wrapped`
installs on the function for the length of one traced unit. Every span
gets its own Spark job group, so the stage counters of the jobs it
started can be read back from Spark's status store.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import time


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sc = self.spark.sparkContext
        rec = {
            "id": next(self._ids), "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None, **attrs,
        }
        rec["group"] = f"perfbench-{rec['id']}-{name}"
        sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                sc._jsc.clearJobGroup()  # noqa: SLF001

    @contextlib.contextmanager
    def wrapped(self, targets):
        """Span every call to ``owner.attr`` for each ``(owner, attr, name)``
        in ``targets`` while the block runs; an optional fourth item maps
        the call's arguments to extra span attributes."""
        restore = []
        try:
            for owner, attr, name, *note in targets:
                fn = getattr(owner, attr)
                restore.append((owner, attr, fn))
                setattr(owner, attr, self._spanned(fn, name, note[0] if note else None))
            yield
        finally:
            for owner, attr, fn in reversed(restore):
                setattr(owner, attr, fn)

    def _spanned(self, fn, name, note):
        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name, **(note(*args, **kwargs) if note else {})):
                return fn(*args, **kwargs)

        return spanned

    def within(self, root: dict, name: str | None = None) -> list[dict]:
        """``root`` and every span under it, or only those called ``name``."""
        ids, found = {root["id"]}, [root]
        for s in sorted(self.spans, key=lambda s: s["id"]):
            if s["parent"] in ids:
                ids.add(s["id"])
                found.append(s)
        return [s for s in found if name is None or s["name"] == name]

    def total(self, root: dict, name: str) -> float:
        return sum(dur(s) for s in self.within(root, name))

    def stages(self, spans: list[dict]) -> dict[str, float]:
        """Status-store counters summed over the jobs the spans started."""
        return stage_metrics(self.spark, [s["group"] for s in spans])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")


def no_span(name: str, **attrs):
    """Stands in for :meth:`Tracer.span` when a unit runs untraced."""
    return contextlib.nullcontext()


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def stage_metrics(spark, groups: list[str]) -> dict[str, float]:
    """Executor time, task skew, shuffle bytes and spill of every stage
    of every job in ``groups``, read from Spark's status store.

    ``task_skew`` is the summed slowest-task run time over the summed
    median-task run time of those stages (1.0 means even tasks).
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()  # noqa: SLF001
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm  # noqa: SLF001
    quantiles = sc._gateway.new_array(jvm.double, 2)  # noqa: SLF001
    quantiles[0], quantiles[1] = 0.5, 1.0
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(
        ["jobs", "tasks", "executor_run_s", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes"], 0.0)
    med_sum = max_sum = 0.0
    for group in groups:
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else []:
                seq = store.stageData(sid, False, jvm.java.util.ArrayList(), True, quantiles)
                for i in range(seq.size()):
                    st = seq.apply(i)
                    out["tasks"] += st.numCompleteTasks()
                    out["executor_run_s"] += st.executorRunTime() / 1000.0
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    dist = st.taskMetricsDistributions()
                    if dist.isDefined():
                        run = dist.get().executorRunTime()
                        med_sum += run.apply(0)
                        max_sum += run.apply(1)
    out["task_skew"] = max_sum / med_sum if med_sum else 1.0
    return out
