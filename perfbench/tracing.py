"""Measurement plumbing owned by the benchmark: spans around layer calls,
streaming progress capture, and the Spark event-log reader.

Nothing here patches the library. Spans wrap calls into its public
functions from outside; Spark's own event log and streaming progress give
the counters.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class NullTracer:
    """Tracing off: spans cost nothing and lazy frames stay lazy."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield

    def materialize(self, df, *aggs):
        return df, None

    def release(self) -> None:
        pass


class Tracer:
    """Records spans (name, start, end, parent, run id) in memory.

    Before each span it sets the Spark job group to the span's name, so
    event-log stage counters are attributed to the layer being called.
    ``materialize`` persists a lazy frame and runs one aggregate over it,
    so the span covers the work of the layer it wraps.
    """

    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._persisted: list = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "parent": parent, "run": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            outer = self.spans[self._stack[-1]]["name"] if self._stack else ""
            self.sc.setJobGroup(outer, outer)

    def materialize(self, df, *aggs):
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(df)
        row = df.agg(F.count(F.lit(1)).alias("_rows"), *aggs).first()
        return df, row

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    def durations(self) -> dict[str, list[float]]:
        out = defaultdict(list)
        for s in self.spans:
            out[s["name"]].append(s["end"] - s["start"])
        return out

    def with_self_time(self) -> list[dict]:
        """Each span plus its self time: duration minus the union of the
        intervals its direct children cover."""
        children = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, last = 0.0, s["start"]
            for a, b in sorted(children[i]):
                a = max(a, last)
                if b > a:
                    covered += b - a
                    last = b
            out.append(dict(s, duration=s["end"] - s["start"],
                            self_time=s["end"] - s["start"] - covered))
        return out


class ProgressCollector(StreamingQueryListener):
    """Keeps every streaming progress event, keyed by query run id."""

    def __init__(self):
        self.progress: dict[str, list[dict]] = defaultdict(list)
        self.names: dict[str, str] = {}
        self._done: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event):
        with self._cv:
            self.names[str(event.runId)] = event.name or ""
            self._cv.notify_all()

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._cv:
            self.progress[p["runId"]].append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cv:
            self._done.add(str(event.runId))
            self._cv.notify_all()

    def run_ids(self) -> set[str]:
        with self._cv:
            return set(self.names)

    def wait_new_runs(self, before: set[str], n: int,
                      timeout: float = 60.0) -> list[str]:
        """Wait until ``n`` queries not in ``before`` have terminated.
        Listener events arrive asynchronously; a query's progress is
        complete once its terminated event has been delivered."""
        deadline = time.monotonic() + timeout
        with self._cv:
            while True:
                new = [r for r in self.names if r not in before]
                if len(new) >= n and set(new) <= self._done:
                    return new
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"{len(new)} of {n} queries ended")
                self._cv.wait(left)

    def triggers(self, run_ids) -> list[dict]:
        """Progress of non-empty triggers of the given runs."""
        with self._cv:
            return [p for r in run_ids for p in self.progress.get(r, [])
                    if p.get("numInputRows", 0) > 0]


_TASK_FIELDS = {
    "executor_cpu_s": (("Executor CPU Time",), 1e-9),
    "executor_run_s": (("Executor Run Time",), 1e-3),
    "gc_s": (("JVM GC Time",), 1e-3),
    "spill_bytes": (("Memory Bytes Spilled",), 1.0),
    "shuffle_bytes": (("Shuffle Write Metrics", "Shuffle Bytes Written"), 1.0),
    "shuffle_records": (("Shuffle Write Metrics", "Shuffle Records Written"),
                        1.0),
    "input_bytes": (("Input Metrics", "Bytes Read"), 1.0),
}
_PY_ACCUMS = {
    "time to start Python workers": ("py_start_s", 1e-3),
    "time to run Python workers": ("py_run_s", 1e-3),
    "data sent to Python workers": ("py_bytes_sent", 1.0),
    "data returned from Python workers": ("py_bytes_returned", 1.0),
}
EVENT_LOG_FIELDS = ["jobs", "tasks"] + list(_TASK_FIELDS) + [
    v[0] for v in _PY_ACCUMS.values()]


def read_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: job and task counts, executor CPU/run/GC time,
    shuffle and spill, input bytes, and Python worker start/run time and
    bytes to and from Python, summed over successful tasks."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(EVENT_LOG_FIELDS, 0.0))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups[g]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                tm = e.get("Task Metrics")
                if not tm or e.get("Task End Reason", {}).get(
                        "Reason") != "Success":
                    continue
                acc = groups[stage_group.get(e["Stage ID"], "")]
                acc["tasks"] += 1
                for name, (keys, scale) in _TASK_FIELDS.items():
                    v = tm
                    for k in keys:
                        v = v.get(k, 0) if isinstance(v, dict) else 0
                    acc[name] += v * scale
                for a in e.get("Task Info", {}).get("Accumulables", []):
                    hit = _PY_ACCUMS.get(a.get("Name"))
                    if hit and a.get("Update") is not None:
                        acc[hit[0]] += float(a["Update"]) * hit[1]
    return dict(groups)
