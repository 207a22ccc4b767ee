"""Spans, counts and readers of Spark's own status stores.

The traced run records a span at each module boundary the benchmark calls
into (name, start, end, parent, run id), keeps spans and counts in memory
and writes them out as JSONL when the run ends. A module's self time is its
span time minus the part of that interval its child spans cover.

The status-store readers take what Spark already keeps with the UI off:
per-job stage ids, per-stage task metrics (AppStatusStore) and per-node SQL
metrics (SQLAppStatusStore). None of them starts a Spark job.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    """Span recorder. Disabled, `span` costs one branch and records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._local = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"counts": dict(self.counts), "run_id": self.run_id}) + "\n")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the union of the intervals its
    direct children cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children[s["id"]]):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)


# ---- Spark status stores ---------------------------------------------------

def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


def stage_metrics(sc, job_ids) -> dict:
    """Summed task metrics over the distinct stages of `job_ids` (latest
    attempt of each stage; skipped stages contribute zeros)."""
    store = sc._jsc.sc().statusStore()
    stages: set[int] = set()
    for j in job_ids:
        stages.update(int(s) for s in _iter(store.job(j).stageIds()))
    tot = Counter()
    for sid in stages:
        sd = store.lastStageAttempt(sid)
        tot["tasks"] += sd.numCompleteTasks()
        tot["executor_run_ms"] += sd.executorRunTime()
        tot["executor_cpu_ns"] += sd.executorCpuTime()
        tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
        tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    tot["stages"] = sum(1 for sid in stages if store.lastStageAttempt(sid).numCompleteTasks())
    tot["jobs"] = len(job_ids)
    return dict(tot)


def job_span_s(sc, job_id: int) -> float:
    """Wall from submission to completion of one job, from the status store."""
    jd = sc._jsc.sc().statusStore().job(job_id)
    sub, done = jd.submissionTime(), jd.completionTime()
    if sub.isEmpty() or done.isEmpty():
        return 0.0
    return (done.get().getTime() - sub.get().getTime()) / 1000.0


_NUM = re.compile(r"([\d,.]+)\s*(ms|s|min|h|B|KiB|MiB|GiB)?")
_UNIT = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
         "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, None: 1}


def _metric_value(s: str) -> float:
    """A SQL metric's display string as a number (seconds for times, bytes
    for sizes). Multi-task metrics read 'total (min, med, max ...)\\n<total>
    (...)': the total is the first number of the second line."""
    line = s.split("\n")[1] if "\n" in s else s
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)]


def sql_nodes(spark, min_execution_id: int, job_ids: set[int]):
    """(node name, {metric name: value}) for every plan node of the SQL
    executions with id >= min_execution_id that ran one of `job_ids`."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    for e in _iter(store.executionsList()):
        eid = e.executionId()
        if eid < min_execution_id:
            continue
        if not {int(j) for j in _iter(e.jobs().keys())} & job_ids:
            continue
        values = store.executionMetrics(eid)
        for node in _iter(store.planGraph(eid).allNodes()):
            ms = {}
            for m in _iter(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    ms[m.name()] = _metric_value(v.get())
            out.append((node.name(), ms))
    return out


def sql_execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def plan_shape(nodes) -> dict:
    """Exchange / Sort / Generate node counts and join output rows (the
    candidate volume of grid- and bucket-pruned operators)."""
    c = Counter()
    for name, ms in nodes:
        if name.startswith("Exchange"):
            c["exchanges"] += 1
        elif name.startswith("Sort") and not name.startswith("SortAggregate"):
            c["sorts"] += 1
        elif name.startswith("Generate"):
            c["generates"] += 1
        if "Join" in name:
            c["join_rows"] += ms.get("number of output rows", 0)
    return dict(c)
