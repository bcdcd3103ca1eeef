"""Spans, self time and Spark status-store attribution for the traced run.

A span is one call into a layer, recorded from the benchmark's side of the
call: name, start, end, parent span and thread. Spans are kept in memory
and written out when the run ends. A span may carry a Spark job group; the
jobs Spark runs inside it are then read back from Spark's in-memory status
stores (``AppStatusStore`` for jobs, stages and tasks, ``SQLAppStatusStore``
for the Python-worker SQL metrics) and attributed to it.
"""

from __future__ import annotations

import itertools
import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_PROP = "spark.jobGroup.id"
DESC_PROP = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str
    group: str | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Length of the union of ``(start, end)`` intervals, each clipped to
    ``[lo, hi]`` when given. Overlapping intervals count once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its wall minus the part of it that child spans cover.
    Children that run at the same time are counted once."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.id: s.wall - union_length(
        [(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end)
        for s in spans}


def concurrent_ids(spans: list[Span]) -> set[int]:
    """Ids of spans that overlap in time a sibling (same parent)."""
    out: set[int] = set()
    by_parent: dict[int | None, list[Span]] = {}
    for s in spans:
        by_parent.setdefault(s.parent, []).append(s)
    for sibs in by_parent.values():
        for a, b in itertools.combinations(sibs, 2):
            if a.start < b.end and b.start < a.end:
                out.update((a.id, b.id))
    return out


def layer_table(spans: list[Span]) -> list[dict]:
    """One row per span name: count, summed wall and self time, and
    whether any of its spans ran beside a sibling. Walls of concurrent
    spans overlap and must not be added across rows. Without concurrent
    siblings the self times of one span tree add up to the root's wall;
    concurrent siblings' self times overlap by the time they share."""
    st = self_times(spans)
    conc = concurrent_ids(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s.name, {"span": s.name, "n": 0, "wall_s": 0.0,
                                     "self_s": 0.0, "concurrent": False})
        r["n"] += 1
        r["wall_s"] += s.wall
        r["self_s"] += st[s.id]
        r["concurrent"] |= s.id in conc
    return list(rows.values())


class Tracer:
    """In-memory span recorder. With a SparkContext, a span given a
    ``group`` tags the Spark jobs its thread starts with that job group
    and restores the thread's previous group when it ends."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: int | None = None,
             group: str | None = None):
        sid = next(self._ids)
        tag = group is not None and self.sc is not None
        if tag:
            prev = (self.sc.getLocalProperty(GROUP_PROP),
                    self.sc.getLocalProperty(DESC_PROP))
            self.sc.setLocalProperty(GROUP_PROP, group)
            self.sc.setLocalProperty(DESC_PROP, name)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            if tag:
                self.sc.setLocalProperty(GROUP_PROP, prev[0])
                self.sc.setLocalProperty(DESC_PROP, prev[1])
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent,
                                       threading.current_thread().name,
                                       group))

    def dump(self, path: str, extra: dict) -> None:
        """Write every span, oldest first, and ``extra``."""
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in
                                 sorted(self.spans, key=lambda s: s.start)],
                       **extra}, f, indent=1, default=str)


# -- Spark status stores ------------------------------------------------------

PY_METRICS = {"time to run Python workers": "py_run_s",
              "data sent to Python workers": "to_py_mb",
              "data returned from Python workers": "from_py_mb"}
_UNITS = {"B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024 ** 2 / 1e6,
          "GiB": 1024 ** 3 / 1e6, "TiB": 1024 ** 4 / 1e6,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NUM = re.compile(r"^([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric, in MB (sizes) or seconds (times).
    Spark formats per-task metrics as ``"total (min, med, max ...)\\n<total>
    (...)"`` and single values as ``"<value> <unit>"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line.strip())
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def zero_stats() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "exec_cpu_s": 0.0,
            "exec_run_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "task_skew": 0.0, "py_run_s": 0.0, "to_py_mb": 0.0,
            "from_py_mb": 0.0, "job_intervals": []}


class SparkStatus:
    """Reads jobs, stages, task quantiles and SQL executions from the live
    status stores of one SparkSession. The stores keep the most recent
    1000 jobs and stages (Spark defaults), so read after every op."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._gw = sc._gateway
        self._jvm = jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _doubles(self, *xs):
        arr = self._gw.new_array(self._jvm.double, len(xs))
        for i, x in enumerate(xs):
            arr[i] = x
        return arr

    def attribute(self, groups: set[str]) -> dict[str, dict]:
        """Job group -> Spark work its jobs did (see ``zero_stats``)."""
        out = {g: zero_stats() for g in groups}
        jobs = [j for j in self._json(self._store.jobsList(None))
                if j.get("jobGroup") in groups]
        if not jobs:
            return out
        job_group = {j["jobId"]: j["jobGroup"] for j in jobs}
        stage_group = {}
        for j in jobs:
            st = out[j["jobGroup"]]
            st["jobs"] += 1
            end = j.get("completionTime") or j["submissionTime"]
            st["job_intervals"].append((j["submissionTime"] / 1e3, end / 1e3))
            for sid in j["stageIds"]:
                stage_group[sid] = j["jobGroup"]
        stages = self._json(self._store.stageList(
            None, False, False, self._doubles(), None))
        dominant: dict[str, dict] = {}
        for s in stages:
            g = stage_group.get(s["stageId"])
            if g is None or s["status"] == "SKIPPED":
                continue
            st = out[g]
            st["stages"] += 1
            st["tasks"] += s["numCompleteTasks"]
            st["exec_cpu_s"] += s["executorCpuTime"] / 1e9
            st["exec_run_s"] += s["executorRunTime"] / 1e3
            st["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
            st["spill_mb"] += s["memoryBytesSpilled"] / 1e6
            if s["executorRunTime"] > dominant.get(g, {}).get(
                    "executorRunTime", -1):
                dominant[g] = s
        for g, s in dominant.items():
            q = self._store.taskSummary(s["stageId"], s["attemptId"],
                                        self._doubles(0.5, 1.0))
            if q.isDefined():
                med, mx = self._json(q.get())["executorRunTime"]
                out[g]["task_skew"] = mx / max(med, 1.0)
        self._python_metrics(job_group, out)
        return out

    def _python_metrics(self, job_group: dict[int, str],
                        out: dict[str, dict]) -> None:
        # executions come oldest first; one op runs far fewer than 500
        n = int(self._sql.executionsCount())
        execs = self._json(self._sql.executionsList(max(0, n - 500), 500))
        for e in execs:
            groups = {job_group.get(int(j)) for j in e.get("jobs", {})}
            groups.discard(None)
            if not groups:
                continue
            g = groups.pop()
            values = e.get("metricValues") or {}
            seen = set()
            for m in e.get("metrics", []):
                key = PY_METRICS.get(m["name"])
                acc = str(m["accumulatorId"])
                if key is None or acc in seen or acc not in values:
                    continue
                seen.add(acc)
                out[g][key] += parse_sql_metric(values[acc])
