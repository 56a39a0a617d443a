"""Tracing for the ingest benchmark, installed from outside the package.

Everything here wraps or reads public surfaces; the package is never
edited:

* ``Tracer.wrap`` replaces a module or class attribute with a wrapper that
  records a span (name, start, end, parent, op id, py4j commands) around
  each call.  Spans stay in memory; ``driver.py`` writes them out at exit.
* ``Py4jCounter`` counts gateway commands by wrapping the client's
  ``send_command``; reference-release commands (py4j garbage collection of
  Java proxies) are excluded because their number drifts with the Python
  GC, not with the work done.
* ``StageReader`` sums stage metrics (run, CPU and GC time, tasks, shuffle
  bytes) from the JVM status store for a set of Spark job ids, and SQL
  metrics (the ArrowEvalPython ones) from the SQL status store.
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

_RELEASE = "m\nd\n"  # py4j MEMORY_COMMAND + MEMORY_DEL_SUBCOMMAND


class Py4jCounter:
    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.n = 0
        self._orig = self.client.send_command

        def send_command(command, *a, **kw):
            if not command.startswith(_RELEASE):
                self.n += 1
            return self._orig(command, *a, **kw)

        self.client.send_command = send_command

    def close(self):
        self.client.send_command = self._orig


class Tracer:
    """In-memory span recorder.  ``op`` is the id of the pass or micro-batch
    in progress, set by ``driver.py``."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | str | None = None
        self.py4j: Py4jCounter | None = None
        self.capture_plan = False
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._lock = threading.Lock()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Record a span named ``name`` around every call of ``owner.attr``;
        ``on_result(record, args, kwargs, result)`` may add fields."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                result = orig(*args, **kwargs)
            if on_result is not None:
                on_result(sp.record, args, kwargs, result)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        if self.py4j is not None:
            self.py4j.close()


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        stack = tracer._stack()
        self.record = {
            "id": None, "name": name, "op": tracer.op,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
        }

    def __enter__(self):
        t = self.tracer
        with t._lock:
            self.record["id"] = len(t.spans)
            t.spans.append(self.record)
        t._stack().append(self.record)
        self.record["py4j0"] = t.py4j.n if t.py4j else 0
        self.record["start"] = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.tracer
        self.record["end"] = time.perf_counter()
        self.record["py4j"] = (t.py4j.n if t.py4j else 0) - self.record.pop("py4j0")
        self.record["error"] = exc[0].__name__ if exc[0] else None
        t._stack().pop()
        return False


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: summed duration minus the part its child spans
    cover (children of one parent never overlap here: one thread each)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
    return dict(out)


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^(?:total[^\n]*\n)?\s*([0-9][0-9,.]*)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric (``'1.2 MiB'``, ``'total (...)\\n3.4 s
    (...)'``, ``'100,000'``) -> bytes, seconds or a plain count."""
    m = _TOTAL.match(text.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


class StageReader:
    """Stage and SQL metric sums read from the driver's status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def group_jobs(self, group: str) -> set[int]:
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_sums(self, job_ids) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        out = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
               "exec.run_s": 0.0, "exec.cpu_s": 0.0, "exec.gc_s": 0.0,
               "shuffle.write_bytes": 0}
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            out["spark.jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never submitted
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numCompleteTasks()
                out["exec.run_s"] += sd.executorRunTime() / 1e3
                out["exec.cpu_s"] += sd.executorCpuTime() / 1e9
                out["exec.gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle.write_bytes"] += sd.shuffleWriteBytes()
        return out

    def sql_count(self) -> int:
        return self.sql.executionsCount()

    def python_sums(self, first: int, last: int) -> dict[str, float]:
        """ArrowEvalPython metrics summed over the SQL executions with ids in
        ``[first, last)``."""
        out = {v: 0.0 for v in PYTHON_METRICS.values()}
        it = self.sql.executionsList().iterator()
        while it.hasNext():
            e = it.next()
            if not first <= e.executionId() < last:
                continue
            wanted = []
            ms = e.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                key = PYTHON_METRICS.get(m.name())
                if key:
                    wanted.append((key, m.accumulatorId()))
            if not wanted:
                continue
            values = self.sql.executionMetrics(e.executionId())
            for key, acc in wanted:
                opt = values.get(acc)
                if opt.isDefined():
                    out[key] += parse_metric(opt.get())
        return out


def plan_shape(df) -> dict[str, int]:
    """Analyzed-plan node count and physical Exchange count of a frame."""
    qe = df._jdf.queryExecution()
    analyzed = qe.analyzed().treeString().splitlines()
    physical = qe.executedPlan().treeString().splitlines()
    return {
        "plan.analyzed_nodes": sum(1 for ln in analyzed if ln.strip()),
        "plan.exchanges": sum(1 for ln in physical if "Exchange" in ln
                              and "ReusedExchange" not in ln),
    }
