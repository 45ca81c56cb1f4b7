"""Traced run: spans and counters recorded from outside the engine.

:class:`Tracer` patches the public entry points of each engine module for the
length of a traced window and restores them afterwards. Each span records its
name, start, end, parent span and the operation (batch op or HTTP request) it
belongs to; spans stay in memory until :meth:`Tracer.summary` folds them into
per-operation layer self times. Spark execution metrics are read from the
driver's status REST API after the window, attributed to each operation by
the Spark job tag the wrapper sets on the calling thread.

Planning is never triggered by the tracer. After each ``DataFrame.collect``,
``localCheckpoint`` or ``explain`` returns, the optimisation and physical
planning phases that the action's own ``QueryExecution`` recorded in its
``QueryPlanningTracker`` become ``spark.plan`` child spans of the action. The
noop write builds its ``QueryExecution`` inside Spark, out of reach, so its
planning stays in ``spark.exec``. The tracer's own py4j calls (tags, tracker
reads) are not counted in ``py4j.*``.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import re
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from urllib.parse import urlparse

# layer metrics reported as totals of inclusive time (outermost span of the
# name only, so recursion is not counted twice)
TIMED_LAYERS = {
    "serving.df_json": "serving.df_json_s",
    "api.build": "api.build_s",
    "cypher.bind_params": "cypher.bind_params_s",
    "cypher.parse": "cypher.parse_s",
    "cypher.run": "cypher.run_s",
    "operators.build": "operators.build_s",
    "spark.plan": "spark.plan_s",
}
# layer metrics reported as totals of self time
SELF_LAYERS = {
    "spark.exec": "spark.exec_s",  # less the planning measured inside it
}

COUNTERS = (
    "serving.response_bytes", "cypher.parse_calls", "catalog.view_calls",
    "catalog.view_misses", "pregel.fixpoint_calls", "pregel.supersteps",
    "pregel.nonconverged", "pyspark.local_checkpoints", "pyspark.is_empty_checks",
    "py4j.calls", "py4j.s",
)

SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.executor_run_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes",
)

TAG_PREFIX = "perfbench-"

PLAN_PHASES = ("optimization", "planning")
_PHASE = re.compile(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)")


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[tuple] = []  # (id, parent, name, op, start, end)
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.ops: dict[str, str] = {}  # op id -> op name / request class
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        # wall clock minus perf_counter: maps the JVM's millisecond clock
        # onto the spans' time base
        self._offset = time.time() - time.perf_counter()

    # -- spans and counters -------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def count(self, name: str, value: float = 1.0) -> None:
        op = getattr(self._tls, "op", None)
        with self._lock:
            self.counts[op][name] += value

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, name, getattr(self._tls, "op", None), start, end))

    @contextmanager
    def internal(self):
        """py4j calls the tracer makes itself, left out of ``py4j.*``."""
        self._tls.internal = True
        try:
            yield
        finally:
            self._tls.internal = False

    @contextmanager
    def operation(self, op_id: str, op_name: str):
        """Root span of one batch op or request; tags its Spark jobs."""
        self.ops[op_id] = op_name
        self._tls.op = op_id
        self._tls.tag = None
        self.phase("run")
        try:
            with self.span("op.run"):
                yield
        finally:
            with self.internal():
                self.spark.removeTag(self._tls.tag)
            self._tls.op = None

    def phase(self, phase: str) -> None:
        """Re-tag the current operation's Spark jobs as ``phase``."""
        with self.internal():
            if self._tls.tag is not None:
                self.spark.removeTag(self._tls.tag)
            self._tls.tag = f"{TAG_PREFIX}{self._tls.op}~{phase}"
            self.spark.addTag(self._tls.tag)

    def plan_spans(self, df, since: float) -> None:
        """Record the planning phases ``df``'s own ``QueryExecution`` ran after
        wall-clock time ``since`` as ``spark.plan`` children of the current span."""
        with self.internal():
            text = df._jdf.queryExecution().tracker().phases().toString()
        stack = self._stack()
        parent = stack[-1] if stack else None
        now = time.perf_counter()
        for phase, start_ms, end_ms in _PHASE.findall(text):
            if phase not in PLAN_PHASES or int(start_ms) < int(since * 1000):
                continue  # analysis, or planned before this action
            start = min(int(start_ms) / 1000.0 - self._offset, now)
            end = min(max(int(end_ms) / 1000.0 - self._offset, start), now)
            with self._lock:
                self.spans.append((next(self._ids), parent, "spark.plan",
                                   getattr(self._tls, "op", None), start, end))

    # -- patching -----------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(make(orig)))

    def wrap(self, owner, attr: str, span_name: str, on_result=None) -> None:
        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(span_name):
                    out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(out)
                return out
            return wrapper
        self._patch(owner, attr, make)

    def install(self) -> None:
        from mimranalytics_core_spark import api, catalog, cypher, serving
        from mimranalytics_core_spark.functions import graph_algos
        from mimranalytics_core_spark.operators import graph as graph_ops

        self.wrap(serving, "_df_json", "serving.df_json",
                  lambda out: self.count("serving.response_bytes", len(out)))
        for name in ("cypher", "expand_neighborhood", "ubo_report"):
            self.wrap(api, name, "api.build")
        self.wrap(cypher, "bind_params", "cypher.bind_params")
        self.wrap(cypher, "parse", "cypher.parse",
                  lambda _: self.count("cypher.parse_calls"))
        self.wrap(cypher, "run", "cypher.run")

        def view(orig):
            def wrapper(*args, **kwargs):
                before = len(catalog._VIEW_CACHE)
                t0 = time.perf_counter()
                with self.span("catalog.view"):
                    out = orig(*args, **kwargs)
                self.count("catalog.view_calls")
                if len(catalog._VIEW_CACHE) > before:
                    self.count("catalog.view_misses")
                    self.count("catalog.view_build_s", time.perf_counter() - t0)
                return out
            return wrapper
        for name, fn in vars(catalog).copy().items():
            if callable(fn) and getattr(fn, "__wrapped__", None) is not None \
                    and fn.__module__ == catalog.__name__:
                self._patch(catalog, name, view)

        def fixpoint(orig):
            sig = inspect.signature(orig)

            def wrapper(*args, **kwargs):
                bound = sig.bind(*args, **kwargs)
                bound.apply_defaults()
                step = bound.arguments["step"]
                steps = [0]

                def counted(state):
                    steps[0] += 1
                    return step(state)
                bound.arguments["step"] = counted
                with self.span("pregel.fixpoint"):
                    out = orig(*bound.args, **bound.kwargs)
                self.count("pregel.fixpoint_calls")
                self.count("pregel.supersteps", steps[0])
                # the loop ran every superstep it was allowed: it returned
                # at max_iter, whether or not the last check converged
                if steps[0] >= bound.arguments["max_iter"]:
                    self.count("pregel.nonconverged")
                return out
            return wrapper
        for module in (graph_algos, graph_ops):
            self._patch(module, "iterate_fixpoint", fixpoint)

        def planned(span_name: str, counter: str | None = None):
            def make(orig):
                def wrapper(df, *args, **kwargs):
                    since = time.time()
                    with self.span(span_name):
                        out = orig(df, *args, **kwargs)
                        self.plan_spans(df, since)
                    if counter is not None:
                        self.count(counter)
                    return out
                return wrapper
            return make

        frame = type(self.spark.range(1))  # the classic DataFrame implementation
        self._patch(frame, "collect", planned("spark.exec"))
        self._patch(frame, "explain", planned("pyspark.explain"))
        self._patch(frame, "localCheckpoint",
                    planned("pyspark.local_checkpoint", "pyspark.local_checkpoints"))
        self.wrap(frame, "isEmpty", "pyspark.is_empty",
                  lambda _: self.count("pyspark.is_empty_checks"))

        client = self.spark.sparkContext._gateway._gateway_client

        def send(orig):
            def wrapper(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return orig(*args, **kwargs)
                finally:
                    if not getattr(self._tls, "internal", False):
                        op = getattr(self._tls, "op", None)
                        dt = time.perf_counter() - t0
                        with self._lock:
                            c = self.counts[op]
                            c["py4j.calls"] += 1
                            c["py4j.s"] += dt
            return wrapper
        self._patch(client, "send_command", send)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            if isinstance(owner, type) or inspect.ismodule(owner):
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)  # instance patch: fall back to the class

    def timed(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    # -- Spark execution metrics -------------------------------------------
    def _rest(self, path: str):
        port = urlparse(self.spark.sparkContext.uiWebUrl).port
        app = self.spark.sparkContext.applicationId
        url = f"http://127.0.0.1:{port}/api/v1/applications/{app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.loads(resp.read())

    def spark_metrics(self) -> dict[str, dict[str, float]]:
        """Per-op job, stage, task, run-time, shuffle and spill totals."""
        time.sleep(1.0)  # let the status listener catch up with the last jobs
        jobs = self._rest("jobs")
        stages = {s["stageId"]: s for s in self._rest("stages")
                  if s.get("status") in ("COMPLETE", "FAILED")}
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        stage_ops: dict[int, str] = {}
        for job in jobs:
            tags = [t for t in job.get("jobTags", []) if TAG_PREFIX in t]
            if not tags:
                continue
            op, phase = tags[0].split(TAG_PREFIX, 1)[1].rsplit("~", 1)
            out[op]["spark.jobs"] += 1
            if phase == "build":
                out[op]["operators.build_jobs"] += 1
            for sid in job.get("stageIds", []):
                stage_ops.setdefault(sid, op)
        for sid, op in stage_ops.items():
            st = stages.get(sid)
            if st is None:  # skipped: its output was reused
                continue
            m = out[op]
            m["spark.stages"] += 1
            m["spark.tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
            m["spark.failed_tasks"] += st.get("numFailedTasks", 0)
            m["spark.executor_run_s"] += st.get("executorRunTime", 0) / 1000.0
            m["spark.shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            m["spark.shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            m["spark.spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        return out

    # -- summary ------------------------------------------------------------
    def summary(self) -> dict[str, dict]:
        """Per-op record: inclusive layer times, layer self times, counters."""
        by_op: dict[str, list[tuple]] = defaultdict(list)
        for s in self.spans:
            by_op[s[3]].append(s)
        spark = self.spark_metrics()
        records = {}
        for op, name in self.ops.items():
            spans = by_op.get(op, [])
            names = {s[0]: s[2] for s in spans}
            parents = {s[0]: s[1] for s in spans}
            children: dict[int, list[tuple[float, float]]] = defaultdict(list)
            for s in spans:
                children[s[1]].append((s[4], s[5]))
            inclusive: dict[str, float] = defaultdict(float)
            self_time: dict[str, float] = defaultdict(float)
            for sid, _parent, sname, _op, start, end in spans:
                self_time[sname] += (end - start) - _covered(children.get(sid, []), start, end)
                p, nested = parents.get(sid), False
                while p is not None:
                    if names.get(p) == sname:
                        nested = True
                        break
                    p = parents.get(p)
                if not nested:
                    inclusive[sname] += end - start
            counts = dict(self.counts.get(op, {}))
            counts.update(spark.get(op, {}))
            records[op] = {
                "name": name,
                "wall_s": inclusive.get("op.run", 0.0),
                "layer_s": {k: round(v, 6) for k, v in sorted(inclusive.items())},
                "self_s": {k: round(v, 6) for k, v in sorted(self_time.items())},
                "counts": {k: round(v, 6) for k, v in sorted(counts.items())},
            }
        return records


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def layer_metrics(records: dict[str, dict], window_s: float, cores: int) -> dict[str, float]:
    """Per-operation means of every per-layer metric over a traced window."""
    n = max(len(records), 1)
    out: dict[str, float] = {}
    for span, metric in TIMED_LAYERS.items():
        out[metric] = sum(r["layer_s"].get(span, 0.0) for r in records.values()) / n
    for span, metric in SELF_LAYERS.items():
        out[metric] = sum(r["self_s"].get(span, 0.0) for r in records.values()) / n
    out["catalog.view_build_s"] = sum(
        r["counts"].get("catalog.view_build_s", 0.0) for r in records.values()) / n
    for name in COUNTERS + SPARK_COUNTERS:
        out[name] = sum(r["counts"].get(name, 0.0) for r in records.values()) / n
    calls = out["catalog.view_calls"]
    out["catalog.view_hit_ratio"] = (calls - out["catalog.view_misses"]) / calls if calls else 0.0
    out["operators.build_jobs"] = sum(
        r["counts"].get("operators.build_jobs", 0.0) for r in records.values()) / n
    total_run = sum(r["counts"].get("spark.executor_run_s", 0.0) for r in records.values())
    out["spark.busy_frac"] = total_run / (window_s * cores) if window_s > 0 else 0.0
    return out
