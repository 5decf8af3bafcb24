"""Layer tracing for the spec-suite benchmark, installed from outside.

``Tracer.install`` wraps the public entry points of each layer of
``datajudge_spark`` (the library itself is not edited) and records one
span per call: layer, start, end, parent and pass id.  Spans stay in
memory; ``Tracer.dump`` writes them out when the run ends.  py4j
round-trips are counted at the gateway client.  Spark engine figures
come from the event log (``spark_jobs``), which the benchmark enables
only for traced runs.

A layer's self time is its spans' duration minus the part covered by
their child spans.  ``trace.overhead_frac`` is the wrappers' own cost
(``wrapper_cost_s``, timed on no-op calls) times the calls wrapped in a
traced pass, over that pass's time.
"""

from __future__ import annotations

import inspect
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import asdict, dataclass

LAYERS = ("streaming", "requirements", "constraints", "operators", "reference",
          "sources", "pipeline", "plans")


@dataclass
class Span:
    id: int
    layer: str
    name: str
    start: float  # epoch seconds (joins with Spark's event-log clock)
    end: float
    parent: int | None
    pass_id: int


def _subclasses(cls):
    out = []
    for sub in cls.__subclasses__():
        out.append(sub)
        out.extend(_subclasses(sub))
    return out


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.pass_id = -1
        self._local = threading.local()
        # spans opened by the foreachBatch callback thread hang under the
        # run_available span open on the main thread
        self._stream_root: int | None = None
        self._restore: list = []
        self.py4j_calls = 0
        self.py4j_s = 0.0

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def _span(self, layer: str, name: str, fn, args, kwargs, key=None):
        stack = self._stack()
        # a subclass ``test`` calling ``super().test`` is one check, not two
        if key is not None and stack and stack[-1][1] == key:
            return fn(*args, **kwargs)
        parent = stack[-1][0] if stack else self._stream_root
        span = Span(len(self.spans), layer, name, time.time(), 0.0, parent,
                    self.pass_id)
        self.spans.append(span)
        stack.append((span.id, key))
        if name.endswith(".run_available"):
            self._stream_root = span.id
        try:
            return fn(*args, **kwargs)
        finally:
            span.end = time.time()
            stack.pop()
            if self._stream_root == span.id:
                self._stream_root = None

    # -- installation -------------------------------------------------------

    def _wrap_method(self, cls, attr: str, layer: str, per_instance: bool):
        orig = cls.__dict__[attr]
        tracer = self
        name = f"{cls.__name__}.{attr}"

        def wrapper(self_, *args, **kwargs):
            key = (attr, id(self_)) if per_instance else None
            return tracer._span(layer, name, orig, (self_, *args), kwargs, key)

        wrapper.__wrapped__ = orig
        setattr(cls, attr, wrapper)
        self._restore.append(lambda: setattr(cls, attr, orig))

    def _wrap_function(self, fn, layer: str) -> None:
        """Replace every reference to ``fn`` held by a loaded module of
        the library, so ``ops.get_min`` and ``from .x import get_min``
        call sites both see the wrapper."""
        tracer = self

        def wrapper(*args, **kwargs):
            return tracer._span(layer, fn.__name__, fn, args, kwargs)

        wrapper.__wrapped__ = fn
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("datajudge_spark"):
                continue
            for key, value in list(vars(mod).items()):
                if value is fn:
                    setattr(mod, key, wrapper)
                    self._restore.append(
                        lambda m=mod, k=key: setattr(m, k, fn))

    def install(self, spark) -> None:
        import datajudge_spark.operators as operators
        import datajudge_spark.pipeline._util as pipeline_util
        import datajudge_spark.plans as plans
        from datajudge_spark.constraints.base import Constraint
        from datajudge_spark.reference import DataReference
        from datajudge_spark.requirements import Requirement
        from datajudge_spark.sources import DataSource
        from datajudge_spark.streaming import StreamingConstraintMonitor

        self._wrap_method(Requirement, "test", "requirements", False)
        for cls in [Constraint, *_subclasses(Constraint)]:
            if "test" in cls.__dict__:
                self._wrap_method(cls, "test", "constraints", True)
        for cls in _subclasses(DataSource):
            if "get_df" in cls.__dict__:
                self._wrap_method(cls, "get_df", "sources", False)
        self._wrap_method(DataReference, "get_selection", "reference", False)
        self._wrap_method(StreamingConstraintMonitor, "run_available",
                          "streaming", False)
        self._wrap_method(StreamingConstraintMonitor, "_process_batch",
                          "streaming", False)
        seen = set()
        for mod in list(sys.modules.values()):
            mod_name = getattr(mod, "__name__", "")
            if not mod_name.startswith(operators.__name__ + "."):
                continue
            for key, value in list(vars(mod).items()):
                if (inspect.isfunction(value) and not key.startswith("_")
                        and value.__module__ == mod_name
                        and id(value) not in seen):
                    seen.add(id(value))
                    self._wrap_function(value, "operators")
        self._wrap_function(pipeline_util.materialize_once, "pipeline")
        self._wrap_function(plans.render_plans, "plans")

        client = spark.sparkContext._gateway._gateway_client
        client.send_command = self._counted(client.send_command)
        self._restore.append(lambda: delattr(client, "send_command"))

    def _counted(self, send):
        def counted(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                self.py4j_calls += 1
                self.py4j_s += time.perf_counter() - t0

        return counted

    def uninstall(self) -> None:
        while self._restore:
            self._restore.pop()()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, fh)


def wrapper_cost_s(calls: int = 20_000) -> tuple[float, float]:
    """Seconds that one wrapped method call and one counted py4j call add
    to the call they wrap: the best of five timings of ``calls`` calls to
    a no-op, wrapped, less the same calls unwrapped."""

    class Probe:
        def test(self):
            return None

    def noop(*args, **kwargs):
        return None

    def per_call(fn) -> float:
        runs = []
        for _ in range(5):
            t0 = time.perf_counter()
            for _ in range(calls):
                fn()
            runs.append(time.perf_counter() - t0)
        return min(runs) / calls

    probe = Tracer()
    target = Probe()
    direct = per_call(target.test)
    probe._wrap_method(Probe, "test", "probe", True)
    span = per_call(target.test) - direct
    probe.uninstall()
    py4j = per_call(probe._counted(noop)) - per_call(noop)
    return max(span, 0.0), max(py4j, 0.0)


# -- span arithmetic ----------------------------------------------------------


def _union_s(intervals) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: (s.end - s.start) - _union_s(children.get(s.id, ()))
            for s in spans}


def innermost_layer(spans: list[Span], t: float) -> str | None:
    """Layer of the innermost span open at epoch time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best.layer if best else None


def tail(values: list[float]) -> float:
    """The highest order statistic with at least ten samples above it
    (the maximum when there are fewer than eleven)."""
    ordered = sorted(values)
    return ordered[len(ordered) - 11] if len(ordered) > 10 else ordered[-1]


def median_or_zero(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# -- Spark event log ----------------------------------------------------------


def _event_lines(log_dir: str):
    """Lines of the one application log in ``log_dir``, which is a file
    or (Spark 4's default) a directory of numbered ``events_<n>_*`` parts."""
    (app,) = os.listdir(log_dir)
    path = os.path.join(log_dir, app)
    parts = [path] if os.path.isfile(path) else sorted(
        (os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")),
        key=lambda f: int(os.path.basename(f).split("_")[1]))
    for part in parts:
        with open(part) as fh:
            yield from fh


def spark_jobs(log_dir: str) -> dict:
    """Jobs, stages, tasks and plans from an uncompressed event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    executions = []
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {"submit": ev["Submission Time"] / 1e3, "end": None,
                         "tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "rows_read": 0,
                         "shuffle_bytes": 0, "stages_run": 0}
            for sid in ev["Stage IDs"]:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(ev["Stage Info"]["Stage ID"])
            if jid is not None and "Submission Time" in ev["Stage Info"]:
                jobs[jid]["stages_run"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev["Stage ID"])
            metrics = ev.get("Task Metrics")
            if jid is None or not metrics:
                continue
            job = jobs[jid]
            job["tasks"] += 1
            job["run_ms"] += metrics.get("Executor Run Time", 0)
            job["cpu_ms"] += metrics.get("Executor CPU Time", 0) / 1e6
            job["rows_read"] += metrics.get("Input Metrics", {}).get(
                "Records Read", 0)
            job["shuffle_bytes"] += metrics.get(
                "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            executions.append({
                "time": ev.get("time", 0) / 1e3,
                "cached_read": "InMemoryTableScan"
                in ev.get("physicalPlanDescription", ""),
            })
    return {"jobs": list(jobs.values()), "executions": executions}


# -- per-layer metrics ----------------------------------------------------------


def layer_metrics(tracer: Tracer, passes: list[dict], events: dict,
                  verdicts: dict, get_spark_s: float) -> dict:
    """``{name: (value, unit)}`` for every per-layer metric: per-pass
    medians over the traced passes, plus the verdict counts of the run."""
    costs = wrapper_cost_s()
    per_pass = [_one_pass(tracer, p, events, costs) for p in passes if p["traced"]]

    def med(key):
        return median_or_zero(pp[key] for pp in per_pass)

    durations = [s.end - s.start for s in tracer.spans if s.layer == "constraints"]
    untraced = [p["result"] for p in passes if not p["traced"]]
    out = {"session.get_spark_s": (get_spark_s, "s"),
           "suite.wall_s": (median_or_zero(r.wall_s for r in untraced), "s"),
           "suite.cpu_s": (median_or_zero(r.cpu_s for r in untraced), "s")}
    for key in per_pass[0]:
        out[key] = (med(key), _unit(key))
    out["constraints.test_ms_p50"] = (median_or_zero(durations) * 1e3, "ms")
    out["constraints.test_ms_tail"] = (tail(durations) * 1e3 if durations else 0.0,
                                       "ms")
    out["check.raised"] = (verdicts["raised"], "count")
    out["check.wrong_verdict"] = (verdicts["wrong"], "count")
    out["check.op_fail_frac"] = (
        (verdicts["raised"] + verdicts["wrong"]) / verdicts["attempted"], "ratio")
    return dict(sorted(out.items()))


def _unit(key: str) -> str:
    name = key.split(".", 1)[1]
    if name.endswith("_ms") or name == "ms":
        return "ms"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_mb_after"):
        return "MB"
    if name.endswith("_per_verdict"):
        return "rows"
    if name.endswith(("_frac", "_per_persist")):
        return "ratio"
    return "count"


def _one_pass(tracer: Tracer, p: dict, events: dict,
              costs: tuple[float, float]) -> dict:
    spans = [s for s in tracer.spans if s.pass_id == p["pass_id"]]
    by_id = {s.id: s for s in spans}
    own = self_times(spans)
    m: dict[str, float] = {}
    for layer in LAYERS:
        m[f"{layer}.self_ms"] = 1e3 * sum(own[s.id] for s in spans if s.layer == layer)

    def calls(layer, name=None):
        return [s for s in spans if s.layer == layer and (name is None or s.name == name)]

    def total_ms(items):
        return 1e3 * sum(s.end - s.start for s in items)

    m["requirements.test_calls"] = len(calls("requirements"))
    m["constraints.test_calls"] = len(calls("constraints"))
    m["sources.get_df_calls"] = len(calls("sources"))
    m["sources.get_df_ms"] = total_ms(calls("sources"))
    m["reference.get_selection_calls"] = len(calls("reference"))
    m["reference.get_selection_ms"] = total_ms(calls("reference"))
    outer_ops = [s for s in calls("operators")
                 if s.parent is None or by_id[s.parent].layer != "operators"]
    m["operators.calls"] = len(calls("operators"))
    m["operators.ms"] = total_ms(outer_ops)
    m["plans.render_calls"] = len(calls("plans"))
    m["plans.render_ms"] = total_ms(calls("plans"))
    m["pipeline.persist_calls"] = len(calls("pipeline"))
    m["pipeline.resident_rdds_after"] = p["resident_rdds"]
    m["pipeline.cached_mb_after"] = p["cached_mb"]

    result = p["result"]
    m["streaming.batches"] = len(result.progress)
    add_batch = sum(d.get("addBatch", 0) for d in result.progress)
    m["streaming.add_batch_ms"] = add_batch
    m["streaming.overhead_ms"] = sum(
        d.get("triggerExecution", 0) for d in result.progress) - add_batch

    lo, hi = p["window"]
    jobs = [j for j in events["jobs"] if lo <= j["submit"] <= hi]
    busy_s = _union_s((j["submit"], j["end"] or j["submit"]) for j in jobs)
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = sum(j["stages_run"] for j in jobs)
    m["spark.tasks"] = sum(j["tasks"] for j in jobs)
    m["spark.job_busy_ms"] = 1e3 * busy_s
    m["spark.driver_gap_ms"] = 1e3 * (result.wall_s - busy_s)
    m["spark.executor_run_ms"] = sum(j["run_ms"] for j in jobs)
    m["spark.executor_cpu_ms"] = sum(j["cpu_ms"] for j in jobs)
    m["spark.shuffle_write_bytes"] = sum(j["shuffle_bytes"] for j in jobs)
    m["spark.scan_rows_per_verdict"] = (
        sum(j["rows_read"] for j in jobs) / max(1, len(result.checks)))
    m["sources.jobs"] = sum(innermost_layer(spans, j["submit"]) == "sources"
                            for j in jobs)
    reads = sum(e["cached_read"] for e in events["executions"] if lo <= e["time"] <= hi)
    m["pipeline.cached_reads"] = reads
    m["pipeline.reads_per_persist"] = reads / max(1, m["pipeline.persist_calls"])

    m["py4j.round_trips"], py4j_s = p["py4j"]
    m["py4j.ms"] = 1e3 * py4j_s
    span_cost, py4j_cost = costs
    m["trace.overhead_frac"] = (
        span_cost * len(spans) + py4j_cost * m["py4j.round_trips"]) / result.suite_s
    return m
