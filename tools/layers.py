#!/usr/bin/env python
"""Layered per-query profile of the contract queries.

Runs the selected (default: all) ``__spark_entry__.queries()`` for
``--runs`` interleaved passes after ``bench.py``'s warm-up.  Each query
runs inside ``cache_scope()`` under its own job tag, so it starts from
the clean state that ``bench.py`` times.  The minimum of each field over
the passes is kept, and one JSON record per query is printed:

- ``build_s``, ``build_rt``: wall time and py4j round-trips of
  ``fn(spark, sf_dir)``, the driver-side plan build.  ``build_rt``
  leaves out py4j's memory-release commands, which its finalizer sends
  whenever the garbage collector frees a proxy, so it repeats exactly
  from run to run; ``build_release_rt`` counts those;
- ``analysis_ms``, ``optimization_ms``, ``planning_ms``: the
  ``QueryPlanningTracker`` phases of the collected frame;
- ``exec_s``: wall time of ``collect()``;
- ``jobs``, ``stages``, ``tasks``, ``job_ms`` (per-job durations): the
  jobs carrying the query's tag in the status store, jobs run while
  building included.  A tag, not a job group: a streaming query's
  micro-batch thread inherits the tag but sets its own group;
- ``job_busy_ms``: wall time during which at least one of those jobs
  ran.  Below ``sum(job_ms)`` where jobs overlap: AQE runs the jobs of
  independent query stages concurrently;
- ``cached_read``: the executed plan reads an ``InMemoryRelation``;
- ``rows``.

Usage:
    python tools/layers.py --sf-dir DIR [--runs N] [--out FILE]
        [--explain DIR] [query ...]

``--out`` writes the records as JSON; ``--explain`` writes each query's
formatted executed plan to ``DIR/<query>.txt``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from bench import calibrate, warm, warm_pool  # noqa: E402
from datajudge_spark.pipeline._util import cache_scope  # noqa: E402


@contextmanager
def _counted_round_trips():
    """Count py4j round-trips while open: memory releases in
    ``counter["releases"]``, every other command in ``counter["calls"]``."""
    from py4j import protocol
    from py4j.java_gateway import GatewayClient

    counter = {"calls": 0, "releases": 0}
    orig = GatewayClient.send_command

    def counted(self, command, *a, **k):
        release = command.startswith(protocol.MEMORY_COMMAND_NAME)
        counter["releases" if release else "calls"] += 1
        return orig(self, command, *a, **k)

    GatewayClient.send_command = counted
    try:
        yield counter
    finally:
        GatewayClient.send_command = orig


def _run(spark, sf_dir, name, fn, tag, rt, explain_dir):
    sc = spark.sparkContext
    with cache_scope():
        sc.addJobTag(tag)
        try:
            rt0, t0 = dict(rt), time.perf_counter()
            df = fn(spark, sf_dir)
            rt1, t1 = dict(rt), time.perf_counter()
            rows = len(df.collect())
            t2 = time.perf_counter()
        finally:
            sc.removeJobTag(tag)
        qe = df._jdf.queryExecution()
        cached_read = "InMemoryRelation" in qe.withCachedData().toString()
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
        if explain_dir:
            plan = sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
            with open(os.path.join(explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
    # job end events reach the status store through the listener bus
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    spans, stages, tasks = [], 0, 0
    for jid in sorted(jsc.statusTracker().getJobIdsForTag(tag)):
        job = store.job(jid)
        spans.append((job.submissionTime().get().getTime(),
                      job.completionTime().get().getTime()))
        stages += job.stageIds().size()
        tasks += job.numTasks()
    busy, end = 0, float("-inf")
    for a, b in sorted(spans):
        busy += max(0, b - max(a, end))
        end = max(end, b)
    return {
        "build_s": round(t1 - t0, 4),
        "build_rt": rt1["calls"] - rt0["calls"],
        "build_release_rt": rt1["releases"] - rt0["releases"],
        **{f"{p}_ms": phases.get(p, 0)
           for p in ("analysis", "optimization", "planning")},
        "exec_s": round(t2 - t1, 4),
        "jobs": len(spans),
        "stages": stages,
        "tasks": tasks,
        "job_ms": [b - a for a, b in spans],
        "job_busy_ms": busy,
        "cached_read": cached_read,
        "rows": rows,
    }


def _least(a, b):
    return min(a, b, key=lambda v: sum(v) if isinstance(v, list) else v)


def profile(spark, sf_dir, names=None, runs=1, explain_dir=None):
    """Profile the named contract queries (default: all); returns
    ``{name: record}``.  The caller warms the session."""
    qs = entrymod.queries()
    if names:
        qs = {k: qs[k] for k in names}
    if explain_dir:
        os.makedirs(explain_dir, exist_ok=True)
    out: dict[str, dict] = {}
    with _counted_round_trips() as rt:
        for i in range(runs):
            warm_pool(spark)
            for name, fn in qs.items():
                if name.startswith("multimodal"):
                    warm_pool(spark)
                rec = _run(spark, sf_dir, name, fn, f"profile:{i}:{name}", rt,
                           explain_dir if i == 0 else None)
                prev = out.get(name, rec)
                out[name] = {k: _least(prev[k], v) for k, v in rec.items()}
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    required="SPARK_GRAFT_SF_DIR" not in os.environ)
    ap.add_argument("--out")
    ap.add_argument("--explain")
    args = ap.parse_args()
    unknown = sorted(set(args.queries) - set(entrymod.queries()))
    if unknown:
        ap.error(f"unknown queries: {unknown}")

    from datajudge_spark.session import get_spark

    spark = get_spark("datajudge-spark-profile")
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, args.sf_dir)
    calib_s = calibrate()
    recs = profile(spark, args.sf_dir, args.queries, args.runs, args.explain)
    for name, rec in recs.items():
        print(json.dumps({"q": name, **rec}))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"sf_dir": args.sf_dir, "runs": args.runs,
                       "calib_s": calib_s, "queries": recs},
                      fh, indent=1, sort_keys=True)
            fh.write("\n")


if __name__ == "__main__":
    main()
