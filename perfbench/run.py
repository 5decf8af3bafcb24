#!/usr/bin/env python3
"""Spec-suite benchmark: user-style specs through ``Requirement.test`` and
``StreamingConstraintMonitor.run_available``.

    python3 perfbench/run.py --workload wide_scalar_spec --seed 1 \\
        --seconds 1 --trace 0

Run from the root of a source checkout (the library is imported from
there, not installed).  One process, one closed-loop client, one Spark
session on ``local[<cpus>]``.  After the workload's untimed warm-up
passes it runs passes until ``--seconds`` have elapsed (at least one);
every pass builds fresh Requirement objects and starts from a clean
session (no persisted frames).  Every verdict is checked against an
oracle that does not use Spark.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": <checks>, "failed": <checks that raised>,
     "metrics": {name: {"value": ..., "unit": ...}}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of traced passes (alternating with untraced ones).
See README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MB = 1024 * 1024
# added to cached_mb_after so that a session holding no persisted blocks
# reads 1 MB rather than 0 (README.md, "Metrics")
CACHED_FLOOR_MB = 1.0


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: str, traced: bool) -> None:
    """Keep Spark's scratch (shuffle files, temp checkpoints, event log)
    inside the checkout, and size local mode to the visible cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
    ).strip()
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )


def stolen_s() -> float:
    """Seconds the host has withheld this machine's CPUs so far, per CPU
    (``steal`` in ``/proc/stat``, summed over CPUs, over their number)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") / (os.cpu_count() or 1)


class Meter:
    """The two clocks a pass reads besides wall time, from ``/proc``.

    ``cpu()`` is the CPU seconds used so far by this interpreter plus
    the JVM it launched (all threads, and the children it waited for).
    ``stolen()`` is ``stolen_s()``: subtracted from wall time, it gives
    the wall time the work would have taken had the host not withheld
    the CPUs.  On a shared VM the host's share of steal moves from run
    to run, and raw wall time moves with it."""

    def __init__(self, spark) -> None:
        self._stat = f"/proc/{spark.sparkContext._gateway.proc.pid}/stat"
        self._tick = os.sysconf("SC_CLK_TCK")

    def cpu(self) -> float:
        with open(self._stat) as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return time.process_time() + sum(map(int, fields[11:15])) / self._tick

    stolen = staticmethod(stolen_s)


def _stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Session:
    """Clean-state helpers around the benchmark's one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc

    def resident_rdds(self) -> int:
        return self.jsc.getPersistentRDDs().size()

    def cached_mb(self) -> float:
        """MB of persisted blocks (memory plus disk) the session holds."""
        return sum(info.memSize() + info.diskSize()
                   for info in self.jsc.sc().getRDDStorageInfo()) / MB

    def clear(self) -> None:
        """Drop every cached frame; fail the run if a persisted RDD survives."""
        self.spark.catalog.clearCache()
        deadline = time.monotonic() + 10
        while self.resident_rdds() and time.monotonic() < deadline:
            time.sleep(0.05)
        left = self.resident_rdds()
        if left:
            raise RuntimeError(f"{left} persisted RDDs survived clearCache()")


def _verdicts(checks) -> dict:
    """Count raised checks, wrong verdicts, and wrong verdicts the
    benchmark cannot attribute to the documented stale-percentile defect
    (README.md, "Known defects")."""
    raised = wrong = unexplained = 0
    for c in checks:
        if c.error is not None:
            raised += 1
        elif c.outcome != c.expected:
            wrong += 1
            stale_percentile = (c.id.endswith(".percentile")
                                and c.stale is not None and c.outcome == c.stale)
            unexplained += not stale_percentile
    return {"attempted": len(checks), "raised": raised, "wrong": wrong,
            "unexplained": unexplained}


def run(args, work: str) -> dict:
    import datajudge_spark as api
    import tracing
    import workloads

    workload = workloads.WORKLOADS[args.workload](args.seed, work)

    # set-up: get_spark() and the warm-up passes, on the same clocks as a
    # pass (the JVM's CPU is all set-up CPU, as it starts here)
    wall0, stolen0, cpu0 = time.perf_counter(), stolen_s(), time.process_time()
    spark = api.get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - wall0
    spark.sparkContext.setLogLevel("ERROR")
    session = Session(spark)
    meter = Meter(spark)
    try:
        for _ in range(workload.WARMUP_PASSES):
            workload.run_pass(api, spark, workloads.Clock(meter))
            session.clear()
        setup = {"wall": time.perf_counter() - wall0,
                 "stolen": meter.stolen() - stolen0, "cpu": meter.cpu() - cpu0}

        tracer = tracing.Tracer() if args.trace else None
        passes = []
        start = time.perf_counter()
        while True:
            # traced runs alternate U T U T ... U, so traced and untraced
            # passes see the same stage of the JIT's warming
            traced = bool(tracer) and len(passes) % 2 == 1
            py4j0 = (tracer.py4j_calls, tracer.py4j_s) if tracer else (0, 0.0)
            if traced:
                tracer.pass_id = len(passes)
                tracer.install(spark)
            wall0 = time.time()
            try:
                result = workload.run_pass(api, spark, workloads.Clock(meter))
            finally:
                if traced:
                    tracer.uninstall()
            wall1 = time.time()
            passes.append({
                "pass_id": len(passes), "traced": traced, "result": result,
                "window": (wall0, wall1),
                "resident_rdds": session.resident_rdds(),
                "cached_mb": session.cached_mb(),
                "py4j": (tracer.py4j_calls - py4j0[0], tracer.py4j_s - py4j0[1])
                if traced else (0, 0.0),
            })
            session.clear()
            if time.perf_counter() - start >= args.seconds and (
                    not tracer or (len(passes) >= 3 and len(passes) % 2)):
                break
    finally:
        _stop_jvm(spark)

    print("perfbench: setup wall/stolen/cpu=%.3f/%.3f/%.3f passes "
          "wall/stolen/cpu=%s cached_mb=%s" % (
              setup["wall"], setup["stolen"], setup["cpu"],
              [(round(p["result"].wall_s, 3),
                round(p["result"].wall_s - p["result"].suite_s, 3),
                round(p["result"].cpu_s, 3)) for p in passes],
              [round(p["cached_mb"], 3) for p in passes]), file=sys.stderr)
    checks = [c for p in passes for c in p["result"].checks]
    v = _verdicts(checks)
    out = {"correct": v["raised"] == 0 and v["unexplained"] == 0,
           "attempted": v["attempted"], "failed": v["raised"]}
    if not tracer:
        results = [p["result"] for p in passes]
        out["metrics"] = {
            "setup_s": (setup["wall"] - setup["stolen"], "s"),
            "suite_s": (statistics.median(r.suite_s for r in results), "s"),
            "suite_cpu_s": (statistics.median(r.cpu_s for r in results), "s"),
            "verdict_ok_frac": ((v["attempted"] - v["raised"] - v["wrong"])
                                / v["attempted"], "ratio"),
            "cached_mb_after": (CACHED_FLOOR_MB + statistics.median(
                p["cached_mb"] for p in passes), "MB"),
        }
    else:
        events = tracing.spark_jobs(os.path.join(work, "eventlog"))
        layers = tracing.layer_metrics(tracer, passes, events, v, get_spark_s)
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        tracer.dump(
            os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "metrics": layers,
             "passes": [{"traced": p["traced"], "suite_s": p["result"].suite_s,
                         "wall_s": p["result"].wall_s, "window": p["window"]}
                        for p in passes]})
        out["metrics"] = layers
    out["metrics"] = {k: {"value": val, "unit": unit}
                      for k, (val, unit) in out["metrics"].items()}
    return out


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import datajudge_spark
    except ImportError as exc:
        print(f"perfbench: cannot import the library from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(datajudge_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: datajudge_spark resolved outside {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _isolate(work, bool(args.trace))
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
