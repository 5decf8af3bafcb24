#!/usr/bin/env python3
"""Render the per-workload layer decomposition from traced runs.

    python3 perfbench/run.py --workload <w> --seed 1 --seconds 4 --trace 1
    python3 perfbench/tables.py perfbench/out/trace-*-seed1.json > perfbench/TRACE.md

Each traced run leaves ``perfbench/out/trace-<workload>-seed<n>.json``
(its spans and per-layer metrics).  One table per file: the self time
of each layer per traced pass (medians), the Spark engine's share of
the same passes, and how the self times add up against the untraced
pass time.  Pass times here are wall time as read, the clock the spans
are timed on (``suite_s`` also subtracts the time the host withheld the
CPUs).
"""

from __future__ import annotations

import json
import statistics
import sys

from tracing import LAYERS

CALLS = {
    "requirements": "requirements.test_calls",
    "constraints": "constraints.test_calls",
    "sources": "sources.get_df_calls",
    "reference": "reference.get_selection_calls",
    "operators": "operators.calls",
    "plans": "plans.render_calls",
    "pipeline": "pipeline.persist_calls",
    "streaming": "streaming.batches",
}


def render(path: str) -> str:
    with open(path) as fh:
        run = json.load(fh)
    m = {k: v[0] for k, v in run["metrics"].items()}
    traced = [p["wall_s"] for p in run["passes"] if p["traced"]]
    untraced = [p["wall_s"] for p in run["passes"] if not p["traced"]]
    traced_ms = 1e3 * statistics.median(traced)
    untraced_ms = 1e3 * statistics.median(untraced)
    self_total = sum(m[f"{layer}.self_ms"] for layer in LAYERS)
    lines = [
        f"### {run['workload']} (seed {run['seed']})",
        "",
        f"Passes: {len(untraced)} untraced, {len(traced)} traced (order U T U …). "
        f"Median pass: {untraced_ms:.0f} ms untraced (range "
        f"{1e3 * min(untraced):.0f}–{1e3 * max(untraced):.0f}), {traced_ms:.0f} ms "
        f"traced; `trace.overhead_frac` = {m['trace.overhead_frac']:.4f}.",
        "",
        "| layer | self ms / pass | share of traced pass | calls / pass |",
        "|---|---:|---:|---:|",
    ]
    for layer in LAYERS:
        ms = m[f"{layer}.self_ms"]
        lines.append(f"| {layer} | {ms:.0f} | {ms / traced_ms:.1%} | "
                     f"{m[CALLS[layer]]:.0f} |")
    lines += [
        f"| **sum of self times** | **{self_total:.0f}** | "
        f"**{self_total / traced_ms:.1%}** | |",
        "",
        f"Sum of self times vs the untraced median pass: {self_total:.0f} / "
        f"{untraced_ms:.0f} ms = {self_total / untraced_ms - 1:+.3f}.",
        "",
        "| Spark engine and py4j, per traced pass | value |",
        "|---|---:|",
        f"| jobs / stages / tasks | {m['spark.jobs']:.0f} / {m['spark.stages']:.0f}"
        f" / {m['spark.tasks']:.0f} |",
        f"| job-busy ms (union of job intervals) | {m['spark.job_busy_ms']:.0f} |",
        f"| driver gap ms (pass − job-busy) | {m['spark.driver_gap_ms']:.0f} |",
        f"| executor run / CPU ms (all cores) | {m['spark.executor_run_ms']:.0f}"
        f" / {m['spark.executor_cpu_ms']:.0f} |",
        f"| rows scanned per verdict | {m['spark.scan_rows_per_verdict']:.0f} |",
        f"| shuffle bytes written | {m['spark.shuffle_write_bytes']:.0f} |",
        f"| parquet footer jobs (in `sources`) | {m['sources.jobs']:.0f} |",
        f"| py4j round-trips / ms | {m['py4j.round_trips']:.0f} / "
        f"{m['py4j.ms']:.0f} |",
        f"| persists / cached reads / resident RDDs after | "
        f"{m['pipeline.persist_calls']:.0f} / {m['pipeline.cached_reads']:.0f} / "
        f"{m['pipeline.resident_rdds_after']:.0f} |",
        f"| wrong verdicts / raised (whole run) | {m['check.wrong_verdict']:.0f} / "
        f"{m['check.raised']:.0f} |",
        "",
    ]
    return "\n".join(lines)


if __name__ == "__main__":
    print("\n".join(render(p) for p in sys.argv[1:]))
