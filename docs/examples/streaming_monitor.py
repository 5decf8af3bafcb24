"""Streaming data-quality monitoring walkthrough.

Three layers over one file-stream of events (stand-in for Kafka):

1. per-micro-batch constraint validation (the batch Requirement API,
   unchanged, inside ``foreachBatch``),
2. watermarked windowed metrics (counts, null fractions),
3. drift monitoring: windowed value histograms PSI-compared against a
   reference batch, driver-side (n_buckets rows per window cross the
   boundary, never events).

Run:  PYTHONPATH=/root/repo python docs/examples/streaming_monitor.py
"""

import os

from pyspark.sql import functions as F

from datajudge_spark import WithinRequirement, get_spark
from datajudge_spark.sources import normalize_event_time
from datajudge_spark.streaming import (
    StreamingConstraintMonitor,
    StreamScope,
    psi_between_histograms,
    windowed_counts,
    windowed_value_buckets,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
EVENTS = f"{SF_DIR}/events.parquet"
N_BUCKETS = 10


def events_stream(scope: StreamScope):
    """The events parquet staged as a file stream of ``scope`` (file
    streams need a directory; the scope links the file into its own)."""
    return normalize_event_time(scope.stream(EVENTS)).withColumn(
        "event_ts", F.col("ts").cast("timestamp")
    )


def main() -> None:
    spark = get_spark("streaming-monitor")

    # 1. run a requirement against every micro-batch
    def factory(batch_df):
        req = WithinRequirement.from_dataframe(batch_df, "events_batch")
        req.add_n_rows_min_constraint(1)
        req.add_max_null_fraction_constraint("value", 0.5)
        req.add_uniqueness_constraint(["event_id"])
        return req

    monitor = StreamingConstraintMonitor(factory)
    with StreamScope(spark) as scope:
        monitor.run_available(events_stream(scope))
    n_checks = sum(len(rs) for _, rs in monitor.results)
    print(f"micro-batch constraints: {n_checks} checks, "
          f"all_passed={monitor.all_passed}")

    # 2. windowed row counts per event type.  Each drain gets its own
    # scope: the scope owns the checkpoint, the memory sink and the
    # staged input, and removes them on exit; collect() hands back the
    # drained rows as an ordinary DataFrame.
    with StreamScope(spark) as scope:
        out = windowed_counts(
            events_stream(scope), "event_ts", window_duration="6 hours",
            watermark_delay="1 hour", group_cols=["event_type"],
        )
        n_win = scope.collect(out, "append").count()
    print(f"windowed counts emitted: {n_win} (window x type) rows")

    # 3. drift gate: windowed histograms vs the full-corpus reference
    from datajudge_spark.operators.stats import value_bucket

    with StreamScope(spark) as scope:
        buckets = windowed_value_buckets(
            events_stream(scope), "event_ts", "value", lo=0.0, hi=500.0,
            n_buckets=N_BUCKETS, window="6 hours", watermark="1 hour",
        )
        windows = scope.collect(
            buckets,
            "append",
            lambda sink: sink.select(F.col("win.start").alias("ws"),
                                     "bucket", "n"),
        ).collect()
        batch = normalize_event_time(scope.session.read.parquet(EVENTS))
        reference = {
            r.b: r.n
            for r in batch.where(F.col("value").isNotNull())
            .groupBy(value_bucket("value", 0.0, 500.0, N_BUCKETS).alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    per_window: dict = {}
    for r in windows:
        per_window.setdefault(r.ws, {})[r.bucket] = r.n
    for ws in sorted(per_window):
        psi = psi_between_histograms(per_window[ws], reference, N_BUCKETS)
        flag = "OK" if psi < 0.25 else "DRIFT"
        print(f"  window {ws}: psi={psi:.4f} [{flag}]")

    # 4. group-sequential A/B monitor (round 11): per-look counts are
    # O(looks) complete-mode state; the drained frame feeds the
    # O'Brien-Fleming boundary fold — peek after every look without
    # inflating the false-positive rate (a fixed 1.96 gate checked
    # daily does).
    from datajudge_spark.operators.stats import obf_sequential_ztest
    from datajudge_spark.streaming import streaming_look_counts

    with StreamScope(spark) as scope:
        looks = streaming_look_counts(
            events_stream(scope),
            F.dayofmonth("event_ts"),
            F.col("user_id") % 2 == 0,
            F.col("user_id") % 2 == 1,
            F.col("event_type") == "purchase",
        )
        state = scope.collect(looks, "complete")
    grid = obf_sequential_ztest(state).orderBy("look")
    for r in grid.collect():
        flag = "CROSSED" if r.crossed else "ok"
        zs = "None" if r.z is None else f"{r.z:+.3f}"
        print(f"  look {r.look:>2}: t={r.info_frac:.2f} z={zs} "
              f"boundary={r.boundary:.3f} [{flag}]")


if __name__ == "__main__":
    main()
