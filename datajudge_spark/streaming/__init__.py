"""Structured Streaming extension: constraints over unbounded data.

The reference (Quantco/datajudge) is strictly batch — §2.9 of SURVEY.md.
This module is the documented extension (SURVEY §7.4): the SAME
constraint/metric surface applied to streams, two ways:

1. **Micro-batch validation** (:class:`StreamingConstraintMonitor`):
   ``foreachBatch`` hands each micro-batch to a user-supplied
   requirement factory; every constraint of the requirement is tested
   against the batch DataFrame *unchanged* — the metric layer never
   knows it is inside a stream. This is the streaming analog of running
   a specification per arriving partition of data.

2. **Event-time windowed metrics** (:func:`windowed_counts`,
   :func:`windowed_null_fraction`): watermarked sliding/tumbling window
   aggregations for continuous row-count / null-fraction monitoring,
   the idiomatic Structured Streaming formulation (state is bounded by
   the watermark; late rows beyond the delay are dropped, exactly the
   documented trade-off).

Scale notes: ``foreachBatch`` validation inherits the batch engine's
plans (partial aggregation, pushdown into the micro-batch scan);
windowed aggs shuffle on (window, keys) with watermark-bounded state —
both are the standard 1000-executor-safe constructions.

Every availableNow drain — the monitor's and the contract queries' —
runs through :class:`StreamScope`, which owns the staging dir, the
checkpoint, the sinks and the session confs of the drain and removes
them all when the scope exits.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from typing import TYPE_CHECKING, Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..pipeline._util import cache_scope
from ..sources import read_parquet

if TYPE_CHECKING:
    from pyspark.sql import SparkSession
    from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

    from datajudge_spark.requirements import Requirement

__all__ = [
    "StreamScope",
    "StreamingConstraintMonitor",
    "windowed_counts",
    "windowed_null_fraction",
    "stream_parquet_like",
    "stateful_running_counts",
    "streaming_dedup",
    "streaming_fingerprint_dedup",
    "windowed_value_buckets",
    "psi_between_histograms",
    "interval_join_streams",
    "interval_left_join_streams",
    "streaming_bootstrap_sums",
    "streaming_block_maxima",
    "streaming_assignment_counts",
]


def stream_parquet_like(spark, path: str, like_batch: DataFrame) -> DataFrame:
    """A file-stream over a parquet DIRECTORY using the schema of an
    existing batch DataFrame (streams require a declared schema, and the
    file-stream source requires a directory, not a single file)."""
    return spark.readStream.schema(like_batch.schema).parquet(path)


def _scratch_base() -> str:
    """Base dir for drain scratch (staged inputs, checkpoints).  These
    are ephemera of one scope — every drain recomputes from its inputs
    and the scope removes its dir on exit — so a memory-backed fs is the
    right home for their fsync-heavy tiny files (offsets/commits WAL +
    state-store deltas).  Override with ``SPARK_GRAFT_STREAM_SCRATCH``;
    production streams that must survive a restart set a durable
    checkpoint of their own instead."""
    base = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if base:
        return base
    return "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()


def _confs(spark: "SparkSession") -> dict[str, str]:
    """``spark.conf.getAll`` as one JSON string: the dict conversion of
    ``getAll`` costs two py4j round trips per entry (~11 ms a session)."""
    jvm = spark.sparkContext._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    return json.loads(
        mapper.writeValueAsString(spark._jsparkSession.conf().getAllAsJava())
    )


class StreamScope(contextlib.ExitStack):
    """Scope of availableNow drains that leaves nothing behind.

    On exit it removes, in reverse order of creation, everything it made:
    the queries (stopped), the memory-sink views, the frames persisted
    while it was open (it is a ``pipeline._util.cache_scope``), the
    scratch dir (staged inputs + the scope's one checkpoint) and
    whatever the caller registered with :meth:`callback`.

    Streams from :meth:`stream` are built in a child session
    (``spark.newSession()``) that copies the caller's runtime SQL confs
    and then sets, on itself only:

    - ``state_stores`` shuffle partitions — the stream's state-store
      count.  Each HDFS-backed store has a fixed init/commit floor, so
      4-8 beats defaultParallelism for small state; on a cluster size it
      to the executor count.
    - ``watermark_flush=False`` skips the trailing no-data micro-batch
      (``noDataMicroBatches.enabled``).  ONLY safe when the sink content
      cannot depend on a post-data watermark advance: complete-mode aggs
      re-emit the whole table every batch, inner stream-stream joins and
      dropDuplicates emit eagerly, update-mode stateful ops with
      NoTimeout emit only on data.  Left-outer joins (null-padding waits
      on the watermark) and multi-drain checkpoints (the recovered
      watermark feeds the NEXT drain's late-row filter) MUST keep it.
    - ``nanosAsLong``, so parquet TIMESTAMP(NANOS) inputs read as
      epoch-nanos BIGINT (see ``sources.normalize_event_time``).

    The caller's session is never written.  A frame built in another
    session (e.g. a user's stream given to
    :meth:`StreamingConstraintMonitor.run_available`) drains under that
    session's confs, with the scope's checkpoint.

    All drains of one scope share its checkpoint: several drains of one
    stream resume from each other's offsets and state; two different
    streams need two scopes.
    """

    def __init__(
        self,
        spark: "SparkSession",
        state_stores: int = 4,
        watermark_flush: bool = True,
    ) -> None:
        super().__init__()
        self._spark = spark
        self._state_stores = state_stores
        self._watermark_flush = watermark_flush
        self._session: "SparkSession | None" = None
        self._like: DataFrame | None = None
        self.dir = ""

    def __enter__(self) -> "StreamScope":
        super().__enter__()
        self.dir = tempfile.mkdtemp(prefix="djs_stream_", dir=_scratch_base())
        self.callback(shutil.rmtree, self.dir, ignore_errors=True)
        self.enter_context(cache_scope())
        return self

    @property
    def session(self) -> "SparkSession":
        """The child session the scope's streams are built in."""
        if self._session is None:
            child = self._spark.newSession()
            inherited = _confs(child)
            for key, value in _confs(self._spark).items():
                if inherited.get(key) != value:
                    child.conf.set(key, value)
            child.conf.set(
                "spark.sql.shuffle.partitions", str(self._state_stores)
            )
            child.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled",
                str(self._watermark_flush).lower(),
            )
            child.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            self._session = child
        return self._session

    def stream(self, path: str) -> DataFrame:
        """Stage the parquet file ``path`` (symlinked into the scope's
        input dir) and return a file stream over every file staged so
        far, with the schema of the first."""
        input_dir = os.path.join(self.dir, "input")
        os.makedirs(input_dir, exist_ok=True)
        n = len(os.listdir(input_dir))
        os.symlink(
            os.path.abspath(path),
            os.path.join(input_dir, f"part-{n}.parquet"),
        )
        if self._like is None:
            self._like = read_parquet(self.session, path)
        return stream_parquet_like(self.session, input_dir, self._like)

    def drain(
        self,
        out: DataFrame,
        mode: str,
        foreach_batch: Callable[[DataFrame, int], None] | None = None,
    ) -> "StreamingQuery":
        """Run ``out`` with ``trigger(availableNow=True)`` until it has
        processed everything available, into ``foreach_batch`` or, when
        none is given, a memory sink named ``query.name`` (a temp view
        in ``out``'s session until the scope exits)."""
        writer = out.writeStream.outputMode(mode).option(
            "checkpointLocation", os.path.join(self.dir, "checkpoint")
        )
        if foreach_batch is None:
            name = f"djs_sink_{uuid.uuid4().hex[:8]}"
            writer = writer.format("memory").queryName(name)
            self.callback(out.sparkSession.catalog.dropTempView, name)
        else:
            writer = writer.foreachBatch(foreach_batch)
        query = writer.trigger(availableNow=True).start()
        self.callback(query.stop)
        query.awaitTermination()
        return query

    def collect(
        self,
        out: DataFrame,
        mode: str,
        digest: Callable[[DataFrame], DataFrame] | None = None,
    ) -> DataFrame:
        """Drain ``out`` into a memory sink and return ``digest(sink)``
        (the sink itself when no digest is given) as a frame of collected
        rows in the caller's session, independent of the sink and of the
        child session.

        The rows go JVM to JVM into a local relation: a Python-side
        ``createDataFrame`` would ship them back as a pickled RDD, one
        more job on every action over the result."""
        query = self.drain(out, mode)
        sink = out.sparkSession.table(query.name)
        result = digest(sink) if digest else sink
        rows = result._jdf.collectAsList()
        return DataFrame(
            self._spark._jsparkSession.createDataFrame(
                rows, result._jdf.schema()
            ),
            self._spark,
        )


class StreamingConstraintMonitor:
    """Run a Requirement against every micro-batch of a stream.

    ``requirement_factory`` receives the micro-batch DataFrame and returns
    the Requirement to test (built with
    ``WithinRequirement.from_dataframe(batch_df, name)`` — the factory
    decides which constraints apply). Results accumulate in
    ``self.results`` as ``(batch_id, [TestResult, ...])``.

    The monitor is driver-side bookkeeping only; all data-sized work
    happens in the constraints' Spark actions on the executors.
    """

    def __init__(
        self,
        requirement_factory: Callable[[DataFrame], "Requirement"],
    ) -> None:
        self._factory = requirement_factory
        self.results: list[tuple[int, list[Any]]] = []

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        requirement = self._factory(batch_df)
        self.results.append(
            (batch_id, requirement.test(batch_df.sparkSession))
        )

    def writer(self, stream_df: DataFrame) -> "DataStreamWriter":
        """The configured ``writeStream`` (caller picks trigger/options)."""
        return stream_df.writeStream.foreachBatch(self._process_batch)

    def run_available(self, stream_df: DataFrame) -> "StreamingQuery":
        """Process everything currently available, then stop (the batch-
        like trigger used for backfills and tests).  The checkpoint lives
        in a :class:`StreamScope` and is removed on return."""
        with StreamScope(stream_df.sparkSession) as scope:
            return scope.drain(stream_df, "append", self._process_batch)

    @property
    def all_passed(self) -> bool:
        return all(
            result.outcome for _, results in self.results for result in results
        )


def windowed_counts(
    stream_df: DataFrame,
    ts_col: str,
    window_duration: str = "10 minutes",
    watermark_delay: str = "30 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling-window row counts: the continuous analog of
    the n-rows constraint family.

    Output: (window_start, window_end, *group_cols, n_rows). State per
    (window, groups) is dropped once the watermark passes window_end.
    """
    grouped = (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration), *(group_cols or []))
    )
    return grouped.agg(F.count(F.lit(1)).alias("n_rows")).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *(group_cols or []),
        "n_rows",
    )


def windowed_null_fraction(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    window_duration: str = "10 minutes",
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Watermarked per-window null fraction of ``value_col`` — the
    continuous analog of the max-null-fraction constraint."""
    grouped = stream_df.withWatermark(ts_col, watermark_delay).groupBy(
        F.window(ts_col, window_duration)
    )
    return grouped.agg(
        (
            F.count(F.when(F.col(value_col).isNull(), 1))
            / F.count(F.lit(1))
        ).alias("null_fraction"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "null_fraction",
        "n_rows",
    )


def streaming_dedup(
    stream_df: DataFrame,
    id_cols: list[str],
    ts_col: str,
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Streaming exact deduplication on ``id_cols`` with
    watermark-bounded state — the streaming twin of the batch
    `pipeline.dedup` exact path.

    ``dropDuplicatesWithinWatermark`` keeps one row per key and expires
    a key's state once the watermark passes its event time + delay:
    duplicates arriving within ``watermark_delay`` of each other are
    dropped, state stays O(keys-per-watermark-window) instead of
    O(all keys ever seen) — the property that keeps this runnable
    forever on an unbounded stream.
    """
    return stream_df.withWatermark(
        ts_col, watermark_delay
    ).dropDuplicatesWithinWatermark(id_cols)


def streaming_fingerprint_dedup(
    stream_df: DataFrame,
    text_col: str,
    ts_col: str,
    watermark_delay: str = "30 minutes",
) -> DataFrame:
    """Content-based streaming dedup: drop documents whose normalized
    text fingerprint (md5 of lowercased, whitespace-collapsed text — the
    same fingerprint as the batch dedup family) was already seen within
    the watermark window."""
    fingerprint = F.md5(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    )
    return streaming_dedup(
        stream_df.withColumn("fingerprint", fingerprint),
        ["fingerprint"],
        ts_col,
        watermark_delay,
    )


def stateful_running_counts(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
):
    """Cumulative per-key (n_rows, n_nulls, null_fraction) across ALL
    micro-batches — a custom stateful operator via
    ``applyInPandasWithState``.

    Unlike the per-batch monitor (stateless) or windowed metrics (state
    scoped to a window), this maintains running totals per key for the
    stream's lifetime: the streaming analog of a whole-table
    null-fraction constraint that tightens as data arrives. State per
    key is two integers — O(|keys|) total, the minimum possible.

    Arrow-batched like every Python-side operator here; emits one
    updated row per key per micro-batch (use outputMode("update")).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("key", LongType()),
            StructField("n_rows", LongType()),
            StructField("n_nulls", LongType()),
            StructField("null_fraction", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n_rows", LongType()), StructField("n_nulls", LongType())]
    )

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        n_rows, n_nulls = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n_rows += len(pdf)
            n_nulls += int(pdf[value_col].isna().sum())
        state.update((n_rows, n_nulls))
        # one output row per key per batch: build it via from_records
        # (one tuple), not a dict of four 1-element lists — the dict
        # constructor builds four Series and an index merge per key,
        # which at 10^3-10^4 keys/batch is the dominant Python cost
        yield pd.DataFrame.from_records(
            [
                (
                    key[0],
                    n_rows,
                    n_nulls,
                    n_nulls / n_rows if n_rows else 0.0,
                )
            ],
            columns=["key", "n_rows", "n_nulls", "null_fraction"],
        )

    # Arrow ships every input column to the Python worker; the update
    # function reads only the VALUE column (the key rides separately),
    # so project before grouping — guide §4: pass only the columns the
    # function needs (the events stream carries a fat props string that
    # would otherwise cross the boundary for nothing).
    return stream_df.select(key_col, value_col).groupBy(
        key_col
    ).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def windowed_value_buckets(
    stream_df: DataFrame,
    time_col: str,
    value_col: str,
    lo: float,
    hi: float,
    n_buckets: int = 10,
    window: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-window fixed-bucket histogram of ``value_col`` — the streaming
    half of PSI drift monitoring.

    Bucket ids come from the SAME pure-arithmetic expression as the
    batch :func:`~datajudge_spark.operators.stats.psi_drift`
    (``operators.stats.value_bucket``), so a window's histogram can be
    PSI-compared directly against a reference batch histogram
    driver-side (``n_buckets`` rows per window cross the boundary, not
    events). State is (window x n_buckets) counters bounded by the
    watermark — the canonical streaming agg shape.
    """
    from datajudge_spark.operators.stats import value_bucket

    return (
        stream_df.where(F.col(value_col).isNotNull())
        .withWatermark(time_col, watermark)
        .groupBy(
            F.window(time_col, window).alias("win"),
            value_bucket(value_col, lo, hi, n_buckets).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def psi_between_histograms(
    counts: dict[int, int], reference: dict[int, int], n_buckets: int
) -> float:
    """Driver-side PSI fold over two bucket->count histograms (tiny).

    Buckets empty in BOTH histograms are skipped — they carry no
    distributional evidence, and skipping keeps this fold value-identical
    to the distributed ``operators.stats.psi_drift`` (whose grouped frame
    only contains buckets with data).
    """
    import math

    tot_c = sum(counts.values()) + 0.5 * n_buckets
    tot_r = sum(reference.values()) + 0.5 * n_buckets
    psi = 0.0
    for b in range(n_buckets):
        n_c, n_r = counts.get(b, 0), reference.get(b, 0)
        if n_c == 0 and n_r == 0:
            continue
        p = (n_c + 0.5) / tot_c
        q = (n_r + 0.5) / tot_r
        psi += (p - q) * math.log(p / q)
    return psi


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str,
    right_ts: str,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream INNER join with event-time watermarks on both
    sides.  ``on`` must combine an equality key with a bounded
    time-range predicate between ``left_ts`` and ``right_ts`` — the
    range bound plus the watermarks is what lets Spark evict join state
    (without it, both sides buffer forever).  Append-mode output emits
    each matched pair exactly once when drained with availableNow, so
    the final sink equals the equivalent batch join — the oracle.

    Self-joins (two filters over one source stream) are supported by
    Structured Streaming and are how the contract query uses this.
    """
    return left.withWatermark(left_ts, watermark_delay).join(
        right.withWatermark(right_ts, watermark_delay), on, "inner"
    )


def interval_left_join_streams(
    left: DataFrame,
    right: DataFrame,
    on,
    left_ts: str,
    right_ts: str,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Stream-stream LEFT OUTER join with event-time watermarks: matches
    emit like the inner join, and an UNMATCHED left row emits once —
    null-padded — when the watermark proves no future right row can
    still match it.

    Emission rule (measured against Spark 4.x and what the batch oracle
    must reproduce): with a range predicate bounding matches to
    ``right_ts < left_ts + R`` and both sides on ``watermark_delay`` D,
    the global watermark after an availableNow drain is
    ``wm = min(max(left_ts), max(right_ts)) - D``, and an unmatched
    left row is emitted iff ``left_ts + R < wm`` — rows closer than
    R + D to the end of the stream stay in state awaiting late matches
    and do NOT reach the sink.  The final drained set is independent of
    micro-batch boundaries (the watermark is monotone and its final
    value depends only on the data), which is what makes a deterministic
    digest possible.

    State at scale is bounded by watermark + range bound exactly as in
    the inner join; the null-padding adds no state.
    """
    return left.withWatermark(left_ts, watermark_delay).join(
        right.withWatermark(right_ts, watermark_delay), on, "leftOuter"
    )


def streaming_block_maxima(
    stream_df: DataFrame,
    ts_col: str,
    value_col: str,
    block: str = "month",
    group_col: str | None = None,
) -> DataFrame:
    """Incremental extreme-value state: per-``block`` running MAX of
    ``value_col`` over an unbounded stream, COMPLETE output mode.

    MAX is associative and idempotent, so the drained per-block state
    after ANY prefix of the stream equals the batch block maxima of
    exactly the rows seen — which makes the whole EVT workflow
    incremental: maintain this tiny state (one row per calendar block),
    and on drain fit the SAME Gumbel digest with
    ``operators.timeseries.gumbel_fit_from_maxima`` — hash-equal to the
    batch :func:`~datajudge_spark.operators.timeseries
    .gumbel_return_level` of the same rows.  The capacity-planning gate
    ("is today's spike the expected annual extreme?") kept current per
    micro-batch with O(|blocks|) state, no watermark, no row buffering.
    With ``group_col`` the state keys by (group, block) — per-source
    tail tracking at O(|groups|·|blocks|) state; fit the drained state
    with ``gumbel_fit_from_maxima(group_cols=[group_col])``.
    """
    nn = stream_df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    )
    gcols = [group_col] if group_col else []
    if group_col:
        nn = nn.where(F.col(group_col).isNotNull())
    return nn.groupBy(
        *gcols, F.date_trunc(block, F.col(ts_col)).alias("block")
    ).agg(F.max(value_col).alias("m"))


def stateful_cusum(stream_df: DataFrame):
    """Streaming CUSUM level-shift monitor — the drift/changepoint gate
    of the streaming family (counts/dedup/sessions/joins existed; this
    adds sustained-regime-change detection), via
    ``applyInPandasWithState``.

    Input must be pre-projected to ``(k, d, c)``: grouping key, day
    ordinal (days since epoch, int), and an INTEGER value (e.g. cents —
    the caller does the decimal cast JVM-side so Python never rounds
    doubles).  State per key is the DAILY histogram as two arrays
    (day ordinals + cent sums) plus the observation count —
    calendar-bounded (~10^4 entries for decades), the same bound as the
    batch ``operators.timeseries.cusum_changepoint`` whose digest this
    reproduces exactly: ``D_t = n * cumsum_t - t * total`` in arbitrary-
    precision Python ints (no wrap at any scale), argmax with
    earliest-day ties, ``cusum_max = round(float(|D|)/n, 6)``
    matching the batch/oracle ``round(CAST(abs(d) AS DOUBLE)/n, 6)``
    op-for-op.

    Emits one digest row per key per micro-batch (``outputMode
    ("update")``); ``n_obs`` grows strictly per emission, so the final
    state is the per-key row with max ``n_obs``.
    """
    import datetime as dt

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DateType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("n_obs", LongType()),
            StructField("n_days", LongType()),
            StructField("change_day", DateType()),
            StructField("cusum_max", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("days", ArrayType(IntegerType())),
            StructField("sums", ArrayType(LongType())),
            StructField("n_obs", LongType()),
        ]
    )

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        if state.exists:
            days0, sums0, n_obs = state.get
            acc = {int(d): int(s) for d, s in zip(days0, sums0)}
            n_obs = int(n_obs)
        else:
            acc, n_obs = {}, 0
        for pdf in pdf_iter:
            n_obs += len(pdf)
            g = pdf.groupby("d")["c"].sum()
            for d, s in g.items():
                acc[int(d)] = acc.get(int(d), 0) + int(s)
        items = sorted(acc.items())
        state.update(
            ([d for d, _ in items], [s for _, s in items], n_obs)
        )
        n = len(items)
        total = sum(s for _, s in items)
        cum, best_abs, best_day = 0, -1, items[0][0]
        for t, (d, s) in enumerate(items, start=1):
            cum += s
            a = abs(n * cum - t * total)
            if a > best_abs:
                best_abs, best_day = a, d
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_obs": [n_obs],
                "n_days": [n],
                "change_day": [
                    dt.date(1970, 1, 1) + dt.timedelta(days=best_day)
                ],
                "cusum_max": [round(float(best_abs) / n, 6)],
            }
        )

    return stream_df.groupBy("k").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_zscore(
    stream_df: DataFrame, window_days: int = 7, threshold: float = 2.0
):
    """Streaming rolling z-score anomaly monitor — the spike gate of the
    streaming family (``stateful_cusum`` catches sustained level
    shifts; this catches single-day spikes), via
    ``applyInPandasWithState``.

    Input must be pre-projected to ``(k, d, c)`` exactly like
    ``stateful_cusum`` (key, day ordinal, INTEGER cents — the decimal
    cast happens JVM-side).  State per key is the same calendar-bounded
    daily histogram (two parallel arrays + observation count).

    Each emission recomputes the batch ``operators.timeseries
    .zscore_anomalies`` semantics over the state, fold-for-fold: the
    baseline for day t is the ``window_days`` PRESENT days before it in
    row order (excluding t, so a spike cannot mask itself), mean/var
    from EXACT integer window sums, and z is the identical one-double
    expression ``(x − S/n)/sqrt((SS − S²/n)/(n−1))`` rounded at 1e-6 —
    so the drained digest hash-equals a SQL oracle running the same
    window.  z is undefined (skipped) while the baseline holds <3
    points or zero variance.

    Digest per key: ``(key, n_obs, n_days, n_anomalies, max_abs_z)`` —
    anomalies are days with ``|z| > threshold``; ``max_abs_z`` is NULL
    when no day had a defined z.  ``n_obs`` grows strictly per
    emission, so the final state is the per-key row with max n_obs.
    """
    import math

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("n_obs", LongType()),
            StructField("n_days", LongType()),
            StructField("n_anomalies", LongType()),
            StructField("max_abs_z", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("days", ArrayType(IntegerType())),
            StructField("sums", ArrayType(LongType())),
            StructField("n_obs", LongType()),
        ]
    )

    def update(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            days0, sums0, n_obs = state.get
            acc = {int(d): int(s) for d, s in zip(days0, sums0)}
            n_obs = int(n_obs)
        else:
            acc, n_obs = {}, 0
        for pdf in pdf_iter:
            n_obs += len(pdf)
            g = pdf.groupby("d")["c"].sum()
            for d, s in g.items():
                acc[int(d)] = acc.get(int(d), 0) + int(s)
        items = sorted(acc.items())
        state.update(
            ([d for d, _ in items], [s for _, s in items], n_obs)
        )
        vals = [s for _, s in items]
        n_anom, max_z = 0, None
        for t in range(len(vals)):
            lo = max(0, t - window_days)
            win = vals[lo:t]
            n = len(win)
            if n < 3:
                continue
            s_w = sum(win)
            ss_w = sum(v * v for v in win)
            var_num = float(ss_w) - float(s_w) * float(s_w) / n
            if var_num <= 0:
                continue
            z = round(
                (float(vals[t]) - float(s_w) / n)
                / math.sqrt(var_num / (n - 1)),
                6,
            )
            az = abs(z)
            if max_z is None or az > max_z:
                max_z = az
            if az > threshold:
                n_anom += 1
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_obs": [n_obs],
                "n_days": [len(items)],
                "n_anomalies": [n_anom],
                "max_abs_z": [max_z],
            }
        )

    return stream_df.groupBy("k").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_bootstrap_sums(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    n_reps: int = 32,
    salt: str = "boot",
) -> DataFrame:
    """Streaming Poisson-bootstrap accumulator: per-replicate
    ``(rep, sw, n, cnt, s)`` sums over an unbounded stream, COMPLETE
    output mode.

    The deterministic per-row weights (md5-keyed Kirsch-Mitzenmacher,
    identical to ``operators.resample.bootstrap_mean_ci``) make the
    bootstrap INCREMENTAL: replicate sums are plain associative
    aggregates, so the drained state after any prefix of the stream
    equals the batch bootstrap of exactly the rows seen — uncertainty
    tracking that updates per micro-batch with O(R) state, no
    watermark, no row buffering.  Digest the drained 64-row sink with
    the same rank rule as the batch operator and the result hash-equals
    it (the 12th streaming/batch agreement in this family).
    """
    from ..operators.resample import _km_hash_sqls, _poisson1_sql

    if not 4 <= n_reps <= 4096:
        raise ValueError("n_reps must be between 4 and 4096")
    # same NULL discipline as the batch operator: a NULL key would
    # degrade every replicate to the constant MAX_W weight
    stream_df = stream_df.where(
        F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
    )
    v = F.col(value_col)
    h1_sql, h2_sql, u_sql = _km_hash_sqls(key_col, salt)
    # The R-way explode + CASE ladders are CPU-bound map work; a
    # single-file micro-batch scans as ONE partition and would run all
    # R x rows ladder evaluations on one core (the batch operator uses
    # spread() for the same reason, but plan-statistics probing is not
    # available on a streaming frame, so repartition unconditionally —
    # the pre-explode rows are three narrow columns, a trivially cheap
    # exchange at any rate a micro-batch can sustain).  Weights are
    # pure functions of the key, so values are identical.
    parallelism = stream_df.sparkSession.sparkContext.defaultParallelism
    hashed = stream_df.select(
        v.alias("__v"),
        F.expr(h1_sql).alias("__h1"),
        F.expr(h2_sql).alias("__h2"),
    ).repartition(parallelism).select(
        "__v",
        "__h1",
        "__h2",
        F.explode(F.sequence(F.lit(1), F.lit(n_reps))).alias("__rr"),
    )
    pairs = hashed.select(
        (F.col("__rr") - 1).alias("rep"),
        "__v",
        F.expr(f"CAST({_poisson1_sql(u_sql)} AS BIGINT)").alias("__w"),
    )
    return pairs.groupBy("rep").agg(
        # w is a tiny Poisson weight and v a domain-bounded integer
        # metric: the product is 64-bit exact, so multiply in long and
        # pay the decimal cast only on the sum input (same rationale as
        # bootstrap_mean_ci — the per-row BigDecimal multiply ran once
        # per exploded replicate row, the hottest loop here)
        F.sum(
            (F.col("__w") * F.col("__v")).cast("decimal(38,0)")
        ).alias("sw"),
        F.sum("__w").alias("n"),
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("__v").cast("decimal(38,0)")).alias("s"),
    )


def streaming_ab_counts(
    stream_df: DataFrame,
    population_a,
    population_b,
    success,
) -> DataFrame:
    """Running A/B experiment counts over a stream: ONE complete-mode
    state row ``(n_a, s_a, n_b, s_b)`` of exact integer counts for two
    row-filter populations and their success events — the sequential-
    monitoring primitive ("watch the experiment as data arrives").

    All four counts are plain conditional aggregates — associative and
    commutative — so the drained state after any availableNow pass
    EQUALS the batch counts of the same rows exactly, and feeding it
    through :func:`datajudge_spark.operators.stats.ztest_from_counts`
    (the identical expression tree the batch operator uses) yields a
    hash-identical z digest.  State is O(1): four longs.  No watermark
    needed — nothing is ever evicted.
    """
    return stream_df.where(population_a | population_b).agg(
        F.count(F.when(population_a, 1)).alias("n_a"),
        F.count(F.when(population_a & success, 1)).alias("s_a"),
        F.count(F.when(population_b, 1)).alias("n_b"),
        F.count(F.when(population_b & success, 1)).alias("s_b"),
    )


def streaming_assignment_counts(
    stream_df: DataFrame,
    assign_col: str,
) -> DataFrame:
    """Running per-variant assignment counts over a stream: one
    complete-mode state row per observed level ``(level, n)`` — the
    input to a sequential sample-ratio-mismatch (SRM) monitor ("is the
    randomizer broken RIGHT NOW?", checked as data arrives instead of
    at experiment readout).

    Counts are associative/commutative, so the drained state after any
    availableNow pass EQUALS the batch ``GROUP BY`` exactly, and
    feeding it through the same χ² fold the batch operator uses
    (:func:`datajudge_spark.operators.stats.sample_ratio_mismatch`
    semantics) yields a hash-identical digest.  State is O(|levels|)
    longs — bounded by the experiment's variant count, not the stream.
    No watermark needed; nothing is evicted.
    """
    return (
        stream_df.where(F.col(assign_col).isNotNull())
        .groupBy(F.col(assign_col).alias("level"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def streaming_stratum_2x2_counts(
    stream_df: DataFrame,
    stratum_col: str,
    exposure: Column,
    outcome: Column,
) -> DataFrame:
    """Running per-stratum 2x2 contingency counts over a stream: one
    complete-mode state row per stratum ``(__s, __a, __n1, __m1, __t)``
    — the input to a sequential Cochran-Mantel-Haenszel monitor ("is
    conversion associating with the variant, controlling for the
    stratum, RIGHT NOW?").

    All four cells are associative/commutative conditional counts, so
    the drained state after any availableNow pass EQUALS the batch
    conditional GROUP BY exactly, and feeding it through the identical
    fold (:func:`datajudge_spark.operators.stats.cmh_from_counts`)
    yields a hash-identical digest.  State is O(|strata|) longs —
    bounded by the stratification grain, not the stream.  No watermark
    needed; nothing is evicted.
    """
    return (
        stream_df.where(F.col(stratum_col).isNotNull())
        .groupBy(F.col(stratum_col).alias("__s"))
        .agg(
            F.count(F.when(exposure & outcome, 1)).alias("__a"),
            F.count(F.when(exposure, 1)).alias("__n1"),
            F.count(F.when(outcome, 1)).alias("__m1"),
            F.count(F.lit(1)).alias("__t"),
        )
    )


def streaming_look_counts(
    stream_df: DataFrame,
    look_col,
    population_a: "Column",
    population_b: "Column",
    success: "Column",
) -> DataFrame:
    """Running per-LOOK A/B experiment counts over a stream: one
    complete-mode state row per look ``(look, n_a, s_a, n_b, s_b)`` —
    the input to a group-sequential O'Brien-Fleming monitor ("peek at
    the experiment after every look without inflating the
    false-positive rate"), completing the sequential-testing stack the
    SRM / CMH / z-test streaming contracts started.

    All four counts are associative/commutative conditional aggregates,
    so the drained state after any availableNow pass EQUALS the batch
    grouped counts (:func:`datajudge_spark.operators.stats.
    sequential_look_counts`) exactly, and feeding it through the
    identical boundary fold (:func:`datajudge_spark.operators.stats.
    obf_sequential_ztest`) yields a hash-identical monitoring grid.
    State is O(|looks|) longs — bounded by the look grain (days/hours
    of the experiment), not the stream.  No watermark needed; nothing
    is evicted.
    """
    look = look_col if isinstance(look_col, Column) else F.col(look_col)
    return (
        stream_df.where((population_a | population_b) & look.isNotNull())
        .groupBy(look.alias("look"))
        .agg(
            F.count(F.when(population_a, 1)).alias("n_a"),
            F.count(F.when(population_a & success, 1)).alias("s_a"),
            F.count(F.when(population_b, 1)).alias("n_b"),
            F.count(F.when(population_b & success, 1)).alias("s_b"),
        )
    )
