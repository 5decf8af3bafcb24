"""Shared pipeline plumbing."""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager
from contextvars import ContextVar
from typing import TYPE_CHECKING

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from datajudge_spark.sources import DataSource


def in_literal_list(col_name: str, values) -> Column:
    """``col IN (v1, v2, ...)`` as ONE parsed SQL string.

    ``Column.isin(list)`` lifts every element through ``F.lit`` — ~4
    py4j round-trips each, so a 100-id query set costs ~800 round-trips
    of pure driver time per call site.  Int and string values cover the
    id types the pipeline operators take; anything else falls back to
    the ``isin`` build (identical semantics either way)."""
    lits = []
    for v in values:
        if isinstance(v, bool):
            lits = None
            break
        if isinstance(v, int):
            lits.append(str(v) if -(2**31) <= v < 2**31 else f"{v}L")
        elif isinstance(v, str):
            escaped = v.replace("\\", "\\\\").replace("'", "\\'")
            lits.append(f"'{escaped}'")
        else:
            lits = None
            break
    if lits is None:
        return F.col(col_name).isin(list(values))
    return F.expr(f"`{col_name}` IN ({', '.join(lits)})")

#: Relations larger than this are assumed to already scan with adequate
#: parallelism; smaller ones are repartitioned before CPU-heavy map work.
SPREAD_SIZE_THRESHOLD = 1 << 30  # 1 GiB


#: Blocks released by the innermost open :func:`cache_scope`; ``None``
#: when no scope is open.  A context variable, so each thread (and each
#: ``foreachBatch`` callback thread) sees only the scopes it opened.
_OPEN_SCOPE: ContextVar[list[Callable[[], None]] | None] = ContextVar(
    "djs_cache_scope", default=None
)


#: Sources resolved by :func:`resolve_source` in the outermost open
#: :func:`cache_scope`, keyed by ``(source.resolution_key(), id(spark))``
#: (the source's id unless it says otherwise); each entry holds the
#: source and session too, so neither id is reused while the scope is
#: open.  ``None`` when no scope is open.
_SOURCE_MEMO: ContextVar[dict[tuple[object, int], tuple] | None] = ContextVar(
    "djs_source_memo", default=None
)


@contextmanager
def cache_scope() -> Iterator[None]:
    """Own every block that :func:`materialize_once` and
    :func:`iter_checkpoint` pin while the scope is open.

    On exit the scope releases them in reverse order: persisted frames
    with ``unpersist()``, local checkpoints by unpersisting the RDD
    under their ``LogicalRDD``.  Scopes nest; a block belongs to the
    innermost one.  A frame derived from a released block is still
    valid after exit, except one over a local checkpoint: those blocks
    have no lineage, so finish using it inside the scope.

    The outermost open scope also holds the frames
    :func:`resolve_source` resolved, so each source is resolved once per
    scope and afresh in the next one.

    ``Constraint.test`` (hence ``Requirement.test`` and the pytest
    integration), ``StreamScope`` and the contract harnesses open one.
    """
    held: list[Callable[[], None]] = []
    token = _OPEN_SCOPE.set(held)
    memo_token = (
        _SOURCE_MEMO.set({}) if _SOURCE_MEMO.get() is None else None
    )
    try:
        yield
    finally:
        _OPEN_SCOPE.reset(token)
        if memo_token is not None:
            _SOURCE_MEMO.reset(memo_token)
        for release in reversed(held):
            release()


def resolve_source(spark: SparkSession, source: DataSource) -> DataFrame:
    """``source.get_df(spark)``, resolved at most once per outermost
    open :func:`cache_scope`.

    Every constraint of a requirement, and both sides of a between
    constraint over one source object or one parquet path, read the
    same frame.  A parquet source's footer job is not tied to this memo:
    ``sources.read_parquet`` runs it on the first read of a path and
    again only when the path's files or the inference confs change,
    whatever scope reads it.
    With no scope open the source is resolved on every call.  The frame
    keeps the schema and file listing of its resolution, so a table
    rewritten between two tests is read fresh only when no scope is
    open around both (each ``test`` opens its own).
    """
    memo = _SOURCE_MEMO.get()
    if memo is None:
        return source.get_df(spark)
    key = (source.resolution_key(), id(spark))
    held = memo.get(key)
    if held is None:
        # two threads that both missed read the frame stored first
        held = memo.setdefault(key, (source, spark, source.get_df(spark)))
    return held[2]


def _owned(df: DataFrame, release: Callable[[], None]) -> DataFrame:
    held = _OPEN_SCOPE.get()
    if held is not None:
        held.append(release)
    return df


def materialize_once(df: DataFrame) -> DataFrame:
    """Compute ``df`` at most once even when it feeds several plan
    branches (self-joins, size lookups, convergence checks).

    Spark does not share common subplans across join branches — a
    self-join of an expensive derivation (shingle explode + hashing)
    recomputes it per branch unless the exchange happens to be reused.
    ``persist(MEMORY_AND_DISK)`` stays lazy, materializes on first
    action into the block manager, and every consumer reads the cached
    blocks — while the logical plan stays attached, so a lost executor's
    blocks are *recomputed* rather than failing the job.  That
    fault-tolerance is why this is persist and NOT ``localCheckpoint``:
    checkpoint blocks are unreplicated and unrecoverable, acceptable
    only where lineage truncation is mandatory (iterative loops, see
    ``dedup.duplicate_clusters``).

    The innermost open :func:`cache_scope` owns the blocks and releases
    them on exit, so the next read of the same source sees its current
    data.  With no scope open the session owns them: Spark's
    ``CacheManager`` keeps them until ``spark.catalog.clearCache()``,
    and a later read of the same plan (same path) is served from them.
    A plan already cached when this is called (by an enclosing scope,
    the session or the caller's own ``cache()``) stays with its owner:
    the scope does not release it.
    """
    if df._jdf.storageLevel().isValid():
        return df
    cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    return _owned(cached, cached.unpersist)


def iter_checkpoint(df: DataFrame) -> DataFrame:
    """Lineage truncation for iterative loops (connected components,
    pointer doubling): each iteration MUST cut the plan or it grows
    exponentially.

    Uses *reliable* ``checkpoint()`` (HDFS/object-store, survives
    executor loss) when the application has set a checkpoint dir —
    ``spark.sparkContext.setCheckpointDir(...)`` is the cluster
    operator's opt-in — and falls back to ``localCheckpoint()``
    (executor-local blocks, unrecoverable but zero-infrastructure)
    otherwise.  Both truncate lineage; only the reliable form tolerates
    losing an executor mid-loop.  The innermost open
    :func:`cache_scope` releases local checkpoint blocks on exit."""
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().checkpointDir().isDefined():
        return df.checkpoint()
    out = df.localCheckpoint()
    return _owned(
        out,
        lambda: out._jdf.queryExecution().analyzed().rdd().unpersist(False),
    )


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure CPU-bound per-row work is spread across the cluster.

    A small parquet file scans as ONE partition, which serializes any
    expensive downstream map work (shingling, hashing, cosine folds) on a
    single core. Small relations (by Catalyst plan statistics — no job is
    triggered; ``df.rdd.getNumPartitions()`` would materialize AQE
    stages) are repartitioned up to the session's default parallelism: a
    trivially cheap shuffle at that size. Large relations already scan
    with >= parallelism partitions and pass through untouched, so this is
    a no-op at real corpus scale. Idempotent: an input whose plan root is
    already a repartition is left alone.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    execution = df._jdf.queryExecution()
    # Walk through partitioning-preserving nodes (Project/Filter/alias):
    # a frame derived from an explicit repartition by narrow ops only is
    # already spread, and repartitioning it again costs a second shuffle
    # of the same rows (pq_train's cached frame paid exactly that).
    node = execution.logical()
    while True:
        name = node.getClass().getSimpleName()
        if "Repartition" in name:
            return df
        if name in ("Project", "Filter", "SubqueryAlias") and node.children().size() == 1:
            node = node.children().head()
            continue
        break
    size = int(str(execution.optimizedPlan().stats().sizeInBytes()))
    if size < SPREAD_SIZE_THRESHOLD:
        # Hash-repartition on a deterministic synthetic key instead of
        # round-robin: every keyless repartition(n) first pays a LOCAL
        # SORT of its input (spark.sql.execution.sortBeforeRepartition,
        # on since SPARK-23207 for retry determinism) — and on the
        # single-partition scans this function exists for, that sort
        # runs the whole frame on ONE core before anything spreads
        # (measured: cube_agg 1.07 -> 0.58 s from skipping it).  The
        # key is xxhash64 of monotonically_increasing_id: deterministic
        # for a given input split (unlike rand() — SPARK-38388 row
        # loss/dup under fetch-failure retries), and 16x more distinct
        # values than partitions so the hash spreads evenly (§2.5 of
        # the tuning playbook).  Explicit numPartitions keeps AQE from
        # coalescing it back down.
        return df.repartition(
            target,
            F.pmod(
                F.xxhash64(F.monotonically_increasing_id()),
                F.lit(target * 16),
            ),
        )
    return df
