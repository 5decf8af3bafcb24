"""OLAP extensions: CUBE digests, exact heavy hitters, latest-snapshot
dedup, and sketch-vs-exact accuracy checks.

No direct reference counterpart (datajudge's aggregate surface stops at
uniques/groupby, src/datajudge/db_access.py:560-720); these are the next
operators a warehouse/monitoring team reaches for, re-expressed
Spark-first.

Scale notes (100 TB):

- ``heavy_hitters`` is one partial-agg'd shuffle on the key plus a
  broadcast 1-row total — the share threshold is evaluated as pure
  integer arithmetic (``n * 1_000_000 >= total * ppm``) so the cut is
  bit-identical on every engine and never sits on a double boundary.
- ``latest_snapshot`` relies on Spark's WindowGroupLimit pushdown: the
  ``row_number() = 1`` filter prunes to one row per key inside each map
  partition BEFORE the exchange, so the shuffle moves O(|keys|) rows,
  not O(|rows|) (asserted in tests/test_plans.py).
- ``approx_distinct_check`` / ``approx_percentile_check`` wrap the
  HLL++ / KLL-style sketches (``approx_count_distinct``,
  ``percentile_approx``) that replace exact distinct/sort at 100 TB, and
  bound them against the exact answer so the contract query proves the
  sketch is within tolerance on real data.  Both sketches are one
  partial-agg pass; the exact side shares the same scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def heavy_hitters(
    df: DataFrame,
    key_cols: Sequence[str],
    min_share_ppm: int,
    include_total: bool = False,
) -> DataFrame:
    """Exact heavy hitters: key groups holding at least ``min_share_ppm``
    parts-per-million of the total row count.

    Returns ``(*key_cols, n, share)`` with ``share`` rounded to 6
    decimals (plus ``total`` when ``include_total`` — for callers that
    need exact integer follow-up comparisons).  The threshold compare is
    integer-exact: ``n * 1e6 >= total * ppm`` (never a double product,
    so no boundary flakiness).
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    extra = [F.col("__total").alias("total")] if include_total else []
    return (
        counts.join(F.broadcast(total))
        .where(F.col("n") * 1_000_000 >= F.col("__total") * int(min_share_ppm))
        .select(
            *key_cols,
            "n",
            F.round(F.col("n").cast("double") / F.col("__total"), 6).alias(
                "share"
            ),
            *extra,
        )
    )


def grouped_heavy_hitters(
    df: DataFrame,
    group_col: str,
    key_col: str,
    min_share_ppm: int,
) -> DataFrame:
    """Per-group exact heavy hitters: within EVERY group of
    ``group_col``, the ``key_col`` values holding at least
    ``min_share_ppm`` parts-per-million of THAT GROUP's rows — "which
    sources are dominated by which users/keys", asked for all groups in
    one pass.

    One shuffle on (group, key); group totals re-aggregate the counts
    frame (|group x key| rows, never the fact table) and join back on
    the group key — a second tiny shuffle co-partitioned by group.  The
    share cut is integer-exact (``n * 1e6 >= group_total * ppm``), the
    same ulp-proof compare as :func:`heavy_hitters`.

    Returns ``(group, key, n, group_total, share)``.
    """
    counts = df.where(
        F.col(group_col).isNotNull() & F.col(key_col).isNotNull()
    ).groupBy(
        F.col(group_col).alias("grp"), F.col(key_col).alias("key")
    ).agg(F.count(F.lit(1)).alias("n"))

    from ..pipeline._util import materialize_once

    counts = materialize_once(counts)
    totals = counts.groupBy("grp").agg(
        F.sum("n").alias("group_total")
    )
    return (
        counts.join(totals, "grp")
        .where(
            F.col("n") * 1_000_000
            >= F.col("group_total") * int(min_share_ppm)
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("key").alias(key_col),
            "n",
            F.col("group_total").cast("bigint").alias("group_total"),
            F.round(
                F.col("n").cast("double") / F.col("group_total"), 6
            ).alias("share"),
        )
    )


def latest_snapshot(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[Column],
) -> DataFrame:
    """Keep the single latest row per key (mutable-log compaction /
    "current state" view, the standard CDC read pattern).

    ``order_cols`` must be a total order within each key (add a unique
    id as the final tiebreak) or the result is nondeterministic.
    """
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def approx_distinct_check(
    df: DataFrame, col: str, rel_tol: float = 0.15
) -> DataFrame:
    """One row: exact COUNT(DISTINCT col), plus whether the HLL++ sketch
    (``approx_count_distinct``, default rsd 5%) lands within ``rel_tol``
    of it.  ``rel_tol`` defaults to 3x the sketch's rsd."""
    return df.agg(
        F.count_distinct(F.col(col)).alias("exact_distinct"),
        F.approx_count_distinct(col).alias("__approx"),
    ).select(
        "exact_distinct",
        (
            F.abs(F.col("__approx") - F.col("exact_distinct"))
            <= rel_tol * F.col("exact_distinct")
        ).alias("within_tol"),
    )


def approx_percentile_check(
    df: DataFrame,
    cents_col: Column,
    accuracy: int = 10_000,
    rel_tol: float = 0.02,
) -> DataFrame:
    """One row: exact interpolated median over an integer-cents column,
    plus whether ``percentile_approx`` lands within ``rel_tol`` of it.

    The input must be integer cents so the exact median is
    bit-deterministic cross-engine: interpolation at q=0.5 over bigints
    is (lo+hi)/2, exact in a double for values < 2^52.

    CAVEAT (scale): Spark's ``percentile()`` aggregate buffers every
    value in one merge buffer — fine to tens of millions of rows, the
    SURVEY §4.4 hazard beyond that. For big columns use
    ``operators.scalars.exact_percentile_df`` (two-pass range-bucketed)
    for the exact side, as the ``approx_percentile_check`` contract
    query does.
    """
    cents = cents_col.cast("bigint")
    return df.select(cents.alias("__c")).agg(
        F.expr("percentile(__c, 0.5D)").alias("exact_median_cents"),
        F.percentile_approx("__c", F.lit(0.5), F.lit(accuracy)).alias(
            "__approx"
        ),
    ).select(
        "exact_median_cents",
        (
            F.abs(F.col("__approx") - F.col("exact_median_cents"))
            <= rel_tol * F.col("exact_median_cents")
        ).alias("within_tol"),
    )


def approx_top_k_check(
    df: DataFrame,
    col: str,
    k: int = 5,
    max_items_tracked: int = 16_384,
    rel_tol: float = 0.02,
) -> DataFrame:
    """Bound the ``approx_top_k`` frequent-items sketch against the
    exact top-k, in ONE scan: ``(rank, item, exact_cnt, in_sketch,
    count_ok)`` per exact-top-k rank.

    Completes the sketch-contract family
    (:func:`approx_distinct_check`, :func:`approx_percentile_check`):
    the sketch is what replaces the exact groupBy at 100 TB, and the
    contract proves it on real data.  Both sides share one file scan
    via ``cube(col)``: the ``(col)`` grouping-set rows ARE the exact
    histogram, the ``()`` total row carries the sketch (the per-group
    sketch branch degenerates to a single-item sketch — negligible).
    The Expand doubles aggregate input rows but halves the scans; at
    scale the parquet scan is the bound.

    Exact top-k is totally ordered by ``(cnt DESC, item ASC)``.  Rank-
    boundary ties are genuinely ambiguous between the two sides, so the
    containment guarantee applies only to items STRICTLY above the
    boundary count: ``in_sketch`` is vacuously true on boundary rows.
    ``count_ok`` bounds the sketch's count estimate within ``rel_tol``
    when the item is present.  With ``max_items_tracked`` at or above
    the column's distinct count the sketch is in exact mode and both
    booleans are guaranteed — size it that way for contract runs, let
    it shrink for production monitoring.
    """
    base = df.where(F.col(col).isNotNull())
    agg = base.cube(col).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.expr(
            f"approx_top_k(`{col}`, {int(k)}, {int(max_items_tracked)})"
        ).alias("sk"),
        F.grouping(col).cast("int").alias("__g"),
    )
    hist = agg.where(F.col("__g") == 0).select(
        F.col(col).alias("item"), "cnt"
    )
    sketch = agg.where(F.col("__g") == 1).select("sk")
    topk = hist.orderBy(F.col("cnt").desc(), F.col("item").asc()).limit(k)
    # the remaining windows/joins run on <= k rows
    w_rank = Window.orderBy(F.col("cnt").desc(), F.col("item").asc())
    w_all = Window.partitionBy()
    # F.get (0-based) returns NULL on a miss; element_at would throw
    hit = F.get(
        F.filter(F.col("sk"), lambda x: x["item"] == F.col("item")), 0
    )
    return (
        topk.crossJoin(F.broadcast(sketch))
        .select(
            F.row_number().over(w_rank).cast("int").alias("rank"),
            "item",
            F.col("cnt").cast("bigint").alias("exact_cnt"),
            (
                (F.col("cnt") == F.min("cnt").over(w_all))
                | hit.isNotNull()
            ).alias("in_sketch"),
            F.when(hit.isNull(), F.lit(True))
            .otherwise(
                F.abs(hit["count"] - F.col("cnt"))
                <= rel_tol * F.col("cnt")
            )
            .alias("count_ok"),
        )
    )


def countmin_check(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 256,
    k: int = 5,
) -> DataFrame:
    """Count-min sketch built distributedly and bounded against exact
    counts: ``(rank, item, exact_cnt, cm_est, overestimate)`` per
    exact-top-k item.

    The sketch is ``depth x width`` counters from ONE explode+groupBy
    pass: each row contributes ``depth`` (row, bucket) cells keyed by
    Kirsch-Mitzenmacher double hashes ``h_i = (b1 + i*b2) mod 2^52``
    over TWO md5 base hashes (:func:`~datajudge_spark.pipeline.text
    .md5_long` — portable, so an oracle engine reproduces the sketch
    bit-for-bit; two hashes per row instead of ``depth``, the same
    k-independence trick as :func:`~datajudge_spark.pipeline.dedup
    .minhash_signature`).  Map-side combine collapses the
    exploded rows to at most ``depth*width`` partial cells per
    partition, so the shuffle is O(depth*width) regardless of input
    size — the structure that replaces a full groupBy when only
    frequency ESTIMATES are needed at 100 TB.

    An item's estimate is the MIN over its ``depth`` counters; the CM
    structural guarantee ``cm_est >= exact_cnt`` always holds, and
    ``overestimate = cm_est - exact_cnt`` is emitted exactly — the
    whole output is deterministic given the hash family, so the
    contract is a full value match, not an asserted boolean.
    Completes the sketch-contract family (HLL distinct, KLL
    percentile, top-k, count-min).
    """
    from ..pipeline.dedup import MINHASH_HEX, MINHASH_MASK
    from ..pipeline.text import md5_long_sql

    # the two md5 base hashes are STAGED as columns and the depth cells
    # fold them as one parsed SQL explode: guarantees 2 md5 evaluations
    # per row (not depth x 2 pending codegen CSE) and replaces the
    # ~12-round-trip-per-cell Column build; hash family and every value
    # unchanged
    def km_stage(key_sql: str) -> list[Column]:
        return [
            F.expr(md5_long_sql(key_sql, salt="a", nhex=MINHASH_HEX)).alias("__b1"),
            F.expr(md5_long_sql(key_sql, salt="b", nhex=MINHASH_HEX)).alias("__b2"),
        ]

    cells_sql = "explode(array(" + ", ".join(
        f"named_struct('r', {i}, "
        f"'b', pmod((__b1 + {i} * __b2) & {MINHASH_MASK}, {width}))"
        for i in range(depth)
    ) + "))"

    key_sql = f"CAST(`{col}` AS STRING)"
    base = df.where(F.col(col).isNotNull())
    cells = (
        base.select(*km_stage(key_sql))
        .select(F.expr(cells_sql).alias("rb"))
        .groupBy(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hist = base.groupBy(F.expr(key_sql).alias("item")).agg(
        F.count(F.lit(1)).alias("exact_cnt")
    )
    topk = hist.orderBy(
        F.col("exact_cnt").desc(), F.col("item").asc()
    ).limit(k)
    probes = topk.select(
        "item", "exact_cnt", *km_stage("`item`")
    ).select(
        "item",
        "exact_cnt",
        F.expr(cells_sql).alias("rb"),
    ).select("item", "exact_cnt", F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    est = (
        probes.join(F.broadcast(cells), ["r", "b"])
        .groupBy("item", "exact_cnt")
        .agg(F.min("cnt").alias("cm_est"))
    )
    w_rank = Window.orderBy(F.col("exact_cnt").desc(), F.col("item").asc())
    return est.select(
        F.row_number().over(w_rank).cast("int").alias("rank"),
        "item",
        F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
        F.col("cm_est").cast("bigint").alias("cm_est"),
        (F.col("cm_est") - F.col("exact_cnt"))
        .cast("bigint")
        .alias("overestimate"),
    )


def bloom_filter_check(
    build_df: DataFrame,
    build_col: str,
    probe_df: DataFrame,
    probe_col: str,
    n_bits: int = 4096,
    depth: int = 3,
) -> DataFrame:
    """Portable Bloom filter built from ``build_df`` keys and probed
    with ``probe_df`` keys, bounded against ground truth: one digest
    row ``(n_probe, n_present, n_hits_on_present, n_false_positives,
    no_false_negatives)``.

    This is the semi-join reduction that pre-filters a 100 TB probe
    side before the real join: build is one explode+groupBy collapsing
    to ``n_bits/32`` bitmap words (32 bits per long word — no sign
    games), the probe is MAP-ONLY (the bitmap ships as a single SQL
    ``map`` literal, the established driver-folded-constant pattern),
    and ground truth rides one hash join for the contract only.  The
    hash family is md5-derived (:func:`~datajudge_spark.pipeline.text
    .md5_long` with per-probe salts), so the filter — including its
    exact false-positive count on this data — is deterministic and
    reproducible by an oracle engine: the contract is a value match,
    not a probabilistic assertion.  ``no_false_negatives`` is the Bloom
    structural guarantee and must always be true.
    """
    if n_bits % 32:
        raise ValueError(f"n_bits ({n_bits}) must be a multiple of 32")
    from ..pipeline.text import md5_long_sql

    def cells_expr() -> Column:
        # depth (word, bit) cells over the staged __k as ONE parsed
        # string (same md5/pmod/shift arithmetic, ~45 round-trips saved
        # per call site)
        structs = []
        for i in range(depth):
            hm = f"pmod({md5_long_sql('`__k`', salt=i)}, {n_bits})"
            structs.append(
                f"named_struct('word', shiftright({hm}, 5), "
                f"'bit', {hm} & 31)"
            )
        return F.expr("explode(array(" + ", ".join(structs) + "))")

    bkeys = build_df.where(F.col(build_col).isNotNull()).select(
        F.col(build_col).cast("string").alias("__k")
    ).distinct()
    words = (
        bkeys.select(cells_expr().alias("c"))
        .select(
            F.col("c.word").alias("word"),
            F.expr("shiftleft(cast(1 as bigint), c.bit)").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    # n_bits/32 rows, bounded: fold into a single map literal so the
    # probe stays map-only (no join below the probe aggregation)
    rows = words.collect()
    if rows:
        map_sql = "map(" + ", ".join(
            f"{int(r['word'])}, {int(r['bits'])}L" for r in rows
        ) + ")"
    else:
        map_sql = "map(-1, 0L)"
    probe = probe_df.where(F.col(probe_col).isNotNull()).select(
        F.col(probe_col).cast("string").alias("__k")
    ).distinct()
    truth = probe.join(
        bkeys.select(F.col("__k").alias("__bk")),
        F.col("__k") == F.col("__bk"),
        "left",
    ).select("__k", F.col("__bk").isNotNull().alias("present"))
    probed = (
        truth.select(
            "__k",
            "present",
            cells_expr().alias("c"),
        )
        .select(
            "__k",
            "present",
            F.expr(
                f"((shiftright(element_at({map_sql}, c.word), c.bit) & 1) = 1)"
            ).alias("__bit_set")
        )
        .groupBy("__k", "present")
        .agg(F.min(F.coalesce(F.col("__bit_set"), F.lit(False))).alias("hit"))
    )
    return probed.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.col("present").cast("bigint")).alias("n_present"),
        F.sum((F.col("present") & F.col("hit")).cast("bigint")).alias(
            "n_hits_on_present"
        ),
        F.sum(
            ((~F.col("present")) & F.col("hit")).cast("bigint")
        ).alias("n_false_positives"),
    ).select(
        "n_probe",
        "n_present",
        "n_hits_on_present",
        "n_false_positives",
        (F.col("n_hits_on_present") == F.col("n_present")).alias(
            "no_false_negatives"
        ),
    )


def zorder_key(
    cols: Sequence[Column | str], bits: int = 16
) -> Column:
    """Bit-interleaved Z-order (Morton) key over non-negative integer
    dimensions — the multi-dimensional clustering key behind
    data-skipping layouts (Delta OPTIMIZE ZORDER, Iceberg sort orders).

    Each dimension contributes its low ``bits`` bits; bit ``i`` of
    dimension ``d`` lands at position ``i * n_dims + d``, so nearby
    (x, y, ...) points share long key prefixes and co-locate in the
    same files / row groups. ``bits * n_dims`` must be <= 63.

    Pure JVM-side bit arithmetic (shiftright/shiftleft/AND/OR inside
    whole-stage codegen) — no UDF, no shuffle; the key costs the same
    as any projected expression at 100 TB scan speed.
    """
    from functools import reduce

    ncols = len(cols)
    if ncols == 0:
        raise ValueError("zorder_key needs at least one column")
    if bits * ncols > 63:
        raise ValueError(f"bits * n_dims must be <= 63, got {bits * ncols}")
    mask = (1 << bits) - 1
    terms = []
    for d, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        masked = col.cast("bigint").bitwiseAND(F.lit(mask))
        for i in range(bits):
            bit = F.shiftright(masked, i).bitwiseAND(F.lit(1))
            terms.append(F.shiftleft(bit, i * ncols + d))
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    minimize_x: bool = True,
    maximize_y: bool = True,
    n_buckets: int = 1024,
) -> DataFrame:
    """2-D skyline (Pareto frontier): the distinct ``(x, y)`` points not
    dominated by any other point, with their multiplicity — e.g. "the
    cheapest price ever achieved for each quantity level and better".

    Point p dominates q when p is no worse in BOTH coordinates and
    strictly better in at least one; equal points never dominate each
    other, so exact duplicates of a frontier point all survive (as one
    row with ``n`` > 1).

    Plan (no global sort at any cardinality — the sweep-line rewritten
    as the bucketed running max):

    1. ``groupBy(x, y)`` histogram — ONE shuffle over distinct pairs,
    2. per-x group max of y (map-side combinable),
    3. range-bucket x; per-bucket maxes fold driver-side into <=B
       EXCLUSIVE prefix offsets (the same literal-map shipping as the
       rank statistics — no join under the window),
    4. a window PARTITIONED BY bucket (ordered by x, rows up to
       1 PRECEDING) plus the bucket offset gives each x the max y over
       all STRICTLY smaller x,
    5. keep (x, y) iff y beats that strict-prefix max AND y is its own
       x-group's max.

    Directions are handled by sign-flipping into the canonical
    (minimize x, maximize y) form and flipping back on output, so one
    code path serves all four quadrant orientations.  Both columns must
    be numeric (cast money/quantities to integer cents upstream).

    Extension — no reference counterpart; peers the OLAP family
    (heavy_hitters/cube) as the multi-objective "best tradeoffs" digest.
    """
    sx = F.col(x_col) if minimize_x else -F.col(x_col)
    sy = F.col(y_col) if maximize_y else -F.col(y_col)
    hist = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(
            sx.cast("long").alias("__x"), sy.cast("long").alias("__y")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from ..pipeline._util import materialize_once

    hist = materialize_once(hist)
    stats = hist.agg(
        F.min("__x").alias("lo"), F.max("__x").alias("hi")
    ).first()
    if stats["lo"] is None:
        return hist.select(
            (F.col("__x") if minimize_x else -F.col("__x")).alias(x_col),
            (F.col("__y") if maximize_y else -F.col("__y")).alias(y_col),
            "n",
        )
    lo, hi = float(stats["lo"]), float(stats["hi"])
    if hi == lo:
        # single x value: frontier = that x's max y (plus duplicates)
        gm = hist.agg(F.max("__y").alias("__gm"))
        return (
            hist.crossJoin(F.broadcast(gm))
            .where(F.col("__y") == F.col("__gm"))
            .select(
                (F.col("__x") if minimize_x else -F.col("__x")).alias(x_col),
                (F.col("__y") if maximize_y else -F.col("__y")).alias(y_col),
                "n",
            )
        )
    grp = (
        hist.groupBy(F.col("__x").alias("__gx"))
        .agg(F.max("__y").alias("__gm"))
        .withColumn(
            "__b",
            F.least(
                F.floor(
                    (F.col("__gx").cast("double") - lo)
                    / (hi - lo)
                    * n_buckets
                ),
                F.lit(n_buckets - 1),
            ).cast("int"),
        )
    )
    per_bucket = grp.groupBy("__b").agg(F.max("__gm").alias("m")).collect()
    run, offsets = None, {}
    for row in sorted(per_bucket, key=lambda r: r["__b"]):
        offsets[int(row["__b"])] = run  # EXCLUSIVE prefix max
        run = row["m"] if run is None else max(run, row["m"])
    pairs = ", ".join(
        f"{b}, {('CAST(NULL AS BIGINT)' if off is None else str(int(off)) + 'L')}"
        for b, off in offsets.items()
    )
    off_expr = F.expr(f"element_at(map({pairs}), __b)")
    w = (
        Window.partitionBy("__b")
        .orderBy("__gx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # greatest() ignores NULL operands (NULL only when both are), which
    # is exactly the semantics for "no strictly-smaller x exists yet"
    strict = grp.select(
        "__gx",
        "__gm",
        F.greatest(F.max("__gm").over(w), off_expr).alias("__strict"),
    )
    keep = strict.where(
        F.col("__strict").isNull() | (F.col("__gm") > F.col("__strict"))
    ).select("__gx", "__gm")
    return (
        hist.join(
            keep,
            (F.col("__x") == F.col("__gx")) & (F.col("__y") == F.col("__gm")),
        )
        .select(
            (F.col("__x") if minimize_x else -F.col("__x")).alias(x_col),
            (F.col("__y") if maximize_y else -F.col("__y")).alias(y_col),
            "n",
        )
    )
