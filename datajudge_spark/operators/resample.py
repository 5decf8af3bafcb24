"""Deterministic resampling: Poisson-bootstrap confidence intervals.

"Is the mean stable, or is it one fat order away from moving?" needs a
sampling distribution, not a point estimate.  The classic bootstrap
(resample n rows with replacement, R times) is a driver-side loop; the
scale-correct formulation is the POISSON BOOTSTRAP (Chamandy et al.,
"Estimating Uncertainty for Massive Data Streams", Google 2012; public):
each row enters replicate r with weight ~ Poisson(1), independently per
row — so replicate membership is a pure per-row map and ALL R replicates
accumulate in ONE aggregation pass with no row multiplication: R paired
(Σ w·x, Σ w) columns, partial-aggregated map-side like any other sum.

Determinism (the property the cross-engine oracle needs, and what makes
the gate reproducible run-to-run): the Poisson draw is the inverse-CDF
of a uniform derived from TWO engine-portable 60-bit md5 folds of the
row key (pipeline/text.md5_long) combined per replicate by
Kirsch-Mitzenmacher double hashing — any engine recomputes the exact
same weights with two hashes per row, not R.  At production scale,
where no second engine needs to agree, swap in a cheaper 64-bit hash
(e.g. xxhash64) — the algorithm is hash-agnostic.

Extension — no reference counterpart; the reference's numeric family
gates point statistics only (numeric.py mean/percentile bounds).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Inverse-CDF thresholds for Poisson(mean=1) on a uniform integer in
#: [0, 1e6): weight = #thresholds strictly below u, capped at MAX_W.
#: floor(F(k) * 1e6) for k = 0..7; beyond 8 the mass is < 1e-6.
POISSON1_THRESHOLDS_PPM = [
    367879,  # F(0) = e^-1
    735758,
    919698,
    981011,
    996340,
    999405,
    999916,
    999989,
]
POISSON_MAX_W = len(POISSON1_THRESHOLDS_PPM)

_PPM = 1_000_000


def _poisson1_sql(u_sql: str) -> str:
    """Poisson(1) draw for the uniform integer ``u_sql`` in [0, 1e6):
    the inverse-CDF ladder as ONE SQL string (ascending WHEN chain =
    first threshold u falls under wins; a Column-API ladder would cost
    ~40 py4j round-trips per build)."""
    whens = " ".join(
        f"WHEN {u_sql} < {t} THEN {k}"
        for k, t in enumerate(POISSON1_THRESHOLDS_PPM)
    )
    return f"(CASE {whens} ELSE {POISSON_MAX_W} END)"


def _km_hash_sqls(key_col: str, salt: str) -> tuple[str, str, str]:
    """Kirsch-Mitzenmacher double-hash components and the per-replicate
    uniform as SQL fragments: ``(h1_sql, h2_sql, u_sql)`` with ``u_sql``
    referring to the staged ``__h1``/``__h2``/``__rr`` columns.  One
    parsed string per column replaces the ~60-round-trip Column build
    shared by the whole bootstrap family."""
    from ..pipeline.text import md5_long_sql

    key_sql = f"CAST(`{key_col}` AS STRING)"
    h1 = f"{md5_long_sql(key_sql, salt=f'{salt}A')} % {_KM_MOD}"
    h2 = f"({md5_long_sql(key_sql, salt=f'{salt}B')} % {_KM_MOD}) * 2 + 1"
    u = f"((__h1 + __rr * __h2) % {_KM_MOD} % {_PPM})"
    return h1, h2, u


#: 2^40 — the double-hash components stay small enough that
#: ``h1 + (r+1)·(2·h2+1)`` never leaves int64 for any sane r.
_KM_MOD = 1 << 40


def bootstrap_mean_ci(
    df: DataFrame,
    key_col: str,
    value_col: str,
    n_reps: int = 64,
    p_lo: float = 2.5,
    p_hi: float = 97.5,
    salt: str = "boot",
) -> DataFrame:
    """One-row Poisson-bootstrap digest of ``mean(value_col)``:
    ``(n_rows, n_reps, point_mean, boot_lo, boot_median, boot_hi)``.

    ``boot_lo``/``boot_hi`` are the empirical ``p_lo``/``p_hi``
    percentiles of the R replicate means under the repo's exact
    percentile rule ("smallest v with >= p% of replicates <= v", ties
    broken by replicate id), so the digest is fully deterministic.
    ``value_col`` should be integer-valued (cents, counts): the
    replicate numerators accumulate as DECIMAL(38,0) — exact at any
    scale — and each mean divides ONCE as a double, rounded to 6dp.

    Plan shape: two md5 folds per row, the replicate INDEX explodes
    (``Generate(sequence)`` — pipelined, never materialized), each
    generated row evaluates ONE small Poisson ladder, and an R-key hash
    aggregate with MAP-SIDE COMBINE collapses everything before the
    exchange — the shuffle carries <= R rows per task regardless of
    corpus size, and every stage stays inside whole-stage codegen.
    (Two rejected shapes, both measured at sf0.1: one 2R+2-column
    aggregate — 128 imperative buffers fall out of codegen, 13-26 s;
    R md5 folds per row — 48 s; an R-ladder array expression — breaks
    janino's 64 KB method limit.  This shape: ~1 s.)

    The R replicate uniforms derive by Kirsch-Mitzenmacher double
    hashing, ``u_r = (h1 + (r+1)·(2·h2+1)) mod 2^40 mod 1e6`` — the
    same construction this repo's MinHash uses for k hash functions
    (pairwise-quality uniforms from two independent md5 folds).
    Everything stays integer-exact and engine-portable (the oracle
    reproduces the identical arithmetic).
    """
    if not 4 <= n_reps <= 4096:
        # (r+1)·(2·h2+1) must stay inside int64: 4096 · 2^41 = 2^53,
        # far under the 2^63 line — and >4096 replicates buys no
        # statistical precision a 2.5% quantile could see anyway
        raise ValueError("n_reps must be between 4 and 4096")
    if not (0.0 < p_lo < p_hi < 100.0):
        raise ValueError("need 0 < p_lo < p_hi < 100")
    from ..pipeline._util import spread

    # NULL keys/values are excluded up front: a NULL key would NULL the
    # md5 uniform and drop every replicate's CASE ladder to the
    # otherwise-branch (constant weight MAX_W, zero replicate variance),
    # and a NULL value inflates the count while vanishing from the sums.
    df = df.where(
        F.col(key_col).isNotNull() & F.col(value_col).isNotNull()
    )
    # R CASE ladders per row is CPU-bound map work: a small single-file
    # scan would serialize it on one core; no-op at real corpus scale
    df = spread(df)
    v = F.col(value_col)
    # odd multiplier (2·h2+1): never collapses the replicate lattice
    h1_sql, h2_sql, u_sql = _km_hash_sqls(key_col, salt)
    # explode the replicate INDEX, then evaluate ONE small ladder per
    # generated row — an R-element array of ladders is a single >64 KB
    # expression that kills whole-stage codegen (janino method limit),
    # silently dropping the stage to interpreted mode
    hashed = df.select(
        v.alias("__v"),
        F.expr(h1_sql).alias("__h1"),
        F.expr(h2_sql).alias("__h2"),
    ).select(
        "__v",
        "__h1",
        "__h2",
        F.explode(F.sequence(F.lit(1), F.lit(n_reps))).alias("__rr"),
    )
    pairs = hashed.select(
        (F.col("__rr") - 1).alias("__r"),
        "__v",
        F.expr(f"CAST({_poisson1_sql(u_sql)} AS BIGINT)").alias("__w"),
    )
    per = pairs.groupBy("__r").agg(
        # w is a tiny Poisson weight (<= ~20) and v a domain-bounded
        # integer metric: the product is 64-bit exact (ANSI-checked), so
        # multiply in long and pay the decimal cast only on the sum input
        # (a per-row BigDecimal multiply here runs once per exploded
        # replicate row - n_reps x the corpus - the hottest loop in the
        # bootstrap family).
        F.sum(
            (F.col("__w") * F.col("__v")).cast("decimal(38,0)")
        ).alias("__sw"),
        F.sum("__w").alias("__n"),
        # every replicate group sees every input row once, so the
        # plain count/sum ARE the point statistics (no second scan)
        F.count(F.lit(1)).alias("__cnt"),
        F.sum(F.col("__v").cast("decimal(38,0)")).alias("__s"),
    )
    exploded = per.select(
        "__cnt",
        "__s",
        F.col("__r").alias("rep"),
        F.when(
            F.col("__n") > 0,
            F.round(
                F.col("__sw").cast("double") / F.col("__n").cast("double"),
                6,
            ),
        ).alias("m"),
    )
    # NULLS LAST: a replicate whose total Poisson weight is 0 (prob
    # e^-n per replicate — real only for tiny inputs) has NULL mean;
    # ranking it first would shift boot_lo/median/hi off the defined
    # replicates.  Last matches the oracle engines' ASC default, and a
    # NULL can then only surface in boot_hi, where it honestly says
    # "the upper tail is undefined at this n".
    rn = F.row_number().over(
        Window.orderBy(F.col("m").asc_nulls_last(), "rep")
    )
    lo_idx = math.ceil(p_lo / 100.0 * n_reps)
    med_idx = math.ceil(0.5 * n_reps)
    hi_idx = math.ceil(p_hi / 100.0 * n_reps)
    ranked = exploded.select("__cnt", "__s", "m", rn.alias("rn"))
    return ranked.groupBy("__cnt", "__s").agg(
        F.max(F.when(F.col("rn") == lo_idx, F.col("m"))).alias("boot_lo"),
        F.max(F.when(F.col("rn") == med_idx, F.col("m"))).alias(
            "boot_median"
        ),
        F.max(F.when(F.col("rn") == hi_idx, F.col("m"))).alias("boot_hi"),
    ).select(
        F.col("__cnt").cast("bigint").alias("n_rows"),
        F.lit(n_reps).cast("int").alias("n_reps"),
        F.when(
            F.col("__cnt") > 0,
            F.round(
                F.col("__s").cast("double") / F.col("__cnt").cast("double"),
                6,
            ),
        ).alias("point_mean"),
        "boot_lo",
        "boot_median",
        "boot_hi",
    )


def grouped_bootstrap_mean_ci(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_col: str,
    n_reps: int = 64,
    p_lo: float = 2.5,
    p_hi: float = 97.5,
    salt: str = "boot",
) -> DataFrame:
    """Per-group Poisson-bootstrap digest of ``mean(value_col)``: one
    row per group value, ``(grp, n_rows, n_reps, point_mean, boot_lo,
    boot_median, boot_hi)`` — :func:`bootstrap_mean_ci` segmented, so a
    drift dashboard can tell "this segment's mean moved" from "this
    segment's mean is just noisy" in one pass.

    Same scale shape as the ungrouped digest (index-explode, one small
    Poisson ladder per generated row, map-side combine into the
    (group, replicate) aggregate — the exchange carries |groups|·R rows
    regardless of corpus size) and the same deterministic
    Kirsch-Mitzenmacher weights, so a row's weight in replicate r is
    IDENTICAL whether it is digested globally or within its group.
    The rank window partitions by group over R-row frames — bounded by
    construction.
    """
    if not 4 <= n_reps <= 4096:
        raise ValueError("n_reps must be between 4 and 4096")
    if not (0.0 < p_lo < p_hi < 100.0):
        raise ValueError("need 0 < p_lo < p_hi < 100")
    from ..pipeline._util import spread

    # same NULL discipline as the ungrouped digest (NULL key -> constant
    # MAX_W weights; NULL value -> count/sum mismatch); NULL groups are
    # not a resampling population either
    df = df.where(
        F.col(group_col).isNotNull()
        & F.col(key_col).isNotNull()
        & F.col(value_col).isNotNull()
    )
    df = spread(df)
    v = F.col(value_col)
    h1_sql, h2_sql, u_sql = _km_hash_sqls(key_col, salt)
    hashed = df.select(
        F.col(group_col).alias("grp"),
        v.alias("__v"),
        F.expr(h1_sql).alias("__h1"),
        F.expr(h2_sql).alias("__h2"),
    ).select(
        "grp",
        "__v",
        "__h1",
        "__h2",
        F.explode(F.sequence(F.lit(1), F.lit(n_reps))).alias("__rr"),
    )
    pairs = hashed.select(
        "grp",
        (F.col("__rr") - 1).alias("__r"),
        "__v",
        F.expr(f"CAST({_poisson1_sql(u_sql)} AS BIGINT)").alias("__w"),
    )
    per = pairs.groupBy("grp", "__r").agg(
        # w is a tiny Poisson weight (<= ~20) and v a domain-bounded
        # integer metric: the product is 64-bit exact (ANSI-checked), so
        # multiply in long and pay the decimal cast only on the sum input
        # (a per-row BigDecimal multiply here runs once per exploded
        # replicate row - n_reps x the corpus - the hottest loop in the
        # bootstrap family).
        F.sum(
            (F.col("__w") * F.col("__v")).cast("decimal(38,0)")
        ).alias("__sw"),
        F.sum("__w").alias("__n"),
        F.count(F.lit(1)).alias("__cnt"),
        F.sum(F.col("__v").cast("decimal(38,0)")).alias("__s"),
    )
    exploded = per.select(
        "grp",
        "__cnt",
        "__s",
        F.col("__r").alias("rep"),
        F.when(
            F.col("__n") > 0,
            F.round(
                F.col("__sw").cast("double") / F.col("__n").cast("double"),
                6,
            ),
        ).alias("m"),
    )
    # NULLS LAST, same rationale as the ungrouped rank rule
    rn = F.row_number().over(
        Window.partitionBy("grp").orderBy(
            F.col("m").asc_nulls_last(), "rep"
        )
    )
    lo_idx = math.ceil(p_lo / 100.0 * n_reps)
    med_idx = math.ceil(0.5 * n_reps)
    hi_idx = math.ceil(p_hi / 100.0 * n_reps)
    ranked = exploded.select("grp", "__cnt", "__s", "m", rn.alias("rn"))
    return ranked.groupBy("grp", "__cnt", "__s").agg(
        F.max(F.when(F.col("rn") == lo_idx, F.col("m"))).alias("boot_lo"),
        F.max(F.when(F.col("rn") == med_idx, F.col("m"))).alias(
            "boot_median"
        ),
        F.max(F.when(F.col("rn") == hi_idx, F.col("m"))).alias("boot_hi"),
    ).select(
        "grp",
        F.col("__cnt").cast("bigint").alias("n_rows"),
        F.lit(n_reps).cast("int").alias("n_reps"),
        F.round(
            F.col("__s").cast("double") / F.col("__cnt").cast("double"), 6
        ).alias("point_mean"),
        "boot_lo",
        "boot_median",
        "boot_hi",
    )
