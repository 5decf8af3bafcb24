"""Statistical constraints (parity with the reference's
constraints/stats.py, which has the two-sample KS test; the rest are
extensions).

Every class is a statistic on the one lifecycle of ``Constraint.test``
(constraints/base.py).  It declares two things:

- ``_retrieve``: the summary it collects (the digest rows of its
  operator) and the frames behind them, whose plans a failure renders;
- ``_compare``: the verdict on that summary against the bounds the
  constraint holds, as ``(ok, message)``.

The summary is read through the per-instance slot cache, so a re-test
runs no Spark job; a two-sample statistic (``_TwoSample``) reads both
sides into the factual slot's one summary.  A statistic its data leaves
undefined (an empty side, a constant column) is judged ``Undefined``:
by ``_compare`` from the summary, or by ``_undefined`` when the
operator raises its documented ``ValueError``.
"""

from __future__ import annotations

import functools
import math
import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import diff, olap, profile, resample, scalars, skew
from ..operators import stats as stat_ops
from ..operators import timeseries
from ..pipeline import decontam, dedup, similarity
from ..pipeline._util import materialize_once
from ..reference import DataReference
from .base import Constraint, Undefined

_COUNTS = {2: "two", 3: "three", 4: "four"}


def _rows(df: DataFrame) -> tuple[list, list[DataFrame]]:
    """The rows ``df`` collects, and ``df`` for a failure to render."""
    return df.collect(), [df]


def _row(df: DataFrame) -> tuple:
    """The first row ``df`` collects (``None`` when it has none), and
    ``df`` for a failure to render."""
    rows = df.collect()
    return (rows[0] if rows else None), [df]


def _cents(column: str):
    """``column`` in integer cents, so sums of it are decimal-exact."""
    return (F.col(column).cast("decimal(18,2)") * 100).cast("bigint")


def _complete_rows(ref: DataReference, engine: SparkSession) -> DataFrame:
    """The selection of ``ref`` where none of its columns is NULL."""
    return ref.get_selection(engine).where(functools.reduce(
        operator.and_, (F.col(c).isNotNull() for c in ref.get_columns())
    ))


def _daily_cents(ref: DataReference, engine: SparkSession) -> DataFrame:
    """The daily sum, in cents (``__cents``), of a ``(date_column,
    value_column)`` reference, over the rows where both are set."""
    date_col, value_col = ref.get_columns(engine)
    return timeseries.daily_totals(
        _complete_rows(ref, engine), date_col, F.sum(_cents(value_col)),
        "__cents",
    )


def _bootstrap_mean_ci(
    ref: DataReference, engine: SparkSession, n_reps: int
) -> DataFrame:
    """The bootstrap digest of the mean of a ``(key_column,
    value_column)`` reference, in cents."""
    key_col, value_col = ref.get_columns(engine)
    df = ref.get_selection(engine).where(F.col(value_col).isNotNull())
    return resample.bootstrap_mean_ci(
        df.select(F.col(key_col), _cents(value_col).alias("__cents")),
        key_col,
        "__cents",
        n_reps=n_reps,
    )


def _look_counts(constraint, ref: DataReference, engine: SparkSession):
    """The per-look counts of a sequential A/B gate."""
    return stat_ops.sequential_look_counts(
        ref.get_selection(engine),
        # expr, not col: the look is often a derived grain
        # (date_part('day', ts)), not a physical column
        F.expr(constraint._look),
        constraint._population_a.to_column(),
        constraint._population_b.to_column(),
        constraint._success.to_column(),
    )


def _largest_qte(grid: list, max_abs: float) -> list:
    """The cells of a quantile-treatment-effect grid above ``max_abs``,
    largest first."""
    return sorted(
        (r for r in grid if r["qte"] is not None and abs(r["qte"]) > max_abs),
        key=lambda r: -abs(r["qte"]),
    )


def _lowest_q(rows: list, n: int = 5) -> list:
    """The first ``n`` BH digest rows in ``orderBy("q_value", "group")``
    order, NULL groups first."""
    return sorted(
        rows, key=lambda r: (r["q_value"], r["group"] is not None, r["group"])
    )[:n]


class _Statistic(Constraint):
    """A constraint on a statistic of its data; see the module
    docstring.  The bounds live on the instance: ``_compare`` does not
    read the literal ``ref_value`` a within statistic's target slot
    holds."""

    #: the columns the reference names, checked before any Spark job:
    #: ``(count, roles)`` for ``count`` columns named ``roles`` in the
    #: error; ``1`` for the single column of ``DataReference.get_column``
    #: on each side, where ``_undefined`` would otherwise map its error;
    #: ``None`` for no check
    _columns: int | tuple[int, str] | None = None

    def _check_arguments(self) -> None:
        if self._columns == 1:
            for ref in (self._ref, self._ref2):
                if ref is not None:
                    ref.get_column()
        elif self._columns is not None:
            count, roles = self._columns
            columns = self._ref.get_columns()
            if not columns or len(columns) != count:
                raise ValueError(
                    f"{type(self).__name__} requires exactly "
                    f"{_COUNTS[count]} columns{roles}."
                )


class _TwoSample(_Statistic):
    """A statistic of both sides at once (a two-sample test): the
    factual slot reads the joint summary and the target slot reads no
    data, so the summary is one slot read that ``_read_slots`` never
    splits over two threads."""

    def _get_target_value(self, engine: SparkSession) -> None:
        return None

    def _sides(self, engine: SparkSession) -> tuple[DataFrame, DataFrame]:
        return (
            self._ref.get_selection(engine), self._ref2.get_selection(engine)
        )

    def _aligned_sides(self, engine: SparkSession):
        """Both selections, the second one's column renamed to the first
        one's, and that column."""
        col1 = self._ref.get_column(engine)
        col2 = self._ref2.get_column(engine)
        df1, df2 = self._sides(engine)
        if col2 != col1:
            df2 = df2.select(F.col(col2).alias(col1))
        return df1, df2, col1

    def _tagged_union(self, engine: SparkSession) -> DataFrame:
        """Both sides' column as ``__v``, tagged ``a`` or ``b`` in ``__g``."""
        d1, d2 = (
            side.select(F.col(ref.get_column(engine)).alias("__v"),
                        F.lit(tag).alias("__g"))
            for side, ref, tag in zip(
                self._sides(engine), (self._ref, self._ref2), "ab"
            )
        )
        return d1.unionByName(d2)


def _ks_one_sample_cdf(d: float, n: int) -> float:
    """P(D_n < d) for the one-sample Kolmogorov-Smirnov statistic,
    evaluated EXACTLY via the Marsaglia-Tsang-Wang matrix construction
    ('Evaluating Kolmogorov's Distribution', J. Stat. Software 8(18),
    2003): K(n, d) = n!/n^n * (H^n)[k-1][k-1] for the (2k-1)x(2k-1)
    matrix H built from k = ceil(n*d) and h = k - n*d.

    This is the same distribution ``scipy.stats.kstwo`` evaluates, so
    small-sample p-values match the reference's optional-scipy path
    without a scipy dependency (reference stats.py:25-54 warns and
    returns None below n=35).  Validated in tests against Steck's
    determinant formula in exact rational arithmetic.
    """
    import numpy as np

    if n < 1:
        raise ValueError("n must be >= 1")
    if d <= 1.0 / (2.0 * n):
        return 0.0  # D_n >= 1/(2n) always
    if d >= 1.0:
        return 1.0
    if n * d * d >= 18.37:
        return 1.0  # tail beyond double resolution (MTW short-circuit)
    k = int(math.ceil(n * d))
    m = 2 * k - 1
    h = k - n * d
    H = np.zeros((m, m))
    for i in range(m):
        for j in range(m):
            if i - j + 1 >= 0:
                H[i, j] = 1.0
    for i in range(m):
        H[i, 0] -= h ** (i + 1)
        H[m - 1, i] -= h ** (m - i)
    if 2.0 * h - 1.0 > 0.0:
        H[m - 1, 0] += (2.0 * h - 1.0) ** m
    for i in range(m):
        for j in range(m):
            if i - j + 1 > 0:
                for g in range(2, i - j + 2):
                    H[i, j] /= g
    # H^n by repeated squaring with decimal-exponent rescaling so the
    # entries never overflow (MTW rescale at 1e140)
    def _scale(mat, exp):
        mx = abs(mat).max()
        if mx > 1e140:
            mat = mat / 1e140
            exp += 140
        return mat, exp

    power, p_exp = np.eye(m), 0
    base, b_exp = H, 0
    e = n
    while e:
        if e & 1:
            power = power @ base
            p_exp += b_exp
            power, p_exp = _scale(power, p_exp)
        base = base @ base
        b_exp *= 2
        base, b_exp = _scale(base, b_exp)
        e >>= 1
    t = power[k - 1, k - 1]
    # multiply by n!/n^n incrementally, rescaling out of the underflow
    for i in range(1, n + 1):
        t *= i / n
        if t < 1e-140:
            t *= 1e140
            p_exp -= 140
    return float(min(max(t * 10.0 ** p_exp, 0.0), 1.0))


class KolmogorovSmirnov2Sample(_TwoSample):
    """Two-sample KS test: d-statistic computed in-engine (operators.stats),
    acceptance and p-value math on the driver (reference stats.py:13-142)."""

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        significance_level: float = 0.05,
        name: str | None = None,
        cache_size=None,
    ):
        self._significance_level = significance_level
        super().__init__(ref, ref2=ref2, name=name, cache_size=cache_size)

    @staticmethod
    def approximate_p_value(
        d: float, n_samples: int, m_samples: int
    ) -> float | None:
        """Approximate p-value per 'A procedure to find exact critical values
        of Kolmogorov-Smirnov Test' (Fachinetti, 2009); quasi-exact via scipy
        ``kstwo`` when available (reference stats.py:25-54).

        Below 35 samples the reference warns and returns None (its
        asymptotic fallback is unusable there); here the exact
        Marsaglia-Tsang-Wang evaluation of the same ``kstwo``
        distribution covers that range with no scipy dependency, so
        small samples get a real p-value and no warning.
        """
        samples = min(n_samples, m_samples)
        en = round((n_samples * m_samples) / (n_samples + m_samples))
        try:
            from scipy.stats.distributions import kstwo

            approx_p = kstwo.sf(d, en)
        except ModuleNotFoundError:
            if samples < 35:
                approx_p = 1.0 - _ks_one_sample_cdf(d, max(int(en), 1))
            else:
                d_alpha = d * math.sqrt(samples)
                approx_p = 2 * math.exp(-(d_alpha**2))
        return 1.0 if approx_p > 1.0 else 0.0 if approx_p < 0.0 else approx_p

    @staticmethod
    def check_acceptance(
        d_statistic: float, n_samples: int, m_samples: int, accepted_level: float
    ) -> bool:
        """H0 acceptance at the given significance level via the critical
        value c(alpha)*sqrt((n+m)/(n*m)) (reference stats.py:56-75)."""

        def c(alpha: float) -> float:
            return math.sqrt(-math.log(alpha / 2.0 + 1e-10) * 0.5)

        threshold = c(accepted_level) * math.sqrt(
            (n_samples + m_samples) / (n_samples * m_samples)
        )
        return d_statistic <= threshold

    @staticmethod
    def _calculate_statistic(
        engine: SparkSession, ref1: DataReference, ref2: DataReference
    ) -> tuple[float, float | None, int, int]:
        # the sample sizes (row counts, NULLs included) come from the
        # statistic's own totals probe: no separate count scans, and no
        # cross-CDF plan surface (a failure renders the two selections)
        d_statistic, n_samples, m_samples = stat_ops.ks_2sample_distributed(
            ref1.get_selection(engine),
            ref2.get_selection(engine),
            ref1.get_column(engine),
            ref2.get_column(engine),
        )
        p_value = KolmogorovSmirnov2Sample.approximate_p_value(
            d_statistic, n_samples, m_samples
        )
        return d_statistic, p_value, n_samples, m_samples

    def _retrieve(self, engine: SparkSession, _):
        return self._calculate_statistic(
            engine, self._ref, self._ref2
        ), list(self._sides(engine))

    def _compare(self, summary, _):
        d_statistic, p_value, n_samples, m_samples = summary
        assertion_text = (
            f"Null hypothesis (H0) for the 2-sample Kolmogorov-Smirnov test "
            f"was rejected, i.e., "
            f"the two samples ({self._ref} and {self._target_prefix}) "
            f"do not originate from the same distribution. "
            f"The test results are d={d_statistic}"
        )
        if p_value is not None:
            assertion_text += f" and {p_value=}"
        assertion_text += "."
        return self.check_acceptance(
            d_statistic, n_samples, m_samples, self._significance_level
        ), assertion_text


class PopulationStabilityIndex(_TwoSample):
    """PSI drift gate between two samples — extension, no reference
    counterpart (datajudge's only distribution test is the KS 2-sample).

    PSI over fixed-width buckets with Laplace smoothing; the statistic
    is computed in-engine (``operators.stats.psi_drift``, one
    conditional-agg scan per side) and only the scalar crosses to the
    driver. Conventional reading: < 0.1 stable, 0.1-0.25 moderate,
    > 0.25 drifted.
    """

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        max_psi: float,
        lo: float,
        hi: float,
        n_buckets: int = 10,
        name: str | None = None,
        cache_size=None,
    ):
        self._max_psi = max_psi
        self._lo, self._hi, self._n_buckets = lo, hi, n_buckets
        super().__init__(ref, ref2=ref2, name=name, cache_size=cache_size)

    def _retrieve(self, engine: SparkSession, _):
        return _row(stat_ops.psi_drift(
            *self._aligned_sides(engine), self._lo, self._hi, self._n_buckets
        ))

    def _compare(self, row, _):
        psi = row["psi"]
        if psi is None:
            # both references selected zero (or all-null) rows: no
            # distribution to compare — a clean failure, not a TypeError
            return Undefined(False, (
                f"Population stability index between {self._ref} and "
                f"{self._target_prefix} is undefined: insufficient data "
                "(no non-null rows in one or both references). "
            ))
        return psi <= self._max_psi, (
            f"Population stability index between {self._ref} and "
            f"{self._target_prefix} is {psi}, exceeding the maximum "
            f"{self._max_psi} ({self._n_buckets} buckets over "
            f"[{self._lo}, {self._hi})). "
        )


class HeavyHitterShare(_Statistic):
    """No key group may exceed a maximum share of rows — the "is one
    key hot enough to skew my joins / poison my training mix?" gate.
    Extension, no reference counterpart.

    Share math is integer-exact in-engine (``operators.olap.
    heavy_hitters``: n * 1e6 compared against total * ppm); only the
    violating keys cross to the driver.
    """

    def __init__(
        self,
        ref: DataReference,
        max_share_ppm: int,
        name: str | None = None,
        cache_size=None,
    ):
        self._max_share_ppm = int(max_share_ppm)
        super().__init__(
            ref, ref_value=self._max_share_ppm, name=name,
            cache_size=cache_size,
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        cols = ref.get_columns(engine)
        # candidates at >= max ppm, then the exact integer strict compare
        hh = olap.heavy_hitters(
            ref.get_selection(engine), cols, self._max_share_ppm,
            include_total=True,
        ).where(
            F.col("n") * 1_000_000 > F.col("total") * self._max_share_ppm
        )
        return _rows(hh.orderBy(F.col("n").desc(), *cols).limit(20))

    def _compare(self, offenders, _):
        if not offenders:
            return True, None
        worst = offenders[0]
        key = tuple(worst[c] for c in self._ref.get_columns())
        return False, (
            f"{self._ref} has {len(offenders)}{'+' if len(offenders) == 20 else ''} "
            f"key group(s) above {self._max_share_ppm} ppm of rows; worst "
            f"is {key} with {worst['n']} rows "
            f"(share {worst['share']}, total {worst['total']}). "
        )


class EmbeddingNormFraction(_Statistic):
    """At least ``min_fraction`` of embedding vectors must have an L2
    norm inside [lo, hi] — the normalization health gate before any
    cosine-based dedup/ANN. Extension, no reference counterpart.

    Norms fold JVM-side (``pipeline.similarity.norm_stats``); one
    digest row crosses to the driver.
    """

    def __init__(
        self,
        ref: DataReference,
        min_fraction: float,
        lo: float = 0.99,
        hi: float = 1.01,
        name: str | None = None,
        cache_size=None,
    ):
        self._min_fraction = min_fraction
        self._lo, self._hi = lo, hi
        super().__init__(
            ref, ref_value=min_fraction, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(similarity.norm_stats(
            ref.get_selection(engine), ref.get_column(engine), None,
            self._lo, self._hi,
        ))

    def _compare(self, row, _):
        if row is None or row["n_vecs"] == 0:
            return Undefined(False, (
                f"{self._ref} has no vectors: the norm fraction is "
                "undefined (insufficient data). "
            ))
        frac = row["frac_unit"]
        return frac >= self._min_fraction, (
            f"{self._ref} has only fraction {frac} of {row['n_vecs']} "
            f"vectors with L2 norm in [{self._lo}, {self._hi}], below the "
            f"required {self._min_fraction} (avg norm {row['avg_norm']}, "
            f"range [{row['min_norm']}, {row['max_norm']}]). "
        )


class NeardupRecallMin(_Statistic):
    """Eval gate for the targeted near-dup LSH lookup: the
    micro-averaged recall of :func:`pipeline.dedup.
    query_neardup_candidates` against brute-force exact-Jaccard truth
    over a bounded query sample — total true pairs found / total true
    pairs — must be at least ``min_recall``.  The "measure recall
    before trusting the decontamination index" gate, the near-dup
    sibling of the ANN ``recall_at_k`` harness.  Extension, no
    reference counterpart.

    Engine side is ``pipeline.dedup.query_neardup_recall`` (query
    shingles broadcast, bounded-fanout truth intersection, pre-thinned
    corpus-size join); the bounded per-query digest crosses to the
    driver.  No true near-dup in the sample = vacuous pass (nothing to
    recall).
    """

    def __init__(
        self,
        ref: DataReference,
        id_column: str,
        text_column: str,
        query_ids: list,
        min_recall: float = 0.95,
        threshold: float = 0.5,
        num_hashes: int = 12,
        shingle_n: int = 3,
        bands: int = 4,
        rows: int = 3,
        name: str | None = None,
        cache_size=None,
    ):
        if not query_ids:
            raise ValueError("query_ids must be non-empty")
        if not 0 <= min_recall <= 1:
            raise ValueError("min_recall must be within [0, 1]")
        if bands * rows != num_hashes:
            raise ValueError("bands * rows must equal num_hashes")
        self._id = id_column
        self._text = text_column
        self._query_ids = list(query_ids)
        self._min_recall = min_recall
        self._threshold = threshold
        # the index parameters ACTUALLY deployed — the gate must
        # measure the configuration it certifies (ADVICE r10), not a
        # hard-wired default.
        self._num_hashes = int(num_hashes)
        self._shingle_n = int(shingle_n)
        self._bands = int(bands)
        self._rows = int(rows)
        super().__init__(
            ref, ref_value=min_recall, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _rows(dedup.query_neardup_recall(
            ref.get_selection(engine),
            self._id,
            self._text,
            self._query_ids,
            threshold=self._threshold,
            num_hashes=self._num_hashes,
            shingle_n=self._shingle_n,
            bands=self._bands,
            rows=self._rows,
        ))

    def _compare(self, rows, _):
        total_true = sum(r["n_true"] for r in rows)
        total_hits = sum(r["n_hits"] for r in rows)
        if total_true == 0:
            return Undefined(True, (
                f"None of the {len(rows)} query documents has a true "
                f"near-duplicate at Jaccard >= {self._threshold}; the "
                "recall gate is vacuous — verify the query ids exist "
                "in the corpus before trusting this pass."
            ))
        recall = total_hits / total_true
        if recall >= self._min_recall:
            return True, None
        missed = sorted(
            (
                (r["query_id"], r["n_hits"], r["n_true"])
                for r in rows
                if r["n_hits"] < r["n_true"]
            ),
            key=lambda t: (t[1] - t[2], str(t[0])),
        )[:5]
        missed_str = ", ".join(
            f"{q!r} ({h}/{t})" for q, h, t in missed
        )
        return False, (
            f"Near-dup lookup recall over {len(self._query_ids)} query "
            f"documents of {self._ref} is {round(recall, 6)} "
            f"({total_hits}/{total_true} true Jaccard >= "
            f"{self._threshold} pairs found), below the required "
            f"{self._min_recall}; worst queries: {missed_str}. "
        )


class PoolCoverageMin(_Statistic):
    """Saturation gate on two capture sources: the observed distinct
    union must cover at least ``min_coverage`` of the Chapman
    capture-recapture pool estimate — "my two crawls have already seen
    at least this share of the reachable pool".  Low coverage = more
    genuinely new documents are still out there; the question
    COUNT(DISTINCT) cannot answer (it counts what was seen, not what
    exists).  Valid under the independent-capture model; dependent
    crawls bias the pool estimate LOW, making the gate conservative in
    the passing direction.  Extension, no reference counterpart.

    Engine side is ``pipeline.decontam.capture_recapture`` (one
    fingerprint shuffle, one conditional-agg digest row).
    """

    def __init__(
        self,
        ref: DataReference,
        source_column: str,
        text_column: str,
        src_a,
        src_b,
        min_coverage: float = 0.8,
        name: str | None = None,
        cache_size=None,
    ):
        if not 0 < min_coverage <= 1:
            raise ValueError("min_coverage must be within (0, 1]")
        self._source = source_column
        self._text = text_column
        self._src_a = src_a
        self._src_b = src_b
        self._min_coverage = min_coverage
        super().__init__(
            ref, ref_value=min_coverage, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(decontam.capture_recapture(
            ref.get_selection(engine),
            self._source,
            self._text,
            self._src_a,
            self._src_b,
        ))

    def _compare(self, row, _):
        if not row["n_a"] or not row["n_b"]:
            return Undefined(False, (
                f"Pool coverage of {self._ref} is undefined: source "
                f"{self._src_a!r} has {row['n_a']} and {self._src_b!r} "
                f"has {row['n_b']} distinct documents (a capture is "
                "empty). "
            ))
        coverage = row["n_union"] / row["chapman_total"]
        return coverage >= self._min_coverage, (
            f"Sources {self._src_a!r} and {self._src_b!r} of {self._ref} "
            f"have captured an estimated {round(coverage, 6)} of their "
            f"document pool (union {row['n_union']} of Chapman estimate "
            f"{row['chapman_total']} ± {row['se']}; overlap "
            f"{row['n_both']} of {row['n_a']}/{row['n_b']}), below the "
            f"required {self._min_coverage} — an estimated "
            f"{row['est_unseen']} distinct documents remain unseen. "
        )


class DailyVolumeAnomaly(_Statistic):
    """Rolling z-score gate on daily row volume: at most
    ``max_anomalies`` days may deviate more than ``threshold`` standard
    deviations from their trailing window — the "did ingestion break /
    double-fire on some day?" monitor. Extension, no reference
    counterpart.

    The daily aggregate and the exact-integer-sum z-scores run in-engine
    (``operators.timeseries.zscore_anomalies``); only flagged days cross
    to the driver.
    """

    def __init__(
        self,
        ref: DataReference,
        max_anomalies: int = 0,
        window_days: int = 7,
        threshold: float = 3.0,
        name: str | None = None,
        cache_size=None,
    ):
        self._max_anomalies = int(max_anomalies)
        self._window_days = int(window_days)
        self._threshold = threshold
        super().__init__(
            ref, ref_value=self._max_anomalies, name=name,
            cache_size=cache_size,
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        daily = timeseries.daily_totals(
            ref.get_selection(engine), ref.get_column(engine),
            F.count(F.lit(1)).cast("bigint"), alias="n_rows",
        )
        return _rows(
            timeseries.zscore_anomalies(
                daily, "n_rows", self._window_days, self._threshold
            )
            .where(F.col("is_anomaly"))
            .orderBy("day")
            .limit(max(self._max_anomalies + 20, 21))
        )

    def _compare(self, flagged, _):
        days = [(str(r["day"]), r["n_rows"], r["z"]) for r in flagged[:5]]
        return len(flagged) <= self._max_anomalies, (
            f"{self._ref} has {len(flagged)} daily-volume anomalies "
            f"(|z| > {self._threshold} vs the trailing "
            f"{self._window_days}-day window), exceeding the allowed "
            f"{self._max_anomalies}. First offenders (day, rows, z): "
            f"{days}. "
        )


class SnapshotDiff(_TwoSample):
    """Bound the fraction of added/removed/changed keys between two
    snapshots of a table — the "did this load mutate more than it
    should?" CDC audit. Extension, no reference counterpart (datajudge's
    row comparisons are set-algebraic, with no keyed change
    classification).

    One full-outer hash join on the key in-engine
    (``operators.diff.snapshot_diff_counts``); four counters cross to
    the driver. Fraction denominators: old-row count for removed/changed,
    new-row count for added.
    """

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        keys: list[str],
        compare_columns: list[str],
        max_added_fraction: float | None = None,
        max_removed_fraction: float | None = None,
        max_changed_fraction: float | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        self._keys = list(keys)
        self._compare_columns = list(compare_columns)
        self._max_added = max_added_fraction
        self._max_removed = max_removed_fraction
        self._max_changed = max_changed_fraction
        super().__init__(ref, ref2=ref2, name=name, cache_size=cache_size)

    def _retrieve(self, engine: SparkSession, _):
        df_new, df_old = self._sides(engine)
        return _row(diff.snapshot_diff_counts(
            df_old, df_new, self._keys, self._compare_columns
        ))

    def _compare(self, row, _):
        n_old = row["n_removed"] + row["n_changed"] + row["n_unchanged"]
        n_new = row["n_added"] + row["n_changed"] + row["n_unchanged"]
        if n_old == 0 and n_new == 0:
            return Undefined(False, (
                f"Snapshot diff between {self._ref} and {self._target_prefix}"
                " is undefined: both snapshots selected zero rows "
                "(insufficient data). "
            ))
        problems = []
        checks = [
            ("added", self._max_added, row["n_added"], max(n_new, 1)),
            ("removed", self._max_removed, row["n_removed"], max(n_old, 1)),
            ("changed", self._max_changed, row["n_changed"], max(n_old, 1)),
        ]
        for label, bound, count, denom in checks:
            if bound is None:
                continue
            frac = count / denom
            if frac > bound:
                problems.append(
                    f"{label} fraction {frac:.6f} ({count}/{denom}) exceeds "
                    f"{bound}"
                )
        return not problems, (
            f"Snapshot diff between {self._ref} (new) and "
            f"{self._target_prefix} (old) on keys {self._keys}: "
            + "; ".join(problems)
            + f". Full digest: +{row['n_added']} -{row['n_removed']} "
            f"~{row['n_changed']} ={row['n_unchanged']}. "
        )


class MadOutlierFraction(_Statistic):
    """At most ``max_fraction`` of values may sit further than
    ``k * 1.4826 * MAD`` from the exact median — the robust-outlier
    gate that a single extreme value cannot inflate (unlike mean/stddev
    z-scores). Extension, no reference counterpart.

    Median and MAD come from the two-pass range-bucketed exact
    percentile (operators.stats.mad_outliers); one digest row reaches
    the driver.
    """

    _columns = 1

    def __init__(
        self,
        ref: DataReference,
        max_fraction: float,
        k: float = 3.0,
        name: str | None = None,
        cache_size=None,
    ):
        self._max_fraction = max_fraction
        self._k = k
        super().__init__(
            ref, ref_value=max_fraction, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.mad_outliers(
            ref.get_selection(engine), ref.get_column(engine), k=self._k
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"MAD outlier fraction of {self._ref} is undefined: "
            "insufficient data (no non-null rows). "
        ))

    def _compare(self, row, _):
        fraction = row["outlier_fraction"]
        return fraction <= self._max_fraction, (
            f"{fraction} of values of {self._ref} ({row['n_outliers']} of "
            f"{row['n_rows']}) deviate more than {self._k} * 1.4826 * MAD "
            f"(median {row['median']}, MAD {row['mad']}, threshold "
            f"{row['threshold']}) — exceeding the maximum outlier fraction "
            f"{self._max_fraction}. {self._condition_string} "
        )


class WinsorizedMeanWithin(_Statistic):
    """The winsorized mean of ``column`` (values clipped at the exact
    ``p_lo``/``p_hi`` percentiles before averaging) must sit within
    ``max_absolute_deviation`` of ``mean_value`` — the robust location
    gate: a fat tail or a handful of corrupt extremes moves the plain
    mean gate (``add_numeric_mean_constraint``) but not this one.
    Extension, no reference counterpart; peers :class:`MadOutlierFraction`
    (which gates the tail WEIGHT; this gates the robust CENTER).

    Engine: both cuts from one shared range-bucketed histogram pass,
    broadcast into a single aggregate; the clipped mean divides a
    DECIMAL(38,0)-exact integer sum by the exact count (best on integer
    domains — cents, counts — where it is engine-exact).
    """

    _columns = 1

    def __init__(
        self,
        ref: DataReference,
        mean_value: float,
        max_absolute_deviation: float,
        p_lo: float = 1.0,
        p_hi: float = 99.0,
        name: str | None = None,
        cache_size=None,
    ):
        self._mean_value = mean_value
        self._max_dev = max_absolute_deviation
        self._p_lo, self._p_hi = p_lo, p_hi
        super().__init__(
            ref, ref_value=mean_value, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(scalars.winsorized_stats(
            ref.get_selection(engine), ref.get_column(engine),
            self._p_lo, self._p_hi,
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Winsorized mean of {self._ref} is undefined: "
            "empty selection or invalid percentile bounds. "
        ))

    def _compare(self, row, _):
        if row is None:
            return self._undefined(None)
        if row["n"] == 0 or row["winsorized_mean"] is None:
            return Undefined(False, (
                f"Winsorized mean of {self._ref} is undefined: "
                "no non-null rows. "
            ))
        got = row["winsorized_mean"]
        return abs(got - self._mean_value) <= self._max_dev, (
            f"Winsorized mean of {self._ref} (clip at p{self._p_lo:g}="
            f"{row['lo_cut']}, p{self._p_hi:g}={row['hi_cut']}; "
            f"{row['n_clipped_lo']}+{row['n_clipped_hi']} of {row['n']} "
            f"rows clipped) is {got}, deviating more than "
            f"{self._max_dev} from {self._mean_value}. "
            f"{self._condition_string} "
        )


def _gamma_q(a: float, x: float) -> float:
    """Regularized upper incomplete gamma Q(a, x) — the chi-squared
    survival function is ``Q(dof/2, stat/2)``.  Series for x < a+1,
    Lentz continued fraction otherwise (standard construction, e.g.
    Numerical Recipes §6.2); accurate to ~1e-12 — far tighter than any
    significance threshold.  Pure stdlib: scipy is not a dependency.
    """
    if x < 0 or a <= 0:
        raise ValueError("gamma_q requires a > 0, x >= 0")
    if x == 0:
        return 1.0
    lg = math.lgamma(a)
    if x < a + 1.0:
        # P(a,x) by series, Q = 1 - P
        term = 1.0 / a
        total = term
        n = a
        for _ in range(1000):
            n += 1.0
            term *= x / n
            total += term
            if abs(term) < abs(total) * 1e-15:
                break
        p = total * math.exp(-x + a * math.log(x) - lg)
        return max(0.0, min(1.0, 1.0 - p))
    # Q(a,x) by modified Lentz continued fraction
    tiny = 1e-300
    b = x + 1.0 - a
    c = 1.0 / tiny
    d = 1.0 / b
    h = d
    for i in range(1, 1000):
        an = -i * (i - a)
        b += 2.0
        d = an * d + b
        if abs(d) < tiny:
            d = tiny
        c = b + an / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-15:
            break
    q = math.exp(-x + a * math.log(x) - lg) * h
    return max(0.0, min(1.0, q))


class GiniMax(_Statistic):
    """Concentration gate: the exact Gini coefficient of a column may
    not exceed ``max_gini`` — "is one key/customer/document dominating
    this distribution?".  Extension, no reference counterpart.

    Engine side is operators.stats.gini_coefficient (bucket-partitioned
    rank sums, decimal-exact); one digest row reaches the driver.
    """

    _columns = 1

    def __init__(
        self,
        ref: DataReference,
        max_gini: float,
        name: str | None = None,
        cache_size=None,
    ):
        self._max_gini = max_gini
        super().__init__(ref, ref_value=max_gini, name=name, cache_size=cache_size)

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.gini_coefficient(
            ref.get_selection(engine), ref.get_column(engine)
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Gini coefficient of {self._ref} is undefined: "
            "insufficient data (no non-null rows). "
        ))

    def _compare(self, row, _):
        gini = row["gini"]
        if gini is None:
            return Undefined(False, (
                f"Gini coefficient of {self._ref} is undefined "
                "(zero total). "
            ))
        return gini <= self._max_gini, (
            f"Gini coefficient of {self._ref} is {gini} "
            f"(n={row['n']}, sum={row['sum_value']}) — exceeding the "
            f"maximum {self._max_gini}. {self._condition_string} "
        )


class ParetoFrontierSize(_Statistic):
    """Tradeoff-shape gate: the number of DISTINCT non-dominated
    ``(x, y)`` points (2-D skyline) must lie within
    ``[min_points, max_points]``.  A collapsed frontier (1 point) means
    one record dominates every tradeoff — usually an outlier or a unit
    error; an exploded frontier means the tradeoff curve got noisy
    (e.g. price/quantity discipline broke down between loads).
    Extension, no reference counterpart; peers the Gini concentration
    gate as a two-dimensional shape check.

    Engine side is ``operators.olap.skyline_2d`` (bucketed running max,
    no global sort); only the frontier rows reach the driver and only
    their COUNT is judged.
    """

    _columns = 2, ": (x_column, y_column)"

    def __init__(
        self,
        ref: DataReference,
        max_points: int | None = None,
        min_points: int | None = None,
        minimize_x: bool = True,
        maximize_y: bool = True,
        name: str | None = None,
        cache_size=None,
    ):
        if max_points is None and min_points is None:
            raise ValueError("Provide max_points and/or min_points.")
        for label, v in (("max_points", max_points),
                         ("min_points", min_points)):
            if v is not None and v < 1:
                raise ValueError(f"{label} must be >= 1.")
        self._max_points = max_points
        self._min_points = min_points
        self._minimize_x = minimize_x
        self._maximize_y = maximize_y
        super().__init__(
            ref,
            ref_value=(max_points, min_points),
            name=name,
            cache_size=cache_size,
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        x_col, y_col = ref.get_columns(engine)
        return _rows(olap.skyline_2d(
            ref.get_selection(engine),
            x_col,
            y_col,
            minimize_x=self._minimize_x,
            maximize_y=self._maximize_y,
        ))

    def _compare(self, frontier, _):
        n = len(frontier)
        x_col, y_col = self._ref.get_columns()
        direction = (
            f"{'min' if self._minimize_x else 'max'} {x_col}, "
            f"{'max' if self._maximize_y else 'min'} {y_col}"
        )
        return (
            (self._max_points is None or n <= self._max_points)
            and (self._min_points is None or n >= self._min_points)
        ), (
            f"Pareto frontier of ({direction}) on {self._ref} has "
            f"{n} non-dominated point(s) — outside "
            f"[{self._min_points or 1}, {self._max_points or 'inf'}]. "
            f"{self._condition_string} "
        )


class ChiSquaredIndependence(_Statistic):
    """Pearson chi-squared independence test between two categorical
    columns of ONE data source: fails when independence is REJECTED at
    ``significance_level`` (p-value below it).  Extension — peers the
    two-sample KS constraint for the categorical case.

    Engine side is one cell-count shuffle
    (operators.stats.chi_squared_independence); the p-value is the
    regularized upper incomplete gamma on the driver (no scipy).
    """

    _columns = 2, ""

    def __init__(
        self,
        ref: DataReference,
        significance_level: float = 0.05,
        name: str | None = None,
        cache_size=None,
    ):
        if not 0 < significance_level < 1:
            raise ValueError("significance_level must be in (0, 1)")
        self._significance_level = significance_level
        super().__init__(
            ref, ref_value=significance_level, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.chi_squared_independence(
            ref.get_selection(engine), *ref.get_columns(engine)
        ))

    def _compare(self, row, _):
        if row is None or row["dof"] is None or row["dof"] < 1:
            return Undefined(False, (
                f"Chi-squared test of {self._ref} is undefined: fewer "
                "than two observed categories per column. "
            ))
        dof, chi2 = row["dof"], row["chi2"]
        p = _gamma_q(dof / 2.0, chi2 / 2.0)
        return p >= self._significance_level, (
            f"Columns {self._ref.get_columns()} of {self._ref} are not "
            f"independent: chi2={chi2} (dof={dof}), p-value {p} < "
            f"significance level {self._significance_level}. "
            f"{self._condition_string} "
        )


class MannWhitneyU(_TwoSample):
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) between a column
    of each data source: fails when the normal-approximation two-sided
    p-value (tie-corrected) drops below ``significance_level`` —
    a median/location-shift screen that, unlike the KS test, ignores
    pure shape differences.  Extension, no reference counterpart.

    Engine side: the two selections are tagged and unioned, then ranked
    once via the bucket-partitioned cumulative
    (operators.stats.mann_whitney_u) — one digest row out.
    """

    _columns = 1

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        significance_level: float = 0.05,
        name: str | None = None,
        cache_size=None,
    ):
        if not 0 < significance_level < 1:
            raise ValueError("significance_level must be in (0, 1)")
        self._significance_level = significance_level
        super().__init__(ref, ref2=ref2, name=name, cache_size=cache_size)

    def _retrieve(self, engine: SparkSession, _):
        return _row(stat_ops.mann_whitney_u(
            self._tagged_union(engine), "__v", "__g", "a", "b"
        ))

    def _undefined(self, exc):
        # both sides empty: the rank histogram has no values at all
        return Undefined(False, (
            f"Mann-Whitney test between {self._ref} and "
            f"{self._target_prefix} is undefined: one side has no "
            "non-null rows. "
        ))

    def _compare(self, row, _):
        if not row["n_a"] or not row["n_b"]:
            return self._undefined(None)
        z = row["z"]
        if z is None or math.isnan(z):
            # zero variance: every value identical across both sides
            return True, None
        p = math.erfc(abs(z) / math.sqrt(2.0))  # two-sided
        return p >= self._significance_level, (
            f"Location shift between {self._ref} and {self._target_prefix}: "
            f"U={row['u_a']} (n={row['n_a']}/{row['n_b']}), z={z}, "
            f"two-sided p-value {p} < significance level "
            f"{self._significance_level}. {self._condition_string} "
        )


class WassersteinMax(_TwoSample):
    """Distribution-drift gate on the exact 1-D Wasserstein (earth
    mover's) distance between a column of each source: fails when the
    distance exceeds ``max_distance`` (in the column's units).  Unlike
    PSI (binned) and KS (max-only), EMD weights drift by HOW FAR mass
    moved — the metric of choice for monitoring numeric feature drift.
    Extension, no reference counterpart.

    Engine side is operators.stats.wasserstein_1d (bucket-partitioned
    windows, no global sort); one digest row reaches the driver.
    """

    _columns = 1

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        max_distance: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_distance < 0:
            raise ValueError("max_distance must be non-negative")
        self._max_distance = max_distance
        super().__init__(ref, ref2=ref2, name=name, cache_size=cache_size)

    def _retrieve(self, engine: SparkSession, _):
        return _row(stat_ops.wasserstein_1d(
            *self._sides(engine),
            self._ref.get_column(engine),
            self._ref2.get_column(engine),
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Wasserstein distance between {self._ref} and "
            f"{self._target_prefix} is undefined: insufficient data "
            "(one or both sides have no non-null rows). "
        ))

    def _compare(self, row, _):
        emd = row["emd"]
        return emd <= self._max_distance, (
            f"Wasserstein distance between {self._ref} and "
            f"{self._target_prefix} is {emd} "
            f"(n={row['n1']}/{row['n2']}) — exceeding the maximum "
            f"{self._max_distance}. {self._condition_string} "
        )


class GroupedKsMax(_Statistic):
    """Segment-drift gate: for every group of ``group_column``, the KS
    distance between the group's ``value_column`` distribution and the
    POOLED distribution may not exceed ``max_d`` — "which segment's
    values moved?" asked for all segments in one pass.  Extension, no
    reference counterpart; generalizes the two-sample KS constraint to
    k segments.

    Engine side is operators.stats.grouped_ks: one conditional-agg
    histogram shuffle for all groups + the shared bucket-partitioned
    multi-cumulative; one row per group reaches the driver.  Groups with
    no rows report as undefined (NULL d) and fail the gate explicitly.
    """

    _columns = 2, ": (value_column, group_column)"

    def __init__(
        self,
        ref: DataReference,
        max_d: float,
        groups: list | None = None,
        max_groups: int = 100,
        name: str | None = None,
        cache_size=None,
    ):
        if not 0 <= max_d <= 1:
            raise ValueError("max_d must be within [0, 1].")
        self._max_d = max_d
        self._groups = groups
        self._max_groups = max_groups
        super().__init__(ref, ref_value=max_d, name=name, cache_size=cache_size)

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _rows(stat_ops.grouped_ks(
            ref.get_selection(engine),
            *ref.get_columns(engine),
            groups=self._groups,
            max_groups=self._max_groups,
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Grouped KS of {self._ref.get_columns()} on {self._ref} is "
            f"undefined: {exc} "
        ))

    def _compare(self, rows, _):
        value_col, group_col = self._ref.get_columns()
        undefined = [r[group_col] for r in rows if r["d"] is None]
        violators = [
            (r[group_col], r["d"], r["n"])
            for r in rows
            if r["d"] is not None and r["d"] > self._max_d
        ]
        if not undefined and not violators:
            return True, None
        parts = []
        if violators:
            listed = ", ".join(
                f"{g} (d={d}, n={n})" for g, d, n in sorted(violators)
            )
            parts.append(
                f"groups exceeding max KS distance {self._max_d}: {listed}."
            )
        if undefined:
            parts.append(
                f"groups with no rows (KS undefined): {sorted(undefined)}."
            )
        return False, (
            f"Grouped KS of {value_col} by {group_col} on {self._ref}: "
            + " ".join(parts)
            + f" {self._condition_string} "
        )


class SpearmanBounds(_Statistic):
    """Monotone-association gate: the exact tie-averaged Spearman rho
    between two numeric columns of ONE source must lie within
    [min_rho, max_rho] — "quantity should still drive price",
    "latency should not correlate with user id".  Extension, no
    reference counterpart.

    Engine side is operators.stats.spearman_correlation
    (bucket-partitioned rank maps, DECIMAL-exact sufficient
    statistics); one digest row reaches the driver.
    """

    _columns = 2, ""

    def __init__(
        self,
        ref: DataReference,
        min_rho: float | None = None,
        max_rho: float | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        if min_rho is None and max_rho is None:
            raise ValueError("Provide min_rho and/or max_rho.")
        for v in (min_rho, max_rho):
            if v is not None and not -1 <= v <= 1:
                raise ValueError("rho bounds must be within [-1, 1].")
        self._min_rho, self._max_rho = min_rho, max_rho
        super().__init__(
            ref, ref_value=(min_rho, max_rho), name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.spearman_correlation(
            ref.get_selection(engine), *ref.get_columns(engine)
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Spearman correlation of {self._ref.get_columns()} on "
            f"{self._ref} is undefined: insufficient data (no complete "
            "rows, or a constant column). "
        ))

    def _compare(self, row, _):
        rho = row["rho"]
        if rho is None:
            return self._undefined(None)
        lo = self._min_rho if self._min_rho is not None else -1.0
        hi = self._max_rho if self._max_rho is not None else 1.0
        return lo <= rho <= hi, (
            f"Spearman correlation of {self._ref.get_columns()} on "
            f"{self._ref} is {rho} (n={row['n']}) — outside [{lo}, {hi}]. "
            f"{self._condition_string} "
        )


class QuantileGridGapMax(_Statistic):
    """Per-segment distribution-shape gate: at every decile of the
    pooled ``value_column`` distribution, each group's exact quantile
    may not sit more than ``max_abs_gap`` away from the pooled
    quantile — WHERE in the distribution a segment drifted, not just
    how far (the KS sup).  Extension, no reference counterpart;
    the grid-valued peer of :class:`GroupedKsMax`.

    Engine side is operators.stats.grouped_quantile_grid: one
    conditional-agg histogram shuffle + the shared bucket-partitioned
    multi-cumulative; groups x (deciles-1) rows reach the driver.
    Groups with no rows report NULL quantiles and fail explicitly.
    """

    _columns = 2, ": (value_column, group_column)"

    def __init__(
        self,
        ref: DataReference,
        max_abs_gap: float,
        groups: list | None = None,
        deciles: int = 10,
        max_groups: int = 100,
        name: str | None = None,
        cache_size=None,
    ):
        if max_abs_gap < 0:
            raise ValueError("max_abs_gap must be non-negative.")
        if deciles < 2:
            raise ValueError("deciles must be at least 2.")
        self._max_abs_gap = max_abs_gap
        self._groups = groups
        self._deciles = deciles
        self._max_groups = max_groups
        super().__init__(
            ref, ref_value=max_abs_gap, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _rows(stat_ops.grouped_quantile_grid(
            ref.get_selection(engine),
            *ref.get_columns(engine),
            groups=self._groups,
            deciles=self._deciles,
            max_groups=self._max_groups,
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Quantile grid of {self._ref.get_columns()} on {self._ref} "
            f"is undefined: {exc} "
        ))

    def _compare(self, rows, _):
        value_col, group_col = self._ref.get_columns()
        undefined = sorted(
            {r[group_col] for r in rows if r["gap"] is None}
        )
        violators = [
            (r[group_col], r["decile"], r["gap"])
            for r in rows
            if r["gap"] is not None and abs(r["gap"]) > self._max_abs_gap
        ]
        if not undefined and not violators:
            return True, None
        parts = []
        if violators:
            listed = ", ".join(
                f"{g} decile {d}/{self._deciles} (gap={gap})"
                for g, d, gap in sorted(violators)
            )
            parts.append(
                f"(group, decile) cells exceeding max |gap| "
                f"{self._max_abs_gap}: {listed}."
            )
        if undefined:
            parts.append(
                f"groups with no rows (quantiles undefined): {undefined}."
            )
        return False, (
            f"Quantile grid of {value_col} by {group_col} on {self._ref}: "
            + " ".join(parts)
            + f" {self._condition_string} "
        )


class GroupedTrendSlopeBetween(_Statistic):
    """Per-segment robust-trend gate: each group's Theil-Sen slope of
    the DAILY sum of ``value_column`` over ``date_column`` must lie
    within [min_slope, max_slope] (units: value per day) — "no segment's
    volume may decay faster than X/day", robust to single-day outliers
    that would swing an OLS slope.  Extension, no reference counterpart;
    the grouped, gated form of the Theil-Sen estimator.

    Engine side: one grouped daily aggregate (partial-agg shuffle), the
    calendar-bounded within-group pair join, and ONE conditional slope
    histogram + shared bucketed cumulative for every group's median
    (operators.timeseries.grouped_theil_sen); one row per group reaches
    the driver.  Groups with fewer than two days have no slope (NULL)
    and fail explicitly.
    """

    _columns = 3, ": (date_column, value_column, group_column)"

    def __init__(
        self,
        ref: DataReference,
        min_slope: float | None = None,
        max_slope: float | None = None,
        groups: list | None = None,
        max_groups: int = 100,
        name: str | None = None,
        cache_size=None,
    ):
        if min_slope is None and max_slope is None:
            raise ValueError("Provide min_slope and/or max_slope.")
        self._min_slope, self._max_slope = min_slope, max_slope
        self._groups = groups
        self._max_groups = max_groups
        super().__init__(
            ref,
            ref_value=(min_slope, max_slope),
            name=name,
            cache_size=cache_size,
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        date_col, value_col, group_col = ref.get_columns(engine)
        df = _complete_rows(ref, engine)
        daily = df.groupBy(
            group_col, F.col(date_col).cast("date").alias("day")
        ).agg(F.sum(value_col).alias("__total"))
        groups = self._groups
        if groups is None:
            rows = (
                df.select(F.col(group_col).alias("g"))
                .distinct()
                .limit(self._max_groups + 1)
                .collect()
            )
            if len(rows) > self._max_groups:
                # an undefined verdict like the other grouped gates', not
                # an error that aborts the whole requirement run
                raise ValueError(
                    f"more than max_groups={self._max_groups} "
                    f"distinct groups in {group_col}; pass an "
                    "explicit `groups` list."
                )
            groups = sorted(r["g"] for r in rows)
        return _rows(timeseries.grouped_theil_sen(
            daily, group_col, "__total", groups=groups
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Grouped Theil-Sen of {self._ref.get_columns()} on "
            f"{self._ref} is undefined: {exc} "
        ))

    def _compare(self, out, _):
        date_col, value_col, group_col = self._ref.get_columns()
        lo = self._min_slope if self._min_slope is not None else float("-inf")
        hi = self._max_slope if self._max_slope is not None else float("inf")
        undefined = sorted(
            r[group_col] for r in out if r["slope"] is None
        )
        violators = [
            (r[group_col], r["slope"], r["n_days"])
            for r in out
            if r["slope"] is not None and not lo <= r["slope"] <= hi
        ]
        if not undefined and not violators:
            return True, None
        parts = []
        if violators:
            listed = ", ".join(
                f"{g} (slope={s}, n_days={n})"
                for g, s, n in sorted(violators)
            )
            parts.append(
                f"groups with daily-trend slope outside [{lo}, {hi}]: "
                f"{listed}."
            )
        if undefined:
            parts.append(
                f"groups with under two days (slope undefined): "
                f"{undefined}."
            )
        return False, (
            f"Grouped Theil-Sen slope of daily sum({value_col}) by "
            f"{group_col} on {self._ref}: "
            + " ".join(parts)
            + f" {self._condition_string} "
        )


class GroupedOls2SlopeBetween(_Statistic):
    """Per-group CONTROLLED-trend gate: each group's OLS coefficient on
    ``x1_column``, fit jointly with ``x2_column`` and an intercept
    (``operators.timeseries.grouped_ols2``), must lie within
    [min_beta1, max_beta1]; optionally the fit's R² must reach
    ``min_r2``.  The multi-feature companion to
    :class:`GroupedTrendSlopeBetween` — "is the metric still growing
    once the confounder (weekend flag, promo flag) is held out?" is a
    two-regressor question a simple slope cannot answer.  Extension, no
    reference counterpart.

    Engine side: ONE aggregate pass of decimal-exact sufficient
    statistics per group, Cramer's-rule solve in the projection; one
    row per group reaches the driver.  Degenerate groups (singular
    normal matrix / zero y-variance) come back NULL and fail
    explicitly.
    """

    _columns = 4, ": (x1_column, x2_column, value_column, group_column)"

    def __init__(
        self,
        ref: DataReference,
        min_beta1: float | None = None,
        max_beta1: float | None = None,
        min_r2: float | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        if min_beta1 is None and max_beta1 is None and min_r2 is None:
            raise ValueError(
                "Provide min_beta1 and/or max_beta1 and/or min_r2."
            )
        self._min_beta1, self._max_beta1 = min_beta1, max_beta1
        self._min_r2 = min_r2
        super().__init__(
            ref,
            ref_value=(min_beta1, max_beta1, min_r2),
            name=name,
            cache_size=cache_size,
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        x1_col, x2_col, value_col, group_col = ref.get_columns(engine)
        return _rows(timeseries.grouped_ols2(
            _complete_rows(ref, engine), group_col, x1_col, x2_col, value_col
        ))

    def _compare(self, out, _):
        x1_col, x2_col, value_col, group_col = self._ref.get_columns()
        if not out:
            return Undefined(False, (
                f"Grouped OLS of {self._ref.get_columns()} on {self._ref} "
                "is undefined: the selection is empty. "
            ))
        lo = self._min_beta1 if self._min_beta1 is not None else float("-inf")
        hi = self._max_beta1 if self._max_beta1 is not None else float("inf")
        undefined = sorted(
            str(r["grp"]) for r in out if r["beta1"] is None
        )
        slope_viol = [
            (r["grp"], r["beta1"], r["n"])
            for r in out
            if r["beta1"] is not None and not lo <= r["beta1"] <= hi
        ]
        r2_viol = (
            [
                (r["grp"], r["r2"])
                for r in out
                if r["r2"] is not None and r["r2"] < self._min_r2
            ]
            if self._min_r2 is not None
            else []
        )
        if not undefined and not slope_viol and not r2_viol:
            return True, None
        parts = []
        if slope_viol:
            listed = ", ".join(
                f"{g} (beta1={b}, n={n})"
                for g, b, n in sorted(slope_viol, key=lambda t: str(t[0]))
            )
            parts.append(
                f"groups with controlled slope on {x1_col} outside "
                f"[{lo}, {hi}]: {listed}."
            )
        if r2_viol:
            listed = ", ".join(
                f"{g} (r2={r})"
                for g, r in sorted(r2_viol, key=lambda t: str(t[0]))
            )
            parts.append(f"groups with R² below {self._min_r2}: {listed}.")
        if undefined:
            parts.append(
                "groups with a degenerate fit (collinear regressors or "
                f"zero variance): {undefined}."
            )
        return False, (
            f"Grouped OLS of {value_col} ~ {x1_col} + {x2_col} by "
            f"{group_col} on {self._ref}: "
            + " ".join(parts)
            + f" {self._condition_string} "
        )


class JsDivergenceMax(_TwoSample):
    """Jensen-Shannon drift gate between two samples — the bounded,
    symmetric companion to :class:`PopulationStabilityIndex` (JS is
    capped at ln 2 ~ 0.693 and finite on disjoint support, so one empty
    bucket cannot blow the statistic up the way PSI's log-ratio can).
    Extension, no reference counterpart.

    The statistic is computed in-engine (``operators.stats
    .js_divergence``, one conditional-agg bucket scan per side); only
    the scalar crosses to the driver.
    """

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        max_jsd: float,
        lo: float,
        hi: float,
        n_buckets: int = 10,
        name: str | None = None,
        cache_size=None,
    ):
        if not 0 <= max_jsd <= math.log(2) + 1e-12:
            raise ValueError("max_jsd must be within [0, ln 2].")
        self._max_jsd = max_jsd
        self._lo, self._hi, self._n_buckets = lo, hi, n_buckets
        super().__init__(ref, ref2=ref2, name=name, cache_size=cache_size)

    def _retrieve(self, engine: SparkSession, _):
        return _row(stat_ops.js_divergence(
            *self._aligned_sides(engine), self._lo, self._hi, self._n_buckets
        ))

    def _compare(self, row, _):
        jsd = row["jsd"]
        if jsd is None:
            return Undefined(False, (
                f"Jensen-Shannon divergence between {self._ref} and "
                f"{self._target_prefix} is undefined: insufficient data "
                "(no non-null rows in one or both references). "
            ))
        return jsd <= self._max_jsd, (
            f"Jensen-Shannon divergence between {self._ref} and "
            f"{self._target_prefix} is {jsd}, exceeding the maximum "
            f"{self._max_jsd} ({self._n_buckets} buckets over "
            f"[{self._lo}, {self._hi})). "
        )


class MutualInformationMax(_Statistic):
    """Dependence-leakage gate: the mutual information between two
    columns of ONE source may not exceed ``max_mi`` nats (or, with
    ``normalized=True``, the normalized MI in [0, 1] may not exceed the
    bound) — "the split column must not encode the label", "this
    feature must not leak user identity".  Extension, no reference
    counterpart; the information-theoretic complement of the
    chi-squared independence gate (which detects ANY dependence; this
    bounds HOW MUCH).

    Engine side is ``operators.stats.mutual_information``: one cell
    shuffle, margins aggregate the cells, one digest row out.
    """

    _columns = 2, ""

    def __init__(
        self,
        ref: DataReference,
        max_mi: float,
        normalized: bool = False,
        name: str | None = None,
        cache_size=None,
    ):
        if max_mi < 0:
            raise ValueError("max_mi must be non-negative.")
        if normalized and max_mi > 1:
            raise ValueError("normalized MI is bounded by 1.")
        self._max_mi = max_mi
        self._normalized = normalized
        super().__init__(ref, ref_value=max_mi, name=name, cache_size=cache_size)

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.mutual_information(
            ref.get_selection(engine), *ref.get_columns(engine)
        ))

    def _compare(self, row, _):
        cols = self._ref.get_columns()
        label = "Normalized mutual" if self._normalized else "Mutual"
        value = row["nmi" if self._normalized else "mi"]
        if value is None:
            return Undefined(False, (
                f"{label} information of {cols} on {self._ref} is "
                "undefined: insufficient data (no complete rows, or a "
                "constant column under normalization). "
            ))
        return value <= self._max_mi, (
            f"{label} information of {cols[0]} and {cols[1]} on "
            f"{self._ref} is {value} (n={row['n']}), exceeding the maximum "
            f"{self._max_mi}. "
        )


class SeasonalityStrengthBounds(_Statistic):
    """Weekly-seasonality gate: the ANOVA R² of the daily
    ``sum(value_column)`` series on its day-of-period phase must lie
    within [min_strength, max_strength] — "this metric should breathe
    weekly" (monitoring jobs must compare like-weekdays) or "this
    metric must NOT be weekday-driven" (a flat SLA signal).  Extension,
    no reference counterpart; peers the daily-volume anomaly gate.

    Engine side is ``operators.timeseries.seasonality_strength``: one
    daily aggregate, one period-row integer-exact aggregate, a ≤period
    driver fold.  A series with no variance (or under one day) has no
    defined strength and fails explicitly.
    """

    _columns = 2, ": (date_column, value_column)"

    def __init__(
        self,
        ref: DataReference,
        min_strength: float | None = None,
        max_strength: float | None = None,
        period: int = 7,
        name: str | None = None,
        cache_size=None,
    ):
        if min_strength is None and max_strength is None:
            raise ValueError("Provide min_strength and/or max_strength.")
        for v in (min_strength, max_strength):
            if v is not None and not 0 <= v <= 1:
                raise ValueError("strength bounds must be within [0, 1].")
        if period < 1:
            raise ValueError("period must be a positive number of days.")
        self._min_strength, self._max_strength = min_strength, max_strength
        self._period = period
        super().__init__(
            ref,
            ref_value=(min_strength, max_strength),
            name=name,
            cache_size=cache_size,
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        date_col, value_col = ref.get_columns(engine)
        daily = timeseries.daily_totals(
            _complete_rows(ref, engine), date_col, F.sum(value_col),
            alias="__total",
        )
        return _row(timeseries.seasonality_strength(
            daily, "__total", period=self._period
        ))

    def _compare(self, row, _):
        date_col, value_col = self._ref.get_columns()
        strength = row["strength"]
        if strength is None:
            return Undefined(False, (
                f"Seasonality strength of daily sum({value_col}) over "
                f"{date_col} on {self._ref} is undefined: the series has "
                f"no variance or no days (n_days={row['n_days']}). "
            ))
        lo = self._min_strength if self._min_strength is not None else 0.0
        hi = self._max_strength if self._max_strength is not None else 1.0
        return lo <= strength <= hi, (
            f"Seasonality strength of daily sum({value_col}) over "
            f"{date_col} on {self._ref} is {strength} "
            f"(n_days={row['n_days']}, period={self._period}) — outside "
            f"[{lo}, {hi}]. {self._condition_string} "
        )


class ProfileDrift(_TwoSample):
    """Multi-column profile drift gate between two snapshots: fails when
    any profiled column's mean / null fraction / distinct count shifts
    past its tolerance (``operators.profile.profile_drift``).  One
    profile scan per side regardless of column count — the batch-health
    generalization of the reference's per-statistic Between gates
    (requirements.py mean/uniques deviation factories).  Extension, no
    reference counterpart.
    """

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        mean_rel_tol: float = 0.05,
        null_abs_tol: float = 0.01,
        distinct_rel_tol: float = 0.2,
        name: str | None = None,
        cache_size=None,
    ):
        for label, tol in (
            ("mean_rel_tol", mean_rel_tol),
            ("null_abs_tol", null_abs_tol),
            ("distinct_rel_tol", distinct_rel_tol),
        ):
            if tol < 0:
                raise ValueError(f"{label} must be non-negative.")
        self._mean_rel_tol = mean_rel_tol
        self._null_abs_tol = null_abs_tol
        self._distinct_rel_tol = distinct_rel_tol
        super().__init__(ref, ref2=ref2, name=name, cache_size=cache_size)

    def _check_arguments(self) -> None:
        columns = self._ref.get_columns()
        columns2 = self._ref2.get_columns()
        if columns2 != columns:
            raise ValueError(
                "ProfileDrift requires the same column list on both "
                f"references; got {columns} vs {columns2}."
            )

    def _retrieve(self, engine: SparkSession, _):
        return _rows(profile.profile_drift(
            *self._sides(engine),
            self._ref.get_columns(engine),
            mean_rel_tol=self._mean_rel_tol,
            null_abs_tol=self._null_abs_tol,
            distinct_rel_tol=self._distinct_rel_tol,
        ))

    def _compare(self, rows, _):
        drifted = [r for r in rows if r["drifted"]]
        details = "; ".join(
            f"{r['col_name']}: mean {r['mean_a']} -> {r['mean_b']} "
            f"(rel delta {r['mean_rel_delta']}), null fraction "
            f"{r['null_frac_a']} -> {r['null_frac_b']}, distinct "
            f"{r['distinct_a']} -> {r['distinct_b']}"
            for r in drifted
        )
        return not drifted, (
            f"Column profiles of {self._ref} drifted against "
            f"{self._target_prefix} beyond tolerance "
            f"(mean_rel_tol={self._mean_rel_tol}, "
            f"null_abs_tol={self._null_abs_tol}, "
            f"distinct_rel_tol={self._distinct_rel_tol}): {details}. "
        )


class CusumStabilityMax(_Statistic):
    """Level-shift gate: the CUSUM peak of the daily ``sum(value)``
    series may not exceed a bound — the sustained-regime-change
    detector that the local z-score anomaly gate misses (a 10% shift
    spread over weeks never trips a spike detector, but its cumulative
    deviation grows linearly).  Extension, no reference counterpart;
    peers the daily-volume anomaly and seasonality gates.

    Engine side is ``operators.timeseries.cusum_changepoint`` over the
    cent-scaled daily frame (decimal(38,0)-exact argmax); ``max_relative``
    bounds ``cusum_max / mean(|daily|)`` (unitless days-of-shift),
    ``max_cusum`` bounds the absolute peak in value units.  The failure
    message names the most likely change day.
    """

    _columns = 2, ": (date_column, value_column)"

    def __init__(
        self,
        ref: DataReference,
        max_cusum: float | None = None,
        max_relative: float | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        if max_cusum is None and max_relative is None:
            raise ValueError("Provide max_cusum and/or max_relative.")
        for label, v in (("max_cusum", max_cusum),
                         ("max_relative", max_relative)):
            if v is not None and v < 0:
                raise ValueError(f"{label} must be non-negative.")
        self._max_cusum = max_cusum
        self._max_relative = max_relative
        super().__init__(
            ref,
            ref_value=(max_cusum, max_relative),
            name=name,
            cache_size=cache_size,
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        daily = materialize_once(_daily_cents(ref, engine))
        peak = timeseries.cusum_changepoint(daily, "__cents")
        rows = peak.collect()
        if not rows:
            return None, [peak]
        mean_abs = daily.agg(F.avg(F.abs(F.col("__cents"))).alias("m"))
        return (rows[0], mean_abs.collect()[0]["m"]), [peak, mean_abs]

    def _compare(self, summary, _):
        if summary is None:
            # Empty / all-null (date, value) selection: no series, no
            # shift — vacuously stable, consistent with the other
            # time-series gates on empty input.
            return True, None
        row, mean_abs = summary
        date_col, value_col = self._ref.get_columns()
        cusum_value = row["cusum_max"] / 100.0
        relative = (
            cusum_value * 100.0 / mean_abs if mean_abs else None
        )
        ok = True
        if self._max_cusum is not None and cusum_value > self._max_cusum:
            ok = False
        if self._max_relative is not None and (
            relative is None or relative > self._max_relative
        ):
            ok = False
        if ok:
            return True, None
        return False, (
            f"CUSUM peak of daily sum({value_col}) over {date_col} on "
            f"{self._ref} is {cusum_value}"
            + (
                f" (relative {round(relative, 6)} x mean daily |value|)"
                if relative is not None
                else " (relative undefined: zero mean |value|)"
            )
            + f" at likely change day {row['change_day']} "
            f"(n_days={row['n_days']}) — exceeding "
            f"max_cusum={self._max_cusum}, "
            f"max_relative={self._max_relative}. "
            f"{self._condition_string} "
        )


class BootstrapMeanStability(_Statistic):
    """The Poisson-bootstrap confidence interval of ``mean(value)`` must
    be narrow (``max_relative_width``: CI width / |point mean|) and/or
    contain ``target_value`` — "is the mean a stable number, or one fat
    row away from moving?".  Extension, no reference counterpart; the
    uncertainty-aware companion to ``add_numeric_mean_constraint``: the
    plain gate fails when the mean drifts, this one fails when the mean
    stops being trustworthy (or when a target escapes its interval).

    Engine: :func:`operators.resample.bootstrap_mean_ci` — all replicates
    in ONE aggregation pass from deterministic md5-derived Poisson(1)
    weights, so outcomes are reproducible run-to-run and engine-to-engine.
    Values are cent-scaled before summing (decimal-exact); the digest
    reports in value units.
    """

    _columns = 2, ": (key_column, value_column)"

    def __init__(
        self,
        ref: DataReference,
        max_relative_width: float | None = None,
        target_value: float | None = None,
        n_reps: int = 64,
        name: str | None = None,
        cache_size=None,
    ):
        if max_relative_width is None and target_value is None:
            raise ValueError(
                "Provide max_relative_width and/or target_value."
            )
        if max_relative_width is not None and max_relative_width < 0:
            raise ValueError("max_relative_width must be non-negative.")
        if n_reps < 4:
            raise ValueError("n_reps must be at least 4.")
        self._max_rel = max_relative_width
        self._target = target_value
        self._n_reps = n_reps
        super().__init__(
            ref,
            ref_value=(max_relative_width, target_value, n_reps),
            name=name,
            cache_size=cache_size,
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(_bootstrap_mean_ci(ref, engine, self._n_reps))

    def _compare(self, row, _):
        if row is None or row["n_rows"] == 0:
            return Undefined(True, "No rows; bootstrap gate holds vacuously.")
        lo, hi = row["boot_lo"] / 100.0, row["boot_hi"] / 100.0
        point = row["point_mean"] / 100.0
        problems = []
        if self._max_rel is not None:
            if point == 0:
                problems.append(
                    f"point mean of {self._ref} is 0; relative CI width "
                    "is undefined (treated as unstable)."
                )
            else:
                rel = (hi - lo) / abs(point)
                if rel > self._max_rel:
                    problems.append(
                        f"bootstrap {self._n_reps}-replicate CI of "
                        f"{self._ref} mean is [{lo}, {hi}] around "
                        f"{point}: relative width {rel:.6f} exceeds "
                        f"{self._max_rel}."
                    )
        if self._target is not None and not (lo <= self._target <= hi):
            problems.append(
                f"target mean {self._target} lies outside the bootstrap "
                f"CI [{lo}, {hi}] of {self._ref}."
            )
        return not problems, " ".join(problems)


class TheilsUMin(_Statistic):
    """Graded functional-dependency gate: Theil's uncertainty
    coefficient ``U(A|B) = MI/H(A)`` — the fraction of A's entropy
    explained by B — must stay >= ``min_u``.  The probabilistic
    companion to the reference's exact functional-dependency check
    (reference miscs.py:124-147): that one fails on a single exception
    row, this one gates how strongly the dependency holds overall
    (1 = exact FD).  Asymmetric by design: direction matters.

    Engine: ``operators.stats.theils_u`` — one contingency-cell shuffle,
    log-sum fold; a zero-entropy (constant) A makes U undefined and the
    gate fails loudly rather than passing vacuously.
    """

    _columns = 2, ": (dependent_column, determinant_column)"

    def __init__(
        self,
        ref: DataReference,
        min_u: float,
        name: str | None = None,
        cache_size=None,
    ):
        if not (0.0 <= min_u <= 1.0):
            raise ValueError("min_u must lie within [0, 1].")
        self._min_u = min_u
        super().__init__(ref, ref_value=min_u, name=name, cache_size=cache_size)

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.theils_u(
            ref.get_selection(engine), *ref.get_columns(engine)
        ))

    def _compare(self, row, _):
        a, b = self._ref.get_columns()
        if row["n"] == 0:
            return Undefined(True, "No rows; dependence gate is vacuous.")
        u = row["u_a_given_b"]
        if u is None:
            return Undefined(False, (
                f"Theil's U of {self._ref} is undefined: {a!r} has zero "
                f"entropy (constant column) over {row['n']} rows."
            ))
        return u >= self._min_u, (
            f"{b!r} explains only {u} of {a!r}'s entropy in {self._ref} "
            f"(Theil's U), below the required {self._min_u}."
        )


class WhiteNoiseLjungBox(_Statistic):
    """White-noise gate on the daily ``sum(value)`` series: the
    Ljung-Box portmanteau statistic at ``max_lag`` must stay under
    ``max_q`` (e.g. the chi-squared critical value for the chosen
    lag count).  Drift/anomaly monitors assume roughly independent
    days; this is the pre-check that assumption — a failing gate says
    the series carries autocorrelation structure (trend, weekly cycle)
    the monitors must model first.

    Engine: ``operators.timeseries.autocorrelation`` over the
    calendar-bounded daily frame — decimal-exact per-lag sufficient
    statistics, fixed-order cumulative fold.
    """

    _columns = 2, ": (date_column, value_column)"

    def __init__(
        self,
        ref: DataReference,
        max_q: float,
        max_lag: int = 14,
        name: str | None = None,
        cache_size=None,
    ):
        if max_q < 0:
            raise ValueError("max_q must be non-negative.")
        if max_lag < 1:
            raise ValueError("max_lag must be a positive number of days.")
        self._max_q = max_q
        self._max_lag = max_lag
        super().__init__(
            ref, ref_value=(max_q, max_lag), name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _rows(timeseries.autocorrelation(
            _daily_cents(ref, engine), "__cents", self._max_lag
        ))

    def _compare(self, rows, _):
        if not rows:
            return Undefined(
                True, "No daily series; white-noise gate is vacuous."
            )
        q = rows[-1]["ljung_box_q"]
        if q <= self._max_q:
            return True, None
        worst = max(
            (r for r in rows if r["acf"] is not None),
            key=lambda r: abs(r["acf"]),
            default=None,
        )
        detail = (
            f" (largest autocorrelation {worst['acf']} at lag "
            f"{worst['lag']})"
            if worst is not None
            else ""
        )
        return False, (
            f"Daily series of {self._ref} is not white noise: Ljung-Box "
            f"Q({self._max_lag}) = {q} exceeds {self._max_q}{detail}."
        )


class MannKendallStability(_Statistic):
    """No-trend gate on the daily ``sum(value)`` series: the
    continuity-corrected Mann-Kendall z statistic must satisfy
    ``|z| <= max_abs_z`` (1.96 = the 5% two-sided normal bound).
    The nonparametric companion to :class:`WhiteNoiseLjungBox`: that
    gate catches autocorrelation structure of any shape, this one
    specifically catches a monotonic drift — and names its direction.

    Engine: ``operators.timeseries.mann_kendall`` — exact integer S and
    tie-corrected variance over the calendar-bounded pair frame.  An
    all-tied series (zero variance) has undefined z and passes: a
    constant series carries no trend by construction.
    """

    _columns = 2, ": (date_column, value_column)"

    def __init__(
        self,
        ref: DataReference,
        max_abs_z: float = 1.96,
        name: str | None = None,
        cache_size=None,
    ):
        if max_abs_z < 0:
            raise ValueError("max_abs_z must be non-negative.")
        self._max_abs_z = max_abs_z
        super().__init__(
            ref, ref_value=max_abs_z, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(timeseries.mann_kendall(
            _daily_cents(ref, engine), "__cents"
        ))

    def _compare(self, row, _):
        if row is None or row["n_days"] == 0:
            return Undefined(True, "No daily series; trend gate is vacuous.")
        z = row["z"]
        if z is None or abs(z) <= self._max_abs_z:
            return True, None
        direction = "upward" if z > 0 else "downward"
        return False, (
            f"Daily series of {self._ref} carries a monotonic "
            f"{direction} trend: Mann-Kendall z = {z} over "
            f"{row['n_days']} days (S = {row['s_stat']}), outside "
            f"|z| <= {self._max_abs_z}."
        )


class JointOutlierBound(_Statistic):
    """Joint-outlier gate: no distinct (x, y) value pair may exceed a
    squared Mahalanobis distance of ``max_d2`` from the column pair's
    own covariance structure (optionally tolerating
    ``max_violations`` such pairs).  Catches the rows that are
    plausible in every marginal gate yet jointly impossible — a
    mispriced quantity/price pair, a length/token-count mismatch.

    Engine: ``operators.stats.mahalanobis_outliers_2d`` — distinct-pair
    collapse, decimal-exact sufficient statistics, closed-form 2x2
    inverse, map-only scoring.  A singular covariance (collinear
    columns) passes: there is no joint structure to violate, and the
    1-D gates own that case.
    """

    _columns = 2, ": (x, y)"

    def __init__(
        self,
        ref: DataReference,
        max_d2: float,
        max_violations: int = 0,
        name: str | None = None,
        cache_size=None,
    ):
        if max_d2 <= 0:
            raise ValueError("max_d2 must be positive.")
        if max_violations < 0:
            raise ValueError("max_violations must be non-negative.")
        self._max_d2 = max_d2
        self._max_violations = max_violations
        super().__init__(
            ref,
            ref_value=(max_d2, max_violations),
            name=name,
            cache_size=cache_size,
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _rows(stat_ops.mahalanobis_outliers_2d(
            ref.get_selection(engine),
            *ref.get_columns(engine),
            k=self._max_violations + 5,
        ))

    def _compare(self, top, _):
        x, y = self._ref.get_columns()
        offenders = [r for r in top if r["d2"] > self._max_d2]
        sample = ", ".join(
            f"({r['x']}, {r['y']}) d2={r['d2']} x{r['cnt']}"
            for r in offenders[:5]
        )
        return len(offenders) <= self._max_violations, (
            f"{len(offenders)}+ distinct ({x}, {y}) pairs of {self._ref} "
            f"exceed the joint Mahalanobis bound d2 <= {self._max_d2} "
            f"(allowed: {self._max_violations}). Worst: {sample}."
        )


class BootstrapMeanOverlap(_Statistic):
    """Two-sample mean comparison with uncertainty: the Poisson-
    bootstrap confidence intervals of ``mean(value)`` in the two
    sources must overlap (or leave a gap of at most ``max_gap`` value
    units).  The statistically honest form of
    ``add_numeric_mean_constraint``'s Between variant: a raw mean
    comparison fires on any drift however noisy the estimate; this one
    fires only when the two means are DISTINGUISHABLE given each
    sample's own variability.

    Engine: one single-pass deterministic bootstrap per source
    (``operators.resample.bootstrap_mean_ci``) — md5-keyed Poisson(1)
    weights, so re-runs and engine ports reproduce the verdict exactly.
    Either side empty -> vacuous pass (no evidence of difference).
    """

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        max_gap: float = 0.0,
        n_reps: int = 64,
        name: str | None = None,
        cache_size=None,
    ):
        if max_gap < 0:
            raise ValueError("max_gap must be non-negative.")
        if n_reps < 4:
            raise ValueError("n_reps must be at least 4.")
        self._max_gap = max_gap
        self._n_reps = n_reps
        super().__init__(
            ref, ref2=ref2, name=name, cache_size=cache_size
        )

    def _check_arguments(self) -> None:
        for ref in (self._ref, self._ref2):
            cols = ref.get_columns()
            if not cols or len(cols) != 2:
                raise ValueError(
                    "BootstrapMeanOverlap requires two columns per "
                    "source: (key_column, value_column)."
                )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        # each side's interval is its own slot: the two run at once
        return _row(_bootstrap_mean_ci(ref, engine, self._n_reps))

    def _compare(self, row1, row2):
        if any(row is None or row["n_rows"] == 0 for row in (row1, row2)):
            return Undefined(True, (
                "At least one side has no rows; no evidence of a mean "
                "difference."
            ))
        ci1 = (row1["boot_lo"] / 100.0, row1["boot_hi"] / 100.0)
        ci2 = (row2["boot_lo"] / 100.0, row2["boot_hi"] / 100.0)
        gap = max(ci1[0] - ci2[1], ci2[0] - ci1[1], 0.0)
        return gap <= self._max_gap, (
            f"Bootstrap mean CIs of {self._ref} and {self._ref2} are "
            f"separated: [{ci1[0]}, {ci1[1]}] vs [{ci2[0]}, {ci2[1]}] "
            f"leaves a gap of {gap}, above the allowed {self._max_gap} — "
            f"the means are statistically distinguishable at "
            f"{self._n_reps}-replicate resolution."
        )


class MonotoneTrend(_Statistic):
    """Monotone-calibration gate: the bucketed mean of ``y`` against
    ``x`` must be nondecreasing (or nonincreasing with
    ``decreasing=True``) up to ``max_deviation`` — measured as the
    largest gap between the observed bucket mean and its isotonic
    (PAVA) fit, i.e. exactly how far the data bends against the claimed
    direction.  "Price grows with quantity", "score grows with label":
    the shape checks no point gate expresses.

    Engine: ``operators.stats.isotonic_calibration`` — one partial-
    agg'd shuffle to the bucket frame, then the relational minimax PAVA
    over bounded grids.  ``decreasing`` negates y (isotonic fit of -y
    nonincreasing in y).  Empty selections pass vacuously.
    """

    _columns = 2, ": (x, y)"

    def __init__(
        self,
        ref: DataReference,
        max_deviation: float = 0.0,
        n_buckets: int = 32,
        decreasing: bool = False,
        name: str | None = None,
        cache_size=None,
    ):
        if max_deviation < 0:
            raise ValueError("max_deviation must be non-negative.")
        if n_buckets < 2:
            raise ValueError("n_buckets must be at least 2.")
        self._max_dev = max_deviation
        self._n_buckets = n_buckets
        self._decreasing = decreasing
        super().__init__(
            ref,
            ref_value=(max_deviation, n_buckets, decreasing),
            name=name,
            cache_size=cache_size,
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        x, y = ref.get_columns(engine)
        sign = -1 if self._decreasing else 1
        return _rows(stat_ops.isotonic_calibration(
            ref.get_selection(engine).select(
                F.col(x), (_cents(y) * sign).alias("__y")
            ),
            x,
            "__y",
            n_buckets=self._n_buckets,
        ))

    def _compare(self, rows, _):
        if not rows:
            return Undefined(True, "No rows; monotonicity holds vacuously.")
        worst = max(
            rows, key=lambda r: abs(r["mean_y"] - r["fitted"])
        )
        dev = abs(worst["mean_y"] - worst["fitted"]) / 100.0
        x, y = self._ref.get_columns()
        direction = "nonincreasing" if self._decreasing else "nondecreasing"
        return dev <= self._max_dev, (
            f"mean({y}) is not {direction} in {x} for {self._ref}: "
            f"bucket {worst['bucket']} (n={worst['n']}) deviates "
            f"{dev} from the isotonic fit, above the allowed "
            f"{self._max_dev}."
        )


class Rank2SampleMax(_TwoSample):
    """Distribution-drift gate on a rank two-sample statistic —
    Anderson-Darling A² (``statistic='ad'``, tail-weighted) or
    Cramér-von Mises T (``statistic='cvm'``, integral-squared) —
    between a column of each source: fails when the statistic exceeds
    ``max_value``.  The tail-sensitive / L2 companions to the KS
    constraint's sup metric (reference constraints/stats.py:13-142 has
    only KS).  Extension, no reference counterpart.

    Engine side is operators.stats.rank_2sample_tests (one
    union-histogram shuffle + the shared bucket-partitioned cumulative,
    DECIMAL-exact numerators); one digest row reaches the driver.
    """

    _columns = 1

    _LABELS = {"ad": "Anderson-Darling A²", "cvm": "Cramér-von Mises T"}

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        statistic: str,
        max_value: float,
        name: str | None = None,
        cache_size=None,
    ):
        if statistic not in self._LABELS:
            raise ValueError("statistic must be 'ad' or 'cvm'")
        if max_value < 0:
            raise ValueError("max_value must be non-negative")
        self._statistic = statistic
        self._max_value = max_value
        super().__init__(ref, ref2=ref2, name=name, cache_size=cache_size)

    def _retrieve(self, engine: SparkSession, _):
        return _row(stat_ops.rank_2sample_tests(
            *self._sides(engine),
            self._ref.get_column(engine),
            self._ref2.get_column(engine),
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"{self._LABELS[self._statistic]} between {self._ref} "
            f"and {self._target_prefix} is undefined: one or both "
            "sides have no non-null rows. "
        ))

    def _compare(self, row, _):
        value = row[self._statistic]
        return value <= self._max_value, (
            f"{self._LABELS[self._statistic]} between {self._ref} and "
            f"{self._target_prefix} is {value} "
            f"(n={row['n1']}/{row['n2']}) — exceeding the maximum "
            f"{self._max_value}. {self._condition_string} "
        )


class JarqueBeraMax(_Statistic):
    """Normality gate: the Jarque-Bera statistic of an integer-valued
    column (cents, counts) may not exceed ``max_jb`` — "is a sigma rule
    (z-score / 3-sigma alerting) even a sound premise for this column?"
    (JB ~ χ²(2) under normality; 5.99 = 5% critical value).
    Extension, no reference counterpart.

    Engine side is operators.stats.jarque_bera (one aggregation scan of
    DECIMAL-exact power sums); one digest row reaches the driver.
    """

    def __init__(
        self,
        ref: DataReference,
        max_jb: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_jb < 0:
            raise ValueError("max_jb must be non-negative")
        self._max_jb = max_jb
        super().__init__(ref, ref_value=max_jb, name=name, cache_size=cache_size)

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.jarque_bera(
            ref.get_selection(engine), ref.get_column(engine)
        ))

    def _compare(self, row, _):
        if row is None or row["jb"] is None:
            return Undefined(False, (
                f"Jarque-Bera statistic of {self._ref} is undefined: "
                "fewer than 2 non-null rows or zero variance. "
            ))
        return row["jb"] <= self._max_jb, (
            f"Jarque-Bera statistic of {self._ref} is {row['jb']} "
            f"(n={row['n']}, skewness={row['skewness']}, "
            f"kurtosis={row['kurtosis']}) — exceeding the maximum "
            f"{self._max_jb}; sigma-rule gates are unsound on this "
            f"column. {self._condition_string} "
        )


class TwoProportionZMax(_Statistic):
    """A/B gate: |pooled two-proportion z| between two row-filter
    populations of ONE table may not exceed ``max_abs_z`` ("the success
    rate must not have moved significantly between the control and
    treatment slices"; 1.96 = 5% two-sided).  Extension, no reference
    counterpart.

    Engine side is operators.stats.two_proportion_ztest (one
    conditional-aggregation scan, exact integer counts).
    """

    def __init__(
        self,
        ref: DataReference,
        population_a,
        population_b,
        success,
        max_abs_z: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_abs_z < 0:
            raise ValueError("max_abs_z must be non-negative")
        self._population_a = population_a
        self._population_b = population_b
        self._success = success
        self._max_abs_z = max_abs_z
        super().__init__(
            ref, ref_value=max_abs_z, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.two_proportion_ztest(
            ref.get_selection(engine),
            self._population_a.to_column(),
            self._population_b.to_column(),
            self._success.to_column(),
        ))

    def _compare(self, row, _):
        if row["z"] is None:
            return Undefined(False, (
                f"Two-proportion z between populations of {self._ref} "
                f"is undefined (empty side or zero pooled variance; "
                f"n_a={row['n_a']}, n_b={row['n_b']}). "
            ))
        return abs(row["z"]) <= self._max_abs_z, (
            f"Two-proportion z between populations of {self._ref} is "
            f"{row['z']} (rate_a={row['rate_a']} on n={row['n_a']}, "
            f"rate_b={row['rate_b']} on n={row['n_b']}) — |z| exceeds "
            f"the maximum {self._max_abs_z}. {self._condition_string} "
        )


class CupedDiffMax(_Statistic):
    """Variance-reduced A/B gate: the CUPED-adjusted between-variant
    difference of an integer post-period metric may not exceed
    ``max_abs_diff`` in absolute value — "after removing what the
    pre-period already predicted, the variants must not differ by more
    than this".  Extension, no reference counterpart.

    Engine side is operators.stats.cuped_adjusted_diff (one
    sufficient-statistics scan over the caller's unit frame).  When the
    pre-period has zero variance, the gate falls back to the RAW
    difference (CUPED is undefined but the experiment question stands).
    """

    def __init__(
        self,
        ref: DataReference,
        pre_column: str,
        post_column: str,
        assignment_column: str,
        max_abs_diff: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_abs_diff < 0:
            raise ValueError("max_abs_diff must be non-negative")
        self._pre = pre_column
        self._post = post_column
        self._assign = assignment_column
        self._max_abs_diff = max_abs_diff
        super().__init__(
            ref, ref_value=max_abs_diff, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.cuped_adjusted_diff(
            ref.get_selection(engine), self._pre, self._post, self._assign
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"CUPED difference on {self._ref} is undefined: {exc}. "
        ))

    def _compare(self, row, _):
        diff = row["diff_cuped"] if row["diff_cuped"] is not None else row[
            "diff_raw"
        ]
        kind = "CUPED-adjusted" if row["diff_cuped"] is not None else "raw"
        if diff is None:
            return Undefined(False, (
                f"CUPED difference on {self._ref} is undefined: a variant "
                f"is empty (n_a={row['n_a']}, n_b={row['n_b']}). "
            ))
        return abs(diff) <= self._max_abs_diff, (
            f"{kind} A/B difference of '{self._post}' on {self._ref} is "
            f"{diff} (theta={row['theta']}, rho2={row['rho2']}, "
            f"n={row['n_a']}/{row['n_b']}) — |diff| exceeds the maximum "
            f"{self._max_abs_diff}. {self._condition_string} "
        )


class LogrankMax(_Statistic):
    """Survival-equality gate: the two-group log-rank χ² statistic may
    not exceed ``max_chi2`` (3.84 = 5% on χ²(1)) — "the two cohorts'
    churn/survival curves must not differ significantly".  Extension,
    no reference counterpart; the hypothesis-test companion to the
    Kaplan-Meier digest.
    """

    def __init__(
        self,
        ref: DataReference,
        duration_column: str,
        event_column: str,
        group_column: str,
        max_chi2: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_chi2 < 0:
            raise ValueError("max_chi2 must be non-negative")
        self._duration = duration_column
        self._event = event_column
        self._group = group_column
        self._max_chi2 = max_chi2
        super().__init__(
            ref, ref_value=max_chi2, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(timeseries.logrank_test(
            ref.get_selection(engine), self._duration, self._event,
            self._group,
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Log-rank test on {self._ref} is undefined: {exc}. "
        ))

    def _compare(self, row, _):
        if row is None or row["chi2"] is None:
            # no events / zero variance: the curves carry no evidence of
            # difference — vacuously equal
            return True, None
        return row["chi2"] <= self._max_chi2, (
            f"Log-rank chi-squared between the two '{self._group}' groups "
            f"of {self._ref} is {row['chi2']} "
            f"(observed={row['observed_1']}, expected={row['expected_1']}, "
            f"n={row['n_1']}/{row['n_2']}) — exceeding the maximum "
            f"{self._max_chi2}; the survival curves differ. "
            f"{self._condition_string} "
        )


class CoxScoreMax(_Statistic):
    """Hazard-association gate: the Cox proportional-hazards SCORE
    chi-squared for a numeric covariate may not exceed ``max_chi2``
    (3.84 = 5% on χ²(1)) — "time-to-churn must not associate with this
    covariate".  The continuous-covariate companion to
    :class:`LogrankMax` (for a binary 0/1 covariate the statistic is
    the untie-corrected log-rank).  Iteration-free (score test at
    β = 0), so the whole gate is one relational plan on the bounded
    duration histogram.  Extension, no reference counterpart.
    """

    def __init__(
        self,
        ref: DataReference,
        duration_column: str,
        event_column: str,
        covariate_column: str,
        max_chi2: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_chi2 < 0:
            raise ValueError("max_chi2 must be non-negative")
        self._duration = duration_column
        self._event = event_column
        self._covariate = covariate_column
        self._max_chi2 = max_chi2
        super().__init__(
            ref, ref_value=max_chi2, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(timeseries.cox_score_test(
            ref.get_selection(engine), self._duration, self._event,
            self._covariate,
        ))

    def _compare(self, row, _):
        if row is None or row["chi2"] is None:
            # no events / zero information (constant covariate): the
            # data carries no evidence of association — vacuously pass
            return True, None
        return row["chi2"] <= self._max_chi2, (
            f"Cox score chi-squared of hazard vs '{self._covariate}' on "
            f"{self._ref} is {row['chi2']} (U={row['u_score']}, "
            f"I={row['information']}, {row['n_events']} events over "
            f"{row['n_subjects']} subjects) — exceeding the maximum "
            f"{self._max_chi2}; the covariate associates with the "
            f"hazard. {self._condition_string} "
        )


class ObfCrossingMax(_Statistic):
    """Group-sequential A/B gate: monitoring the experiment at every
    look with an O'Brien-Fleming-shaped boundary, at most
    ``max_crossed_looks`` looks may cross — "peeking after every look
    must not reveal a significant difference".  The sequential
    completion of :class:`TwoProportionZMax`: a fixed 1.96 gate checked
    repeatedly inflates the false-positive rate; the OBF boundary
    spends the error budget across looks instead.  Extension, no
    reference counterpart.

    Declare the planned schedule via ``n_looks`` to get the EXACT
    published O'Brien-Fleming constant (alpha = 0.05, K <= 10 —
    Jennison & Turnbull 2000 Table 2.3) instead of the fixed-horizon
    heuristic ``c``; an explicit ``critical_value`` overrides both.

    Engine side is ``operators.stats.sequential_look_counts`` (one
    grouped conditional-count scan) + ``obf_sequential_ztest`` (windows
    over the bounded look frame); only the bounded monitoring grid
    crosses to the driver.
    """

    def __init__(
        self,
        ref: DataReference,
        look_column: str,
        population_a,
        population_b,
        success,
        alpha: float = 0.05,
        critical_value: float | None = None,
        n_looks: int | None = None,
        max_crossed_looks: int = 0,
        name: str | None = None,
        cache_size=None,
    ):
        if not 0.0 < alpha < 1.0:
            raise ValueError("alpha must be within (0, 1)")
        if max_crossed_looks < 0:
            raise ValueError("max_crossed_looks must be non-negative")
        if n_looks is not None and n_looks < 1:
            raise ValueError("n_looks must be >= 1")
        self._look = look_column
        self._population_a = population_a
        self._population_b = population_b
        self._success = success
        self._alpha = alpha
        self._critical_value = critical_value
        self._n_looks = n_looks
        self._max_crossed = int(max_crossed_looks)
        super().__init__(
            ref, ref_value=max_crossed_looks, name=name,
            cache_size=cache_size,
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _rows(stat_ops.obf_sequential_ztest(
            _look_counts(self, ref, engine),
            alpha=self._alpha,
            critical_value=self._critical_value,
            n_looks=self._n_looks,
        ))

    def _compare(self, grid, _):
        crossed = sorted(
            (r for r in grid if r["crossed"]), key=lambda r: r["look"]
        )
        if len(crossed) <= self._max_crossed:
            return True, None
        first = crossed[0]
        return False, (
            f"Sequential O'Brien-Fleming monitor on {self._ref} crossed "
            f"at {len(crossed)} of {len(grid)} looks (allowed "
            f"{self._max_crossed}): first at look {first['look']!r} with "
            f"|z|={abs(first['z'])} >= boundary {first['boundary']} "
            f"(info fraction {first['info_frac']}, alpha={self._alpha}). "
            f"{self._condition_string} "
        )


class QteMax(_Statistic):
    """Distribution-wide A/B gate: no decile's quantile treatment
    effect ``|q_b − q_a|`` may exceed ``max_abs_qte`` — "the treatment
    must not have moved ANY part of the outcome distribution more than
    this", the question every mean gate averages away (a top-decile-only
    effect barely moves the mean; mirrored-sign QTEs cancel in it
    entirely).  Completes the A/B readout stack: mean (Welch/CUPED),
    rate (two-proportion z), spread (Brown-Forsythe), distribution
    (THIS).  Extension, no reference counterpart.

    Engine side is ``operators.stats.quantile_treatment_effect`` (one
    conditional-agg histogram shuffle + the shared bucket-partitioned
    cumulative); only the bounded decile grid crosses to the driver.
    """

    def __init__(
        self,
        ref: DataReference,
        value_column: str,
        assignment_column: str,
        max_abs_qte: float,
        deciles: int = 10,
        name: str | None = None,
        cache_size=None,
    ):
        if max_abs_qte < 0:
            raise ValueError("max_abs_qte must be non-negative")
        if deciles < 2:
            raise ValueError("deciles must be >= 2")
        self._value = value_column
        self._assign = assignment_column
        self._max_abs = max_abs_qte
        self._deciles = int(deciles)
        super().__init__(
            ref, ref_value=max_abs_qte, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _rows(stat_ops.quantile_treatment_effect(
            ref.get_selection(engine),
            self._value,
            self._assign,
            deciles=self._deciles,
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Quantile treatment effect on {self._ref} is undefined: "
            f"{exc}. "
        ))

    def _compare(self, grid, _):
        offenders = _largest_qte(grid, self._max_abs)
        worst = [
            (r["decile"], r["q_a"], r["q_b"], r["qte"])
            for r in offenders[:5]
        ]
        return not offenders, (
            f"{len(offenders)} of {len(grid)} deciles of "
            f"'{self._value}' between the two '{self._assign}' variants "
            f"of {self._ref} move more than {self._max_abs} — worst "
            f"(decile, q_a, q_b, qte): {worst}; the treatment effect is "
            f"not distributionally bounded. {self._condition_string} "
        )


class GroupedQteMax(_Statistic):
    """Per-segment distribution-wide A/B gate: in EVERY segment of
    ``group_column``, no decile's quantile treatment effect may exceed
    ``max_abs_qte`` — the segment refinement of :class:`QteMax` (a
    treatment that fattens one segment's tail dilutes away in the
    pooled grid).  Extension, no reference counterpart.

    A segment missing one assignment variant carries NULL qte cells
    (visible sparsity — ``n_a``/``n_b`` are reported); by default they
    are tolerated, ``require_both_variants=True`` fails on them.

    Engine side is ``operators.stats.grouped_quantile_treatment_effect``
    (one conditional-agg histogram shuffle for all cells + the shared
    bucket-partitioned cumulative); only the bounded (segment, decile)
    grid crosses to the driver.
    """

    def __init__(
        self,
        ref: DataReference,
        value_column: str,
        assignment_column: str,
        group_column: str,
        max_abs_qte: float,
        deciles: int = 10,
        groups: list | None = None,
        max_groups: int = 100,
        require_both_variants: bool = False,
        name: str | None = None,
        cache_size=None,
    ):
        if max_abs_qte < 0:
            raise ValueError("max_abs_qte must be non-negative")
        if deciles < 2:
            raise ValueError("deciles must be >= 2")
        self._value = value_column
        self._assign = assignment_column
        self._group = group_column
        self._max_abs = max_abs_qte
        self._deciles = int(deciles)
        self._groups = groups
        self._max_groups = int(max_groups)
        self._require_both = bool(require_both_variants)
        super().__init__(
            ref, ref_value=max_abs_qte, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _rows(stat_ops.grouped_quantile_treatment_effect(
            ref.get_selection(engine),
            self._value,
            self._assign,
            self._group,
            groups=self._groups,
            deciles=self._deciles,
            max_groups=self._max_groups,
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Grouped quantile treatment effect on {self._ref} is "
            f"undefined: {exc}. "
        ))

    def _compare(self, grid, _):
        null_cells = [r for r in grid if r["qte"] is None]
        if self._require_both and null_cells:
            segs = sorted(
                {str(r[self._group]) for r in null_cells}
            )[:5]
            return False, (
                f"{len(null_cells)} of {len(grid)} (segment, decile) "
                f"cells of '{self._value}' in {self._ref} miss one "
                f"'{self._assign}' variant entirely (segments {segs}) "
                f"and require_both_variants is set. "
                f"{self._condition_string} "
            )
        offenders = _largest_qte(grid, self._max_abs)
        worst = [
            (r[self._group], r["decile"], r["q_a"], r["q_b"], r["qte"])
            for r in offenders[:5]
        ]
        return not offenders, (
            f"{len(offenders)} of {len(grid)} (segment, decile) cells "
            f"of '{self._value}' between the two '{self._assign}' "
            f"variants of {self._ref} move more than {self._max_abs} — "
            f"worst (segment, decile, q_a, q_b, qte): {worst}; the "
            f"treatment effect is not distributionally bounded in every "
            f"'{self._group}' segment. {self._condition_string} "
        )


class WinnowingContaminationMax(_TwoSample):
    """Train/eval contamination gate with a LOCAL-match guarantee: at
    most ``max_fraction`` of the eval-side documents may share any
    winnowing-selected fingerprint with the train-side corpus (any
    shared verbatim passage of at least ``w + k - 1`` words is
    guaranteed to produce a shared fingerprint — Schleimer/Wilkerson/
    Aiken winnowing, the plagiarism-detection complement of the n-gram
    set gate, at ~2/(w+1) index density).  ``min_overlap`` raises the
    per-document bar: a document counts as contaminated only when its
    shared-fingerprint fraction EXCEEDS it (default 0.0 — any shared
    fingerprint).  Extension, no reference counterpart.

    Engine side is ``pipeline.decontam.winnowing_contamination``: the
    train corpus reduces to its distinct 60-bit fingerprint set, one
    int64 semi-join, per-document counts — text never shuffles.
    """

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        id_column: str,
        text_column: str,
        id_column2: str,
        text_column2: str,
        max_fraction: float,
        k: int = 4,
        w: int = 5,
        min_overlap: float = 0.0,
        name: str | None = None,
        cache_size=None,
    ):
        if not 0.0 <= max_fraction <= 1.0:
            raise ValueError("max_fraction must be within [0, 1]")
        if not 0.0 <= min_overlap < 1.0:
            raise ValueError("min_overlap must be within [0, 1)")
        if k < 1 or w < 1:
            raise ValueError("k and w must be positive")
        self._id1 = id_column
        self._t1 = text_column
        self._id2 = id_column2
        self._t2 = text_column2
        self._max_fraction = float(max_fraction)
        self._k = int(k)
        self._w = int(w)
        self._min_overlap = float(min_overlap)
        super().__init__(
            ref, ref2=ref2, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, _):
        train, evals = (
            side.select(F.col(id_col).alias("_id"), F.col(text).alias("_txt"))
            for side, id_col, text in zip(
                self._sides(engine), (self._id1, self._id2),
                (self._t1, self._t2),
            )
        )
        out = decontam.winnowing_contamination(
            train, evals, "_id", "_txt", k=self._k, w=self._w
        )
        bad = F.col("contamination") > self._min_overlap
        # one aggregate: the counts and the 5 worst documents, most
        # contaminated first, then by id (the struct's field order)
        worst = F.struct(
            (-F.col("contamination")).alias("rank"), "eval_id", "n_fp",
            "n_hit", "contamination",
        )
        return _row(out.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(bad, 1).otherwise(0)).alias("bad"),
            F.slice(
                F.sort_array(F.collect_list(F.when(bad, worst))), 1, 5
            ).alias("worst"),
        ))

    def _compare(self, row, _):
        n, bad = int(row["n"] or 0), int(row["bad"] or 0)
        if n == 0:
            return Undefined(False, (
                f"Winnowing contamination between {self._ref} and "
                f"{self._ref2} is undefined: the eval side "
                "has no tokenized documents. "
            ))
        fraction = bad / n
        worst = [
            (r["eval_id"], r["n_fp"], r["n_hit"], r["contamination"])
            for r in row["worst"]
        ]
        return fraction <= self._max_fraction, (
            f"{bad} of {n} eval documents of {self._ref2} "
            f"share winnowing fingerprints (k={self._k}, w={self._w}, "
            f"min_overlap={self._min_overlap}) with the training "
            f"corpus {self._ref} — contaminated fraction "
            f"{round(fraction, 6)} > {self._max_fraction}; worst "
            f"(eval_id, n_fp, n_hit, contamination): {worst}. "
            f"{self._condition_string} "
        )


class AlwaysValidPMin(_Statistic):
    """Anytime-valid A/B gate: the always-valid p-value (mixture
    sequential probability ratio over the per-look cumulative counts)
    must stay at or above ``alpha`` at every look — monitor
    continuously, stop whenever, the type-I guarantee needs NO look
    schedule (the O'Brien-Fleming gate's remaining assumption).  The
    anytime sibling of :class:`ObfCrossingMax`.  Extension, no
    reference counterpart.

    CAVEAT: when ``phi`` is omitted, the mixture variance defaults to
    the first look's observed variance of the SAME data being
    monitored.  The mSPRT type-I guarantee assumes phi is chosen
    independently of the monitored stream, so the data-derived default
    mildly weakens the advertised anytime validity — acceptable for
    exploration, but production gates should pass an explicit ``phi``
    derived from pre-experiment data or a planned effect size.

    Engine side is ``operators.stats.sequential_look_counts`` (one
    grouped conditional-count scan) + ``avi_sequential_ztest`` (fixed
    expressions + a running-max window on the bounded look frame);
    only the bounded monitoring grid crosses to the driver.
    """

    def __init__(
        self,
        ref: DataReference,
        look_column: str,
        population_a,
        population_b,
        success,
        alpha: float = 0.05,
        phi: float | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        if not 0.0 < alpha < 1.0:
            raise ValueError("alpha must be within (0, 1)")
        if phi is not None and phi <= 0:
            raise ValueError("phi must be positive")
        self._look = look_column
        self._population_a = population_a
        self._population_b = population_b
        self._success = success
        self._alpha = alpha
        self._phi = phi
        super().__init__(
            ref, ref_value=alpha, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _rows(stat_ops.avi_sequential_ztest(
            _look_counts(self, ref, engine), phi=self._phi
        ))

    def _compare(self, grid, _):
        rejected = sorted(
            (
                r for r in grid
                if r["p_always_valid"] is not None
                and r["p_always_valid"] < self._alpha
            ),
            key=lambda r: r["look"],
        )
        if not rejected:
            return True, None
        first = rejected[0]
        return False, (
            f"The always-valid p-value of the '{self._look}'-monitored "
            f"success-rate difference on {self._ref} dropped to "
            f"{first['p_always_valid']} at look {first['look']!r} "
            f"(theta={first['theta']}, se={first['se']}), below "
            f"alpha={self._alpha} — a significant difference at an "
            f"anytime-valid guarantee. {self._condition_string} "
        )


class StratifiedDiffMax(_Statistic):
    """Post-stratification A/B gate: the stratum-weighted adjusted
    between-variant difference of an integer metric may not exceed
    ``max_abs_diff`` in absolute value — the categorical-covariate
    companion to :class:`CupedDiffMax`.  Extension, no reference
    counterpart."""

    def __init__(
        self,
        ref: DataReference,
        metric_column: str,
        assignment_column: str,
        stratum_column: str,
        max_abs_diff: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_abs_diff < 0:
            raise ValueError("max_abs_diff must be non-negative")
        self._metric = metric_column
        self._assign = assignment_column
        self._stratum = stratum_column
        self._max_abs_diff = max_abs_diff
        super().__init__(
            ref, ref_value=max_abs_diff, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.post_stratified_diff(
            ref.get_selection(engine), self._metric, self._assign,
            self._stratum,
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Stratified difference on {self._ref} is undefined: "
            f"{exc}. "
        ))

    def _compare(self, row, _):
        # Both assignment levels can exist while every row has a NULL
        # metric or stratum — the per-stratum frame is then empty and
        # the digest yields ZERO rows, not a NULL-diff row.
        if row is None:
            return Undefined(False, (
                f"Stratified difference on {self._ref} is undefined: no "
                f"non-null (metric, stratum) rows reach any stratum. "
            ))
        diff = row["diff_stratified"]
        if diff is None:
            return Undefined(False, (
                f"Stratified difference on {self._ref} is undefined: no "
                f"stratum contains both variants "
                f"(n_a={row['n_a']}, n_b={row['n_b']}, "
                f"n_strata={row['n_strata']}). "
            ))
        return abs(diff) <= self._max_abs_diff, (
            f"Post-stratified A/B difference of '{self._metric}' on "
            f"{self._ref} is {diff} (raw={row['diff_raw']}, "
            f"strata={row['n_strata']}, n={row['n_a']}/{row['n_b']}) — "
            f"|diff| exceeds the maximum {self._max_abs_diff}. "
            f"{self._condition_string} "
        )


class RatioZMax(_Statistic):
    """Ratio-metric A/B gate: |delta-method z| of the ratio-of-sums
    metric (numerator/denominator, e.g. clicks per impression) between
    the two levels of an assignment column may not exceed ``max_abs_z``
    (1.96 = 5% two-sided).  Extension, no reference counterpart.

    Engine side is operators.stats.ratio_metric_ztest (one
    conditional-aggregation scan over the caller's one-row-per-unit
    frame; DECIMAL-exact sufficient statistics).
    """

    def __init__(
        self,
        ref: DataReference,
        numerator_column: str,
        denominator_column: str,
        assignment_column: str,
        max_abs_z: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_abs_z < 0:
            raise ValueError("max_abs_z must be non-negative")
        self._num = numerator_column
        self._den = denominator_column
        self._assign = assignment_column
        self._max_abs_z = max_abs_z
        super().__init__(
            ref, ref_value=max_abs_z, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.ratio_metric_ztest(
            ref.get_selection(engine), self._num, self._den, self._assign
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Ratio z-test on {self._ref} is undefined: {exc}. "
        ))

    def _compare(self, row, _):
        if row is None or row["z"] is None:
            detail = (
                f"n_a={row['n_a']}, n_b={row['n_b']}" if row else "no rows"
            )
            return Undefined(False, (
                f"Ratio z-test on {self._ref} is undefined (variant "
                f"with n < 2, zero denominator, or zero variance; "
                f"{detail}). "
            ))
        return abs(row["z"]) <= self._max_abs_z, (
            f"Ratio metric '{self._num}/{self._den}' on {self._ref} "
            f"differs between variants: z = {row['z']} "
            f"(ratio_a={row['ratio_a']} on n={row['n_a']}, "
            f"ratio_b={row['ratio_b']} on n={row['n_b']}) — |z| exceeds "
            f"the maximum {self._max_abs_z}. {self._condition_string} "
        )


class SrmChi2Max(_Statistic):
    """Sample-ratio-mismatch gate: the Pearson chi-squared statistic of
    the observed assignment counts against the configured split may not
    exceed ``max_chi2`` (platforms typically alert far beyond the 5%
    critical value — SRM must be LOUD).  Extension, no reference
    counterpart.

    Engine side is operators.stats.sample_ratio_mismatch (one
    groupBy(assignment) count, then a bounded level-ordered fold).  An
    assignment level missing from a provided ``expected_shares`` map
    RAISES — an unknown variant is itself the alarm.
    """

    def __init__(
        self,
        ref: DataReference,
        assignment_column: str,
        max_chi2: float,
        expected_shares: dict | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        if max_chi2 < 0:
            raise ValueError("max_chi2 must be non-negative")
        self._assign = assignment_column
        self._shares = expected_shares
        self._max_chi2 = max_chi2
        super().__init__(
            ref, ref_value=max_chi2, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.sample_ratio_mismatch(
            ref.get_selection(engine), self._assign, self._shares
        ))

    def _compare(self, row, _):
        if row is None:
            return Undefined(True, "No assignment rows; SRM gate is vacuous.")
        return row["chi2"] is not None and row["chi2"] <= self._max_chi2, (
            f"Assignment counts of '{self._assign}' on {self._ref} "
            f"mismatch the expected split: chi2 = {row['chi2']} over "
            f"{row['n_levels']} levels (n={row['n']}) exceeds the "
            f"maximum {self._max_chi2} — the randomizer, logging, or "
            f"filtering is biased. {self._condition_string} "
        )


class PettittStability(_Statistic):
    """No-change-point gate on the daily ``sum(value)`` series: the
    Pettitt test's approximate p-value must stay ABOVE ``min_p_value``
    (rejecting means some day splits the series into two different
    regimes).  The rank-based companion to the CUSUM gate — robust to
    the heavy-tailed days that drag a mean-based statistic.  Extension,
    no reference counterpart.

    Engine: ``operators.timeseries.pettitt_changepoint`` — integer-
    exact U statistic via mid-ranks on the calendar-bounded daily
    frame.  A series with fewer than 2 days passes vacuously.
    """

    _columns = 2, ": (date_column, value_column)"

    def __init__(
        self,
        ref: DataReference,
        min_p_value: float = 0.05,
        name: str | None = None,
        cache_size=None,
    ):
        if not (0 <= min_p_value <= 1):
            raise ValueError("min_p_value must be within [0, 1].")
        self._min_p = min_p_value
        super().__init__(
            ref, ref_value=min_p_value, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(timeseries.pettitt_changepoint(
            _daily_cents(ref, engine), "__cents"
        ))

    def _compare(self, row, _):
        if row is None or row["p_value"] is None:
            return Undefined(
                True, "Fewer than two days; change-point gate is vacuous."
            )
        return row["p_value"] >= self._min_p, (
            f"Daily series of {self._ref} has a probable change point "
            f"at {row['change_day']}: Pettitt K = {row['k_stat']} over "
            f"{row['n_days']} days, p = {row['p_value']} < "
            f"{self._min_p}."
        )


class DispersionMax(_Statistic):
    """Overdispersion gate: the variance-to-mean ratio of an integer
    count column may not exceed ``max_dispersion`` in any group
    (Poisson arrivals give ~1; far above means burstiness — bots,
    retry storms, duplicated ingestion — and every Poisson-assuming
    alert threshold downstream is miscalibrated).  Extension, no
    reference counterpart.

    Engine: ``operators.stats.dispersion_index`` — one aggregation
    scan, DECIMAL-exact variance numerator.  Groups with undefined
    dispersion (n < 2 or zero mean) pass: there is nothing to test.
    """

    def __init__(
        self,
        ref: DataReference,
        max_dispersion: float,
        group_column: str | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        if max_dispersion < 0:
            raise ValueError("max_dispersion must be non-negative")
        self._group = group_column
        self._max_d = max_dispersion
        super().__init__(
            ref, ref_value=max_dispersion, name=name, cache_size=cache_size
        )

    def _check_arguments(self) -> None:
        cols = self._ref.get_columns()
        if not cols or len(cols) != (2 if self._group else 1):
            raise ValueError(
                "DispersionMax requires the count column"
                + (" plus the group column" if self._group else "")
                + " in its reference."
            )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        out = stat_ops.dispersion_index(
            ref.get_selection(engine), ref.get_columns(engine)[0],
            group_col=self._group,
        )
        return _rows(
            out.where(F.col("dispersion") > self._max_d)
            .orderBy(F.desc("dispersion"))
            .limit(5)
        )

    def _compare(self, offenders, _):
        if not offenders:
            return True, None
        worst = offenders[0]
        scope = (
            f"group {worst[self._group]!r} of " if self._group else ""
        )
        return False, (
            f"Count column '{self._ref.get_columns()[0]}' on {scope}"
            f"{self._ref} is overdispersed: variance/mean = "
            f"{worst['dispersion']} (n={worst['n']}, mean={worst['mean']}) "
            f"exceeds the maximum {self._max_d}"
            + (
                f"; {len(offenders)} group(s) violate"
                if self._group
                else ""
            )
            + f". {self._condition_string} "
        )


class DidZMax(_Statistic):
    """Difference-in-differences gate: |z| of the DiD estimate between
    two assignment levels of a one-row-per-unit pre/post frame may not
    exceed ``max_abs_z`` — the quasi-experimental A/B gate for
    NON-randomized rollouts (each group's pre-period absorbs level
    differences; parallel trends assumed).  Extension, no reference
    counterpart.

    Engine side is operators.stats.diff_in_diff (one conditional-
    aggregation scan, DECIMAL-exact delta sufficient statistics).
    """

    def __init__(
        self,
        ref: DataReference,
        pre_column: str,
        post_column: str,
        assignment_column: str,
        max_abs_z: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_abs_z < 0:
            raise ValueError("max_abs_z must be non-negative")
        self._pre = pre_column
        self._post = post_column
        self._assign = assignment_column
        self._max_abs_z = max_abs_z
        super().__init__(
            ref, ref_value=max_abs_z, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.diff_in_diff(
            ref.get_selection(engine), self._pre, self._post, self._assign
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Difference-in-differences on {self._ref} is undefined: "
            f"{exc}. "
        ))

    def _compare(self, row, _):
        if row is None or row["z"] is None:
            detail = (
                f"n_a={row['n_a']}, n_b={row['n_b']}" if row else "no rows"
            )
            return Undefined(False, (
                f"Difference-in-differences on {self._ref} is undefined "
                f"(variant with n < 2 or zero delta variance; {detail}). "
            ))
        return abs(row["z"]) <= self._max_abs_z, (
            f"Difference-in-differences of '{self._post}' vs "
            f"'{self._pre}' on {self._ref} is significant: DiD = "
            f"{row['did']} (z = {row['z']}, se = {row['se']}, "
            f"n = {row['n_a']}/{row['n_b']}) — |z| exceeds the maximum "
            f"{self._max_abs_z}. {self._condition_string} "
        )


class CentroidShiftMax(_Statistic):
    """Embedding domain-shift gate: no pair of groups (sources,
    snapshots) may have centroid distance — the linear-kernel MMD —
    above ``max_dist``.  A mean shift is what breaks cosine-threshold
    dedup and ANN recall first.  Extension, no reference counterpart.

    Engine side is pipeline.similarity.centroid_shift (one posexplode
    scan + one partial agg; pair fold on the bounded
    |groups|·dim frame).
    """

    def __init__(
        self,
        ref: DataReference,
        vector_column: str,
        group_column: str,
        max_dist: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_dist < 0:
            raise ValueError("max_dist must be non-negative")
        self._vec = vector_column
        self._group = group_column
        self._max_dist = max_dist
        super().__init__(
            ref, ref_value=max_dist, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _rows(
            similarity.centroid_shift(
                ref.get_selection(engine), self._vec, self._group
            )
            .where(F.col("dist") > self._max_dist)
            .orderBy(F.desc("dist"))
            .limit(5)
        )

    def _compare(self, offenders, _):
        if not offenders:
            return True, None
        worst = offenders[0]
        return False, (
            f"Embedding groups of '{self._group}' on {self._ref} have "
            f"shifted centroids: dist({worst['grp_a']}, "
            f"{worst['grp_b']}) = {worst['dist']} "
            f"(mmd2 = {worst['mmd2']}, n = {worst['n_a']}/{worst['n_b']}) "
            f"exceeds the maximum {self._max_dist}; "
            f"{len(offenders)} pair(s) violate. {self._condition_string} "
        )


class JoinFanoutMax(_TwoSample):
    """Pre-join cardinality gate between two sources: the exact inner-
    join output Σ n₁(k)·n₂(k) may not exceed ``max_output_rows``,
    and/or no single key's fanout product may exceed ``max_fanout`` —
    the "will this join blow up?" gate run BEFORE paying for the join.
    Extension, no reference counterpart.

    Engine side is operators.skew.join_explosion_audit (per-key count
    digests, DECIMAL-exact products, TakeOrdered offender sample).
    """

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        key_column1: str,
        key_column2: str,
        max_output_rows: int | None = None,
        max_fanout: int | None = None,
        name: str | None = None,
        cache_size=None,
    ):
        if max_output_rows is None and max_fanout is None:
            raise ValueError(
                "At least one of 'max_output_rows' and 'max_fanout' "
                "must be given."
            )
        for label, bound in (
            ("max_output_rows", max_output_rows),
            ("max_fanout", max_fanout),
        ):
            if bound is not None and bound < 0:
                raise ValueError(f"{label} must be non-negative")
        self._key1 = key_column1
        self._key2 = key_column2
        self._max_rows = max_output_rows
        self._max_fanout = max_fanout
        # the bounds live on self: base forbids ref2 + ref_value together
        super().__init__(
            ref, ref2=ref2, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, _):
        left, right = self._sides(engine)
        return _row(skew.join_explosion_audit(
            left, self._key1, right, self._key2
        ))

    def _compare(self, row, _):
        if row["n_keys"] == 0:
            return Undefined(True, "No matching keys; join is empty.")
        problems = []
        output_rows = int(row["output_rows"])
        max_fanout = int(row["max_fanout"])
        if self._max_rows is not None and output_rows > self._max_rows:
            problems.append(
                f"the join would emit {output_rows} rows > the allowed "
                f"{self._max_rows}"
            )
        if self._max_fanout is not None and max_fanout > self._max_fanout:
            problems.append(
                f"the worst key multiplies {max_fanout}x > the allowed "
                f"{self._max_fanout}"
            )
        return not problems, (
            f"Joining {self._ref} to {self._ref2} on "
            f"('{self._key1}', '{self._key2}') explodes: "
            + " and ".join(problems)
            + f" ({row['n_fanout_keys']} many-to-many key(s) of "
            f"{row['n_keys']} matched; worst offenders: "
            f"{row['top_keys']}). "
        )


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the regularized incomplete beta
    (Lentz's method, Numerical Recipes §6.4) — powers the scipy-free
    Student-t tail below."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, 200):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 3e-16:
            break
    return h


def _reg_inc_beta(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b) via the continued
    fraction, using the symmetry split at the convergence boundary."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log(1.0 - x)
    )
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def _student_t_sf_two_sided(t: float, df: float) -> float:
    """Two-sided Student-t tail P(|T_df| >= |t|) =
    I_{df/(df+t²)}(df/2, 1/2) — driver-side only (failure messages);
    the engine-side digest carries (t, df) so the oracle never needs a
    special function."""
    if df <= 0:
        return float("nan")
    x = df / (df + t * t)
    return _reg_inc_beta(df / 2.0, 0.5, x)


class WelchTMax(_Statistic):
    """Mean A/B gate with unequal variances: |Welch t| between the two
    levels of an assignment column may not exceed ``max_abs_t`` —
    "the mean of this integer metric must not differ significantly
    between the variants", valid even when the treatment changed the
    metric's SPREAD (where the pooled-variance test is
    anti-conservative).  Extension, no reference counterpart.

    Engine side is operators.stats.welch_ttest (one conditional-
    aggregation scan over the caller's unit frame, DECIMAL-exact
    sufficient statistics).  The failure message carries the
    Welch-Satterthwaite df and a scipy-free two-sided p-value from the
    regularized incomplete beta.
    """

    def __init__(
        self,
        ref: DataReference,
        metric_column: str,
        assignment_column: str,
        max_abs_t: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_abs_t < 0:
            raise ValueError("max_abs_t must be non-negative")
        self._metric = metric_column
        self._assign = assignment_column
        self._max_abs_t = max_abs_t
        super().__init__(
            ref, ref_value=max_abs_t, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.welch_ttest(
            ref.get_selection(engine), self._metric, self._assign
        ))

    def _undefined(self, exc):
        return Undefined(False, (
            f"Welch t between variants of {self._ref} is undefined: "
            f"{exc}. "
        ))

    def _compare(self, row, _):
        if row["t"] is None:
            # Same convention as WelchTBetween: zero combined variance
            # with both variants testable (n >= 2) and EQUAL means is a
            # constant metric — no shift, a pass.  Different constant
            # means are a certain shift; an n < 2 side is untestable.
            if row["n_a"] >= 2 and row["n_b"] >= 2:
                return row["mean_a"] == row["mean_b"], (
                    f"Certain mean shift between variants of {self._ref}: "
                    f"both variants are constant (zero variance) with "
                    f"different means (mean_a={row['mean_a']} on "
                    f"n={row['n_a']}, mean_b={row['mean_b']} on "
                    f"n={row['n_b']}). "
                )
            return Undefined(False, (
                f"Welch t between variants of {self._ref} is undefined "
                f"(a variant below 2 units; "
                f"n_a={row['n_a']}, n_b={row['n_b']}). "
            ))
        if abs(row["t"]) <= self._max_abs_t:
            return True, None
        p = round(_student_t_sf_two_sided(row["t"], row["df"]), 6)
        return False, (
            f"Welch t between variants of {self._ref} is {row['t']} "
            f"(mean_a={row['mean_a']} on n={row['n_a']}, "
            f"mean_b={row['mean_b']} on n={row['n_b']}, "
            f"df={row['df']}, p={p}) — |t| exceeds the maximum "
            f"{self._max_abs_t}. {self._condition_string} "
        )


class BrownForsytheFMax(_Statistic):
    """Variance-homogeneity gate: the Brown-Forsythe F statistic
    (Levene with the median center) of an integer metric across the
    levels of a group column may not exceed ``max_f`` — "no segment's
    SPREAD may have drifted apart from the others", the failure mode
    invisible to every mean-based gate.  Extension, no reference
    counterpart.

    Engine side is operators.stats.brown_forsythe (exact per-group
    interpolated medians, DECIMAL-exact 2x-scaled deviations, bounded
    group-ordered fold).
    """

    def __init__(
        self,
        ref: DataReference,
        value_column: str,
        group_column: str,
        max_f: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_f < 0:
            raise ValueError("max_f must be non-negative")
        self._value = value_column
        self._group = group_column
        self._max_f = max_f
        super().__init__(
            ref, ref_value=max_f, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.brown_forsythe(
            ref.get_selection(engine), self._value, self._group
        ))

    def _compare(self, row, _):
        if row is None or row["f_stat"] is None:
            return Undefined(True, (
                "Brown-Forsythe F is undefined (fewer than two groups "
                "or zero within-group deviation); the gate is vacuous."
            ))
        return row["f_stat"] <= self._max_f, (
            f"Brown-Forsythe F of {self._value} across {self._group} "
            f"levels of {self._ref} is {row['f_stat']} "
            f"(df1={row['df1']}, df2={row['df2']}, n={row['n']}) — "
            f"group spreads differ beyond the maximum {self._max_f}. "
            f"{self._condition_string} "
        )


class CMHChi2Max(_Statistic):
    """Stratified association gate: the Cochran-Mantel-Haenszel χ² of
    exposure/outcome association across strata may not exceed
    ``max_chi2`` — "conversion must not associate with the variant
    AFTER controlling for the stratum", the Simpson's-paradox-proof
    counterpart of the marginal two-proportion gate.  Extension, no
    reference counterpart.

    Engine side is operators.stats.cmh_test (exact per-stratum 2x2
    counts from one conditional-aggregation scan, bounded
    stratum-ordered fold).  The failure message carries the
    Mantel-Haenszel pooled odds ratio.
    """

    def __init__(
        self,
        ref: DataReference,
        stratum_column: str,
        exposure,
        outcome,
        max_chi2: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_chi2 < 0:
            raise ValueError("max_chi2 must be non-negative")
        self._stratum = stratum_column
        self._exposure = exposure
        self._outcome = outcome
        self._max_chi2 = max_chi2
        super().__init__(
            ref, ref_value=max_chi2, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.cmh_test(
            ref.get_selection(engine),
            self._stratum,
            self._exposure.to_column(),
            self._outcome.to_column(),
        ))

    def _compare(self, row, _):
        if row is None or row["chi2"] is None:
            return Undefined(True, (
                "CMH χ² is undefined (no stratum carries variance); "
                "the gate is vacuous."
            ))
        return row["chi2"] <= self._max_chi2, (
            f"CMH χ² of exposure/outcome association across "
            f"{row['n_strata']} {self._stratum} strata of {self._ref} "
            f"is {row['chi2']} (pooled odds ratio {row['or_mh']}, "
            f"n={row['n']}) — exceeds the maximum {self._max_chi2}. "
            f"{self._condition_string} "
        )


class BHSignificantMax(_Statistic):
    """Multiple-testing segment gate: after Benjamini-Hochberg FDR
    adjustment across per-group two-proportion z-tests, at most
    ``max_significant`` groups may stay significant at
    ``q_threshold`` — the segment-scan alarm that does NOT fire ~5% of
    all segments by construction.  Extension, no reference
    counterpart.

    Engine side is operators.stats.grouped_ztest_bh (one conditional-
    aggregation shuffle, bounded-frame BH windows, in-plan erfc
    polynomial p-values).
    """

    def __init__(
        self,
        ref: DataReference,
        group_column: str,
        population_a,
        population_b,
        success,
        q_threshold: float = 0.05,
        max_significant: int = 0,
        name: str | None = None,
        cache_size=None,
    ):
        if not (0 < q_threshold <= 1):
            raise ValueError("q_threshold must be within (0, 1].")
        if max_significant < 0:
            raise ValueError("max_significant must be non-negative")
        self._group = group_column
        self._population_a = population_a
        self._population_b = population_b
        self._success = success
        self._q = q_threshold
        self._max_sig = max_significant
        super().__init__(
            ref, ref_value=max_significant, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        out = stat_ops.grouped_ztest_bh(
            ref.get_selection(engine),
            self._group,
            self._population_a.to_column(),
            self._population_b.to_column(),
            self._success.to_column(),
            rounded=False,
        )
        # decide on the UNROUNDED q (6-dp rounding can flip borderline
        # q ≈ threshold cases) and report the TRUE count — one action
        # over the bounded |groups|-row digest (ADVICE r9)
        return _rows(out.where(F.col("q_value") <= self._q))

    def _compare(self, significant, _):
        if len(significant) <= self._max_sig:
            return True, None
        worst = ", ".join(
            f"{r['group']!r} (z={round(r['z'], 6)}, "
            f"q={round(r['q_value'], 6)})"
            for r in _lowest_q(significant)
        )
        return False, (
            f"{len(significant)} {self._group} segment(s) of {self._ref} "
            f"stay significant at BH FDR q <= {self._q} (allowed: "
            f"{self._max_sig}); worst: {worst}. "
            f"{self._condition_string} "
        )


class CumulativeHazardMax(_Statistic):
    """Churn-rate gate: the Nelson-Aalen cumulative hazard of the
    terminal event, evaluated at the LONGEST observed duration, may not
    exceed ``max_hazard`` — "accumulated churn pressure over the whole
    observation window stays below this".  Extension, no reference
    counterpart; the survival-fraction sibling rides kaplan_meier.

    Engine side is operators.timeseries.nelson_aalen (one shuffle to
    the distinct-duration histogram, ordered windows over that bounded
    frame only).
    """

    def __init__(
        self,
        ref: DataReference,
        duration_column: str,
        event_column: str,
        max_hazard: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_hazard < 0:
            raise ValueError("max_hazard must be non-negative")
        self._duration = duration_column
        self._event = event_column
        self._max_hazard = max_hazard
        super().__init__(
            ref, ref_value=max_hazard, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(
            timeseries.nelson_aalen(
                ref.get_selection(engine), self._duration, self._event
            )
            .orderBy(F.desc("duration"))
            .limit(1)
        )

    def _compare(self, row, _):
        if row is None:
            return Undefined(
                True, "No durations observed; the hazard gate is vacuous."
            )
        return row["cumhaz"] <= self._max_hazard, (
            f"Nelson-Aalen cumulative hazard of {self._ref} reaches "
            f"{row['cumhaz']} at duration {row['duration']} "
            f"(variance {row['var_cumhaz']}) — exceeds the maximum "
            f"{self._max_hazard}. {self._condition_string} "
        )


class DurbinWatsonWithin(_Statistic):
    """Residual-whiteness gate: the Durbin-Watson statistic of the
    daily ``sum(value)`` series' OLS fit must stay within
    ``[min_dw, max_dw]`` (2 = white residuals; ≪2 = positive runs the
    trend line systematically misses — drift, seasonality, regime
    shifts).  Extension, no reference counterpart; the trend-magnitude
    sibling is the OLS-slope gate.

    Engine side is operators.timeseries.durbin_watson over the
    calendar-bounded daily frame (DECIMAL-exact OLS sufficient
    statistics, index-ordered residual folds).
    """

    _columns = 2, ": (date_column, value_column)"

    def __init__(
        self,
        ref: DataReference,
        min_dw: float = 1.5,
        max_dw: float = 2.5,
        name: str | None = None,
        cache_size=None,
    ):
        if not (0 <= min_dw <= max_dw <= 4):
            raise ValueError(
                "need 0 <= min_dw <= max_dw <= 4 (DW lives in [0, 4])"
            )
        self._min_dw = min_dw
        self._max_dw = max_dw
        super().__init__(
            ref,
            ref_value=(min_dw, max_dw),
            name=name,
            cache_size=cache_size,
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        daily = _daily_cents(ref, engine)
        day0 = daily.agg(F.min("day").alias("__d0"))
        idx = daily.join(F.broadcast(day0)).select(
            F.datediff(F.col("day"), F.col("__d0")).alias("__t"),
            "__cents",
        )
        return _row(timeseries.durbin_watson(idx, "__t", "__cents"))

    def _compare(self, row, _):
        if row is None or row["dw"] is None:
            return Undefined(True, (
                "Durbin-Watson is undefined (fewer than 3 days or a "
                "degenerate fit); the gate is vacuous."
            ))
        return self._min_dw <= row["dw"] <= self._max_dw, (
            f"Durbin-Watson of the daily {self._ref.get_columns()[1]} "
            f"series of {self._ref} is {row['dw']} over {row['n']} days "
            f"(trend slope {row['slope']}) — outside "
            f"[{self._min_dw}, {self._max_dw}]. "
            f"{self._condition_string} "
        )


class KruskalWallisHMax(_Statistic):
    """k-group rank-location gate: the tie-corrected Kruskal-Wallis H
    across the levels of a group column may not exceed ``max_h`` — "no
    segment's distribution may sit systematically higher than the
    others", the k-group extension of the Mann-Whitney gate and the
    rank-based (outlier-robust) counterpart of BrownForsytheFMax.
    Extension, no reference counterpart.

    Engine side is operators.stats.kruskal_wallis (tie-block rank sums
    over the shared bucket-partitioned cumulative, DECIMAL-exact until
    the bounded k-row fold).
    """

    def __init__(
        self,
        ref: DataReference,
        value_column: str,
        group_column: str,
        max_h: float,
        name: str | None = None,
        cache_size=None,
    ):
        if max_h < 0:
            raise ValueError("max_h must be non-negative")
        self._value = value_column
        self._group = group_column
        self._max_h = max_h
        super().__init__(
            ref, ref_value=max_h, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.kruskal_wallis(
            ref.get_selection(engine), self._value, self._group
        ))

    def _undefined(self, exc):
        # empty / all-null selection: the rank cumulative has no values
        # at all — same vacuous verdict as the NULL-h path (MannWhitney
        # precedent).
        return Undefined(True, (
            "Kruskal-Wallis H is undefined (no non-null values); "
            "the gate is vacuous."
        ))

    def _compare(self, row, _):
        if row is None or row["h_adj"] is None:
            return Undefined(True, (
                "Kruskal-Wallis H is undefined (fewer than two groups "
                "or every value tied); the gate is vacuous."
            ))
        return row["h_adj"] <= self._max_h, (
            f"Kruskal-Wallis H of {self._value} across "
            f"{row['n_groups']} {self._group} levels of {self._ref} is "
            f"{row['h_adj']} (df={row['df']}, n={row['n']}) — some "
            f"segment's distribution sits systematically apart, beyond "
            f"the maximum {self._max_h}. {self._condition_string} "
        )


class WelchTBetween(_TwoSample):
    """Welch unequal-variance mean comparison between an integer metric
    column of each data source: fails when the two-sided Student-t
    p-value (Welch-Satterthwaite df, scipy-free incomplete beta) drops
    below ``significance_level`` — the uncertainty-aware Between mean
    gate that, unlike a fixed mean-delta bound, scales its tolerance
    with each sample's own variability, and unlike the pooled test
    stays calibrated when the two sources' spreads differ (exactly the
    situation a drifted snapshot creates).  Extension, no reference
    counterpart.

    Engine side: the two selections are tagged and unioned, then ONE
    conditional-aggregation scan (operators.stats.welch_ttest) — a
    1-row digest out.
    """

    _columns = 1

    def __init__(
        self,
        ref: DataReference,
        ref2: DataReference,
        significance_level: float = 0.05,
        name: str | None = None,
        cache_size=None,
    ):
        if not 0 < significance_level < 1:
            raise ValueError("significance_level must be in (0, 1)")
        self._significance_level = significance_level
        super().__init__(ref, ref2=ref2, name=name, cache_size=cache_size)

    def _retrieve(self, engine: SparkSession, _):
        return _row(stat_ops.welch_ttest(
            self._tagged_union(engine), "__v", "__g"
        ))

    def _undefined(self, exc):
        # a side with no rows at all: the level probe sees < 2 levels
        return Undefined(False, (
            f"Welch test between {self._ref} and "
            f"{self._target_prefix} is undefined: one side has no "
            "non-null rows. "
        ))

    def _compare(self, row, _):
        if row["t"] is None:
            # n < 2 on a side or zero combined variance. Zero variance
            # alone does not mean agreement: two constant columns with
            # DIFFERENT means are a certain mean shift — only identical
            # constant columns pass. A 1-row side is untestable.
            if row["n_a"] >= 2 and row["n_b"] >= 2:
                return row["mean_a"] == row["mean_b"], (
                    f"Certain mean shift between {self._ref} and "
                    f"{self._target_prefix}: both sides are constant "
                    f"(zero variance) with different means "
                    f"(mean_a={row['mean_a']} on n={row['n_a']}, "
                    f"mean_b={row['mean_b']} on n={row['n_b']}). "
                )
            return Undefined(False, (
                f"Welch test between {self._ref} and "
                f"{self._target_prefix} is undefined "
                f"(n_a={row['n_a']}, n_b={row['n_b']}). "
            ))
        p = _student_t_sf_two_sided(row["t"], row["df"])
        return p >= self._significance_level, (
            f"Mean shift between {self._ref} and {self._target_prefix}: "
            f"Welch t = {row['t']} (mean_a={row['mean_a']} on "
            f"n={row['n_a']}, mean_b={row['mean_b']} on n={row['n_b']}, "
            f"df={row['df']}), two-sided p = {round(p, 6)} < "
            f"{self._significance_level}. "
        )


class RMSTMin(_Statistic):
    """Survival-value gate: the restricted mean survival time at
    ``horizon`` (average event-free time per subject within the first
    ``horizon`` units — the area under the KM curve) must be at least
    ``min_rmst`` — "users must get at least this much lifetime out of
    their first N days".  Robust where a hazard ratio misleads
    (non-proportional hazards).  Extension, no reference counterpart.

    Engine: ``operators.timeseries.rmst`` over the persisted bounded
    distinct-duration histogram.
    """

    def __init__(
        self,
        ref: DataReference,
        duration_column: str,
        event_column: str,
        horizon: float,
        min_rmst: float,
        name: str | None = None,
        cache_size=None,
    ):
        if horizon <= 0:
            raise ValueError("horizon must be positive")
        if not (0 <= min_rmst <= horizon):
            raise ValueError("min_rmst must be within [0, horizon]")
        self._duration = duration_column
        self._event = event_column
        self._horizon = horizon
        self._min_rmst = min_rmst
        super().__init__(
            ref, ref_value=min_rmst, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(timeseries.rmst(
            ref.get_selection(engine), self._duration, self._event,
            self._horizon,
        ))

    def _compare(self, row, _):
        if row is None:
            return Undefined(
                True, "No durations observed; the RMST gate is vacuous."
            )
        return row["rmst"] >= self._min_rmst, (
            f"Restricted mean survival time of {self._ref} at horizon "
            f"{self._horizon} is {row['rmst']} (over "
            f"{row['n_durations']} distinct durations) — below the "
            f"minimum {self._min_rmst}. {self._condition_string} "
        )


def _fisher_exact_two_sided(a: int, b: int, c: int, d: int) -> float:
    """Two-sided Fisher exact p for the 2x2 table [[a, b], [c, d]]:
    the sum of hypergeometric probabilities of all tables (same
    margins) no more likely than the observed one — pure Python over
    log-binomials, exact at the small counts where the pooled-z
    approximation breaks (driver-side only; the engine ships exact
    integer cells)."""
    n1, n2 = a + b, c + d
    m1 = a + c
    n = n1 + n2
    if min(n1, n2, m1, n - m1) < 0 or n == 0:
        return float("nan")

    def log_comb(nn: int, kk: int) -> float:
        return (
            math.lgamma(nn + 1)
            - math.lgamma(kk + 1)
            - math.lgamma(nn - kk + 1)
        )

    denom = log_comb(n, m1)

    def log_p(x: int) -> float:
        return log_comb(n1, x) + log_comb(n2, m1 - x) - denom

    lo = max(0, m1 - n2)
    hi = min(n1, m1)
    p_obs = log_p(a)
    total = 0.0
    for x in range(lo, hi + 1):
        lp = log_p(x)
        if lp <= p_obs + 1e-12:  # tables no more likely than observed
            total += math.exp(lp)
    return min(total, 1.0)


class FisherExactMin(_Statistic):
    """Small-sample 2x2 association gate: the two-sided Fisher exact
    p-value of the ``success`` rate between two row-filter populations
    must stay at or above ``min_p_value`` — the EXACT counterpart of
    TwoProportionZMax for the low-count slices (rare segments, canary
    cohorts) where the pooled-z normal approximation is unreliable.
    Extension, no reference counterpart.

    Engine side is the same one conditional-aggregation scan
    (operators.stats.two_proportion_ztest digest — exact integer
    cells); the hypergeometric tail is evaluated driver-side in exact
    log-binomials.
    """

    def __init__(
        self,
        ref: DataReference,
        population_a,
        population_b,
        success,
        min_p_value: float = 0.05,
        name: str | None = None,
        cache_size=None,
    ):
        if not (0 <= min_p_value <= 1):
            raise ValueError("min_p_value must be within [0, 1]")
        self._population_a = population_a
        self._population_b = population_b
        self._success = success
        self._min_p = min_p_value
        super().__init__(
            ref, ref_value=min_p_value, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(stat_ops.two_proportion_ztest(
            ref.get_selection(engine),
            self._population_a.to_column(),
            self._population_b.to_column(),
            self._success.to_column(),
        ))

    def _compare(self, row, _):
        n_a, s_a = row["n_a"], row["successes_a"]
        n_b, s_b = row["n_b"], row["successes_b"]
        if n_a == 0 or n_b == 0:
            return Undefined(False, (
                f"Fisher exact test between populations of {self._ref} "
                f"is undefined (an empty side; n_a={n_a}, n_b={n_b}). "
            ))
        p = _fisher_exact_two_sided(s_a, n_a - s_a, s_b, n_b - s_b)
        return p >= self._min_p, (
            f"Success rates differ between populations of {self._ref}: "
            f"Fisher exact two-sided p = {round(p, 6)} < {self._min_p} "
            f"({s_a}/{n_a} vs {s_b}/{n_b}). {self._condition_string} "
        )


class ForecastBacktestMax(_Statistic):
    """Predictability gate: the seasonal-naive backtest MASE of the
    daily ``sum(value)`` series may not exceed ``max_mase`` — the last
    ``horizon`` days held out and each predicted FROM TRAIN ONLY (the
    last in-sample period repeats across the horizon — a true
    horizon-length holdout, no leakage when horizon > period), MAE
    scaled by the in-sample seasonal-naive MAE (Hyndman & Koehler
    2006).  MASE > 1 = even the trivial weekly-repeat model stopped
    working: regime change, broken ingestion, calendar anomaly.
    Extension, no reference counterpart.

    Engine: ``operators.timeseries.forecast_backtest`` — bounded
    calendar-frame equi-joins; DECIMAL-exact absolute errors.
    """

    _columns = 2, ": (date_column, value_column)"

    def __init__(
        self,
        ref: DataReference,
        max_mase: float = 1.0,
        horizon: int = 14,
        period: int = 7,
        name: str | None = None,
        cache_size=None,
    ):
        if max_mase <= 0:
            raise ValueError("max_mase must be positive")
        self._max_mase = max_mase
        self._horizon = horizon
        self._period = period
        super().__init__(
            ref, ref_value=max_mase, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        return _row(timeseries.forecast_backtest(
            _daily_cents(ref, engine),
            "day",
            "__cents",
            horizon=self._horizon,
            period=self._period,
        ))

    def _compare(self, row, _):
        if row is None or row["mase"] is None:
            return Undefined(True, (
                "Backtest MASE is undefined (not enough aligned days "
                "in the holdout or a flat in-sample series); the "
                "predictability gate is vacuous."
            ))
        return row["mase"] <= self._max_mase, (
            f"Seasonal-naive backtest of the daily "
            f"{self._ref.get_columns()[1]} series of {self._ref}: MASE = "
            f"{row['mase']} over the last {self._horizon} days (MAE "
            f"{row['mae']} cents vs in-sample naive {row['naive_mae']}; "
            f"MAPE {row['mape_pct']}%) — exceeds the maximum "
            f"{self._max_mase}. {self._condition_string} "
        )


class MeanBHSignificantMax(_Statistic):
    """Multiple-testing segment gate on MEANS: after Benjamini-Hochberg
    FDR adjustment across per-group Welch comparisons of an integer
    metric, at most ``max_significant`` groups may stay significant at
    ``q_threshold`` — the mean-metric sibling of BHSignificantMax,
    calibrated when a treatment changes a segment's spread.  Extension,
    no reference counterpart.

    Engine side is operators.stats.grouped_welch_bh (one conditional-
    aggregation shuffle of DECIMAL-exact sufficient statistics,
    BH windows over the bounded digest).
    """

    def __init__(
        self,
        ref: DataReference,
        group_column: str,
        metric_column: str,
        population_a,
        population_b,
        q_threshold: float = 0.05,
        max_significant: int = 0,
        name: str | None = None,
        cache_size=None,
    ):
        if not (0 < q_threshold <= 1):
            raise ValueError("q_threshold must be within (0, 1].")
        if max_significant < 0:
            raise ValueError("max_significant must be non-negative")
        self._group = group_column
        self._metric = metric_column
        self._population_a = population_a
        self._population_b = population_b
        self._q = q_threshold
        self._max_sig = max_significant
        super().__init__(
            ref, ref_value=max_significant, name=name, cache_size=cache_size
        )

    def _retrieve(self, engine: SparkSession, ref: DataReference):
        out = stat_ops.grouped_welch_bh(
            ref.get_selection(engine),
            self._group,
            self._metric,
            self._population_a.to_column(),
            self._population_b.to_column(),
            rounded=False,
        )
        # unrounded-q decision + true count, as in BHSignificantMax
        return _rows(out.where(F.col("q_value") <= self._q))

    def _compare(self, significant, _):
        if len(significant) <= self._max_sig:
            return True, None
        worst = ", ".join(
            f"{r['group']!r} (diff={round(r['diff'], 6)}, "
            f"t={round(r['t'], 6)}, q={round(r['q_value'], 6)})"
            for r in _lowest_q(significant)
        )
        return False, (
            f"{len(significant)} {self._group} segment(s) of {self._ref} "
            f"have a significant {self._metric} mean shift at BH FDR q <= "
            f"{self._q} (allowed: {self._max_sig}); worst: {worst}. "
            f"{self._condition_string} "
        )
