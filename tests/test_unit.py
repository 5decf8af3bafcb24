"""Unit tests (no Spark): condition algebra, output processors, sorting.

Mirrors the reference's unit layer (SURVEY §5.1).
"""

import pytest
from pyspark.sql import functions as F

from datajudge_spark import Condition
from datajudge_spark.condition import merge_conditions
from datajudge_spark.utils import (
    filternull_element,
    filternull_element_or_tuple_all,
    filternull_element_or_tuple_any,
    filternull_never,
    format_difference,
    output_processor_limit,
    output_processor_sort,
    sort_tuple_none_aware,
)


class TestCondition:
    def test_atomic(self):
        cond = Condition(raw_string="col1 > 0")
        assert str(cond) == "col1 > 0"

    def test_composite_and(self):
        cond = Condition(
            conditions=[
                Condition(raw_string="col1 > 0"),
                Condition(raw_string="col2 < 5"),
            ],
            reduction_operator="and",
        )
        assert str(cond) == "(col1 > 0) and (col2 < 5)"

    def test_nested(self):
        inner = Condition(
            conditions=[
                Condition(raw_string="a = 1"),
                Condition(raw_string="b = 2"),
            ],
            reduction_operator="or",
        )
        outer = Condition(
            conditions=[inner, Condition(raw_string="c = 3")],
            reduction_operator="and",
        )
        assert str(outer) == "((a = 1) or (b = 2)) and (c = 3)"

    def test_both_raises(self):
        with pytest.raises(ValueError):
            Condition(raw_string="a", conditions=[Condition(raw_string="b")])

    def test_neither_raises(self):
        with pytest.raises(ValueError):
            Condition()

    def test_bad_operator_raises(self):
        with pytest.raises(ValueError):
            Condition(
                conditions=[Condition(raw_string="a"), Condition(raw_string="b")],
                reduction_operator="xor",
            )

    def test_merge(self):
        c1 = Condition(raw_string="a > 0")
        c2 = Condition(raw_string="b > 0")
        assert merge_conditions(c1, None) is c1
        assert merge_conditions(None, c2) is c2
        assert merge_conditions(None, None) is None
        merged = merge_conditions(c1, c2)
        assert str(merged) == "(a > 0) and (b > 0)"


class TestOutputProcessors:
    def test_limit_no_truncation(self):
        col, counts = output_processor_limit([1, 2, 3])
        assert col == [1, 2, 3]
        assert counts is None

    def test_limit_truncation(self):
        col, _ = output_processor_limit(list(range(150)))
        assert len(col) == 101
        assert "SHORTENED OUTPUT" in col[-1]

    def test_sort_scalars(self):
        col, counts = output_processor_sort([3, 1, 2])
        assert col == [1, 2, 3]
        assert counts is None

    def test_sort_by_counts_desc(self):
        col, counts = output_processor_sort(["a", "b", "c"], [1, 3, 2])
        assert col == ["b", "c", "a"]
        assert counts == [3, 2, 1]

    def test_sort_none_aware(self):
        result = sort_tuple_none_aware([(2, "x"), (None, "y"), (1, "z")])
        assert result == [(None, "y"), (1, "z"), (2, "x")]


class TestFilterNull:
    def test_variants(self):
        values = [1, None, (None, None), (1, None), (1, 2)]
        assert filternull_never(values) == values
        assert filternull_element(values) == [1, (None, None), (1, None), (1, 2)]
        assert filternull_element_or_tuple_all(values) == [1, (1, None), (1, 2)]
        assert filternull_element_or_tuple_any(values) == [1, (1, 2)]


class TestFormatDifference:
    def test_identical_prefix(self):
        s1, s2 = format_difference(123, 123.0)
        assert s1 == "123"
        assert s2 == "123[numDiff].0[/numDiff]"

    def test_big_numbers(self):
        s1, s2 = format_difference(122593859432, 122593859432347)
        assert "[numDiff]" in s2


class TestRetrievalCaching:
    """Per-constraint caching of retrieved values (reference
    base.py:121-172, verified there by QueryCollector query counting —
    here by counting DataSource.get_df invocations)."""

    @staticmethod
    def _make(spark, cache_size):
        from pyspark.sql import Row

        from datajudge_spark import WithinRequirement
        from datajudge_spark.sources import ExpressionDataSource

        df = spark.createDataFrame([Row(x=1), Row(x=2), Row(x=3)])

        class CountingSource(ExpressionDataSource):
            def __init__(self):
                super().__init__(df, "counted")
                self.calls = 0

            def get_df(self, spark):
                self.calls += 1
                return super().get_df(spark)

        src = CountingSource()
        req = WithinRequirement(src)
        req.add_n_rows_equality_constraint(3, cache_size=cache_size)
        return src, req[0]

    def test_cached_by_default(self, spark):
        src, constraint = self._make(spark, cache_size=None)
        assert constraint.test(spark).outcome
        assert constraint.test(spark).outcome
        assert src.calls == 1

    def test_cache_disabled_with_zero(self, spark):
        src, constraint = self._make(spark, cache_size=0)
        assert constraint.test(spark).outcome
        assert constraint.test(spark).outcome
        assert src.calls == 2


class TestExactPercentileBands:
    def test_matches_repeated_single_calls(self, spark):
        from datajudge_spark.operators.scalars import (
            exact_percentile_df,
            exact_percentiles_df,
        )

        vals = [((i * 37) % 101 + (i % 3) * 0.5,) for i in range(500)]
        df = spark.createDataFrame(vals, "v double")
        bands = exact_percentiles_df(
            df, "v", [10.0, 50.0, 90.0, 99.0]
        ).first()
        for pct, col in [(10.0, "p10"), (50.0, "p50"), (90.0, "p90"),
                         (99.0, "p99")]:
            single = exact_percentile_df(df, "v", pct).first()["value"]
            assert bands[col] == single, (pct, bands[col], single)

    def test_constant_column(self, spark):
        from datajudge_spark.operators.scalars import exact_percentiles_df

        df = spark.createDataFrame([(7.0,)] * 10, "v double")
        row = exact_percentiles_df(df, "v", [1.0, 50.0, 100.0]).first()
        assert row["p1"] == row["p50"] == row["p100"] == 7.0

    def test_empty_raises(self, spark):
        from datajudge_spark.operators.scalars import exact_percentiles_df

        df = spark.createDataFrame([], "v double")
        with pytest.raises(ValueError):
            exact_percentiles_df(df, "v", [50.0])


class TestPercentileBucketRefinement:
    """Heavy-tailed domains put nearly all mass in one linear range
    bucket; the refinement loop must re-bucket within it (bounding the
    final cumulative window) while selecting exactly the same value."""

    def _skewed_df(self, spark):
        # 5000 values packed into [0, 1) plus two extreme outliers that
        # stretch [lo, hi] so level-1 bucketing puts everything in
        # bucket 0
        vals = [(i / 5001.0,) for i in range(5000)]
        vals += [(1.0e12,), (-1.0e12,)]
        return spark.createDataFrame(vals, "v double")

    def test_matches_naive_sorted_selection(self, spark, monkeypatch):
        import datajudge_spark.operators.scalars as sc

        # force refinement to engage on the small fixture
        monkeypatch.setattr(sc, "PERCENTILE_REFINE_ROWS", 64)
        df = self._skewed_df(spark)
        rows = sorted(r[0] for r in df.collect())
        n = len(rows)
        for pct in (1.0, 25.0, 50.0, 90.0, 99.9, 100.0):
            got = sc.exact_percentile_df(df, "v", pct).first()["value"]
            want = next(
                v for i, v in enumerate(rows) if (i + 1) * 100 >= pct * n
            )
            assert got == want, (pct, got, want)

    def test_refinement_values_match_unrefined(self, spark, monkeypatch):
        import datajudge_spark.operators.scalars as sc

        df = self._skewed_df(spark)
        unrefined = sc.exact_percentile_df(df, "v", 75.0).first()["value"]
        monkeypatch.setattr(sc, "PERCENTILE_REFINE_ROWS", 16)
        refined = sc.exact_percentile_df(df, "v", 75.0).first()["value"]
        assert refined == unrefined

    def _two_cluster_df(self, spark):
        # two dense clusters share one level-1 bucket, then each holds
        # a target bucket that is refined again: two ranges in a level
        vals = [(i / 1e6,) for i in range(2000)]
        vals += [(0.5 + i / 1e6,) for i in range(2000)]
        vals += [(1.0e12,), (-1.0e12,)]
        return spark.createDataFrame(vals, "v double")

    PCTS = [1.0, 25.0, 50.0, 75.0, 99.9]

    def test_bands_match_naive(self, spark, monkeypatch):
        import datajudge_spark.operators.scalars as sc

        monkeypatch.setattr(sc, "PERCENTILE_REFINE_ROWS", 64)
        naive = TestNonNumericPercentileProxy._naive
        for df in (self._skewed_df(spark), self._two_cluster_df(spark)):
            got = list(sc.exact_percentiles_df(df, "v", self.PCTS).first())
            assert got == [naive(df, "v", p) for p in self.PCTS]

    def test_weighted_matches_row_expansion(self, spark, monkeypatch):
        from pyspark.sql import functions as F

        import datajudge_spark.operators.scalars as sc

        monkeypatch.setattr(sc, "PERCENTILE_REFINE_ROWS", 64)
        naive = TestNonNumericPercentileProxy._naive
        for df in (self._skewed_df(spark), self._two_cluster_df(spark)):
            df = df.withColumn("w", (F.abs(F.hash("v")) % 3).cast("bigint"))
            expanded = df.select(
                F.explode(F.expr("array_repeat(v, CAST(w AS INT))")).alias("v")
            )
            for p in self.PCTS:
                got = sc.exact_weighted_percentile_df(df, "v", "w", p).first()
                assert got["value"] == naive(expanded, "v", p), p


class TestNonNumericPercentileProxy:
    """The date/timestamp/string percentile path range-buckets on a
    monotone numeric proxy; results must stay identical to the naive
    global-cumulative construction for every type and tie pattern."""

    @staticmethod
    def _naive(df, col, p):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        nn = df.where(F.col(col).isNotNull())
        total = nn.count()
        hist = nn.groupBy(F.col(col).alias("value")).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w = Window.orderBy("value").rowsBetween(
            Window.unboundedPreceding, 0
        )
        cum = hist.select("value", F.sum("cnt").over(w).alias("c"))
        return (
            cum.where(F.col("c") * 100 >= F.lit(p * total))
            .agg(F.min("value"))
            .first()[0]
        )

    def test_date_column(self, spark):
        import datetime as dt
        import random

        from datajudge_spark.operators.scalars import exact_percentile_df

        rng = random.Random(7)
        rows = [
            (dt.date(2020, 1, 1) + dt.timedelta(days=rng.randrange(900)),)
            for _ in range(1500)
        ]
        df = spark.createDataFrame(rows, "v date")
        for p in (1.0, 50.0, 90.0, 100.0):
            got = exact_percentile_df(df, "v", p).first()["value"]
            assert got == self._naive(df, "v", p), p

    def test_near_unique_timestamp(self, spark):
        import datetime as dt
        import random

        from datajudge_spark.operators.scalars import exact_percentile_df

        rng = random.Random(11)
        rows = [
            (dt.datetime(2020, 1, 1)
             + dt.timedelta(seconds=rng.randrange(10**7),
                            microseconds=rng.randrange(10**6)),)
            for _ in range(1500)
        ]
        df = spark.createDataFrame(rows, "v timestamp")
        for p in (1.0, 50.0, 99.0):
            got = exact_percentile_df(df, "v", p).first()["value"]
            assert got == self._naive(df, "v", p), p

    def test_key_style_strings_with_common_prefix(self, spark):
        import random

        from datajudge_spark.operators.scalars import exact_percentile_df

        rng = random.Random(3)
        rows = [(f"Customer#{rng.randrange(10**6):012d}",)
                for _ in range(1200)]
        # multibyte chars + short extensions + nulls exercise the
        # byte-order and padding edges of the prefix proxy
        rows += [("Customer#" + "é" * rng.randrange(4),) for _ in range(40)]
        rows += [(None,)] * 10
        df = spark.createDataFrame(rows, "v string")
        for p in (1.0, 50.0, 97.0, 100.0):
            got = exact_percentile_df(df, "v", p).first()["value"]
            assert got == self._naive(df, "v", p), p

    def test_strings_identical_past_proxy_bytes_fall_back(self, spark):
        from datajudge_spark.operators.scalars import exact_percentile_df

        rows = [("PREFIXSAMESAME" + str(i % 3),) for i in range(90)]
        df = spark.createDataFrame(rows, "v string")
        for p in (10.0, 50.0, 90.0):
            got = exact_percentile_df(df, "v", p).first()["value"]
            assert got == self._naive(df, "v", p), p

    def test_single_distinct_date(self, spark):
        import datetime as dt

        from datajudge_spark.operators.scalars import exact_percentile_df

        df = spark.createDataFrame(
            [(dt.date(2020, 1, 1),)] * 5, "v date"
        )
        got = exact_percentile_df(df, "v", 50.0).first()["value"]
        assert got == dt.date(2020, 1, 1)


def _same_value(a, b) -> bool:
    """Equal values, with the sign of a float zero and NaN compared as
    such."""
    import math

    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b and math.copysign(1.0, a) == math.copysign(1.0, b)
    return a == b


class TestPercentileEdgeCases:
    """The numeric percentile against the naive global-window
    construction (and the plain sorted rule) on the inputs where the
    bucketed plan takes its special exits."""

    PCTS = (0.0, 1.0, 25.0, 50.0, 70.0, 99.9, 100.0)

    @staticmethod
    def _sorted_rule(values, p):
        rows = sorted(values)
        return next(
            v for i, v in enumerate(rows) if (i + 1) * 100 >= p * len(rows)
        )

    def _check_naive(self, df, pcts=PCTS):
        from datajudge_spark.operators.scalars import exact_percentile_df

        naive = TestNonNumericPercentileProxy._naive
        for p in pcts:
            got = exact_percentile_df(df, "v", p).first()["value"]
            want = naive(df, "v", p)
            assert _same_value(got, want), (p, got, want)

    def test_signed_zeros(self, spark):
        import math

        rows = [(-0.0,)] * 4 + [(0.0,)] * 3
        rows += [(-1.5,), (2.5,), (1e-300,), (-1e-300,)]
        df = spark.createDataFrame(rows, "v double")
        assert any(
            math.copysign(1.0, r[0]) < 0 and r[0] == 0 for r in df.collect()
        )
        self._check_naive(df)
        # min == max: every value is a zero
        self._check_naive(
            spark.createDataFrame([(-0.0,)] * 3 + [(0.0,)] * 2, "v double")
        )
        self._check_naive(spark.createDataFrame([(-0.0,)] * 3, "v double"))

    def test_nan(self, spark):
        nan = float("nan")
        rows = [(1.0,), (nan,), (2.0,), (nan,), (3.0,), (-4.0,), (None,)]
        self._check_naive(spark.createDataFrame(rows, "v double"))
        self._check_naive(spark.createDataFrame([(nan,)] * 3, "v double"))

    def test_nan_with_refinement(self, spark, monkeypatch):
        # a NaN maximum makes the range unsplittable: the plan must end
        # (it used to re-probe the same range forever) and stay exact
        import datajudge_spark.operators.scalars as sc

        monkeypatch.setattr(sc, "PERCENTILE_REFINE_ROWS", 16)
        rows = [(float(i % 50),) for i in range(200)] + [(float("nan"),)] * 3
        self._check_naive(spark.createDataFrame(rows, "v double"))

    def test_forced_refinement(self, spark, monkeypatch):
        import datajudge_spark.operators.scalars as sc

        monkeypatch.setattr(sc, "PERCENTILE_REFINE_ROWS", 64)
        self._check_naive(TestPercentileBucketRefinement()._skewed_df(spark))

    def test_duplicates_exit_refinement(self, spark, monkeypatch):
        # the target bucket holds 200 copies of one value: its range
        # cannot be split, so it ends on the distinct-value window
        import datajudge_spark.operators.scalars as sc

        monkeypatch.setattr(sc, "PERCENTILE_REFINE_ROWS", 64)
        rows = [(5.0,)] * 200 + [(float(i),) for i in range(0, 1000, 10)]
        self._check_naive(spark.createDataFrame(rows, "v double"))

    def _check_sorted_rule(self, df, values):
        """The single-target call, the bands and the unit-weight
        percentile over ``df``'s ``v`` against the sorted rule."""
        from pyspark.sql import functions as F

        import datajudge_spark.operators.scalars as sc

        unit = df.withColumn("w", F.lit(1))
        forms = {
            "single": [
                sc.exact_percentile_df(df, "v", p).first()["value"]
                for p in self.PCTS
            ],
            "bands": list(
                sc.exact_percentiles_df(df, "v", list(self.PCTS)).first()
            ),
            "weighted": [
                sc.exact_weighted_percentile_df(unit, "v", "w", p)
                .first()["value"]
                for p in self.PCTS
            ],
        }
        want = [self._sorted_rule(values, p) for p in self.PCTS]
        for form, got in forms.items():
            assert got == want, form

    def test_wide_integers(self, spark, monkeypatch):
        import datajudge_spark.operators.scalars as sc

        base = 2**60
        values = [base + k for k in (3, 0, 4, 1, 2)]
        df = spark.createDataFrame([(v,) for v in values], "v bigint")
        self._check_sorted_rule(df, values)
        # a bucket of values that read as one double, past refinement
        monkeypatch.setattr(sc, "PERCENTILE_REFINE_ROWS", 16)
        values = [base + k for k in range(100)] + [2**62]
        df = spark.createDataFrame([(v,) for v in values], "v bigint")
        self._check_sorted_rule(df, values)

    def test_wide_decimals(self, spark):
        from decimal import Decimal

        # 38 digits, beyond the default decimal context: built from text
        values = [
            Decimal(f"12345678901234567890.{k:018d}") for k in (2, 0, 4, 1, 3)
        ]
        assert len(set(values)) == 5 and len({float(v) for v in values}) == 1
        df = spark.createDataFrame([(v,) for v in values], "v decimal(38,18)")
        self._check_sorted_rule(df, values)

    def test_literal_outliers(self, spark):
        # Catalyst folds the level-2 bucket expression on the two
        # literal rows, which the level-1 filter excludes: the bucket
        # number must stay in range for them too
        from datajudge_spark.operators.scalars import (
            exact_percentile_df,
            exact_percentiles_df,
        )

        df = spark.sql(
            "SELECT CAST(id AS DOUBLE) / 200001.0 AS v FROM range(200000) "
            "UNION ALL SELECT 1e12 UNION ALL SELECT -1e12"
        )
        values = [i / 200001.0 for i in range(200000)] + [1e12, -1e12]
        got = exact_percentile_df(df, "v", 50.0).first()["value"]
        assert got == self._sorted_rule(values, 50.0)
        bands = exact_percentiles_df(df, "v", [1.0, 99.0]).first()
        assert list(bands) == [self._sorted_rule(values, p) for p in (1.0, 99.0)]


class TestExactWeightedPercentile:
    def test_unit_weights_match_unweighted(self, spark):
        from datajudge_spark.operators.scalars import (
            exact_percentile_df,
            exact_weighted_percentile_df,
        )

        vals = [((i * 37) % 101, 1) for i in range(500)]
        df = spark.createDataFrame(vals, "v long, w long")
        for pct in [1.0, 10.0, 50.0, 90.0, 100.0]:
            unweighted = exact_percentile_df(df, "v", pct).first()["value"]
            weighted = exact_weighted_percentile_df(df, "v", "w", pct).first()[
                "value"
            ]
            assert weighted == unweighted, (pct, weighted, unweighted)

    def test_matches_row_expansion(self, spark):
        from pyspark.sql import functions as F

        from datajudge_spark.operators.scalars import (
            exact_percentile_df,
            exact_weighted_percentile_df,
        )

        vals = [((i * 13) % 29, (i % 5) + 1) for i in range(200)]
        df = spark.createDataFrame(vals, "v long, w long")
        expanded = df.select(
            F.explode(F.expr("array_repeat(v, CAST(w AS INT))")).alias("v")
        )
        for pct in [25.0, 50.0, 75.0]:
            by_weight = exact_weighted_percentile_df(df, "v", "w", pct).first()[
                "value"
            ]
            by_rows = exact_percentile_df(expanded, "v", pct).first()["value"]
            assert by_weight == by_rows, (pct, by_weight, by_rows)

    def test_skewed_weight_dominates(self, spark):
        from datajudge_spark.operators.scalars import (
            exact_weighted_percentile_df,
        )

        df = spark.createDataFrame(
            [(1, 1), (2, 1), (3, 1000)], "v long, w long"
        )
        assert (
            exact_weighted_percentile_df(df, "v", "w", 50.0).first()["value"]
            == 3
        )

    def test_zero_total_weight_raises(self, spark):
        from datajudge_spark.operators.scalars import (
            exact_weighted_percentile_df,
        )

        df = spark.createDataFrame([(1, 0), (2, 0)], "v long, w long")
        with pytest.raises(ValueError):
            exact_weighted_percentile_df(df, "v", "w", 50.0)

    def test_negative_weight_raises(self, spark):
        from datajudge_spark.operators.scalars import (
            exact_weighted_percentile_df,
        )

        # a negative weight breaks the monotone cumulative — must raise,
        # not silently return a wrong value (total is still positive)
        df = spark.createDataFrame(
            [(1, 5), (2, -1), (3, 5)], "v long, w long"
        )
        with pytest.raises(ValueError, match="non-negative"):
            exact_weighted_percentile_df(df, "v", "w", 50.0)

    def test_fractional_percentage_exact_rational(self, spark):
        from pyspark.sql import functions as F

        from datajudge_spark.operators.scalars import (
            exact_percentile_df,
            exact_weighted_percentile_df,
        )

        vals = [((i * 13) % 29, (i % 5) + 1) for i in range(200)]
        df = spark.createDataFrame(vals, "v long, w long")
        expanded = df.select(
            F.explode(F.expr("array_repeat(v, CAST(w AS INT))")).alias("v")
        )
        # non-integer percentage exercises the Fraction expansion path
        for pct in [12.5, 33.3, 99.9]:
            by_weight = exact_weighted_percentile_df(df, "v", "w", pct).first()[
                "value"
            ]
            by_rows = exact_percentile_df(expanded, "v", pct).first()["value"]
            assert by_weight == by_rows, (pct, by_weight, by_rows)


class TestMadOutliers:
    def test_known_values(self, spark):
        from datajudge_spark.operators.stats import mad_outliers

        # values 1..9 plus one wild point: median 5 (of 10 values ->
        # smallest v with cum >= 50% is 5), deviations median = MAD
        vals = [(v,) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]]
        df = spark.createDataFrame(vals, "c long")
        row = mad_outliers(df, "c", k=3.0).first()
        assert row["median"] == 5
        # deviations: 4,3,2,1,0,1,2,3,4,995 -> sorted 0,1,1,2,2,3,3,4,4,995
        # smallest with cum>=5 of 10 -> 2
        assert row["mad"] == 2
        assert row["threshold"] == pytest.approx(3.0 * 1.4826 * 2, abs=1e-6)
        assert row["n_outliers"] == 1  # only the 1000
        assert row["outlier_fraction"] == pytest.approx(0.1)

    def test_constant_column_no_outliers(self, spark):
        from datajudge_spark.operators.stats import mad_outliers

        df = spark.createDataFrame([(7,)] * 20, "c long")
        row = mad_outliers(df, "c").first()
        assert row["mad"] == 0 and row["n_outliers"] == 0


class TestGiniCoefficient:
    def test_known_values(self, spark):
        from datajudge_spark.operators.stats import gini_coefficient

        # perfect equality
        df = spark.createDataFrame([(5,)] * 4, "v long")
        row = gini_coefficient(df, "v").first()
        assert row["gini"] == pytest.approx(0.0, abs=1e-12)
        assert row["n"] == 4 and int(row["sum_value"]) == 20
        # one holder of everything: G = (n-1)/n = 0.75
        df2 = spark.createDataFrame([(0,), (0,), (0,), (4,)], "v long")
        assert gini_coefficient(df2, "v").first()["gini"] == pytest.approx(
            0.75, abs=1e-12
        )

    def test_matches_naive_formula(self, spark):
        from datajudge_spark.operators.stats import gini_coefficient

        vals = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3, 5, 8]
        xs = sorted(vals)
        n, s = len(xs), sum(xs)
        expected = (
            2 * sum((i + 1) * x for i, x in enumerate(xs)) - (n + 1) * s
        ) / (n * s)
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        assert gini_coefficient(df, "v").first()["gini"] == pytest.approx(
            expected, abs=1e-12
        )

    def test_empty_raises(self, spark):
        from datajudge_spark.operators.stats import gini_coefficient

        df = spark.createDataFrame([], "v long")
        with pytest.raises(ValueError):
            gini_coefficient(df, "v").first()


class TestMannWhitneyU:
    def test_disjoint_samples(self, spark):
        from datajudge_spark.operators.stats import mann_whitney_u

        rows = [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, "b"), (6, "b")]
        df = spark.createDataFrame(rows, "v long, g string")
        r = mann_whitney_u(df, "v", "g", "a", "b").first()
        assert (r["n_a"], r["n_b"]) == (3, 3)
        assert r["u_a"] == pytest.approx(0.0)
        # z = (0 - 4.5) / sqrt(9*7/12)
        assert r["z"] == pytest.approx(-4.5 / (9 * 7 / 12) ** 0.5, abs=1e-12)

    def test_tie_average_ranks(self, spark):
        from datajudge_spark.operators.stats import mann_whitney_u

        # a=[1,2], b=[2,3]: ranks 1, 2.5, 2.5, 4 -> R_a=3.5, U_a=0.5
        rows = [(1, "a"), (2, "a"), (2, "b"), (3, "b")]
        df = spark.createDataFrame(rows, "v long, g string")
        r = mann_whitney_u(df, "v", "g", "a", "b").first()
        assert r["u_a"] == pytest.approx(0.5)

    def test_other_groups_excluded(self, spark):
        from datajudge_spark.operators.stats import mann_whitney_u

        rows = [(1, "a"), (2, "b"), (100, "c")]
        df = spark.createDataFrame(rows, "v long, g string")
        r = mann_whitney_u(df, "v", "g", "a", "b").first()
        assert (r["n_a"], r["n_b"]) == (1, 1)


class TestChiSquared:
    def test_independent_is_zero(self, spark):
        from datajudge_spark.operators.stats import chi_squared_independence

        rows = (
            [("A", "P")] * 10 + [("A", "Q")] * 20
            + [("B", "P")] * 20 + [("B", "Q")] * 40
        )
        df = spark.createDataFrame(rows, "a string, b string")
        r = chi_squared_independence(df, "a", "b").first()
        assert r["dof"] == 1
        assert r["chi2"] == pytest.approx(0.0, abs=1e-12)

    def test_complete_dependence(self, spark):
        from datajudge_spark.operators.stats import chi_squared_independence

        # diagonal-only 2x2: chi2 == n
        rows = [("A", "P")] * 10 + [("B", "Q")] * 10
        df = spark.createDataFrame(rows, "a string, b string")
        r = chi_squared_independence(df, "a", "b").first()
        assert r["dof"] == 1
        assert r["chi2"] == pytest.approx(20.0, abs=1e-9)

    def test_zero_observed_cells_counted(self, spark):
        from datajudge_spark.operators.stats import chi_squared_independence

        # 2x2 with one empty cell: expected mass still contributes
        rows = [("A", "P")] * 4 + [("A", "Q")] * 4 + [("B", "P")] * 4
        df = spark.createDataFrame(rows, "a string, b string")
        r = chi_squared_independence(df, "a", "b").first()
        # margins: rA=8 rB=4, cP=8 cQ=4, n=12
        # e: AP=16/3 AQ=8/3 BP=8/3 BQ=4/3; o: 4,4,4,0
        e = {"AP": 16 / 3, "AQ": 8 / 3, "BP": 8 / 3, "BQ": 4 / 3}
        o = {"AP": 4, "AQ": 4, "BP": 4, "BQ": 0}
        exp = sum((o[k] - e[k]) ** 2 / e[k] for k in e)
        assert r["chi2"] == pytest.approx(exp, abs=1e-9)


class TestBucketedGlobalCum:
    def test_matches_global_window(self, spark):
        import random

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from datajudge_spark.operators.stats import _bucketed_global_cum

        rng = random.Random(7)
        vals = [rng.randint(-1000, 1000) for _ in range(500)]
        df = (
            spark.createDataFrame([(v,) for v in vals], "v long")
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        got = {
            r["v"]: r["cum"]
            for r in _bucketed_global_cum(df, ["cnt"], n_buckets=16).collect()
        }
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        want = {
            r["v"]: r["cum"]
            for r in df.select(
                "v", F.sum("cnt").over(w).alias("cum")
            ).collect()
        }
        assert got == want

    def test_heavy_tail_buckets_stay_balanced(self, spark):
        # heavy-tailed domain: 40000 distinct values in [1, 40000] plus
        # a 1e12 outlier.  Linear [min, max] edges would land every
        # value but one in bucket 0 (the window partition degenerates
        # toward the global window); equi-depth boundaries must keep
        # every bucket near |distinct|/B (the 5% boundary sample thins
        # the bucket count so each is backed by >= 50 sample rows).
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from datajudge_spark.operators.stats import (
            _bucketed_global_cum,
            _equidepth_bounds,
        )
        from datajudge_spark.pipeline._util import materialize_once

        vals = list(range(1, 40001)) + [10**12]
        df = (
            spark.createDataFrame([(v,) for v in vals], "v long")
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        bounds, _ = _equidepth_bounds(materialize_once(df), 2048)
        assert len(bounds) >= 30
        import bisect

        sizes: dict[int, int] = {}
        for v in vals:
            b = bisect.bisect_right(sorted(bounds), v)
            # bisect_right(bounds, v) == #bounds <= v for distinct vals
            sizes[b] = sizes.get(b, 0) + 1
        cap = 2 * (len(vals) / (len(bounds) + 1))
        assert max(sizes.values()) <= cap, sorted(
            sizes.items(), key=lambda kv: -kv[1]
        )[:3]
        # and the cumulative is still exactly the global-window answer
        got = {
            r["v"]: r["cum"]
            for r in _bucketed_global_cum(df, ["cnt"]).collect()
        }
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        want = {
            r["v"]: r["cum"]
            for r in df.select("v", F.sum("cnt").over(w).alias("cum")).collect()
        }
        assert got == want


class TestGroupedKs:
    def test_matches_naive(self, spark):
        import random

        from datajudge_spark.operators.stats import grouped_ks

        rng = random.Random(11)
        rows = []
        for _ in range(400):
            g = rng.choice(["a", "b", "c"])
            # group c drawn from a shifted distribution
            v = rng.randint(0, 60) + (40 if g == "c" else 0)
            rows.append((float(v), g))
        df = spark.createDataFrame(rows, "value double, g string")
        got = {
            r["g"]: (r["n"], r["d"])
            for r in grouped_ks(df, "value", "g").collect()
        }
        pooled = sorted(v for v, _ in rows)
        n_tot = len(pooled)
        for g in ["a", "b", "c"]:
            mine = sorted(v for v, gg in rows if gg == g)
            n_g = len(mine)
            d = max(
                abs(
                    sum(1 for x in mine if x <= v) / n_g
                    - sum(1 for x in pooled if x <= v) / n_tot
                )
                for v in pooled
            )
            assert got[g][0] == n_g
            assert got[g][1] == pytest.approx(d, abs=1e-6)
        # the shifted group must show the largest drift
        assert got["c"][1] > got["a"][1] and got["c"][1] > got["b"][1]

    def test_group_cap(self, spark):
        from datajudge_spark.operators.stats import grouped_ks

        df = spark.createDataFrame(
            [(float(i), str(i)) for i in range(30)], "value double, g string"
        )
        with pytest.raises(ValueError, match="max_groups"):
            grouped_ks(df, "value", "g", max_groups=5)


class TestTheilSen:
    def test_matches_naive_median_of_slopes(self, spark):
        import datetime as dt
        import random

        from datajudge_spark.operators.timeseries import theil_sen_slope

        rng = random.Random(5)
        days = [
            (dt.date(2024, 1, 1) + dt.timedelta(days=i), 100 + 7 * i + rng.randint(-5, 5))
            for i in range(40)
        ]
        df = spark.createDataFrame(days, "day date, cents long")
        row = theil_sen_slope(df, "cents").first()
        slopes = sorted(
            (v2 - v1) / (d2 - d1).days
            for i, (d1, v1) in enumerate(days)
            for d2, v2 in days[i + 1 :]
        )
        # smallest slope with >= 50% of slopes <= it
        n = len(slopes)
        med = next(
            s for k, s in enumerate(slopes) if (k + 1) * 2 >= n
        )
        assert row["n_days"] == 40
        assert row["n_pairs"] == n
        assert row["slope"] == pytest.approx(med, abs=1e-6)

    def test_outlier_robustness(self, spark):
        import datetime as dt

        from datajudge_spark.operators.timeseries import theil_sen_slope

        days = [
            (dt.date(2024, 1, 1) + dt.timedelta(days=i), 100 + 3 * i)
            for i in range(30)
        ]
        days[15] = (days[15][0], 10**9)  # one wild day
        df = spark.createDataFrame(days, "day date, cents long")
        row = theil_sen_slope(df, "cents").first()
        assert row["slope"] == pytest.approx(3.0, abs=0.5)


class TestGroupedQuantileGrid:
    def test_matches_naive(self, spark):
        import random

        from datajudge_spark.operators.stats import grouped_quantile_grid

        rng = random.Random(23)
        rows = []
        for _ in range(500):
            g = rng.choice(["a", "b"])
            v = rng.randint(0, 80) + (30 if g == "b" else 0)
            rows.append((float(v), g))
        df = spark.createDataFrame(rows, "value double, g string")
        got = {
            (r["g"], r["decile"]): (r["v_group"], r["v_pooled"], r["gap"])
            for r in grouped_quantile_grid(
                df, "value", "g", groups=["a", "b"]
            ).collect()
        }
        assert len(got) == 2 * 9
        pooled = sorted(v for v, _ in rows)

        def q(vals, j):
            # smallest v with 10*cum >= j*n (exact integer rule)
            n = len(vals)
            return next(
                v for k, v in enumerate(vals) if (k + 1) * 10 >= j * n
            )

        for g in ["a", "b"]:
            mine = sorted(v for v, gg in rows if gg == g)
            for j in range(1, 10):
                vg, vp, gap = got[(g, j)]
                assert vg == pytest.approx(q(mine, j), abs=1e-6)
                assert vp == pytest.approx(q(pooled, j), abs=1e-6)
                assert gap == pytest.approx(vg - vp, abs=1e-6)
        # the shifted group sits right of the pooled grid everywhere
        assert all(got[("b", j)][2] >= 0 for j in range(1, 10))

    def test_empty_group_yields_nulls(self, spark):
        from datajudge_spark.operators.stats import grouped_quantile_grid

        df = spark.createDataFrame(
            [(float(i), "a") for i in range(20)], "value double, g string"
        )
        rows = grouped_quantile_grid(
            df, "value", "g", groups=["a", "zzz"]
        ).collect()
        zz = [r for r in rows if r["g"] == "zzz"]
        assert len(zz) == 9
        assert all(r["v_group"] is None and r["gap"] is None for r in zz)
        assert all(r["v_pooled"] is not None for r in zz)


class TestGroupedTheilSen:
    def test_matches_naive_per_group(self, spark):
        import datetime as dt
        import random

        from datajudge_spark.operators.timeseries import grouped_theil_sen

        rng = random.Random(7)
        rows = []
        series = {"up": 5, "down": -3}
        for g, slope in series.items():
            for i in range(25):
                rows.append(
                    (
                        g,
                        dt.date(2024, 3, 1) + dt.timedelta(days=i),
                        1000 + slope * i + rng.randint(-2, 2),
                    )
                )
        df = spark.createDataFrame(rows, "g string, day date, cents long")
        got = {
            r["g"]: (r["n_days"], r["n_pairs"], r["slope"])
            for r in grouped_theil_sen(
                df, "g", "cents", groups=["down", "up"]
            ).collect()
        }
        for g in series:
            days = [(d, v) for gg, d, v in rows if gg == g]
            slopes = sorted(
                (v2 - v1) / (d2 - d1).days
                for i, (d1, v1) in enumerate(days)
                for d2, v2 in days[i + 1 :]
            )
            n = len(slopes)
            med = next(s for k, s in enumerate(slopes) if (k + 1) * 2 >= n)
            assert got[g][0] == 25
            assert got[g][1] == n
            assert got[g][2] == pytest.approx(med, abs=1e-6)
        assert got["up"][2] > 0 > got["down"][2]

    def test_group_without_days_gets_null_slope(self, spark):
        import datetime as dt

        from datajudge_spark.operators.timeseries import grouped_theil_sen

        df = spark.createDataFrame(
            [
                ("a", dt.date(2024, 1, 1) + dt.timedelta(days=i), 10 * i)
                for i in range(5)
            ],
            "g string, day date, cents long",
        )
        got = {
            r["g"]: r
            for r in grouped_theil_sen(
                df, "g", "cents", groups=["a", "ghost"]
            ).collect()
        }
        assert got["a"]["slope"] == pytest.approx(10.0, abs=1e-6)
        assert got["ghost"]["n_days"] == 0
        assert got["ghost"]["n_pairs"] == 0
        assert got["ghost"]["slope"] is None


class TestSeasonalityStrength:
    def test_periodic_vs_flat(self, spark):
        import datetime as dt

        from datajudge_spark.operators.timeseries import (
            seasonality_strength,
        )

        base = dt.date(2024, 1, 1)
        # perfectly weekly series: value is a pure function of weekday
        periodic = spark.createDataFrame(
            [
                (base + dt.timedelta(days=i), 100 + 50 * (i % 7))
                for i in range(70)
            ],
            "day date, v long",
        )
        row = seasonality_strength(periodic, "v").first()
        assert row["n_days"] == 70
        assert row["strength"] == pytest.approx(1.0, abs=1e-6)
        # constant series: no variance at all -> strength undefined
        flat = spark.createDataFrame(
            [(base + dt.timedelta(days=i), 100) for i in range(70)],
            "day date, v long",
        )
        row = seasonality_strength(flat, "v").first()
        assert row["strength"] is None
        # noise with no weekly structure: strength near 0
        import random

        rng = random.Random(3)
        noisy = spark.createDataFrame(
            [
                (base + dt.timedelta(days=i), rng.randint(0, 1000))
                for i in range(210)
            ],
            "day date, v long",
        )
        row = seasonality_strength(noisy, "v").first()
        assert 0.0 <= row["strength"] < 0.15

    def test_matches_naive_anova(self, spark):
        import datetime as dt
        import random

        from datajudge_spark.operators.timeseries import (
            seasonality_strength,
        )

        rng = random.Random(9)
        base = dt.date(2024, 3, 4)
        rows = [
            (base + dt.timedelta(days=i), 200 + 30 * (i % 7) + rng.randint(-20, 20))
            for i in range(60)
        ]
        df = spark.createDataFrame(rows, "day date, v long")
        got = seasonality_strength(df, "v").first()
        vals = [v for _, v in rows]
        n = len(vals)
        mean = sum(vals) / n
        sst = sum(v * v for v in vals) - sum(vals) ** 2 / n
        by_phase: dict[int, list[int]] = {}
        for d, v in rows:
            by_phase.setdefault((d - dt.date(1970, 1, 1)).days % 7, []).append(v)
        sse = sum(
            sum(v * v for v in g) - sum(g) ** 2 / len(g)
            for g in by_phase.values()
        )
        assert got["strength"] == pytest.approx(1 - sse / sst, abs=1e-6)


class TestTriangleStats:
    def test_complete_graph_and_path(self, spark):
        from datajudge_spark.operators.graph import triangle_stats

        # K4: 4 triangles, 12 wedges, clustering 1.0; edges given in
        # arbitrary orientation with a duplicate and a self-loop to
        # exercise canonicalization
        k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
        edges = k4 + [("b", "a"), ("c", "c")]
        df = spark.createDataFrame(edges, "src string, dst string")
        row = triangle_stats(df).first()
        assert (row["n_nodes"], row["n_edges"]) == (4, 6)
        assert (row["n_wedges"], row["n_triangles"]) == (12, 4)
        assert row["clustering"] == pytest.approx(1.0, abs=1e-9)
        # path a-b-c: one wedge, no triangle
        path = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "src string, dst string"
        )
        row = triangle_stats(path).first()
        assert (row["n_triangles"], row["n_wedges"]) == (0, 1)
        assert row["clustering"] == pytest.approx(0.0, abs=1e-9)


class TestMutualInformation:
    def test_dependent_and_independent(self, spark):
        import math

        from datajudge_spark.operators.stats import mutual_information

        # perfectly dependent: b == a -> MI == H(A) == ln 2, NMI == 1
        dep = spark.createDataFrame(
            [("x", "x")] * 10 + [("y", "y")] * 10, "a string, b string"
        )
        row = mutual_information(dep, "a", "b").first()
        assert row["n"] == 20
        assert row["mi"] == pytest.approx(math.log(2), abs=1e-6)
        assert row["nmi"] == pytest.approx(1.0, abs=1e-6)
        # independent uniform: every cell o = ra*cb/N -> MI == 0
        ind = spark.createDataFrame(
            [(a, b) for a in "xy" for b in "uv" for _ in range(5)],
            "a string, b string",
        )
        row = mutual_information(ind, "a", "b").first()
        assert row["mi"] == pytest.approx(0.0, abs=1e-9)

    def test_constant_column_has_null_nmi(self, spark):
        from datajudge_spark.operators.stats import mutual_information

        df = spark.createDataFrame(
            [("x", "u"), ("x", "v")], "a string, b string"
        )
        row = mutual_information(df, "a", "b").first()
        assert row["mi"] == pytest.approx(0.0, abs=1e-9)
        assert row["nmi"] is None  # H(A) = 0 -> normalization undefined


class TestJsDivergence:
    def test_identical_zero_and_disjoint_bounded(self, spark):
        import math

        from datajudge_spark.operators.stats import js_divergence

        same = spark.createDataFrame(
            [(float(v),) for v in range(100)], "v double"
        )
        row = js_divergence(same, same, "v", 0.0, 100.0, 10).first()
        assert row["jsd"] == pytest.approx(0.0, abs=1e-9)
        lo_half = spark.createDataFrame(
            [(float(v % 50),) for v in range(100)], "v double"
        )
        hi_half = spark.createDataFrame(
            [(50.0 + float(v % 50),) for v in range(100)], "v double"
        )
        row = js_divergence(lo_half, hi_half, "v", 0.0, 100.0, 10).first()
        # disjoint support: close to the ln 2 bound, never above it
        assert 0.5 < row["jsd"] <= math.log(2) + 1e-9

    def test_densified_over_all_buckets(self, spark):
        # unequal totals + buckets empty in BOTH samples: under +0.5
        # Laplace smoothing those buckets still contribute (p != q), so
        # the statistic must equal the full n_buckets-wide formula, not
        # an occupancy-dependent subset
        import math

        from datajudge_spark.operators.stats import js_divergence

        d1 = spark.createDataFrame([(5.0,)] * 30, "v double")
        d2 = spark.createDataFrame([(5.0,)] * 10, "v double")
        got = js_divergence(d1, d2, "v", 0.0, 100.0, 10).first()["jsd"]
        n1 = [30] + [0] * 9
        n2 = [10] + [0] * 9
        t1, t2 = 30 + 5.0, 10 + 5.0
        jsd = 0.0
        for a, b in zip(n1, n2):
            p, q = (a + 0.5) / t1, (b + 0.5) / t2
            m = (p + q) / 2
            jsd += 0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)
        assert got == pytest.approx(round(jsd, 6), abs=1e-9)


class TestGroupedSqlSafety:
    def test_quoted_group_labels_survive(self, spark):
        # group labels are DATA: quotes/backslashes must not break (or
        # rewrite) the generated stack() SQL
        weird = ["O'Brien", 'back\\slash', "plain"]
        rows = [(float(v), g) for g in weird for v in range(10)]
        df = spark.createDataFrame(rows, "v double, g string")
        from datajudge_spark.operators.stats import (
            grouped_ks,
            grouped_quantile_grid,
        )

        ks = {r["g"] for r in grouped_ks(df, "v", "g").collect()}
        assert ks == set(weird)
        qg = {r["g"] for r in grouped_quantile_grid(df, "v", "g").collect()}
        assert qg == set(weird)

    def test_quoted_groups_in_theil_sen(self, spark):
        import datetime as dt

        from datajudge_spark.operators.timeseries import grouped_theil_sen

        rows = [
            (g, dt.date(2024, 1, 1) + dt.timedelta(days=i), 10 * i)
            for g in ["a'b", "c"]
            for i in range(5)
        ]
        df = spark.createDataFrame(rows, "g string, day date, cents long")
        got = {
            r["g"]: r["slope"]
            for r in grouped_theil_sen(
                df, "g", "cents", groups=["a'b", "c"]
            ).collect()
        }
        assert got["a'b"] == pytest.approx(10.0, abs=1e-6)

    def test_js_one_empty_side_is_null(self, spark):
        from datajudge_spark.operators.stats import js_divergence

        full = spark.createDataFrame(
            [(float(v),) for v in range(50)], "v double"
        )
        empty = full.where("v < 0")
        assert (
            js_divergence(empty, full, "v", 0.0, 50.0, 10).first()["jsd"]
            is None
        )
        assert (
            js_divergence(full, empty, "v", 0.0, 50.0, 10).first()["jsd"]
            is None
        )
        assert (
            js_divergence(empty, empty, "v", 0.0, 50.0, 10).first()["jsd"]
            is None
        )

    def test_seasonality_null_days_and_period_validation(self, spark):
        import datetime as dt

        from datajudge_spark.operators.timeseries import (
            seasonality_strength,
        )

        base = dt.date(2024, 1, 1)
        rows = [(base + dt.timedelta(days=i), 100 + i) for i in range(14)]
        rows.append((None, 999))
        df = spark.createDataFrame(rows, "day date, v long")
        row = seasonality_strength(df, "v").first()
        assert row["n_days"] == 14  # the NULL-day row is excluded
        with pytest.raises(ValueError):
            seasonality_strength(df, "v", period=0)


class TestGammaQ:
    def test_chi2_critical_values(self):
        from datajudge_spark.constraints.stats import _gamma_q

        # sf(x, dof) = Q(dof/2, x/2); textbook critical values
        assert _gamma_q(0.5, 3.841458820694124 / 2) == pytest.approx(
            0.05, abs=1e-9
        )
        assert _gamma_q(0.5, 6.634896601021213 / 2) == pytest.approx(
            0.01, abs=1e-9
        )
        assert _gamma_q(2.5, 11.070497693516351 / 2) == pytest.approx(
            0.05, abs=1e-9
        )
        assert _gamma_q(1.0, 0.0) == 1.0

    def test_monotone_and_bounded(self):
        from datajudge_spark.constraints.stats import _gamma_q

        vals = [_gamma_q(3.0, x) for x in (0.1, 1.0, 3.0, 10.0, 50.0)]
        assert all(0.0 <= v <= 1.0 for v in vals)
        assert vals == sorted(vals, reverse=True)


class TestKaplanMeier:
    def test_textbook_curve(self, spark):
        from datajudge_spark.operators.timeseries import kaplan_meier

        # durations (event=1, censored=0):
        # t=1: 1 event of 5 at risk -> S=4/5
        # t=2: 1 censored (no drop)
        # t=3: 1 event of 3 at risk -> S = 4/5 * 2/3
        # t=4: 2 events of 2 at risk -> S = 0
        rows = [(1, 1), (2, 0), (3, 1), (4, 1), (4, 1)]
        df = spark.createDataFrame(rows, "dur int, ev int")
        got = {
            r["duration"]: r
            for r in kaplan_meier(df, "dur", "ev").collect()
        }
        assert got[1]["n_risk"] == 5 and got[1]["n_events"] == 1
        assert got[1]["survival"] == pytest.approx(0.8, abs=1e-12)
        assert got[2]["n_censored"] == 1
        assert got[2]["survival"] == pytest.approx(0.8, abs=1e-12)
        assert got[3]["n_risk"] == 3
        assert got[3]["survival"] == pytest.approx(0.8 * 2 / 3, abs=1e-12)
        assert got[4]["n_risk"] == 2 and got[4]["n_events"] == 2
        assert got[4]["survival"] == 0.0

    def test_all_censored_flat(self, spark):
        from datajudge_spark.operators.timeseries import kaplan_meier

        df = spark.createDataFrame([(1, 0), (2, 0), (3, 0)], "dur int, ev int")
        for r in kaplan_meier(df, "dur", "ev").collect():
            assert r["survival"] == pytest.approx(1.0, abs=1e-12)


class TestAssociationRules:
    def test_known_baskets(self, spark):
        from datajudge_spark.operators.associations import association_rules

        # baskets: {A,B}, {A,B}, {A,C}, {B}
        rows = [
            (1, "A"), (1, "B"),
            (2, "A"), (2, "B"),
            (3, "A"), (3, "C"),
            (4, "B"),
        ]
        df = spark.createDataFrame(rows, "u int, item string")
        got = {
            (r["item_a"], r["item_b"]): r
            for r in association_rules(df, "u", "item").collect()
        }
        ab = got[("A", "B")]
        assert (ab["n_a"], ab["n_b"], ab["n_ab"]) == (3, 3, 2)
        assert ab["support"] == pytest.approx(0.5)
        assert ab["confidence"] == pytest.approx(2 / 3)
        assert ab["lift"] == pytest.approx(2 * 4 / 9)
        # direction matters for confidence
        ba = got[("B", "A")]
        assert ba["confidence"] == pytest.approx(2 / 3)
        ca = got[("C", "A")]
        assert ca["confidence"] == pytest.approx(1.0)

    def test_duplicate_items_in_basket_counted_once(self, spark):
        from datajudge_spark.operators.associations import association_rules

        rows = [(1, "A"), (1, "A"), (1, "B")]
        df = spark.createDataFrame(rows, "u int, item string")
        got = {
            (r["item_a"], r["item_b"]): r["n_ab"]
            for r in association_rules(df, "u", "item").collect()
        }
        assert got[("A", "B")] == 1

    def test_min_pair_count_filters(self, spark):
        from datajudge_spark.operators.associations import association_rules

        rows = [(1, "A"), (1, "B"), (2, "A"), (2, "C"), (3, "A"), (3, "C")]
        df = spark.createDataFrame(rows, "u int, item string")
        got = association_rules(df, "u", "item", min_pair_count=2)
        keys = {(r["item_a"], r["item_b"]) for r in got.collect()}
        assert keys == {("A", "C"), ("C", "A")}


class TestSpearman:
    def test_perfect_monotone(self, spark):
        from datajudge_spark.operators.stats import spearman_correlation

        df = spark.createDataFrame(
            [(1, 10), (2, 400), (3, 500), (4, 10000)], "x long, y long"
        )
        r = spearman_correlation(df, "x", "y").first()
        assert r["n"] == 4
        assert r["rho"] == pytest.approx(1.0, abs=1e-12)
        df2 = spark.createDataFrame(
            [(1, 99), (2, 50), (3, 7)], "x long, y long"
        )
        assert spearman_correlation(df2, "x", "y").first()[
            "rho"
        ] == pytest.approx(-1.0, abs=1e-12)

    def test_ties_match_textbook(self, spark):
        from datajudge_spark.operators.stats import spearman_correlation

        # x = [1,2,2,3], y = [10,20,20,30]: identical tie pattern -> rho 1
        df = spark.createDataFrame(
            [(1, 10), (2, 20), (2, 20), (3, 30)], "x long, y long"
        )
        assert spearman_correlation(df, "x", "y").first()[
            "rho"
        ] == pytest.approx(1.0, abs=1e-12)

    def test_constant_column_null_rho(self, spark):
        from datajudge_spark.operators.stats import spearman_correlation

        df = spark.createDataFrame(
            [(5, 1), (5, 2), (5, 3)], "x long, y long"
        )
        assert spearman_correlation(df, "x", "y").first()["rho"] is None


class TestWasserstein:
    def test_known_distance(self, spark):
        from datajudge_spark.operators.stats import wasserstein_1d

        # point masses at 0 and 10: EMD = 10
        a = spark.createDataFrame([(0,)] * 5, "c long")
        b = spark.createDataFrame([(10,)] * 3, "c long")
        r = wasserstein_1d(a, b, "c", "c").first()
        assert (r["n1"], r["n2"]) == (5, 3)
        assert r["emd"] == pytest.approx(10.0, abs=1e-9)

    def test_identical_zero(self, spark):
        from datajudge_spark.operators.stats import wasserstein_1d

        a = spark.createDataFrame([(1,), (5,), (9,)], "c long")
        r = wasserstein_1d(a, a, "c", "c").first()
        assert r["emd"] == pytest.approx(0.0, abs=1e-12)

    def test_matches_naive_integral(self, spark):
        import random

        from datajudge_spark.operators.stats import wasserstein_1d

        rng = random.Random(5)
        xs = [rng.randint(0, 100) for _ in range(60)]
        ys = [rng.randint(10, 120) for _ in range(45)]
        a = spark.createDataFrame([(v,) for v in xs], "c long")
        b = spark.createDataFrame([(v,) for v in ys], "c long")
        # naive: integrate |F1-F2| over the union grid
        grid = sorted(set(xs) | set(ys))
        emd = 0.0
        for v, nv in zip(grid, grid[1:]):
            f1 = sum(1 for x in xs if x <= v) / len(xs)
            f2 = sum(1 for y in ys if y <= v) / len(ys)
            emd += abs(f1 - f2) * (nv - v)
        got = wasserstein_1d(a, b, "c", "c", n_buckets=8).first()
        assert got["emd"] == pytest.approx(emd, abs=1e-9)

    def test_empty_side_raises(self, spark):
        from datajudge_spark.operators.stats import wasserstein_1d

        a = spark.createDataFrame([(1,)], "c long")
        b = spark.createDataFrame([], "c long")
        with pytest.raises(ValueError):
            wasserstein_1d(a, b, "c", "c")


class TestGiniDegenerate:
    def test_all_zero_values_null_gini(self, spark):
        from datajudge_spark.operators.stats import gini_coefficient

        df = spark.createDataFrame([(0,), (0,), (0,)], "v long")
        row = gini_coefficient(df, "v").first()
        assert row["n"] == 3 and row["gini"] is None

    def test_constraint_reports_undefined(self, spark):
        from conftest import within_req

        df = spark.createDataFrame([(0,), (0,)], "c long")
        req = within_req(df, "ginizero")
        req.add_gini_max_constraint("c", 0.5)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message


class TestGroupedPercentiles:
    def test_quartiles_known(self, spark):
        from datajudge_spark.operators.scalars import (
            grouped_exact_percentile,
            grouped_exact_percentiles,
        )

        rows = [("a", v) for v in range(1, 101)] + [("b", v) for v in (1, 2, 3, 4)]
        df = spark.createDataFrame(rows, "g string, v long")
        got = {
            r["grp"]: r
            for r in grouped_exact_percentiles(
                df, "g", "v", [25, 50, 75]
            ).collect()
        }
        assert (got["a"]["p25"], got["a"]["p50"], got["a"]["p75"]) == (25, 50, 75)
        assert (got["b"]["p25"], got["b"]["p50"], got["b"]["p75"]) == (1, 2, 3)
        # consistency with the single-percentile form
        single = {
            r["grp"]: r["value"]
            for r in grouped_exact_percentile(df, "g", "v", 50.0).collect()
        }
        assert single == {g: got[g]["p50"] for g in got}

    def test_empty_percentages_raises(self, spark):
        from datajudge_spark.operators.scalars import grouped_exact_percentiles

        df = spark.createDataFrame([("a", 1)], "g string, v long")
        with pytest.raises(ValueError):
            grouped_exact_percentiles(df, "g", "v", [])


class TestFormatter:
    def test_plain_strips_styling_codes(self):
        from datajudge_spark.formatter import Formatter

        msg = "expected [numMatch]5[/numMatch] got [numDiff]7[/numDiff]."
        assert Formatter().fmt_str(msg) == "expected 5 got 7."

    def test_ansi_highlights_diffs_only(self):
        from datajudge_spark.formatter import AnsiColorFormatter

        msg = "got [numDiff]7[/numDiff] vs [numMatch]5[/numMatch]"
        out = AnsiColorFormatter().fmt_str(msg)
        assert "\x1b[46m7\x1b[49m" in out  # diff: cyan background
        assert "[numMatch]" not in out and "[numDiff]" not in out
        assert "\x1b[46m5" not in out  # matches are NOT highlighted

    def test_unknown_codes_left_alone(self):
        from datajudge_spark.formatter import Formatter

        assert Formatter().fmt_str("[bold]x[/bold]") == "[bold]x[/bold]"


class TestTableDataSource:
    def test_from_table_via_temp_view(self, spark):
        from conftest import within_req  # noqa: F401 (fixture conventions)
        from datajudge_spark import WithinRequirement

        spark.createDataFrame([(1,), (2,), (3,)], "c long").createOrReplaceTempView(
            "tds_test_view"
        )
        req = WithinRequirement.from_table("tds_test_view")
        req.add_n_rows_equality_constraint(3)
        req.add_n_rows_equality_constraint(4)  # fail
        outcomes = [r.outcome for r in req.test(spark)]
        assert outcomes == [True, False]
        spark.catalog.dropTempView("tds_test_view")


class TestPlanCapture:
    def test_failing_result_carries_optimized_plan(self, spark, tmp_path):
        from datajudge_spark import WithinRequirement

        p = str(tmp_path / "pc.parquet")
        spark.createDataFrame([(1,), (2,)], "c long").write.parquet(p)
        req = WithinRequirement.from_parquet(p)
        req.add_n_rows_min_constraint(100)  # fail
        result = req.test(spark)[0]
        assert result.outcome is False
        # the optimized Catalyst plan rides on the failure for debugging
        # (the reference ships the literal SQL; reference base.py:268-287)
        assert "Factual plans" in result.logging_message
        assert "Relation" in result.logging_message  # the parquet scan

    def test_success_is_plan_free(self, spark):
        from datajudge_spark import WithinRequirement

        df = spark.createDataFrame([(1,)], "c long")
        req = WithinRequirement.from_expression(df, "t")
        req.add_n_rows_min_constraint(1)
        result = req.test(spark)[0]
        assert result.outcome is True
        assert result.failure_message is None

    def test_plan_string_fallback_is_safe(self):
        from datajudge_spark.plans import plan_string

        class _Schema:
            @staticmethod
            def simpleString():
                return "struct<c:bigint>"

        class _Broken:
            schema = _Schema()

            @property
            def _jdf(self):
                raise RuntimeError("no jvm")

            @property
            def _plan(self):
                raise RuntimeError("no plan")

        out = plan_string(_Broken())
        assert "unavailable" in out and "struct<c:bigint>" in out


class TestGroupedJsDivergence:
    def test_identical_group_zero_divergent_group_positive(self, spark):
        from datajudge_spark.operators.stats import grouped_js_divergence

        # group "lo" mirrors the pooled shape poorly, "all" matches it
        rows = (
            [(float(v % 100), "all") for v in range(200)]
            + [(float(v % 10), "lo") for v in range(50)]
        )
        df = spark.createDataFrame(rows, "v double, g string")
        got = {r["g"]: r for r in grouped_js_divergence(
            df, "v", "g", 0.0, 100.0, 10
        ).collect()}
        assert got["lo"]["jsd"] > got["all"]["jsd"] >= 0.0
        assert got["all"]["n"] == 200 and got["lo"]["n"] == 50

    def test_empty_group_is_null_and_discovery_cap(self, spark):
        from datajudge_spark.operators.stats import grouped_js_divergence

        df = spark.createDataFrame(
            [(1.0, "a"), (2.0, "a"), (3.0, "b")], "v double, g string"
        )
        got = {r["g"]: r for r in grouped_js_divergence(
            df, "v", "g", 0.0, 10.0, 5, groups=["a", "b", "ghost"]
        ).collect()}
        assert got["ghost"]["jsd"] is None and got["ghost"]["n"] == 0
        with pytest.raises(ValueError, match="max_groups"):
            grouped_js_divergence(df, "v", "g", 0.0, 10.0, 5, max_groups=1)


class TestSkyline2D:
    @staticmethod
    def _naive(points, better_x, better_y):
        from collections import Counter

        cnt = Counter(points)
        pts = list(cnt)

        def dominated(p):
            return any(
                better_x(q[0], p[0]) >= 0 and better_y(q[1], p[1]) >= 0
                and q != p
                for q in pts
            )

        return sorted(
            (x, y, cnt[(x, y)]) for (x, y) in pts if not dominated((x, y))
        )

    def test_matches_naive_dominance(self, spark):
        import random

        from datajudge_spark.operators.olap import skyline_2d

        rng = random.Random(3)
        rows = [(rng.randrange(500), rng.randrange(500)) for _ in range(8000)]
        rows += [(5, 490), (5, 490)]  # duplicate frontier point survives
        df = spark.createDataFrame(rows, "x long, y long")
        got = sorted((r.x, r.y, r.n) for r in skyline_2d(df, "x", "y").collect())
        want = self._naive(
            rows, lambda a, b: b - a, lambda a, b: a - b
        )  # min x, max y
        assert got == want

    def test_flipped_directions(self, spark):
        import random

        from datajudge_spark.operators.olap import skyline_2d

        rng = random.Random(9)
        rows = [(rng.randrange(200), rng.randrange(200)) for _ in range(3000)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = sorted(
            (r.x, r.y, r.n)
            for r in skyline_2d(
                df, "x", "y", minimize_x=False, maximize_y=False
            ).collect()
        )
        want = self._naive(
            rows, lambda a, b: a - b, lambda a, b: b - a
        )  # max x, min y
        assert got == want

    def test_single_x_and_empty(self, spark):
        from datajudge_spark.operators.olap import skyline_2d

        one = spark.createDataFrame([(7, 1), (7, 9), (7, 9)], "x long, y long")
        assert sorted(
            (r.x, r.y, r.n) for r in skyline_2d(one, "x", "y").collect()
        ) == [(7, 9, 2)]
        empty = spark.createDataFrame([], "x long, y long")
        assert skyline_2d(empty, "x", "y").collect() == []


class TestGroupedOLS2:
    def test_matches_numpy_lstsq(self, spark):
        import numpy as np

        from datajudge_spark.operators.timeseries import grouped_ols2

        rows = []
        rng = [(d, d % 7 in (2, 3)) for d in range(60)]
        for g, (b0, b1, b2) in (("a", (500, 3, -40)), ("b", (100, -2, 25))):
            for d, wk in rng:
                noise = (d * 7919) % 13 - 6  # deterministic, zero-ish mean
                rows.append((g, d, int(wk), b0 + b1 * d + b2 * int(wk) + noise))
        df = spark.createDataFrame(rows, ["g", "x1", "x2", "y"])
        got = {
            r["grp"]: r
            for r in grouped_ols2(df, "g", "x1", "x2", "y").collect()
        }
        for g in ("a", "b"):
            sub = [(x1, x2, y) for gg, x1, x2, y in rows if gg == g]
            X = np.array([[1.0, x1, x2] for x1, x2, _ in sub])
            Y = np.array([float(y) for _, _, y in sub])
            beta = np.linalg.lstsq(X, Y, rcond=None)[0]
            assert got[g]["n"] == 60
            assert abs(got[g]["beta0"] - beta[0]) < 1e-4
            assert abs(got[g]["beta1"] - beta[1]) < 1e-4
            assert abs(got[g]["beta2"] - beta[2]) < 1e-4
            assert 0.9 < got[g]["r2"] <= 1.0

    def test_collinear_group_is_null_not_garbage(self, spark):
        from datajudge_spark.operators.timeseries import grouped_ols2

        # x2 constant within the group -> singular normal matrix
        df = spark.createDataFrame(
            [("g", d, 1, 10 + d) for d in range(10)], ["g", "x1", "x2", "y"]
        )
        r = grouped_ols2(df, "g", "x1", "x2", "y").collect()[0]
        assert r["n"] == 10
        assert r["beta0"] is None and r["r2"] is None

    def test_zero_variance_y_is_null(self, spark):
        from datajudge_spark.operators.timeseries import grouped_ols2

        df = spark.createDataFrame(
            [("g", d, d % 2, 7) for d in range(10)], ["g", "x1", "x2", "y"]
        )
        r = grouped_ols2(df, "g", "x1", "x2", "y").collect()[0]
        assert r["beta1"] is None and r["r2"] is None


class TestWinsorizedStats:
    def test_matches_naive_clip(self, spark):
        from datajudge_spark.operators.scalars import winsorized_stats

        vals = list(range(1, 101)) + [100000, -50000]  # two wild outliers
        df = spark.createDataFrame([(v,) for v in vals], "x long")
        r = winsorized_stats(df, "x", 5.0, 95.0).collect()[0]
        # reference percentile: smallest v with >= p% of values <= v
        s = sorted(vals)
        n = len(s)
        import math

        lo = s[math.ceil(0.05 * n) - 1]
        hi = s[math.ceil(0.95 * n) - 1]
        clipped = [min(max(v, lo), hi) for v in vals]
        assert r["n"] == n
        assert (r["lo_cut"], r["hi_cut"]) == (lo, hi)
        assert r["n_clipped_lo"] == sum(1 for v in vals if v < lo)
        assert r["n_clipped_hi"] == sum(1 for v in vals if v > hi)
        assert r["winsorized_mean"] == round(sum(clipped) / n, 6)

    def test_outliers_no_longer_drag_the_mean(self, spark):
        from datajudge_spark.operators.scalars import winsorized_stats

        base = [(100,)] * 98 + [(10**12,), (101,)]
        df = spark.createDataFrame(base, "x long")
        r = winsorized_stats(df, "x", 1.0, 99.0).collect()[0]
        assert r["winsorized_mean"] < 200  # plain mean would be ~1e10

    def test_validation(self, spark):
        from datajudge_spark.operators.scalars import winsorized_stats

        df = spark.createDataFrame([(1,)], "x long")
        with pytest.raises(ValueError):
            winsorized_stats(df, "x", 99.0, 1.0)


class TestAutocorrelation:
    def test_matches_naive_pearson(self, spark):
        import datetime as dt
        import math
        import random

        from datajudge_spark.operators.timeseries import autocorrelation

        rng = random.Random(7)
        base = dt.date(2024, 1, 1)
        rows = [
            (base + dt.timedelta(days=i), 500 + 40 * (i % 7) + rng.randint(-30, 30))
            for i in range(90)
        ]
        df = spark.createDataFrame(rows, "day date, v long")
        got = {r["lag"]: r for r in autocorrelation(df, "v", 10).collect()}
        vals = [v for _, v in rows]

        def pearson(xs, ys):
            n = len(xs)
            sx, sy = sum(xs), sum(ys)
            sxy = sum(a * b for a, b in zip(xs, ys))
            sxx = sum(a * a for a in xs)
            syy = sum(b * b for b in ys)
            num = n * sxy - sx * sy
            den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
            return num / den

        for lag in range(1, 11):
            xs, ys = vals[:-lag], vals[lag:]
            assert got[lag]["n_pairs"] == 90 - lag
            assert got[lag]["acf"] == pytest.approx(pearson(xs, ys), abs=1e-6)
        # weekly series: lag-7 autocorrelation dominates its neighbours
        assert got[7]["acf"] > got[6]["acf"]
        assert got[7]["acf"] > got[8]["acf"]
        # Ljung-Box is cumulative and nondecreasing
        q = [got[lag]["ljung_box_q"] for lag in range(1, 11)]
        assert all(b >= a for a, b in zip(q, q[1:]))

    def test_calendar_gaps_drop_pairs(self, spark):
        import datetime as dt

        from datajudge_spark.operators.timeseries import autocorrelation

        base = dt.date(2024, 1, 1)
        # days 0,1,2,4,5 — day 3 missing: lag-1 pairs are (0,1),(1,2),(4,5)
        days = [0, 1, 2, 4, 5]
        df = spark.createDataFrame(
            [(base + dt.timedelta(days=i), 10 + i) for i in days],
            "day date, v long",
        )
        got = {r["lag"]: r for r in autocorrelation(df, "v", 3).collect()}
        assert got[1]["n_pairs"] == 3
        assert got[2]["n_pairs"] == 2  # (0,2),(2,4); (3,5) lacks day 3
        assert got[3]["n_pairs"] == 2  # (1,4),(2,5)

    def test_constant_series_undefined(self, spark):
        import datetime as dt

        from datajudge_spark.operators.timeseries import autocorrelation

        base = dt.date(2024, 1, 1)
        df = spark.createDataFrame(
            [(base + dt.timedelta(days=i), 100) for i in range(30)],
            "day date, v long",
        )
        rows = autocorrelation(df, "v", 5).collect()
        assert all(r["acf"] is None for r in rows)
        # undefined lags contribute 0 to the portmanteau statistic
        assert all(r["ljung_box_q"] == 0.0 for r in rows)


class TestBootstrapCI:
    def test_digest_shape_and_sanity(self, spark):
        from datajudge_spark.operators.resample import bootstrap_mean_ci

        df = spark.createDataFrame(
            [(i, 1000 + (i * 37) % 200) for i in range(500)],
            "k long, cents long",
        )
        row = bootstrap_mean_ci(df, "k", "cents", n_reps=32).first()
        assert row["n_rows"] == 500
        assert row["n_reps"] == 32
        true_mean = sum(1000 + (i * 37) % 200 for i in range(500)) / 500
        assert row["point_mean"] == pytest.approx(true_mean, abs=1e-6)
        assert row["boot_lo"] <= row["boot_median"] <= row["boot_hi"]
        # CI of a 500-point mean with sd ~58 is a few units wide and
        # must bracket the true mean
        assert row["boot_lo"] < true_mean < row["boot_hi"]
        assert row["boot_hi"] - row["boot_lo"] < 25

    def test_deterministic(self, spark):
        from datajudge_spark.operators.resample import bootstrap_mean_ci

        df = spark.createDataFrame(
            [(i, i % 97) for i in range(300)], "k long, v long"
        ).repartition(7)
        a = bootstrap_mean_ci(df, "k", "v", n_reps=16).first()
        b = bootstrap_mean_ci(df, "k", "v", n_reps=16).first()
        assert a == b

    def test_poisson_weights_distribution(self, spark):
        from pyspark.sql import functions as F

        from datajudge_spark.operators.resample import _PPM, _poisson1_sql
        from datajudge_spark.pipeline.text import md5_long_sql

        u_sql = f"({md5_long_sql('CAST(id AS STRING)', salt='boot0')} % {_PPM})"
        df = spark.range(20000).select(F.expr(_poisson1_sql(u_sql)).alias("w"))
        agg = df.agg(
            F.avg("w").alias("mean"),
            F.avg(F.when(F.col("w") == 0, 1.0).otherwise(0.0)).alias("p0"),
        ).first()
        # Poisson(1): mean 1, P(0) = e^-1 = 0.3679
        assert agg["mean"] == pytest.approx(1.0, abs=0.03)
        assert agg["p0"] == pytest.approx(0.3679, abs=0.02)

    def test_validation(self, spark):
        from datajudge_spark.operators.resample import bootstrap_mean_ci

        df = spark.createDataFrame([(1, 1)], "k long, v long")
        with pytest.raises(ValueError):
            bootstrap_mean_ci(df, "k", "v", n_reps=2)
        with pytest.raises(ValueError):
            bootstrap_mean_ci(df, "k", "v", p_lo=0.0)

    def test_null_keys_and_values_excluded(self, spark):
        # a NULL key NULLs the md5 uniform -> every CASE ladder falls
        # to the otherwise branch (constant weight 8 in all replicates);
        # a NULL value inflates the count while dropping from the sums.
        # Both must be filtered: digest equals the clean-rows digest.
        from datajudge_spark.operators.resample import bootstrap_mean_ci

        clean = [(str(i), (i * 31) % 100) for i in range(200)]
        dirty = clean + [(None, 50), ("x1", None), (None, None)]
        df_clean = spark.createDataFrame(clean, "k string, v long")
        df_dirty = spark.createDataFrame(dirty, "k string, v long")
        a = bootstrap_mean_ci(df_clean, "k", "v", n_reps=16).first()
        b = bootstrap_mean_ci(df_dirty, "k", "v", n_reps=16).first()
        assert a == b
        assert b["n_rows"] == 200

    def test_grouped_null_rows_excluded(self, spark):
        from datajudge_spark.operators.resample import (
            grouped_bootstrap_mean_ci,
        )

        clean = [("g", str(i), i % 50) for i in range(100)]
        dirty = clean + [(None, "k0", 1), ("g", None, 2), ("g", "k1", None)]
        a = {
            r["grp"]: r
            for r in grouped_bootstrap_mean_ci(
                spark.createDataFrame(clean, "g string, k string, v long"),
                "g", "k", "v", n_reps=16,
            ).collect()
        }
        b = {
            r["grp"]: r
            for r in grouped_bootstrap_mean_ci(
                spark.createDataFrame(dirty, "g string, k string, v long"),
                "g", "k", "v", n_reps=16,
            ).collect()
        }
        assert a == b

    def test_zero_weight_replicates_rank_last(self, spark):
        # with n=1 a replicate's total weight is 0 with prob e^-1: its
        # mean is NULL and must sort LAST, so boot_lo / boot_median land
        # on defined replicate means (never NULL-shifted)
        from datajudge_spark.operators.resample import bootstrap_mean_ci

        df = spark.createDataFrame([("solo", 42)], "k string, v long")
        row = bootstrap_mean_ci(df, "k", "v", n_reps=64).first()
        # every defined replicate mean of a single 42-valued row is 42
        assert row["boot_lo"] == 42.0
        assert row["boot_median"] == 42.0
        assert row["point_mean"] == 42.0


class TestCategoricalAssociation:
    def test_theils_u_direction(self, spark):
        from datajudge_spark.operators.stats import theils_u

        # b -> a is a FUNCTION (many-to-one): knowing b fully determines
        # a, so U(A|B) = 1; but knowing a leaves b uncertain, U(B|A) < 1
        rows = [(f"g{i % 2}", f"b{i % 6}") for i in range(600)]
        df = spark.createDataFrame(rows, "a string, b string")
        r = theils_u(df, "a", "b").first()
        assert r["n"] == 600
        assert r["u_a_given_b"] == pytest.approx(1.0, abs=1e-6)
        assert r["u_b_given_a"] < 0.5

    def test_theils_u_independent(self, spark):
        from datajudge_spark.operators.stats import theils_u

        # perfectly balanced independent grid: MI = 0 exactly
        rows = [(f"a{i % 3}", f"b{(i // 3) % 4}") for i in range(120)]
        df = spark.createDataFrame(rows, "a string, b string")
        r = theils_u(df, "a", "b").first()
        assert r["u_a_given_b"] == pytest.approx(0.0, abs=1e-9)
        assert r["u_b_given_a"] == pytest.approx(0.0, abs=1e-9)

    def test_theils_u_constant_column_null(self, spark):
        from datajudge_spark.operators.stats import theils_u

        df = spark.createDataFrame(
            [("x", f"b{i % 3}") for i in range(30)], "a string, b string"
        )
        r = theils_u(df, "a", "b").first()
        assert r["u_a_given_b"] is None  # H(A) = 0
        assert r["u_b_given_a"] == pytest.approx(0.0, abs=1e-9)

    def test_cramers_v_extremes(self, spark):
        from datajudge_spark.operators.stats import cramers_v

        # perfect association on a square table: V = 1
        rows = [(f"k{i % 4}", f"k{i % 4}") for i in range(400)]
        r = cramers_v(
            spark.createDataFrame(rows, "a string, b string"), "a", "b"
        ).first()
        assert r["v"] == pytest.approx(1.0, abs=1e-6)
        assert r["dof"] == 9
        # balanced independence: V = 0
        rows = [(f"a{i % 2}", f"b{(i // 2) % 5}") for i in range(200)]
        r = cramers_v(
            spark.createDataFrame(rows, "a string, b string"), "a", "b"
        ).first()
        assert r["v"] == pytest.approx(0.0, abs=1e-9)

    def test_cramers_v_degenerate_1xk(self, spark):
        from datajudge_spark.operators.stats import cramers_v

        df = spark.createDataFrame(
            [("x", f"b{i % 3}") for i in range(30)], "a string, b string"
        )
        r = cramers_v(df, "a", "b").first()
        assert r["dof"] == 0
        assert r["v"] is None


class TestMahalanobisOutliers2D:
    def test_joint_outlier_beats_marginal(self, spark):
        from datajudge_spark.operators.stats import mahalanobis_outliers_2d

        # strongly correlated cloud y ~ 2x, one point on-margin but
        # off-correlation: (50, 20) is within both marginal ranges yet
        # far from the joint structure -> it must rank first
        rows = [(i, 2 * i + (i % 3)) for i in range(1, 101)] + [(50, 20)]
        df = spark.createDataFrame(rows, "x long, y long")
        top = mahalanobis_outliers_2d(df, "x", "y", k=3).collect()
        assert (top[0]["x"], top[0]["y"]) == (50, 20)
        assert top[0]["d2"] > 3 * top[1]["d2"]

    def test_matches_naive_formula(self, spark):
        from datajudge_spark.operators.stats import mahalanobis_outliers_2d

        rows = [(i % 7, (i * i) % 11) for i in range(60)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = {
            (r["x"], r["y"]): (r["cnt"], r["d2"])
            for r in mahalanobis_outliers_2d(df, "x", "y", k=100).collect()
        }
        n = len(rows)
        sx = sum(x for x, _ in rows)
        sy = sum(y for _, y in rows)
        sxx = sum(x * x for x, _ in rows)
        syy = sum(y * y for _, y in rows)
        sxy = sum(x * y for x, y in rows)
        vx, vy, cxy = n * sxx - sx * sx, n * syy - sy * sy, n * sxy - sx * sy
        det = vx * vy - cxy * cxy
        for (x, y), (cnt, d2) in got.items():
            u, v = x - sx / n, y - sy / n
            want = (n - 1) * n * (vy * u * u - 2 * cxy * u * v + vx * v * v) / det
            # operator rounds to 6dp
            assert d2 == pytest.approx(want, abs=1e-6)
        from collections import Counter

        counts = Counter(rows)
        assert got and all(counts[(x, y)] == c for (x, y), (c, _) in got.items())

    def test_singular_covariance_empty(self, spark):
        from datajudge_spark.operators.stats import mahalanobis_outliers_2d

        # perfectly collinear: covariance singular -> empty result
        df = spark.createDataFrame(
            [(i, 3 * i) for i in range(50)], "x long, y long"
        )
        assert mahalanobis_outliers_2d(df, "x", "y").count() == 0

    def test_validation(self, spark):
        from datajudge_spark.operators.stats import mahalanobis_outliers_2d

        df = spark.createDataFrame([(1, 2)], "x long, y long")
        with pytest.raises(ValueError):
            mahalanobis_outliers_2d(df, "x", "y", k=0)


class TestIsotonicCalibration:
    @staticmethod
    def _naive_pava(rows, lo, hi, n_buckets):
        from collections import defaultdict

        width = (hi - lo) / n_buckets
        agg = defaultdict(lambda: [0, 0])
        for x, y in rows:
            b = 0 if hi == lo else min(int((x - lo) / width), n_buckets - 1)
            agg[b][0] += 1
            agg[b][1] += y
        stack = []
        for b in sorted(agg):
            stack.append([agg[b][0], agg[b][1], [b]])
            while (
                len(stack) > 1
                and stack[-2][1] / stack[-2][0] > stack[-1][1] / stack[-1][0]
            ):
                w2, s2, b2 = stack.pop()
                w1, s1, b1 = stack.pop()
                stack.append([w1 + w2, s1 + s2, b1 + b2])
        out = {}
        for w, sy, bs in stack:
            for b in bs:
                out[b] = sy / w
        return out

    def test_matches_stack_pava(self, spark):
        import random

        from datajudge_spark.operators.stats import isotonic_calibration

        rng = random.Random(17)
        rows = [(i, 3 * i + rng.randint(-60, 60)) for i in range(500)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = isotonic_calibration(df, "x", "y", n_buckets=20).collect()
        naive = self._naive_pava(rows, 0.0, 499.0, 20)
        for r in got:
            assert r["fitted"] == pytest.approx(naive[r["bucket"]], abs=1e-6)
        fits = [r["fitted"] for r in got]
        assert all(a <= b + 1e-9 for a, b in zip(fits, fits[1:]))

    def test_already_monotone_is_identity(self, spark):
        from datajudge_spark.operators.stats import isotonic_calibration

        rows = [(i, 10 * (i // 25)) for i in range(250)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = isotonic_calibration(df, "x", "y", n_buckets=10).collect()
        for r in got:
            assert r["fitted"] == pytest.approx(r["mean_y"], abs=1e-6)

    def test_decreasing_pools_to_grand_mean(self, spark):
        from datajudge_spark.operators.stats import isotonic_calibration

        rows = [(i, 1000 - i) for i in range(100)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = isotonic_calibration(df, "x", "y", n_buckets=10).collect()
        grand = sum(1000 - i for i in range(100)) / 100
        for r in got:
            assert r["fitted"] == pytest.approx(grand, abs=1e-6)

    def test_constant_x_single_bucket(self, spark):
        from datajudge_spark.operators.stats import isotonic_calibration

        df = spark.createDataFrame(
            [(5, i) for i in range(40)], "x long, y long"
        )
        got = isotonic_calibration(df, "x", "y", n_buckets=8).collect()
        assert len(got) == 1 and got[0]["bucket"] == 0
        assert got[0]["fitted"] == pytest.approx(19.5, abs=1e-6)

    def test_validation(self, spark):
        from datajudge_spark.operators.stats import isotonic_calibration

        df = spark.createDataFrame([(1, 1)], "x long, y long")
        with pytest.raises(ValueError):
            isotonic_calibration(df, "x", "y", n_buckets=1)


class TestGroupedBootstrapCI:
    def test_groups_match_filtered_global(self, spark):
        from pyspark.sql import functions as F

        from datajudge_spark.operators.resample import (
            bootstrap_mean_ci,
            grouped_bootstrap_mean_ci,
        )

        rows = [(("a" if i % 3 else "b"), i, 100 + (i * 7) % 50)
                for i in range(300)]
        df = spark.createDataFrame(rows, "g string, k long, v long")
        grouped = {
            r["grp"]: r
            for r in grouped_bootstrap_mean_ci(
                df, "g", "k", "v", n_reps=16
            ).collect()
        }
        # a row's weight depends only on (key, replicate), so each
        # group digest must equal the global digest of that group alone
        for g in ("a", "b"):
            solo = bootstrap_mean_ci(
                df.where(F.col("g") == g), "k", "v", n_reps=16
            ).first()
            got = grouped[g]
            assert got["n_rows"] == solo["n_rows"]
            assert got["point_mean"] == solo["point_mean"]
            assert got["boot_lo"] == solo["boot_lo"]
            assert got["boot_median"] == solo["boot_median"]
            assert got["boot_hi"] == solo["boot_hi"]

    def test_validation(self, spark):
        from datajudge_spark.operators.resample import (
            grouped_bootstrap_mean_ci,
        )

        df = spark.createDataFrame([("a", 1, 1)], "g string, k long, v long")
        with pytest.raises(ValueError):
            grouped_bootstrap_mean_ci(df, "g", "k", "v", n_reps=2)


class TestPartialCorrelation:
    def test_confounder_removal(self, spark):
        import random

        from datajudge_spark.operators.stats import partial_correlation

        # x and y both driven by z: raw r_xy is large, partial near 0
        rng = random.Random(31)
        rows = []
        for _ in range(500):
            z = rng.randint(0, 100)
            rows.append(
                (10 * z + rng.randint(-30, 30),
                 5 * z + rng.randint(-30, 30),
                 z)
            )
        df = spark.createDataFrame(rows, "x long, y long, z long")
        r = partial_correlation(df, "x", "y", "z").first()
        assert r["n"] == 500
        assert r["r_xy"] > 0.9
        assert abs(r["r_xy_given_z"]) < 0.2

    def test_matches_naive_formula(self, spark):
        import math
        import random

        from datajudge_spark.operators.stats import partial_correlation

        rng = random.Random(41)
        rows = [
            (rng.randint(0, 50), rng.randint(0, 50), rng.randint(0, 50))
            for _ in range(200)
        ]
        df = spark.createDataFrame(rows, "x long, y long, z long")
        got = partial_correlation(df, "x", "y", "z").first()

        def corr(a, b):
            n = len(a)
            sa, sb = sum(a), sum(b)
            sab = sum(u * v for u, v in zip(a, b))
            saa, sbb = sum(u * u for u in a), sum(v * v for v in b)
            return (n * sab - sa * sb) / (
                math.sqrt(n * saa - sa * sa) * math.sqrt(n * sbb - sb * sb)
            )

        xs = [r[0] for r in rows]
        ys = [r[1] for r in rows]
        zs = [r[2] for r in rows]
        rxy, rxz, ryz = corr(xs, ys), corr(xs, zs), corr(ys, zs)
        want = (rxy - rxz * ryz) / math.sqrt(
            (1 - rxz**2) * (1 - ryz**2)
        )
        assert got["r_xy"] == pytest.approx(rxy, abs=1e-6)
        assert got["r_xy_given_z"] == pytest.approx(want, abs=1e-5)

    def test_degenerate_legs_null(self, spark):
        from datajudge_spark.operators.stats import partial_correlation

        # constant z: r_xz/r_yz undefined -> partial NULL, r_xy intact
        df = spark.createDataFrame(
            [(i, 2 * i + i % 3, 7) for i in range(50)],
            "x long, y long, z long",
        )
        r = partial_correlation(df, "x", "y", "z").first()
        assert r["r_xy"] is not None
        assert r["r_xz"] is None and r["r_xy_given_z"] is None


class TestRoundSixGuards:
    def test_bootstrap_rep_cap(self, spark):
        from datajudge_spark.operators.resample import bootstrap_mean_ci

        df = spark.createDataFrame([(1, 1)], "k long, v long")
        with pytest.raises(ValueError):
            bootstrap_mean_ci(df, "k", "v", n_reps=5000)

    def test_isotonic_bucket_cap(self, spark):
        from datajudge_spark.operators.stats import isotonic_calibration

        df = spark.createDataFrame([(1, 1)], "x long, y long")
        with pytest.raises(ValueError):
            isotonic_calibration(df, "x", "y", n_buckets=100000)


class TestMannKendall:
    def test_matches_naive(self, spark):
        import datetime as dt
        import math
        import random

        from datajudge_spark.operators.timeseries import mann_kendall

        rng = random.Random(29)
        base = dt.date(2024, 1, 1)
        # noisy upward trend WITH ties (values on a coarse grid)
        vals = [100 + i // 3 * 5 + rng.randint(0, 10) for i in range(60)]
        rows = [
            (base + dt.timedelta(days=i), v) for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(rows, "day date, v long")
        got = mann_kendall(df, "v").first()
        n = len(vals)
        s = sum(
            (vals[j] > vals[i]) - (vals[j] < vals[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        tie_sizes = {}
        for v in vals:
            tie_sizes[v] = tie_sizes.get(v, 0) + 1
        tie_term = sum(
            t * (t - 1) * (2 * t + 5) for t in tie_sizes.values()
        )
        var_s = (n * (n - 1) * (2 * n + 5) - tie_term) / 18.0
        z = (s - 1) / math.sqrt(var_s) if s > 0 else (
            (s + 1) / math.sqrt(var_s) if s < 0 else 0.0
        )
        assert got["n_days"] == n
        assert got["s_stat"] == s
        assert got["var_s"] == pytest.approx(var_s, rel=1e-12)
        assert got["z"] == pytest.approx(z, rel=1e-12)
        # a clear upward trend must reject "no trend"
        assert got["z"] > 1.96

    def test_grouped_equals_per_group_solo(self, spark):
        import datetime as dt
        import random

        from pyspark.sql import functions as F

        from datajudge_spark.operators.timeseries import mann_kendall

        rng = random.Random(31)
        base = dt.date(2024, 1, 1)
        rows = [
            (g, base + dt.timedelta(days=i),
             100 + k * i + rng.randint(0, 20))
            for k, g in enumerate(["flat", "drift"])
            for i in range(80)
        ]
        df = spark.createDataFrame(rows, "g string, day date, v long")
        grouped = {
            r["g"]: r
            for r in mann_kendall(df, "v", group_col="g").collect()
        }
        for g in ("flat", "drift"):
            solo = mann_kendall(
                df.where(F.col("g") == g).drop("g"), "v"
            ).first()
            for fld in ("n_days", "s_stat", "var_s", "z"):
                assert grouped[g][fld] == solo[fld], (g, fld)
        assert abs(grouped["drift"]["z"]) > abs(grouped["flat"]["z"])

    def test_seasonal_matches_naive_and_beats_plain_under_cycle(
        self, spark
    ):
        import datetime as dt
        import math

        from datajudge_spark.operators.timeseries import (
            mann_kendall,
            seasonal_mann_kendall,
        )

        base = dt.date(2024, 1, 1)
        # strong weekly cycle + a slow upward drift
        vals = [1000 + (i % 7) * 500 + i for i in range(84)]
        rows = [
            (base + dt.timedelta(days=i), v) for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(rows, "day date, v long")
        got = seasonal_mann_kendall(df, "v").first()
        # naive per-weekday recompute
        strata: dict[int, list[int]] = {}
        for i, v in enumerate(vals):
            strata.setdefault(i % 7, []).append(v)
        s_tot, var_tot = 0, 0.0
        for vs in strata.values():
            n = len(vs)
            s_tot += sum(
                (vs[j] > vs[i]) - (vs[j] < vs[i])
                for i in range(n)
                for j in range(i + 1, n)
            )
            tie: dict[int, int] = {}
            for v in vs:
                tie[v] = tie.get(v, 0) + 1
            term = sum(t * (t - 1) * (2 * t + 5) for t in tie.values())
            var_tot += (n * (n - 1) * (2 * n + 5) - term) / 18.0
        z = (s_tot - 1) / math.sqrt(var_tot)
        assert got["n_days"] == 84 and got["n_seasons"] == 7
        assert got["s_stat"] == s_tot
        assert got["var_s"] == pytest.approx(var_tot, rel=1e-12)
        assert got["z"] == pytest.approx(z, rel=1e-12)
        # within each weekday the series is strictly increasing: the
        # seasonal z must scream while the cycle dilutes the plain z
        plain = mann_kendall(df, "v").first()
        assert got["z"] > plain["z"]
        assert got["z"] > 1.96

    def test_grouped_single_day_group_kept(self, spark):
        import datetime as dt

        from datajudge_spark.operators.timeseries import mann_kendall

        base = dt.date(2024, 1, 1)
        rows = [("solo", base, 5)] + [
            ("many", base + dt.timedelta(days=i), 10 + i) for i in range(5)
        ]
        df = spark.createDataFrame(rows, "g string, day date, v long")
        got = {
            r["g"]: r
            for r in mann_kendall(df, "v", group_col="g").collect()
        }
        # a single-day group has no pairs but must still appear
        assert got["solo"]["n_days"] == 1
        assert got["solo"]["s_stat"] == 0
        assert got["solo"]["var_s"] is None and got["solo"]["z"] is None
        assert got["many"]["s_stat"] == 10

    def test_no_trend_and_degenerate(self, spark):
        import datetime as dt

        from datajudge_spark.operators.timeseries import mann_kendall

        base = dt.date(2024, 1, 1)
        flat = spark.createDataFrame(
            [(base + dt.timedelta(days=i), 7) for i in range(20)],
            "day date, v long",
        )
        r = mann_kendall(flat, "v").first()
        # all ties: S = 0 and the tie correction zeroes the variance
        assert r["s_stat"] == 0 and r["var_s"] == 0.0 and r["z"] is None
        one = spark.createDataFrame(
            [(base, 3)], "day date, v long"
        )
        r = mann_kendall(one, "v").first()
        assert r["n_days"] == 1 and r["var_s"] is None and r["z"] is None


class TestSourceOverlap:
    def test_matrix_and_jaccard(self, spark):
        from datajudge_spark.pipeline.decontam import source_overlap

        rows = [
            ("s1", "alpha beta gamma delta"),
            ("s2", "alpha beta gamma epsilon"),
            ("s3", "totally different words here"),
        ]
        df = spark.createDataFrame(rows, "src string, text string")
        got = {
            (r["src_a"], r["src_b"]): r
            for r in source_overlap(df, "src", "text", 3).collect()
        }
        # s1: {abg, bgd}; s2: {abg, bge}; shared {abg} -> jaccard 1/3
        r = got[("s1", "s2")]
        assert r["n_shared"] == 1
        assert r["jaccard"] == pytest.approx(1 / 3, abs=1e-6)
        assert ("s1", "s3") not in got and ("s2", "s3") not in got

    def test_ubiquitous_hash_excluded(self, spark):
        from datajudge_spark.pipeline.decontam import source_overlap

        # "common one two" appears in ALL four sources; with
        # max_breadth=3 it is boilerplate and must not create pairs or
        # count toward totals
        rows = [(f"s{i}", "common one two") for i in range(4)] + [
            ("s0", "shared rare gram x"),
            ("s1", "shared rare gram y"),
        ]
        df = spark.createDataFrame(rows, "src string, text string")
        got = {
            (r["src_a"], r["src_b"]): r
            for r in source_overlap(
                df, "src", "text", 3, max_breadth=3
            ).collect()
        }
        # only the rare "shared rare gram" hash survives: s0-s1 share 1
        # of their 2 surviving grams each -> jaccard 1/3
        assert set(got) == {("s0", "s1")}
        assert got[("s0", "s1")]["n_shared"] == 1
        assert got[("s0", "s1")]["jaccard"] == pytest.approx(
            1 / 3, abs=1e-6
        )


class TestPerSourceNovelty:
    def test_unique_vs_redundant(self, spark):
        from datajudge_spark.pipeline.decontam import per_source_novelty

        rows = [
            ("u", "totally unique content lives here"),
            ("m1", "mirrored passage appears twice verbatim"),
            ("m2", "mirrored passage appears twice verbatim"),
        ]
        df = spark.createDataFrame(rows, "src string, text string")
        got = {
            r["src"]: r
            for r in per_source_novelty(df, "src", "text", 3).collect()
        }
        assert got["u"]["novelty_fraction"] == 1.0
        assert got["m1"]["novelty_fraction"] == 0.0
        assert got["m2"]["novelty_fraction"] == 0.0
        assert got["u"]["n_shared_elsewhere"] == 0
        assert (
            got["m1"]["n_shared_elsewhere"] == got["m1"]["n_ngrams"]
        )


class TestNgramNovelty:
    def test_counts(self, spark):
        from datajudge_spark.pipeline.decontam import ngram_novelty

        train = spark.createDataFrame(
            [(1, "the quick brown fox jumps"),
             (2, "over the lazy dog today")],
            "doc_id long, text string",
        )
        # test doc shares "the quick brown" / "quick brown fox" /
        # "brown fox jumps" with train; "fox jumps high" is novel
        test = spark.createDataFrame(
            [(10, "the quick brown fox jumps high")],
            "doc_id long, text string",
        )
        row = ngram_novelty(train, test, "doc_id", "text", 3).first()
        assert row["n_test_ngrams"] == 4
        assert row["n_shared"] == 3
        assert row["novelty_fraction"] == pytest.approx(0.25)

    def test_empty_test_side(self, spark):
        from datajudge_spark.pipeline.decontam import ngram_novelty

        train = spark.createDataFrame(
            [(1, "a b c d")], "doc_id long, text string"
        )
        test = spark.createDataFrame(
            [], "doc_id long, text string"
        )
        row = ngram_novelty(train, test, "doc_id", "text", 3).first()
        assert row["n_test_ngrams"] == 0
        assert row["n_shared"] == 0
        assert row["novelty_fraction"] is None


class TestGumbelReturnLevel:
    def test_matches_naive_fit(self, spark):
        import datetime as dt
        import math
        import random

        from datajudge_spark.operators.timeseries import (
            EULER_GAMMA,
            gumbel_return_level,
        )

        rng = random.Random(53)
        base = dt.date(2023, 1, 1)
        rows = [
            (base + dt.timedelta(days=i), 1000 + rng.randint(0, 400))
            for i in range(365)
        ]
        df = spark.createDataFrame(rows, "day date, v long")
        got = gumbel_return_level(df, "v", "month", (12,)).first()
        # naive: monthly maxima -> moments fit
        maxima: dict[tuple[int, int], int] = {}
        for d, v in rows:
            key = (d.year, d.month)
            maxima[key] = max(maxima.get(key, 0), v)
        ms = list(maxima.values())
        n = len(ms)
        mean = sum(ms) / n
        var = (n * sum(m * m for m in ms) - sum(ms) ** 2) / (n * (n - 1))
        sd = math.sqrt(var)
        beta = sd * math.sqrt(6.0) / math.pi
        mu = mean - EULER_GAMMA * beta
        rl = mu - beta * math.log(-math.log(1.0 - 1.0 / 12))
        assert got["n_blocks"] == 12
        assert got["max_observed"] == max(ms)
        assert got["mu"] == pytest.approx(mu, rel=1e-9)
        assert got["beta"] == pytest.approx(beta, rel=1e-9)
        assert got["rl_12"] == pytest.approx(rl, rel=1e-9)
        # the 1-year return level should sit near the observed peak
        assert got["rl_12"] > mean

    def test_grouped_equals_per_group_solo(self, spark):
        import datetime as dt
        import random

        from pyspark.sql import functions as F

        from datajudge_spark.operators.timeseries import (
            gumbel_return_level,
        )

        rng = random.Random(7)
        base = dt.date(2023, 1, 1)
        rows = [
            (g, base + dt.timedelta(days=i), 500 + rng.randint(0, 300 + k))
            for k, g in enumerate(["a", "b", "c"])
            for i in range(200)
        ]
        df = spark.createDataFrame(rows, "g string, day date, v long")
        grouped = {
            r["g"]: r
            for r in gumbel_return_level(
                df, "v", "month", (12,), group_col="g"
            ).collect()
        }
        assert set(grouped) == {"a", "b", "c"}
        for g in grouped:
            solo = gumbel_return_level(
                df.where(F.col("g") == g).drop("g"), "v", "month", (12,)
            ).first()
            for fld in ("n_blocks", "max_observed", "mu", "beta", "rl_12"):
                assert grouped[g][fld] == solo[fld], (g, fld)

    def test_grouped_acf_equals_per_group_solo(self, spark):
        import datetime as dt
        import random

        from pyspark.sql import functions as F

        from datajudge_spark.operators.timeseries import autocorrelation

        rng = random.Random(11)
        base = dt.date(2024, 1, 1)
        rows = [
            (g, base + dt.timedelta(days=i),
             100 + (i % (5 + k)) * 10 + rng.randint(0, 5))
            for k, g in enumerate(["a", "b"])
            for i in range(90)
        ]
        df = spark.createDataFrame(rows, "g string, day date, v long")
        grouped = {
            (r["g"], r["lag"]): r
            for r in autocorrelation(
                df, "v", max_lag=5, group_col="g"
            ).collect()
        }
        for g in ("a", "b"):
            solo = autocorrelation(
                df.where(F.col("g") == g).drop("g"), "v", max_lag=5
            ).collect()
            for r in solo:
                got = grouped[(g, r["lag"])]
                for fld in ("n_pairs", "acf", "ljung_box_q"):
                    assert got[fld] == r[fld], (g, r["lag"], fld)

    def test_degenerate_inputs_null(self, spark):
        import datetime as dt

        from datajudge_spark.operators.timeseries import (
            gumbel_return_level,
        )

        # single block: no variance estimate possible
        one = spark.createDataFrame(
            [(dt.date(2024, 1, 1 + i), 100 + i) for i in range(10)],
            "day date, v long",
        )
        r = gumbel_return_level(one, "v", "month", (12,)).first()
        assert r["n_blocks"] == 1 and r["mu"] is None and r["rl_12"] is None
        # constant series across blocks: zero variance
        flat = spark.createDataFrame(
            [(dt.date(2024, 1, 1) + dt.timedelta(days=30 * i), 100)
             for i in range(6)],
            "day date, v long",
        )
        r = gumbel_return_level(flat, "v", "month", (12,)).first()
        assert r["beta"] is None

    def test_validation(self, spark):
        import datetime as dt

        from datajudge_spark.operators.timeseries import (
            gumbel_return_level,
        )

        df = spark.createDataFrame(
            [(dt.date(2024, 1, 1), 1)], "day date, v long"
        )
        with pytest.raises(ValueError):
            gumbel_return_level(df, "v", return_periods=())
        with pytest.raises(ValueError):
            gumbel_return_level(df, "v", return_periods=(1,))


class TestExactSmallNKsPvalue:
    """The n<35 KS p-value path: exact Marsaglia-Tsang-Wang evaluation
    of the one-sample KS distribution (round-8; VERDICT r7 item 6),
    validated against Steck's determinant formula in exact rational
    arithmetic — an independent published construction."""

    @staticmethod
    def _steck_cdf(n: int, d):
        """P(D_n < d) via n! * det[((b_i - a_j)+)^(j-i+1)/(j-i+1)!]
        (Steck 1971) over the KS bands a_i = i/n - d, b_i = (i-1)/n + d,
        computed in Fractions — exact."""
        import math as m
        from fractions import Fraction as Fr

        a = [max(Fr(0), Fr(i, n) - d) for i in range(1, n + 1)]
        b = [min(Fr(1), Fr(i - 1, n) + d) for i in range(1, n + 1)]
        M = [[Fr(0)] * n for _ in range(n)]
        for i in range(n):
            for j in range(n):
                e = j - i + 1
                if e < 0:
                    continue
                diff = max(b[i] - a[j], Fr(0))
                M[i][j] = diff**e / Fr(m.factorial(e))
        det = Fr(1)
        for c in range(n):
            piv = next((r for r in range(c, n) if M[r][c] != 0), None)
            if piv is None:
                return Fr(0)
            if piv != c:
                M[c], M[piv] = M[piv], M[c]
                det = -det
            det *= M[c][c]
            inv = 1 / M[c][c]
            for r in range(c + 1, n):
                f = M[r][c] * inv
                if f:
                    for k in range(c, n):
                        M[r][k] -= f * M[c][k]
        return det * m.factorial(n)

    def test_matches_steck_exact(self):
        from fractions import Fraction as Fr

        from datajudge_spark.constraints.stats import _ks_one_sample_cdf

        for n in (1, 2, 3, 5, 10, 20, 34):
            for dnum, dden in [(1, 10), (1, 4), (2, 5), (1, 2), (7, 10)]:
                exact = float(self._steck_cdf(n, Fr(dnum, dden)))
                got = _ks_one_sample_cdf(dnum / dden, n)
                assert got == pytest.approx(exact, abs=1e-10), (n, dnum, dden)

    def test_n1_closed_form(self):
        # D_1 = max(U, 1-U): P(D_1 < d) = 2d - 1 on (1/2, 1)
        from datajudge_spark.constraints.stats import _ks_one_sample_cdf

        assert _ks_one_sample_cdf(0.75, 1) == pytest.approx(0.5)
        assert _ks_one_sample_cdf(0.5, 1) == 0.0
        assert _ks_one_sample_cdf(1.0, 1) == 1.0

    def test_small_sample_pvalue_no_warning(self):
        import warnings as w

        from datajudge_spark.constraints.stats import KolmogorovSmirnov2Sample

        with w.catch_warnings():
            w.simplefilter("error")
            p = KolmogorovSmirnov2Sample.approximate_p_value(0.3, 20, 20)
        # en = round(400/40) = 10; golden from the Steck cross-check:
        # sf(0.3, 10) = 1 - K(10, 0.3)
        from fractions import Fraction as Fr

        expected = 1.0 - float(self._steck_cdf(10, Fr(3, 10)))
        assert p == pytest.approx(expected, abs=1e-10)
        assert 0.0 < p < 1.0


class TestRank2SampleTests:
    """Anderson-Darling / Cramér-von Mises 2-sample digests vs an
    independent driver-side brute force of the same tie-aware discrete
    formulas (round-8 addition)."""

    @staticmethod
    def _brute(x, y):
        t1, t2 = len(x), len(y)
        n = t1 + t2
        c1 = c2 = 0
        ad = cvm = 0.0
        for v in sorted(set(x) | set(y)):
            l1, l2 = x.count(v), y.count(v)
            c1, c2 = c1 + l1, c2 + l2
            b = c1 + c2
            if b < n:
                num = n * c1 - t1 * b
                ad += (
                    (l1 + l2) / n * num * num / (b * (n - b))
                    * (1.0 / t1 + 1.0 / t2)
                )
            d = c1 / t1 - c2 / t2
            cvm += (l1 + l2) * d * d
        return ad, cvm * t1 * t2 / n**2

    def test_matches_brute_force(self, spark):
        from datajudge_spark.operators.stats import rank_2sample_tests

        cases = [
            ([1, 1, 2, 3, 5, 8], [2, 2, 3, 4]),
            ([1, 2, 3], [4, 5, 6]),              # disjoint
            ([7, 7, 7], [7, 7]),                 # all ties
            (list(range(40)), list(range(5, 50, 2))),
        ]
        for x, y in cases:
            d1 = spark.createDataFrame([(v,) for v in x], "v int")
            d2 = spark.createDataFrame([(v,) for v in y], "v int")
            row = rank_2sample_tests(d1, d2, "v", "v").collect()[0]
            ad, cvm = self._brute(x, y)
            assert row["n1"] == len(x) and row["n2"] == len(y)
            assert row["ad"] == pytest.approx(ad, rel=1e-9), (x, y)
            assert row["cvm"] == pytest.approx(cvm, rel=1e-9), (x, y)

    def test_identical_samples_near_zero_cvm(self, spark):
        from datajudge_spark.operators.stats import rank_2sample_tests

        d = spark.createDataFrame([(v,) for v in range(30)], "v int")
        row = rank_2sample_tests(d, d, "v", "v").collect()[0]
        assert row["cvm"] == pytest.approx(0.0, abs=1e-12)

    def test_empty_side_raises(self, spark):
        from datajudge_spark.operators.stats import rank_2sample_tests

        d = spark.createDataFrame([(1,)], "v int")
        e = d.where("v > 99")
        with pytest.raises(ValueError):
            rank_2sample_tests(d, e, "v", "v").collect()


class TestJarqueBera:
    """Exact-power-sum skew/kurtosis/JB vs a driver-side brute force."""

    @staticmethod
    def _brute(xs):
        n = len(xs)
        mu = sum(xs) / n
        m2 = sum((x - mu) ** 2 for x in xs) / n
        m3 = sum((x - mu) ** 3 for x in xs) / n
        m4 = sum((x - mu) ** 4 for x in xs) / n
        if n < 2 or m2 == 0:
            return None, None, None
        g1 = m3 / m2**1.5
        g2 = m4 / m2**2
        return g1, g2, n / 6 * (g1 * g1 + (g2 - 3) ** 2 / 4)

    def test_matches_brute_force(self, spark):
        from datajudge_spark.operators.stats import jarque_bera

        cases = [
            [1, 2, 3, 4, 5, 100],            # heavy right skew
            [5, 5, 5, 6, 6, 6],              # near-symmetric
            list(range(-20, 21)),            # uniform: g2 ~ 1.8
            [7],                             # n=1 -> NULL stats
            [4, 4, 4, 4],                    # zero variance -> NULL
        ]
        rows = [(f"g{i}", x) for i, xs in enumerate(cases) for x in xs]
        df = spark.createDataFrame(rows, "g string, v long")
        got = {
            r["g"]: r
            for r in jarque_bera(df, "v", group_col="g").collect()
        }
        for i, xs in enumerate(cases):
            g1, g2, jb = self._brute(xs)
            r = got[f"g{i}"]
            assert r["n"] == len(xs)
            if g1 is None:
                assert r["skewness"] is None and r["jb"] is None
            else:
                assert r["skewness"] == pytest.approx(g1, abs=2e-6)
                assert r["kurtosis"] == pytest.approx(g2, abs=2e-6)
                assert r["jb"] == pytest.approx(jb, abs=2e-6)

    def test_ungrouped_single_row(self, spark):
        from datajudge_spark.operators.stats import jarque_bera

        df = spark.createDataFrame([(v,) for v in [1, 2, 3, 9]], "v long")
        out = jarque_bera(df, "v").collect()
        assert len(out) == 1 and out[0]["n"] == 4

    def test_decimal_overflow_raises_not_nulls(self, spark):
        # deviations ~ 4e10 -> (x-c)^4 ~ 2.6e42 > DECIMAL(38,0): under
        # ANSI the per-row cast raises; under non-ANSI the sum would be
        # silently WRONG (overflowed rows null out of the sum) — the
        # n*max(|x-c|)^4 guard must surface an explicit error either way
        from datajudge_spark.operators.stats import jarque_bera

        df = spark.createDataFrame(
            [(0,), (80_000_000_000,), (1,)], "v long"
        )
        with pytest.raises(Exception, match=r"(?i)decimal\(38,\s*0\)"):
            jarque_bera(df, "v").collect()

    def test_large_magnitude_exact_via_shift(self, spark):
        # |x| ~ 1e10 with small spread: raw power sums would both
        # overflow DECIMAL(38,0) per-row AND cancel catastrophically in
        # doubles; the mean-shift makes the digest exact
        from datajudge_spark.operators.stats import jarque_bera

        vals = [10_000_000_000 + k for k in (0, 1, 2, 3, 100)]
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        r = jarque_bera(df, "v").collect()[0]
        g1, g2, jb = self._brute(vals)
        assert r["skewness"] == pytest.approx(g1, abs=2e-6)
        assert r["kurtosis"] == pytest.approx(g2, abs=2e-6)
        assert r["jb"] == pytest.approx(jb, abs=2e-6)
        assert r["mean"] == pytest.approx(sum(vals) / len(vals), abs=1e-4)

    def test_cents_scale_exact_via_shift(self, spark):
        # |x| ~ 1e7 (cents-scale money): pre-shift this computed
        # skewness 0.0 (double cancellation in the raw expansion)
        from datajudge_spark.operators.stats import jarque_bera

        vals = [10_000_000 + k for k in (0, 1, 2, 3, 100)]
        df = spark.createDataFrame([(v,) for v in vals], "v long")
        r = jarque_bera(df, "v").collect()[0]
        g1, g2, jb = self._brute(vals)
        assert r["skewness"] == pytest.approx(g1, abs=2e-6)
        assert r["jb"] == pytest.approx(jb, abs=2e-6)


class TestTwoProportionZtest:
    def test_known_value(self, spark):
        import math

        from datajudge_spark.operators.stats import two_proportion_ztest

        # A: 30/100, B: 20/100 -> pooled .25, z = .1/sqrt(.25*.75*.02)
        rows = [("a", 1)] * 30 + [("a", 0)] * 70 \
            + [("b", 1)] * 20 + [("b", 0)] * 80
        df = spark.createDataFrame(rows, "pop string, ok int")
        r = two_proportion_ztest(
            df,
            F.col("pop") == "a",
            F.col("pop") == "b",
            F.col("ok") == 1,
        ).collect()[0]
        z = 0.1 / math.sqrt(0.25 * 0.75 * 0.02)
        assert (r["n_a"], r["successes_a"]) == (100, 30)
        assert r["rate_a"] == 0.3 and r["rate_b"] == 0.2
        assert r["z"] == pytest.approx(z, abs=1e-6)

    def test_degenerate_zero_variance(self, spark):
        from datajudge_spark.operators.stats import two_proportion_ztest

        df = spark.createDataFrame(
            [("a", 0), ("b", 0)], "pop string, ok int"
        )
        r = two_proportion_ztest(
            df, F.col("pop") == "a", F.col("pop") == "b",
            F.col("ok") == 1,
        ).collect()[0]
        assert r["z"] is None  # pooled rate 0 -> zero variance


class TestGroupedPsi:
    def test_per_group_equals_conditional_on_slice(self, spark):
        from datajudge_spark.operators.stats import (
            grouped_psi,
            psi_drift_conditional,
        )

        rng = __import__("random").Random(7)
        rows = [
            (rng.choice(["x", "y"]), rng.choice([1, 2]),
             rng.uniform(0, 100) if rng.random() < 0.9 else None)
            for _ in range(400)
        ]
        df = spark.createDataFrame(rows, "g string, half int, v double")
        per = {
            r["g"]: r["psi"]
            for r in grouped_psi(
                df, "g", "v",
                F.col("half") == 1, F.col("half") == 2,
                lo=0.0, hi=100.0, n_buckets=5,
            ).collect()
        }
        for g in ["x", "y"]:
            solo = psi_drift_conditional(
                df.where(F.col("g") == g), "v",
                F.col("half") == 1, F.col("half") == 2,
                lo=0.0, hi=100.0, n_buckets=5,
            ).collect()[0]["psi"]
            assert per[g] == pytest.approx(solo, abs=1e-9), g


class TestKendallTauB:
    @staticmethod
    def _brute(pairs):
        n = len(pairs)
        c = d = 0
        for i in range(n):
            for j in range(i + 1, n):
                sx = (pairs[j][0] > pairs[i][0]) - (pairs[j][0] < pairs[i][0])
                sy = (pairs[j][1] > pairs[i][1]) - (pairs[j][1] < pairs[i][1])
                if sx * sy > 0:
                    c += 1
                elif sx * sy < 0:
                    d += 1
        tx = ty = 0
        for k in (0, 1):
            vals = [p[k] for p in pairs]
            for v in set(vals):
                t = vals.count(v)
                (tx, ty) = (tx + t * (t - 1), ty) if k == 0 else (tx, ty + t * (t - 1))
        import math

        n0x2 = n * (n - 1)
        den = math.sqrt((n0x2 - tx) * (n0x2 - ty)) / 2
        return c, d, ((c - d) / den if den > 0 else None)

    def test_matches_brute_force(self, spark):
        import datetime as dt

        from datajudge_spark.operators.timeseries import kendall_tau_b

        rng = __import__("random").Random(13)
        cases = [
            [(i, i * 2) for i in range(10)],                  # tau = 1
            [(i, -i) for i in range(8)],                      # tau = -1
            [(rng.randint(0, 4), rng.randint(0, 4)) for _ in range(30)],
            [(3, 1), (3, 2)],                                 # x fully tied
            [(1, 1)],                                         # single day
        ]
        for ci, pairs in enumerate(cases):
            rows = [
                (dt.date(2024, 1, 1) + dt.timedelta(days=i), x, y)
                for i, (x, y) in enumerate(pairs)
            ]
            df = spark.createDataFrame(rows, "day date, x long, y long")
            r = kendall_tau_b(df, "x", "y").collect()[0]
            c, d, tau = self._brute(pairs)
            assert (r["n_days"], r["concordant"], r["discordant"]) == (
                len(pairs), c, d,
            ), f"case {ci}"
            if tau is None:
                assert r["tau_b"] is None
            else:
                assert r["tau_b"] == pytest.approx(tau, abs=1e-12), f"case {ci}"


class TestCupedAdjustedDiff:
    @staticmethod
    def _brute(rows):
        # rows: (x, y, variant in {0,1}); theta pooled; a = variant 0
        n = len(rows)
        sx = sum(r[0] for r in rows); sy = sum(r[1] for r in rows)
        sxx = sum(r[0] ** 2 for r in rows)
        syy = sum(r[1] ** 2 for r in rows)
        sxy = sum(r[0] * r[1] for r in rows)
        a = [r for r in rows if r[2] == 0]
        b = [r for r in rows if r[2] == 1]
        covn = n * sxy - sx * sy
        varxn = n * sxx - sx * sx
        varyn = n * syy - sy * sy
        theta = covn / varxn if varxn > 0 else None
        mya = sum(r[1] for r in a) / len(a)
        myb = sum(r[1] for r in b) / len(b)
        mxa = sum(r[0] for r in a) / len(a)
        mxb = sum(r[0] for r in b) / len(b)
        diff_raw = mya - myb
        cuped = diff_raw - theta * (mxa - mxb) if theta is not None else None
        rho2 = covn**2 / (varxn * varyn) if varxn > 0 and varyn > 0 else None
        return len(a), len(b), diff_raw, theta, cuped, rho2

    def test_matches_brute_force(self, spark):
        from datajudge_spark.operators.stats import cuped_adjusted_diff

        rng = __import__("random").Random(29)
        rows = []
        for i in range(200):
            x = rng.randint(0, 500)
            # post correlated with pre + a variant lift
            v = i % 2
            y = x * 2 + rng.randint(0, 100) + (40 if v == 0 else 0)
            rows.append((x, y, v))
        df = spark.createDataFrame(rows, "x long, y long, v int")
        r = cuped_adjusted_diff(df, "x", "y", "v").collect()[0]
        na, nb, diff_raw, theta, cuped, rho2 = self._brute(rows)
        assert (r["n_a"], r["n_b"]) == (na, nb)
        assert r["diff_raw"] == pytest.approx(diff_raw, abs=2e-6)
        assert r["theta"] == pytest.approx(theta, abs=2e-6)
        assert r["diff_cuped"] == pytest.approx(cuped, abs=2e-6)
        assert r["rho2"] == pytest.approx(rho2, abs=2e-6)
        # strong pre/post correlation -> most variance explained
        assert r["rho2"] > 0.8

    def test_zero_pre_variance_yields_null_theta(self, spark):
        from datajudge_spark.operators.stats import cuped_adjusted_diff

        rows = [(7, 10, 0), (7, 20, 1), (7, 30, 0), (7, 40, 1)]
        df = spark.createDataFrame(rows, "x long, y long, v int")
        r = cuped_adjusted_diff(df, "x", "y", "v").collect()[0]
        assert r["theta"] is None and r["diff_cuped"] is None
        assert r["diff_raw"] == pytest.approx(-10.0)

    def test_not_two_levels_raises(self, spark):
        from datajudge_spark.operators.stats import cuped_adjusted_diff

        df = spark.createDataFrame([(1, 2, 0)], "x long, y long, v int")
        with pytest.raises(ValueError, match="two assignment levels"):
            cuped_adjusted_diff(df, "x", "y", "v")


class TestLogrankTest:
    @staticmethod
    def _brute(subjects):
        # subjects: (duration, event, group in {0,1}); group 0 = "1"
        times = sorted({t for t, e, _g in subjects if e == 1})
        o1 = 0
        e1 = v = 0.0
        for t in times:
            n1 = sum(1 for d, _e, g in subjects if d >= t and g == 0)
            n2 = sum(1 for d, _e, g in subjects if d >= t and g == 1)
            d1 = sum(1 for d, e, g in subjects if d == t and e == 1 and g == 0)
            d2 = sum(1 for d, e, g in subjects if d == t and e == 1 and g == 1)
            d, nn = d1 + d2, n1 + n2
            o1 += d1
            e1 += d * n1 / nn
            if nn > 1:
                v += d * (n1 / nn) * (n2 / nn) * (nn - d) / (nn - 1)
        chi2 = (o1 - e1) ** 2 / v if v > 0 else None
        return o1, e1, chi2

    def test_matches_brute_force(self, spark):
        from datajudge_spark.operators.timeseries import logrank_test

        rng = __import__("random").Random(31)
        cases = []
        # clearly different curves: group 1 lives longer (shifted durations)
        cases.append([
            (rng.randint(1, 10) + (0 if i % 2 == 0 else 8),
             rng.random() < 0.8, i % 2)
            for i in range(80)
        ])
        # identical distributions (chi2 small), heavy ties
        cases.append([
            (rng.randint(1, 4), rng.random() < 0.6, i % 2)
            for i in range(60)
        ])
        for ci, subjects in enumerate(cases):
            subjects = [(d, int(e), g) for d, e, g in subjects]
            df = spark.createDataFrame(
                subjects, "dur int, ev int, grp int"
            )
            r = logrank_test(df, "dur", "ev", "grp").collect()[0]
            o1, e1, chi2 = self._brute(subjects)
            assert r["observed_1"] == o1, f"case {ci}"
            assert r["expected_1"] == pytest.approx(e1, abs=2e-6)
            if chi2 is None:
                assert r["chi2"] is None
            else:
                assert r["chi2"] == pytest.approx(chi2, abs=2e-5), f"case {ci}"

    def test_no_events_yields_null_chi2(self, spark):
        from datajudge_spark.operators.timeseries import logrank_test

        df = spark.createDataFrame(
            [(5, 0, 0), (6, 0, 1)], "dur int, ev int, grp int"
        )
        out = logrank_test(df, "dur", "ev", "grp").collect()
        assert out == [] or out[0]["chi2"] is None

    def test_not_two_groups_raises(self, spark):
        from datajudge_spark.operators.timeseries import logrank_test

        df = spark.createDataFrame([(1, 1, 0)], "dur int, ev int, grp int")
        with pytest.raises(ValueError, match="two groups"):
            logrank_test(df, "dur", "ev", "grp")


class TestPostStratifiedDiff:
    @staticmethod
    def _brute(rows):
        # rows: (y, variant, stratum); variant 0 = "a"
        strata = {}
        for y, v, s in rows:
            strata.setdefault(s, {0: [], 1: []})[v].append(y)
        wsum = wtot = 0.0
        for s, d in strata.items():
            if d[0] and d[1]:
                w = len(d[0]) + len(d[1])
                wsum += w * (
                    sum(d[0]) / len(d[0]) - sum(d[1]) / len(d[1])
                )
                wtot += w
        a = [y for y, v, _s in rows if v == 0]
        b = [y for y, v, _s in rows if v == 1]
        raw = sum(a) / len(a) - sum(b) / len(b)
        return raw, (wsum / wtot if wtot > 0 else None), len(strata)

    def test_matches_brute_and_removes_imbalance(self, spark):
        from datajudge_spark.operators.stats import post_stratified_diff

        rng = __import__("random").Random(47)
        # stratum means differ wildly; variant a over-samples the heavy
        # stratum -> raw diff biased, stratified diff ~ 0
        rows = []
        for i in range(600):
            s = rng.choice([0, 0, 0, 1]) if i % 2 == 0 else rng.choice(
                [0, 1, 1, 1])
            y = (1000 if s == 0 else 100) + rng.randint(0, 50)
            rows.append((y, i % 2, s))
        df = spark.createDataFrame(rows, "y long, v int, s int")
        r = post_stratified_diff(df, "y", "v", "s").collect()[0]
        raw, strat, k = self._brute(rows)
        assert r["n_strata"] == k
        assert r["diff_raw"] == pytest.approx(raw, abs=2e-6)
        assert r["diff_stratified"] == pytest.approx(strat, abs=2e-6)
        assert abs(r["diff_raw"]) > 100       # imbalance bias visible
        assert abs(r["diff_stratified"]) < 30  # and removed

    def test_single_variant_stratum_excluded(self, spark):
        from datajudge_spark.operators.stats import post_stratified_diff

        rows = [(10, 0, "x"), (20, 1, "x"), (999, 0, "only_a")]
        df = spark.createDataFrame(rows, "y long, v int, s string")
        r = post_stratified_diff(df, "y", "v", "s").collect()[0]
        # stratified estimate uses only stratum x: 10 - 20 = -10
        assert r["diff_stratified"] == pytest.approx(-10.0)
        assert r["n_strata"] == 2

    def test_not_two_levels_raises(self, spark):
        from datajudge_spark.operators.stats import post_stratified_diff

        df = spark.createDataFrame([(1, 0, "x")], "y long, v int, s string")
        with pytest.raises(ValueError, match="two assignment levels"):
            post_stratified_diff(df, "y", "v", "s")


class TestStudentTTail:
    def test_known_critical_values(self):
        # classic two-sided 5% critical values per df
        from datajudge_spark.constraints.stats import (
            _student_t_sf_two_sided,
        )

        for t, df in [(12.706, 1), (2.776, 4), (2.228, 10), (2.042, 30),
                      (1.984, 100)]:
            assert _student_t_sf_two_sided(t, df) == pytest.approx(
                0.05, abs=2e-4
            )
        assert _student_t_sf_two_sided(0.0, 7) == pytest.approx(1.0)
        assert _student_t_sf_two_sided(50.0, 20) < 1e-10
        # symmetric in t
        assert _student_t_sf_two_sided(-2.0, 9) == pytest.approx(
            _student_t_sf_two_sided(2.0, 9)
        )


class TestFisherExactTail:
    def test_known_tables(self):
        from datajudge_spark.constraints.stats import (
            _fisher_exact_two_sided,
        )

        assert _fisher_exact_two_sided(3, 1, 1, 3) == pytest.approx(
            0.485714, abs=1e-6
        )
        assert _fisher_exact_two_sided(1, 9, 11, 3) == pytest.approx(
            0.002759, abs=1e-6
        )
        assert _fisher_exact_two_sided(5, 0, 0, 5) == pytest.approx(
            2.0 / 252.0, abs=1e-9
        )
        assert _fisher_exact_two_sided(10, 10, 10, 10) == pytest.approx(
            1.0
        )
        # symmetric under row swap
        assert _fisher_exact_two_sided(2, 7, 8, 2) == pytest.approx(
            _fisher_exact_two_sided(8, 2, 2, 7)
        )


class TestNormPpf:
    def test_round_trip_accuracy(self):
        # Acklam's approximation: |Phi(ppf(p)) - p| must stay within
        # its documented ~1.15e-9 relative envelope across the domain
        # including deep tails — the OBF/AVI critical values depend on
        # this constant being right on both engines.
        import math

        from datajudge_spark.operators.stats import norm_ppf

        worst = 0.0
        for i in range(1, 2000):
            p = i / 2000
            z = norm_ppf(p)
            worst = max(
                worst, abs(0.5 * (1.0 + math.erf(z / math.sqrt(2))) - p)
            )
        assert worst < 5e-9
        for p in (1e-9, 1e-6, 0.5, 0.975, 1 - 1e-9):
            z = norm_ppf(p)
            back = 0.5 * (1.0 + math.erf(z / math.sqrt(2)))
            assert back == pytest.approx(p, abs=5e-9)
        assert norm_ppf(0.5) == 0.0
        assert norm_ppf(0.975) == pytest.approx(1.959964, abs=1e-6)
        with pytest.raises(ValueError):
            norm_ppf(0.0)
        with pytest.raises(ValueError):
            norm_ppf(1.0)
