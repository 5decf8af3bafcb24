"""Within-requirement constraint tests: identity/negation pairs per constraint
(the reference's parametrized pass/fail style, SURVEY §5.2)."""

import pytest
from pyspark.sql import types as T

from datajudge_spark import Condition
from datajudge_spark.operators import declare_primary_keys, clear_primary_keys

from conftest import within_req


def outcomes(req, spark):
    return [r.outcome for r in req.test(spark)]


class TestNRows:
    def test_equality(self, spark, int_table1):
        req = within_req(int_table1, "int_table1")
        req.add_n_rows_equality_constraint(19)
        req.add_n_rows_equality_constraint(18)  # fail
        assert outcomes(req, spark) == [True, False]

    def test_min_max(self, spark, int_table1):
        req = within_req(int_table1, "int_table1")
        req.add_n_rows_min_constraint(10)
        req.add_n_rows_min_constraint(20)  # fail
        req.add_n_rows_max_constraint(19)
        req.add_n_rows_max_constraint(18)  # fail
        assert outcomes(req, spark) == [True, False, True, False]

    def test_condition(self, spark, int_table1):
        req = within_req(int_table1, "int_table1")
        req.add_n_rows_equality_constraint(
            9, condition=Condition(raw_string="col_int > 10")
        )
        assert outcomes(req, spark) == [True]


class TestNumeric:
    def test_min_max(self, spark, int_table1):
        req = within_req(int_table1, "int_table1")
        req.add_numeric_min_constraint("col_int", 1)
        req.add_numeric_min_constraint("col_int", 2)  # fail
        req.add_numeric_max_constraint("col_int", 19)
        req.add_numeric_max_constraint("col_int", 18)  # fail
        assert outcomes(req, spark) == [True, False, True, False]

    def test_mean(self, spark, int_table1):
        req = within_req(int_table1, "int_table1")
        req.add_numeric_mean_constraint("col_int", 10.0, 0.001)
        req.add_numeric_mean_constraint("col_int", 12.0, 0.5)  # fail
        assert outcomes(req, spark) == [True, False]

    def test_between(self, spark, int_table1):
        # 10 of 19 values in [5, 14]
        req = within_req(int_table1, "int_table1")
        req.add_numeric_between_constraint("col_int", 5, 14, 0.5)
        req.add_numeric_between_constraint("col_int", 5, 14, 0.6)  # fail
        assert outcomes(req, spark) == [True, False]

    def test_percentile(self, spark, int_table1):
        # values 1..19: 50th percentile = 10 (smallest v with >=50% <= v)
        req = within_req(int_table1, "int_table1")
        req.add_numeric_percentile_constraint(
            "col_int", 50, expected_percentile=10, max_absolute_deviation=0
        )
        req.add_numeric_percentile_constraint(
            "col_int", 100, expected_percentile=19, max_absolute_deviation=0
        )
        req.add_numeric_percentile_constraint(
            "col_int", 50, expected_percentile=12, max_absolute_deviation=1
        )  # fail: |10-12| > 1
        assert outcomes(req, spark) == [True, True, False]

    def test_percentile_with_nulls(self, spark, unique_table1):
        # NULLs ignored: col_int has 0..29 each twice plus 2 NULLs
        req = within_req(unique_table1, "unique_table1")
        req.add_numeric_percentile_constraint(
            "col_int", 50, expected_percentile=14, max_absolute_deviation=0
        )
        assert outcomes(req, spark) == [True]

    def test_percentile_validation(self, spark, int_table1):
        req = within_req(int_table1, "int_table1")
        with pytest.raises(ValueError):
            req.add_numeric_percentile_constraint(
                "col_int", 101, expected_percentile=1, max_absolute_deviation=0
            )
        with pytest.raises(ValueError):
            req.add_numeric_percentile_constraint(
                "col_int", 50, expected_percentile=1
            )


class TestDates:
    def test_min_max(self, spark, date_table1):
        req = within_req(date_table1, "date_table1")
        req.add_date_min_constraint("col_date", "'2016-01-01'")
        req.add_date_min_constraint("col_date", "'2016-01-02'")  # fail
        req.add_date_max_constraint("col_date", "'2016-01-19'")
        req.add_date_max_constraint("col_date", "'2016-01-18'")  # fail
        assert outcomes(req, spark) == [True, False, True, False]

    def test_between(self, spark, date_table1):
        req = within_req(date_table1, "date_table1")
        req.add_date_between_constraint(
            "col_date", "'2016-01-05'", "'2016-01-19'", 15 / 19 - 0.01
        )
        req.add_date_between_constraint(
            "col_date", "'2016-01-05'", "'2016-01-19'", 0.9
        )  # fail
        assert outcomes(req, spark) == [True, False]


class TestVarchar:
    def test_lengths(self, spark, varchar_table1):
        req = within_req(varchar_table1, "varchar_table1")
        req.add_varchar_min_length_constraint("col_varchar", 2)
        req.add_varchar_min_length_constraint("col_varchar", 3)  # fail
        req.add_varchar_max_length_constraint("col_varchar", 18)
        req.add_varchar_max_length_constraint("col_varchar", 17)  # fail
        assert outcomes(req, spark) == [True, False, True, False]

    def test_regex_db(self, spark, varchar_table_real):
        req = within_req(varchar_table_real, "varchar_table_real")
        # all match letter+digits.digits+suffix
        req.add_varchar_regex_constraint_db("col_varchar", r"^[A-Z][0-9]{2}\.")
        # V73.7Y (1 distinct of 16) breaks digits-only suffix
        req.add_varchar_regex_constraint_db(
            "col_varchar", r"^[A-Z][0-9]{2}\.[0-9]{2}$", relative_tolerance=1 / 16
        )
        req.add_varchar_regex_constraint_db(
            "col_varchar", r"^[A-Z][0-9]{2}\.[0-9]{2}$", relative_tolerance=0.01
        )  # fail
        # row-weighted: 3 of 20 rows violate
        req.add_varchar_regex_constraint_db(
            "col_varchar",
            r"^[A-Z][0-9]{2}\.[0-9]{2}$",
            aggregated=False,
            relative_tolerance=3 / 20,
        )
        assert outcomes(req, spark) == [True, True, False, True]

    def test_regex_in_memory(self, spark, varchar_table1):
        req = within_req(varchar_table1, "varchar_table1")
        req.add_varchar_regex_constraint("col_varchar", r"^(qq)+$", allow_none=True)
        req.add_varchar_regex_constraint("col_varchar", r"^(qq)+$")  # fail: None
        assert outcomes(req, spark) == [True, False]


class TestUniques:
    def test_uniques_equality(self, spark, unique_table1):
        req = within_req(unique_table1, "unique_table1")
        req.add_uniques_equality_constraint(
            ["col_int"], list(range(30)), filter_func=lambda lst: [
                v for v in lst if v is not None
            ]
        )
        req.add_uniques_equality_constraint(
            ["col_int"], list(range(29)), filter_func=lambda lst: [
                v for v in lst if v is not None
            ]
        )  # fail: 29 is excess
        assert outcomes(req, spark) == [True, False]

    def test_uniques_subset_weighted(self, spark, unique_table1):
        req = within_req(unique_table1, "unique_table1")
        # value 29 occurs twice of 60 rows -> 1/30 weighted violation
        req.add_uniques_subset_constraint(
            ["col_int"],
            list(range(29)),
            max_relative_violations=2 / 60,
            filter_func=lambda lst: [v for v in lst if v is not None],
        )
        req.add_uniques_subset_constraint(
            ["col_int"],
            list(range(29)),
            max_relative_violations=0.01,
            filter_func=lambda lst: [v for v in lst if v is not None],
        )  # fail
        # distinct counting: 1 violating distinct of 30
        req.add_uniques_subset_constraint(
            ["col_int"],
            list(range(29)),
            max_relative_violations=1 / 30,
            compare_distinct=True,
            filter_func=lambda lst: [v for v in lst if v is not None],
        )
        assert outcomes(req, spark) == [True, False, True]

        # the excess tally hashes the reference values: membership must
        # match a scan of the list for None, NaN (the same object in
        # both, and a distinct NaN object, which equals nothing) and
        # 1.0 vs 1; a missing tally still renders as -1
        from itertools import zip_longest

        from datajudge_spark.constraints.uniques import _excess_tallies

        nan = float("nan")
        have = [None, nan, float("nan"), 1.0, 2, "a"]
        want = [None, nan, 1, "b"]
        tallies = [3, 4, 5, 6]
        by_scan = {
            v: t
            for v, t in zip_longest(have, tallies, fillvalue=-1)
            if v not in want
        }
        got = _excess_tallies(have, tallies, want)
        assert got == by_scan
        assert list(got.items()) == [(have[2], 5), (2, -1), ("a", -1)]

    def test_max_uniques_guard(self, spark, unique_table1):
        # cap below the actual cardinality (31 distinct incl. NULL):
        # the collect must fail fast, not flood the driver
        req = within_req(unique_table1, "unique_table1")
        req.add_uniques_equality_constraint(
            ["col_int"], list(range(30)),
            filter_func=lambda lst: [v for v in lst if v is not None],
            max_uniques=5,
        )
        with pytest.raises(ValueError, match="max_uniques"):
            req.test(spark)
        # a generous cap changes nothing
        req2 = within_req(unique_table1, "unique_table1")
        req2.add_uniques_equality_constraint(
            ["col_int"], list(range(30)),
            filter_func=lambda lst: [v for v in lst if v is not None],
            max_uniques=1000,
        )
        assert outcomes(req2, spark) == [True]

    def test_max_uniques_default_and_optout(self, spark, unique_table1):
        # the factories default to DEFAULT_MAX_UNIQUES (1M) — a sane
        # categorical passes untouched under the default cap
        from datajudge_spark.operators.uniques import DEFAULT_MAX_UNIQUES

        assert DEFAULT_MAX_UNIQUES == 1_000_000
        req = within_req(unique_table1, "unique_table1")
        req.add_uniques_equality_constraint(
            ["col_int"], list(range(30)),
            filter_func=lambda lst: [v for v in lst if v is not None],
        )
        assert outcomes(req, spark) == [True]
        # max_uniques=None is the explicit unbounded opt-out
        req2 = within_req(unique_table1, "unique_table1")
        req2.add_uniques_equality_constraint(
            ["col_int"], list(range(30)),
            filter_func=lambda lst: [v for v in lst if v is not None],
            max_uniques=None,
        )
        assert outcomes(req2, spark) == [True]

    def test_uniques_superset(self, spark, unique_table1):
        req = within_req(unique_table1, "unique_table1")
        req.add_uniques_superset_constraint(
            ["col_int"], [0, 1, 2],
            filter_func=lambda lst: [v for v in lst if v is not None],
        )
        req.add_uniques_superset_constraint(
            ["col_int"], [0, 1, 99],
            filter_func=lambda lst: [v for v in lst if v is not None],
        )  # fail
        assert outcomes(req, spark) == [True, False]

    def test_n_uniques(self, spark, unique_table1):
        req = within_req(unique_table1, "unique_table1")
        # DISTINCT keeps the NULL: 30 ints + NULL = 31
        req.add_n_uniques_equality_constraint(["col_int"], 31)
        req.add_n_uniques_equality_constraint(["col_int"], 30)  # fail
        # multi-column distinct over (col_int, col_varchar)
        req.add_n_uniques_equality_constraint(None, 42)
        assert outcomes(req, spark) == [True, False, True]

    def test_categorical_bounds(self, spark, distribution_table):
        req = within_req(distribution_table, "distribution_table")
        req.add_categorical_bound_constraint(
            ["col_int"], {0: (0.4, 0.6), 1: (0.4, 0.6)}
        )
        req.add_categorical_bound_constraint(
            ["col_int"], {0: (0.6, 0.9), 1: (0.1, 0.4)}
        )  # fail
        assert outcomes(req, spark) == [True, False]

    def test_map_reduce_funcs(self, spark, unique_table1):
        req = within_req(unique_table1, "unique_table1")
        req.add_uniques_equality_constraint(
            ["col_varchar"],
            [f"hi{i}" for i in range(20)] + ["hi"],
            filter_func=lambda lst: [v for v in lst if v is not None],
        )
        # map to prefix then dedupe via reduce
        req.add_uniques_equality_constraint(
            ["col_varchar"],
            ["hi"],
            filter_func=lambda lst: [v for v in lst if v is not None],
            map_func=lambda v: v[:2],
            reduce_func=lambda vals: set(vals),
        )
        assert outcomes(req, spark) == [True, True]


class TestMiscs:
    def test_null_constraints(self, spark, unique_table1, int_table1):
        req = within_req(unique_table1, "unique_table1")
        req.add_max_null_fraction_constraint("col_int", 2 / 62)
        req.add_max_null_fraction_constraint("col_int", 0.001)  # fail
        req.add_null_absence_constraint("col_int")  # fail: has NULLs
        assert outcomes(req, spark) == [True, False, False]
        req2 = within_req(int_table1, "int_table1")
        req2.add_null_absence_constraint("col_int")
        assert outcomes(req2, spark) == [True]

    def test_uniqueness(self, spark, unique_table1, int_table1):
        req = within_req(int_table1, "int_table1")
        req.add_uniqueness_constraint(["col_int"])
        assert outcomes(req, spark) == [True]
        req2 = within_req(unique_table1, "unique_table1")
        req2.add_uniqueness_constraint(["col_int"])  # fail: each value twice
        req2.add_uniqueness_constraint(["col_int"], max_duplicate_fraction=0.6)
        assert outcomes(req2, spark) == [False, True]

    def test_functional_dependency(self, spark, functional_dependency_table):
        req = within_req(functional_dependency_table, "fd_table")
        req.add_functional_dependency_constraint(["a"], ["b"])
        req.add_functional_dependency_constraint(["a"], ["c"])  # fail
        assert outcomes(req, spark) == [True, False]

    def test_functional_dependency_nulls_nans_and_signed_zeros(self, spark):
        # a NULL in the key never violates; NaN keys are one key and
        # -0.0 is 0.0, in keys and in values, as the DISTINCT +
        # semi-join formulation of the reference gives
        from datajudge_spark import operators as ops
        from conftest import make_ref

        nan, inf = float("nan"), float("inf")
        df = spark.createDataFrame(
            [(1.0, -0.0, 1), (1.0, 0.0, 1), (nan, 1.0, 1), (nan, 2.0, 1),
             (-0.0, 5.0, 1), (0.0, 6.0, 1), (None, 1.0, 1), (None, 2.0, 1),
             (2.0, nan, 1), (2.0, nan, 1), (3.0, inf, 1), (3.0, nan, 1),
             (4.0, 1.0, None), (4.0, 1.0, 2), (5.0, 1.0, None), (5.0, 2.0, None)],
            "k double, v double, m int",
        ).repartition(4)
        ref = make_ref(df, "fd_floats", ["k", "m", "v"])
        got, _ = ops.get_functional_dependency_violations(spark, ref, ["k", "m"])
        assert sorted(map(repr, got)) == sorted(map(repr, [
            (0.0, 1, 5.0), (0.0, 1, 6.0), (3.0, 1, inf), (3.0, 1, nan),
            (nan, 1, 1.0), (nan, 1, 2.0),
        ]))

    def test_primary_key_definition(self, spark, int_table1):
        clear_primary_keys()
        declare_primary_keys("int_table1", ["col_int"])
        req = within_req(int_table1, "int_table1")
        req.add_primary_key_definition_constraint(["col_int"])
        assert outcomes(req, spark) == [True]
        req2 = within_req(int_table1, "int_table1")
        req2.add_primary_key_definition_constraint(["other_col"])  # fail
        assert outcomes(req2, spark) == [False]
        clear_primary_keys()


class TestColumns:
    def test_existence(self, spark, mix_table1):
        req = within_req(mix_table1, "mix_table1")
        req.add_column_existence_constraint(["col_int", "col_varchar"])
        req.add_column_existence_constraint(["no_such_column"])  # fail
        assert outcomes(req, spark) == [True, False]

    def test_column_type(self, spark, mix_table1):
        req = within_req(mix_table1, "mix_table1")
        req.add_column_type_constraint("col_int", "integer")
        req.add_column_type_constraint("col_varchar", "varchar")
        req.add_column_type_constraint("col_date", "datetime")
        req.add_column_type_constraint("col_int", T.IntegerType())
        req.add_column_type_constraint("col_int", "varchar")  # fail
        assert outcomes(req, spark) == [True, True, True, True, False]


class TestGroupby:
    def test_aggregation_ranges(
        self, spark, groupby_aggregation_table, groupby_aggregation_table_incorrect
    ):
        req = within_req(groupby_aggregation_table, "groupby_agg")
        req.add_groupby_aggregation_constraint(["some_id"], "value", 1)
        assert outcomes(req, spark) == [True]
        req2 = within_req(groupby_aggregation_table_incorrect, "groupby_agg_bad")
        req2.add_groupby_aggregation_constraint(["some_id"], "value", 1)  # fail
        req2.add_groupby_aggregation_constraint(
            ["some_id"], "value", 1, tolerance=0.5
        )  # 1 of 4 keys violates
        assert outcomes(req2, spark) == [False, True]


class TestHeavyHitterShare:
    def test_skew_pass_fail(self, spark):
        # 50 rows of key 'hot' + 50 spread over 50 keys: hot = 50%
        rows = [("hot",)] * 50 + [(f"k{i}",) for i in range(50)]
        df = spark.createDataFrame(rows, "k string")
        req = within_req(df, "skewed")
        req.add_heavy_hitter_share_constraint(["k"], 600_000)  # 60% cap ok
        req.add_heavy_hitter_share_constraint(["k"], 100_000)  # 10% cap fails
        assert outcomes(req, spark) == [True, False]

    def test_boundary_is_strict(self, spark):
        # exactly AT the cap is allowed (strict > violates)
        rows = [("a",)] * 25 + [("b",)] * 75
        df = spark.createDataFrame(rows, "k string")
        req = within_req(df, "quarter")
        req.add_heavy_hitter_share_constraint(["k"], 750_000)
        assert outcomes(req, spark) == [True]

    def test_failure_message_names_offender(self, spark):
        rows = [("hot",)] * 99 + [("cold",)]
        df = spark.createDataFrame(rows, "k string")
        req = within_req(df, "hot99")
        req.add_heavy_hitter_share_constraint(["k"], 500_000)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "hot" in results[0].failure_message

    def test_validation(self, spark, int_table1):
        req = within_req(int_table1, "t")
        with pytest.raises(ValueError):
            req.add_heavy_hitter_share_constraint([], 1000)
        with pytest.raises(ValueError):
            req.add_heavy_hitter_share_constraint(["col_int"], 0)


class TestEmbeddingNormFraction:
    def _vecs(self, spark, norms):
        rows = [([float(n), 0.0],) for n in norms]
        return spark.createDataFrame(rows, "v array<float>")

    def test_pass_fail(self, spark):
        df = self._vecs(spark, [1.0] * 9 + [2.0])  # 90% unit
        req = within_req(df, "vecs")
        req.add_embedding_norm_fraction_constraint("v", 0.9)
        req.add_embedding_norm_fraction_constraint("v", 0.95)  # fail
        assert outcomes(req, spark) == [True, False]

    def test_empty_fails_cleanly(self, spark):
        df = self._vecs(spark, []).where("size(v) > 2")
        req = within_req(df, "empty")
        req.add_embedding_norm_fraction_constraint("v", 0.5)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "insufficient data" in results[0].failure_message

    def test_validation(self, spark, int_table1):
        req = within_req(int_table1, "t")
        with pytest.raises(ValueError):
            req.add_embedding_norm_fraction_constraint("v", 0.5, lo=1.0, hi=1.0)
        with pytest.raises(ValueError):
            req.add_embedding_norm_fraction_constraint("v", 1.5)


class TestNeardupRecall:
    def _docs(self, spark):
        base = (
            "the quick brown fox jumps over the lazy dog near the old "
            "river bank today"
        )
        near = base.replace("today", "yesterday")
        other = (
            "completely different words about spark shuffles partitions "
            "and catalyst plans"
        )
        rows = [
            (0, base), (1, near), (2, other), (3, base),
            (4, "short text only"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_planted_dups_pass(self, spark):
        req = within_req(self._docs(spark), "nd1")
        req.add_neardup_recall_constraint(
            "doc_id", "text", [0, 2], min_recall=1.0
        )
        assert outcomes(req, spark) == [True]

    def test_vacuous_when_no_truth(self, spark):
        req = within_req(self._docs(spark), "nd2")
        req.add_neardup_recall_constraint(
            "doc_id", "text", [2, 4], min_recall=1.0
        )
        assert outcomes(req, spark) == [True]

    def test_low_jaccard_truth_missed_fails(self, spark):
        # docs sharing only a few shingles: true Jaccard clears a LOW
        # threshold but band collision probability is tiny, so the LSH
        # lookup deterministically misses some truth -> recall < 1
        shared = "alpha beta gamma delta epsilon zeta "
        rows = [
            (i, shared + " ".join(f"w{i}_{j}" for j in range(40)))
            for i in range(6)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        req = within_req(df, "nd3")
        req.add_neardup_recall_constraint(
            "doc_id", "text", [0], min_recall=1.0, threshold=0.02
        )
        results = req.test(spark)
        assert results[0].outcome is False
        assert "recall" in results[0].failure_message
        assert "worst queries" in results[0].failure_message

    def test_validation(self, spark):
        req = within_req(self._docs(spark), "nd4")
        with pytest.raises(ValueError):
            req.add_neardup_recall_constraint("doc_id", "text", [])
        with pytest.raises(ValueError):
            req.add_neardup_recall_constraint(
                "doc_id", "text", [0], min_recall=1.5
            )
        with pytest.raises(ValueError):
            # deployed-index params must be consistent (ADVICE r10)
            req.add_neardup_recall_constraint(
                "doc_id", "text", [0], num_hashes=12, bands=5, rows=3
            )

    def test_deployed_index_params_are_measured(self, spark):
        # ADVICE r10: the gate must evaluate the configuration actually
        # deployed. A single-band 12-row index collides only on
        # near-identical signatures, so the low-Jaccard truth of
        # test_low_jaccard_truth_missed_fails is missed even harder —
        # but the same planted exact-style near-dup still collides.
        req = within_req(self._docs(spark), "nd5")
        req.add_neardup_recall_constraint(
            "doc_id", "text", [0], min_recall=1.0,
            num_hashes=12, bands=12, rows=1,
        )
        assert outcomes(req, spark) == [True]

    def test_absent_query_id_not_dropped(self, spark):
        # ADVICE r10: a typo'd / absent query id must surface in the
        # vacuous-pass message, not be silently dropped from the frame.
        from datajudge_spark.pipeline import dedup

        rows = dedup.query_neardup_recall(
            self._docs(spark), "doc_id", "text", [0, 999]
        ).collect()
        by_id = {r["query_id"]: r for r in rows}
        assert set(by_id) == {0, 999}
        assert by_id[999]["n_true"] == 0
        assert by_id[999]["recall"] is None
        req = within_req(self._docs(spark), "nd6")
        req.add_neardup_recall_constraint("doc_id", "text", [997, 998])
        results = req.test(spark)
        assert results[0].outcome is True
        assert "verify the query ids" in results[0].failure_message


class TestPoolCoverage:
    def _two_sources(self, spark, n_shared, n_a_only, n_b_only):
        rows = (
            [("a", f"shared doc {i}") for i in range(n_shared)]
            + [("b", f"shared doc {i}") for i in range(n_shared)]
            + [("a", f"a only {i}") for i in range(n_a_only)]
            + [("b", f"b only {i}") for i in range(n_b_only)]
        )
        return spark.createDataFrame(rows, "src string, text string")

    def test_high_overlap_passes_low_fails(self, spark):
        # 18 shared of 20/20: Chapman ~ (21*21/19)-1 = 22.2, union 22
        # -> coverage ~0.99
        df = self._two_sources(spark, 18, 2, 2)
        req = within_req(df, "pool1")
        req.add_pool_coverage_constraint("src", "text", "a", "b", 0.9)
        assert outcomes(req, spark) == [True]
        # 2 shared of 12/12: Chapman ~ (13*13/3)-1 = 55.3, union 22
        # -> coverage ~0.4
        df2 = self._two_sources(spark, 2, 10, 10)
        req2 = within_req(df2, "pool2")
        req2.add_pool_coverage_constraint("src", "text", "a", "b", 0.9)
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "pool" in results[0].failure_message
        assert "unseen" in results[0].failure_message

    def test_empty_capture_fails_cleanly(self, spark):
        df = self._two_sources(spark, 0, 5, 0)
        req = within_req(df, "pool3")
        req.add_pool_coverage_constraint("src", "text", "a", "b", 0.5)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message

    def test_both_empty_fails_cleanly(self, spark):
        # ADVICE r10: SUM over ZERO rows is NULL for both captures;
        # the gate must report "undefined", not crash on 0/None.
        df = self._two_sources(spark, 0, 0, 0)
        req = within_req(df, "pool_empty")
        req.add_pool_coverage_constraint("src", "text", "a", "b", 0.5)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message
        assert "has 0" in results[0].failure_message

    def test_validation(self, spark):
        df = self._two_sources(spark, 1, 1, 1)
        req = within_req(df, "pool4")
        with pytest.raises(ValueError):
            req.add_pool_coverage_constraint(
                "src", "text", "a", "b", min_coverage=0.0
            )


class TestDailyVolumeAnomaly:
    def _days(self, spark, counts):
        import datetime as dt

        rows = []
        for i, c in enumerate(counts):
            day = dt.datetime(2024, 1, 1) + dt.timedelta(days=i)
            rows += [(day,)] * c
        return spark.createDataFrame(rows, "ts timestamp")

    def test_steady_passes_spike_fails(self, spark):
        steady = self._days(spark, [100 + (i % 3) for i in range(14)])
        req = within_req(steady, "steady")
        req.add_daily_volume_anomaly_constraint("ts", threshold=3.0)
        assert outcomes(req, spark) == [True]
        spike = self._days(spark, [100 + (i % 3) for i in range(13)] + [500])
        req2 = within_req(spike, "spike")
        req2.add_daily_volume_anomaly_constraint("ts", threshold=3.0)
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "anomal" in results[0].failure_message

    def test_allowance_tolerates_spikes(self, spark):
        spike = self._days(spark, [100 + (i % 3) for i in range(13)] + [500])
        req = within_req(spike, "spike_ok")
        req.add_daily_volume_anomaly_constraint("ts", max_anomalies=1)
        assert outcomes(req, spark) == [True]

    def test_validation(self, spark, int_table1):
        req = within_req(int_table1, "t")
        with pytest.raises(ValueError):
            req.add_daily_volume_anomaly_constraint("ts", window_days=2)
        with pytest.raises(ValueError):
            req.add_daily_volume_anomaly_constraint("ts", threshold=0)


class TestScaleGateConditions:
    def test_heavy_hitter_condition_scopes_rows(self, spark):
        # the hot key exists only in the excluded slice: condition makes
        # the gate pass, no condition makes it fail
        rows = [("hot", 0)] * 90 + [(f"k{i}", 1) for i in range(30)]
        df = spark.createDataFrame(rows, "k string, grp long")
        req = within_req(df, "cond")
        req.add_heavy_hitter_share_constraint(
            ["k"], 200_000, condition=Condition(raw_string="grp = 1")
        )
        req.add_heavy_hitter_share_constraint(["k"], 200_000)  # fail
        assert outcomes(req, spark) == [True, False]

    def test_daily_volume_condition_scopes_days(self, spark):
        import datetime as dt

        rows = []
        for i in range(14):
            day = dt.datetime(2024, 1, 1) + dt.timedelta(days=i)
            rows += [(day, "a")] * (100 + i % 3)
        # spike day only in stream 'b'
        rows += [(dt.datetime(2024, 1, 15), "b")] * 900
        rows += [(dt.datetime(2024, 1, 15), "a")] * 101
        df = spark.createDataFrame(rows, "ts timestamp, src string")
        req = within_req(df, "volcond")
        req.add_daily_volume_anomaly_constraint(
            "ts", threshold=3.0, condition=Condition(raw_string="src = 'a'")
        )
        req.add_daily_volume_anomaly_constraint("ts", threshold=3.0)  # fail
        assert outcomes(req, spark) == [True, False]


class TestMadOutlierFraction:
    def test_pass_and_fail(self, spark):
        # 1..9 plus one wild point: exactly 10% outliers at k=3
        df = spark.createDataFrame(
            [(v,) for v in [1, 2, 3, 4, 5, 6, 7, 8, 9, 1000]], "c long"
        )
        req = within_req(df, "mad")
        req.add_mad_outlier_fraction_constraint("c", max_fraction=0.1)
        req.add_mad_outlier_fraction_constraint("c", max_fraction=0.05)  # fail
        assert outcomes(req, spark) == [True, False]

    def test_condition_scopes_rows(self, spark):
        df = spark.createDataFrame(
            [(v, "a") for v in [1, 2, 3, 4, 5, 6, 7, 8, 9]]
            + [(1000, "b")],
            "c long, src string",
        )
        req = within_req(df, "madcond")
        req.add_mad_outlier_fraction_constraint(
            "c", max_fraction=0.0, condition=Condition(raw_string="src = 'a'")
        )
        req.add_mad_outlier_fraction_constraint("c", max_fraction=0.0)  # fail
        assert outcomes(req, spark) == [True, False]

    def test_empty_fails_cleanly(self, spark):
        df = spark.createDataFrame([], "c long")
        req = within_req(df, "madempty")
        req.add_mad_outlier_fraction_constraint("c", max_fraction=0.1)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "insufficient data" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([(1,)], "c long")
        req = within_req(df, "madval")
        with pytest.raises(ValueError):
            req.add_mad_outlier_fraction_constraint("c", max_fraction=1.5)
        with pytest.raises(ValueError):
            req.add_mad_outlier_fraction_constraint("c", 0.1, k=0)


class TestGroupedKsMax:
    def test_pass_and_fail(self, spark):
        # groups a/b share one distribution; group c is shifted far away
        rows = [(float(v), "a") for v in range(50)]
        rows += [(float(v), "b") for v in range(50)]
        rows += [(float(v + 1000), "c") for v in range(50)]
        df = spark.createDataFrame(rows, "v double, g string")
        # vs pooled: a/b sit at d = 1/3 (the pool carries c's far mass),
        # the shifted group c at d = 2/3
        req = within_req(df, "gks")
        req.add_grouped_ks_max_constraint("v", "g", max_d=0.9)
        req.add_grouped_ks_max_constraint("v", "g", max_d=0.5)  # fail: c
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "c (d=" in results[1].failure_message
        assert "a (d=" not in results[1].failure_message

    def test_pinned_group_list_and_empty_group(self, spark):
        df = spark.createDataFrame(
            [(1.0, "a"), (2.0, "a"), (3.0, "b")], "v double, g string"
        )
        req = within_req(df, "gksempty")
        req.add_grouped_ks_max_constraint(
            "v", "g", max_d=1.0, groups=["a", "b", "ghost"]
        )
        results = req.test(spark)
        assert results[0].outcome is False
        assert "ghost" in results[0].failure_message

    def test_group_cap_fails_cleanly(self, spark):
        df = spark.createDataFrame(
            [(float(i), str(i)) for i in range(20)], "v double, g string"
        )
        req = within_req(df, "gkscap")
        req.add_grouped_ks_max_constraint("v", "g", max_d=0.5, max_groups=3)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "max_groups" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([(1.0, "a")], "v double, g string")
        req = within_req(df, "gksval")
        with pytest.raises(ValueError):
            req.add_grouped_ks_max_constraint("v", "g", max_d=1.5)


class TestQuantileGridGapMax:
    def test_pass_and_fail(self, spark):
        # a/b share one distribution; c is a SMALL group shifted +1000
        # (small so the pooled grid stays inside a/b's range and only c
        # shows large gaps — a 1/3-mass outlier group would drag the
        # pooled top deciles out and legitimately flag a/b too)
        rows = [(float(v), "a") for v in range(50)]
        rows += [(float(v), "b") for v in range(50)]
        rows += [(float(v + 1000), "c") for v in range(5)]
        df = spark.createDataFrame(rows, "v double, g string")
        req = within_req(df, "qgrid")
        req.add_quantile_grid_gap_max_constraint("v", "g", max_abs_gap=1500)
        req.add_quantile_grid_gap_max_constraint("v", "g", max_abs_gap=100)
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "c decile" in results[1].failure_message
        assert "a decile" not in results[1].failure_message

    def test_empty_group_fails_explicitly(self, spark):
        df = spark.createDataFrame(
            [(1.0, "a"), (2.0, "a"), (3.0, "a")], "v double, g string"
        )
        req = within_req(df, "qgridempty")
        req.add_quantile_grid_gap_max_constraint(
            "v", "g", max_abs_gap=10.0, groups=["a", "ghost"]
        )
        results = req.test(spark)
        assert results[0].outcome is False
        assert "ghost" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([(1.0, "a")], "v double, g string")
        req = within_req(df, "qgridval")
        with pytest.raises(ValueError):
            req.add_quantile_grid_gap_max_constraint("v", "g", -0.5)
        with pytest.raises(ValueError):
            req.add_quantile_grid_gap_max_constraint(
                "v", "g", 1.0, deciles=1
            )


class TestGroupedTrendSlope:
    def test_pass_and_fail(self, spark):
        import datetime as dt

        rows = []
        for g, slope in [("up", 5), ("down", -5)]:
            for i in range(20):
                rows.append(
                    (g, dt.date(2024, 1, 1) + dt.timedelta(days=i),
                     float(100 + slope * i))
                )
        df = spark.createDataFrame(rows, "g string, d date, v double")
        req = within_req(df, "gslope")
        req.add_grouped_trend_slope_constraint(
            "d", "v", "g", min_slope=-10.0, max_slope=10.0
        )
        req.add_grouped_trend_slope_constraint(
            "d", "v", "g", min_slope=0.0  # fail: 'down' decays
        )
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "down (slope=" in results[1].failure_message
        assert "up (slope=" not in results[1].failure_message

    def test_single_day_group_is_undefined(self, spark):
        import datetime as dt

        df = spark.createDataFrame(
            [
                ("a", dt.date(2024, 1, 1), 1.0),
                ("a", dt.date(2024, 1, 2), 2.0),
                ("lone", dt.date(2024, 1, 1), 5.0),
            ],
            "g string, d date, v double",
        )
        req = within_req(df, "gslopelone")
        req.add_grouped_trend_slope_constraint(
            "d", "v", "g", min_slope=-100.0, max_slope=100.0
        )
        results = req.test(spark)
        assert results[0].outcome is False
        assert "lone" in results[0].failure_message
        assert "undefined" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame(
            [("a",)], "g string"
        )
        req = within_req(df, "gslopeval")
        with pytest.raises(ValueError):
            req.add_grouped_trend_slope_constraint("d", "v", "g")

    def test_group_cap_fails_cleanly(self, spark):
        import datetime as dt

        # max_groups overflow must surface as a failing TestResult, not
        # abort the whole requirement run
        df = spark.createDataFrame(
            [
                (str(i), dt.date(2024, 1, 1) + dt.timedelta(days=d), 1.0)
                for i in range(10)
                for d in range(3)
            ],
            "g string, d date, v double",
        )
        req = within_req(df, "gslopecap")
        req.add_grouped_trend_slope_constraint(
            "d", "v", "g", min_slope=-1.0, max_slope=1.0, max_groups=4
        )
        results = req.test(spark)
        assert results[0].outcome is False
        assert "max_groups" in results[0].failure_message


class TestSeasonalityStrength:
    def test_pass_and_fail(self, spark):
        import datetime as dt

        base = dt.date(2024, 1, 1)
        # strongly weekly: value is a pure function of weekday
        rows = [
            (base + dt.timedelta(days=i), float(100 + 40 * (i % 7)))
            for i in range(70)
        ]
        df = spark.createDataFrame(rows, "d date, v double")
        req = within_req(df, "seas")
        req.add_seasonality_strength_constraint("d", "v", min_strength=0.9)
        req.add_seasonality_strength_constraint("d", "v", max_strength=0.5)
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "Seasonality strength" in results[1].failure_message

    def test_flat_series_undefined(self, spark):
        import datetime as dt

        df = spark.createDataFrame(
            [
                (dt.date(2024, 1, 1) + dt.timedelta(days=i), 5.0)
                for i in range(14)
            ],
            "d date, v double",
        )
        req = within_req(df, "seasflat")
        req.add_seasonality_strength_constraint("d", "v", max_strength=0.5)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([(1.0,)], "v double")
        req = within_req(df, "seasval")
        with pytest.raises(ValueError):
            req.add_seasonality_strength_constraint("d", "v")
        with pytest.raises(ValueError):
            req.add_seasonality_strength_constraint(
                "d", "v", min_strength=1.5
            )
        with pytest.raises(ValueError):
            req.add_seasonality_strength_constraint(
                "d", "v", min_strength=0.1, period=0
            )


class TestMutualInformationMax:
    def test_pass_and_fail(self, spark):
        import math

        # b == a -> MI = H(A) = ln 2; independent grid -> MI = 0
        dep = spark.createDataFrame(
            [("x", "x")] * 10 + [("y", "y")] * 10, "a string, b string"
        )
        req = within_req(dep, "midep")
        req.add_mutual_information_max_constraint("a", "b", math.log(2) + 0.01)
        req.add_mutual_information_max_constraint("a", "b", 0.1)  # fail
        req.add_mutual_information_max_constraint(
            "a", "b", 0.5, normalized=True  # fail: NMI = 1
        )
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False, False]
        assert "Mutual information" in results[1].failure_message
        assert "Normalized mutual" in results[2].failure_message
        ind = spark.createDataFrame(
            [(a, b) for a in "xy" for b in "uv" for _ in range(5)],
            "a string, b string",
        )
        req2 = within_req(ind, "miind")
        req2.add_mutual_information_max_constraint("a", "b", 0.001)
        assert outcomes(req2, spark) == [True]

    def test_constant_column_normalized_undefined(self, spark):
        df = spark.createDataFrame(
            [("x", "u"), ("x", "v")], "a string, b string"
        )
        req = within_req(df, "miconst")
        req.add_mutual_information_max_constraint(
            "a", "b", 0.5, normalized=True
        )
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([("x", "u")], "a string, b string")
        req = within_req(df, "mival")
        with pytest.raises(ValueError):
            req.add_mutual_information_max_constraint("a", "b", -0.1)
        with pytest.raises(ValueError):
            req.add_mutual_information_max_constraint(
                "a", "b", 1.5, normalized=True
            )


class TestGiniMax:
    def test_pass_and_fail(self, spark):
        # one holder of everything over 4 rows: G = 0.75
        df = spark.createDataFrame([(0,), (0,), (0,), (4,)], "c long")
        req = within_req(df, "gini")
        req.add_gini_max_constraint("c", 0.75)
        req.add_gini_max_constraint("c", 0.5)  # fail
        assert outcomes(req, spark) == [True, False]

    def test_empty_fails_cleanly(self, spark):
        df = spark.createDataFrame([], "c long")
        req = within_req(df, "giniempty")
        req.add_gini_max_constraint("c", 0.5)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "insufficient data" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([(1,)], "c long")
        req = within_req(df, "ginival")
        with pytest.raises(ValueError):
            req.add_gini_max_constraint("c", 1.5)


class TestChiSquaredIndependence:
    def test_pass_and_fail(self, spark):
        # independent 2x2 (proportional margins) vs diagonal-only
        indep = spark.createDataFrame(
            [("A", "P")] * 10 + [("A", "Q")] * 20
            + [("B", "P")] * 20 + [("B", "Q")] * 40,
            "a string, b string",
        )
        dep = spark.createDataFrame(
            [("A", "P")] * 30 + [("B", "Q")] * 30, "a string, b string"
        )
        req = within_req(indep, "chi_indep")
        req.add_chi_squared_independence_constraint("a", "b")
        assert outcomes(req, spark) == [True]
        req2 = within_req(dep, "chi_dep")
        req2.add_chi_squared_independence_constraint("a", "b")  # fail
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "p-value" in results[0].failure_message

    def test_single_category_fails_cleanly(self, spark):
        df = spark.createDataFrame(
            [("A", "P"), ("A", "Q")], "a string, b string"
        )
        req = within_req(df, "chi_one")
        req.add_chi_squared_independence_constraint("a", "b")
        results = req.test(spark)
        assert results[0].outcome is False
        assert "fewer than two" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([("A", "P")], "a string, b string")
        req = within_req(df, "chival")
        with pytest.raises(ValueError):
            req.add_chi_squared_independence_constraint(
                "a", "b", significance_level=0.0
            )


class TestSpearmanBounds:
    def test_pass_and_fail(self, spark):
        df = spark.createDataFrame(
            [(v, v * v) for v in range(1, 30)], "a long, b long"
        )
        req = within_req(df, "spearman")
        req.add_spearman_correlation_constraint("a", "b", min_rho=0.99)
        req.add_spearman_correlation_constraint("a", "b", max_rho=0.5)  # fail
        assert outcomes(req, spark) == [True, False]

    def test_negative_association(self, spark):
        df = spark.createDataFrame(
            [(v, -v) for v in range(1, 20)], "a long, b long"
        )
        req = within_req(df, "spearneg")
        req.add_spearman_correlation_constraint("a", "b", max_rho=-0.99)
        assert outcomes(req, spark) == [True]

    def test_constant_column_fails_cleanly(self, spark):
        df = spark.createDataFrame([(1, 5), (2, 5)], "a long, b long")
        req = within_req(df, "spearconst")
        req.add_spearman_correlation_constraint("a", "b", min_rho=0.0)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, 2)], "a long, b long")
        req = within_req(df, "spearval")
        with pytest.raises(ValueError):
            req.add_spearman_correlation_constraint("a", "b")
        with pytest.raises(ValueError):
            req.add_spearman_correlation_constraint("a", "b", min_rho=2.0)


class TestCusumStability:
    @staticmethod
    def _daily(spark, shift):
        import datetime as dt

        rows = [
            (dt.date(2024, 1, 1) + dt.timedelta(days=i),
             float(100 if i < 30 or not shift else 200))
            for i in range(60)
        ]
        return spark.createDataFrame(rows, "d date, v double")

    def test_flat_series_passes(self, spark):
        df = self._daily(spark, shift=False)
        req = within_req(df, "flat")
        req.add_cusum_stability_constraint("d", "v", max_relative=1.0)
        assert outcomes(req, spark) == [True]

    def test_level_shift_fails_naming_the_day(self, spark):
        df = self._daily(spark, shift=True)
        req = within_req(df, "shifted")
        req.add_cusum_stability_constraint("d", "v", max_relative=1.0)
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "2024-01-30" in results[0].failure_message
        # absolute-bound variant: peak is 1500 value units
        req2 = within_req(df, "shifted")
        req2.add_cusum_stability_constraint("d", "v", max_cusum=2000.0)
        assert outcomes(req2, spark) == [True]

    def test_validation(self, spark):
        df = self._daily(spark, shift=False)
        req = within_req(df, "flat")
        with pytest.raises(ValueError):
            req.add_cusum_stability_constraint("d", "v")
        with pytest.raises(ValueError):
            req.add_cusum_stability_constraint("d", "v", max_cusum=-1.0)

    def test_empty_selection_is_vacuously_stable(self, spark):
        # no series -> no shift; must not die with IndexError
        df = spark.createDataFrame([], "d date, v double")
        req = within_req(df, "empty_cusum")
        req.add_cusum_stability_constraint("d", "v", max_relative=1.0)
        assert outcomes(req, spark) == [True]

    def test_all_null_selection_is_vacuously_stable(self, spark):
        df = spark.createDataFrame(
            [(None, None)] * 5, "d date, v double"
        )
        req = within_req(df, "allnull_cusum")
        req.add_cusum_stability_constraint("d", "v", max_relative=1.0)
        assert outcomes(req, spark) == [True]


class TestParetoFrontierSize:
    @staticmethod
    def _points(spark):
        # frontier of (min x, max y) = {(1, 9), (3, 12)}; (5, 7) and
        # (4, 11) are dominated
        rows = [(1, 9), (3, 12), (5, 7), (4, 11), (3, 12)]
        return spark.createDataFrame(rows, "price long, qty long")

    def test_within_bounds_passes(self, spark):
        req = within_req(self._points(spark), "pareto_ok")
        req.add_pareto_frontier_size_constraint(
            "price", "qty", max_points=3, min_points=2
        )
        assert outcomes(req, spark) == [True]

    def test_exploded_frontier_fails(self, spark):
        req = within_req(self._points(spark), "pareto_max")
        req.add_pareto_frontier_size_constraint("price", "qty", max_points=1)
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "2 non-dominated" in results[0].failure_message

    def test_collapsed_frontier_fails_min(self, spark):
        df = spark.createDataFrame([(1, 9), (2, 8), (3, 7)], "price long, qty long")
        req = within_req(df, "pareto_min")
        # (1,9) dominates under (min price, max qty): frontier size 1
        req.add_pareto_frontier_size_constraint("price", "qty", min_points=2)
        assert outcomes(req, spark) == [False]

    def test_validation(self, spark):
        req = within_req(self._points(spark), "pareto_val")
        with pytest.raises(ValueError):
            req.add_pareto_frontier_size_constraint("price", "qty")
        with pytest.raises(ValueError):
            req.add_pareto_frontier_size_constraint("price", "qty", max_points=0)


class TestGroupedOls2Slope:
    def _df(self, spark):
        rows = []
        for d in range(30):
            wk = 1 if d % 7 in (2, 3) else 0
            rows.append(("up", d, wk, 100 + 5 * d - 30 * wk))
            rows.append(("flat", d, wk, 200 + 0 * d + 10 * wk))
        return spark.createDataFrame(rows, "g string, x1 int, x2 int, v int")

    def test_pass_and_fail_on_controlled_slope(self, spark):
        df = self._df(spark)
        req = within_req(df, "gols1")
        req.add_grouped_ols2_slope_constraint(
            "x1", "x2", "v", "g", min_beta1=-1.0, max_beta1=10.0
        )
        req.add_grouped_ols2_slope_constraint(
            "x1", "x2", "v", "g", min_beta1=1.0  # fail: 'flat' has b1=0
        )
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "flat (beta1=" in results[1].failure_message
        assert "up (beta1=" not in results[1].failure_message

    def test_min_r2_gate(self, spark):
        df = self._df(spark)  # exact linear models -> r2 == 1.0
        req = within_req(df, "gols2")
        req.add_grouped_ols2_slope_constraint(
            "x1", "x2", "v", "g", min_r2=0.99
        )
        assert [r.outcome for r in req.test(spark)] == [True]

    def test_degenerate_group_fails_explicitly(self, spark):
        df = spark.createDataFrame(
            [("solo", d, 1, 10 + d) for d in range(5)],  # x2 constant
            "g string, x1 int, x2 int, v int",
        )
        req = within_req(df, "gols3")
        req.add_grouped_ols2_slope_constraint(
            "x1", "x2", "v", "g", min_beta1=-100.0, max_beta1=100.0
        )
        results = req.test(spark)
        assert results[0].outcome is False
        assert "degenerate" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([(1,)], "x int")
        req = within_req(df, "gols4")
        with pytest.raises(ValueError):
            req.add_grouped_ols2_slope_constraint("x1", "x2", "v", "g")


class TestWinsorizedMean:
    def test_robust_to_outliers_where_plain_mean_fails(self, spark):
        vals = [(100,)] * 98 + [(10**12,), (102,)]
        df = spark.createDataFrame(vals, "x long")
        req = within_req(df, "wins1")
        req.add_winsorized_mean_constraint("x", 100.0, 5.0)  # robust: pass
        req.add_numeric_mean_constraint("x", 100.0, 5.0)     # dragged: fail
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]

    def test_fails_with_cut_detail(self, spark):
        df = spark.createDataFrame([(v,) for v in range(100)], "x long")
        req = within_req(df, "wins2")
        req.add_winsorized_mean_constraint("x", 1000.0, 1.0)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "clip at p1=" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([(1,)], "x long")
        req = within_req(df, "wins3")
        with pytest.raises(ValueError):
            req.add_winsorized_mean_constraint("x", 0.0, -1.0)
        with pytest.raises(ValueError):
            req.add_winsorized_mean_constraint("x", 0.0, 1.0, p_lo=99.0, p_hi=1.0)


class TestKAnonymity:
    @staticmethod
    def _people(spark):
        # (zip, age) quasi groups: ("10", 30) x3, ("20", 40) x2,
        # ("30", 50) x1 — the last two break k=3
        rows = [
            ("10", 30, "flu"),
            ("10", 30, "cold"),
            ("10", 30, "flu"),
            ("20", 40, "flu"),
            ("20", 40, "flu"),
            ("30", 50, "cold"),
        ]
        return spark.createDataFrame(rows, "zip string, age long, dx string")

    def test_pass_and_fail_on_k(self, spark):
        df = self._people(spark)
        req = within_req(df, "kanon_ok")
        req.add_k_anonymity_constraint(["zip", "age"], min_k=1)
        assert outcomes(req, spark) == [True]
        req = within_req(df, "kanon_bad")
        req.add_k_anonymity_constraint(["zip", "age"], min_k=3)
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        # the rarest combination is named in the message
        assert "zip=30" in results[0].failure_message
        assert "x1" in results[0].failure_message

    def test_at_risk_fraction_tolerance(self, spark):
        df = self._people(spark)
        req = within_req(df, "kanon_tol")
        # 3 of 6 rows live in groups under k=3 -> fraction 0.5
        req.add_k_anonymity_constraint(
            ["zip", "age"], min_k=3, max_at_risk_fraction=0.5
        )
        req.add_k_anonymity_constraint(
            ["zip", "age"], min_k=3, max_at_risk_fraction=0.49
        )
        assert outcomes(req, spark) == [True, False]

    def test_l_diversity(self, spark):
        df = self._people(spark)
        req = within_req(df, "kanon_ldiv")
        # ("20",40) group has only one distinct dx -> l-diversity 1 < 2
        req.add_k_anonymity_constraint(
            ["zip", "age"],
            min_k=1,
            sensitive_column="dx",
            min_diversity=2,
        )
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "distinct 'dx'" in results[0].failure_message

    def test_empty_selection_vacuous(self, spark):
        df = self._people(spark)
        req = within_req(df, "kanon_empty")
        req.add_k_anonymity_constraint(
            ["zip", "age"], min_k=5,
            condition=Condition(raw_string="age > 999"),
        )
        assert outcomes(req, spark) == [True]

    def test_strict_gate_uses_exact_counts(self, spark):
        # 1 at-risk row among 2,000,001: the digest's 6dp
        # at_risk_fraction rounds to 0.0, but the strict (0.0) gate
        # must still fail — it gates on the exact integer counts
        from pyspark.sql import functions as F

        df = spark.range(2_000_001).select(
            F.when(F.col("id") == 0, "rare")
            .otherwise("common")
            .alias("q")
        )
        req = within_req(df, "kanon_scale")
        req.add_k_anonymity_constraint(["q"], min_k=2)
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "1 quasi-identifier group" in results[0].failure_message

    def test_validation(self, spark):
        df = self._people(spark)
        req = within_req(df, "kanon_val")
        with pytest.raises(ValueError):
            req.add_k_anonymity_constraint(["zip"], min_k=0)
        with pytest.raises(ValueError):
            req.add_k_anonymity_constraint([], min_k=2)
        with pytest.raises(ValueError):
            req.add_k_anonymity_constraint(
                ["zip"], min_k=2, max_at_risk_fraction=1.5
            )
        with pytest.raises(ValueError):
            req.add_k_anonymity_constraint(["zip"], min_k=2, min_diversity=2)


class TestBootstrapMeanStability:
    @staticmethod
    def _amounts(spark):
        # tight cluster around 100.00: mean is very stable
        rows = [(i, 100.0 + (i % 11) * 0.1) for i in range(400)]
        return spark.createDataFrame(rows, "k long, amount double")

    def test_stable_mean_passes(self, spark):
        req = within_req(self._amounts(spark), "boot_ok")
        req.add_bootstrap_mean_ci_constraint(
            "k", "amount", max_relative_width=0.05
        )
        assert outcomes(req, spark) == [True]

    def test_unstable_mean_fails(self, spark):
        # one enormous outlier makes the mean jump between replicates
        rows = [(i, 10.0) for i in range(50)] + [(999, 100000.0)]
        df = spark.createDataFrame(rows, "k long, amount double")
        req = within_req(df, "boot_unstable")
        req.add_bootstrap_mean_ci_constraint(
            "k", "amount", max_relative_width=0.10
        )
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "relative width" in results[0].failure_message

    def test_target_containment(self, spark):
        df = self._amounts(spark)
        req = within_req(df, "boot_target")
        req.add_bootstrap_mean_ci_constraint(
            "k", "amount", target_value=100.5
        )
        req.add_bootstrap_mean_ci_constraint(
            "k", "amount", target_value=200.0
        )
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "outside the bootstrap CI" in results[1].failure_message

    def test_empty_selection_vacuous(self, spark):
        req = within_req(self._amounts(spark), "boot_empty")
        req.add_bootstrap_mean_ci_constraint(
            "k", "amount", max_relative_width=0.01,
            condition=Condition(raw_string="amount < 0"),
        )
        assert outcomes(req, spark) == [True]

    def test_validation(self, spark):
        req = within_req(self._amounts(spark), "boot_val")
        with pytest.raises(ValueError):
            req.add_bootstrap_mean_ci_constraint("k", "amount")
        with pytest.raises(ValueError):
            req.add_bootstrap_mean_ci_constraint(
                "k", "amount", max_relative_width=-1.0
            )
        with pytest.raises(ValueError):
            req.add_bootstrap_mean_ci_constraint(
                "k", "amount", target_value=1.0, n_reps=2
            )


class TestTheilsUMin:
    def test_exact_fd_scores_one(self, spark):
        # a = f(b): U(A|B) = 1
        rows = [(f"g{i % 2}", f"b{i % 6}") for i in range(120)]
        df = spark.createDataFrame(rows, "a string, b string")
        req = within_req(df, "theils_fd")
        req.add_theils_u_min_constraint("a", "b", min_u=0.999)
        assert outcomes(req, spark) == [True]

    def test_weak_dependence_fails(self, spark):
        # balanced independent grid: U = 0
        rows = [(f"a{i % 3}", f"b{(i // 3) % 4}") for i in range(120)]
        df = spark.createDataFrame(rows, "a string, b string")
        req = within_req(df, "theils_weak")
        req.add_theils_u_min_constraint("a", "b", min_u=0.5)
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "explains only" in results[0].failure_message

    def test_constant_dependent_fails_loudly(self, spark):
        df = spark.createDataFrame(
            [("x", f"b{i % 3}") for i in range(30)], "a string, b string"
        )
        req = within_req(df, "theils_const")
        req.add_theils_u_min_constraint("a", "b", min_u=0.1)
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "zero entropy" in results[0].failure_message

    def test_empty_selection_vacuous(self, spark):
        # empty selection aggregates zero cells: n must coalesce to 0
        # and take the vacuous-pass branch, not fail with "over None
        # rows"
        df = spark.createDataFrame(
            [("x", "y", 1)], "a string, b string, v long"
        )
        req = within_req(df, "theils_empty")
        req.add_theils_u_min_constraint(
            "a", "b", min_u=0.9, condition=Condition(raw_string="v > 99")
        )
        results = req.test(spark)
        assert [r.outcome for r in results] == [True]

    def test_validation(self, spark):
        df = spark.createDataFrame([("a", "b")], "a string, b string")
        req = within_req(df, "theils_val")
        with pytest.raises(ValueError):
            req.add_theils_u_min_constraint("a", "b", min_u=1.5)


class TestMannKendallStability:
    def test_noise_passes_trend_fails(self, spark):
        import datetime as dt
        import random

        rng = random.Random(17)
        base = dt.date(2024, 1, 1)
        noise = spark.createDataFrame(
            [(base + dt.timedelta(days=i), float(rng.randint(80, 120)))
             for i in range(150)],
            "d date, v double",
        )
        req = within_req(noise, "mk_ok")
        req.add_mann_kendall_constraint("d", "v", max_abs_z=3.0)
        assert outcomes(req, spark) == [True]

        drift = spark.createDataFrame(
            [(base + dt.timedelta(days=i),
              100.0 + 0.5 * i + rng.randint(0, 10))
             for i in range(150)],
            "d date, v double",
        )
        req = within_req(drift, "mk_drift")
        req.add_mann_kendall_constraint("d", "v", max_abs_z=1.96)
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "upward" in results[0].failure_message

    def test_constant_and_empty_pass(self, spark):
        import datetime as dt

        base = dt.date(2024, 1, 1)
        flat = spark.createDataFrame(
            [(base + dt.timedelta(days=i), 5.0) for i in range(30)],
            "d date, v double",
        )
        req = within_req(flat, "mk_flat")
        # all ties: z undefined -> constant series carries no trend
        req.add_mann_kendall_constraint("d", "v")
        req.add_mann_kendall_constraint(
            "d", "v", condition=Condition(raw_string="v < 0")
        )
        assert outcomes(req, spark) == [True, True]
        with pytest.raises(ValueError):
            req.add_mann_kendall_constraint("d", "v", max_abs_z=-1.0)


class TestWhiteNoiseLjungBox:
    def test_noise_passes_cycle_fails(self, spark):
        import datetime as dt
        import random

        rng = random.Random(11)
        base = dt.date(2024, 1, 1)
        noise = spark.createDataFrame(
            [(base + dt.timedelta(days=i), float(rng.randint(80, 120)))
             for i in range(200)],
            "d date, v double",
        )
        req = within_req(noise, "wn_ok")
        # chi2 critical value for 14 dof at ~0.1%: generous bound
        req.add_white_noise_constraint("d", "v", max_q=40.0)
        assert outcomes(req, spark) == [True]

        weekly = spark.createDataFrame(
            [(base + dt.timedelta(days=i), 100.0 + 50 * (i % 7))
             for i in range(200)],
            "d date, v double",
        )
        req = within_req(weekly, "wn_cycle")
        req.add_white_noise_constraint("d", "v", max_q=40.0)
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "lag 7" in results[0].failure_message

    def test_empty_vacuous_and_validation(self, spark):
        import datetime as dt

        df = spark.createDataFrame(
            [(dt.date(2024, 1, 1), 1.0)], "d date, v double"
        )
        req = within_req(df, "wn_empty")
        req.add_white_noise_constraint(
            "d", "v", max_q=1.0,
            condition=Condition(raw_string="v < 0"),
        )
        assert outcomes(req, spark) == [True]
        with pytest.raises(ValueError):
            req.add_white_noise_constraint("d", "v", max_q=-1.0)
        with pytest.raises(ValueError):
            req.add_white_noise_constraint("d", "v", max_q=1.0, max_lag=0)


class TestJointOutlierBound:
    def test_clean_cloud_passes_planted_fails(self, spark):
        clean = [(i, 2 * i + (i % 3)) for i in range(1, 101)]
        df = spark.createDataFrame(clean, "x long, y long")
        req = within_req(df, "joint_ok")
        req.add_joint_outlier_constraint("x", "y", max_d2=15.0)
        assert outcomes(req, spark) == [True]

        planted = spark.createDataFrame(
            clean + [(50, 20)], "x long, y long"
        )
        req = within_req(planted, "joint_bad")
        req.add_joint_outlier_constraint("x", "y", max_d2=15.0)
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "(50, 20)" in results[0].failure_message

    def test_tolerance_and_collinear(self, spark):
        clean = [(i, 2 * i + (i % 3)) for i in range(1, 101)]
        planted = spark.createDataFrame(
            clean + [(50, 20)], "x long, y long"
        )
        req = within_req(planted, "joint_tol")
        req.add_joint_outlier_constraint(
            "x", "y", max_d2=15.0, max_violations=1
        )
        assert outcomes(req, spark) == [True]
        # collinear: singular covariance -> vacuous pass
        col = spark.createDataFrame(
            [(i, 3 * i) for i in range(50)], "x long, y long"
        )
        req = within_req(col, "joint_collinear")
        req.add_joint_outlier_constraint("x", "y", max_d2=1.0)
        assert outcomes(req, spark) == [True]

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, 2)], "x long, y long")
        req = within_req(df, "joint_val")
        with pytest.raises(ValueError):
            req.add_joint_outlier_constraint("x", "y", max_d2=0.0)
        with pytest.raises(ValueError):
            req.add_joint_outlier_constraint(
                "x", "y", max_d2=1.0, max_violations=-1
            )


class TestMonotoneTrend:
    def test_increasing_passes_bend_fails(self, spark):
        inc = spark.createDataFrame(
            [(i, float(2 * i)) for i in range(200)], "x long, y double"
        )
        req = within_req(inc, "mono_ok")
        req.add_monotone_trend_constraint("x", "y", n_buckets=10)
        assert outcomes(req, spark) == [True]

        # a hard dip in the middle violates nondecreasing shape
        bent = spark.createDataFrame(
            [(i, float(2 * i if i < 100 else 400 - 2 * i)) for i in range(200)],
            "x long, y double",
        )
        req = within_req(bent, "mono_bent")
        req.add_monotone_trend_constraint("x", "y", n_buckets=10)
        results = req.test(spark)
        assert [r.outcome for r in results] == [False]
        assert "not nondecreasing" in results[0].failure_message

    def test_decreasing_direction(self, spark):
        dec = spark.createDataFrame(
            [(i, float(1000 - 3 * i)) for i in range(150)], "x long, y double"
        )
        req = within_req(dec, "mono_dec")
        req.add_monotone_trend_constraint(
            "x", "y", n_buckets=10, decreasing=True
        )
        req.add_monotone_trend_constraint("x", "y", n_buckets=10)  # fail
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]

    def test_tolerance_absorbs_noise(self, spark):
        import random

        rng = random.Random(23)
        noisy = spark.createDataFrame(
            [(i, float(5 * i + rng.randint(-100, 100))) for i in range(400)],
            "x long, y double",
        )
        req = within_req(noisy, "mono_noise")
        req.add_monotone_trend_constraint(
            "x", "y", n_buckets=20, max_deviation=60.0
        )
        assert outcomes(req, spark) == [True]

    def test_empty_vacuous_and_validation(self, spark):
        df = spark.createDataFrame([(1, 1.0)], "x long, y double")
        req = within_req(df, "mono_empty")
        req.add_monotone_trend_constraint(
            "x", "y", condition=Condition(raw_string="x < 0")
        )
        assert outcomes(req, spark) == [True]
        with pytest.raises(ValueError):
            req.add_monotone_trend_constraint("x", "y", max_deviation=-1.0)
        with pytest.raises(ValueError):
            req.add_monotone_trend_constraint("x", "y", n_buckets=1)


class TestJarqueBera:
    def test_normalish_passes_skewed_fails(self, spark):
        # symmetric triangular-ish data: tiny JB; one huge outlier
        # blows skew/kurtosis past any sane bound
        sym = [1, 2, 2, 3, 3, 3, 4, 4, 5] * 10
        req = within_req(
            spark.createDataFrame([(v,) for v in sym], "v long"), "jb_sym"
        )
        req.add_jarque_bera_constraint("v", max_jb=5.99)
        assert outcomes(req, spark) == [True]

        skew = sym + [500]
        req2 = within_req(
            spark.createDataFrame([(v,) for v in skew], "v long"), "jb_sk"
        )
        req2.add_jarque_bera_constraint("v", max_jb=5.99)
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "sigma-rule" in results[0].failure_message

    def test_degenerate_fails_cleanly(self, spark):
        req = within_req(
            spark.createDataFrame([(4,), (4,), (4,)], "v long"), "jb_const"
        )
        req.add_jarque_bera_constraint("v", max_jb=100.0)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message

    def test_validation(self, spark, int_table1):
        req = within_req(int_table1, "jb_val")
        with pytest.raises(ValueError):
            req.add_jarque_bera_constraint("col_int", max_jb=-1.0)


class TestTwoProportionZtest:
    def test_same_rate_passes_shifted_fails(self, spark):
        rows = (
            [("a", 1)] * 30 + [("a", 0)] * 70
            + [("b", 1)] * 30 + [("b", 0)] * 70
            + [("c", 1)] * 60 + [("c", 0)] * 40
        )
        df = spark.createDataFrame(rows, "pop string, ok int")
        req = within_req(df, "abz")
        req.add_two_proportion_ztest_constraint(
            Condition(raw_string="pop = 'a'"),
            Condition(raw_string="pop = 'b'"),
            Condition(raw_string="ok = 1"),
        )
        req.add_two_proportion_ztest_constraint(
            Condition(raw_string="pop = 'a'"),
            Condition(raw_string="pop = 'c'"),
            Condition(raw_string="ok = 1"),
        )  # 30% vs 60% on n=100/100 -> |z| ~ 4.3, fail
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "rate_a=0.3" in results[1].failure_message

    def test_degenerate_fails_cleanly(self, spark):
        df = spark.createDataFrame(
            [("a", 0), ("b", 0)], "pop string, ok int"
        )
        req = within_req(df, "abz_deg")
        req.add_two_proportion_ztest_constraint(
            Condition(raw_string="pop = 'a'"),
            Condition(raw_string="pop = 'b'"),
            Condition(raw_string="ok = 1"),
        )
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message


class TestCupedDiff:
    def test_adjusted_gate_pass_and_fail(self, spark):
        rng = __import__("random").Random(41)
        # post = 2*pre + noise, identical across variants -> CUPED diff
        # near 0 even though raw means differ via pre imbalance
        rows = []
        for i in range(400):
            v = i % 2
            pre = rng.randint(0, 200) + (80 if v == 0 else 0)  # imbalance
            post = pre * 2 + rng.randint(0, 20)
            rows.append((pre, post, v))
        df = spark.createDataFrame(rows, "pre long, post long, v int")
        req = within_req(df, "cuped1")
        req.add_cuped_diff_constraint("pre", "post", "v", 25.0)
        req.add_cuped_diff_constraint("pre", "post", "v", 0.001)  # fail
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "CUPED-adjusted" in results[1].failure_message

    def test_zero_pre_variance_falls_back_to_raw(self, spark):
        rows = [(5, 10, 0)] * 20 + [(5, 60, 1)] * 20
        df = spark.createDataFrame(rows, "pre long, post long, v int")
        req = within_req(df, "cuped2")
        req.add_cuped_diff_constraint("pre", "post", "v", 100.0)
        req.add_cuped_diff_constraint("pre", "post", "v", 10.0)  # |−50|>10
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "raw A/B difference" in results[1].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, 2, 0)], "pre long, post long, v int")
        req = within_req(df, "cuped3")
        with pytest.raises(ValueError):
            req.add_cuped_diff_constraint("pre", "post", "v", -1.0)


class TestLogrank:
    def _subjects(self, spark, shift):
        rng = __import__("random").Random(43)
        rows = [
            (rng.randint(1, 10) + (shift if i % 2 else 0),
             1 if rng.random() < 0.8 else 0, i % 2)
            for i in range(120)
        ]
        return spark.createDataFrame(rows, "dur int, ev int, grp int")

    def test_same_curves_pass_shifted_fail(self, spark):
        req = within_req(self._subjects(spark, 0), "lr_same")
        req.add_logrank_constraint("dur", "ev", "grp")
        assert outcomes(req, spark) == [True]

        req2 = within_req(self._subjects(spark, 8), "lr_shift")
        req2.add_logrank_constraint("dur", "ev", "grp")
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "survival curves differ" in results[0].failure_message

    def test_no_events_vacuous_pass(self, spark):
        df = spark.createDataFrame(
            [(3, 0, 0), (4, 0, 1)], "dur int, ev int, grp int"
        )
        req = within_req(df, "lr_noev")
        req.add_logrank_constraint("dur", "ev", "grp")
        assert outcomes(req, spark) == [True]


class TestCoxScore:
    def _subjects(self, spark, assoc):
        rng = __import__("random").Random(47)
        rows = []
        for _i in range(150):
            x = rng.randint(0, 500)
            dur = rng.randint(1, 10) + (x // 50 if assoc else 0)
            rows.append((dur, 1 if rng.random() < 0.8 else 0, x))
        return spark.createDataFrame(rows, "dur int, ev int, x long")

    def test_independent_passes_associated_fails(self, spark):
        req = within_req(self._subjects(spark, False), "cox_ind")
        req.add_cox_score_constraint("dur", "ev", "x")
        assert outcomes(req, spark) == [True]

        req2 = within_req(self._subjects(spark, True), "cox_assoc")
        req2.add_cox_score_constraint("dur", "ev", "x")
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "associates with the hazard" in results[0].failure_message

    def test_constant_covariate_vacuous_pass(self, spark):
        df = spark.createDataFrame(
            [(3, 1, 7), (4, 1, 7), (5, 0, 7)], "dur int, ev int, x long"
        )
        req = within_req(df, "cox_const")
        req.add_cox_score_constraint("dur", "ev", "x")
        assert outcomes(req, spark) == [True]

    def test_no_events_vacuous_pass(self, spark):
        df = spark.createDataFrame(
            [(3, 0, 1), (4, 0, 2)], "dur int, ev int, x long"
        )
        req = within_req(df, "cox_noev")
        req.add_cox_score_constraint("dur", "ev", "x")
        assert outcomes(req, spark) == [True]

    def test_validation(self, spark, int_table1):
        req = within_req(int_table1, "cox_v")
        with pytest.raises(ValueError):
            req.add_cox_score_constraint("d", "e", "x", max_chi2=-1.0)


class TestSequentialZtest:
    def _events(self, spark, late_shift):
        # 10 looks x 100 users/side; conversion moves by late_shift on
        # the b side in looks 6..10
        rows = []
        rng = __import__("random").Random(59)
        for look in range(1, 11):
            for u in range(200):
                grp = u % 2
                p = 0.3 + (late_shift if grp and look > 5 else 0.0)
                rows.append((look, grp, 1 if rng.random() < p else 0))
        return spark.createDataFrame(rows, "look int, grp int, conv int")

    def test_null_effect_passes_real_effect_fails(self, spark):
        from datajudge_spark import Condition

        a = Condition(raw_string="grp = 0")
        b = Condition(raw_string="grp = 1")
        s = Condition(raw_string="conv = 1")
        req = within_req(self._events(spark, 0.0), "obf_null")
        req.add_sequential_ztest_constraint("look", a, b, s)
        assert outcomes(req, spark) == [True]

        req2 = within_req(self._events(spark, 0.35), "obf_shift")
        req2.add_sequential_ztest_constraint("look", a, b, s)
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "crossed" in results[0].failure_message
        assert "boundary" in results[0].failure_message

    def test_allowance_and_custom_critical_value(self, spark):
        from datajudge_spark import Condition

        a = Condition(raw_string="grp = 0")
        b = Condition(raw_string="grp = 1")
        s = Condition(raw_string="conv = 1")
        df = self._events(spark, 0.35)
        # a huge critical value makes the boundary uncrossable
        req = within_req(df, "obf_cv")
        req.add_sequential_ztest_constraint(
            "look", a, b, s, critical_value=50.0
        )
        assert outcomes(req, spark) == [True]
        # allowance tolerates the crossings the default boundary finds
        req2 = within_req(df, "obf_allow")
        req2.add_sequential_ztest_constraint(
            "look", a, b, s, max_crossed_looks=10
        )
        assert outcomes(req2, spark) == [True]

    def test_validation(self, spark, int_table1):
        from datajudge_spark import Condition

        c = Condition(raw_string="col_int > 0")
        req = within_req(int_table1, "obf_v")
        with pytest.raises(ValueError):
            req.add_sequential_ztest_constraint("l", c, c, c, alpha=0.0)
        with pytest.raises(ValueError):
            req.add_sequential_ztest_constraint(
                "l", c, c, c, max_crossed_looks=-1
            )


class TestAlwaysValidZtest:
    def test_null_passes_real_effect_fails(self, spark):
        from datajudge_spark import Condition

        rng = __import__("random").Random(67)
        a = Condition(raw_string="grp = 0")
        b = Condition(raw_string="grp = 1")
        s = Condition(raw_string="conv = 1")

        def events(p_b):
            rows = []
            for look in range(1, 11):
                for u in range(200):
                    g = u % 2
                    p = p_b if g else 0.3
                    rows.append(
                        (look, g, 1 if rng.random() < p else 0)
                    )
            return spark.createDataFrame(
                rows, "look int, grp int, conv int"
            )

        req = within_req(events(0.3), "avi_null")
        req.add_always_valid_ztest_constraint("look", a, b, s)
        assert outcomes(req, spark) == [True]

        req2 = within_req(events(0.7), "avi_shift")
        req2.add_always_valid_ztest_constraint("look", a, b, s)
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "always-valid" in results[0].failure_message
        assert "anytime" in results[0].failure_message

    def test_expression_look_and_custom_phi(self, spark):
        from datajudge_spark import Condition

        rows = [(i, i % 2, i % 3 == 0) for i in range(600)]
        df = spark.createDataFrame(rows, "i long, grp int, conv boolean")
        req = within_req(df, "avi_expr")
        req.add_always_valid_ztest_constraint(
            "CAST(i % 5 AS INT)",
            Condition(raw_string="grp = 0"),
            Condition(raw_string="grp = 1"),
            Condition(raw_string="conv"),
            phi=0.01,
        )
        assert outcomes(req, spark) == [True]

    def test_validation(self, spark, int_table1):
        from datajudge_spark import Condition

        c = Condition(raw_string="col_int > 0")
        req = within_req(int_table1, "avi_v")
        with pytest.raises(ValueError):
            req.add_always_valid_ztest_constraint("l", c, c, c, alpha=1.0)
        with pytest.raises(ValueError):
            req.add_always_valid_ztest_constraint("l", c, c, c, phi=0.0)


class TestQte:
    def _ab(self, spark, top_decile_shift):
        rng = __import__("random").Random(61)
        rows = []
        for i in range(1000):
            g = i % 2
            v = float(rng.randint(0, 100))
            # treatment acts ONLY above the ~80th percentile — barely
            # visible to a mean gate, loud at the 9th decile of the grid
            if g and v > 80:
                v += top_decile_shift
            rows.append((g, v))
        return spark.createDataFrame(rows, "grp int, v double")

    def test_bounded_passes_tail_effect_fails(self, spark):
        req = within_req(self._ab(spark, 0.0), "qte_null")
        req.add_qte_constraint("v", "grp", max_abs_qte=5.0)
        assert outcomes(req, spark) == [True]

        req2 = within_req(self._ab(spark, 200.0), "qte_tail")
        req2.add_qte_constraint("v", "grp", max_abs_qte=5.0)
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "not distributionally bounded" in results[0].failure_message

    def test_non_two_level_fails_cleanly(self, spark):
        df = spark.createDataFrame(
            [(0, 1.0), (1, 2.0), (2, 3.0)], "grp int, v double"
        )
        req = within_req(df, "qte_3lvl")
        req.add_qte_constraint("v", "grp", max_abs_qte=5.0)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message

    def test_validation(self, spark, int_table1):
        req = within_req(int_table1, "qte_v")
        with pytest.raises(ValueError):
            req.add_qte_constraint("v", "g", max_abs_qte=-1.0)
        with pytest.raises(ValueError):
            req.add_qte_constraint("v", "g", max_abs_qte=1.0, deciles=1)


class TestGroupedQte:
    def _ab(self, spark, seg_shift):
        rng = __import__("random").Random(62)
        rows = []
        for i in range(1200):
            g = i % 2
            seg = "hot" if i % 3 == 0 else "cold"
            v = float(rng.randint(0, 100))
            # treatment acts only in the HOT segment's upper tail —
            # diluted in the pooled grid, loud per-segment
            if g and seg == "hot" and v > 80:
                v += seg_shift
            rows.append((g, seg, v))
        return spark.createDataFrame(rows, "grp int, seg string, v double")

    def test_segment_tail_effect_caught(self, spark):
        # ~200 rows per (segment, variant) cell: pure sampling noise
        # moves single deciles by ~±10 on a 0..100 domain — the null
        # bound must sit above that, the 300-point tail shift far above
        req = within_req(self._ab(spark, 0.0), "gqte_null")
        req.add_grouped_qte_constraint("v", "grp", "seg", max_abs_qte=15.0)
        assert outcomes(req, spark) == [True]

        req2 = within_req(self._ab(spark, 300.0), "gqte_tail")
        req2.add_grouped_qte_constraint("v", "grp", "seg", max_abs_qte=15.0)
        results = req2.test(spark)
        assert results[0].outcome is False
        msg = results[0].failure_message
        assert "'seg' segment" in msg and "hot" in msg

    def test_single_segment_matches_pooled(self, spark):
        from datajudge_spark.operators.stats import (
            grouped_quantile_treatment_effect,
            quantile_treatment_effect,
        )

        df = self._ab(spark, 50.0).withColumn(
            "one", __import__("pyspark").sql.functions.lit("all")
        )
        pooled = {
            r["decile"]: (r["q_a"], r["q_b"], r["qte"])
            for r in quantile_treatment_effect(df, "v", "grp").collect()
        }
        grouped = {
            r["decile"]: (r["q_a"], r["q_b"], r["qte"])
            for r in grouped_quantile_treatment_effect(
                df, "v", "grp", "one"
            ).collect()
        }
        assert pooled == grouped

    def test_missing_variant_segment(self, spark):
        rows = [(0, "both", 1.0), (1, "both", 2.0), (0, "only_a", 3.0)]
        df = spark.createDataFrame(rows, "grp int, seg string, v double")
        # tolerated by default: NULL cells, gate judges the rest
        req = within_req(df, "gqte_sparse")
        req.add_grouped_qte_constraint(
            "v", "grp", "seg", max_abs_qte=100.0
        )
        assert outcomes(req, spark) == [True]
        # explicit strictness fails with the segment named
        req2 = within_req(df, "gqte_strict")
        req2.add_grouped_qte_constraint(
            "v", "grp", "seg", max_abs_qte=100.0,
            require_both_variants=True,
        )
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "only_a" in results[0].failure_message

    def test_validation(self, spark, int_table1):
        req = within_req(int_table1, "gqte_v")
        with pytest.raises(ValueError):
            req.add_grouped_qte_constraint(
                "v", "g", "s", max_abs_qte=-1.0
            )
        with pytest.raises(ValueError):
            req.add_grouped_qte_constraint(
                "v", "g", "s", max_abs_qte=1.0, deciles=1
            )


class TestStratifiedDiff:
    def test_gate_pass_and_fail(self, spark):
        rng = __import__("random").Random(53)
        rows = []
        for i in range(400):
            s = 0 if (i % 2 == 0 and rng.random() < 0.75) or (
                i % 2 == 1 and rng.random() < 0.25) else 1
            y = (1000 if s == 0 else 100) + rng.randint(0, 40)
            rows.append((y, i % 2, s))
        df = spark.createDataFrame(rows, "y long, v int, s int")
        req = within_req(df, "strat1")
        req.add_stratified_diff_constraint("y", "v", "s", 40.0)
        req.add_stratified_diff_constraint("y", "v", "s", 0.001)  # fail
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "Post-stratified" in results[1].failure_message

    def test_no_comparable_stratum_fails_cleanly(self, spark):
        rows = [(10, 0, "a_only"), (20, 1, "b_only")]
        df = spark.createDataFrame(rows, "y long, v int, s string")
        req = within_req(df, "strat2")
        req.add_stratified_diff_constraint("y", "v", "s", 100.0)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "no stratum contains both variants" in results[0].failure_message

    def test_all_null_metric_or_stratum_fails_cleanly(self, spark):
        # Two assignment levels exist but every row has a NULL metric
        # or NULL stratum: the per-stratum frame is EMPTY (zero digest
        # rows) — gate must fail cleanly, not IndexError.
        rows = [(None, 0, "s1"), (None, 1, "s1"), (7, 0, None), (9, 1, None)]
        df = spark.createDataFrame(
            rows, "y long, v int, s string"
        )
        req = within_req(df, "strat3")
        req.add_stratified_diff_constraint("y", "v", "s", 100.0)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message


class TestRatioZtest:
    def test_gate_pass_and_fail(self, spark):
        rng = __import__("random").Random(31)
        rows = []
        for i in range(400):
            v = i % 2
            den = rng.randint(5, 30)
            # variant 1 converts at ~2x the rate
            p = 0.1 if v == 0 else 0.25
            num = sum(1 for _ in range(den) if rng.random() < p)
            rows.append((num, den, v))
        df = spark.createDataFrame(rows, "num long, den long, v int")
        req = within_req(df, "ratio1")
        req.add_ratio_ztest_constraint("num", "den", "v", 1e9)
        req.add_ratio_ztest_constraint("num", "den", "v", 0.5)  # fail
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "Ratio metric" in results[1].failure_message

    def test_three_levels_fails_cleanly(self, spark):
        df = spark.createDataFrame(
            [(1, 2, 0), (1, 2, 1), (1, 2, 2)], "num long, den long, v int"
        )
        req = within_req(df, "ratio2")
        req.add_ratio_ztest_constraint("num", "den", "v", 1.96)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message

    def test_zero_denominator_side_fails_cleanly(self, spark):
        df = spark.createDataFrame(
            [(1, 0, 0), (2, 0, 0), (1, 5, 1), (2, 5, 1)],
            "num long, den long, v int",
        )
        req = within_req(df, "ratio3")
        req.add_ratio_ztest_constraint("num", "den", "v", 1.96)
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message


class TestSrm:
    def test_gate_pass_and_fail(self, spark):
        rows = [("a",)] * 5000 + [("b",)] * 5150
        df = spark.createDataFrame(rows, "v string")
        req = within_req(df, "srm1")
        # chi2 = (75^2/5075)*2 ~ 2.217 on a 50/50 split
        req.add_srm_constraint("v", 10.0, {"a": 0.5, "b": 0.5})
        req.add_srm_constraint("v", 1.0, {"a": 0.5, "b": 0.5})  # fail
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "mismatch the expected split" in results[1].failure_message

    def test_uniform_default(self, spark):
        rows = [("x",)] * 300 + [("y",)] * 300 + [("z",)] * 300
        df = spark.createDataFrame(rows, "v string")
        req = within_req(df, "srm2")
        req.add_srm_constraint("v", 0.001)  # perfectly uniform -> chi2 0
        assert outcomes(req, spark) == [True]

    def test_unknown_level_raises(self, spark):
        df = spark.createDataFrame([("a",), ("mystery",)], "v string")
        req = within_req(df, "srm3")
        req.add_srm_constraint("v", 100.0, {"a": 1.0})
        with pytest.raises(Exception, match="not in"):
            req.test(spark)

    def test_empty_passes_vacuously(self, spark):
        df = spark.createDataFrame([], "v string")
        req = within_req(df, "srm4")
        req.add_srm_constraint("v", 1.0)
        assert outcomes(req, spark) == [True]


class TestPettitt:
    def test_gate_pass_and_fail(self, spark):
        import datetime as dt

        rng = __import__("random").Random(17)
        base = dt.date(2024, 1, 1)
        rows = []
        for i in range(80):
            level = 100 if i < 40 else 400  # hard level shift
            rows.append(
                (base + dt.timedelta(days=i), float(level + rng.randint(0, 10)))
            )
        df = spark.createDataFrame(rows, "d date, v double")
        req = within_req(df, "pett1")
        req.add_pettitt_constraint("d", "v", min_p_value=0.05)  # fail
        req.add_pettitt_constraint("d", "v", min_p_value=0.0)   # pass
        results = req.test(spark)
        assert [r.outcome for r in results] == [False, True]
        assert "change point" in results[0].failure_message
        assert "2024-02" in results[0].failure_message

    def test_stationary_passes(self, spark):
        import datetime as dt

        rng = __import__("random").Random(23)
        base = dt.date(2024, 1, 1)
        rows = [
            (base + dt.timedelta(days=i), float(rng.randint(90, 110)))
            for i in range(60)
        ]
        df = spark.createDataFrame(rows, "d date, v double")
        req = within_req(df, "pett2")
        req.add_pettitt_constraint("d", "v")
        assert outcomes(req, spark) == [True]

    def test_single_day_vacuous(self, spark):
        import datetime as dt

        df = spark.createDataFrame(
            [(dt.date(2024, 1, 1), 5.0)], "d date, v double"
        )
        req = within_req(df, "pett3")
        req.add_pettitt_constraint("d", "v")
        assert outcomes(req, spark) == [True]


class TestDispersion:
    def test_gate_pass_and_fail(self, spark):
        rng = __import__("random").Random(41)
        rows = []
        for i in range(300):
            # group p: Poisson-ish (D ~ 1); group burst: clumped
            rows.append((rng.randint(8, 12), "p"))
            rows.append((0 if rng.random() < 0.9 else 100, "burst"))
        df = spark.createDataFrame(rows, "c long, g string")
        req = within_req(df, "disp1")
        req.add_dispersion_constraint("c", 1e6, group_column="g")
        req.add_dispersion_constraint("c", 5.0, group_column="g")  # fail
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "burst" in results[1].failure_message
        assert "overdispersed" in results[1].failure_message

    def test_ungrouped(self, spark):
        df = spark.createDataFrame([(5,), (5,), (6,), (6,)], "c long")
        req = within_req(df, "disp2")
        req.add_dispersion_constraint("c", 1.0)
        assert outcomes(req, spark) == [True]

    def test_degenerate_passes(self, spark):
        # constant zero counts: mean 0 -> undefined dispersion -> pass
        df = spark.createDataFrame([(0,), (0,), (0,)], "c long")
        req = within_req(df, "disp3")
        req.add_dispersion_constraint("c", 0.5)
        assert outcomes(req, spark) == [True]


class TestDiffInDiff:
    def test_gate_pass_and_fail(self, spark):
        rng = __import__("random").Random(61)
        rows = []
        for i in range(400):
            v = i % 2
            pre = rng.randint(80, 120)
            post = pre + rng.randint(0, 20) + (30 if v == 0 else 0)
            rows.append((pre, post, v))
        df = spark.createDataFrame(rows, "pre long, post long, v int")
        req = within_req(df, "did1")
        req.add_diff_in_diff_constraint("pre", "post", "v", 1e9)
        req.add_diff_in_diff_constraint("pre", "post", "v", 0.5)  # fail
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "Difference-in-differences" in results[1].failure_message

    def test_three_levels_fails_cleanly(self, spark):
        df = spark.createDataFrame(
            [(1, 2, 0), (1, 2, 1), (1, 2, 2)], "pre long, post long, v int"
        )
        req = within_req(df, "did2")
        req.add_diff_in_diff_constraint("pre", "post", "v")
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message

    def test_zero_delta_variance_fails_cleanly(self, spark):
        # constant post-pre in both groups: DiD defined but se is not
        df = spark.createDataFrame(
            [(1, 3, 0), (5, 7, 0), (2, 4, 1), (9, 11, 1)],
            "pre long, post long, v int",
        )
        req = within_req(df, "did3")
        req.add_diff_in_diff_constraint("pre", "post", "v")
        results = req.test(spark)
        assert results[0].outcome is False
        assert "zero delta variance" in results[0].failure_message


class TestCentroidShift:
    def test_gate_pass_and_fail(self, spark):
        rng = __import__("random").Random(67)
        rows = []
        for i in range(120):
            g = i % 2
            base = 0.0 if g == 0 else 0.8
            rows.append(
                ([base + rng.uniform(-0.05, 0.05) for _ in range(6)],
                 f"s{g}")
            )
        df = spark.createDataFrame(rows, "emb array<float>, src string")
        req = within_req(df, "cshift1")
        req.add_centroid_shift_constraint("emb", "src", 10.0)
        req.add_centroid_shift_constraint("emb", "src", 0.5)  # ~1.96 dist
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "shifted centroids" in results[1].failure_message
        assert "s0" in results[1].failure_message

    def test_single_group_passes(self, spark):
        df = spark.createDataFrame(
            [([0.1, 0.2], "only")] * 5, "emb array<float>, src string"
        )
        req = within_req(df, "cshift2")
        req.add_centroid_shift_constraint("emb", "src", 0.0)
        assert outcomes(req, spark) == [True]


class TestWelchT:
    def test_pass_and_fail(self, spark):
        rng = __import__("random").Random(51)
        rows = [
            (rng.randint(0, 100) + (40 if i % 2 else 0), i % 2)
            for i in range(400)
        ]
        df = spark.createDataFrame(rows, "x long, v int")
        req = within_req(df, "welch1")
        req.add_welch_ttest_constraint("x", "v", max_abs_t=1e6)
        req.add_welch_ttest_constraint("x", "v", max_abs_t=1.0)  # fail
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "Welch t" in results[1].failure_message
        assert "df=" in results[1].failure_message
        assert "p=" in results[1].failure_message

    def test_degenerate_single_unit_side(self, spark):
        rows = [(10, 0)] + [(5, 1)] * 30
        df = spark.createDataFrame(rows, "x long, v int")
        req = within_req(df, "welch2")
        req.add_welch_ttest_constraint("x", "v")
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message

    def test_constant_metric_pass_and_certain_shift(self, spark):
        # identical constant metric in both variants: no shift, a pass
        same = [(7, i % 2) for i in range(40)]
        df = spark.createDataFrame(same, "x long, v int")
        req = within_req(df, "welch4")
        req.add_welch_ttest_constraint("x", "v")
        assert outcomes(req, spark) == [True]
        # constant in both variants but DIFFERENT values: zero variance
        # yet a certain mean shift — must fail, not pass (ADVICE r9)
        shifted = [(5 if i % 2 else 7, i % 2) for i in range(40)]
        df2 = spark.createDataFrame(shifted, "x long, v int")
        req2 = within_req(df2, "welch5")
        req2.add_welch_ttest_constraint("x", "v")
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "Certain mean shift" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, 0)], "x long, v int")
        req = within_req(df, "welch3")
        with pytest.raises(ValueError):
            req.add_welch_ttest_constraint("x", "v", max_abs_t=-1.0)


class TestBrownForsythe:
    def test_equal_vs_exploded_spread(self, spark):
        rng = __import__("random").Random(52)
        same = [(g, rng.randint(0, 100)) for g in "abc" for _ in range(100)]
        df = spark.createDataFrame(same, "g string, x long")
        req = within_req(df, "bf1")
        req.add_brown_forsythe_constraint("x", "g", max_f=50.0)
        results = req.test(spark)
        assert [r.outcome for r in results] == [True]

        blown = [
            (g, rng.randint(0, 100) * (50 if g == "c" else 1))
            for g in "abc"
            for _ in range(100)
        ]
        df2 = spark.createDataFrame(blown, "g string, x long")
        req2 = within_req(df2, "bf2")
        req2.add_brown_forsythe_constraint("x", "g", max_f=5.0)
        results2 = req2.test(spark)
        assert results2[0].outcome is False
        assert "Brown-Forsythe" in results2[0].failure_message

    def test_single_group_vacuous(self, spark):
        df = spark.createDataFrame(
            [("only", i) for i in range(10)], "g string, x long"
        )
        req = within_req(df, "bf3")
        req.add_brown_forsythe_constraint("x", "g", max_f=0.0)
        assert outcomes(req, spark) == [True]


class TestCMH:
    def test_association_vs_none(self, spark):
        rng = __import__("random").Random(53)
        rows = []
        for i in range(2000):
            s = "s" + str(i % 4)
            e = rng.random() < 0.5
            base = 0.2 + 0.1 * (i % 4)
            rows.append((s, 1 if e else 0, 1 if rng.random() < base else 0))
        df = spark.createDataFrame(rows, "s string, e int, o int")
        req = within_req(df, "cmh1")
        req.add_cmh_constraint(
            "s",
            Condition(raw_string="e = 1"),
            Condition(raw_string="o = 1"),
            max_chi2=6.0,
        )
        assert outcomes(req, spark) == [True]

        rows2 = []
        for i in range(2000):
            s = "s" + str(i % 4)
            e = rng.random() < 0.5
            base = (0.2 + 0.1 * (i % 4)) + (0.25 if e else 0.0)
            rows2.append((s, 1 if e else 0, 1 if rng.random() < base else 0))
        df2 = spark.createDataFrame(rows2, "s string, e int, o int")
        req2 = within_req(df2, "cmh2")
        req2.add_cmh_constraint(
            "s",
            Condition(raw_string="e = 1"),
            Condition(raw_string="o = 1"),
            max_chi2=3.841,
        )
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "odds ratio" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([("s", 1, 1)], "s string, e int, o int")
        req = within_req(df, "cmh3")
        with pytest.raises(ValueError):
            req.add_cmh_constraint(
                "s",
                Condition(raw_string="e = 1"),
                Condition(raw_string="o = 1"),
                max_chi2=-1.0,
            )


class TestBHFdr:
    def _segments(self, spark, shifted):
        rng = __import__("random").Random(54)
        rows = []
        for i in range(12000):
            g = "g" + str(i % 12)
            a = rng.random() < 0.5
            p = 0.3 + (0.18 if (a and g in shifted) else 0.0)
            rows.append((g, 1 if a else 0, 1 if rng.random() < p else 0))
        return spark.createDataFrame(rows, "g string, a int, o int")

    def test_null_case_passes_and_shift_fails(self, spark):
        df = self._segments(spark, shifted=())
        req = within_req(df, "bh1")
        req.add_bh_fdr_constraint(
            "g",
            Condition(raw_string="a = 1"),
            Condition(raw_string="a = 0"),
            Condition(raw_string="o = 1"),
            q_threshold=0.05,
        )
        assert outcomes(req, spark) == [True]

        df2 = self._segments(spark, shifted=("g2", "g7"))
        req2 = within_req(df2, "bh2")
        req2.add_bh_fdr_constraint(
            "g",
            Condition(raw_string="a = 1"),
            Condition(raw_string="a = 0"),
            Condition(raw_string="o = 1"),
            q_threshold=0.05,
        )
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "'g2'" in results[0].failure_message or "'g7'" in (
            results[0].failure_message
        )
        # allowing the two true movers passes
        req3 = within_req(df2, "bh3")
        req3.add_bh_fdr_constraint(
            "g",
            Condition(raw_string="a = 1"),
            Condition(raw_string="a = 0"),
            Condition(raw_string="o = 1"),
            q_threshold=0.05,
            max_significant=2,
        )
        assert outcomes(req3, spark) == [True]

    def test_validation(self, spark):
        df = spark.createDataFrame([("g", 1, 1)], "g string, a int, o int")
        req = within_req(df, "bh4")
        with pytest.raises(ValueError):
            req.add_bh_fdr_constraint(
                "g",
                Condition(raw_string="a = 1"),
                Condition(raw_string="a = 0"),
                Condition(raw_string="o = 1"),
                q_threshold=0.0,
            )


class TestCumulativeHazard:
    def test_hand_computed_bound(self, spark):
        # durations 1,1,2,3 all observed: H = 2/4 + 1/2 + 1/1 = 2.0
        rows = [(1, 1), (1, 1), (2, 1), (3, 1)]
        df = spark.createDataFrame(rows, "dur int, ev int")
        req = within_req(df, "nah1")
        req.add_cumulative_hazard_constraint("dur", "ev", max_hazard=2.0)
        req.add_cumulative_hazard_constraint("dur", "ev", max_hazard=1.9)
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "2.0" in results[1].failure_message

    def test_censoring_lowers_hazard(self, spark):
        rows = [(1, 0), (1, 0), (2, 0), (3, 0)]  # all censored: H = 0
        df = spark.createDataFrame(rows, "dur int, ev int")
        req = within_req(df, "nah2")
        req.add_cumulative_hazard_constraint("dur", "ev", max_hazard=0.0)
        assert outcomes(req, spark) == [True]


class TestDurbinWatson:
    def test_white_noise_passes_seasonal_fails(self, spark):
        import datetime as dt

        rng = __import__("random").Random(55)
        d0 = dt.date(2024, 1, 1)
        white = [
            (d0 + dt.timedelta(days=i), 100.0 + rng.gauss(0, 10))
            for i in range(120)
        ]
        df = spark.createDataFrame(white, "day date, v double")
        req = within_req(df, "dw1")
        req.add_durbin_watson_constraint("day", "v")
        assert outcomes(req, spark) == [True]

        import math as m

        seasonal = [
            (d0 + dt.timedelta(days=i), 100.0 + 50 * m.sin(i / 10.0))
            for i in range(120)
        ]
        df2 = spark.createDataFrame(seasonal, "day date, v double")
        req2 = within_req(df2, "dw2")
        req2.add_durbin_watson_constraint("day", "v")
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "Durbin-Watson" in results[0].failure_message

    def test_short_series_vacuous(self, spark):
        import datetime as dt

        df = spark.createDataFrame(
            [(dt.date(2024, 1, 1), 5.0), (dt.date(2024, 1, 2), 6.0)],
            "day date, v double",
        )
        req = within_req(df, "dw3")
        req.add_durbin_watson_constraint("day", "v")
        assert outcomes(req, spark) == [True]

    def test_validation(self, spark):
        import datetime as dt

        df = spark.createDataFrame([(dt.date(2024, 1, 1), 5.0)], "day date, v double")
        req = within_req(df, "dw4")
        with pytest.raises(ValueError):
            req.add_durbin_watson_constraint("day", "v", min_dw=3.0, max_dw=2.0)


class TestKruskalWallis:
    def test_shifted_group_fails_same_passes(self, spark):
        rng = __import__("random").Random(56)
        same = [("g" + str(i % 3), rng.randint(0, 200)) for i in range(600)]
        df = spark.createDataFrame(same, "g string, x long")
        req = within_req(df, "kw1")
        req.add_kruskal_wallis_constraint("x", "g", max_h=20.0)
        assert outcomes(req, spark) == [True]

        shifted = [
            ("g" + str(i % 3), rng.randint(0, 200) + (i % 3) * 120)
            for i in range(600)
        ]
        df2 = spark.createDataFrame(shifted, "g string, x long")
        req2 = within_req(df2, "kw2")
        req2.add_kruskal_wallis_constraint("x", "g", max_h=5.99)
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "Kruskal-Wallis" in results[0].failure_message

    def test_all_tied_vacuous(self, spark):
        df = spark.createDataFrame(
            [("a", 7)] * 10 + [("b", 7)] * 10, "g string, x long"
        )
        req = within_req(df, "kw3")
        req.add_kruskal_wallis_constraint("x", "g", max_h=0.0)
        assert outcomes(req, spark) == [True]

    def test_all_null_vacuous_not_crash(self, spark):
        # empty selection: the rank cumulative raises ValueError in the
        # operator; the constraint must return the vacuous pass, not
        # crash the run (ADVICE r9).
        df = spark.createDataFrame(
            [("a", None), ("b", None)], "g string, x long"
        )
        req = within_req(df, "kw5")
        req.add_kruskal_wallis_constraint("x", "g", max_h=1.0)
        assert outcomes(req, spark) == [True]

    def test_validation(self, spark):
        df = spark.createDataFrame([("a", 1)], "g string, x long")
        req = within_req(df, "kw4")
        with pytest.raises(ValueError):
            req.add_kruskal_wallis_constraint("x", "g", max_h=-1.0)


class TestUnseenMass:
    def test_saturated_passes_sparse_fails(self, spark):
        # every value seen 5x: f1 = 0 -> unseen mass 0
        dense = spark.createDataFrame(
            [(i % 20,) for i in range(100)], "v long"
        )
        req = within_req(dense, "um1")
        req.add_unseen_mass_constraint("v", 0.0)
        assert outcomes(req, spark) == [True]

        # all singletons: unseen mass 1.0, Chao1 blows past observed
        sparse = spark.createDataFrame([(i,) for i in range(50)], "v long")
        req2 = within_req(sparse, "um2")
        req2.add_unseen_mass_constraint("v", 0.5)
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "Chao1" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([(1,)], "v long")
        req = within_req(df, "um3")
        with pytest.raises(ValueError):
            req.add_unseen_mass_constraint("v", 1.5)


class TestRMST:
    def test_hand_computed(self, spark):
        # all subjects survive to duration 10, all observed there:
        # S = 1 on [0,10); RMST(5) = 5, RMST(20) = 10
        rows = [(10, 1)] * 8
        df = spark.createDataFrame(rows, "dur int, ev int")
        req = within_req(df, "rmst1")
        req.add_rmst_constraint("dur", "ev", horizon=5.0, min_rmst=5.0)
        req.add_rmst_constraint("dur", "ev", horizon=20.0, min_rmst=10.1)
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "Restricted mean" in results[1].failure_message

    def test_early_churn_lowers_rmst(self, spark):
        early = [(1, 1)] * 9 + [(30, 0)]
        df = spark.createDataFrame(early, "dur int, ev int")
        req = within_req(df, "rmst2")
        # S drops to 0.1 at t=1: RMST(11) = 1 + 0.1*10 = 2
        req.add_rmst_constraint("dur", "ev", horizon=11.0, min_rmst=2.0)
        req.add_rmst_constraint("dur", "ev", horizon=11.0, min_rmst=5.0)
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, 1)], "dur int, ev int")
        req = within_req(df, "rmst3")
        with pytest.raises(ValueError):
            req.add_rmst_constraint("dur", "ev", horizon=0.0, min_rmst=0.0)
        with pytest.raises(ValueError):
            req.add_rmst_constraint("dur", "ev", horizon=5.0, min_rmst=6.0)


class TestSequenceMonotonicity:
    def test_ordered_passes_disordered_fails(self, spark):
        ordered = [(k, t, t * 10) for k in range(5) for t in range(20)]
        df = spark.createDataFrame(ordered, "k int, t int, v long")
        req = within_req(df, "mono1")
        req.add_sequence_monotonicity_constraint("k", "t", "v")
        assert outcomes(req, spark) == [True]

        disordered = list(ordered)
        disordered[7] = (0, 7, -5)   # one backward step in key 0
        df2 = spark.createDataFrame(disordered, "k int, t int, v long")
        req2 = within_req(df2, "mono2")
        req2.add_sequence_monotonicity_constraint("k", "t", "v")
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "0=" in results[0].failure_message

    def test_strict_flags_plateaus(self, spark):
        flat = [(1, t, 5) for t in range(10)]
        df = spark.createDataFrame(flat, "k int, t int, v long")
        req = within_req(df, "mono3")
        req.add_sequence_monotonicity_constraint("k", "t", "v")
        req.add_sequence_monotonicity_constraint(
            "k", "t", "v", strict=True
        )  # fail: equal adjacent values
        results = req.test(spark)
        assert [r.outcome for r in results] == [True, False]
        assert "strictly increase" in results[1].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([(1, 1, 1)], "k int, t int, v int")
        req = within_req(df, "mono4")
        with pytest.raises(ValueError):
            req.add_sequence_monotonicity_constraint(
                "k", "t", "v", max_violation_fraction=2.0
            )


class TestFisherExact:
    def test_small_sample_pass_and_fail(self, spark):
        # 3/4 vs 1/4 successes: tea-tasting table, p = 0.485714 -> pass
        rows = (
            [("a", 1)] * 3 + [("a", 0)] * 1
            + [("b", 1)] * 1 + [("b", 0)] * 3
        )
        df = spark.createDataFrame(rows, "pop string, ok int")
        req = within_req(df, "fx1")
        req.add_fisher_exact_constraint(
            Condition(raw_string="pop = 'a'"),
            Condition(raw_string="pop = 'b'"),
            Condition(raw_string="ok = 1"),
        )
        assert outcomes(req, spark) == [True]

        # 5/5 vs 0/5: p = 0.007937 -> fail at 0.05
        rows2 = [("a", 1)] * 5 + [("b", 0)] * 5
        df2 = spark.createDataFrame(rows2, "pop string, ok int")
        req2 = within_req(df2, "fx2")
        req2.add_fisher_exact_constraint(
            Condition(raw_string="pop = 'a'"),
            Condition(raw_string="pop = 'b'"),
            Condition(raw_string="ok = 1"),
        )
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "Fisher exact" in results[0].failure_message
        assert "0.007937" in results[0].failure_message

    def test_empty_side_fails_cleanly(self, spark):
        df = spark.createDataFrame([("a", 1)] * 5, "pop string, ok int")
        req = within_req(df, "fx3")
        req.add_fisher_exact_constraint(
            Condition(raw_string="pop = 'a'"),
            Condition(raw_string="pop = 'b'"),
            Condition(raw_string="ok = 1"),
        )
        results = req.test(spark)
        assert results[0].outcome is False
        assert "undefined" in results[0].failure_message

    def test_validation(self, spark):
        df = spark.createDataFrame([("a", 1)], "pop string, ok int")
        req = within_req(df, "fx4")
        with pytest.raises(ValueError):
            req.add_fisher_exact_constraint(
                Condition(raw_string="pop = 'a'"),
                Condition(raw_string="pop = 'b'"),
                Condition(raw_string="ok = 1"),
                min_p_value=1.5,
            )


class TestForecastBacktest:
    def test_weekly_pattern_passes_regime_change_fails(self, spark):
        import datetime as dt

        rng = __import__("random").Random(58)
        d0 = dt.date(2024, 1, 1)
        weekly = [
            (
                d0 + dt.timedelta(days=i),
                float(100 + 30 * (i % 7) + rng.randint(-3, 3)),
            )
            for i in range(90)
        ]
        df = spark.createDataFrame(weekly, "day date, v double")
        req = within_req(df, "fb1")
        req.add_forecast_backtest_constraint("day", "v", max_mase=1.5)
        assert outcomes(req, spark) == [True]

        # regime change inside the holdout: the weekly repeat collapses
        broken = [
            (d, (v * 5 if i >= 80 else v))
            for i, (d, v) in enumerate(weekly)
        ]
        df2 = spark.createDataFrame(broken, "day date, v double")
        req2 = within_req(df2, "fb2")
        req2.add_forecast_backtest_constraint("day", "v", max_mase=3.0)
        results = req2.test(spark)
        assert results[0].outcome is False
        assert "MASE" in results[0].failure_message

    def test_short_series_vacuous(self, spark):
        import datetime as dt

        rows = [(dt.date(2024, 1, 1 + i), 5.0) for i in range(5)]
        df = spark.createDataFrame(rows, "day date, v double")
        req = within_req(df, "fb3")
        req.add_forecast_backtest_constraint("day", "v")
        assert outcomes(req, spark) == [True]

    def test_validation(self, spark):
        import datetime as dt

        df = spark.createDataFrame(
            [(dt.date(2024, 1, 1), 5.0)], "day date, v double"
        )
        req = within_req(df, "fb4")
        with pytest.raises(ValueError):
            req.add_forecast_backtest_constraint("day", "v", max_mase=0.0)


class TestMeanBHFdr:
    def test_shifted_segments_found(self, spark):
        rng = __import__("random").Random(59)
        rows = []
        for i in range(8000):
            g = "g" + str(rng.randint(0, 7))
            a = rng.random() < 0.5
            x = rng.randint(0, 100) + (30 if (a and g == "g3") else 0)
            rows.append((g, 1 if a else 0, x))
        df = spark.createDataFrame(rows, "g string, a int, x long")
        req = within_req(df, "mbh1")
        req.add_mean_bh_fdr_constraint(
            "g",
            "x",
            Condition(raw_string="a = 1"),
            Condition(raw_string="a = 0"),
        )
        results = req.test(spark)
        assert results[0].outcome is False
        assert "'g3'" in results[0].failure_message

        req2 = within_req(df, "mbh2")
        req2.add_mean_bh_fdr_constraint(
            "g",
            "x",
            Condition(raw_string="a = 1"),
            Condition(raw_string="a = 0"),
            max_significant=1,
        )
        assert outcomes(req2, spark) == [True]

    def test_validation(self, spark):
        df = spark.createDataFrame([("g", 1, 1)], "g string, a int, x int")
        req = within_req(df, "mbh3")
        with pytest.raises(ValueError):
            req.add_mean_bh_fdr_constraint(
                "g", "x",
                Condition(raw_string="a = 1"),
                Condition(raw_string="a = 0"),
                q_threshold=0.0,
            )
