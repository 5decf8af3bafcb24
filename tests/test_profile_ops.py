"""Unit tests for the profiling / distribution / timeseries operators:
nulls, ties, degenerate rates — the edges the contract queries (which run
on the null-free synthetic tables) cannot reach."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datajudge_spark.operators.profile import (
    distribution_stats,
    grouped_topk,
    pairwise_corr,
    profile_numeric,
)
from datajudge_spark.pipeline.sampling import group_split_counts, mixture_weights


class TestProfileNumeric:
    def test_nulls_excluded_from_stats(self, spark):
        df = spark.createDataFrame(
            [(1.0,), (None,), (3.0,), (None,), (5.0,)], "v double"
        )
        r = profile_numeric(df, ["v"]).collect()[0]
        assert r.n_rows == 5 and r.n_nulls == 2 and r.n_distinct == 3
        assert r.min_val == 1.0 and r.max_val == 5.0
        assert r.mean_val == 3.0  # mean over the 3 non-nulls

    def test_all_null_column(self, spark):
        df = spark.createDataFrame([(None,), (None,)], "v double")
        r = profile_numeric(df, ["v"]).collect()[0]
        assert r.n_nulls == 2 and r.n_distinct == 0
        assert r.min_val is None and r.mean_val is None

    def test_approx_mode_counts_match_exact_on_small_domain(self, spark):
        df = spark.range(0, 1000).selectExpr("cast(id % 7 as double) as v")
        exact = profile_numeric(df, ["v"], exact_distinct=True).collect()[0]
        approx = profile_numeric(df, ["v"], exact_distinct=False).collect()[0]
        assert exact.n_distinct == 7
        assert abs(approx.n_distinct - 7) <= 1  # HLL exact at tiny cardinality


class TestPairwiseCorr:
    def test_perfect_and_inverse(self, spark):
        df = spark.range(1, 100).selectExpr(
            "cast(id as double) x",
            "cast(2 * id as double) y",
            "cast(-id as double) z",
        )
        rows = {(r.col_x, r.col_y): r.corr for r in pairwise_corr(df, ["x", "y", "z"]).collect()}
        assert rows[("x", "y")] == 1.0
        assert rows[("x", "z")] == -1.0


class TestGroupedTopk:
    def test_ties_break_deterministically(self, spark):
        # equal order values: the id tiebreak must pick the same rows
        # under any partitioning
        rows = [(g, i, 100) for g in ("a", "b") for i in range(10)]
        df = spark.createDataFrame(rows, "g string, id long, v long")
        for n_part in (1, 7):
            out = grouped_topk(
                df.repartition(n_part),
                "g",
                [F.col("v").desc(), F.col("id").asc()],
                3,
            ).collect()
            picked = sorted((r.g, r.id) for r in out)
            assert picked == [("a", 0), ("a", 1), ("a", 2),
                              ("b", 0), ("b", 1), ("b", 2)]


class TestDistributionStats:
    def test_single_key_degenerate(self, spark):
        df = spark.createDataFrame([("x",)] * 50, "k string")
        r = distribution_stats(df, "k").collect()[0]
        assert r.n_distinct == 1 and r.entropy == 0.0
        assert r.hhi == 1.0 and r.top_share == 1.0

    def test_skewed_key_flags_high_top_share(self, spark):
        rows = [("hot",)] * 90 + [(f"k{i}",) for i in range(10)]
        df = spark.createDataFrame(rows, "k string")
        r = distribution_stats(df, "k").collect()[0]
        assert r.top_share == 0.9
        assert r.hhi > 0.8
        assert r.entropy < math.log(11)


class TestSamplingEdges:
    def test_split_rate_zero_all_train(self, spark):
        df = spark.createDataFrame([(f"s{i}", i) for i in range(40)], "g string, v long")
        rows = group_split_counts(df, "g", val_rate=0).collect()
        assert [r.split for r in rows] == ["train"] and rows[0].n_rows == 40

    def test_mixture_alpha_one_proportional(self, spark):
        df = spark.createDataFrame(
            [("a",)] * 30 + [("b",)] * 10, "source string"
        )
        w = {r.source: r.weight for r in mixture_weights(df, "source", alpha=1.0).collect()}
        assert w["a"] == 0.75 and w["b"] == 0.25

    def test_mixture_alpha_zero_uniform(self, spark):
        df = spark.createDataFrame(
            [("a",)] * 30 + [("b",)] * 10, "source string"
        )
        w = {r.source: r.weight for r in mixture_weights(df, "source", alpha=0.0).collect()}
        assert w["a"] == w["b"] == 0.5


class TestEditDistancePairs:
    def test_known_edits(self, spark):
        from datajudge_spark.pipeline.dedup import edit_distance_pairs

        rows = [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox jump"),     # 1 deletion
            (3, "the quick brown cat jumps"),    # 3 substitutions vs 1
            (4, "a totally different sentence"),
            (5, "the quick brown fox jumps!!"),  # 2 insertions vs 1
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.d1, r.d2): r.distance
            for r in edit_distance_pairs(
                df, "doc_id", "text", max_distance=3, prefix_chars=10
            ).collect()
        }
        assert got[(1, 2)] == 1
        assert got[(1, 3)] == 3
        assert got[(1, 5)] == 2
        assert all(4 not in pair for pair in got)

    def test_length_bound_prunes(self, spark):
        from datajudge_spark.pipeline.dedup import edit_distance_pairs

        rows = [(1, "prefixprefix short"), (2, "prefixprefix much much longer text")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = edit_distance_pairs(
            df, "doc_id", "text", max_distance=3, prefix_chars=12
        ).collect()
        assert out == []  # length gap > max_distance: never compared


class TestRangeJoin:
    def test_containment_and_boundaries(self, spark):
        from datajudge_spark.operators.range_join import range_join

        pts = spark.createDataFrame(
            [(1, 5.0), (2, 10.0), (3, 19.9), (4, 20.0), (5, 4.9)],
            "pid long, p double",
        )
        rng = spark.createDataFrame(
            [(100, 5.0, 20.0)], "rid long, start double, end double"
        )
        got = sorted(
            r.pid
            for r in range_join(pts, rng, "p", "start", "end", 7.0).collect()
        )
        # start inclusive, end exclusive; bucket boundaries irrelevant
        assert got == [1, 2, 3]

    def test_keys_restrict_matches(self, spark):
        from datajudge_spark.operators.range_join import range_join

        pts = spark.createDataFrame(
            [(1, "a", 5.0), (2, "b", 5.0)], "pid long, k string, p double"
        )
        rng = spark.createDataFrame(
            [(10, "a", 0.0, 10.0)], "rid long, k string, start double, end double"
        )
        got = [
            (r.pid, r.rid)
            for r in range_join(
                pts, rng, "p", "start", "end", 5.0, keys=["k"]
            ).collect()
        ]
        assert got == [(1, 10)]

    def test_column_collision_rejected(self, spark):
        from datajudge_spark.operators.range_join import range_join

        pts = spark.createDataFrame([(1, 5.0)], "x long, p double")
        rng = spark.createDataFrame([(2, 0.0, 9.0)], "x long, start double, end double")
        with pytest.raises(ValueError):
            range_join(pts, rng, "p", "start", "end", 5.0)

    def test_matches_naive_theta_join(self, spark):
        from datajudge_spark.operators.range_join import range_join

        pts = spark.range(0, 200).selectExpr("id AS pid", "cast(id % 97 as double) AS p")
        rng = spark.range(0, 30).selectExpr(
            "id AS rid",
            "cast(id * 3 as double) AS start",
            "cast(id * 3 + 11 as double) AS end",
        )
        got = sorted(
            (r.pid, r.rid)
            for r in range_join(pts, rng, "p", "start", "end", 4.0).collect()
        )
        expected = sorted(
            (r.pid, r.rid)
            for r in pts.join(
                rng,
                (pts.p >= rng.start) & (pts.p < rng.end),
            ).collect()
        )
        assert got == expected and len(got) > 0


class TestIvfPersistence:
    def test_roundtrip_preserves_search_results(self, spark, tmp_path):
        from datajudge_spark.pipeline.similarity import (
            ivf_cells,
            kmeans_centroids,
            load_ivf_index,
            save_ivf_index,
        )

        emb = (
            spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
            .selectExpr("vec_id AS vid", "embedding AS vvec")
        )
        cents = kmeans_centroids(emb, k=4)
        before = {
            (r.vid, r.cell)
            for r in ivf_cells(emb, cents, v_vec="vvec").collect()
        }
        save_ivf_index(cents, str(tmp_path / "ivf"))
        loaded = load_ivf_index(spark, str(tmp_path / "ivf"))
        after = {
            (r.vid, r.cell)
            for r in ivf_cells(emb, loaded, v_vec="vvec").collect()
        }
        assert before == after and len(before) == emb.count()


class TestTimeseriesGapOps:
    def _daily(self, spark, rows):
        import datetime as dt

        return spark.createDataFrame(
            [(dt.date(2024, 1, d), v) for d, v in rows], "day date, cents long"
        )

    def test_gap_fill_forward_fills_and_flags(self, spark):
        from datajudge_spark.operators.timeseries import fill_daily_gaps

        daily = self._daily(spark, [(1, 10), (2, 20), (5, 50)])
        out = {r["day"].day: r for r in fill_daily_gaps(daily, "cents").collect()}
        assert sorted(out) == [1, 2, 3, 4, 5]
        assert out[3]["observed"] is None and out[3]["filled"] == 20
        assert out[4]["filled"] == 20 and out[4]["was_gap"]
        assert out[5]["filled"] == 50 and not out[5]["was_gap"]

    def test_gap_fill_leading_gap_stays_null(self, spark):
        from datajudge_spark.operators.timeseries import fill_daily_gaps

        # no gap before the first observation -> nothing precedes it; the
        # spine starts at min(day), so row 1 is observed by construction
        daily = self._daily(spark, [(1, 10)])
        rows = fill_daily_gaps(daily, "cents").collect()
        assert len(rows) == 1 and rows[0]["filled"] == 10

    def test_ewma_terms_bounded_by_lookback(self, spark):
        from datajudge_spark.operators.timeseries import ewma_daily

        daily = self._daily(spark, [(d, 100) for d in range(1, 21)])
        out = {r["day"].day: r for r in ewma_daily(daily, "cents", lookback=5).collect()}
        assert out[1]["n_terms"] == 1
        assert out[20]["n_terms"] == 5
        # constant series: ewma == the constant for every day
        for r in out.values():
            assert r["ewma"] == pytest.approx(100.0)

    def test_ewma_missing_days_drop_terms_not_weights(self, spark):
        from datajudge_spark.operators.timeseries import ewma_daily

        # day 3 missing: day 4's window sees days {4,3,2,1} minus 3
        daily = self._daily(spark, [(1, 10), (2, 10), (4, 40)])
        out = {r["day"].day: r for r in ewma_daily(daily, "cents", lookback=4).collect()}
        assert out[4]["n_terms"] == 3

    def test_zscore_flags_synthetic_outlier(self, spark):
        from datajudge_spark.operators.timeseries import zscore_anomalies

        daily = self._daily(
            spark, [(d, 100 + (d % 3)) for d in range(1, 10)] + [(10, 10_000)]
        )
        out = {r["day"].day: r for r in zscore_anomalies(daily, "cents").collect()}
        assert out[10]["is_anomaly"]
        assert not any(out[d]["is_anomaly"] for d in range(4, 10))

    def test_zscore_null_while_window_small_or_flat(self, spark):
        from datajudge_spark.operators.timeseries import zscore_anomalies

        flat = self._daily(spark, [(d, 7) for d in range(1, 8)])
        rows = zscore_anomalies(flat, "cents").collect()
        assert all(r["z"] is None for r in rows)  # zero variance
        small = self._daily(spark, [(1, 1), (2, 9)])
        rows = zscore_anomalies(small, "cents").collect()
        assert all(r["z"] is None for r in rows)  # n < 3


class TestOlapOps:
    def test_heavy_hitters_threshold_integer_exact(self, spark):
        from datajudge_spark.operators.olap import heavy_hitters

        # 3 keys at 25/25/50 of 100 rows: ppm=250000 keeps all three
        # (>= is inclusive), 250001 keeps only the 50% key
        rows = [("a",)] * 25 + [("b",)] * 25 + [("c",)] * 50
        df = spark.createDataFrame(rows, "k string")
        keep_all = heavy_hitters(df, ["k"], 250_000).collect()
        assert sorted(r["k"] for r in keep_all) == ["a", "b", "c"]
        keep_one = heavy_hitters(df, ["k"], 250_001).collect()
        assert [r["k"] for r in keep_one] == ["c"]
        assert keep_one[0]["share"] == 0.5

    def test_heavy_hitters_empty_input(self, spark):
        from datajudge_spark.operators.olap import heavy_hitters

        df = spark.createDataFrame([], "k string")
        assert heavy_hitters(df, ["k"], 1000).collect() == []

    def test_latest_snapshot_ties_break_on_order_cols(self, spark):
        import pyspark.sql.functions as F

        from datajudge_spark.operators.olap import latest_snapshot

        rows = [(1, 10, "old"), (1, 20, "new"), (2, 5, "only"),
                (1, 20, "dup-ts-lower-id")]
        df = spark.createDataFrame(rows, "k long, v long, tag string")
        snap = latest_snapshot(
            df, ["k"], [F.col("v").desc(), F.col("tag").desc()]
        ).collect()
        out = {r["k"]: r["tag"] for r in snap}
        assert out == {1: "new", 2: "only"}  # 'new' > 'dup-...' desc

    def test_approx_distinct_within_tolerance_on_uniform(self, spark):
        from datajudge_spark.operators.olap import approx_distinct_check

        df = spark.range(0, 20_000).selectExpr("id AS v")
        row = approx_distinct_check(df, "v").collect()[0]
        assert row["exact_distinct"] == 20_000
        assert row["within_tol"]


class TestZOrder:
    def _py_z(self, x, y, bits=16):
        mask = (1 << bits) - 1
        x, y = x & mask, y & mask
        z = 0
        for i in range(bits):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    def test_matches_python_reference(self, spark):
        from datajudge_spark.operators.olap import zorder_key

        rows = [(i * 7919 % 70000, i * 104729 % 70000) for i in range(300)]
        df = spark.createDataFrame(rows, "x long, y long")
        got = [
            r["z"]
            for r in df.select(zorder_key(["x", "y"]).alias("z"))
            .orderBy("x", "y")
            .collect()
        ]
        want = [self._py_z(x, y) for x, y in sorted(rows)]
        assert got == want

    def test_validation(self, spark):
        from datajudge_spark.operators.olap import zorder_key

        with pytest.raises(ValueError):
            zorder_key([])
        with pytest.raises(ValueError):
            zorder_key(["a", "b"], bits=32)  # 64 > 63


class TestApproxTopKCheck:
    def test_exact_mode_containment_and_ranks(self, spark):
        from datajudge_spark.operators.olap import approx_top_k_check

        rows = [("a",)] * 10 + [("b",)] * 7 + [("c",)] * 7 + [("d",)] * 2
        df = spark.createDataFrame(rows, "v string")
        got = approx_top_k_check(df, "v", k=3).collect()
        assert [(r["rank"], r["item"], r["exact_cnt"]) for r in got] == [
            (1, "a", 10), (2, "b", 7), (3, "c", 7)
        ]
        assert all(r["in_sketch"] and r["count_ok"] for r in got)

    def test_boundary_tie_is_vacuous(self, spark):
        # four items tied at the k=2 boundary: either side may pick any
        # of them, so in_sketch must be vacuously true on boundary rows
        from datajudge_spark.operators.olap import approx_top_k_check

        rows = [("a",)] * 9 + [("b",)] * 5 + [("c",)] * 5 + [("e",)] * 5
        df = spark.createDataFrame(rows, "v string")
        got = approx_top_k_check(df, "v", k=2).collect()
        assert got[0]["item"] == "a" and got[0]["in_sketch"]
        assert got[1]["exact_cnt"] == 5 and got[1]["in_sketch"]

    def test_nulls_excluded(self, spark):
        from datajudge_spark.operators.olap import approx_top_k_check

        df = spark.createDataFrame(
            [("a",), ("a",), (None,), (None,), (None,), ("b",)], "v string"
        )
        got = approx_top_k_check(df, "v", k=2).collect()
        assert [r["item"] for r in got] == ["a", "b"]


class TestCountMinCheck:
    def test_no_undercount_and_exact_on_wide_sketch(self, spark):
        from datajudge_spark.operators.olap import countmin_check

        rows = [("a",)] * 20 + [("b",)] * 10 + [("c",)] * 5 + [("d",)] * 1
        df = spark.createDataFrame(rows, "v string")
        got = countmin_check(df, "v", depth=4, width=1024, k=3).collect()
        # CM never undercounts; with width >> distinct the estimate is exact
        assert [(r["rank"], r["item"], r["exact_cnt"]) for r in got] == [
            (1, "a", 20), (2, "b", 10), (3, "c", 5)
        ]
        assert all(r["overestimate"] == 0 for r in got)

    def test_collisions_only_overestimate(self, spark):
        from datajudge_spark.operators.olap import countmin_check

        # width=2 forces heavy collisions: estimates may inflate but can
        # NEVER undercount (the CM structural guarantee)
        rows = [(str(i % 20),) for i in range(400)]
        df = spark.createDataFrame(rows, "v string")
        got = countmin_check(df, "v", depth=3, width=2, k=5).collect()
        assert len(got) == 5
        assert all(r["overestimate"] >= 0 for r in got)
        assert all(r["cm_est"] >= r["exact_cnt"] for r in got)


class TestBloomFilterCheck:
    def test_no_false_negatives_and_exact_fp_count(self, spark):
        from datajudge_spark.operators.olap import bloom_filter_check

        build = spark.createDataFrame([(i,) for i in range(50)], "k long")
        probe = spark.createDataFrame([(i,) for i in range(200)], "k long")
        row = bloom_filter_check(build, "k", probe, "k").first()
        assert row["n_probe"] == 200
        assert row["n_present"] == 50
        # structural guarantee: every inserted key must hit
        assert row["no_false_negatives"] is True
        assert row["n_hits_on_present"] == 50
        assert 0 <= row["n_false_positives"] <= 150

    def test_tiny_filter_saturates_but_never_undercounts(self, spark):
        from datajudge_spark.operators.olap import bloom_filter_check

        # 32-bit filter with 30 keys: heavily saturated, many false
        # positives — but still zero false negatives
        build = spark.createDataFrame([(i,) for i in range(30)], "k long")
        probe = spark.createDataFrame([(i,) for i in range(100)], "k long")
        row = bloom_filter_check(build, "k", probe, "k", n_bits=32).first()
        assert row["no_false_negatives"] is True

    def test_empty_build_hits_nothing(self, spark):
        from datajudge_spark.operators.olap import bloom_filter_check

        build = spark.createDataFrame([], "k long")
        probe = spark.createDataFrame([(1,), (2,)], "k long")
        row = bloom_filter_check(build, "k", probe, "k").first()
        assert row["n_present"] == 0
        assert row["n_false_positives"] == 0
        assert row["no_false_negatives"] is True


class TestProfileDrift:
    def test_no_drift_on_identical_snapshots(self, spark):
        from datajudge_spark.operators.profile import profile_drift

        df = spark.createDataFrame(
            [(float(i), float(i % 5)) for i in range(100)], "x double, y double"
        )
        got = {r["col_name"]: r for r in profile_drift(df, df, ["x", "y"]).collect()}
        assert not got["x"]["drifted"] and not got["y"]["drifted"]
        assert got["x"]["mean_rel_delta"] == 0.0

    def test_mean_shift_flags_drift(self, spark):
        from datajudge_spark.operators.profile import profile_drift

        a = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
        b = spark.createDataFrame([(float(i) * 2,) for i in range(100)], "x double")
        got = profile_drift(a, b, ["x"]).first()
        assert got["drifted"] is True
        assert got["mean_rel_delta"] == pytest.approx(1.0, abs=1e-6)

    def test_null_fraction_shift_flags_drift(self, spark):
        from datajudge_spark.operators.profile import profile_drift

        a = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
        rows_b = [(float(i),) for i in range(90)] + [(None,)] * 10
        b = spark.createDataFrame(rows_b, "x double")
        got = profile_drift(a, b, ["x"], mean_rel_tol=1.0, distinct_rel_tol=1.0).first()
        assert got["drifted"] is True
        assert got["null_frac_b"] == pytest.approx(0.1, abs=1e-9)

    def test_empty_new_snapshot_flags_drift_not_null(self, spark):
        # NULL statistics must collapse to a definite verdict: an empty
        # new side previously made drifted NULL, which `if drifted`
        # silently treated as "no drift".
        from datajudge_spark.operators.profile import profile_drift

        a = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
        b = spark.createDataFrame([], "x double")
        got = profile_drift(
            a, b, ["x"], mean_rel_tol=1.0, null_abs_tol=1.0,
            distinct_rel_tol=10.0,
        ).first()
        assert got["drifted"] is True

    def test_all_null_on_one_side_flags_drift(self, spark):
        from datajudge_spark.operators.profile import profile_drift

        a = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
        b = spark.createDataFrame([(None,)] * 100, "x double")
        got = profile_drift(
            a, b, ["x"], null_abs_tol=2.0, distinct_rel_tol=10.0
        ).first()
        assert got["drifted"] is True

    def test_both_sides_all_null_is_identical_not_drift(self, spark):
        from datajudge_spark.operators.profile import profile_drift

        a = spark.createDataFrame([(None,)] * 50, "x double")
        b = spark.createDataFrame([(None,)] * 50, "x double")
        got = profile_drift(a, b, ["x"]).first()
        assert got["drifted"] is False
