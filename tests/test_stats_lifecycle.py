"""One table of cases for every statistic constraint in
``constraints/stats.py``: a pass, a fail, the undefined branches, a
condition that leaves no rows and an all-NULL column.

``fixtures/stats_parity.json`` holds each case's ``(outcome,
failure_message)``, or the error it raised, as the per-class ``test``
overrides produced them before the statistics moved onto the shared
lifecycle of ``constraints/base.py``.  ``CHANGED`` lists the cases whose
result changed on purpose since.  Every frame has one partition, so the
float text in the messages does not depend on the core count.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from datajudge_spark import Condition, WithinRequirement
from datajudge_spark._threads import run_overlapped
from datajudge_spark.constraints import base, stats
from datajudge_spark.reference import DataReference
from datajudge_spark.sources import ExpressionDataSource

from conftest import count_jobs

GOLDEN = Path(__file__).parent / "fixtures" / "stats_parity.json"
NO_ROWS = Condition(raw_string="1 = 0")
POP_A = Condition(raw_string="variant = 'a'")
POP_B = Condition(raw_string="variant = 'b'")
CONVERTED = Condition(raw_string="conv = 1")


def _rows():
    day0 = dt.date(2024, 1, 1)
    nums = [
        (
            i, i % 10 + 1, 2 * (i % 10 + 1) + i % 3, f"g{i % 2}", f"c{i % 3}",
            f"p{(i + 1) % 2}", 1000 if i == 0 else i % 5 + 1, 0, 7, i % 10,
            i % 10, (i * 7) % 5, 3 * (i % 10) + 2 * ((i * 7) % 5) + i % 4,
            [float(i % 3 + 1), 0.0],
            [(0.8 if i % 2 else 0.0) + 0.01 * (i % 5), 0.1 * (i % 3)],
            i % 2,
        )
        for i in range(40)
    ]
    daily = [
        (
            day0 + dt.timedelta(days=i), 100.0 + (i * 37) % 11,
            100.0 + 5.0 * i, 100.0 + 20.0 * (i % 7), f"g{i % 2}", 50.0,
        )
        for i in range(42)
    ]
    events = [
        (day0 + dt.timedelta(days=d),)
        for d in range(30)
        for _ in range(60 if d == 20 else 5 + d % 2)
    ]
    ab = []
    for i in range(80):
        b = i % 2
        pre = (i * 13) % 17 + 10
        post = pre + 5 * b + i % 3
        ab.append((
            i, "ab"[b], pre, post, 1 if (i * 7) % 10 < 3 + 3 * b else 0,
            f"s{i % 4 // 2}", i // 20 + 1, 1 + i % 3, f"seg{i % 3}",
        ))
    surv = []
    for i in range(60):
        b = i % 2
        dur = 1 + (i * 7) % (8 if b else 20)
        surv.append((dur, 0 if i % 3 == 0 else 1, "ab"[b], float(dur)))
    base = (
        "the quick brown fox jumps over the lazy dog near the old "
        "river bank today"
    )
    shared = "alpha beta gamma delta epsilon zeta "
    docs = (
        [(0, base, "a"), (1, base.replace("today", "yesterday"), "b"),
         (2, "completely different words about spark shuffles", "a"),
         (3, base, "b"), (4, "short text only", "a")]
        + [(10 + i, shared + " ".join(f"w{i}_{j}" for j in range(40)),
            "ab"[i % 2]) for i in range(6)]
    )
    passage = "the quick brown fox jumps over the lazy dog"
    train = [(1, "alpha beta gamma " + passage),
             (2, "one two three four five six")]
    evals = [(10, "prefix " + passage),
             (11, "zymurgy quixotic jackdaw vexing")]
    old = [(k, k) for k in range(10)]
    new = [(k, 99 if k == 3 else k) for k in range(11)]
    left = [(1,), (1,), (2,), (3,)]
    right = [(1,), (1,), (1,), (2,)]
    return {
        "nums": (nums, "k long, x int, y int, g string, c string, par "
                 "string, big int, zero int, const int, cnt int, x1 int, "
                 "x2 int, yv int, vec array<double>, emb array<double>, "
                 "half int"),
        "daily": (daily, "d date, flat double, trend double, week double, "
                  "g string, const double"),
        "events": (events, "d date"),
        "ab": (ab, "unit long, variant string, pre int, post int, conv int, "
               "stratum string, look int, den int, seg string"),
        "surv": (surv, "dur int, ev int, grp string, cov double"),
        "docs": (docs, "doc_id long, text string, src string"),
        "train": (train, "doc_id long, text string"),
        "evals": (evals, "doc_id long, text string"),
        "old": (old, "k int, v int"),
        "new": (new, "k int, v int"),
        "left": (left, "k int"),
        "right": (right, "k int"),
    }


class Frames:
    """The case frames, one partition each, and references over them."""

    def __init__(self, spark):
        self._dfs = {
            name: spark.createDataFrame(rows, schema).coalesce(1)
            for name, (rows, schema) in _rows().items()
        }

    def ref(self, frame, columns=None, *, empty=False, null=(), where=None):
        df = self._dfs[frame]
        for column in set(null) & set(df.columns):
            df = df.withColumn(
                column, F.lit(None).cast(df.schema[column].dataType)
            )
        name = frame + ("_null" if null else "")
        if empty:
            where = NO_ROWS
        elif where is not None:
            where = Condition(raw_string=where)
        return DataReference(ExpressionDataSource(df, name), columns, where)


# -- the table ------------------------------------------------------------
# class name -> (build(f, bound, **side), passing bound, failing bound,
# the columns an all-NULL case nulls); ``side`` (empty=/null=) applies
# to every reference of the constraint

def _within(cls, frame, columns, *args, **kwargs):
    def build(f, bound, **side):
        return cls(f.ref(frame, columns, **side), *args, bound, **kwargs)
    return build


def _ab(cls, *args, **kwargs):
    def build(f, bound, **side):
        return cls(f.ref("ab", **side), *args, bound, **kwargs)
    return build


def _ks(f, bound, **side):
    return stats.KolmogorovSmirnov2Sample(
        f.ref("nums", ["x"], **side), f.ref("nums", [bound], **side)
    )


def _psi(cls):
    def build(f, bound, **side):
        return cls(
            f.ref("nums", ["x"], **side), f.ref("nums", [bound[0]], **side),
            bound[1], 0.0, 30.0, 6,
        )
    return build


def _neardup(f, bound, **side):
    return stats.NeardupRecallMin(
        f.ref("docs", **side), "doc_id", "text", bound[0], min_recall=1.0,
        threshold=bound[1],
    )


def _snapshot(f, bound, **side):
    return stats.SnapshotDiff(
        f.ref("new", **side), f.ref("old", **side), ["k"], ["v"],
        max_added_fraction=bound, max_removed_fraction=bound,
        max_changed_fraction=bound,
    )


def _profile(f, bound, **side):
    return stats.ProfileDrift(
        f.ref("nums", ["x"], **side), f.ref("nums", [bound], **side)
    ) if bound == "x" else stats.ProfileDrift(
        f.ref("old", ["v"], **side), f.ref("new", ["v"], **side),
        mean_rel_tol=0.0, null_abs_tol=0.0, distinct_rel_tol=0.0,
    )


def _overlap(f, bound, **side):
    return stats.BootstrapMeanOverlap(
        f.ref("nums", ["k", "x"], **side), f.ref("nums", ["k", bound], **side)
    )


def _winnowing(f, bound, **side):
    return stats.WinnowingContaminationMax(
        f.ref("train", **side), f.ref("evals", **side),
        "doc_id", "text", "doc_id", "text", bound,
    )


def _fanout(f, bound, **side):
    return stats.JoinFanoutMax(
        f.ref("left", **side), f.ref("right", **side), "k", "k",
        max_output_rows=bound, max_fanout=bound,
    )


def _obf(f, bound, **side):
    return stats.ObfCrossingMax(
        f.ref("ab", **side), "look", POP_A, POP_B, CONVERTED,
        critical_value=bound,
    )


def _welch_between(f, bound, **side):
    return stats.WelchTBetween(
        f.ref("nums", ["x"], **side), f.ref("nums", [bound], **side)
    )


def _mann_whitney(f, bound, **side):
    return stats.MannWhitneyU(
        f.ref("nums", ["x"], **side), f.ref("nums", [bound], **side)
    )


def _wasserstein(f, bound, **side):
    return stats.WassersteinMax(
        f.ref("nums", ["x"], **side), f.ref("nums", ["y"], **side), bound
    )


def _forecast(f, bound, **side):
    return stats.ForecastBacktestMax(
        f.ref("daily", ["d", "flat"], **side), bound, horizon=7, period=7
    )


def _rank(statistic):
    def build(f, bound, **side):
        return stats.Rank2SampleMax(
            f.ref("nums", ["x"], **side), f.ref("nums", ["y"], **side),
            statistic, bound,
        )
    return build


TABLE = {
    "KolmogorovSmirnov2Sample": (_ks, "x", "y", ["x", "y"]),
    "PopulationStabilityIndex": (
        _psi(stats.PopulationStabilityIndex), ("x", 0.1), ("y", 0.1),
        ["x", "y"],
    ),
    "HeavyHitterShare": (
        _within(stats.HeavyHitterShare, "nums", ["g"]), 600_000, 100_000,
        ["g"],
    ),
    "EmbeddingNormFraction": (
        _within(stats.EmbeddingNormFraction, "nums", ["vec"]), 0.3, 0.9,
        ["vec"],
    ),
    "NeardupRecallMin": (_neardup, ([0], 0.5), ([10], 0.02), ["text"]),
    "PoolCoverageMin": (
        _within(stats.PoolCoverageMin, "docs", None, "src", "text", "a",
                "b"),
        0.01, 1.0, ["text"],
    ),
    "DailyVolumeAnomaly": (
        _within(stats.DailyVolumeAnomaly, "events", ["d"]), 5, 0, ["d"],
    ),
    "SnapshotDiff": (_snapshot, 0.5, 0.0, ["v"]),
    "MadOutlierFraction": (
        _within(stats.MadOutlierFraction, "nums", ["big"]), 1.0, 0.0, ["big"],
    ),
    "WinsorizedMeanWithin": (
        _within(stats.WinsorizedMeanWithin, "nums", ["x"], 5.0), 1.0, 0.1,
        ["x"],
    ),
    "GiniMax": (_within(stats.GiniMax, "nums", ["big"]), 1.0, 0.1, ["big"]),
    "ParetoFrontierSize": (
        _within(stats.ParetoFrontierSize, "nums", ["x", "y"]), 100, 1,
        ["x", "y"],
    ),
    "ChiSquaredIndependence": (
        _within(stats.ChiSquaredIndependence, "nums", ["g", "par"]), 1e-12,
        0.05, ["par"],
    ),
    "MannWhitneyU": (_mann_whitney, "x", "y", ["x", "y"]),
    "WassersteinMax": (_wasserstein, 100.0, 1.0, ["x", "y"]),
    "GroupedKsMax": (
        _within(stats.GroupedKsMax, "nums", ["y", "g"]), 1.0, 0.0, ["y"],
    ),
    "SpearmanBounds": (
        _within(stats.SpearmanBounds, "nums", ["x", "y"], -1.0), 1.0, 0.5,
        ["y"],
    ),
    "QuantileGridGapMax": (
        _within(stats.QuantileGridGapMax, "nums", ["y", "g"]), 100.0, 0.0,
        ["y"],
    ),
    "GroupedTrendSlopeBetween": (
        _within(stats.GroupedTrendSlopeBetween, "daily",
                ["d", "trend", "g"], -100.0),
        100.0, 1.0, ["trend"],
    ),
    "GroupedOls2SlopeBetween": (
        _within(stats.GroupedOls2SlopeBetween, "nums",
                ["x1", "x2", "yv", "g"], 0.0),
        10.0, 1.0, ["yv"],
    ),
    "JsDivergenceMax": (
        _psi(stats.JsDivergenceMax), ("x", 0.1), ("y", 0.1), ["x", "y"],
    ),
    "MutualInformationMax": (
        _within(stats.MutualInformationMax, "nums", ["g", "par"]), 1.0, 0.1,
        ["par"],
    ),
    "SeasonalityStrengthBounds": (
        _within(stats.SeasonalityStrengthBounds, "daily", ["d", "week"],
                0.5),
        1.0, 0.6, ["week"],
    ),
    "ProfileDrift": (_profile, "x", "v", ["x", "v"]),
    "CusumStabilityMax": (
        _within(stats.CusumStabilityMax, "daily", ["d", "trend"]), 1e9, 10.0,
        ["trend"],
    ),
    "BootstrapMeanStability": (
        _within(stats.BootstrapMeanStability, "nums", ["k", "x"]), 1.0,
        0.01, ["x"],
    ),
    "TheilsUMin": (
        _within(stats.TheilsUMin, "nums", ["c", "g"]), 0.0, 0.5, ["c"],
    ),
    "WhiteNoiseLjungBox": (
        _within(stats.WhiteNoiseLjungBox, "daily", ["d", "week"]), 1e9, 1.0,
        ["week"],
    ),
    "MannKendallStability": (
        _within(stats.MannKendallStability, "daily", ["d", "trend"]), 100.0,
        1.96, ["trend"],
    ),
    "JointOutlierBound": (
        _within(stats.JointOutlierBound, "nums", ["x", "big"]), 1e9, 1.0,
        ["big"],
    ),
    "BootstrapMeanOverlap": (_overlap, "x", "y", ["x", "y"]),
    "MonotoneTrend": (
        _within(stats.MonotoneTrend, "nums", ["x", "y"], 0.0, 8), False,
        True, ["y"],
    ),
    "AndersonDarling": (_rank("ad"), 100.0, 0.1, ["x", "y"]),
    "CramerVonMises": (_rank("cvm"), 100.0, 0.01, ["x", "y"]),
    "JarqueBeraMax": (
        _within(stats.JarqueBeraMax, "nums", ["big"]), 1e9, 5.99, ["big"],
    ),
    "TwoProportionZMax": (
        _ab(stats.TwoProportionZMax, POP_A, POP_B, CONVERTED), 10.0, 0.5,
        ["conv"],
    ),
    "CupedDiffMax": (
        _ab(stats.CupedDiffMax, "pre", "post", "variant"), 100.0, 1.0,
        ["pre", "post"],
    ),
    "LogrankMax": (
        _within(stats.LogrankMax, "surv", None, "dur", "ev", "grp"), 1e6,
        0.1, ["dur"],
    ),
    "CoxScoreMax": (
        _within(stats.CoxScoreMax, "surv", None, "dur", "ev", "cov"), 1e6,
        0.1, ["dur", "cov"],
    ),
    "ObfCrossingMax": (_obf, 1e6, 0.001, ["conv"]),
    "QteMax": (_ab(stats.QteMax, "post", "variant"), 100.0, 1.0, ["post"]),
    "GroupedQteMax": (
        _ab(stats.GroupedQteMax, "post", "variant", "seg"), 100.0, 1.0,
        ["post"],
    ),
    "WinnowingContaminationMax": (_winnowing, 1.0, 0.0, ["text"]),
    "AlwaysValidPMin": (
        _ab(stats.AlwaysValidPMin, "look", POP_A, POP_B, CONVERTED),
        1e-9, 0.99, ["conv"],
    ),
    "StratifiedDiffMax": (
        _ab(stats.StratifiedDiffMax, "post", "variant", "stratum"), 100.0,
        1.0, ["post"],
    ),
    "RatioZMax": (
        _ab(stats.RatioZMax, "conv", "den", "variant"), 100.0, 0.1,
        ["conv", "den"],
    ),
    "SrmChi2Max": (
        _within(stats.SrmChi2Max, "nums", None, "c"), 10.0, 0.0, ["c"],
    ),
    "PettittStability": (
        _within(stats.PettittStability, "daily", ["d", "trend"]), 0.0, 0.05,
        ["trend"],
    ),
    "DispersionMax": (
        _within(stats.DispersionMax, "nums", ["cnt"]), 10.0, 1.0, ["cnt"],
    ),
    "DidZMax": (_ab(stats.DidZMax, "pre", "post", "variant"), 1e6, 1.0,
                ["pre", "post"]),
    "CentroidShiftMax": (
        _within(stats.CentroidShiftMax, "nums", None, "emb", "g"), 10.0, 0.1,
        ["emb"],
    ),
    "JoinFanoutMax": (_fanout, 100, 2, ["k"]),
    "WelchTMax": (_ab(stats.WelchTMax, "post", "variant"), 100.0, 1.0,
                  ["post"]),
    "BrownForsytheFMax": (
        _ab(stats.BrownForsytheFMax, "post", "seg"), 100.0, 0.01, ["post"],
    ),
    "CMHChi2Max": (
        _ab(stats.CMHChi2Max, "stratum", POP_A, CONVERTED), 100.0, 0.5,
        ["conv"],
    ),
    "BHSignificantMax": (
        _ab(stats.BHSignificantMax, "seg", POP_A, POP_B, CONVERTED, 1.0), 3,
        0, ["conv"],
    ),
    "CumulativeHazardMax": (
        _within(stats.CumulativeHazardMax, "surv", None, "dur", "ev"), 100.0,
        0.5, ["dur"],
    ),
    "DurbinWatsonWithin": (
        _within(stats.DurbinWatsonWithin, "daily", ["d", "week"], 0.0), 4.0,
        0.5, ["week"],
    ),
    "KruskalWallisHMax": (
        _ab(stats.KruskalWallisHMax, "post", "seg"), 100.0, 0.01, ["post"],
    ),
    "WelchTBetween": (_welch_between, "x", "y", ["x", "y"]),
    "RMSTMin": (
        _within(stats.RMSTMin, "surv", None, "dur", "ev", 10.0), 1.0, 9.9,
        ["dur"],
    ),
    "FisherExactMin": (
        _ab(stats.FisherExactMin, POP_A, POP_B, CONVERTED), 0.0, 0.9,
        ["conv"],
    ),
    "ForecastBacktestMax": (_forecast, 1e6, 0.001, ["flat"]),
    "MeanBHSignificantMax": (
        _within(stats.MeanBHSignificantMax, "ab", None, "seg", "post", POP_A,
                POP_B, 1.0),
        3, 0, ["post"],
    ),
}

# further branches: id -> build(f)
EXTRA = {
    "PopulationStabilityIndex-one_side_empty": lambda f: (
        stats.PopulationStabilityIndex(
            f.ref("nums", ["x"]), f.ref("nums", ["y"], empty=True), 0.1, 0.0,
            30.0,
        )
    ),
    "GiniMax-zero_total": lambda f: stats.GiniMax(
        f.ref("nums", ["zero"]), 0.5
    ),
    "ChiSquaredIndependence-one_category": lambda f: (
        stats.ChiSquaredIndependence(f.ref("nums", ["g", "const"]))
    ),
    "MannWhitneyU-constant": lambda f: stats.MannWhitneyU(
        f.ref("nums", ["const"]), f.ref("nums", ["const"])
    ),
    "MannWhitneyU-one_side_empty": lambda f: stats.MannWhitneyU(
        f.ref("nums", ["x"]), f.ref("nums", ["y"], empty=True)
    ),
    "GroupedKsMax-too_many_groups": lambda f: stats.GroupedKsMax(
        f.ref("nums", ["y", "c"]), 1.0, max_groups=2
    ),
    "GroupedKsMax-group_without_rows": lambda f: stats.GroupedKsMax(
        f.ref("nums", ["y", "g"]), 1.0, groups=["g0", "g1", "g9"]
    ),
    "SpearmanBounds-constant": lambda f: stats.SpearmanBounds(
        f.ref("nums", ["x", "const"]), -1.0, 1.0
    ),
    "QuantileGridGapMax-too_many_groups": lambda f: stats.QuantileGridGapMax(
        f.ref("nums", ["y", "c"]), 1.0, max_groups=2
    ),
    "QuantileGridGapMax-group_without_rows": lambda f: (
        stats.QuantileGridGapMax(
            f.ref("nums", ["y", "g"]), 100.0, groups=["g0", "g1", "g9"]
        )
    ),
    "GroupedTrendSlopeBetween-too_many_groups": lambda f: (
        stats.GroupedTrendSlopeBetween(
            f.ref("daily", ["d", "trend", "g"]), -100.0, 100.0, max_groups=1
        )
    ),
    "GroupedOls2SlopeBetween-collinear": lambda f: (
        stats.GroupedOls2SlopeBetween(
            f.ref("nums", ["x1", "x1", "yv", "g"]), 0.0, 10.0, min_r2=0.5
        )
    ),
    "MutualInformationMax-normalized_constant": lambda f: (
        stats.MutualInformationMax(
            f.ref("nums", ["g", "const"]), 0.5, normalized=True
        )
    ),
    "SeasonalityStrengthBounds-no_variance": lambda f: (
        stats.SeasonalityStrengthBounds(f.ref("daily", ["d", "const"]), 0.0)
    ),
    "CusumStabilityMax-relative": lambda f: stats.CusumStabilityMax(
        f.ref("daily", ["d", "trend"]), max_relative=0.5
    ),
    "BootstrapMeanStability-target_outside": lambda f: (
        stats.BootstrapMeanStability(
            f.ref("nums", ["k", "x"]), target_value=100.0
        )
    ),
    "BootstrapMeanStability-zero_mean": lambda f: (
        stats.BootstrapMeanStability(f.ref("nums", ["k", "zero"]), 0.5)
    ),
    "TheilsUMin-constant": lambda f: stats.TheilsUMin(
        f.ref("nums", ["const", "g"]), 0.5
    ),
    "MannKendallStability-constant": lambda f: stats.MannKendallStability(
        f.ref("daily", ["d", "const"]), 0.0
    ),
    "JointOutlierBound-collinear": lambda f: stats.JointOutlierBound(
        f.ref("nums", ["x", "x"]), 0.001
    ),
    "BootstrapMeanOverlap-one_side_empty": lambda f: (
        stats.BootstrapMeanOverlap(
            f.ref("nums", ["k", "x"]), f.ref("nums", ["k", "y"], empty=True)
        )
    ),
    "JarqueBeraMax-constant": lambda f: stats.JarqueBeraMax(
        f.ref("nums", ["const"]), 1.0
    ),
    "TwoProportionZMax-one_population_empty": lambda f: (
        stats.TwoProportionZMax(
            f.ref("ab"), POP_A, Condition(raw_string="variant = 'z'"),
            CONVERTED, 1.0,
        )
    ),
    "CupedDiffMax-one_variant": lambda f: stats.CupedDiffMax(
        f.ref("ab", where="variant = 'a'"), "pre", "post", "variant", 1.0
    ),
    "GroupedQteMax-require_both": lambda f: stats.GroupedQteMax(
        f.ref("ab", where="seg <> 'seg0' OR variant = 'a'"),
        "post", "variant", "seg", 100.0, require_both_variants=True,
    ),
    "WinnowingContaminationMax-min_overlap": lambda f: (
        stats.WinnowingContaminationMax(
            f.ref("train"), f.ref("evals"), "doc_id", "text", "doc_id",
            "text", 0.0, min_overlap=0.99,
        )
    ),
    "StratifiedDiffMax-no_shared_stratum": lambda f: stats.StratifiedDiffMax(
        f.ref("ab"), "post", "variant", "seg", 1.0
    ),
    "RatioZMax-one_variant": lambda f: stats.RatioZMax(
        f.ref("ab", where="variant = 'a'"), "conv", "den", "variant", 1.0
    ),
    "SrmChi2Max-shares": lambda f: stats.SrmChi2Max(
        f.ref("ab"), "variant", 0.5, {"a": 0.9, "b": 0.1}
    ),
    "DidZMax-one_variant": lambda f: stats.DidZMax(
        f.ref("ab", where="variant = 'a'"), "pre", "post", "variant", 1.0
    ),
    "DispersionMax-grouped": lambda f: stats.DispersionMax(
        f.ref("nums", ["cnt", "g"]), 1.0, group_column="g"
    ),
    "WelchTMax-one_unit": lambda f: stats.WelchTMax(
        f.ref("ab", where="variant = 'a' OR unit = 1"), "post", "variant",
        1.0,
    ),
    "WelchTMax-constant_equal": lambda f: stats.WelchTMax(
        f.ref("nums"), "const", "g", 1.0
    ),
    "WelchTMax-constant_shift": lambda f: stats.WelchTMax(
        f.ref("nums"), "half", "g", 1.0
    ),
    "WelchTBetween-constant_equal": lambda f: stats.WelchTBetween(
        f.ref("nums", ["const"]), f.ref("nums", ["const"])
    ),
    "WelchTBetween-constant_shift": lambda f: stats.WelchTBetween(
        f.ref("nums", ["const"]), f.ref("nums", ["zero"])
    ),
    "WelchTBetween-one_row": lambda f: stats.WelchTBetween(
        f.ref("nums", ["x"]), f.ref("nums", ["y"], where="k = 0")
    ),
    "KruskalWallisHMax-one_group": lambda f: stats.KruskalWallisHMax(
        f.ref("ab", where="seg = 'seg0'"), "post", "seg", 1.0
    ),
    "FisherExactMin-one_population_empty": lambda f: stats.FisherExactMin(
        f.ref("ab"), POP_A, Condition(raw_string="variant = 'z'"), CONVERTED,
    ),
    "JoinFanoutMax-no_matching_key": lambda f: stats.JoinFanoutMax(
        f.ref("left"), f.ref("right", where="k > 5"), "k", "k",
        max_output_rows=1,
    ),
    "NeardupRecallMin-vacuous": lambda f: stats.NeardupRecallMin(
        f.ref("docs"), "doc_id", "text", [2, 4], min_recall=1.0
    ),
    "PoolCoverageMin-empty_capture": lambda f: stats.PoolCoverageMin(
        f.ref("docs"), "src", "text", "a", "z", 0.5
    ),
}


def _cases():
    cases = {}
    for name, (build, good, bad, nulled) in TABLE.items():
        cases[f"{name}-pass"] = lambda f, b=build, v=good: b(f, v)
        cases[f"{name}-fail"] = lambda f, b=build, v=bad: b(f, v)
        cases[f"{name}-no_rows"] = (
            lambda f, b=build, v=good: b(f, v, empty=True)
        )
        cases[f"{name}-all_null"] = (
            lambda f, b=build, v=good, n=nulled: b(f, v, null=n)
        )
    cases.update(EXTRA)
    return cases


CASES = _cases()


# Degenerate inputs that raised a raw Spark or PySpark error before, and
# now reach the undefined verdict through a documented ValueError or a
# NULL statistic
CHANGED = {
    "TwoProportionZMax-no_rows": {
        "outcome": False,
        "message": "Two-proportion z between populations of ab is "
        "undefined (empty side or zero pooled variance; n_a=0, n_b=0). ",
    },
    "FisherExactMin-no_rows": {
        "outcome": False,
        "message": "Fisher exact test between populations of ab is "
        "undefined (an empty side; n_a=0, n_b=0). ",
    },
    "GroupedTrendSlopeBetween-no_rows": {
        "outcome": False,
        "message": "Grouped Theil-Sen of ['d', 'trend', 'g'] on daily's "
        "column(s) 'd', 'trend', 'g' is undefined: grouped_theil_sen "
        "needs at least one group ",
    },
    "GroupedTrendSlopeBetween-all_null": {
        "outcome": False,
        "message": "Grouped Theil-Sen of ['d', 'trend', 'g'] on "
        "daily_null's column(s) 'd', 'trend', 'g' is undefined: "
        "grouped_theil_sen needs at least one group ",
    },
    "WelchTMax-no_rows": {
        "outcome": False,
        "message": "Welch t between variants of ab is undefined: Welch "
        "t-test needs exactly two assignment levels, got []. ",
    },
    "GroupedQteMax-all_null": {
        "outcome": False,
        "message": "Grouped quantile treatment effect on ab_null is "
        "undefined: grouped_quantile_treatment_effect: no seg group has a "
        "non-null value. ",
    },
}


def _first_test(constraint, spark):
    try:
        return constraint.test(spark)
    except Exception as exc:  # noqa: BLE001 - the error is the observation
        return exc


def observe(outcome) -> dict:
    """A test's outcome and failure message, or the type and first line
    of the error it raised."""
    if isinstance(outcome, Exception):
        first = (str(outcome).splitlines() or [""])[0]
        return {"raises": type(outcome).__name__, "message": first}
    return {"outcome": outcome.outcome, "message": outcome.failure_message}


def _check(spark, frames, case) -> dict:
    """Test a case's constraint, then test it again, and keep only what
    the assertions read: the constraint and the frames behind its plans
    are released as soon as the case is done."""
    constraint = CASES[case](frames)
    first = _first_test(constraint, spark)
    if isinstance(first, Exception):
        # its traceback would hold the constraint alive
        return {"first": observe(first)}
    again, jobs = count_jobs(
        spark, f"retest-{case}", lambda: constraint.test(spark)
    )
    return {
        "first": first if first.outcome else observe(first),
        "retest": (jobs, again == first, constraint._needs_spark(spark)),
        "description": (
            first.constraint_description, constraint.get_description()
        ),
        "plan": first._factual_queries is not None,
    }


@pytest.fixture(scope="module")
def tested(spark):
    """Each case's observations; the cases run a few at a time, as a
    requirement's members do."""
    frames = Frames(spark)
    return dict(zip(CASES, run_overlapped(spark, [
        functools.partial(_check, spark, frames, case) for case in CASES
    ])))


@pytest.fixture(scope="module")
def golden():
    return {**json.loads(GOLDEN.read_text()), **CHANGED}


@pytest.mark.parametrize("case", CASES)
def test_parity(tested, golden, case):
    seen = tested[case]
    first = seen["first"]
    observed = observe(first) if isinstance(first, base.TestResult) else first
    assert observed == golden[case]
    if "retest" not in seen:
        return
    # the summary is read once: a re-test runs no job, passing or
    # failing, and returns the same result
    assert seen["retest"] == (0, True, False)
    if isinstance(first, base.TestResult):
        # a pass is the bare result, its note (if any) and nothing else
        assert first == base.TestResult(True, golden[case]["message"])
    else:
        description, expected = seen["description"]
        assert description == expected
        assert seen["plan"]


def test_requirement_retest_runs_no_job(spark):
    df = spark.createDataFrame(
        [(1000 if i == 0 else i % 5 + 1,) for i in range(40)], "v int"
    ).coalesce(1)
    req = WithinRequirement.from_dataframe(df, "skewed")
    req.add_gini_max_constraint("v", 0.1)  # fails
    req.add_jarque_bera_constraint("v", 1e9)
    req.add_mad_outlier_fraction_constraint("v", 1.0)
    assert all(c._needs_spark(spark) for c in req)
    first, jobs = count_jobs(spark, "req-first", lambda: req.test(spark))
    assert jobs > 0
    assert [r.outcome for r in first] == [False, True, True]
    assert "Relation" in first[0].logging_message
    again, jobs = count_jobs(spark, "req-again", lambda: req.test(spark))
    assert jobs == 0
    assert again == first
    assert not any(c._needs_spark(spark) for c in req)


def test_cache_size_zero_reruns(spark):
    frames = Frames(spark)
    gini = stats.GiniMax(frames.ref("nums", ["big"]), 0.1, cache_size=0)
    first = gini.test(spark)
    assert gini._needs_spark(spark)
    again, jobs = count_jobs(spark, "uncached", lambda: gini.test(spark))
    assert jobs > 0
    assert observe(again) == observe(first)


# Spark jobs of the first test of a passing case before the failure
# sample joined the summary (a failing one ran one more): neither may
# run more now
PASS_JOBS = {
    "BHSignificantMax-pass": 1,
    "MeanBHSignificantMax-pass": 1,
    "WinnowingContaminationMax-pass": 11,
}


@pytest.mark.parametrize("case", PASS_JOBS)
def test_failure_sample_joins_the_summary(spark, case):
    frames = Frames(spark)
    passing = CASES[case](frames)
    result, jobs = count_jobs(spark, case, lambda: passing.test(spark))
    assert result.outcome
    assert jobs <= PASS_JOBS[case]
    failing = CASES[case.replace("-pass", "-fail")](frames)
    result, jobs = count_jobs(
        spark, case + "-fail", lambda: failing.test(spark)
    )
    assert not result.outcome
    assert jobs <= PASS_JOBS[case]
    again, jobs = count_jobs(
        spark, case + "-retest", lambda: failing.test(spark)
    )
    assert (again, jobs) == (result, 0)


ARGUMENT_ERRORS = {
    "single column": (
        lambda f: stats.GiniMax(f.ref("nums", ["x", "y"]), 0.5),
        "DataReference was expected to only have a single column but had "
        "multiple: ['x', 'y']",
    ),
    "column count": (
        lambda f: stats.GroupedKsMax(f.ref("nums", ["y"]), 0.5),
        "GroupedKsMax requires exactly two columns: (value_column, "
        "group_column).",
    ),
    "column count, no roles": (
        lambda f: stats.SpearmanBounds(f.ref("nums", ["x"]), max_rho=0.5),
        "SpearmanBounds requires exactly two columns.",
    ),
    "columns per source": (
        lambda f: stats.BootstrapMeanOverlap(
            f.ref("nums", ["k", "x"]), f.ref("nums", ["x"])
        ),
        "BootstrapMeanOverlap requires two columns per source: "
        "(key_column, value_column).",
    ),
    "group column": (
        lambda f: stats.DispersionMax(
            f.ref("nums", ["cnt"]), 1.0, group_column="g"
        ),
        "DispersionMax requires the count column plus the group column in "
        "its reference.",
    ),
    "same columns": (
        lambda f: stats.ProfileDrift(
            f.ref("nums", ["x"]), f.ref("nums", ["y"])
        ),
        "ProfileDrift requires the same column list on both references; "
        "got ['x'] vs ['y'].",
    ),
}


@pytest.mark.parametrize("case", ARGUMENT_ERRORS)
def test_argument_errors_raise_before_any_job(spark, case):
    # an argument error raises as it did from the per-class overrides,
    # never as an undefined verdict
    build, message = ARGUMENT_ERRORS[case]
    constraint = build(Frames(spark))
    raised, jobs = count_jobs(
        spark, case.replace(",", ""), lambda: _first_test(constraint, spark)
    )
    assert type(raised) is ValueError
    assert str(raised) == message
    assert jobs == 0
