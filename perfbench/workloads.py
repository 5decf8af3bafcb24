"""The four spec-suite workloads and their verdict oracle.

Each workload is built from ``--seed`` in ``__init__`` (inputs, spec
parameters and the oracle's expected outcome per check), then
``run_pass`` runs one pass through the library's public surface and
returns the checks with their observed outcomes.  Every pass builds
fresh Requirement objects: constraints memoize retrievals per instance,
so re-testing a Requirement object would measure nothing.

The oracle never goes through Spark.  It computes true values with
DuckDB over the same parquet files (star tables) or with numpy over the
generated arrays (snapshot, stream), and evaluates each constraint's
documented comparison on them.  Thresholds sit at a seeded margin from
the true value, so float-summation order cannot flip a verdict.
"""

from __future__ import annotations

import datetime as dt
import itertools
import math
import os
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np

import data


@dataclass
class Check:
    """One constraint check in a pass.  ``stale`` is the outcome the
    check would have if it read the pass's first snapshot instead of the
    current one (``None`` where the data does not change under the
    check)."""

    id: str
    expected: bool
    stale: bool | None = None
    outcome: bool | None = None
    error: str | None = None


@dataclass
class PassResult:
    suite_s: float  # wall time of the timed regions, less the time stolen
    wall_s: float  # wall time of the timed regions as the clock read it
    cpu_s: float  # CPU time the driver processes spent in them
    checks: list[Check]
    # per micro-batch ``StreamingQueryProgress.durationMs`` (streams only)
    progress: list[dict] = field(default_factory=list)


class Clock:
    """Accumulates the wall and CPU time of one pass's timed regions (the
    benchmark's own data writes between them are excluded).  ``meter``
    reads the CPU seconds used so far by the processes doing the work
    (``cpu()``) and the seconds the host has withheld the CPUs
    (``stolen()``)."""

    def __init__(self, meter) -> None:
        self._meter = meter
        self.wall = self.stolen = self.cpu = 0.0

    def run(self, fn, *args):
        wall0, stolen0 = time.perf_counter(), self._meter.stolen()
        cpu0 = self._meter.cpu()
        try:
            return fn(*args)
        finally:
            self.wall += time.perf_counter() - wall0
            self.stolen += self._meter.stolen() - stolen0
            self.cpu += self._meter.cpu() - cpu0

    def result(self, checks: list[Check], progress=()) -> PassResult:
        return PassResult(self.wall - self.stolen, self.wall, self.cpu, checks,
                          list(progress))


def _record(checks: list[Check], clock: Clock, requirement, spark) -> None:
    """Test ``requirement`` under ``clock``; fill the outcomes of the
    checks it holds (the last ``len(requirement)`` entries)."""
    mine = checks[len(checks) - len(requirement):]
    try:
        results = clock.run(requirement.test, spark)
    except Exception as exc:  # a raised check is a counted failure
        for check in mine:
            check.error = f"{type(exc).__name__}: {exc}"[:300]
        return
    for check, result in zip(mine, results):
        check.outcome = bool(result.outcome)


def _date_literal(day: dt.date) -> str:
    return f"'{day.isoformat()}'"


# -- star workloads -------------------------------------------------------------


class _Star:
    """Shared by the two workloads over the fixed sf0.1-shaped star."""

    def __init__(self, seed: int, work: str):
        self.rng = np.random.default_rng(seed)
        self.paths = data.write_star(os.path.join(work, "star"))
        self.db = duckdb.connect()
        for table, path in self.paths.items():
            self.db.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")

    def one(self, sql: str):
        return self.db.execute(sql).fetchone()[0]

    def truth(self, table: str, expr: str, cond: str | None):
        where = f" WHERE {cond}" if cond else ""
        return self.one(f"SELECT {expr} FROM {table}{where}")


def _req(api, path: str, name: str):
    return api.WithinRequirement.from_parquet(path, name=name)


class WideScalarSpec(_Star):
    """Cheap scalar constraints over ``lineitem`` and ``orders``; four of
    the twelve fail."""

    NUMERIC = {"lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
               "orders": ["o_totalprice"]}
    VARCHAR = {"lineitem": ["l_comment", "l_shipmode"],
               "orders": ["o_comment", "o_orderpriority"]}
    NULLABLE = {"lineitem": "l_comment", "orders": "o_comment"}
    DATE = {"lineitem": "l_shipdate", "orders": "o_orderdate"}

    # (table, kind, conditioned, fails).  Which checks carry a condition
    # and which fail is fixed, so every seed does the same work; the seed
    # picks columns, condition values and thresholds.
    PLAN = (("lineitem", "n_rows_min", True, False),
            ("lineitem", "null_frac", False, True),
            ("lineitem", "min", True, False),
            ("lineitem", "mean", False, False),
            ("lineitem", "between", True, True),
            ("lineitem", "varchar_max", False, False),
            ("lineitem", "date_min", True, True),
            ("orders", "n_rows_max", True, False),
            ("orders", "max", False, True),
            ("orders", "mean", True, False),
            ("orders", "varchar_min", False, False),
            ("orders", "date_max", True, False))
    WARMUP_PASSES = 2

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.specs = [self._spec(table, kind, fail, self._condition(table, cond))
                      for table, kind, cond, fail in self.PLAN]

    def _condition(self, table: str, conditioned: bool) -> str | None:
        if not conditioned:
            return None
        if table == "lineitem":
            return f"l_quantity > {int(self.rng.integers(5, 40))}"
        return f"o_totalprice < {int(self.rng.integers(150_000, 450_000))}"

    def _spec(self, table: str, kind: str, fail: bool, cond: str | None) -> dict:
        """Spec parameters plus the oracle's outcome for one check."""
        rng = self.rng
        m = float(rng.uniform(0.05, 0.3))
        sign = 1 if fail else -1  # which side of the truth the bound sits
        spec = {"table": table, "kind": kind, "cond": cond}
        if kind in ("n_rows_min", "n_rows_max"):
            n = self.truth(table, "count(*)", cond)
            lo_side = (kind == "n_rows_min") != fail
            spec["n"] = int(n * (1 - m)) if lo_side else int(n * (1 + m)) + 1
            spec["expect"] = (n >= spec["n"] if kind == "n_rows_min"
                              else n <= spec["n"])
        elif kind == "null_frac":
            col = self.NULLABLE[table]
            f = self.truth(table, f"avg(CASE WHEN {col} IS NULL THEN 1.0 "
                           "ELSE 0.0 END)", cond)
            spec.update(col=col, bound=f * (1 - m) if fail else f * (1 + m))
            spec["expect"] = f <= spec["bound"]
        elif kind in ("min", "max", "mean", "between"):
            col = str(rng.choice(self.NUMERIC[table]))
            lo, hi = self.truth(table, f"[min({col}), max({col})]", None)
            width = hi - lo
            spec["col"] = col
            if kind == "min":
                v = self.truth(table, f"min({col})", cond)
                spec["bound"] = v + sign * m * width
                spec["expect"] = v >= spec["bound"]
            elif kind == "max":
                v = self.truth(table, f"max({col})", cond)
                spec["bound"] = v - sign * m * width
                spec["expect"] = v <= spec["bound"]
            elif kind == "mean":
                v = self.truth(table, f"avg({col}::DOUBLE)", cond)
                tol = float(rng.uniform(0.01, 0.05)) * width
                off = tol * (rng.uniform(1.5, 3.0) if fail
                             else rng.uniform(0.0, 0.6))
                spec.update(mean=v + float(rng.choice([-1, 1])) * off, tol=tol)
                spec["expect"] = abs(v - spec["mean"]) <= tol
            else:
                qa, qb = rng.uniform(0.1, 0.4), rng.uniform(0.6, 0.9)
                a, b = self.truth(
                    table, f"[quantile_cont({col}, {qa}), "
                    f"quantile_cont({col}, {qb})]", None)
                spec.update(lo=round(a, 4), hi=round(b, 4))
                f = self.truth(
                    table, f"avg(CASE WHEN {col} >= {spec['lo']} AND {col} <= "
                    f"{spec['hi']} THEN 1.0 ELSE 0.0 END)", cond)
                spec["min_fraction"] = min(1.0, f * (1 + m)) if fail else f * (1 - m)
                spec["expect"] = f >= spec["min_fraction"]
        elif kind in ("varchar_max", "varchar_min"):
            col = str(rng.choice(self.VARCHAR[table]))
            agg = "max" if kind == "varchar_max" else "min"
            v = self.truth(table, f"{agg}(length({col}))", cond)
            k = int(rng.integers(1, 4))
            up = (kind == "varchar_max") != fail
            spec.update(col=col, length=max(0, v + k if up else v - k))
            spec["expect"] = (v <= spec["length"] if kind == "varchar_max"
                              else v >= spec["length"])
        else:
            col = self.DATE[table]
            agg = "min" if kind == "date_min" else "max"
            v = self.truth(table, f"{agg}({col})", cond)
            k = dt.timedelta(days=int(rng.integers(1, 60)))
            up = (kind == "date_max") != fail
            spec.update(col=col, day=v + k if up else v - k)
            spec["expect"] = (v >= spec["day"] if kind == "date_min"
                              else v <= spec["day"])
        spec["expect"] = bool(spec["expect"])
        return spec

    def run_pass(self, api, spark, clock: Clock) -> PassResult:
        checks: list[Check] = []
        for table in ("lineitem", "orders"):
            req = _req(api, self.paths[table], table)
            for spec in self.specs:
                if spec["table"] != table:
                    continue
                self._add(api, req, spec)
                checks.append(Check(f"{table}.{spec['kind']}", spec["expect"]))
            _record(checks, clock, req, spark)
        return clock.result(checks)

    @staticmethod
    def _add(api, req, s: dict) -> None:
        cond = api.Condition(raw_string=s["cond"]) if s["cond"] else None
        kind = s["kind"]
        if kind == "n_rows_min":
            req.add_n_rows_min_constraint(s["n"], condition=cond)
        elif kind == "n_rows_max":
            req.add_n_rows_max_constraint(s["n"], condition=cond)
        elif kind == "null_frac":
            req.add_max_null_fraction_constraint(s["col"], s["bound"], condition=cond)
        elif kind == "min":
            req.add_numeric_min_constraint(s["col"], s["bound"], condition=cond)
        elif kind == "max":
            req.add_numeric_max_constraint(s["col"], s["bound"], condition=cond)
        elif kind == "mean":
            req.add_numeric_mean_constraint(s["col"], s["mean"], s["tol"],
                                            condition=cond)
        elif kind == "between":
            req.add_numeric_between_constraint(
                s["col"], s["lo"], s["hi"], s["min_fraction"], condition=cond)
        elif kind == "varchar_max":
            req.add_varchar_max_length_constraint(s["col"], s["length"],
                                                  condition=cond)
        elif kind == "varchar_min":
            req.add_varchar_min_length_constraint(s["col"], s["length"],
                                                  condition=cond)
        elif kind == "date_min":
            req.add_date_min_constraint(s["col"], _date_literal(s["day"]),
                                        condition=cond)
        else:
            req.add_date_max_constraint(s["col"], _date_literal(s["day"]),
                                        condition=cond)


def _ks_d(x: np.ndarray, y: np.ndarray) -> float:
    """Exact two-sample KS statistic sup |F_x - F_y| over the pooled values."""
    x, y = np.sort(x), np.sort(y)
    grid = np.concatenate([x, y])
    cdf_x = np.searchsorted(x, grid, side="right") / len(x)
    cdf_y = np.searchsorted(y, grid, side="right") / len(y)
    return float(np.max(np.abs(cdf_x - cdf_y)))


def _ks_threshold(n: int, m: int, alpha: float = 0.05) -> float:
    """The library's documented acceptance rule accepts H0 when
    d <= c(alpha) * sqrt((n+m)/(n*m)), c(alpha) = sqrt(-ln(alpha/2) / 2)."""
    c = math.sqrt(-math.log(alpha / 2.0 + 1e-10) * 0.5)
    return c * math.sqrt((n + m) / (n * m))


def _percentile(values: np.ndarray, pct: float) -> float:
    """The library's exact percentile: the smallest value v with
    ``count(x <= v) * 100 >= pct * n``."""
    ordered = np.sort(values)
    k = max(1, math.ceil(pct * len(ordered) / 100))
    return float(ordered[k - 1])


class HeavyStatsSpec(_Star):
    """Compute-heavy checks: 3-column uniqueness, a functional
    dependency, an exact percentile, a KS 2-sample test and a
    lineitem-in-orders key subset.  The seed places each key range; the
    range sizes are fixed so every seed does the same work."""

    WARMUP_PASSES = 1
    UNIQUE_ORDERS = 40_000
    FD_ORDERS = 5_000
    # distinct lineitem keys the subset check compares; the library's
    # subset compare is quadratic in this (see README.md)
    SUBSET_KEYS = 8_000

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        rng = self.rng
        self.specs = []

        a = int(rng.integers(0, data.N_ORDERS - self.UNIQUE_ORDERS))
        cond = f"l_orderkey >= {a} AND l_orderkey < {a + self.UNIQUE_ORDERS}"
        dup = self.one(
            "SELECT 1 - (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, "
            f"l_linenumber, l_shipmode FROM lineitem WHERE {cond})) / "
            f"count(*)::DOUBLE FROM lineitem WHERE {cond}")
        # the budget sits above the duplicate share on every seed: the
        # failure path would add a duplicate-sample job to some seeds only
        budget = dup * float(rng.uniform(1.1, 1.5))
        self.specs.append({"kind": "uniqueness", "req": "lineitem", "cond": cond,
                           "budget": budget, "expect": dup <= budget})

        a = int(rng.integers(0, data.N_ORDERS - self.FD_ORDERS))
        fd_cond = f"l_orderkey >= {a} AND l_orderkey < {a + self.FD_ORDERS}"
        n_bad = self.one(
            "SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM "
            f"(SELECT DISTINCT l_orderkey, l_linenumber, l_returnflag FROM "
            f"lineitem WHERE {fd_cond}) GROUP BY ALL HAVING count(*) > 1)")
        self.specs.append({"kind": "fd", "req": "lineitem", "cond": fd_cond,
                           "expect": n_bad == 0})

        pct = float(rng.choice([10, 25, 50, 75, 90]))
        prices = self.db.execute(
            "SELECT l_extendedprice FROM lineitem").fetchnumpy()["l_extendedprice"]
        truth = _percentile(prices, pct)
        tol = 0.02 * truth
        off = tol * rng.uniform(0, 0.6)
        expected = truth + float(rng.choice([-1, 1])) * off
        self.specs.append({"kind": "percentile", "req": "lineitem", "pct": pct,
                           "value": expected, "tol": tol,
                           "expect": abs(truth - expected) <= tol})

        ev = self.db.execute("SELECT event_type, value FROM events").fetchnumpy()
        pairs = []
        for t1, t2 in itertools.combinations(data.EVENT_TYPES, 2):
            x, y = ev["value"][ev["event_type"] == t1], ev["value"][ev["event_type"] == t2]
            # same-law pairs with an unambiguous accept only: a rejected
            # pair would add failure-path work to some seeds
            if _ks_d(x, y) < 0.8 * _ks_threshold(len(x), len(y)):
                pairs.append((str(t1), str(t2)))
        t1, t2 = pairs[int(rng.integers(0, len(pairs)))]
        self.specs.append({"kind": "ks", "req": "events_pair", "t1": t1,
                           "t2": t2, "expect": True})

        a = int(rng.integers(0, data.N_ORDERS - self.SUBSET_KEYS))
        b = a + self.SUBSET_KEYS
        cut = b - int(rng.integers(1, 50))  # a few keys short: fails
        excess = self.one(
            f"SELECT count(*) FROM lineitem WHERE l_orderkey >= {a} AND "
            f"l_orderkey < {b} AND l_orderkey NOT IN (SELECT o_orderkey FROM "
            f"orders WHERE o_orderkey >= {a} AND o_orderkey < {cut})")
        self.specs.append({
            "kind": "subset", "req": "lineitem_orders",
            "cond1": f"l_orderkey >= {a} AND l_orderkey < {b}",
            "cond2": f"o_orderkey >= {a} AND o_orderkey < {cut}",
            "expect": excess == 0})

    def _requirement(self, api, label: str):
        p = self.paths
        if label == "events_pair":
            return api.BetweenRequirement.from_parquets(
                p["events"], p["events"], name1="events", name2="events")
        if label == "lineitem_orders":
            return api.BetweenRequirement.from_parquets(
                p["lineitem"], p["orders"], name1="lineitem", name2="orders")
        return _req(api, p[label], label)

    @staticmethod
    def _add(api, req, s: dict) -> None:
        cond = api.Condition
        kind = s["kind"]
        if kind == "uniqueness":
            req.add_uniqueness_constraint(
                ["l_orderkey", "l_linenumber", "l_shipmode"],
                max_duplicate_fraction=s["budget"],
                condition=cond(raw_string=s["cond"]))
        elif kind == "fd":
            req.add_functional_dependency_constraint(
                ["l_orderkey", "l_linenumber"], ["l_returnflag"],
                condition=cond(raw_string=s["cond"]))
        elif kind == "percentile":
            req.add_numeric_percentile_constraint(
                "l_extendedprice", s["pct"], s["value"],
                max_absolute_deviation=s["tol"])
        elif kind == "ks":
            req.add_ks_2sample_constraint(
                "value", "value",
                condition1=cond(raw_string=f"event_type = '{s['t1']}'"),
                condition2=cond(raw_string=f"event_type = '{s['t2']}'"))
        else:
            req.add_uniques_subset_constraint(
                ["l_orderkey"], ["o_orderkey"], filter_func=api.filternull_element,
                condition1=cond(raw_string=s["cond1"]),
                condition2=cond(raw_string=s["cond2"]))

    def run_pass(self, api, spark, clock: Clock) -> PassResult:
        checks: list[Check] = []
        for label in dict.fromkeys(s["req"] for s in self.specs):
            req = self._requirement(api, label)
            for s in self.specs:
                if s["req"] == label:
                    self._add(api, req, s)
                    checks.append(Check(f"{label}.{s['kind']}", bool(s["expect"])))
            _record(checks, clock, req, spark)
        return clock.result(checks)


# -- snapshot revalidation -------------------------------------------------------


class SnapshotRevalidate:
    """One session re-validates a table rewritten at the same path:
    ``CYCLES`` daily snapshots of ``ROWS`` rows, a fresh spec after each
    write.  The percentile check is always a pass case on the current
    data, so a verdict computed from the first snapshot shows as wrong."""

    CYCLES = 2
    ROWS = 200_000
    WARMUP_PASSES = 1

    def __init__(self, seed: int, work: str):
        rng = np.random.default_rng(seed)
        self.dir = os.path.join(work, "snapshot")
        os.makedirs(self.dir, exist_ok=True)
        self.path = os.path.join(self.dir, "part-0.parquet")
        self.days = [data.snapshot_table(rng, self.ROWS, d)
                     for d in range(self.CYCLES)]
        self.truths = [self._truth(day) for day in self.days]
        self.specs = [self._spec(rng, t) for t in self.truths]

    @staticmethod
    def _truth(day: dict) -> dict:
        value = day["value"]
        return {"median": _percentile(value, 50), "mean": float(value.mean()),
                "n": len(value), "cats": set(day["category"].tolist()),
                "null_frac": float(np.mean([v is None for v in day["note"]])),
                "value": value}

    @staticmethod
    def _spec(rng, t: dict) -> dict:
        """Thresholds at a seeded margin from day ``t``'s truth.  The row
        count and the between-fraction checks fail every day; the
        percentile, mean, null-fraction and category-subset checks pass
        (day ``d`` has ``4 + d`` of the five allowed categories)."""
        m = float(rng.uniform(0.05, 0.3))
        center = t["median"]
        lo, hi = center - rng.uniform(5, 20), center + rng.uniform(5, 20)
        frac = float(np.mean((t["value"] >= lo) & (t["value"] <= hi)))
        return {
            "median": t["median"], "median_tol": 2.0,
            "mean": t["mean"] + rng.uniform(-0.5, 0.5), "mean_tol": 1.0,
            "n_min": int(t["n"] * (1 + m)),
            "cats": sorted(data.CATEGORIES[:5].tolist()),
            "null_max": t["null_frac"] * (1 + m),
            "lo": round(float(lo), 3), "hi": round(float(hi), 3),
            "min_fraction": min(1.0, frac * (1 + m)),
        }

    @staticmethod
    def _outcomes(s: dict, t: dict) -> list[tuple[str, bool]]:
        """Oracle outcomes of spec ``s`` evaluated on snapshot truth ``t``."""
        frac = float(np.mean((t["value"] >= s["lo"]) & (t["value"] <= s["hi"])))
        return [
            ("percentile", abs(t["median"] - s["median"]) <= s["median_tol"]),
            ("mean", abs(t["mean"] - s["mean"]) <= s["mean_tol"]),
            ("n_rows_min", t["n"] >= s["n_min"]),
            ("uniques_subset", t["cats"] <= set(s["cats"])),
            ("null_frac", t["null_frac"] <= s["null_max"]),
            ("between", frac >= s["min_fraction"]),
        ]

    def run_pass(self, api, spark, clock: Clock) -> PassResult:
        checks: list[Check] = []
        for day, (arrays, s) in enumerate(zip(self.days, self.specs)):
            data.write_arrays(self.path, arrays)
            req = api.WithinRequirement.from_parquet(self.dir, name="snapshot")
            req.add_numeric_percentile_constraint(
                "value", 50, s["median"], max_absolute_deviation=s["median_tol"])
            req.add_numeric_mean_constraint("value", s["mean"], s["mean_tol"])
            req.add_n_rows_min_constraint(s["n_min"])
            req.add_uniques_subset_constraint(["category"], s["cats"],
                                              filter_func=api.filternull_element)
            req.add_max_null_fraction_constraint("note", s["null_max"])
            req.add_numeric_between_constraint("value", s["lo"], s["hi"],
                                               s["min_fraction"])
            now = self._outcomes(s, self.truths[day])
            then = self._outcomes(s, self.truths[0])
            for (kind, expect), (_, stale) in zip(now, then):
                checks.append(Check(f"day{day}.{kind}", expect,
                                    stale if day > 0 else None))
            _record(checks, clock, req, spark)
        return clock.result(checks)


# -- micro-batch stream ----------------------------------------------------------


class StreamMicrobatch:
    """``StreamingConstraintMonitor.run_available`` over ``FILES`` event
    files read one per trigger; each micro-batch runs the same six checks
    on the batch DataFrame."""

    FILES = 3
    ROWS = 40_000
    WARMUP_PASSES = 2
    SCHEMA = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"

    def __init__(self, seed: int, work: str):
        rng = np.random.default_rng(seed)
        self.dir = os.path.join(work, "stream")
        os.makedirs(self.dir, exist_ok=True)
        self.batches = data.stream_batches(rng, self.FILES, self.ROWS)
        for i, arrays in enumerate(self.batches):
            path = os.path.join(self.dir, f"part-{i}.parquet")
            data.write_arrays(path, arrays)
            # the file source orders files by modification time: batch i
            # is file i
            os.utime(path, (1_700_000_000 + 60 * i,) * 2)
        stats = [self._truth(b) for b in self.batches]
        self.spec = {
            "n_min": self.ROWS // 2,
            "null_max": self._cut(rng, [s["null_frac"] for s in stats], 0, 1),
            "min": self._cut(rng, [s["min"] for s in stats]),
            "max": self._cut(rng, [s["max"] for s in stats]),
            "mean": self._cut(rng, [s["mean"] for s in stats]),
            "lo": 10.0, "hi": 80.0,
            "between": self._cut(rng, [s["between"] for s in stats], 0, 1),
        }
        self.expected = [self._outcomes(s) for s in stats]

    @staticmethod
    def _cut(rng, values: list[float], lo: float = -math.inf,
             hi: float = math.inf) -> float:
        """A bound between two of the batches' true values (or beyond all
        of them), seed-chosen, so each verdict has a clear margin; kept
        within ``[lo, hi]`` (a fraction bound must lie in [0, 1])."""
        ordered = sorted(values)
        edges = ([ordered[0] - abs(ordered[0]) * 0.2 - 1e-3]
                 + [(a + b) / 2 for a, b in zip(ordered, ordered[1:])]
                 + [ordered[-1] * 1.2 + 1e-3])
        return min(hi, max(lo, float(edges[int(rng.integers(0, len(edges)))])))

    @staticmethod
    def _truth(arrays: dict) -> dict:
        value = arrays["value"]
        present = value[~np.isnan(value)]
        return {"null_frac": float(np.isnan(value).mean()),
                "min": float(present.min()), "max": float(present.max()),
                "mean": float(present.mean()),
                "between": float(((value >= 10.0) & (value <= 80.0)).mean())}

    def _outcomes(self, t: dict) -> list[tuple[str, bool]]:
        s = self.spec
        return [("n_rows_min", self.ROWS >= s["n_min"]),
                ("null_frac", t["null_frac"] <= s["null_max"]),
                ("min", t["min"] >= s["min"]),
                ("max", t["max"] <= s["max"]),
                ("mean", abs(t["mean"] - s["mean"]) <= 5.0),
                ("between", t["between"] >= s["between"])]

    def run_pass(self, api, spark, clock: Clock) -> PassResult:
        from datajudge_spark.streaming import StreamingConstraintMonitor

        s = self.spec

        def factory(batch_df):
            req = api.WithinRequirement.from_dataframe(batch_df, "events_batch")
            req.add_n_rows_min_constraint(s["n_min"])
            req.add_max_null_fraction_constraint("value", s["null_max"])
            req.add_numeric_min_constraint("value", s["min"])
            req.add_numeric_max_constraint("value", s["max"])
            req.add_numeric_mean_constraint("value", s["mean"], 5.0)
            req.add_numeric_between_constraint("value", s["lo"], s["hi"], s["between"])
            return req

        stream = (spark.readStream.schema(self.SCHEMA)
                  .option("maxFilesPerTrigger", 1).parquet(self.dir))
        monitor = StreamingConstraintMonitor(factory)
        checks: list[Check] = []
        try:
            query = clock.run(monitor.run_available, stream)
        except Exception as exc:
            for b, expected in enumerate(self.expected):
                for kind, expect in expected:
                    checks.append(Check(f"batch{b}.{kind}", expect,
                                        error=f"{type(exc).__name__}: {exc}"[:300]))
            return clock.result(checks)
        progress = [dict(p.durationMs) for p in query.recentProgress]
        seen = dict(monitor.results)
        for b, expected in enumerate(self.expected):
            results = seen.get(b)
            for i, (kind, expect) in enumerate(expected):
                check = Check(f"batch{b}.{kind}", expect)
                if results is None:
                    check.error = "micro-batch missing"
                else:
                    check.outcome = bool(results[i].outcome)
                checks.append(check)
        return clock.result(checks, progress)


WORKLOADS = {
    "wide_scalar_spec": WideScalarSpec,
    "heavy_stats_spec": HeavyStatsSpec,
    "snapshot_revalidate": SnapshotRevalidate,
    "stream_microbatch": StreamMicrobatch,
}
