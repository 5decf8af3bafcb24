"""Input generation for the spec-suite benchmark (numpy + pyarrow, no Spark).

Two kinds of input:

- ``write_star``: a fixed sf0.1-shaped TPC-H-ish star (``orders`` 150k
  rows, ``lineitem`` ~600k rows, ``events`` 100k rows) from a constant
  seed.  It is the same on every run; ``wide_scalar_spec`` and
  ``heavy_stats_spec`` validate it with seed-chosen specs.
- ``snapshot_table`` / ``stream_batches``: tables generated from the
  run's ``--seed`` for ``snapshot_revalidate`` and ``stream_microbatch``.
  They return the numpy arrays too, so the oracle never reads back
  through Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_SEED = 42
N_ORDERS = 150_000
N_EVENTS = 100_000
N_CUST = 15_000
N_PART = 20_000
N_SUPP = 1_000

STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
SHIPMODES = np.array(["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"])
EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])
CATEGORIES = np.array(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"])
WORDS = np.array(
    ["quick", "final", "ironic", "pending", "bold", "careful", "express",
     "regular", "special", "even", "slyly", "furious", "deposits", "accounts"]
)

# 1995-01-01 as days since the epoch; order dates span 2405 days from it
ORDER_DAY0 = 9131
ORDER_SPAN = 2405
# 2024-01-01 in epoch microseconds; events span 30 days from it
EVENT_T0_US = 1_704_067_200_000_000
EVENT_SPAN_US = 30 * 86_400_000_000


def _comments(rng: np.random.Generator, n: int, null_frac: float) -> pa.Array:
    """Free-text column: 2-6 words from a pool of 512 phrases, with a
    share of NULLs (so length and null-fraction checks have something
    to find)."""
    pool = np.array(
        [" ".join(rng.choice(WORDS, rng.integers(2, 7))) for _ in range(512)],
        dtype=object,
    )
    values = pool[rng.integers(0, len(pool), n)]
    return pa.array(values, pa.string(), mask=rng.random(n) < null_frac)


def write_star(out_dir: str) -> dict[str, str]:
    """Write ``orders``, ``lineitem`` and ``events`` parquet files into
    ``out_dir``; return ``{table: path}``."""
    rng = np.random.default_rng(STAR_SEED)
    os.makedirs(out_dir, exist_ok=True)
    paths = {t: os.path.join(out_dir, f"{t}.parquet")
             for t in ("orders", "lineitem", "events")}

    o_day = ORDER_DAY0 + rng.integers(0, ORDER_SPAN, N_ORDERS)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORDERS), pa.int64()),
        "o_orderstatus": pa.array(STATUSES[rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, N_ORDERS), 2),
        "o_orderdate": pa.array(o_day.astype(np.int32), pa.date32()),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, N_ORDERS)]),
        "o_comment": _comments(rng, N_ORDERS, 0.03),
    })
    pq.write_table(orders, paths["orders"])

    lines = 1 + rng.poisson(3.07, N_ORDERS)
    n_li = int(lines.sum())
    l_ship = np.repeat(o_day, lines) + rng.integers(1, 96, n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(N_ORDERS), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_shipmode": pa.array(SHIPMODES[rng.integers(0, 7, n_li)]),
        "l_shipdate": pa.array(l_ship.astype(np.int32), pa.date32()),
        "l_comment": _comments(rng, n_li, 0.01),
    })
    pq.write_table(lineitem, paths["lineitem"])

    etype = rng.integers(0, 5, N_EVENTS)
    # purchases run ~30% larger than the other types: the KS checks
    # have one clearly-different pair and several same-law pairs
    scale = np.where(EVENT_TYPES[etype] == "purchase", 65.0, 50.0)
    events = pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(
            EVENT_T0_US + rng.integers(0, EVENT_SPAN_US, N_EVENTS),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, 5_000, N_EVENTS), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[etype]),
        "value": np.round(rng.exponential(1.0, N_EVENTS) * scale, 2),
    })
    pq.write_table(events, paths["events"])
    return paths


def snapshot_table(rng: np.random.Generator, n: int, day: int) -> dict:
    """One day's snapshot: ``value`` is centred on ``100 * (day + 1)``, so
    its median and mean move by 100 per rewrite.  Returns numpy arrays
    (``None`` marks a NULL in ``note``)."""
    center = 100.0 * (day + 1)
    note = rng.choice(WORDS, n).astype(object)
    note[rng.random(n) < rng.uniform(0.01, 0.05)] = None
    return {
        "id": np.arange(n, dtype=np.int64) + day * n,
        "value": np.round(center + rng.normal(0, 15.0, n), 3),
        "category": CATEGORIES[rng.integers(0, 4 + day % 3, n)],
        "note": note,
    }


def write_arrays(path: str, arrays: dict) -> None:
    """Write ``arrays`` as one parquet file, replacing ``path`` atomically."""
    # NaN in a float column and None in a string column are NULLs
    table = pa.table({
        k: pa.array(v, pa.string()) if v.dtype == object
        else pa.array(v, from_pandas=True)
        for k, v in arrays.items()
    })
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def stream_batches(rng: np.random.Generator, n_files: int, rows: int) -> list[dict]:
    """Per-file event arrays for the micro-batch stream; file ``i`` holds
    event ids ``[i*rows, (i+1)*rows)``."""
    out = []
    for i in range(n_files):
        etype = EVENT_TYPES[rng.integers(0, 5, rows)]
        value = np.round(rng.exponential(rng.uniform(30, 70), rows), 2)
        value[rng.random(rows) < rng.uniform(0.0, 0.03)] = np.nan
        out.append({
            "event_id": np.arange(i * rows, (i + 1) * rows, dtype=np.int64),
            "user_id": rng.integers(0, 2_000, rows).astype(np.int64),
            "event_type": etype,
            "value": value,
        })
    return out
