"""Out-of-decade oracle replica: run a list of contract queries at a
big SF (default the byte-pinned /tmp/sf1 shard) on a properly sized
local session and compare rows/schema/value-hash against the DuckDB
oracles — the same three matches the driver gate records, at 10x the
driver's SF.

Usage:
    python tools/sf1_window_replica.py [sf_dir] [out.json] [name ...]

With no names: the current `_R12_WINDOW` + any registry entries newer
than it (the round's additions).  The pytest fixture's local[4]/1g
session OOMs on the pair-emitting dedup queries at sf1; this script
sizes the session like bench.py (local[CPUS], large heap) instead.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        return round(value, 6)
    if isinstance(value, dt.datetime):
        return value.replace(tzinfo=None)
    return value


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(
        [tuple(_norm(row[i]) for i in order) for row in rows],
        key=lambda tup: tuple(str(x) for x in tup),
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/tmp/sf1")
    ap.add_argument("out", nargs="?", default="/tmp/sf1_window_replica.json")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    sf_dir, out_path, names = args.sf_dir, args.out, args.names
    if not names:
        names = list(entrymod._R12_WINDOW)
        for extra in ("decontaminate_winnow", "grouped_qte"):
            if extra not in names:
                names.append(extra)

    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.appName("sf1-window-replica")
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    oracles = entrymod.oracle_sql()
    queries = entrymod.queries()
    results = {}
    for name in names:
        entry = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "err": None}
        try:
            sdf = queries[name](spark, sf_dir)
            srows = sdf.collect()
            scols = [f.name for f in sdf.schema.fields]
            if name not in oracles:
                entry.update(rows_match=True, schema_match=None,
                             hash_match=None,
                             note="rows-only (no oracle)")
                results[name] = entry
                print(f"{name}: rows-only ({len(srows)})", flush=True)
                continue
            cur = con.execute(oracles[name])
            orows = cur.fetchall()
            ocols = [d[0] for d in cur.description]
            entry["rows_match"] = len(srows) == len(orows)
            entry["schema_match"] = sorted(scols) == sorted(ocols)
            entry["hash_match"] = (
                _normalize(srows, scols) == _normalize(orows, ocols)
            )
            entry["spark_rows"] = len(srows)
            entry["oracle_rows"] = len(orows)
        except Exception as exc:  # noqa: BLE001
            entry["err"] = f"{type(exc).__name__}: {exc}"[:300]
        results[name] = entry
        ok = all(
            entry.get(k) is True
            for k in ("rows_match", "schema_match", "hash_match")
        )
        print(f"{name}: {'OK' if ok else entry}", flush=True)
    n_ok = sum(
        1 for e in results.values()
        if e.get("rows_match") and e.get("schema_match")
        and e.get("hash_match")
    )
    summary = {"sf_dir": sf_dir, "n": len(results), "all_three_green": n_ok}
    with open(out_path, "w") as fh:
        json.dump({"summary": summary, "results": results}, fh, indent=1)
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
