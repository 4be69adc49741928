"""Local emulation of the driver's correctness gate: run every queries()
entry AND its oracle_sql() in DuckDB at the given SF, compare row count,
schema arity and order-insensitive value hash.

Usage: python scripts/check_oracles.py [sf_dir] [only_query ...]

Runs at local[SPARK_GRAFT_CPUS] (default: every core).  Each query's row
count and value hash, rows-only queries included, go to
BENCH/check_oracles_last.json, so two checkouts compare by a JSON diff.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def value_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "|".join(norm_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name:24s} spark error: {e}")
            failures.append(name)
            results[name] = {"status": "spark_error", "err": str(e)[:300]}
            continue
        t1 = time.time()
        sh = value_hash(srows, scols)
        if name not in oracles:
            print(f"ok-   {name:24s} rows={len(srows):7d} hash={sh} (rows-only) {t1-t0:6.1f}s")
            results[name] = {"status": "no_oracle", "rows": len(srows), "hash": sh}
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name:24s} duckdb error: {e}")
            failures.append(name)
            results[name] = {"status": "duckdb_error", "err": str(e)[:300]}
            continue
        oh = value_hash(orows, ocols)
        ok = len(srows) == len(orows) and sh == oh
        status = "OK  " if ok else "FAIL"
        print(
            f"{status}  {name:24s} rows={len(srows):7d}/{len(orows):7d} "
            f"hash={sh}/{oh} cols={sorted(scols)==sorted(ocols)} {t1-t0:6.1f}s"
        )
        results[name] = {
            "status": "ok" if ok else "mismatch",
            "rows": len(srows),
            "hash": sh,
            "oracle_rows": len(orows),
            "hash_match": sh == oh,
            "schema_match": sorted(scols) == sorted(ocols),
        }
        if not ok:
            failures.append(name)
    print("FAILURES:", failures if failures else "none")
    # pinned CI-style artifact (round-4 verdict ask #8: the driver's
    # sampling dropped green queries from CORRECTNESS_r04 — this file is
    # the repo-side green row that exists every round regardless)
    import json

    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "BENCH",
        "check_oracles_last.json",
    )
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf_dir, "failures": failures, "queries": results}, f, indent=1)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
