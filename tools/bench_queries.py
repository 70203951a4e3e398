#!/usr/bin/env python
"""Time every queries() entry (Spark, local[N]) against its DuckDB
oracle on the same parquet — a breadth feedback loop for finding the
queries where the Spark plan is leaving performance on the table.

DuckDB is a strong single-node columnar baseline; a Spark query that is
>>10× slower than its oracle at sf0.1 usually has a plan problem, not a
JVM-overhead problem. (Iterative graph queries legitimately pay
per-superstep scheduling that DuckDB's unrolled CTEs don't — read those
rows with that in mind.)

Usage: python tools/bench_queries.py [sf_dir] [query ...]
Writes tools/bench_queries_<sf>.json and prints a sorted table.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])

    from incubator_hugegraph_computer_spark.session import get_spark

    spark = get_spark(app_name="bench_queries")
    import duckdb

    import __spark_entry__ as entry

    # bounded: unbounded, the oracles of the iterative graph queries
    # grew to 13.5 GB at sf0.1 on a 15 GB host
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con.execute(f"SET memory_limit = '{ram // 4 // 2**20}MB'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    rows = []
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            n = qs[name](spark, sf_dir).count()
            spark_s = time.monotonic() - t0
        except Exception as exc:  # noqa: BLE001
            print(f"{name:32s} SPARK ERROR {type(exc).__name__}: {exc}")
            continue
        duck_s = None
        if name in oracles:
            t0 = time.monotonic()
            try:
                con.execute(oracles[name]).fetchall()
                duck_s = time.monotonic() - t0
            except Exception:  # noqa: BLE001
                duck_s = None
        rows.append(
            {
                "query": name,
                "rows": n,
                "spark_s": round(spark_s, 3),
                "duckdb_s": round(duck_s, 3) if duck_s is not None else None,
                "ratio": round(spark_s / duck_s, 2) if duck_s else None,
            }
        )
        print(
            f"{name:32s} {n:>9d} rows  spark {spark_s:7.2f}s  "
            f"duckdb {duck_s if duck_s is not None else float('nan'):7.2f}s"
        )

    rows.sort(key=lambda r: -(r["ratio"] or 0))
    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        f"bench_queries_{os.path.basename(sf_dir.rstrip('/'))}.json",
    )
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "rows": rows}, f, indent=1)
    print(f"\nworst spark/duckdb ratios:")
    for r in rows[:12]:
        print(f"  {r['query']:32s} ratio {r['ratio']}  spark {r['spark_s']}s")
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
