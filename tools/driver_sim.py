"""Full driver simulation: run every registered query at sf0.01 with a
VANILLA SparkSession (no custom conf — the grading driver won't have ours)
and compare against the DuckDB oracle under the strict canon in
tests/oracle_compare.py.

Usage:  python tools/driver_sim.py [sf_dir] [query ...]
Writes one line per query to stdout and a summary; exit 1 on any failure.
"""

from __future__ import annotations

import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, REPO)
    sys.path.insert(0, f"{REPO}/tests")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import duckdb

    import __spark_entry__ as e
    from oracle_compare import normalize

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, osql = e.queries(), e.oracle_sql()
    results: list[tuple[str, str]] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            spdf = fn(spark, sf_dir).toPandas()
            spark.catalog.clearCache()  # drop operator-persisted intermediates
            if name not in osql:
                rows = normalize(spdf)  # still exercise the canon (complex-cell crash)
                results.append((name, f"ROWS-ONLY n={len(rows)}"))
                continue
            sr = normalize(spdf)
            orr = normalize(con.execute(osql[name]).df())
            if len(sr) != len(orr):
                results.append((name, f"ROWCOUNT spark={len(sr)} oracle={len(orr)}"))
            elif sr == orr:
                results.append((name, f"MATCH n={len(sr)}"))
            else:
                diff = next((a, b) for a, b in zip(sr, orr) if a != b)
                results.append((name, f"MISMATCH n={len(sr)} first_diff={diff!r}"))
        except Exception:
            results.append((name, "ERR " + traceback.format_exc().splitlines()[-1]))

    bad = [(n, s) for n, s in results if not s.startswith(("MATCH", "ROWS-ONLY"))]
    for n, s in results:
        print(f"{n}\t{s}")
    print(
        f"# SUMMARY total={len(results)} "
        f"match={sum(s.startswith('MATCH') for _, s in results)} "
        f"rows_only={sum(s.startswith('ROWS-ONLY') for _, s in results)} "
        f"bad={len(bad)}"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
