"""Per-query profiler for the optimization rounds: separates DataFrame
BUILD time (Python construction, may include probe jobs), PLAN time
(explain("formatted"), i.e. analysis+optimization+physical planning) and
EXECUTION time (noop sink, min of N), and counts the Spark jobs each
execution launches (a direct proxy for stage-scheduling overhead at toy
scale). Writes the formatted plan to plans/<tag>/<query>_<suffix>.txt.

    python tools/profile_queries.py [--tag r12] [--suffix before] [--runs 2] q1 q2 ...

Uses the SAME session config as bench.py (get_spark) so numbers are
comparable with the bench artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default="r12")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from data_pipeline_with_spark_kafka_spark.queries import all_queries
    from data_pipeline_with_spark_kafka_spark.session import get_spark
    from data_pipeline_with_spark_kafka_spark.sources import memo

    spark = get_spark("profile")
    queries = all_queries()
    plans_dir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(plans_dir, exist_ok=True)

    # Warm up codegen/session on the flagship.
    queries["flagship_events_windowed_enrichment"].builder(spark, args.sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.catalog.clearCache()
    memo.clear(spark)

    tracker = spark.sparkContext.statusTracker()
    out = {}
    for name in args.queries:
        if name not in queries:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        t0 = time.perf_counter()
        df = queries[name].builder(spark, args.sf_dir)
        t_build = time.perf_counter() - t0

        t0 = time.perf_counter()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        t_plan = time.perf_counter() - t0
        with open(os.path.join(plans_dir, f"{name}_{args.suffix}.txt"), "w") as f:
            f.write(plan)

        execs = []
        jobs_per_run = []
        for _ in range(args.runs):
            before_jobs = len(tracker.getJobIdsForGroup(None) or [])
            # Rebuild per run like bench.py does (the first rebuild reuses
            # the memo the timed build filled; each run clears it after).
            df_run = queries[name].builder(spark, args.sf_dir)
            t0 = time.perf_counter()
            df_run.write.format("noop").mode("overwrite").save()
            execs.append(time.perf_counter() - t0)
            after_jobs = len(tracker.getJobIdsForGroup(None) or [])
            jobs_per_run.append(after_jobs - before_jobs)
            spark.catalog.clearCache()
            memo.clear(spark)
        n_exchanges = plan.count("Exchange")
        out[name] = {
            "build_s": round(t_build, 3),
            "plan_s": round(t_plan, 3),
            "exec_min_s": round(min(execs), 3),
            "exec_all": [round(e, 3) for e in execs],
            "jobs": jobs_per_run,
            "exchanges_in_plan": n_exchanges,
        }
        print(json.dumps({name: out[name]}), flush=True)

    print(json.dumps(out, indent=1, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
