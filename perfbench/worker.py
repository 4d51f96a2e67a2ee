"""One repetition of a workload, in a fresh process.

Usage: ``python3 perfbench/worker.py SPEC.json`` (``run.py`` writes the
spec and starts this). A fresh process per repetition means no memoized
artifact and no cached block of the program survives from one repetition
to the next, without the benchmark naming any private cache.

Steps:

1. set-up: ``session.get_spark`` and one warm-up run of the flagship query
   (it trains nothing);
2. the timed workload: ``run.main(["consume", ...])`` for
   ``stream_consume``, or builder call + noop write per query for the
   corpus workloads, in wall time and in CPU time (``tree_cpu_s``);
3. outside the timed region, when the spec asks for it: the output check;
4. when tracing: the per-layer counters of every span.

The result (timings, failures, layer metrics, spans) goes to the JSON
file named in the spec.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
import traceback
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import (  # noqa: E402
    ProgressListener,
    SparkCounters,
    Tracer,
    drain_listener_bus,
    is_file_scan,
    is_python_eval,
)
from workloads import LLM_QUERIES, WARMUP_QUERY, corpus_queries  # noqa: E402


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    from data_pipeline_with_spark_kafka_spark.queries import all_queries
    from data_pipeline_with_spark_kafka_spark.session import get_spark

    queries = all_queries()
    tracer = Tracer(spec["trace"])
    work = spec["work_dir"]
    extra_conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # The serial collector: with it the CPU time of a run spread 4%
        # across seeds, with the default collector 10-16%, probably because
        # its worker threads wait for each other actively and wait longer
        # when the hypervisor takes CPUs away (4-vCPU virtual machine). The
        # compiler threads never exit, so tree_cpu_s can leave them out.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+UseSerialGC"
        " -XX:-UseDynamicNumberOfCompilerThreads",
        # status-store retention, so a traced run keeps every job it ran
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    setup_cpu0, setup_host0 = tree_cpu_s(), host_cpu_ticks()
    with tracer.span("session.get_spark", "session"):
        spark = get_spark("perfbench", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.spark = spark
    result: dict = {"workload": spec["workload"], "trace": spec["trace"]}
    try:
        with tracer.span("session.warmup", "session"):
            queries[WARMUP_QUERY].builder(spark, spec["corpus_dir"]).write.format(
                "noop"
            ).mode("overwrite").save()
        spark.catalog.clearCache()
        result["get_spark_s"] = tracer.spans[0].duration
        result["warmup_s"] = tracer.spans[1].duration
        result["setup_cpu_measured_s"] = tree_cpu_s() - setup_cpu0
        result["setup_steal_frac"] = steal_frac(setup_host0, host_cpu_ticks())
        stream = None
        if spec["workload"] == "stream_consume":
            stream = run_stream(spark, spec, tracer, result)
        else:
            run_corpus(spark, spec, tracer, queries, result)
        if tracer.enabled:
            result["layers"] = layer_metrics(spark, spec, tracer, result, stream)
            result["spans"] = tracer.export()
    finally:
        _stop(spark)
    with open(spec["result"], "w") as f:
        json.dump(result, f)


# ---------------------------------------------------------------------------
# stream_consume
# ---------------------------------------------------------------------------


def run_stream(spark, spec: dict, tracer: Tracer, result: dict) -> dict:
    from data_pipeline_with_spark_kafka_spark import run

    stream = spec["stream"]
    target = os.path.join(spec["work_dir"], "target")
    listener = ProgressListener()
    spark.streams.addListener(listener)
    argv = [
        "consume",
        "--input-dir", stream["events_dir"],
        "--dim", stream["dim"],
        "--target", target,
        "--checkpoint", os.path.join(spec["work_dir"], "checkpoint"),
    ]
    failures: list[str] = []
    cpu0, host0 = tree_cpu_s(), host_cpu_ticks()
    with tracer.span("run.consume", "consume") as consume:
        try:
            run.main(argv, spark=spark)
        except Exception:  # noqa: BLE001 - a failed consume is a failed operation
            failures.append(traceback.format_exc(limit=3))
    result["cpu_measured_s"] = tree_cpu_s() - cpu0
    result["steal_frac"] = steal_frac(host0, host_cpu_ticks())
    drain_listener_bus(spark)
    deadline = time.time() + 10
    while not listener.terminated and time.time() < deadline:
        time.sleep(0.05)
        drain_listener_bus(spark)
    data = [p for p in listener.progress if p["numInputRows"] > 0]
    late = late_dropped_rows(data)
    result.update(
        run_s=consume.duration,
        op_latencies_s=[p["durationMs"]["triggerExecution"] / 1000.0 for p in data],
        input_rows=sum(p["numInputRows"] for p in data),
        late_dropped_rows=late,
        attempted=1,
    )
    if not failures:
        if result["input_rows"] != stream["input_rows"]:
            failures.append(f"consumed {result['input_rows']} rows, generated {stream['input_rows']}")
        if late != len(stream["late"]):
            failures.append(f"watermark dropped {late} rows, generator made {len(stream['late'])} late")
        if spec["check"]:
            failures.extend(check_stream(spark, stream, target))
    result.update(failures=failures, failed=1 if failures else 0)
    if tracer.enabled:
        # one span per micro-batch, with a child span per progress phase
        for p in data:
            start = tracer.pc_from_wall(_iso_to_unix(p["timestamp"]))
            dur = p["durationMs"]
            batch = tracer.add(f"batch[{p['batchId']}]", "batch", start,
                               start + dur["triggerExecution"] / 1000.0, consume)
            t = start
            for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
                if phase in dur:
                    tracer.add(phase, "phase", t, t + dur[phase] / 1000.0, batch)
                    t += dur[phase] / 1000.0
    return {"listener": listener, "data": data, "target": target, "consume": consume}


def late_dropped_rows(data: list[dict]) -> float:
    """Rows the watermark dropped, per execution of the stateful plan.

    ``numRowsDroppedByWatermark`` sums over every execution of the batch
    plan, and the foreachBatch sink may execute it more than once per
    micro-batch; each execution opens one state store per shuffle
    partition, so the count of executions is the instance count over the
    partition count."""
    total = 0.0
    for p in data:
        for op in p.get("stateOperators", []):
            total += op.get("numRowsDroppedByWatermark", 0) / _state_passes(op)
    return total


def _state_passes(op: dict) -> float:
    parts = op.get("numShufflePartitions") or 0
    return (op.get("numStateStoreInstances") or parts) / parts if parts else 1.0


def check_stream(spark, stream: dict, target: str) -> list[str]:
    """The final target must equal a batch recomputation over the same
    files, minus the events generated beyond the watermark, with one row
    per (window_start, location)."""
    from data_pipeline_with_spark_kafka_spark.sources.readers import csv_source
    from data_pipeline_with_spark_kafka_spark.streaming.covid_pipeline import (
        DIM_SCHEMA,
        parse_events,
        windowed_enrichment,
    )
    from tests.oracle_compare import normalize

    if not os.path.isdir(target):
        return ["target was not written"]
    got = spark.read.parquet(target).drop("processing_time").toPandas()
    raw = spark.read.schema("value string").json(stream["events_dir"])
    late = spark.createDataFrame([(v,) for v in stream["late"]], "value string")
    dim = csv_source(spark, stream["dim"], DIM_SCHEMA)
    want = windowed_enrichment(dim)(parse_events(raw.join(late, "value", "left_anti"))).toPandas()
    problems = []
    keys = got[["window_start", "location"]].drop_duplicates()
    if len(keys) != len(got):
        problems.append(f"target has {len(got) - len(keys)} duplicate (window_start, location) rows")
    if normalize(got) != normalize(want[got.columns]):
        problems.append(f"target ({len(got)} rows) differs from batch recomputation ({len(want)} rows)")
    return problems


#: Threads of the JVM's just-in-time compiler ("C1 CompilerThread0", cut to
#: 15 characters by the kernel).
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    live process below it (the JVM, and any Python workers it started),
    including what their exited children used, less what the JVM's
    just-in-time compiler threads used.

    Time the hypervisor stole from the CPUs is not in it. The compiler is
    left out because in a fresh JVM it takes about half of the CPU time
    and how much depends on timing, not on the program; the JVM keeps its
    compiler threads alive (``-XX:-UseDynamicNumberOfCompilerThreads``),
    so none of their time is hidden in exited threads."""
    children: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(f"/proc/{entry}/stat")
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
                used[int(entry)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(children.get(pid, ()))
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            with contextlib.suppress(OSError), open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().startswith(JIT_THREADS):
                    fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
                    total -= sum(int(x) for x in fields[11:13]) if fields else 0
    return total / os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    """The fields of a ``/proc`` stat file after the command name, or None
    if the process or thread is gone."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def host_cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all the host's CPUs so far; busy
    counts the stolen ticks too."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return user + nice + system + irq + softirq + steal, steal


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the busy CPU time between two readings that the hypervisor
    stole."""
    busy = after[0] - before[0]
    return (after[1] - before[1]) / busy if busy else 0.0


def _iso_to_unix(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


# ---------------------------------------------------------------------------
# corpus workloads
# ---------------------------------------------------------------------------


def run_corpus(spark, spec: dict, tracer: Tracer, queries: dict, result: dict) -> None:
    corpus = spec["corpus_dir"]
    names = corpus_queries(spec["workload"], queries)
    if spec["smoke"]:
        names = names[:2]
    oracle = _duckdb(corpus) if spec["check"] else None
    latencies: list[float] = []
    cpu: list[float] = []
    failures: list[str] = []
    failed: set[str] = set()
    host0 = host_cpu_ticks()
    with tracer.span("corpus", "workload"):
        for name in names:
            df = None
            cpu0 = tree_cpu_s()
            with tracer.span(f"query:{name}", "op", query=name) as op:
                try:
                    with tracer.span(f"build:{name}", "build", query=name):
                        df = queries[name].builder(spark, corpus)
                    if tracer.enabled:
                        with tracer.span(f"plan:{name}", "plan", query=name):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span(f"exec:{name}", "exec", query=name):
                        df.write.format("noop").mode("overwrite").save()
                except Exception:  # noqa: BLE001 - a failed query is a failed operation
                    failures.append(f"{name}: {traceback.format_exc(limit=3)}")
                    failed.add(name)
                    df = None
            cpu.append(tree_cpu_s() - cpu0)
            latencies.append(op.duration)
            if df is not None and oracle is not None:
                problem = check_query(df, oracle, queries[name].oracle)
                if problem:
                    failures.append(f"{name}: {problem}")
                    failed.add(name)
            spark.catalog.clearCache()
    if oracle is not None:
        oracle.close()
    result.update(
        run_s=sum(latencies),
        cpu_measured_s=sum(cpu),
        steal_frac=steal_frac(host0, host_cpu_ticks()),
        op_latencies_s=latencies,
        attempted=len(names),
        failures=failures,
        failed=len(failed),
        input_rows=spec["input_rows"],
    )


def _duckdb(corpus: str):
    import duckdb

    con = duckdb.connect()
    for fname in sorted(os.listdir(corpus)):
        if fname.endswith(".parquet"):
            table = fname.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{corpus}/{fname}')")
    return con


def check_query(df, con, oracle_sql: str | None) -> str | None:
    """Hash-compare one query's result with its registry DuckDB oracle."""
    from tests.oracle_compare import normalize

    try:
        got = normalize(df.toPandas())
        if oracle_sql is None:
            return None if got else "no rows"
        want = normalize(con.execute(oracle_sql).df())
    except Exception as exc:  # noqa: BLE001 - any error is a failed check
        return f"check raised {type(exc).__name__}: {str(exc)[:200]}"
    if got != want:
        return f"result ({len(got)} rows) differs from the oracle ({len(want)} rows)"
    return None


# ---------------------------------------------------------------------------
# per-layer metrics (traced run)
# ---------------------------------------------------------------------------


def layer_metrics(spark, spec: dict, tracer: Tracer, result: dict, stream: dict | None) -> dict:
    """Per-layer metrics of a traced worker; ``stream`` is what
    ``run_stream`` returned, or None on a corpus workload."""
    drain_listener_bus(spark)
    counters = SparkCounters(spark)
    cores = spec["cores"]
    m: dict[str, float] = {
        "session.get_spark_s": result["get_spark_s"],
        "session.warmup_s": result["warmup_s"],
        "session.jvm_peak_rss_mb": _jvm_peak_rss_mb(spark),
    }

    builds = tracer.of_kind("build")
    build = counters.collect([s.group for s in builds])
    m["queries.build_s"] = sum(s.duration for s in builds)
    m["queries.build_jobs"] = build.jobs
    m["queries.build_tasks"] = build.tasks
    for q in LLM_QUERIES:
        spans = [s for s in builds if s.attrs.get("query") == q]
        m[f"queries.build_s.{q}"] = sum(s.duration for s in spans)
        m[f"queries.build_jobs.{q}"] = len(counters.jobs([s.group for s in spans]))

    if stream is not None:
        exec_spans = [stream["consume"]]
        exec_groups = [stream["consume"].group, *stream["listener"].run_ids]
    else:
        exec_spans = tracer.of_kind("exec")
        exec_groups = [s.group for s in exec_spans]
    ex = counters.collect(exec_groups)
    exec_s = sum(s.duration for s in exec_spans)
    m.update(
        {
            "spark.plan_s": sum(s.duration for s in tracer.of_kind("plan")),
            "spark.exec_s": exec_s,
            "spark.exec_jobs": ex.jobs,
            "spark.exec_stages": ex.stages,
            "spark.exec_tasks": ex.tasks,
            "spark.task_s": ex.task_s,
            "spark.core_busy_frac": ex.task_s / (exec_s * cores) if exec_s else 0.0,
            "spark.gc_s": ex.gc_s,
            "spark.shuffle_write_bytes": ex.shuffle_write_bytes,
            "spark.shuffle_read_bytes": ex.shuffle_read_bytes,
            "spark.spill_bytes": ex.spill_bytes,
            "spark.exchanges": ex.count_nodes("Exchange"),
            "spark.broadcast_exchanges": ex.count_nodes("BroadcastExchange"),
        }
    )

    # Every node the workload ran: build-time jobs too. On the stream the
    # source is the JSON file-stream scan (its rows are the progress
    # input rows; the scan node does not count them); parquet scans there
    # re-read the upsert target and belong to the sink.
    nodes = build.nodes + ex.nodes
    if stream is not None:
        scans = [v for n, v in nodes if n.startswith("Scan json")]
        scan_rows = result["input_rows"]
    else:
        scans = [v for _, v in nodes if is_file_scan(v)]
        scan_rows = sum(v.get("number of output rows", 0.0) for v in scans)
    m["sources.scan_files"] = sum(v.get("number of files read", 0.0) for v in scans)
    m["sources.scan_bytes"] = sum(v.get("size of files read", 0.0) for v in scans)
    m["sources.scan_rows"] = scan_rows
    py = [v for _, v in nodes if is_python_eval(v)]
    m["operators.python_udf_s"] = sum(v["time to run Python workers"] for v in py)
    m["operators.python_rows"] = sum(v.get("number of output rows", 0.0) for v in py)

    if stream is not None:
        m.update(_streaming_metrics(stream["data"], len(counters.jobs(stream["listener"].run_ids))))
        m.update(_sink_metrics(ex, stream["target"]))
    else:
        m.update(_streaming_metrics([], 0))
        m.update(dict.fromkeys(
            ("sinks.bytes_written", "sinks.files_written", "sinks.target_rescan_bytes",
             "sinks.write_amplification"), 0.0))
    return m


def _streaming_metrics(data: list[dict], jobs: int) -> dict:
    def med(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) / 1000.0 for p in data]
        return statistics.median(vals) if vals else 0.0

    ops = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
    return {
        "streaming.batches": len(data),
        "streaming.first_batch_s": data[0]["durationMs"]["triggerExecution"] / 1000.0 if data else 0.0,
        "streaming.add_batch_s": med("addBatch"),
        "streaming.query_planning_s": med("queryPlanning"),
        "streaming.latest_offset_s": med("latestOffset"),
        "streaming.get_batch_s": med("getBatch"),
        "streaming.wal_commit_s": med("walCommit"),
        "streaming.commit_offsets_s": med("commitOffsets"),
        "streaming.trigger_s": med("triggerExecution"),
        "streaming.jobs_per_batch": jobs / len(data) if data else 0.0,
        "streaming.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "streaming.state_memory_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "streaming.state_commit_s": statistics.median(o["commitTimeMs"] / 1000.0 for o in ops) if ops else 0.0,
        "streaming.state_passes_per_batch": statistics.median(_state_passes(o) for o in ops) if ops else 0.0,
        "streaming.late_dropped_rows": late_dropped_rows(data),
    }


def _sink_metrics(ex, target: str) -> dict:
    final = _dir_bytes(target)
    return {
        "sinks.bytes_written": ex.output_bytes,
        "sinks.files_written": sum(v.get("number of written files", 0.0) for _, v in ex.nodes),
        "sinks.target_rescan_bytes": sum(
            v.get("size of files read", 0.0) for n, v in ex.nodes if n.startswith("Scan parquet")
        ),
        "sinks.write_amplification": ex.output_bytes / final if final else 0.0,
    }


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet"))
    return total


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    main(sys.argv[1])
