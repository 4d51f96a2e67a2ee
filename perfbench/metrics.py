"""Metric names, units, and the summary of a run's workers.

``END_TO_END`` and ``PER_LAYER`` are the names ``BENCHMARK.json`` lists;
``summarize`` emits exactly these keys (the tests hold the two in step).
"""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
from importlib import metadata

from workloads import LLM_QUERIES

#: Gated timings, in CPU seconds: what the set-up and the timed work cost
#: the program's processes (the Python driver, the JVM and anything they
#: start; not the JVM's just-in-time compiler), on an uncontended host.
#: The host is a virtual machine whose hypervisor takes CPU time away
#: (steal) in phases of minutes, and the program's CPU time grows with the
#: share stolen: on a 4-vCPU machine, by a factor of 1 + that share. So the
#: measured CPU time is divided by 1 + the host's steal share over the same
#: interval (``uncontended``); see the README for the runs behind it. The
#: wall times are per-layer metrics (``wall.*``, next to
#: ``host.steal_frac``). The share of failed operations is
#: ``failed / attempted`` of the result line itself.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_tasks": "count",
    **{f"queries.build_s.{q}": "s" for q in LLM_QUERIES},
    **{f"queries.build_jobs.{q}": "count" for q in LLM_QUERIES},
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.exec_stages": "count",
    "spark.exec_tasks": "count",
    "spark.task_s": "s",
    "spark.core_busy_frac": "frac",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.exchanges": "count",
    "spark.broadcast_exchanges": "count",
    "sources.scan_files": "count",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "count",
    "operators.python_udf_s": "s",
    "operators.python_rows": "count",
    "streaming.batches": "count",
    "streaming.first_batch_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.get_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.state_commit_s": "s",
    "streaming.state_passes_per_batch": "count",
    "streaming.late_dropped_rows": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.target_rescan_bytes": "bytes",
    "sinks.write_amplification": "frac",
    "wall.run_s": "s",
    "wall.rows_per_s": "1/s",
    "wall.batch_p50_s": "s",
    "wall.batch_p75_s": "s",
    "host.steal_frac": "frac",
    "host.cpu_measured_s": "s",
    "trace.run_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_frac": "frac",
}


def cores() -> int:
    """What ``nproc`` reports (the CPUs this process may run on)."""
    return len(os.sched_getaffinity(0))


def host_stamp() -> dict:
    java = subprocess.run(["java", "-version"], capture_output=True, text=True, check=False)
    return {
        "nproc": cores(),
        "spark_master": f"local[{cores()}]",
        "SPARK_GRAFT_CPUS": cores(),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "3g"),
        "pyspark": metadata.version("pyspark"),
        "duckdb": metadata.version("duckdb"),
        "java": (java.stderr.splitlines() or ["?"])[0],
        "python": platform.python_version(),
        "load_avg_1m_start": os.getloadavg()[0],
    }


def percentile75(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=4)[2]


def wall_metrics(worker: dict) -> dict:
    """Wall-clock figures of one untraced worker. On the corpus workloads a
    "batch" is one query (builder call + noop write); on stream_consume it
    is one data-carrying micro-batch (``triggerExecution``)."""
    batches = worker["op_latencies_s"]
    return {
        "wall.run_s": worker["run_s"],
        "wall.rows_per_s": worker["input_rows"] / worker["run_s"],
        "wall.batch_p50_s": statistics.median(batches),
        "wall.batch_p75_s": percentile75(batches),
        "host.steal_frac": worker["steal_frac"],
        "host.cpu_measured_s": worker["cpu_measured_s"],
    }


def uncontended(cpu_s: float, steal_frac: float) -> float:
    """CPU time measured while the hypervisor stole ``steal_frac`` of the
    busy CPU time, as it would read on an uncontended host."""
    return cpu_s / (1.0 + steal_frac)


def summarize(workers: list[dict], *, traced: bool) -> dict:
    """The final result line: end-to-end metrics over the untraced
    workers, or the traced worker's layer metrics, the untraced worker's
    wall times and the tracing overhead."""
    attempted = sum(w["attempted"] for w in workers)
    failed = sum(w["failed"] for w in workers)
    if traced:
        plain, tr = workers
        values = dict(tr["layers"])
        values.update(wall_metrics(plain))
        values["trace.run_s"] = tr["run_s"]
        values["trace.overhead_s"] = tr["run_s"] - plain["run_s"]
        values["trace.overhead_frac"] = values["trace.overhead_s"] / plain["run_s"]
        units = PER_LAYER
    else:
        values = {
            "setup_s": statistics.median(
                uncontended(w["setup_cpu_measured_s"], w["setup_steal_frac"]) for w in workers
            ),
            "cpu_s": statistics.median(uncontended(w["cpu_measured_s"], w["steal_frac"]) for w in workers),
        }
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()},
    }
