"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

- every metric name in ``BENCHMARK.json`` is emitted, with its unit;
- a tiny-size smoke run of each workload completes and checks out;
- the output checks catch an injected wrong result (a dropped row, a late
  event kept);
- the CPU clock counts this process's own work;
- outside a checkout of the program the command fails without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = os.path.join(REPO, "perfbench")
sys.path[:0] = [REPO, BENCH]

import metrics  # noqa: E402
from run import SMOKE_STREAM  # noqa: E402
from workloads import WORKLOAD_NAMES, make_corpus, make_stream  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str, cwd: str = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600, check=False,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    return result


def test_catalog_matches_benchmark_json():
    bench = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOAD_NAMES)


def test_smoke_run_emits_every_end_to_end_metric():
    result = _result(_run("--workload", "stream_consume", "--seed", "3", "--seconds", "1", "--smoke"))
    want = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_traced_smoke_run_emits_every_per_layer_metric(workload):
    result = _result(_run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1", "--smoke"))
    want = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    got = result["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == want
    assert got["session.get_spark_s"]["value"] > 0
    if workload == "stream_consume":
        assert got["streaming.batches"]["value"] == SMOKE_STREAM.files
        assert got["streaming.late_dropped_rows"]["value"] == SMOKE_STREAM.late_per_file
        assert got["sinks.bytes_written"]["value"] > 0
    else:
        assert got["queries.build_jobs"]["value"] > 0 or workload == "corpus_relational"
        assert got["spark.exec_jobs"]["value"] > 0


def test_cpu_clock_counts_this_process():
    from worker import host_cpu_ticks, tree_cpu_s

    before, host = tree_cpu_s(), host_cpu_ticks()
    deadline = time.process_time() + 0.3
    while time.process_time() < deadline:
        pass
    assert tree_cpu_s() - before >= 0.2
    busy, stolen = host_cpu_ticks()
    assert busy > host[0] and stolen >= host[1]


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    proc = _run("--workload", "corpus_llm", "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# ---------------------------------------------------------------------------
# the output checks, on injected wrong results
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from data_pipeline_with_spark_kafka_spark.session import get_spark

    session = get_spark("perfbench-tests")
    yield session
    session.stop()


@pytest.fixture(scope="module")
def consumed(spark, tmp_path_factory):
    from data_pipeline_with_spark_kafka_spark import run

    root = tmp_path_factory.mktemp("stream")
    stream = make_stream(str(root / "in"), 5, SMOKE_STREAM)
    target = str(root / "target")
    run.main(
        ["consume", "--input-dir", stream["events_dir"], "--dim", stream["dim"],
         "--target", target, "--checkpoint", str(root / "checkpoint")],
        spark=spark,
    )
    return stream, target


def test_stream_check_accepts_the_real_target(spark, consumed):
    from worker import check_stream

    assert check_stream(spark, *consumed) == []


def test_stream_check_catches_a_dropped_row(spark, consumed, tmp_path):
    from worker import check_stream

    stream, target = consumed
    rows = spark.read.parquet(target)
    bad = str(tmp_path / "bad")
    rows.limit(rows.count() - 1).write.parquet(bad)
    assert check_stream(spark, stream, bad)


def test_stream_check_catches_a_kept_late_event(spark, consumed, tmp_path):
    """A target computed as if the watermark had kept one late event."""
    from data_pipeline_with_spark_kafka_spark.sources.readers import csv_source
    from data_pipeline_with_spark_kafka_spark.streaming.covid_pipeline import (
        DIM_SCHEMA,
        parse_events,
        windowed_enrichment,
    )
    from worker import check_stream

    stream, _ = consumed
    raw = spark.read.schema("value string").json(stream["events_dir"])
    dropped = spark.createDataFrame([(v,) for v in stream["late"][1:]], "value string")
    dim = csv_source(spark, stream["dim"], DIM_SCHEMA)
    bad = str(tmp_path / "bad")
    windowed_enrichment(dim)(parse_events(raw.join(dropped, "value", "left_anti"))).write.parquet(bad)
    assert check_stream(spark, stream, bad)


def test_query_check_catches_a_dropped_row(spark, tmp_path):
    from data_pipeline_with_spark_kafka_spark.queries import all_queries
    from worker import _duckdb, check_query

    corpus = make_corpus(str(tmp_path / "corpus"), 3, REPO)["dir"]
    query = all_queries()["tpch_q1_pricing_summary"]
    df = query.builder(spark, corpus)
    con = _duckdb(corpus)
    try:
        assert check_query(df, con, query.oracle) is None
        assert check_query(df.exceptAll(df.limit(1)), con, query.oracle)
    finally:
        con.close()
