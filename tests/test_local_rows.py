"""sources/tables.local_rows: driver-built frames are typed exactly by
their DDL and plan as a sized ``LocalRelation`` (no Python RDD, so no
Python worker); within the package it is the only ``createDataFrame``
caller. Also: no package file names the checkout's own absolute path."""

from __future__ import annotations

import ast
import os

import pytest

import data_pipeline_with_spark_kafka_spark as pkg
from data_pipeline_with_spark_kafka_spark.sources.tables import FIXTURES_DIR, local_rows

PKG_DIR = os.path.dirname(os.path.abspath(pkg.__file__))
HELPER = os.path.join(PKG_DIR, "sources", "tables.py")

DDL = "i int, big bigint, d double, s string, a array<double>"
ROWS = [
    (1, 2**53 + 1, None, "x", [1.5, None]),
    (None, None, 2.5, None, None),
    (-7, -(2**62), float("inf"), "", []),
]


def _package_files():
    for root, dirs, files in os.walk(PKG_DIR):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        yield from (os.path.join(root, f) for f in files if f.endswith(".py"))


def _optimized_plan_class(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def test_round_trips_values_and_schema(spark):
    df = local_rows(spark, ROWS, DDL)
    assert df.schema.simpleString() == (
        "struct<i:int,big:bigint,d:double,s:string,a:array<double>>"
    )
    got = [tuple(r) for r in df.collect()]
    assert got == ROWS
    # Exact above 2^53: no float64 detour.
    assert got[0][1] == 9007199254740993


def test_empty_rows_keep_the_schema(spark):
    df = local_rows(spark, [], DDL)
    assert df.schema.simpleString() == local_rows(spark, ROWS, DDL).schema.simpleString()
    assert df.collect() == []


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_plans_as_a_sized_local_relation(spark, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        df = local_rows(spark, ROWS, DDL)
    finally:
        spark.conf.set(key, before)
    assert _optimized_plan_class(df) == "LocalRelation"
    stats = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert 0 < int(stats) < 10_000


def test_only_the_helper_calls_create_dataframe():
    callers = []
    for path in _package_files():
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                callers.append(f"{os.path.relpath(path, PKG_DIR)}:{node.lineno}")
    assert len(callers) == 1 and callers[0].startswith("sources/tables.py:"), callers


def test_no_package_file_names_the_checkout_path():
    checkout = os.path.dirname(PKG_DIR)
    offenders = [
        os.path.relpath(p, PKG_DIR)
        for p in _package_files()
        if checkout in open(p, encoding="utf-8").read()
    ]
    assert offenders == []
    assert FIXTURES_DIR == os.path.join(checkout, "fixtures")
    assert os.path.isfile(os.path.join(FIXTURES_DIR, "ivf_centroids_k8.parquet"))
