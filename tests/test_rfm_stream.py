"""Streaming RFM maintenance: cross-batch accumulation, exact batch
equality over the fixture orders (base AND coded segments), checkpoint
restart recovery, and upsert replay idempotence."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.streaming.rfm_stream import (
    rfm_base_stream,
    run_rfm_ledger_parquet,
    segments_from_base,
    segments_from_parquet_ledger,
)
from data_pipeline_with_spark_kafka_spark.queries.stats_extra import stats_rfm_segments
from data_pipeline_with_spark_kafka_spark.sources.tables import load_table

SCHEMA = "o_orderkey long, o_orderdate timestamp, o_custkey long, o_totalprice double"


def run_rfm_ledger(stream, checkpoint: str, ledger: dict) -> None:
    """Dict fold: foreachBatch upsert of the absolute per-customer rows
    into a Python dict — idempotent under epoch replay because values
    are absolute. An independent check on the parquet fold."""

    def upsert(df, epoch: int) -> None:
        for r in df.collect():
            ledger[int(r.o_custkey)] = (
                int(r.last_order_days),
                int(r.frequency),
                int(r.monetary_cents),
            )

    q = (
        stream.writeStream.outputMode("update")
        .foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def segments_from_ledger(spark, ledger: dict):
    """Quartile-code the dict ledger: adapt to the shared base relation
    and delegate to ``segments_from_base``."""
    rows = [
        (int(k), int(d), int(f), round(c / 100.0, 2)) for k, (d, f, c) in ledger.items()
    ]
    base = spark.createDataFrame(
        rows, "o_custkey long, last_days long, frequency long, monetary double"
    )
    return segments_from_base(base)


def _line(key, date, cust, price):
    return (
        json.dumps(
            {
                "o_orderkey": key,
                "o_orderdate": date,
                "o_custkey": cust,
                "o_totalprice": price,
            }
        )
        + "\n"
    )


def _run(spark, src, ckpt, ledger):
    raw = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    run_rfm_ledger(rfm_base_stream(raw), str(ckpt), ledger)
    return ledger


def test_rfm_stream_cross_batch_accumulation(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "f1.json").write_text(
        _line(1, "2024-01-10 00:00:00", 7, 100.50) + _line(2, "2024-01-05 00:00:00", 8, 10.00)
    )
    (src / "f2.json").write_text(
        _line(3, "2024-02-01 00:00:00", 7, 49.50) + _line(4, "2024-01-01 00:00:00", 7, 1.25)
    )
    for i, f in enumerate(["f1.json", "f2.json"]):
        os.utime(src / f, (i + 1, i + 1))
    ledger = _run(spark, src, tmp_path / "ck", {})
    # customer 7: last = 2024-02-01, 3 orders, 100.50+49.50+1.25 exact cents
    days7 = ledger[7][0]
    assert ledger[7] == (days7, 3, 15125)
    assert ledger[8][1:] == (1, 1000)
    assert days7 - ledger[8][0] == 27  # Feb 1 - Jan 5


def _orders_as_json(tmp_path, sf_dir, n_files=4):
    tb = pq.read_table(f"{sf_dir}/orders.parquet").to_pydict()
    rows = list(
        zip(tb["o_orderkey"], tb["o_orderdate"], tb["o_custkey"], tb["o_totalprice"])
    )
    src = tmp_path / "orders_in"
    src.mkdir()
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        (src / f"f{i}.json").write_text(
            "".join(_line(int(k), str(d), int(c), float(p)) for k, d, c, p in chunk)
        )
        os.utime(src / f"f{i}.json", (i + 1, i + 1))
    return src


def test_rfm_stream_equals_batch_on_fixture(spark, tmp_path, sf_dir):
    src = _orders_as_json(tmp_path, sf_dir)
    ledger = _run(spark, src, tmp_path / "ck", {})

    orders = load_table(spark, sf_dir, "orders")
    batch = {
        int(r["o_custkey"]): (
            int(r["last_days"]),
            int(r["frequency"]),
            int(r["cents"]),
        )
        for r in orders.groupBy("o_custkey")
        .agg(
            F.max(F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))).alias("last_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
        )
        .collect()
    }
    assert ledger == batch

    # coded segments from the maintained ledger == the registered batch
    # query, EXACTLY: avg_monetary derives from exact integer cents on
    # both paths (a segment whose total cents ≡ n*50 mod n*100 puts the
    # true average exactly on a half cent — this test caught that
    # boundary when the average was still computed over 2dp doubles).
    got = {
        (r["r_code"], r["f_code"], r["m_code"]): (
            r["n_customers"],
            r["avg_recency_days"],
            r["avg_monetary"],
        )
        for r in segments_from_ledger(spark, ledger).collect()
    }
    exp = {
        (r["r_code"], r["f_code"], r["m_code"]): (
            r["n_customers"],
            r["avg_recency_days"],
            r["avg_monetary"],
        )
        for r in stats_rfm_segments(spark, sf_dir).collect()
    }
    assert got == exp


def test_rfm_stream_restart_recovery(spark, tmp_path, sf_dir):
    """Stop after the first files, resume on the SAME checkpoint with the
    rest: carried state must continue the per-customer aggregates."""
    src = _orders_as_json(tmp_path, sf_dir, n_files=4)
    held = [src / "f2.json", src / "f3.json"]
    parked = tmp_path / "parked"
    parked.mkdir()
    moved = []
    for f in held:
        tgt = parked / f.name
        os.rename(f, tgt)
        moved.append((tgt, f))
    ledger: dict = {}
    _run(spark, src, tmp_path / "ck", ledger)
    partial = dict(ledger)
    for tgt, back in moved:
        os.rename(tgt, back)
        os.utime(back, (10, 10))
    _run(spark, src, tmp_path / "ck", ledger)

    full: dict = {}
    _run(spark, src, tmp_path / "ck_full", full)
    assert ledger == full
    assert partial != full  # the restart actually added data


def test_rfm_stream_upsert_replay_idempotent(spark, tmp_path, sf_dir):
    """Absolute rows make the ledger upsert replay-safe: re-running the
    whole stream on a FRESH checkpoint over the same dict changes
    nothing."""
    src = _orders_as_json(tmp_path, sf_dir, n_files=2)
    ledger: dict = {}
    _run(spark, src, tmp_path / "ck1", ledger)
    snapshot = dict(ledger)
    _run(spark, src, tmp_path / "ck2", ledger)
    assert ledger == snapshot


def _run_parquet(spark, src, ckpt, target):
    raw = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    run_rfm_ledger_parquet(rfm_base_stream(raw), str(ckpt), str(target))


def _read_parquet_ledger(spark, target):
    return {
        int(r["o_custkey"]): (
            int(r["last_order_days"]),
            int(r["frequency"]),
            int(r["monetary_cents"]),
        )
        for r in spark.read.parquet(str(target)).collect()
    }


def test_rfm_parquet_ledger_equals_dict_fold_and_batch(spark, tmp_path, sf_dir):
    """The durable parquet fold lands the SAME per-customer absolute rows
    as the dict test fold, and the coded segments derived from the
    parquet ledger equal the registered batch query."""
    src = _orders_as_json(tmp_path, sf_dir)
    target = tmp_path / "ledger_pq"
    _run_parquet(spark, src, tmp_path / "ckp", target)
    dict_ledger: dict = {}
    _run(spark, src, tmp_path / "ckd", dict_ledger)
    assert _read_parquet_ledger(spark, target) == dict_ledger

    got = {
        (r["r_code"], r["f_code"], r["m_code"]): (
            r["n_customers"],
            r["avg_recency_days"],
            r["avg_monetary"],
        )
        for r in segments_from_parquet_ledger(spark, str(target)).collect()
    }
    exp = {
        (r["r_code"], r["f_code"], r["m_code"]): (
            r["n_customers"],
            r["avg_recency_days"],
            r["avg_monetary"],
        )
        for r in stats_rfm_segments(spark, sf_dir).collect()
    }
    assert got == exp


def test_rfm_parquet_ledger_restart_recovery(spark, tmp_path, sf_dir):
    """Stop after the first files, resume on the SAME checkpoint into the
    SAME parquet target: the merged table must converge to the full run."""
    src = _orders_as_json(tmp_path, sf_dir, n_files=4)
    held = [src / "f2.json", src / "f3.json"]
    parked = tmp_path / "parked"
    parked.mkdir()
    moved = []
    for f in held:
        tgt = parked / f.name
        os.rename(f, tgt)
        moved.append((tgt, f))
    target = tmp_path / "ledger_pq"
    _run_parquet(spark, src, tmp_path / "ck", target)
    partial = _read_parquet_ledger(spark, target)
    for tgt, back in moved:
        os.rename(tgt, back)
        os.utime(back, (10, 10))
    _run_parquet(spark, src, tmp_path / "ck", target)

    full_target = tmp_path / "ledger_full"
    _run_parquet(spark, src, tmp_path / "ck_full", full_target)
    full = _read_parquet_ledger(spark, full_target)
    assert _read_parquet_ledger(spark, target) == full
    assert partial != full  # the restart actually added data


def test_rfm_parquet_ledger_replay_idempotent(spark, tmp_path, sf_dir):
    """Re-running the whole stream on a FRESH checkpoint into the same
    parquet target changes nothing: absolute rows + keyed merge."""
    src = _orders_as_json(tmp_path, sf_dir, n_files=2)
    target = tmp_path / "ledger_pq"
    _run_parquet(spark, src, tmp_path / "ck1", target)
    snapshot = _read_parquet_ledger(spark, target)
    _run_parquet(spark, src, tmp_path / "ck2", target)
    assert _read_parquet_ledger(spark, target) == snapshot
