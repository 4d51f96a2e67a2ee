"""End-to-end CLI test: the ``e2e`` subcommand (produce -> consume on a
file stream, no broker) must land exactly the rows the batch-golden
pipeline computes from the same CSV — the runnable analog of the
reference's producer + DAG-submitted consumer."""

from __future__ import annotations

import pytest

from data_pipeline_with_spark_kafka_spark.run import build_producer_frame, main
from data_pipeline_with_spark_kafka_spark.sources.readers import csv_source
from data_pipeline_with_spark_kafka_spark.streaming.covid_pipeline import (
    DIM_SCHEMA,
    parse_events,
    windowed_enrichment,
)

CSV_HEADER = "event_time,location,new_cases,total_cases"
CSV_ROWS = [
    "2024-06-01 10:00:05,LOC_A,10,100",
    "2024-06-01 10:00:40,LOC_A,20,120",
    "2024-06-01 10:00:50,LOC_B,7,70",
    "2024-06-01 10:01:10,LOC_A,1,121",
    "2024-06-01 10:02:00,LOC_C,30,30",
    "2024-06-01 10:02:30,LOC_A,,",  # empty numerics -> coerced to 0, kept
    ",LOC_A,5,50",  # missing event_time -> dropped
    "2024-06-01 10:03:00,,5,50",  # missing location -> dropped
    "2024-06-01 10:03:30,LOC_B,junk,junk",  # malformed numerics -> 0, kept
]
DIM_ROWS = [
    "location,population,continent",
    "LOC_A,100000,Europe",
    "LOC_B,200000,Asia",
    "LOC_C,50000,Africa",
]


@pytest.fixture()
def csv_inputs(tmp_path):
    events_csv = tmp_path / "events.csv"
    events_csv.write_text("\n".join([CSV_HEADER, *CSV_ROWS]) + "\n")
    dim_csv = tmp_path / "dim.csv"
    dim_csv.write_text("\n".join(DIM_ROWS) + "\n")
    return str(events_csv), str(dim_csv)


def _rows_set(df):
    return {
        (
            r.window_start.isoformat(),
            r.location,
            r.total_new_cases_in_window,
            str(r.avg_new_cases_per_entry),
            r.max_new_cases_in_window,
            r.n_entries,
            str(r.new_cases_per_million_in_window),
        )
        for r in df.collect()
    }


def test_cli_e2e_matches_batch_golden(spark, tmp_path, csv_inputs):
    events_csv, dim_csv = csv_inputs
    stage = tmp_path / "stage"
    target = tmp_path / "out"
    ckpt = tmp_path / "ckpt"

    # Baseline for the M1 cache assertion below.
    spark.catalog.clearCache()

    main(
        [
            "e2e",
            "--input", f"file://{events_csv}",
            "--stage-dir", str(stage),
            "--batches", "3",
            "--dim", dim_csv,
            "--target", str(target),
            "--checkpoint", str(ckpt),
            "--timeout", "120",
        ],
        spark=spark,
    )

    streamed = spark.read.parquet(str(target))

    # M1 parity (round 12): cmd_consume must CACHE the static dim — the
    # reference caches it (spark_consumer_kafka.py:42) because without it
    # the dim is re-read and re-broadcast every micro-batch. Pin THE DIM
    # specifically (round-13 advice fix): Spark's CacheManager matches by
    # analyzed-plan equality, so rebuilding the identical dim plan and
    # reading its storageLevel asserts cmd_consume's dim is the thing
    # cached — any-RDD-cached would pass vacuously if something else in
    # the shared session cached during the run.
    dim_probe = csv_source(spark, dim_csv, DIM_SCHEMA)
    assert dim_probe.storageLevel.useMemory, "consume dim is not cached (M1)"

    # golden: same validate+payload path, run as one batch
    dim = csv_source(spark, dim_csv, DIM_SCHEMA)
    payload = build_producer_frame(spark, events_csv)
    golden = windowed_enrichment(dim)(parse_events(payload))

    assert "processing_time" in streamed.columns  # audit col in sink schema
    assert _rows_set(streamed.drop("processing_time")) == _rows_set(golden)
    # validation semantics: 2 rows dropped (missing essentials), the
    # empty/malformed-numeric rows kept with 0s -> LOC_A has windows
    # 10:00, 10:01, 10:02; LOC_B 10:00, 10:03; LOC_C 10:02
    assert streamed.count() == 6
    zeroed = [
        r
        for r in streamed.collect()
        if r.location == "LOC_B" and r.window_start.minute == 3
    ]
    assert len(zeroed) == 1 and zeroed[0].total_new_cases_in_window == 0


def test_produce_writes_microbatch_files(spark, tmp_path, csv_inputs):
    events_csv, _ = csv_inputs
    out = tmp_path / "batches"
    main(
        ["produce", "--input", events_csv, "--output-dir", str(out), "--batches", "3"],
        spark=spark,
    )
    import json as _json
    import pathlib

    files = sorted(pathlib.Path(out).glob("part-*.json"))
    assert len(files) == 3
    payloads = []
    for f in files:
        for line in f.read_text().splitlines():
            payloads.append(_json.loads(_json.loads(line)["value"]))
    # 7 valid rows (9 - 2 missing-essential drops), ints coerced
    assert len(payloads) == 7
    assert all(isinstance(p["new_cases"], int) for p in payloads)
    assert {p["location"] for p in payloads} == {"LOC_A", "LOC_B", "LOC_C"}


def test_parse_events_reads_kafka_binary_value(spark, csv_inputs):
    """The Kafka source yields ``value`` as BINARY; ``parse_events`` must
    decode it to the same typed rows as the file stream's string value."""
    events_csv, _ = csv_inputs
    payload = build_producer_frame(spark, events_csv)
    as_kafka = payload.withColumn("value", payload["value"].cast("binary"))
    parsed = parse_events(as_kafka)
    assert dict(parsed.dtypes) == {
        "event_time": "timestamp",
        "location": "string",
        "new_cases": "int",
        "total_cases": "int",
    }
    assert sorted(parsed.collect()) == sorted(parse_events(payload).collect())
    assert parsed.count() == 7


def test_curate_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """`curate` lands a deduped, quality-floored, PII-redacted, split
    corpus partitioned by (lang, split) — and is deterministic."""
    import pathlib

    from pyspark.sql import functions as F

    target = tmp_path / "curated"
    main(
        [
            "curate",
            "--input", f"{sf_dir}/documents.parquet",
            "--target", str(target),
            "--min-quality", "0.5",
        ],
        spark=spark,
    )
    out = spark.read.parquet(str(target))
    rows = out.count()
    assert rows > 0
    # Partition layout: lang=*/split=* directories exist (pruning surface).
    langs = {p.name for p in pathlib.Path(target).glob("lang=*")}
    assert langs and all(l.startswith("lang=") for l in langs)
    # Quality floor holds; no duplicate texts survive; splits all present.
    assert out.filter(F.col("quality") < 0.5).count() == 0
    assert out.select("text").distinct().count() == rows
    assert {r.split for r in out.select("split").distinct().collect()} <= {"train", "val", "test"}
    # Deterministic: a second run lands the identical corpus.
    target2 = tmp_path / "curated2"
    main(
        ["curate", "--input", f"{sf_dir}/documents.parquet", "--target", str(target2)],
        spark=spark,
    )
    again = spark.read.parquet(str(target2))
    assert sorted(out.collect()) == sorted(again.collect())


def test_cli_maintain_scd2_and_cdc(spark, tmp_path):
    """maintain subcommand: scd2 versioning then a cdc delete on the
    scd2 output's OPEN slice — both via parquet in/out, two-phase swap."""
    import datetime

    from data_pipeline_with_spark_kafka_spark.run import main

    snap = str(tmp_path / "snap")
    batch = str(tmp_path / "batch")
    out1 = str(tmp_path / "next1")
    spark.createDataFrame(
        [(1, "a", datetime.datetime(2020, 1, 1), None, True)],
        "k int, attr string, valid_from timestamp, valid_to timestamp, is_current boolean",
    ).write.parquet(snap)
    spark.createDataFrame([(1, "a2"), (2, "b")], "k int, attr string").write.parquet(batch)
    main(
        [
            "maintain", "--mode", "scd2", "--snapshot", snap, "--batch", batch,
            "--target", out1, "--key", "k", "--attrs", "attr",
            "--effective", "2024-06-01",
        ],
        spark=spark,
    )
    rows = {(r.k, r.attr, r.is_current) for r in spark.read.parquet(out1).collect()}
    assert rows == {(1, "a", False), (1, "a2", True), (2, "b", True)}

    feed = str(tmp_path / "feed")
    out2 = str(tmp_path / "next2")
    spark.createDataFrame(
        [(2, None, "D", 1)], "k int, attr string, op string, seq int"
    ).write.parquet(feed)
    # cdc over the open rows only (plain-table shape)
    open_slice = str(tmp_path / "open")
    spark.read.parquet(out1).filter("is_current").select("k", "attr").write.parquet(open_slice)
    main(
        [
            "maintain", "--mode", "cdc", "--snapshot", open_slice, "--batch", feed,
            "--target", out2, "--key", "k", "--attrs", "attr", "--seq-col", "seq",
        ],
        spark=spark,
    )
    assert {(r.k, r.attr) for r in spark.read.parquet(out2).collect()} == {(1, "a2")}


def test_cli_maintain_incremental_with_crash_resume(spark, tmp_path):
    """The composed deployment loop (round-5 verdict task #7): new change
    partitions -> CDC apply -> two-phase snapshot swap -> ledger append,
    one CLI invocation per tick — including crash in the worst window
    (swap done, ledger not yet appended): the rerun re-applies the same
    partition to the already-updated snapshot and CONVERGES, then
    ledgers it; later ticks with no new partitions are clean no-ops."""
    import pytest

    from data_pipeline_with_spark_kafka_spark.run import main

    snap = str(tmp_path / "snap")
    changes = str(tmp_path / "changes")
    ledger = str(tmp_path / "ledger")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, attr string"
    ).write.parquet(snap)
    # day-partitioned CDC feed: day 1 updates k=1 and inserts k=4
    spark.createDataFrame(
        [(1, "a2", "U", 1, "2024-06-01"), (4, "d", "I", 2, "2024-06-01")],
        "k int, attr string, op string, seq int, dt string",
    ).write.partitionBy("dt").mode("append").parquet(changes)

    argv = [
        "maintain-incremental", "--mode", "cdc", "--snapshot", snap,
        "--changes", changes, "--partition-col", "dt", "--ledger", ledger,
        "--key", "k", "--attrs", "attr", "--seq-col", "seq",
    ]
    main(argv, spark=spark)
    assert {(r.k, r.attr) for r in spark.read.parquet(snap).collect()} == {
        (1, "a2"), (2, "b"), (3, "c"), (4, "d")
    }
    assert {r.partition_value for r in spark.read.parquet(ledger).collect()} == {"2024-06-01"}

    # tick with no new partitions: no-op, ledger unchanged
    main(argv, spark=spark)
    assert spark.read.parquet(ledger).count() == 1

    # day 2 arrives: deletes k=2, updates k=4 — but the run CRASHES in
    # the swap-done / ledger-pending window (injected via the test hook)
    spark.createDataFrame(
        [(2, None, "D", 3, "2024-06-02"), (4, "d2", "U", 4, "2024-06-02")],
        "k int, attr string, op string, seq int, dt string",
    ).write.partitionBy("dt").mode("append").parquet(changes)
    with pytest.raises(RuntimeError, match="injected crash"):
        main(argv + ["--crash-after-swap"], spark=spark)
    # snapshot already carries day 2, but the ledger does NOT
    assert {(r.k, r.attr) for r in spark.read.parquet(snap).collect()} == {
        (1, "a2"), (3, "c"), (4, "d2")
    }
    assert {r.partition_value for r in spark.read.parquet(ledger).collect()} == {"2024-06-01"}

    # resume: re-applies day 2 to the already-updated snapshot (CDC apply
    # is replay-convergent), then ledgers it
    main(argv, spark=spark)
    assert {(r.k, r.attr) for r in spark.read.parquet(snap).collect()} == {
        (1, "a2"), (3, "c"), (4, "d2")
    }
    assert {r.partition_value for r in spark.read.parquet(ledger).collect()} == {
        "2024-06-01", "2024-06-02"
    }

    # and the next tick is again a clean no-op
    main(argv, spark=spark)
    assert spark.read.parquet(ledger).count() == 2


def _crash_between_renames(snap: str) -> None:
    """Leave ``snap`` the way a process killed between ``replace``'s two
    renames leaves it: the old snapshot moved to ``.old-<tag>`` and a
    partial ``.tmp-<tag>`` output, with no snapshot in place."""
    import os

    os.rename(snap, f"{snap}.old-ab12cd34")
    os.makedirs(f"{snap}.tmp-ab12cd34")
    with open(f"{snap}.tmp-ab12cd34/part-00000.parquet", "wb") as f:
        f.write(b"PAR1")


def _siblings(snap: str) -> list[str]:
    import glob

    return glob.glob(glob.escape(snap) + ".*-*")


def test_cli_maintain_incremental_resumes_after_crash_between_renames(spark, tmp_path, capsys):
    """A tick killed between the snapshot swap's two renames: the rerun
    restores the old snapshot before reading it, applies the unledgered
    partition once and ledgers it."""
    from data_pipeline_with_spark_kafka_spark.run import main

    snap = str(tmp_path / "snap")
    changes = str(tmp_path / "changes")
    ledger = str(tmp_path / "ledger")
    spark.createDataFrame([(1, "a"), (2, "b")], "k int, attr string").write.parquet(snap)
    spark.createDataFrame(
        [(1, "a2", "U", 1, "2024-06-01"), (3, "c", "I", 2, "2024-06-01")],
        "k int, attr string, op string, seq int, dt string",
    ).write.partitionBy("dt").parquet(changes)
    _crash_between_renames(snap)

    main(
        [
            "maintain-incremental", "--mode", "cdc", "--snapshot", snap,
            "--changes", changes, "--partition-col", "dt", "--ledger", ledger,
            "--key", "k", "--attrs", "attr", "--seq-col", "seq",
        ],
        spark=spark,
    )
    assert "restored" in capsys.readouterr().out
    assert sorted((r.k, r.attr) for r in spark.read.parquet(snap).collect()) == [
        (1, "a2"), (2, "b"), (3, "c"),
    ]
    assert [r.partition_value for r in spark.read.parquet(ledger).collect()] == ["2024-06-01"]
    assert _siblings(snap) == []


def test_cli_maintain_resumes_after_crash_between_renames(spark, tmp_path, capsys):
    """``maintain`` rewriting its snapshot in place, rerun after a kill
    between the two renames: the old snapshot is restored, then the
    update batch is applied to it once. The path is given with a
    trailing slash, so the swap's siblings must still land next to the
    snapshot, not inside it."""
    import datetime

    from data_pipeline_with_spark_kafka_spark.run import main

    snap = str(tmp_path / "snap")
    batch = str(tmp_path / "batch")
    spark.createDataFrame(
        [(1, "a", datetime.datetime(2020, 1, 1), None, True)],
        "k int, attr string, valid_from timestamp, valid_to timestamp, is_current boolean",
    ).write.parquet(snap)
    spark.createDataFrame([(1, "a2"), (2, "b")], "k int, attr string").write.parquet(batch)
    _crash_between_renames(snap)

    main(
        [
            "maintain", "--mode", "scd2", "--snapshot", f"{snap}/", "--batch", batch,
            "--target", f"{snap}/", "--key", "k", "--attrs", "attr",
            "--effective", "2024-06-01",
        ],
        spark=spark,
    )
    assert "restored" in capsys.readouterr().out
    rows = sorted((r.k, r.attr, r.is_current) for r in spark.read.parquet(snap).collect())
    assert rows == [(1, "a", False), (1, "a2", True), (2, "b", True)]
    assert _siblings(snap) == []


def test_cli_maintain_incremental_scd2_partition_order(spark, tmp_path):
    """scd2 mode applies new partitions in order, each partition value as
    its effective timestamp — two days arriving at once produce a
    two-version history with the correct validity chain."""
    import datetime

    from data_pipeline_with_spark_kafka_spark.run import main

    snap = str(tmp_path / "snap")
    changes = str(tmp_path / "changes")
    ledger = str(tmp_path / "ledger")
    spark.createDataFrame(
        [(1, "a", datetime.datetime(2020, 1, 1), None, True)],
        "k int, attr string, valid_from timestamp, valid_to timestamp, is_current boolean",
    ).write.parquet(snap)
    for day, attr in [("2024-06-01", "a2"), ("2024-06-02", "a3")]:
        spark.createDataFrame(
            [(1, attr, day)], "k int, attr string, dt string"
        ).write.partitionBy("dt").mode("append").parquet(changes)

    main(
        [
            "maintain-incremental", "--mode", "scd2", "--snapshot", snap,
            "--changes", changes, "--partition-col", "dt", "--ledger", ledger,
            "--key", "k", "--attrs", "attr",
        ],
        spark=spark,
    )
    rows = {
        (r.attr, r.valid_from.date().isoformat(), r.is_current)
        for r in spark.read.parquet(snap).collect()
    }
    assert rows == {
        ("a", "2020-01-01", False),
        ("a2", "2024-06-01", False),
        ("a3", "2024-06-02", True),
    }


def test_two_phase_swap_restores_old_snapshot_on_rename_failure(spark, tmp_path, monkeypatch):
    """The swap must never leave the target missing: if renaming the new
    snapshot into place fails (cross-mount, permissions), the old
    snapshot is moved back — the destroy-first window of the previous
    implementation is gone."""
    import os

    from data_pipeline_with_spark_kafka_spark.streaming.sinks import replace

    target = str(tmp_path / "snap")
    spark.createDataFrame([(1, "v1")], "k int, attr string").write.parquet(target)
    out = spark.createDataFrame([(1, "v2")], "k int, attr string")

    real_rename = os.rename

    def failing_rename(src, dst):
        if dst == target and ".tmp-" in src:
            raise OSError("injected cross-device rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", failing_rename)
    import pytest

    with pytest.raises(OSError, match="injected"):
        replace(out, target)
    # old snapshot restored, still readable
    assert [(r.k, r.attr) for r in spark.read.parquet(target).collect()] == [(1, "v1")]
    monkeypatch.undo()
    # and a clean retry succeeds
    replace(out, target)
    assert [(r.k, r.attr) for r in spark.read.parquet(target).collect()] == [(1, "v2")]


def test_train_quality_then_model_gated_curate(spark, sf_dir, tmp_path):
    """The distillation deployment loop: train-quality persists a model
    JSON; curate --model applies it as a codegen pre-filter. The gated
    output must be a subset of the ungated curate and the model artifact
    must round-trip with finite weights."""
    import json

    from data_pipeline_with_spark_kafka_spark.run import main

    docs_path = f"{sf_dir}/documents.parquet"
    model_path = str(tmp_path / "quality_model.json")
    main(
        ["train-quality", "--input", docs_path, "--model-out", model_path,
         "--iters", "8"],
        spark=spark,
    )
    model = json.load(open(model_path))
    assert model["features"] == ["log_tokens", "mean_word_len",
                                 "dup_bigram_ratio", "top_token_ratio"]
    assert all(abs(w) < 1e6 for w in model["weights"] + [model["bias"]])
    assert model["losses"][-1] <= model["losses"][0]

    plain_dir, gated_dir = str(tmp_path / "plain"), str(tmp_path / "gated")
    main(["curate", "--input", docs_path, "--target", plain_dir], spark=spark)
    main(
        ["curate", "--input", docs_path, "--target", gated_dir,
         "--model", model_path, "--min-prob", "0.5"],
        spark=spark,
    )
    plain = {r["doc_id"] for r in spark.read.parquet(plain_dir).select("doc_id").collect()}
    gated = {r["doc_id"] for r in spark.read.parquet(gated_dir).select("doc_id").collect()}
    assert gated, "model gate rejected everything"
    assert gated <= plain


def test_cluster_cli_writes_verified_centroids(spark, sf_dir, tmp_path):
    """run.py cluster persists the SAME centroids the verified trainer
    (and therefore the emb_kmeans_train oracle) produces, as a versioned
    JSON artifact; re-running is deterministic byte-for-byte."""
    import json

    from data_pipeline_with_spark_kafka_spark.operators.clustering import (
        kmeans_verified,
    )
    from data_pipeline_with_spark_kafka_spark.run import main

    emb_path = f"{sf_dir}/embeddings.parquet"
    out1 = str(tmp_path / "centroids.json")
    main(["cluster", "--input", emb_path, "--centroids-out", out1, "--k", "4",
          "--iters", "3"], spark=spark)
    art = json.load(open(out1))
    assert art["k"] == 4 and art["dim"] == 64

    emb = spark.read.parquet(emb_path)
    rows = kmeans_verified(emb, "vec_id", "embedding", k=4, iterations=3, seed=42)
    exp_cents = {}
    exp_counts = {}
    for cid, d, v, n in rows:
        exp_cents.setdefault(str(cid), [0.0] * 64)[d] = v
        exp_counts[str(cid)] = n
    assert art["centroids"] == exp_cents
    assert art["cluster_sizes"] == exp_counts
    assert sum(exp_counts.values()) == emb.count()

    out2 = str(tmp_path / "centroids2.json")
    main(["cluster", "--input", emb_path, "--centroids-out", out2, "--k", "4",
          "--iters", "3"], spark=spark)
    assert open(out1).read() == open(out2).read()


def test_in_session_ivf_quantizer_matches_cluster_cli(spark, sf_dir, tmp_path):
    """With no committed quantizer fixture, an IVF query trains its cells
    in session with the same k-means ``run.py cluster`` ships: for the
    same k, iterations and seed the centroids are identical, empty cells
    included."""
    import json

    from data_pipeline_with_spark_kafka_spark.queries.llm_fast_paths import _quantizer_rows
    from data_pipeline_with_spark_kafka_spark.sources.tables import load_table_fanned

    out = str(tmp_path / "centroids.json")
    main(["cluster", "--input", f"{sf_dir}/embeddings.parquet", "--centroids-out", out,
          "--k", "8", "--iters", "2", "--seed", "42"], spark=spark)
    emb = load_table_fanned(spark, sf_dir, "embeddings")
    rows = _quantizer_rows(emb, fixture="no_such_quantizer", k=8, iterations=2)
    assert {str(cid): c for cid, c in rows} == json.load(open(out))["centroids"]
    assert [cid for cid, _ in rows] == list(range(1, 9))
