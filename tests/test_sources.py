"""Source/sink builder tests: CSV round-trip with explicit schema, Kafka
payload serialize/parse inverse property, producer-style row validation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.sources.readers import (
    csv_source,
    from_kafka_payload,
    to_kafka_payload,
    validate_rows,
    write_batch,
)
from data_pipeline_with_spark_kafka_spark.sources.tables import (
    FIXTURES_DIR,
    load_table,
    table_row_count,
)


def test_csv_round_trip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    out = str(tmp_path / "nation_csv")
    nation.write.option("header", True).mode("overwrite").csv(out)
    back = csv_source(
        spark, out, "n_nationkey int, n_name string, n_regionkey int"
    )
    assert sorted(back.collect()) == sorted(nation.collect())


def test_orc_round_trip_partitioned(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = str(tmp_path / "docs_orc")
    write_batch(docs, out, fmt="orc", partition_by=["lang"])
    back = spark.read.orc(out).select("doc_id", "lang", "n_chars")
    assert sorted(back.collect(), key=lambda r: r.doc_id) == sorted(
        docs.collect(), key=lambda r: r.doc_id
    )
    # Hive-style layout: a filter on the partition column prunes directories
    # — the scan's partitionFilters carry it, no data file is consulted.
    plan = (
        spark.read.orc(out)
        .filter(F.col("lang") == "en")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(lang" in plan, plan


def test_kafka_payload_round_trip(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars").limit(50)
    payload = to_kafka_payload(docs, key_col="doc_id")
    assert payload.columns == ["key", "value"]
    parsed = from_kafka_payload(payload, "doc_id long, lang string, n_chars long")
    assert sorted(parsed.collect()) == sorted(docs.collect())


def test_validate_rows_coercion_and_drop(spark):
    df = spark.createDataFrame(
        [
            ("2024-01-01", "US", "5.7", "10"),
            ("2024-01-02", None, "3", "4"),      # missing essential -> drop
            ("2024-01-03", "FR", "bogus", "2"),  # coerce failure -> 0
            (None, "DE", "1", "1"),              # missing essential -> drop
        ],
        "date string, location string, new_cases string, total_cases string",
    )
    out = validate_rows(
        df,
        essential=["date", "location"],
        coerce_int_default_zero=["new_cases", "total_cases"],
    )
    rows = {r.date: (r.location, r.new_cases, r.total_cases) for r in out.collect()}
    assert set(rows) == {"2024-01-01", "2024-01-03"}
    assert rows["2024-01-01"] == ("US", 5, 10)   # int(float("5.7")) == 5
    assert rows["2024-01-03"] == ("FR", 0, 2)    # "bogus" -> 0


def test_jdbc_builders_construct_plan_only():
    # No database in this environment: the builders are config surface;
    # constructing them must not require a live connection.
    from data_pipeline_with_spark_kafka_spark.sources import readers

    assert callable(readers.jdbc_source) and callable(readers.jdbc_sink)


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across parquet batches (a long-lived ingest dir
    accretes columns): mergeSchema unions the fields, older files read
    the new column as null, and filters on the new column still prune."""
    base = str(tmp_path / "evolving")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    v1.write.parquet(base + "/batch=1")
    v2 = spark.createDataFrame(
        [(3, "c", 0.5), (4, "d", 0.9)], "id long, name string, score double"
    )
    v2.write.parquet(base + "/batch=2")

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"id", "name", "score", "batch"}
    rows = {r.id: (r.name, r.score) for r in merged.collect()}
    assert rows[1] == ("a", None) and rows[3] == ("c", 0.5)
    # new-column filter: old files contribute nothing, no error
    import pyspark.sql.functions as F
    assert merged.filter(F.col("score") > 0.6).count() == 1


def test_binary_file_source_feeds_multimodal_decode(spark, tmp_path):
    """binaryFile directory scan -> (path, length, content) rows; the
    content column decodes with the SAME codec the parquet-blob multimodal
    path uses, glob prunes by name, and max_bytes skips oversized media
    on file STATUS (length predicate, no content read needed)."""
    import numpy as np

    from data_pipeline_with_spark_kafka_spark.operators.multimodal import (
        decode_bmp,
        encode_bmp,
    )
    from data_pipeline_with_spark_kafka_spark.sources.readers import (
        binary_file_source,
    )

    media = tmp_path / "media"
    media.mkdir()
    imgs = {}
    for i in range(3):
        arr = np.full((4, 5, 3), i * 40, dtype=np.uint8)
        (media / f"img{i}.bmp").write_bytes(encode_bmp(arr))
        imgs[f"img{i}.bmp"] = arr
    (media / "notes.txt").write_text("not media")
    (media / "huge.bmp").write_bytes(b"x" * 10_000)

    bmp_len = len(encode_bmp(np.zeros((4, 5, 3), dtype=np.uint8)))
    df = binary_file_source(spark, str(media), glob="*.bmp", max_bytes=bmp_len)
    rows = df.collect()
    # glob dropped notes.txt; max_bytes dropped huge.bmp.
    assert sorted(r.path.rsplit("/", 1)[1] for r in rows) == [
        "img0.bmp", "img1.bmp", "img2.bmp"
    ]
    for r in rows:
        name = r.path.rsplit("/", 1)[1]
        assert r.length == bmp_len
        assert (decode_bmp(bytes(r.content)) == imgs[name]).all()


def test_media_fixture_snapshot_matches_directory(spark):
    """fixtures/media_listing.parquet (the DuckDB oracle's side of
    media_ingest_audit) must exactly mirror a fresh binaryFile listing of
    fixtures/media — name, extension, and byte length per file. If either
    side is regenerated without the other, this fails instead of the
    correctness gate silently comparing different bytes."""
    from data_pipeline_with_spark_kafka_spark.queries.media_ingest import _MEDIA_DIR
    from data_pipeline_with_spark_kafka_spark.sources.readers import (
        binary_file_source,
    )

    fresh = {
        r.path.rsplit("/", 1)[1]: r.length
        for r in binary_file_source(spark, _MEDIA_DIR).select("path", "length").collect()
    }
    snap = spark.read.parquet(f"{FIXTURES_DIR}/media_listing.parquet").collect()
    assert {r.file_name: r.length for r in snap} == fresh
    assert all(r.ext == r.file_name.rsplit(".", 1)[1] for r in snap)
    assert len(fresh) == 10


def test_media_ingest_audit_is_metadata_only(spark):
    """The audit query's scan must read (path, length) ONLY — never the
    content column (whole file bytes). At 100 TB of media this is the
    difference between a directory listing and a full data scan."""
    from data_pipeline_with_spark_kafka_spark.queries import all_queries

    df = all_queries()["media_ingest_audit"].builder(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan_lines = [l for l in plan.splitlines() if "Scan binaryFile" in l]
    assert scan_lines, plan
    # The scan's output column list (the pruned ReadSchema) must be
    # path+length only — the logical Relation node always prints the full
    # source schema, so assert on the physical scan line.
    for line in scan_lines:
        assert "content" not in line, line
        assert "path" in line and "length" in line, line


def test_fanout_only_below_one_scan_split(spark, sf_dir):
    """load_table_fanned round-robins a table that fits in one scan split
    (``spark.sql.files.maxPartitionBytes``) to ``defaultParallelism``
    partitions, and leaves a table larger than the split as scanned."""
    from data_pipeline_with_spark_kafka_spark.sources.tables import load_table_fanned

    def plan() -> str:
        df = load_table_fanned(spark, sf_dir, "documents")
        return df._jdf.queryExecution().executedPlan().toString()

    n = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({n})" in plan()
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    size = os.path.getsize(os.path.join(sf_dir, "documents.parquet"))
    spark.conf.set(key, str(size - 1))
    try:
        assert "RoundRobinPartitioning" not in plan()
    finally:
        spark.conf.set(key, saved)


def test_table_row_count_reads_partitioned_layout(spark, sf_dir, tmp_path):
    """A partitionBy table has no top-level part files; the footer count
    must still see every row (it drives the > 4096 guard decision)."""
    docs = load_table(spark, sf_dir, "documents")
    docs.write.partitionBy("lang").parquet(str(tmp_path / "documents.parquet"))
    assert table_row_count(str(tmp_path), "documents") == docs.count()
    assert load_table(spark, str(tmp_path), "documents").count() == docs.count()


def test_rewritten_table_rebuilds_memoized_artifacts(spark, sf_dir, tmp_path):
    """Memo keys pin content, not paths: after documents.parquet is
    rewritten in place, the same session must re-read the table and
    retrain the BPE merges, matching a build from an empty memo."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data_pipeline_with_spark_kafka_spark.queries import all_queries
    from data_pipeline_with_spark_kafka_spark.sources import memo

    corpus = str(tmp_path)
    path = os.path.join(corpus, "documents.parquet")
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(docs, path)
    encode = all_queries()["llm_bpe_encode"].builder

    def build():
        return (
            sorted(encode(spark, corpus).collect()),
            load_table(spark, corpus, "documents").count(),
        )

    before = build()
    # Reversed text: different pair statistics, so different merges.
    text = docs.column_names.index("text")
    docs = docs.set_column(text, "text", pc.utf8_reverse(docs.column("text")))
    pq.write_table(docs.slice(0, docs.num_rows - 1), path)
    after = build()
    memo.clear(spark)
    assert after == build()
    assert after != before
    assert after[1] == docs.num_rows - 1
