"""binaryFile media-directory ingest audit (SURVEY §2.1 binaryFile source).

The multimodal stack's ingest edge is ``sources/readers.py::binary_file_source``
— Spark's built-in ``binaryFile`` format over a raw media directory (the
reference's capability surface has no media ingest at all; this is part of
the [EXT] training-data-pipeline north star). This module gives that edge a
REGISTERED, ORACLED query instead of pytest-only coverage: a metadata-only
per-extension audit (file count / byte sum / max size / how many pass the
status-level size skip) over the committed fixture directory
``fixtures/media`` (tools/gen_media_fixture.py), mirrored in DuckDB over the
committed listing snapshot ``fixtures/media_listing.parquet``.
tests/test_sources.py pins snapshot == fresh directory listing, so the two
sides audit the same bytes.

Scale notes: only (path, length) are selected, so the columnar binaryFile
reader never materializes ``content`` (whole-file bytes) — the audit reads
file STATUS, not file data; the per-extension rollup is bounded by the
number of distinct extensions, and the one shuffle is on that tiny key.
At 100 TB of media this query costs a directory listing, not a data scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.queries.registry import register
from data_pipeline_with_spark_kafka_spark.sources.readers import binary_file_source
from data_pipeline_with_spark_kafka_spark.sources.tables import FIXTURES_DIR

_MEDIA_DIR = os.path.join(FIXTURES_DIR, "media")
# The status-level skip limit used by the ingest audit: media larger than
# this would be excluded from decode by binary_file_source(max_bytes=...)
# before any byte is read (fixtures/media contains one 3126-byte BMP so the
# skip column is non-trivial).
MEDIA_MAX_BYTES = 2048

_AUDIT_ORACLE = f"""
SELECT
  ext,
  CAST(COUNT(*) AS BIGINT) AS file_count,
  CAST(SUM(length) AS BIGINT) AS total_bytes,
  CAST(MAX(length) AS BIGINT) AS max_bytes,
  CAST(SUM(CASE WHEN length <= {MEDIA_MAX_BYTES} THEN 1 ELSE 0 END) AS BIGINT)
    AS ingestible_files
FROM read_parquet('{FIXTURES_DIR}/media_listing.parquet')
GROUP BY ext
ORDER BY ext
"""


@register("media_ingest_audit", oracle=_AUDIT_ORACLE, tags=("multimodal", "source"))
def media_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-extension audit of a raw media directory via the binaryFile
    source: file count, byte totals, and how many files pass the
    status-level ``max_bytes`` ingest skip — the pre-flight a 100-TB media
    compaction job runs before committing to a decode pass. Metadata-only:
    ``content`` is never selected, so no file body is read."""
    df = binary_file_source(spark, _MEDIA_DIR)
    meta = df.select(
        F.element_at(F.split(F.col("path"), r"\."), -1).alias("ext"),
        F.col("length"),
    )
    return (
        meta.groupBy("ext")
        .agg(
            F.count(F.lit(1)).alias("file_count"),
            F.sum("length").cast("bigint").alias("total_bytes"),
            F.max("length").cast("bigint").alias("max_bytes"),
            F.sum(
                F.when(F.col("length") <= MEDIA_MAX_BYTES, 1).otherwise(0)
            ).cast("bigint").alias("ingestible_files"),
        )
        .orderBy("ext")
    )
