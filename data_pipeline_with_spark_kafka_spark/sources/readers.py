"""Source/sink builders beyond the parquet catalog (SURVEY.md §2.1-2.2).

- CSV batch source with an explicit schema (ref S3/S4: the producer's
  HTTP-fetched CSV, ``kafka_producer.py:21-34,61-67`` — engine-side the
  fetch is an ingest concern; the parse is ``spark.read.csv``).
- JDBC source/sink builders (ref S2/K2: the MySQL dim load and result
  write, ``spark_consumer_kafka.py:28-35,138-146``). Config-only here (no
  database in this environment); the partitioned-read options are the
  100 TB-relevant part: a single-connection JDBC scan cannot feed a
  cluster.
- Kafka payload (de)serialization (ref K4: producer's JSON dict per row,
  ``kafka_producer.py:41-52,79-88``): ``to_json(struct(*))`` produces the
  wire bytes engine-side, vectorized — not a Python loop with a blocking
  ack per message (the reference's ~100 msg/s ceiling); the
  missing-connector error of either direction gets one remediation
  message (``kafka_connector_hint``).
- Row validation (ref P7, ``kafka_producer.py:69-77``): essential-field
  drop + numeric coercion with 0-default, as one declarative transform.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def csv_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    *,
    header: bool = True,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """CSV scan with an explicit schema (no inference job — at 100 TB a
    schema-inference pre-pass reads the data twice)."""
    reader = spark.read.schema(schema).option("header", str(header).lower())
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.csv(path)


def binary_file_source(
    spark: SparkSession,
    path: str,
    *,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw-media directory scan via Spark's built-in ``binaryFile``
    format: one row per file with (path, modificationTime, length,
    content binary) — the ingest edge of the multimodal stack
    (operators/multimodal.py decodes the ``content`` column exactly like
    a parquet-stored media blob).

    Scale notes: ``pathGlobFilter`` prunes by NAME before any byte is
    read; ``max_bytes`` pushes a ``length``-predicate that binaryFile
    evaluates from file STATUS (skip-before-read — oversized media never
    enters the scan); files are split-proof (one file = one row), so
    partitioning is by file, which is what you want for whole-file
    decoders. For billions of small files, compact into parquet blobs
    first (this source is the one that does that compaction read)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def write_batch(
    df: DataFrame,
    path: str,
    *,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Batch file sink (parquet/orc/json/csv). ``partition_by`` produces
    hive-style directories so downstream filters on those columns prune
    whole directories before any file is opened."""
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def jdbc_source(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC scan. For anything bigger than a dim table, pass the
    partition_column/bounds/num_partitions quartet so the scan parallelizes
    across executors (the reference reads its 8-row dim on one connection,
    which is fine — for a fact table it is not)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


def jdbc_sink(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    properties: dict[str, str] | None = None,
    max_connections: int = 8,
) -> None:
    """JDBC write with bounded connection count: coalesce before the write
    so a 1000-task stage does not open 1000 database connections."""
    writer = (
        df.coalesce(max_connections)
        .write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .mode(mode)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()


def upsert_dialect_for_url(url: str) -> str:
    """Map a JDBC URL to the upsert dialect ``build_upsert_sql`` speaks.

    MySQL (the reference's actual target, ``spark_consumer_kafka.py:12-15,
    138-146``) has no ``MERGE`` statement — its native idempotent-write
    form is ``INSERT ... ON DUPLICATE KEY UPDATE``. Everything else we
    target (Derby, Postgres 15+, SQL Server, Oracle) speaks SQL:2003
    ``MERGE``."""
    return "mysql" if url.lower().startswith("jdbc:mysql:") else "merge"


def build_upsert_sql(
    table: str, staging: str, cols: list[str], key_cols: list[str], *, dialect: str
) -> str:
    """The one statement that folds a staging table into the target keyed
    on ``key_cols``. Pure string-builder so the MySQL branch is unit-testable
    without a MySQL server in the environment.

    Identifier quoting mirrors Spark's JDBC writer exactly: the dbtable
    name passes through UNQUOTED (the database case-normalizes it; Derby
    uppercases, MySQL is filesystem-cased), while COLUMN names are
    dialect-quoted at CREATE time and so must be quoted (case-exact) here —
    double quotes for ANSI MERGE targets, backticks for MySQL (matching
    Spark's ``MySQLDialect.quoteIdentifier``).
    """
    val_cols = [c for c in cols if c not in key_cols]
    if dialect == "mysql":
        q = lambda c: f"`{c}`"  # noqa: E731
        insert_cols = ", ".join(q(c) for c in cols)
        select_vals = ", ".join(f"s.{q(c)}" for c in cols)
        if not val_cols:
            # Nothing to update when every column is part of the key:
            # INSERT IGNORE keeps existing rows and inserts missing ones.
            return f"INSERT IGNORE INTO {table} ({insert_cols}) SELECT {select_vals} FROM {staging} s"
        # INSERT..SELECT form: the SELECT alias is visible in the ODKU
        # clause (MySQL 8 manual, "INSERT ... ON DUPLICATE KEY UPDATE"),
        # so s.`col` refers to the staging row — the VALUES() function is
        # deprecated in 8.0.20+. Requires the target's PRIMARY/UNIQUE key
        # to be exactly key_cols (the reference's DDL declares it,
        # README.md:74-92).
        set_clause = ", ".join(f"{q(c)} = s.{q(c)}" for c in val_cols)
        return (
            f"INSERT INTO {table} ({insert_cols}) SELECT {select_vals} FROM {staging} s "
            f"ON DUPLICATE KEY UPDATE {set_clause}"
        )
    if dialect == "merge":
        on = " AND ".join(f't."{k}" = s."{k}"' for k in key_cols)
        set_clause = ", ".join(f't."{c}" = s."{c}"' for c in val_cols)
        insert_cols = ", ".join(f'"{c}"' for c in cols)
        insert_vals = ", ".join(f's."{c}"' for c in cols)
        return (
            f"MERGE INTO {table} t USING {staging} s ON {on} "
            + (f"WHEN MATCHED THEN UPDATE SET {set_clause} " if set_clause else "")
            + f"WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
        )
    raise ValueError(f"unknown upsert dialect: {dialect!r}")


def jdbc_keyed_upsert(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    *,
    properties: dict[str, str] | None = None,
    max_connections: int = 8,
    staging_suffix: str = "_staging",
    dialect: str | None = None,
) -> None:
    """Idempotent keyed upsert into a JDBC table: bulk-write the batch to a
    staging table (cluster-parallel, bounded connections), then one
    transactional set-statement from staging into the target on the key —
    SQL:2003 ``MERGE`` where available, ``INSERT ... ON DUPLICATE KEY
    UPDATE`` on MySQL (auto-detected from the URL; override via
    ``dialect=``).

    This is the sink the reference NEEDED: its "upsert" is a plain append
    under ``outputMode("update")`` (``spark_consumer_kafka.py:131-157``),
    so every re-emitted window collides with the target's primary key. A
    staging-table upsert makes window re-emissions and epoch replays
    converge — the JDBC analog of ``streaming/sinks.keyed_upsert_parquet``
    (wire via ``foreachBatch`` for streaming).

    Only the row-moving write is distributed — the fold is one statement
    executed on the database, where it belongs.
    """
    if not _jdbc_table_exists(df, url, table, properties):
        # First batch bootstraps the target (same as the parquet sink's
        # "no dir yet" path); dedup within the batch so a key emitted twice
        # in one epoch still lands once.
        jdbc_sink(
            df.dropDuplicates(key_cols), url, table,
            mode="append", properties=properties, max_connections=max_connections,
        )
        return
    staging = f"{table}{staging_suffix}"
    # Dedup within the batch first: both MERGE (ANSI "attempt to update a
    # row more than once") and ODKU (last-dup-wins nondeterminism) misbehave
    # when two source rows hit the same target row.
    jdbc_sink(
        df.dropDuplicates(key_cols), url, staging,
        mode="overwrite", properties=properties, max_connections=max_connections,
    )
    sql = build_upsert_sql(
        table, staging, df.columns, key_cols,
        dialect=dialect or upsert_dialect_for_url(url),
    )
    _execute_jdbc_statement(df, url, sql, properties)


def _jdbc_table_exists(
    df: DataFrame, url: str, table: str, properties: dict[str, str] | None
) -> bool:
    """Existence probe: an unquoted single-row SELECT, so the name resolves
    under the database's own case normalization — exactly how Spark's
    writer created it (metadata getTables() is exact-match and misses
    e.g. Derby's uppercase-folded storage of unquoted names).

    Only genuine table-not-found SQLStates map to False; anything else
    (connection refused, auth failure, driver missing) re-raises —
    otherwise a transient outage would silently demote the keyed MERGE
    upsert to a duplicate-inserting bootstrap append."""
    try:
        _execute_jdbc_statement(
            df, url, f"SELECT 1 FROM {table} FETCH FIRST 1 ROWS ONLY", properties
        )
        return True
    except Exception as exc:
        # Derby 42X05 ("Table/View does not exist"); MySQL/SQLServer 42S02;
        # Postgres 42P01 ("undefined_table"); ODBC-style S0002.
        not_found = {"42X05", "42S02", "42P01", "S0002"}
        je = getattr(exc, "java_exception", None)
        while je is not None:
            try:
                state = je.getSQLState()
            except Exception:
                state = None
            if state in not_found:
                return False
            je = je.getCause()
        raise


def _execute_jdbc_statement(
    df: DataFrame, url: str, sql: str, properties: dict[str, str] | None
) -> None:
    """Run one SQL statement on the JDBC target through the driver JVM
    (java.sql.DriverManager via the py4j gateway — no extra dependency).
    Used for the MERGE step of ``jdbc_keyed_upsert``; everything
    row-volume-shaped goes through the distributed writer, never here."""
    jvm = df.sparkSession.sparkContext._jvm
    driver = (properties or {}).get("driver")
    if driver:
        jvm.java.lang.Class.forName(driver)
    props = jvm.java.util.Properties()
    for k, v in (properties or {}).items():
        if k != "driver":
            props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        stmt = conn.createStatement()
        try:
            stmt.execute(sql)  # execute(), not executeUpdate(): valid for both DML and the probe SELECT
        finally:
            stmt.close()
    finally:
        conn.close()


def to_kafka_payload(df: DataFrame, *, key_col: str | None = None) -> DataFrame:
    """Serialize every row to a Kafka-ready (key, value) pair:
    ``value = to_json(struct(*))``. Writing is then
    ``payload.write.format("kafka")...`` (batch) or ``writeStream`` —
    vectorized JVM-side serialization, no per-row Python."""
    cols = [F.to_json(F.struct(*df.columns)).alias("value")]
    if key_col is not None:
        cols.insert(0, F.col(key_col).cast("string").alias("key"))
    return df.select(*cols)


def from_kafka_payload(raw: DataFrame, schema: T.StructType | str) -> DataFrame:
    """Inverse of ``to_kafka_payload`` for the consumer side (ref
    ``spark_consumer_kafka.py:65-66``): CAST(value AS STRING) -> from_json
    -> flatten. The flatten is ``inline`` of a one-element array, so the
    parse sits in a Generate: the optimizer cannot push a filter on one
    field below it as a single-field ``from_json`` of its own, and each
    value is parsed once. A NULL or malformed value gives a row of NULLs,
    as ``select("data.*")`` would."""
    return raw.select(F.inline(F.array(F.from_json(F.col("value").cast("string"), schema))))


# The condition of "Failed to find data source: kafka", which Spark raises
# for format("kafka") without the connector on the classpath.
_CONNECTOR_MISSING = "_LEGACY_ERROR_TEMP_1140"


@contextmanager
def kafka_connector_hint(spark: SparkSession, alternative: str) -> Iterator[None]:
    """Turn the missing-Kafka-connector failure inside the block (an
    AnalysisException whose condition is ``_CONNECTOR_MISSING``) into a
    RuntimeError naming the ``--packages`` coordinate for this Spark
    and Scala version, followed by ``alternative``; any other error, a
    broker that cannot be reached included, propagates unchanged."""
    try:
        yield
    except AnalysisException as exc:
        if exc.getCondition() != _CONNECTOR_MISSING:
            raise
        scala = spark.sparkContext._jvm.scala.util.Properties.versionNumberString()
        scala_bin = ".".join(scala.split(".")[:2])
        raise RuntimeError(
            "Kafka connector not on the classpath. Launch with "
            f"--packages org.apache.spark:spark-sql-kafka-0-10_{scala_bin}:"
            f"{spark.version}, or {alternative}"
        ) from exc


def validate_rows(
    df: DataFrame,
    *,
    essential: list[str],
    coerce_int_default_zero: list[str] = (),
) -> DataFrame:
    """The producer's row guard (``kafka_producer.py:69-77``) as one
    transform: drop rows missing any essential field; coerce numeric
    strings through double->int with a 0 default (``int(float(x))`` else 0)."""
    out = df
    for c in coerce_int_default_zero:
        # try_cast (not cast): under ANSI mode a malformed numeric throws;
        # the reference's semantics are "unparseable -> 0".
        out = out.withColumn(
            c, F.coalesce(F.col(c).try_cast("double").try_cast("int"), F.lit(0))
        )
    cond = None
    for c in essential:
        this = F.col(c).isNotNull()
        cond = this if cond is None else (cond & this)
    return out.filter(cond) if cond is not None else out
