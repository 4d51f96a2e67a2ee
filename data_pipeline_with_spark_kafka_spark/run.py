"""Runnable pipeline entry points (``python -m data_pipeline_with_spark_kafka_spark.run``).

The reference ships two runnables the engine was missing as CLIs:

- the producer script (``kafka_producer.py:21-110``): HTTP CSV fetch ->
  per-row validation loop -> JSON publish with acks=all/retries — here the
  ``produce`` subcommand: fetch -> ``validate_rows`` (one declarative
  transform, not a Python loop) -> ``to_kafka_payload`` -> Kafka, or a
  file-stream dir of JSON micro-batch files when no broker exists;
- the Airflow DAG's spark-submit (``spark_consumer_dag.py:26-46``) — here
  the ``consume`` subcommand: Kafka or file-stream source -> windowed
  enrichment -> idempotent keyed-upsert parquet; and ``e2e`` which chains
  produce -> consume file-based end-to-end (what the DAG orchestrates,
  minus the broker).

Throughput note: the reference producer publishes one message per
``future.get()`` round-trip (~100 msg/s ceiling). ``to_kafka_payload``
serializes JVM-side and the Kafka batch writer ships whole partitions —
the same extract step is cluster-parallel here.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.session import get_spark
from data_pipeline_with_spark_kafka_spark.sources.readers import (
    csv_source,
    kafka_connector_hint,
    to_kafka_payload,
    validate_rows,
)
from data_pipeline_with_spark_kafka_spark.streaming.covid_pipeline import (
    DIM_SCHEMA,
    parse_events,
    read_events,
    windowed_enrichment,
)
from data_pipeline_with_spark_kafka_spark.streaming.sinks import (
    keyed_upsert_parquet,
    recover,
    replace,
)

# The producer-side wire schema: everything arrives as strings (the
# reference reads csv.DictReader rows) and is validated/coerced as one
# declarative transform.
PRODUCER_CSV_SCHEMA = (
    "event_time string, location string, new_cases string, total_cases string"
)


def _fetch_csv(input_uri: str) -> str:
    """Resolve the input to a local CSV path. http(s):// is fetched once to
    a temp file (the reference's ``get_covid_data_from_api``, including the
    utf-8-sig BOM strip); file:// and bare paths are used in place."""
    if input_uri.startswith(("http://", "https://")):
        with urllib.request.urlopen(input_uri) as resp:  # noqa: S310 - explicit user-provided URL
            text = resp.read().decode("utf-8-sig")
        fd, path = tempfile.mkstemp(suffix=".csv", prefix="fetched-")
        with os.fdopen(fd, "w") as f:
            f.write(text)
        return path
    return input_uri.removeprefix("file://")


def build_producer_frame(spark: SparkSession, csv_path: str) -> DataFrame:
    """fetch -> validate -> kafka payload, all engine-side.

    Parity with ``kafka_producer.py:69-88``: rows missing event-time or
    location are dropped; numeric fields coerce through double->int with a
    0 default ('' and malformed -> 0, as ``int(float(x)) if x.strip()``)."""
    raw = csv_source(spark, csv_path, PRODUCER_CSV_SCHEMA)
    validated = validate_rows(
        raw,
        essential=["event_time", "location"],
        coerce_int_default_zero=["new_cases", "total_cases"],
    )
    return to_kafka_payload(validated, key_col="location")


def cmd_produce(spark: SparkSession, args: argparse.Namespace) -> None:
    payload = build_producer_frame(spark, _fetch_csv(args.input))
    if args.kafka_servers:
        with kafka_connector_hint(
            spark, "omit --kafka-servers to publish to a file-stream dir instead."
        ):
            (
                payload.write.format("kafka")
                .option("kafka.bootstrap.servers", args.kafka_servers)
                .option("topic", args.topic)
                .save()
            )
        return
    # Broker-less stand-in: one JSON file per micro-batch; the consumer's
    # file-stream source replays them with maxFilesPerTrigger=1.
    (
        payload.select("value")
        .repartition(args.batches)
        .write.mode("overwrite")
        .json(args.output_dir)
    )
    n = len([f for f in os.listdir(args.output_dir) if f.endswith(".json")])
    print(f"produced {n} micro-batch file(s) -> {args.output_dir}")


def cmd_consume(spark: SparkSession, args: argparse.Namespace) -> None:
    # cache(): the static dim is re-read and re-broadcast EVERY micro-batch
    # without it (the reference caches it for exactly this —
    # spark_consumer_kafka.py:42; closes the M1 parity gap). Trivial for a
    # CSV dim, load-bearing for a JDBC dim at scale.
    dim = csv_source(spark, args.dim, DIM_SCHEMA).cache()
    # Against a broker the query runs on the reference's 1-minute cadence;
    # a file-stream dir is drained and the query stops.
    if args.kafka_servers:
        raw = read_events(spark, kafka_servers=args.kafka_servers, topic=args.topic)
        trigger = {"processingTime": args.trigger or "1 minute"}
    else:
        raw = read_events(spark, input_dir=args.input_dir)
        trigger = {"availableNow": True}
    query = (
        windowed_enrichment(dim, audit=True)(parse_events(raw))
        .writeStream.outputMode("update")
        .foreachBatch(keyed_upsert_parquet(args.target, ["window_start", "location"]))
        .option("checkpointLocation", args.checkpoint)
        .trigger(**trigger)
        .start()
    )
    query.awaitTermination(args.timeout if args.timeout > 0 else None)
    if query.isActive:
        query.stop()
    print(f"consumed -> {args.target}")


def cmd_curate(spark: SparkSession, args: argparse.Namespace) -> None:
    """Batch training-data curation: documents parquet in, curated corpus
    out, hive-partitioned by (lang, split) so downstream training readers
    prune at the directory level. The whole pipeline (dedup -> quality
    floor -> PII redaction -> deterministic split) is ONE lazy plan and
    one write action."""
    from data_pipeline_with_spark_kafka_spark.operators.curation import curate_corpus
    from data_pipeline_with_spark_kafka_spark.sources.readers import write_batch

    docs = spark.read.parquet(args.input)
    if getattr(args, "model", None):
        # Learned-scorer pre-filter (the distillation deployment shape):
        # the trained weights fold into one codegen expression over the
        # gopher shape metrics — no Python object ships to executors.
        import json as _json

        from data_pipeline_with_spark_kafka_spark.operators.classifier_train import (
            model_from_json,
            score_expr,
        )
        from data_pipeline_with_spark_kafka_spark.queries.llm_lm_extra import (
            classifier_features,
        )
        from data_pipeline_with_spark_kafka_spark.queries.text_extra import (
            gopher_metrics,
        )

        with open(args.model) as f:
            model = model_from_json(_json.load(f))
        keep = (
            classifier_features(gopher_metrics(docs))
            .select("doc_id", score_expr(model).alias("_p"))
            .filter(F.col("_p") >= args.min_prob)
            .select("doc_id")
        )
        docs = docs.join(keep, "doc_id", "left_semi")
    curated = curate_corpus(docs, min_quality=args.min_quality)
    write_batch(curated, args.target, fmt="parquet", partition_by=["lang", "split"])
    print(f"curated -> {args.target} (partitioned by lang/split)")


def cmd_train_quality(spark: SparkSession, args: argparse.Namespace) -> None:
    """Train the distilled quality classifier on a documents parquet and
    persist the model as a versioned JSON artifact (the offline-training
    half of the DCLM loop; `curate --model` applies it)."""
    import json as _json

    from data_pipeline_with_spark_kafka_spark.operators.classifier_train import (
        model_to_json,
        train_logreg,
    )
    from data_pipeline_with_spark_kafka_spark.queries.llm_lm_extra import (
        _TRAIN_FEATURES,
        classifier_features,
    )
    from data_pipeline_with_spark_kafka_spark.queries.text_extra import gopher_metrics

    docs = spark.read.parquet(args.input)
    feats = classifier_features(gopher_metrics(docs))
    model = train_logreg(feats, _TRAIN_FEATURES, "label", iters=args.iters, lr=args.lr)
    with open(args.model_out, "w") as f:
        _json.dump(model_to_json(model), f, indent=1, sort_keys=True)
        f.write("\n")
    print(
        f"trained on {model.n_rows} docs in {args.iters} iterations: "
        f"final log-loss {model.losses[-1]:.4f} -> {args.model_out}"
    )


def cmd_cluster(spark: SparkSession, args: argparse.Namespace) -> None:
    """Train the package's k-means (per-iteration quantized Lloyd's,
    operators/clustering.kmeans_verified — the loop the emb_kmeans_train
    oracle replays and the in-session IVF quantizer runs) on an
    embeddings parquet and persist centroids + cluster sizes as a
    versioned JSON artifact: the offline-quantizer half of the
    IVF/SemDeDup deployment story, like train-quality is for the
    scorer."""
    import json as _json

    from data_pipeline_with_spark_kafka_spark.operators.clustering import (
        kmeans_verified,
        to_centroid_rows,
    )

    emb = spark.read.parquet(args.input)
    rows = kmeans_verified(
        emb, args.id_col, args.vec_col, k=args.k, iterations=args.iters, seed=args.seed
    )
    if not rows:
        raise SystemExit("no vectors to cluster (empty or all-NULL input)")
    dim = max(r[1] for r in rows) + 1
    cents = dict(to_centroid_rows(rows))
    counts = {cid: n for cid, _d, _v, n in rows}
    artifact = {
        "k": len(cents),
        "dim": dim,
        "iterations": args.iters,
        "seed": args.seed,
        "centroids": {str(c): cents[c] for c in sorted(cents)},
        "cluster_sizes": {str(c): counts[c] for c in sorted(counts)},
    }
    with open(args.centroids_out, "w") as f:
        _json.dump(artifact, f, indent=1, sort_keys=True)
        f.write("\n")
    total = sum(counts.values())
    print(
        f"clustered {total} vectors into {len(cents)} cells "
        f"({args.iters} iterations) -> {args.centroids_out}"
    )


def _recover_noting(target: str, prefix: str = "") -> None:
    for note in recover(target):
        print(f"{prefix}{note}")


def cmd_maintain(spark: SparkSession, args: argparse.Namespace) -> None:
    """Dimension maintenance: apply an update batch (scd2 mode: versioned
    type-2 history) or a CDC I/U/D feed (cdc mode) to a parquet snapshot,
    writing the next snapshot with ``sinks.replace``, the keyed-upsert
    sink's crash-safe swap; a swap an earlier run left half done is
    ``sinks.recover``ed before the snapshot is read."""
    from data_pipeline_with_spark_kafka_spark.operators.scd import cdc_apply, scd2_apply

    _recover_noting(args.snapshot)
    snapshot = spark.read.parquet(args.snapshot)
    batch = spark.read.parquet(args.batch)
    attrs = args.attrs.split(",")
    if args.mode == "scd2":
        from pyspark.sql import functions as F

        out = scd2_apply(snapshot, batch, args.key, attrs, F.lit(args.effective).cast("timestamp"))
    else:
        out = cdc_apply(snapshot, batch, args.key, attrs, op_col=args.op_col, seq_col=args.seq_col)
    replace(out, args.target)
    print(f"{args.mode} maintain: {args.snapshot} + {args.batch} -> {args.target}")


def cmd_maintain_incremental(spark: SparkSession, args: argparse.Namespace) -> None:
    """Ledger-driven dimension maintenance — the deployment loop, one CLI
    invocation per schedule tick (the role the reference delegates to its
    Airflow DAG, ``spark_consumer_dag.py``, done batch-side):

    1. Diff the change feed's partition listing (``--partition-col``,
       e.g. dt) against the ledger — only NEW partitions are even listed
       (``orchestration/incremental_runner.run_incremental``).
    2. Apply them to the current snapshot: cdc mode applies the whole
       pruned feed at once (``--seq-col`` orders within keys); scd2 mode
       applies partitions in order, each partition's value as its
       effective timestamp (a day's updates become versions effective
       that day).
    3. ``sinks.replace`` the snapshot (rename-aside, never destroy-first);
       a swap an earlier run left half done is ``sinks.recover``ed before
       anything is read.
    4. Append the ledger ONLY after the swap — so every crash window
       replays, and replay CONVERGES: scd2_apply/cdc_apply are
       idempotent under re-application (tested), and a crash between
       swap and ledger append just re-applies the same changes to the
       already-updated snapshot.

    No new partitions -> clean no-op (exit without touching anything).
    """
    from pyspark.sql import functions as F

    from data_pipeline_with_spark_kafka_spark.operators.scd import cdc_apply, scd2_apply
    from data_pipeline_with_spark_kafka_spark.orchestration.incremental_runner import (
        run_incremental,
    )

    attrs = args.attrs.split(",")
    _recover_noting(args.snapshot)

    def process(feed, partitions) -> None:
        snapshot = spark.read.parquet(args.snapshot)
        if args.mode == "cdc":
            out = cdc_apply(
                snapshot, feed.drop(args.partition_col), args.key, attrs,
                op_col=args.op_col, seq_col=args.seq_col,
            )
        else:
            out = snapshot
            pcol = F.col(args.partition_col).cast("string")
            for p in sorted(partitions):
                batch = feed.filter(pcol == p).drop(args.partition_col)
                out = scd2_apply(out, batch, args.key, attrs, F.lit(p).cast("timestamp"))
        replace(out, args.snapshot)
        if getattr(args, "crash_after_swap", False):
            raise RuntimeError("injected crash between swap and ledger append")

    handled = run_incremental(
        spark, args.changes, args.partition_col, args.ledger, process
    )
    if handled:
        print(f"{args.mode} maintain-incremental: applied {len(handled)} "
              f"partition(s) {handled} -> {args.snapshot}")
    else:
        print("maintain-incremental: no new partitions — no-op")


def cmd_erase(spark: SparkSession, args: argparse.Namespace) -> None:
    """GDPR right-to-erasure APPLY — the destructive half of the
    ``privacy_erasure_cascade`` audit query: delete the given data
    subjects from every referencing table (customer/orders/events by
    subject key, lineitem transitively via the subjects' orders), each
    table rewritten by ``sinks.replace`` (never a destroy-first window).

    Discipline:
    - the tombstone relations are request-bounded and BROADCAST, so each
      fact table is one scan + broadcast anti-join — no fact shuffle;
    - processing is leaf-first (lineitem before orders): the cascade key
      set is planned lazily against the PRE-erasure parent, and executes
      during the lineitem rewrite while the orders dir is still intact;
    - idempotent: re-running (including resuming after a crash between
      table swaps) erases nothing further — erased keys simply match no
      rows. --dry-run prints the audit counts without rewriting."""
    import os

    from data_pipeline_with_spark_kafka_spark.sources.tables import local_rows, table_row_count

    subjects = [int(s) for s in args.subject_ids.split(",") if s.strip()]
    if not subjects:
        raise SystemExit("erase: --subject-ids is empty")
    sdf = F.broadcast(local_rows(spark, [(s,) for s in subjects], "subject bigint"))
    paths = {
        t: os.path.join(args.data_dir, f"{t}.parquet")
        for t in ("customer", "orders", "lineitem", "events")
    }
    # Before reading anything, repair any interrupted prior run: a crash
    # between replace's two renames leaves a table absent with only
    # .old-/.tmp- siblings, and the os.path.exists() skips below would then
    # silently report success with one table missing (round-8 advice).
    for t, p in paths.items():
        _recover_noting(p, f"{t}: ")
    orders_pre = (
        spark.read.parquet(paths["orders"]) if os.path.exists(paths["orders"]) else None
    )
    tomb_o = (
        F.broadcast(
            orders_pre.join(sdf, orders_pre["o_custkey"] == F.col("subject"), "semi")
            .select(F.col("o_orderkey").alias("subject"))
        )
        if orders_pre is not None
        else None
    )
    plan = [
        ("lineitem", "l_orderkey", tomb_o),
        ("orders", "o_custkey", sdf),
        ("customer", "c_custkey", sdf),
        ("events", "user_id", sdf),
    ]
    for name, key, tomb in plan:
        path = paths[name]
        if tomb is None or not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        before = table_row_count(args.data_dir, name)
        survivors = df.join(tomb, df[key] == tomb["subject"], "anti")
        # One count() against the broadcast anti-join is cheap relative to
        # a full rewrite — so a zero-match table (e.g. the
        # idempotent second run) skips the rewrite entirely, which also
        # preserves single-file parquet fixtures instead of converting
        # them into directories as a side effect (round-8 advice).
        after = survivors.count()
        if args.dry_run:
            note = " (dry-run)"
        elif after == before:
            note = " (no matches — rewrite skipped)"
        else:
            replace(survivors, path)
            after = table_row_count(args.data_dir, name)
            note = ""
        print(f"{name}: {before - after} erased, {after} surviving{note}")


def cmd_e2e(spark: SparkSession, args: argparse.Namespace) -> None:
    args.kafka_servers = None  # e2e is the broker-less path by definition
    args.output_dir = args.stage_dir
    cmd_produce(spark, args)
    args.input_dir = args.stage_dir
    cmd_consume(spark, args)


def cmd_orchestrate(spark: SparkSession, args: argparse.Namespace) -> None:
    """produce -> consume as a retried job DAG — the shape the reference
    delegates to Airflow (``spark_consumer_dag.py:10-15`` default_args:
    retries + retry_delay), scheduler-less: per-job retry with delay,
    downstream skip on failure, attempt records printed per job."""
    from data_pipeline_with_spark_kafka_spark.orchestration import (
        JobSpec,
        RetryPolicy,
        run_dag,
    )

    args.kafka_servers = None
    args.output_dir = args.stage_dir
    policy = RetryPolicy(retries=args.retries, retry_delay_s=args.retry_delay)

    def produce() -> None:
        cmd_produce(spark, args)

    def consume() -> None:
        args.input_dir = args.stage_dir
        cmd_consume(spark, args)

    results = run_dag(
        [
            JobSpec("produce", produce, retry=policy),
            JobSpec("consume", consume, depends_on=("produce",), retry=policy),
        ]
    )
    for r in results.values():
        print(f"{r.name}: {r.state} after {r.attempts} attempt(s)")
    if any(r.state != "success" for r in results.values()):
        raise SystemExit(1)


def cmd_dag(args: argparse.Namespace) -> None:
    """Emit the Airflow DAG file for this pipeline (the deployment artifact
    the reference hand-writes, ``spark_consumer_dag.py``) — generated from
    the same specs the scheduler-less runner uses. No SparkSession needed."""
    from data_pipeline_with_spark_kafka_spark.orchestration import (
        RetryPolicy,
        SparkSubmitSpec,
        airflow_dag_source,
    )

    scala_bin = "2.13"  # Spark 4.x is Scala 2.13-only
    consumer = SparkSubmitSpec(
        application=args.application,
        application_args=(
            "consume",
            "--kafka-servers", args.kafka_servers,
            "--topic", args.topic,
            "--dim", args.dim,
            "--target", args.target,
            "--checkpoint", args.checkpoint,
        ),
        packages=(
            f"org.apache.spark:spark-sql-kafka-0-10_{scala_bin}:{args.spark_version}",
            "com.mysql:mysql-connector-j:8.4.0",
        ),
        executor_cores=1,
        executor_memory="2g",
        driver_memory="1g",
        num_executors=2,
        conf={"spark.sql.shuffle.partitions": "200"},
    )
    source = airflow_dag_source(
        "spark_pipeline_consumer",
        {"submit_consumer": consumer},
        description="Consume events from Kafka, window-aggregate, upsert to the JDBC target.",
        schedule=None,
        retry=RetryPolicy(retries=1, retry_delay_s=300),
        tags=("spark", "kafka", "streaming"),
    )
    if args.out:
        with open(args.out, "w") as f:
            f.write(source)
        print(f"wrote {args.out}")
    else:
        print(source, end="")


def make_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="data_pipeline_with_spark_kafka_spark.run")
    sub = p.add_subparsers(dest="cmd", required=True)

    prod = sub.add_parser("produce", help="fetch CSV -> validate -> publish")
    prod.add_argument("--input", required=True, help="CSV path, file:// or http(s):// URL")
    prod.add_argument("--output-dir", help="file-stream dir (broker-less publish)")
    prod.add_argument("--batches", type=int, default=4, help="micro-batch file count")
    prod.add_argument("--kafka-servers", help="publish to Kafka instead of files")
    prod.add_argument("--topic", default="covid_data")

    cons = sub.add_parser("consume", help="run the streaming pipeline to a keyed-upsert target")
    cons.add_argument("--input-dir", help="file-stream source dir")
    cons.add_argument("--kafka-servers", help="consume from Kafka instead of files")
    cons.add_argument("--topic", default="covid_data")
    cons.add_argument("--dim", required=True, help="dim CSV (location,population,continent)")
    cons.add_argument("--target", required=True, help="upsert parquet dir")
    cons.add_argument("--checkpoint", required=True)
    cons.add_argument("--trigger", help="processingTime trigger for kafka mode")
    cons.add_argument("--timeout", type=int, default=0, help="seconds; 0 = forever (kafka) / drain (files)")

    cur = sub.add_parser("curate", help="documents parquet -> dedup/quality/PII/split -> partitioned parquet")
    cur.add_argument("--input", required=True, help="documents parquet path/dir")
    cur.add_argument("--target", required=True, help="curated output dir")
    cur.add_argument("--min-quality", type=float, default=0.5)
    cur.add_argument("--model", help="trained quality-model JSON (run train-quality first)")
    cur.add_argument("--min-prob", type=float, default=0.5, help="learned-scorer keep threshold")

    trq = sub.add_parser("train-quality", help="train the distilled quality classifier -> model JSON")
    trq.add_argument("--input", required=True, help="documents parquet path/dir")
    trq.add_argument("--model-out", required=True, help="where to write the model JSON")
    trq.add_argument("--iters", type=int, default=30)
    trq.add_argument("--lr", type=float, default=1.0)

    clu = sub.add_parser("cluster", help="train the k-means quantizer -> centroids JSON")
    clu.add_argument("--input", required=True, help="embeddings parquet path/dir")
    clu.add_argument("--centroids-out", required=True, help="where to write the centroids JSON")
    clu.add_argument("--id-col", default="vec_id")
    clu.add_argument("--vec-col", default="embedding")
    clu.add_argument("--k", type=int, default=8)
    clu.add_argument("--iters", type=int, default=5)
    clu.add_argument("--seed", type=int, default=42)

    mnt = sub.add_parser("maintain", help="apply an update batch / CDC feed to a parquet dimension snapshot")
    mnt.add_argument("--mode", choices=["scd2", "cdc"], required=True)
    mnt.add_argument("--snapshot", required=True, help="current snapshot parquet dir")
    mnt.add_argument("--batch", required=True, help="update batch / change feed parquet dir")
    mnt.add_argument("--target", required=True, help="next-snapshot output dir (crash-safe swap)")
    mnt.add_argument("--key", required=True)
    mnt.add_argument("--attrs", required=True, help="comma-separated tracked attribute columns")
    mnt.add_argument("--effective", help="scd2: effective timestamp, e.g. 2024-01-01")
    mnt.add_argument("--op-col", default="op", help="cdc: I/U/D column name")
    mnt.add_argument("--seq-col", help="cdc: per-key ordering column for feed compaction")

    mni = sub.add_parser(
        "maintain-incremental",
        help="ledger-driven maintain: apply only NEW change-feed partitions, swap, then ledger",
    )
    mni.add_argument("--mode", choices=["scd2", "cdc"], required=True)
    mni.add_argument("--snapshot", required=True, help="snapshot parquet dir (swapped in place)")
    mni.add_argument("--changes", required=True, help="partitioned change-feed parquet dir")
    mni.add_argument("--partition-col", default="dt", help="feed partition column (ledger key)")
    mni.add_argument("--ledger", required=True, help="processed-partition ledger parquet dir")
    mni.add_argument("--key", required=True)
    mni.add_argument("--attrs", required=True, help="comma-separated tracked attribute columns")
    mni.add_argument("--op-col", default="op", help="cdc: I/U/D column name")
    mni.add_argument("--seq-col", help="cdc: per-key ordering column for feed compaction")
    mni.add_argument(
        "--crash-after-swap", action="store_true", help=argparse.SUPPRESS
    )  # test hook: die in the swap-done/ledger-pending window

    era = sub.add_parser(
        "erase",
        help="GDPR erasure: delete data subjects across all referencing tables, two-phase",
    )
    era.add_argument("--data-dir", required=True, help="dir holding customer/orders/lineitem/events parquet")
    era.add_argument("--subject-ids", required=True, help="comma-separated customer keys to erase")
    era.add_argument("--dry-run", action="store_true", help="print audit counts, rewrite nothing")

    e2e = sub.add_parser("e2e", help="produce -> consume, file-based, no broker")
    e2e.add_argument("--input", required=True)
    e2e.add_argument("--stage-dir", required=True, help="dir for the produced micro-batch files")
    e2e.add_argument("--batches", type=int, default=4)
    e2e.add_argument("--dim", required=True)
    e2e.add_argument("--target", required=True)
    e2e.add_argument("--checkpoint", required=True)
    e2e.add_argument("--timeout", type=int, default=120)

    orch = sub.add_parser(
        "orchestrate", help="produce -> consume as a retried job DAG (Airflow-parity semantics)"
    )
    orch.add_argument("--input", required=True)
    orch.add_argument("--stage-dir", required=True)
    orch.add_argument("--batches", type=int, default=4)
    orch.add_argument("--dim", required=True)
    orch.add_argument("--target", required=True)
    orch.add_argument("--checkpoint", required=True)
    orch.add_argument("--timeout", type=int, default=120)
    orch.add_argument("--retries", type=int, default=1)
    orch.add_argument("--retry-delay", type=float, default=300.0, help="seconds between attempts")

    dag = sub.add_parser("dag", help="emit the generated Airflow DAG file for the consumer job")
    dag.add_argument("--application", default="/opt/spark/app/run.py")
    dag.add_argument("--kafka-servers", default="kafka:9092")
    dag.add_argument("--topic", default="covid_data")
    dag.add_argument("--dim", default="/opt/spark/app/dim.csv")
    dag.add_argument("--target", default="/data/covid_agg")
    dag.add_argument("--checkpoint", default="/tmp/spark-checkpoint")
    dag.add_argument("--spark-version", default="4.1.2")
    dag.add_argument("--out", help="write the DAG file here (default: stdout)")
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> None:
    args = make_parser().parse_args(argv)
    if args.cmd == "produce" and not (args.output_dir or args.kafka_servers):
        make_parser().error("produce needs --output-dir or --kafka-servers")
    if args.cmd == "consume" and not (args.input_dir or args.kafka_servers):
        make_parser().error("consume needs --input-dir or --kafka-servers")
    if args.cmd == "maintain" and args.mode == "scd2" and not args.effective:
        make_parser().error("maintain --mode scd2 needs --effective")
    if args.cmd == "dag":  # pure codegen — no SparkSession
        cmd_dag(args)
        return
    spark = spark or get_spark("pipeline-cli")
    {
        "produce": cmd_produce,
        "consume": cmd_consume,
        "curate": cmd_curate,
        "train-quality": cmd_train_quality,
        "cluster": cmd_cluster,
        "maintain": cmd_maintain,
        "maintain-incremental": cmd_maintain_incremental,
        "erase": cmd_erase,
        "e2e": cmd_e2e,
        "orchestrate": cmd_orchestrate,
    }[args.cmd](spark, args)


if __name__ == "__main__":
    main(sys.argv[1:])
