"""Continuous NEAR-dup-deduplicated corpus ingest (foreachBatch).

The batch operator suite already has every piece of the 100-TB ingest
loop — exact-fingerprint anti-join (`incremental.incremental_novel`),
the persisted MinHash band index probe (`incremental.incremental_near_dups`),
and the index builder (`incremental.corpus_near_index`). This module
composes them into the CONTINUOUS form: a `foreachBatch` sink where each
micro-batch

1. probes the PERSISTED index relations (fingerprints, band index,
   shingle sets) — never the corpus text;
2. admits only docs that are exact-novel AND near-novel vs everything
   admitted before (including earlier micro-batches);
3. appends the admitted docs and EXTENDS all three index relations, so
   the stream dedups against its own history, not just the initial
   corpus.

Crash-safety / replay idempotence (the same discipline as the keyed
upsert sink): every write is an OVERWRITE of an ``epoch=<id>``
partition directory, and the probe reads the index with
``epoch != current_epoch`` — a partition-pruned filter — so a replayed
epoch neither sees its own partial writes (which would make every doc a
"dup of itself" and admit nothing) nor double-appends. Crash between the
four writes -> the replay overwrites all four; the final state is
byte-identical to a clean run (pytest: kill-between-writes replay test).

At scale each relation is a plain parquet table: fingerprints are 16
bytes/doc, bands are BANDS rows/doc, shingle sets are the only
content-proportional one (written once per admitted doc, read only for
bucket COLLISIONS — the band equi-join keeps the probe sparse).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_with_spark_kafka_spark.operators.incremental import (
    corpus_near_index,
    fingerprints,
    incremental_near_dups,
)
from data_pipeline_with_spark_kafka_spark.streaming.sinks import materialized

BASE_EPOCH = -1


class NearDupIngest:
    """foreachBatch handler maintaining a near-dup-free corpus + its index."""

    def __init__(
        self,
        index_dir: str,
        admitted_dir: str,
        *,
        id_col: str = "doc_id",
        content_col: str = "text",
        k: int = 3,
        threshold: float = 0.8,
    ) -> None:
        self.index_dir = index_dir
        self.admitted_dir = admitted_dir
        self.id_col = id_col
        self.content_col = content_col
        self.k = k
        self.threshold = threshold

    # -- index bootstrap ----------------------------------------------------
    @classmethod
    def initialize(
        cls,
        corpus: DataFrame,
        index_dir: str,
        admitted_dir: str,
        *,
        id_col: str = "doc_id",
        content_col: str = "text",
        k: int = 3,
        threshold: float = 0.8,
    ) -> "NearDupIngest":
        """Seed the persisted index from the already-curated corpus
        (epoch=-1). The corpus must be non-empty — parquet cannot carry a
        zero-file schema, and an ingest with no prior corpus should start
        from its first micro-batch via an explicit 1-doc seed instead."""
        if not corpus.take(1):
            raise ValueError("initialize() needs a non-empty corpus (seed at least one doc)")
        sink = cls(
            index_dir,
            admitted_dir,
            id_col=id_col,
            content_col=content_col,
            k=k,
            threshold=threshold,
        )
        bands, sets = corpus_near_index(corpus, id_col, content_col, k=k)
        sink._write_epoch(
            BASE_EPOCH,
            fps=fingerprints(corpus, id_col, content_col).select("fp", "fp2"),
            bands=bands,
            sets=sets,
            admitted=None,
        )
        return sink

    def _write_epoch(self, epoch_id: int, *, fps, bands, sets, admitted) -> None:
        fps.write.mode("overwrite").parquet(os.path.join(self.index_dir, "fps", f"epoch={epoch_id}"))
        bands.write.mode("overwrite").parquet(os.path.join(self.index_dir, "bands", f"epoch={epoch_id}"))
        sets.write.mode("overwrite").parquet(os.path.join(self.index_dir, "sets", f"epoch={epoch_id}"))
        if admitted is not None:
            admitted.write.mode("overwrite").parquet(
                os.path.join(self.admitted_dir, f"epoch={epoch_id}")
            )

    def _read_index(self, spark, name: str, epoch_id: int) -> DataFrame:
        # epoch is a partition column inferred from the directory layout;
        # the != filter prunes the replayed epoch's own partial writes at
        # the file-index level (never scanned).
        return (
            spark.read.parquet(os.path.join(self.index_dir, name))
            .filter(F.col("epoch") != epoch_id)
            .drop("epoch")
        )

    # -- the micro-batch hook -----------------------------------------------
    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        # the fingerprints and the semi-join below both read the batch
        with materialized(batch_df) as batch:
            if batch is not None:
                self._ingest(batch, epoch_id)

    def _ingest(self, batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        known_fps = self._read_index(spark, "fps", epoch_id)
        corpus_bands = self._read_index(spark, "bands", epoch_id)
        corpus_sets = self._read_index(spark, "sets", epoch_id)

        # exact tier: within-batch min-id keeper + anti-join vs the
        # persisted fingerprint relation (the corpus text is never read)
        batch_fp = fingerprints(batch_df, self.id_col, self.content_col)
        novel_fp = batch_fp.join(known_fps, ["fp", "fp2"], "left_anti")
        keeper = novel_fp.groupBy("fp", "fp2").agg(F.min(self.id_col).alias(self.id_col))
        exact_novel = batch_df.join(keeper.select(self.id_col), self.id_col, "left_semi").persist()

        try:
            near = incremental_near_dups(
                exact_novel,
                corpus_bands,
                corpus_sets,
                self.id_col,
                self.content_col,
                k=self.k,
                threshold=self.threshold,
            )
            near_ids = near.select(F.col("batch_doc").alias(self.id_col)).distinct()
            admitted = exact_novel.join(near_ids, self.id_col, "left_anti").persist()

            new_bands, new_sets = corpus_near_index(
                admitted, self.id_col, self.content_col, k=self.k
            )
            self._write_epoch(
                int(epoch_id),
                fps=fingerprints(admitted, self.id_col, self.content_col).select("fp", "fp2"),
                bands=new_bands,
                sets=new_sets,
                admitted=admitted,
            )
            admitted.unpersist()
        finally:
            exact_novel.unpersist()

    # -- read-side helpers ----------------------------------------------------
    def admitted(self, spark) -> DataFrame:
        """All docs admitted so far (every epoch)."""
        return spark.read.parquet(self.admitted_dir).drop("epoch")
