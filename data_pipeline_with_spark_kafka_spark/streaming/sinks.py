"""Streaming sinks with explicit delivery semantics, and the one
crash-safe way this package replaces a parquet target.

The reference's sink is named "upsert" but does ``mode("append")`` under
``outputMode("update")`` (``spark_consumer_kafka.py:131-157``): every
re-emission of a revised window collides with the MySQL primary key
``(window_start, location)`` (``README.md:81``). It also executes each
batch three times (``isEmpty`` + two ``count()``).

Every foreachBatch handler in ``streaming/`` follows one rule,
``materialized``: the micro-batch's plan (source scan, parse, state-store
restore and commit, dim join) executes exactly once, and an empty batch
is skipped without a write. The handler persists what it reads more than
once, probes emptiness on that cache, and always releases it.

Every writer that rewrites a parquet target (the keyed-upsert sink, and
the CLI's ``maintain``, ``maintain-incremental`` and ``erase``) goes
through ``replace``; every reader of such a target that must not see a
half-swapped one calls ``recover`` first. ``replace`` writes
``<target>.tmp-<tag>``, renames the old target aside to
``<target>.old-<tag>``, renames the new one in and deletes the backup.
A crash at any step leaves siblings that ``recover`` resolves: a backup
whose target is missing is restored, stale backups and tmp outputs are
deleted, and a target missing with only a tmp output left is refused
(nothing shows whether that output is complete). ``replace`` itself
first deletes the target's tmp outputs, which no committed state refers
to, so a crash during the very first write of a target replays too.

``keyed_upsert_parquet`` adds, per batch:

- idempotent delete+insert by key into a parquet "table": re-emitted
  windows and epoch replays (at-least-once foreachBatch) converge to one
  row per key. For a JDBC target the same shape becomes staging-table
  MERGE / DELETE+INSERT in one transaction;
- a rewritten target of ``ceil(target bytes / spark.sql.files.
  maxPartitionBytes)`` files (at least one), so its file count follows
  its size, not the batch's partitioning.

A trigger rewrites the whole target, so its cost is O(target), not
O(batch). At scale the upsert target should be a transactional table
format (Delta/Iceberg MERGE), or copy-on-write of only the files a batch
touches; the parquet swap keeps the exact semantics testable with no
extra dependency, and the tests pin the contract down: idempotency under
replay, latest write wins, no row lost to a crash mid-swap.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


@contextmanager
def materialized(df: DataFrame) -> Iterator[DataFrame | None]:
    """Cache ``df`` for the block; yield it, or ``None`` if it is empty.

    The emptiness probe fills the cache the block then reads, so it is
    the plan's one execution, not an extra one. ``df`` is unpersisted on
    exit, also when the block raises."""
    df.persist()
    try:
        yield None if df.count() == 0 else df
    finally:
        df.unpersist()


def _remove(path: str) -> None:
    shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)


def _siblings(target: str, kind: str) -> list[str]:
    return sorted(glob.glob(glob.escape(target) + f".{kind}-*"))


def recover(target: str) -> list[str]:
    """Resolve what an interrupted ``replace`` of ``target`` left behind
    and return notes of the actions taken.

    - target missing, ``.old-*`` backup present (crash between the two
      renames): the backup is restored;
    - ``.old-*`` next to a present target (crash before the backup was
      deleted) and ``.tmp-*`` outputs (crash before the rename-in): they
      are deleted;
    - target missing with only ``.tmp-*`` outputs: raises, since nothing
      shows whether the output is complete.

    ``target`` may be a parquet directory or a single parquet file."""
    target = os.path.normpath(target)
    notes: list[str] = []
    olds, tmps = _siblings(target, "old"), _siblings(target, "tmp")
    if not os.path.exists(target):
        if olds:
            os.rename(olds[0], target)
            notes.append(f"restored {target} from interrupted-swap backup {olds[0]}")
            olds = olds[1:]
        elif tmps:
            raise RuntimeError(
                f"{target} is missing and only tmp sibling(s) {tmps} remain "
                f"from an interrupted swap; refusing to guess — inspect and "
                f"rename the completed tmp into place manually"
            )
    for leftover in olds + tmps:
        _remove(leftover)
        notes.append(f"removed interrupted-swap leftover {leftover}")
    return notes


def _settle(target: str) -> None:
    """Delete the target's ``.tmp-*`` outputs, which belong to writes that
    never committed, then ``recover`` it."""
    for tmp in _siblings(target, "tmp"):
        _remove(tmp)
    recover(target)


def replace(df: DataFrame, target: str) -> None:
    """Write ``df`` as the new ``target`` without a window in which the
    target is missing or half-written: write a tmp sibling, rename the
    old target aside, rename the tmp in, then delete the backup. If the
    rename-in fails (cross-mount, permissions), the old target is put
    back before the error propagates. ``target`` may be a parquet
    directory or a single parquet file. The target is ``_settle``d first,
    so a crash during its first write, which leaves only a tmp output,
    does not block the rewrite that regenerates it."""
    target = os.path.normpath(target)
    _settle(target)
    tag = uuid.uuid4().hex[:8]
    tmp, backup = f"{target}.tmp-{tag}", f"{target}.old-{tag}"
    df.write.mode("overwrite").parquet(tmp)
    had_old = os.path.exists(target)
    if had_old:
        os.rename(target, backup)
    try:
        os.rename(tmp, target)
    except OSError:
        if had_old:
            os.rename(backup, target)
        raise
    if had_old:
        _remove(backup)


def _target_files(spark, target_dir: str) -> int:
    """File count for a rewritten target: its parquet bytes on disk over
    ``spark.sql.files.maxPartitionBytes``, at least one."""
    size = sum(
        os.path.getsize(os.path.join(target_dir, f))
        for f in os.listdir(target_dir)
        if f.endswith(".parquet")
    )
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return max(1, math.ceil(size / split))


def keyed_upsert_parquet(target_dir: str, key_cols: list[str]):
    """foreachBatch callback factory: MERGE-by-key into a parquet dir.

    Keeps exactly one row per key: existing rows whose key collides with
    the incoming batch are replaced; epoch replays are no-ops.
    """
    target_dir = os.path.normpath(target_dir)

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # Dedup within the batch first so a single epoch emitting a key
        # twice (update-mode re-emission inside one batch window) still
        # lands one row; the anti-join and the union both read its cache.
        with materialized(batch_df.dropDuplicates(key_cols)) as incoming:
            if incoming is None:
                return
            # The merge reads the target: resolve a crashed swap first.
            _settle(target_dir)
            merged, n_files = incoming, 1
            if os.path.isdir(target_dir):
                existing = spark.read.parquet(target_dir)
                kept = existing.join(incoming.select(*key_cols), key_cols, "left_anti")
                merged = kept.unionByName(incoming)
                n_files = _target_files(spark, target_dir)
            replace(merged.coalesce(n_files), target_dir)

    return upsert

