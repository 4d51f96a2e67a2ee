"""Tests for the bucketed merge-on-read ledger sink (round 11):
``sinks.bucketed_keyed_upsert_parquet`` + ``sinks.read_keyed_ledger``.

The contract under test is the plain ``keyed_upsert_parquet``'s
(exactly one row per key, latest write wins, replay-idempotent) with a
different cost shape: a trigger pays one delta append (O(batch)), and a
threshold compaction folds deltas into a hash-bucketed base rewriting
only the buckets the delta keys touch. The callback is driven directly
(as foreachBatch would) so batches, replays, and crash points are
scriptable.
"""

from __future__ import annotations

import os

import pytest

from data_pipeline_with_spark_kafka_spark.streaming.sinks import (
    _base_maxv,
    bucketed_keyed_upsert_parquet,
    read_keyed_ledger,
)

SCHEMA = "k long, val string, n long"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _snapshot(spark, target):
    return {
        r["k"]: (r["val"], r["n"])
        for r in read_keyed_ledger(spark, str(target), ["k"]).collect()
    }


def _deltas(target):
    droot = os.path.join(str(target), "delta")
    return sorted(d for d in os.listdir(droot) if d.startswith("d-")) if os.path.isdir(droot) else []


def _buckets(target):
    broot = os.path.join(str(target), "base")
    return sorted(d for d in os.listdir(broot) if d.startswith("__b=")) if os.path.isdir(broot) else []


def test_ledger_merge_latest_wins_and_compacts(spark, tmp_path):
    target = tmp_path / "ledger"
    sink = bucketed_keyed_upsert_parquet(str(target), ["k"], n_buckets=8, compact_every=3)
    sink(_df(spark, [(1, "a", 1), (2, "b", 1)]), 0)
    sink(_df(spark, [(1, "a2", 2), (3, "c", 1)]), 1)
    # two pending deltas, no base yet; reader already merges latest-per-key
    assert len(_deltas(target)) == 2 and not _buckets(target)
    assert _snapshot(spark, target) == {1: ("a2", 2), 2: ("b", 1), 3: ("c", 1)}
    # third delta crosses the threshold -> compaction folds ALL deltas
    sink(_df(spark, [(2, "b2", 2)]), 2)
    assert _deltas(target) == []
    assert len(_buckets(target)) >= 1
    assert _snapshot(spark, target) == {1: ("a2", 2), 2: ("b2", 2), 3: ("c", 1)}
    # in-batch duplicate keys collapse to one row (dropDuplicates)
    sink(_df(spark, [(4, "d", 1), (4, "d", 1)]), 3)
    assert _snapshot(spark, target)[4] == ("d", 1)


def test_ledger_compaction_rewrites_only_touched_buckets(spark, tmp_path):
    """The 100-TB property: a compaction whose deltas touch one bucket
    must not rewrite the others (their directory mtimes/file sets stay
    identical), so a trickle workload never pays O(ledger)."""
    target = tmp_path / "ledger"
    sink = bucketed_keyed_upsert_parquet(str(target), ["k"], n_buckets=16, compact_every=1)
    # compact_every=1: every batch folds immediately -> base-only ledger
    sink(_df(spark, [(k, f"v{k}", 1) for k in range(64)]), 0)
    before = {
        b: sorted(os.listdir(os.path.join(str(target), "base", b)))
        for b in _buckets(target)
    }
    assert len(before) > 1  # 64 hashed keys spread over several buckets
    # one-key batch: exactly the buckets hosting that key may change
    sink(_df(spark, [(7, "v7-new", 2)]), 1)
    after = {
        b: sorted(os.listdir(os.path.join(str(target), "base", b)))
        for b in _buckets(target)
    }
    changed = [b for b in before if after.get(b) != before[b]]
    assert len(changed) <= 1, changed
    snap = _snapshot(spark, target)
    assert snap[7] == ("v7-new", 2) and snap[8] == ("v8", 1) and len(snap) == 64


def test_ledger_replay_and_fresh_run_converge(spark, tmp_path):
    """A replayed epoch lands as a NEWER delta with the same absolute
    rows — the reader converges; a whole fresh run (tokens keep
    rising past the folded base's _MAXV marker) converges too."""
    target = tmp_path / "ledger"
    sink = bucketed_keyed_upsert_parquet(str(target), ["k"], n_buckets=8, compact_every=2)
    batches = [
        [(1, "a", 1), (2, "b", 1)],
        [(1, "a2", 2)],
        [(3, "c", 1)],
    ]
    for i, rows in enumerate(batches):
        sink(_df(spark, rows), i)
    snap = _snapshot(spark, target)
    # crash-replay of the LAST epoch (checkpoint not yet committed)
    sink(_df(spark, batches[-1]), 2)
    assert _snapshot(spark, target) == snap
    # fresh-checkpoint full replay into the same target
    for i, rows in enumerate(batches):
        sink(_df(spark, rows), i)
    assert _snapshot(spark, target) == snap
    # tokens stayed monotone: pending deltas all exceed the base marker
    base_v = _base_maxv(os.path.join(str(target), "base"))
    pend = [int(d.split("-", 1)[1]) for d in _deltas(target)]
    assert all(v > base_v for v in pend)


def test_ledger_newer_write_beats_folded_base(spark, tmp_path):
    """Latest-write-wins across the base/delta boundary: a key folded
    into the base is superseded by any later delta, even after further
    compactions."""
    target = tmp_path / "ledger"
    sink = bucketed_keyed_upsert_parquet(str(target), ["k"], n_buckets=4, compact_every=1)
    sink(_df(spark, [(1, "old", 1)]), 0)  # folds immediately
    assert _deltas(target) == []
    sink(_df(spark, [(1, "new", 2)]), 1)  # folds again, must supersede
    assert _snapshot(spark, target) == {1: ("new", 2)}


def test_ledger_empty_batch_noop(spark, tmp_path):
    target = tmp_path / "ledger"
    sink = bucketed_keyed_upsert_parquet(str(target), ["k"], n_buckets=4)
    sink(_df(spark, [(1, "a", 1)]), 0)
    snap = _snapshot(spark, target)
    sink(_df(spark, []), 1)
    assert _snapshot(spark, target) == snap
    assert len(_deltas(target)) == 1  # no delta written for the empty batch


def test_ledger_swap_crash_between_renames_loses_nothing(spark, tmp_path):
    """Round-12 advice fix: a compaction that dies BETWEEN the tombstone
    rename and the new-bucket rename must not lose base rows whose keys
    are not in the pending deltas. Simulate the crash state by moving a
    live bucket to the tombstone dir: the reader must union it in, and
    the next compaction must restore it."""
    import shutil
    import uuid

    from data_pipeline_with_spark_kafka_spark.streaming.sinks import (
        _recover_buckets,
        _tomb_dir,
    )

    target = tmp_path / "ledger"
    sink = bucketed_keyed_upsert_parquet(str(target), ["k"], n_buckets=4, compact_every=1)
    # compact_every=1 -> base-only ledger with several buckets
    sink(_df(spark, [(k, f"v{k}", 1) for k in range(12)]), 0)
    before = _snapshot(spark, target)
    assert len(before) == 12 and not _deltas(target)

    # Simulate the crash: one bucket tombstoned, live dir missing.
    bucket = _buckets(target)[0]
    tomb = os.path.join(_tomb_dir(str(target)), f"{bucket}--{uuid.uuid4().hex[:8]}")
    os.makedirs(_tomb_dir(str(target)), exist_ok=True)
    os.rename(os.path.join(str(target), "base", bucket), tomb)

    # Reader falls back to the tombstone: zero rows lost, no mutation.
    assert _snapshot(spark, target) == before
    assert os.path.isdir(tomb)

    # Next compaction heals the base first, then folds the new delta.
    sink(_df(spark, [(0, "v0b", 2)]), 1)
    assert not os.listdir(_tomb_dir(str(target)))
    healed = dict(before)
    healed[0] = ("v0b", 2)
    assert _snapshot(spark, target) == healed


def test_ledger_swap_stale_tombstone_is_dropped(spark, tmp_path):
    """Crash AFTER the new bucket renamed in: the tombstone is stale (the
    live dir is newer). The reader must prefer the live dir and recovery
    must delete the tombstone, not resurrect old rows."""
    import shutil
    import uuid

    from data_pipeline_with_spark_kafka_spark.streaming.sinks import (
        _recover_buckets,
        _tomb_dir,
    )

    target = tmp_path / "ledger"
    sink = bucketed_keyed_upsert_parquet(str(target), ["k"], n_buckets=2, compact_every=1)
    sink(_df(spark, [(1, "old", 1)]), 0)
    bucket = _buckets(target)[0]
    # stale tombstone = a COPY of the current bucket content under an old name
    tomb = os.path.join(_tomb_dir(str(target)), f"{bucket}--{uuid.uuid4().hex[:8]}")
    os.makedirs(_tomb_dir(str(target)), exist_ok=True)
    shutil.copytree(os.path.join(str(target), "base", bucket), tomb)
    sink(_df(spark, [(1, "new", 2)]), 1)  # live bucket now newer
    assert _snapshot(spark, target)[1] == ("new", 2)
    _recover_buckets(str(target))
    assert not os.listdir(_tomb_dir(str(target)))
    assert _snapshot(spark, target)[1] == ("new", 2)


def test_ledger_recovery_restores_newest_of_two_tombstones(spark, tmp_path):
    """Round-13 advice fix: tombstone suffixes are the compaction's
    monotone delta-version token, so if one bucket ever holds TWO
    tombstones (a stale one that survived its rmtree plus a later crash
    on the same bucket), recovery restores the NEWEST and drops the
    stale one — never the uuid-lottery of the old naming."""
    import shutil

    from data_pipeline_with_spark_kafka_spark.streaming.sinks import (
        _recover_buckets,
        _tomb_dir,
    )

    target = tmp_path / "ledger"
    sink = bucketed_keyed_upsert_parquet(str(target), ["k"], n_buckets=2, compact_every=1)
    sink(_df(spark, [(1, "old", 1)]), 0)
    bucket = _buckets(target)[0]
    live = os.path.join(str(target), "base", bucket)
    os.makedirs(_tomb_dir(str(target)), exist_ok=True)
    # stale tombstone (older token) with the OLD content
    stale = os.path.join(_tomb_dir(str(target)), f"{bucket}--{0:012d}")
    shutil.copytree(live, stale)
    # newer write, then simulate a crash that tombstoned the bucket with
    # a HIGHER token and died before the new dir landed
    sink(_df(spark, [(1, "new", 2)]), 1)
    newer = os.path.join(_tomb_dir(str(target)), f"{bucket}--{2:012d}")
    os.rename(live, newer)
    _recover_buckets(str(target))
    assert not os.listdir(_tomb_dir(str(target)))
    assert _snapshot(spark, target)[1] == ("new", 2)


def test_ledger_crash_leftovers_are_swept_on_replay(spark, tmp_path, monkeypatch):
    """A crash after a delta (then a compaction) output is written but
    before it is renamed in leaves a ``.tmp-*`` dir; replaying the epoch
    sweeps it and the ledger reads the same rows as a crash-free run."""
    target, clean = tmp_path / "ledger", tmp_path / "clean"
    batches = [_df(spark, [(1, "a", 1), (2, "b", 1)]), _df(spark, [(2, "b2", 2), (3, "c", 1)])]
    sink = bucketed_keyed_upsert_parquet(str(target), ["k"], n_buckets=4, compact_every=2)
    reference = bucketed_keyed_upsert_parquet(str(clean), ["k"], n_buckets=4, compact_every=2)
    for epoch, batch in enumerate(batches):
        reference(batch, epoch)
    sink(batches[0], 0)

    def leftovers():
        return sorted(
            name
            for _root, dirs, _files in os.walk(str(tmp_path))
            for name in dirs
            if ".tmp-" in name
        )

    real_rename = os.rename
    for marker in ("delta/.tmp-", "base.tmp-"):  # the delta write, then compaction

        def crash(src, dst, marker=marker):
            if marker in os.fspath(src):
                raise OSError("injected crash before the rename")
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", crash)
        with pytest.raises(OSError, match="injected"):
            sink(batches[1], 1)
        monkeypatch.setattr(os, "rename", real_rename)
        assert len(leftovers()) == 1
    sink(batches[1], 1)  # replayed epoch
    assert leftovers() == []
    assert _snapshot(spark, target) == _snapshot(spark, clean) == {
        1: ("a", 1), 2: ("b2", 2), 3: ("c", 1),
    }
