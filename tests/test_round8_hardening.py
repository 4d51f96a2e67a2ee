"""Round-8 hardening tests for the advice findings: erase-CLI crash
recovery + zero-match rewrite skip, swap-leftover repair
(``sinks.recover``), and duration-spec validation."""

from __future__ import annotations

import os

import pytest

from tests.test_round7_queries import _write_erasure_universe


def test_recover_two_phase_leftovers_restores_missing_target(tmp_path):
    """Crash between replace's two renames: target absent, .old-
    backup present, completed .tmp sibling present -> the backup is
    restored and the tmp removed."""
    from data_pipeline_with_spark_kafka_spark.streaming.sinks import recover

    target = tmp_path / "t.parquet"
    backup = tmp_path / "t.parquet.old-deadbeef"
    tmp = tmp_path / "t.parquet.tmp-deadbeef"
    backup.write_bytes(b"old snapshot")
    tmp.mkdir()
    (tmp / "part-0.parquet").write_bytes(b"new")

    notes = recover(str(target))
    assert target.read_bytes() == b"old snapshot"
    assert not backup.exists() and not tmp.exists()
    assert any("restored" in n for n in notes)


def test_recover_two_phase_leftovers_cleans_stale_siblings(tmp_path):
    """Crash after the second rename (target intact): stale .old-/.tmp-
    siblings are deleted, the target untouched."""
    from data_pipeline_with_spark_kafka_spark.streaming.sinks import recover

    target = tmp_path / "t.parquet"
    target.write_bytes(b"current")
    (tmp_path / "t.parquet.old-aa").write_bytes(b"stale")
    stale_tmp = tmp_path / "t.parquet.tmp-bb"
    stale_tmp.mkdir()

    notes = recover(str(target))
    assert target.read_bytes() == b"current"
    assert not (tmp_path / "t.parquet.old-aa").exists()
    assert not stale_tmp.exists()
    assert len(notes) == 2


def test_recover_two_phase_leftovers_refuses_tmp_only_gap(tmp_path):
    """Target missing with ONLY a tmp sibling (no backup to restore):
    refuse loudly instead of guessing."""
    from data_pipeline_with_spark_kafka_spark.streaming.sinks import recover

    (tmp_path / "t.parquet.tmp-cc").mkdir()
    with pytest.raises(RuntimeError, match="interrupted swap"):
        recover(str(tmp_path / "t.parquet"))


def test_recover_two_phase_leftovers_noop_when_clean(tmp_path):
    from data_pipeline_with_spark_kafka_spark.streaming.sinks import recover

    target = tmp_path / "t.parquet"
    target.write_bytes(b"current")
    assert recover(str(target)) == []


def test_erase_cli_resumes_after_crash_between_renames(spark, tmp_path, capsys):
    """A hard crash between the two renames leaves `orders` absent with
    .old-/.tmp- siblings; the re-run must RESTORE the backup and complete
    the erase for every table — previously it silently skipped the missing
    table while reporting success for the others (round-8 advice)."""
    from data_pipeline_with_spark_kafka_spark.run import main

    sf = _write_erasure_universe(tmp_path)
    # Simulate the mid-swap crash on orders: backup made, tmp written,
    # target renamed away, second rename never happened.
    os.rename(tmp_path / "orders.parquet", tmp_path / "orders.parquet.old-ab12cd34")
    tmp = tmp_path / "orders.parquet.tmp-ab12cd34"
    tmp.mkdir()
    (tmp / "partial").write_bytes(b"")

    main(["erase", "--data-dir", sf, "--subject-ids", "97,194"], spark=spark)
    out = capsys.readouterr().out
    assert "restored" in out and "orders.parquet.old-ab12cd34" in out
    # The full cascade ran against the restored table.
    assert "orders: 2 erased, 1 surviving" in out
    assert "lineitem: 2 erased, 2 surviving" in out
    assert "customer: 2 erased, 1 surviving" in out
    assert not (tmp_path / "orders.parquet.tmp-ab12cd34").exists()
    assert not (tmp_path / "orders.parquet.old-ab12cd34").exists()
    assert sorted(
        r.o_custkey for r in spark.read.parquet(f"{sf}/orders.parquet").collect()
    ) == [98]


def test_erase_cli_zero_match_run_skips_rewrite(spark, tmp_path, capsys):
    """An erase run whose subjects match nothing must not rewrite any
    table: the single-file parquet fixtures stay FILES (no directory
    conversion side effect) and the output says the rewrite was skipped."""
    from data_pipeline_with_spark_kafka_spark.run import main

    sf = _write_erasure_universe(tmp_path)
    main(["erase", "--data-dir", sf, "--subject-ids", "424242"], spark=spark)
    out = capsys.readouterr().out
    for t in ("orders", "customer", "events"):
        assert f"{t}: 0 erased" in out
    assert out.count("rewrite skipped") >= 3
    for t in ("customer", "orders", "lineitem", "events"):
        assert os.path.isfile(tmp_path / f"{t}.parquet"), t


@pytest.mark.parametrize(
    "spec,ms",
    [("30 days", 30 * 86_400_000), ("2 hours", 7_200_000), ("1 minute", 60_000)],
)
def test_duration_ms_valid_specs(spec, ms):
    from data_pipeline_with_spark_kafka_spark.streaming.attribution_stream import (
        _duration_ms,
    )

    assert _duration_ms(spec) == ms


@pytest.mark.parametrize(
    "spec,msg",
    [
        ("1 week", "unsupported unit"),
        ("90 min", "unsupported unit"),
        ("soon", "expected '<count> <unit>'"),
        ("1 2 3", "expected '<count> <unit>'"),
        ("0 days", "positive integer"),
        ("-5 days", "positive integer"),
        ("1.5 hours", "positive integer"),
        ("10 weeks", "unsupported unit"),
    ],
)
def test_duration_ms_invalid_specs_raise_descriptive(spark, spec, msg):
    """The one parser rejects a bad spec with a descriptive error, also
    when it arrives through ``trending_items``'s window."""
    from data_pipeline_with_spark_kafka_spark.streaming.attribution_stream import (
        _duration_ms,
    )
    from data_pipeline_with_spark_kafka_spark.streaming.trending import trending_items

    with pytest.raises(ValueError, match=msg):
        _duration_ms(spec)
    events = spark.createDataFrame([], "item string, ts timestamp")
    with pytest.raises(ValueError, match=msg):
        trending_items(events, item_col="item", time_col="ts", window=spec)


def test_dow_group_key_exemption_is_query_scoped():
    """The 'dow' bounded-group-key exemption must apply ONLY to
    events_anomaly_dow — a hypothetical other query grouping an
    sf-proportional column named dow must still be flagged (round-8
    advice: no global whitelist by column name)."""
    from tests.test_plans import _QUERY_BOUNDED_GROUP_KEYS, _BOUNDED_GROUP_KEYS

    assert "dow" not in _BOUNDED_GROUP_KEYS
    assert _QUERY_BOUNDED_GROUP_KEYS == {"events_anomaly_dow": {"dow"}}


def test_trainer_raises_descriptive_error_on_empty_corpus(spark):
    """Training on an empty corpus must fail fast with a clear message,
    not a TypeError from float(None) (round-8 empty edge corpus)."""
    from data_pipeline_with_spark_kafka_spark.operators.classifier_train import (
        standardization_stats,
    )

    empty = spark.createDataFrame([], "f1 double, f2 double, label int")
    with pytest.raises(ValueError, match="empty"):
        standardization_stats(empty, ["f1", "f2"])


def test_constant_column_stats_are_null_not_crash(spark, tmp_path):
    """Degenerate (constant-column) inputs: corr family yields NULL and the
    z-score filter yields no rows — never an ANSI DIVIDE_BY_ZERO crash
    (round-8 one-group edge corpus)."""
    import pandas as pd

    from data_pipeline_with_spark_kafka_spark.queries import all_queries

    tmpdir = str(tmp_path)
    li = pd.DataFrame(
        {
            "l_orderkey": pd.array([1, 2, 3, 4], dtype="int64"),
            "l_partkey": pd.array([1, 1, 1, 1], dtype="int64"),
            "l_suppkey": pd.array([1, 1, 1, 1], dtype="int64"),
            "l_linenumber": pd.array([1, 1, 1, 1], dtype="int32"),
            "l_quantity": [5.0, 5.0, 5.0, 5.0],       # constant -> var 0
            "l_extendedprice": [9.0, 9.0, 9.0, 9.0],  # constant -> var 0
            "l_discount": [0.0] * 4,
            "l_tax": [0.0] * 4,
            "l_returnflag": ["N"] * 4,
            "l_linestatus": ["O"] * 4,
            "l_shipdate": pd.to_datetime(["2024-01-01"] * 4),
        }
    )
    li.to_parquet(f"{tmpdir}/lineitem.parquet", index=False)
    ev = pd.DataFrame(
        {
            "event_id": pd.array([1, 2, 3], dtype="int64"),
            "ts": pd.to_datetime(["2024-01-01 10:00:00"] * 3),
            "user_id": pd.array([1, 2, 3], dtype="int64"),
            "event_type": ["view"] * 3,
            "value": [7.0, 7.0, 7.0],  # constant -> sd 0
            "props": ["{}"] * 3,
        }
    )
    ev.to_parquet(f"{tmpdir}/events.parquet", index=False)

    rows = all_queries()["agg_corr_covar"].builder(spark, tmpdir).collect()
    assert len(rows) == 1
    assert rows[0].qty_price_corr is None  # NULL, like DuckDB CORR
    z = all_queries()["events_zscore_outliers"].builder(spark, tmpdir).collect()
    assert z == []  # sd=0 -> NULL z -> filtered, not DIVIDE_BY_ZERO
