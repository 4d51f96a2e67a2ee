"""Crafted-edge differential tests for the round-7 analytics additions.

The registry parity test already proves each query matches its oracle on
the driver's corpus; these tests pin the SEMANTIC edges on data built to
hit them — same-timestamp attribution ties, lookback expiry, purchases
with no history, NULL cascade keys — and check Spark and DuckDB agree on
exactly those rows (the differential harness catches an edge both
engines would otherwise silently disagree on in some future dataset).
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
import pytest

from data_pipeline_with_spark_kafka_spark.queries import all_queries
from tests.oracle_compare import assert_matches_oracle

QUERIES = all_queries()

T0 = dt.datetime(2024, 3, 1, 12, 0, 0)


def _write_events(tmp_path, rows):
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    df["event_id"] = df["event_id"].astype("int64")
    df["user_id"] = df["user_id"].astype("int64")
    df["value"] = df["value"].astype("float64")
    df.to_parquet(tmp_path / "events.parquet", index=False)
    return str(tmp_path)


def _duck_for(sf_dir, tables=("events",)):
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture()
def attribution_sf(tmp_path):
    h = dt.timedelta(hours=1)
    d = dt.timedelta(days=1)
    rows = [
        # user 1: plain last-touch — click after view, purchase attributes
        # to the click.
        (101, T0, 1, "view", 0.0, "{}"),
        (102, T0 + h, 1, "click", 0.0, "{}"),
        (103, T0 + 2 * h, 1, "purchase", 10.0, "{}"),
        # user 2: touch 8 days before the purchase — expired lookback.
        (201, T0, 2, "click", 0.0, "{}"),
        (202, T0 + 8 * d, 2, "purchase", 20.0, "{}"),
        # user 3: purchase with no preceding events at all.
        (301, T0, 3, "purchase", 30.0, "{}"),
        # user 4: view and click at the SAME timestamp — the (ts,
        # event_id) total order must break the tie identically on both
        # engines (higher event_id is "later", so the click wins).
        (401, T0, 4, "view", 0.0, "{}"),
        (402, T0, 4, "click", 0.0, "{}"),
        (403, T0 + h, 4, "purchase", 40.0, "{}"),
        # user 5: a view AFTER the purchase must not attribute backward.
        (501, T0, 5, "purchase", 50.0, "{}"),
        (502, T0 + h, 5, "view", 0.0, "{}"),
        # user 5's second purchase right at the 7-day boundary: touch at
        # exactly ts - 7d is INSIDE the window (>= comparison).
        (503, T0 + h + 7 * d, 5, "purchase", 60.0, "{}"),
    ]
    return _write_events(tmp_path, rows)


def test_attribution_edges_match_oracle(spark, attribution_sf):
    q = QUERIES["events_attribution_last_touch"]
    con = _duck_for(attribution_sf)
    assert_matches_oracle(
        q.builder(spark, attribution_sf), con, q.oracle, name="attribution-edges"
    )


def test_attribution_edge_semantics(spark, attribution_sf):
    q = QUERIES["events_attribution_last_touch"]
    out = {
        r["touch_type"]: r.asDict()
        for r in q.builder(spark, attribution_sf).collect()
    }
    # user 1 -> click; user 4's same-ts tie -> click (higher event_id);
    # user 5's boundary purchase -> view (exactly 7 days counts).
    assert out["click"]["n_purchases"] == 2
    assert out["click"]["attributed_value"] == pytest.approx(50.0)
    assert out["view"]["n_purchases"] == 1
    assert out["view"]["attributed_value"] == pytest.approx(60.0)
    # users 2 (expired) and 3 (no history) and 5's first purchase.
    assert out["unattributed"]["n_purchases"] == 3
    assert out["unattributed"]["attributed_value"] == pytest.approx(100.0)


def test_markov_single_event_users_and_row_norm(spark, tmp_path):
    m = dt.timedelta(minutes=1)
    rows = [
        # user 1: view -> click -> click (two distinct transitions).
        (1, T0, 1, "view", 0.0, "{}"),
        (2, T0 + m, 1, "click", 0.0, "{}"),
        (3, T0 + 2 * m, 1, "click", 0.0, "{}"),
        # user 2: a single event contributes NO transition.
        (4, T0, 2, "purchase", 0.0, "{}"),
    ]
    sf = _write_events(tmp_path, rows)
    q = QUERIES["events_markov_transitions"]
    con = _duck_for(sf)
    assert_matches_oracle(q.builder(spark, sf), con, q.oracle, name="markov-edges")
    got = {(r.prev_type, r.next_type): r for r in q.builder(spark, sf).collect()}
    assert set(got) == {("view", "click"), ("click", "click")}
    assert got[("view", "click")].prob == pytest.approx(1.0)
    assert got[("click", "click")].prob == pytest.approx(1.0)


def _write_erasure_universe(tmp_path):
    """customer(97, 98, 194) / their orders / lineitems (incl. a NULL
    orderkey) / one event for subject 97 — shared by the audit-query edge
    test and the erase-CLI apply test."""
    pd.DataFrame(
        {
            "c_custkey": pd.array([97, 98, 194], dtype="int64"),
            "c_name": ["a", "b", "c"],
            "c_nationkey": pd.array([1, 1, 2], dtype="int32"),
            "c_acctbal": [0.0, 0.0, 0.0],
            "c_mktsegment": ["X", "X", "Y"],
        }
    ).to_parquet(tmp_path / "customer.parquet", index=False)
    pd.DataFrame(
        {
            "o_orderkey": pd.array([1, 2, 3], dtype="int64"),
            "o_custkey": pd.array([97, 98, 194], dtype="int64"),
            "o_orderstatus": ["F", "F", "F"],
            "o_totalprice": [1.0, 2.0, 3.0],
            "o_orderdate": [T0, T0, T0],
            "o_orderpriority": ["1-URGENT"] * 3,
        }
    ).to_parquet(tmp_path / "orders.parquet", index=False)
    pd.DataFrame(
        {"l_orderkey": pd.array([1, 2, None, 3], dtype="Int64")}
    ).to_parquet(tmp_path / "lineitem.parquet", index=False)
    pd.DataFrame(
        {
            "event_id": pd.array([1], dtype="int64"),
            "ts": [T0],
            "user_id": pd.array([97], dtype="int64"),
            "event_type": ["view"],
            "value": [0.0],
            "props": ["{}"],
        }
    ).to_parquet(tmp_path / "events.parquet", index=False)
    return str(tmp_path)


def test_erasure_cascade_null_keys_survive(spark, tmp_path):
    """A NULL foreign key matches no tombstone: it must count as
    SURVIVING on both engines (the oracle computes surviving as
    total - erased precisely because NOT IN would drop NULL rows)."""
    sf = _write_erasure_universe(tmp_path)
    q = QUERIES["privacy_erasure_cascade"]
    con = _duck_for(sf, tables=("customer", "orders", "lineitem", "events"))
    assert_matches_oracle(q.builder(spark, sf), con, q.oracle, name="erasure-nulls")
    got = {r.table_name: r for r in q.builder(spark, sf).collect()}
    # tombstones: custkeys 97 and 194 -> orders 1 and 3 -> lineitems 1, 3.
    assert (got["customer"].rows_erased, got["customer"].rows_surviving) == (2, 1)
    assert (got["orders"].rows_erased, got["orders"].rows_surviving) == (2, 1)
    # the NULL l_orderkey row SURVIVES (4 rows total: 2 erased, 2 surviving).
    assert (got["lineitem"].rows_erased, got["lineitem"].rows_surviving) == (2, 2)
    assert (got["events"].rows_erased, got["events"].rows_surviving) == (1, 0)


def test_json_object_flag_edge_matrix(spark, tmp_path):
    """is_json_object must agree cross-engine on the FULL edge matrix:
    NULL, objects, scalars, arrays, bare null, garbage, nested values,
    surrounding whitespace. (PERMISSIVE from_json(struct).isNotNull() was
    TRUE for garbage — round-7 review finding; the MAP form is exact.)"""
    vals = [
        None, '{"k":1}', "{}", "123", "[1]", '"s"', "null",
        "not json", '{"k":{"a":1}}', '  {"k":2} ',
        # strict-INT edges: quoted number / float / bool k must be NULL
        # k_value on BOTH engines (Spark from_json only parses integer
        # literals; the oracle gates on the path's JSON type).
        '{"k":"12"}', '{"k":12.7}', '{"k":true}', '{"k":[1]}',
    ]
    pd.DataFrame(
        {
            "event_id": pd.array(range(len(vals)), dtype="int64"),
            "ts": [T0] * len(vals),
            "user_id": pd.array([1] * len(vals), dtype="int64"),
            "event_type": ["view"] * len(vals),
            "value": [0.0] * len(vals),
            "props": vals,
        }
    ).to_parquet(tmp_path / "events.parquet", index=False)
    sf = str(tmp_path)
    q = QUERIES["func_json_family"]
    con = _duck_for(sf)
    assert_matches_oracle(q.builder(spark, sf), con, q.oracle, name="json-edges")
    rows = {r.event_id: r for r in q.builder(spark, sf).collect()}
    assert {i: rows[i].is_json_object for i in rows} == {
        0: None, 1: True, 2: True, 3: False, 4: False, 5: False,
        6: False, 7: False, 8: True, 9: True,
        10: True, 11: True, 12: True, 13: True,
    }
    assert {i: rows[i].k_value for i in rows} == {
        0: None, 1: 1, 2: None, 3: None, 4: None, 5: None,
        6: None, 7: None, 8: None, 9: 2,
        10: None, 11: None, 12: None, 13: None,
    }


def test_erase_cli_applies_cascade_and_is_idempotent(spark, tmp_path, capsys):
    """run.py erase = the destructive half of the audit query: subjects
    97+194 vanish from customer/orders/events, their lineitems vanish
    transitively, the NULL-key lineitem survives, and a second run is a
    no-op (idempotent resume contract)."""
    from data_pipeline_with_spark_kafka_spark.run import main

    sf = _write_erasure_universe(tmp_path)

    # dry-run: counts only, nothing rewritten
    main(["erase", "--data-dir", sf, "--subject-ids", "97,194", "--dry-run"],
         spark=spark)
    assert "customer: 2 erased, 1 surviving (dry-run)" in capsys.readouterr().out
    assert spark.read.parquet(f"{sf}/customer.parquet").count() == 3

    main(["erase", "--data-dir", sf, "--subject-ids", "97,194"], spark=spark)
    out = capsys.readouterr().out
    assert "lineitem: 2 erased, 2 surviving" in out
    assert "orders: 2 erased, 1 surviving" in out
    assert "customer: 2 erased, 1 surviving" in out
    assert "events: 1 erased, 0 surviving" in out

    assert sorted(
        r.c_custkey for r in spark.read.parquet(f"{sf}/customer.parquet").collect()
    ) == [98]
    li = [r.l_orderkey for r in spark.read.parquet(f"{sf}/lineitem.parquet").collect()]
    assert sorted(x for x in li if x is not None) == [2]
    assert None in li  # the NULL-key row survived the rewrite

    # idempotent second run: all zero erased
    main(["erase", "--data-dir", sf, "--subject-ids", "97,194"], spark=spark)
    out2 = capsys.readouterr().out
    for t in ("lineitem", "orders", "customer", "events"):
        assert f"{t}: 0 erased" in out2


def test_token_entropy_skips_null_text(spark, tmp_path):
    """A document with NULL text has no tokens, so it has no row: DuckDB's
    UNNEST of a NULL list yields none."""
    pd.DataFrame(
        {
            "doc_id": pd.Series([1, 2, 3], dtype="int64"),
            "text": ["a b a", None, "c"],
            "lang": "en",
            "source": "web",
            "n_chars": pd.Series([5, 0, 1], dtype="int64"),
        }
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    sf = str(tmp_path)
    q = QUERIES["llm_token_entropy"]
    con = _duck_for(sf, tables=("documents",))
    assert_matches_oracle(q.builder(spark, sf), con, q.oracle, name="entropy-null-text")
    assert sorted(r.doc_id for r in q.builder(spark, sf).collect()) == [1, 3]
