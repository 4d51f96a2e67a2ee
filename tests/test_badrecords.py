"""Bad-record policy contract: drop / dead_letter / fail."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.utils import PythonException


def parse_json_records(
    raw: DataFrame,
    value_col: str,
    schema: T.StructType | str,
    *,
    essential: list[str],
    policy: str = "drop",
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Parse a JSON-string column under an explicit bad-record policy.

    Returns the parsed DataFrame (``drop`` / ``fail``) or a
    ``(good, dead_letter)`` pair (``dead_letter`` policy).
    """
    data = F.from_json(F.col(value_col), schema)
    parsed = raw.withColumn("__data", data)
    # from_json (PERMISSIVE) yields an all-null struct for malformed input,
    # not a NULL struct — probe raw validity separately for the reason code.
    is_json = F.get_json_object(F.col(value_col), "$").isNotNull()
    parsed = parsed.withColumn("__is_json", is_json)
    ok = F.col("__is_json")
    for field in essential:
        ok = ok & F.col(f"__data.{field}").isNotNull()

    good = parsed.filter(ok).select("__data.*")

    if policy == "drop":
        return good
    if policy == "dead_letter":
        bad = parsed.filter(~ok).select(
            F.col(value_col).alias("raw_payload"),
            F.when(~F.col("__is_json"), "malformed_json")
            .otherwise("missing_essential_field")
            .alias("reason"),
            F.current_timestamp().alias("quarantined_at"),
        )
        return good, bad
    if policy == "fail":
        guarded = parsed.withColumn(
            "__chk",
            F.assert_true(ok, F.concat(F.lit("bad record: "), F.col(value_col))),
        )
        return guarded.filter(F.col("__chk").isNull()).select("__data.*")
    raise ValueError(f"unknown bad-record policy: {policy}")


SCHEMA = "event_time string, location string, new_cases int"
ROWS = [
    ('{"event_time":"2024-01-01 00:00:00","location":"US","new_cases":5}',),
    ("not json",),
    ('{"event_time":"2024-01-02 00:00:00","new_cases":3}',),  # missing location
]


@pytest.fixture()
def raw(spark):
    return spark.createDataFrame(ROWS, "value string")


def test_drop_policy(raw):
    good = parse_json_records(raw, "value", SCHEMA, essential=["event_time", "location"])
    assert [r.location for r in good.collect()] == ["US"]


def test_dead_letter_policy(raw):
    good, bad = parse_json_records(
        raw, "value", SCHEMA, essential=["event_time", "location"], policy="dead_letter"
    )
    assert good.count() == 1
    quarantined = {r.reason for r in bad.collect()}
    assert quarantined == {"malformed_json", "missing_essential_field"}
    assert bad.columns == ["raw_payload", "reason", "quarantined_at"]


def test_fail_policy_raises_on_bad_record(spark, raw):
    strict = parse_json_records(
        raw, "value", SCHEMA, essential=["event_time", "location"], policy="fail"
    )
    with pytest.raises(Exception) as exc:
        strict.collect()
    assert "bad record" in str(exc.value)

    clean = spark.createDataFrame([ROWS[0]], "value string")
    ok = parse_json_records(
        clean, "value", SCHEMA, essential=["event_time", "location"], policy="fail"
    )
    assert ok.count() == 1
