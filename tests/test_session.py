"""The session factory's driver heap default follows the host."""

from __future__ import annotations

import os

import pytest

from data_pipeline_with_spark_kafka_spark.session import driver_memory


@pytest.mark.parametrize(
    "phys_gib,want",
    [(15.6, "7g"), (2, "1g"), (1, "1g"), (64, "32g"), (96, "48g"), (512, "48g")],
)
def test_driver_memory_is_half_the_host_capped_at_48g(monkeypatch, phys_gib, want):
    page = 4096
    pages = int(phys_gib * 2**30) // page
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(
        os, "sysconf", lambda name: page if name == "SC_PAGE_SIZE" else pages
    )
    assert driver_memory() == want


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert driver_memory() == "3g"
