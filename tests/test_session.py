"""Session defaults: the ones derived from the host, checked without
starting a JVM, and the Spark defaults the session relies on."""

import pytest

from overmatch_spark import session


@pytest.mark.parametrize(
    "ram_gib, expected", [(2, "1g"), (15, "3g"), (16, "4g"), (64, "16g"), (512, "16g")]
)
def test_driver_memory_is_a_quarter_of_ram(monkeypatch, ram_gib, expected):
    page = 4096
    sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": ram_gib * 2**30 // page}
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    assert session.driver_memory() == expected


def test_driver_memory_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "6g")
    assert session.driver_memory() == "6g"


@pytest.mark.parametrize(
    "key",
    [
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
    ],
)
def test_adaptive_execution_is_on_by_default(spark, key):
    """get_spark does not set these; it relies on Spark's defaults."""
    assert spark.conf.get(key) == "true"
