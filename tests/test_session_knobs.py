"""The integer SPARK_GRAFT_* knobs go through one validating helper
(session.env_int): no Spark needed."""

from __future__ import annotations

import pytest

from osm2streets_spark import session
from osm2streets_spark.session import env_int

KNOBS = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
         "SPARK_GRAFT_DOC_PARTITIONS", "SPARK_GRAFT_KERNEL_PARTITIONS",
         "SPARK_GRAFT_ARROW_BATCH", "SPARK_GRAFT_CODEGEN_CACHE")


@pytest.fixture(autouse=True)
def clean_env(monkeypatch):
    for k in KNOBS:
        monkeypatch.delenv(k, raising=False)


@pytest.mark.parametrize("raw", [None, "", "  ", "0", "-3"])
def test_unset_or_non_positive_gives_default(monkeypatch, raw):
    if raw is not None:
        monkeypatch.setenv("SPARK_GRAFT_ARROW_BATCH", raw)
    assert env_int("SPARK_GRAFT_ARROW_BATCH", 2048) == 2048


@pytest.mark.parametrize("raw,value", [("4096", 4096), (" 16 ", 16)])
def test_positive_value_used(monkeypatch, raw, value):
    monkeypatch.setenv("SPARK_GRAFT_CODEGEN_CACHE", raw)
    assert env_int("SPARK_GRAFT_CODEGEN_CACHE", 2000) == value


@pytest.mark.parametrize("raw", ["abc", "2.5", "1e3", "16x"])
@pytest.mark.parametrize("name", KNOBS)
def test_junk_names_the_variable(monkeypatch, name, raw):
    monkeypatch.setenv(name, raw)
    with pytest.raises(ValueError, match=name):
        env_int(name, 0)


def test_pinned_partition_knobs_skip_spark(monkeypatch):
    """A pinned count returns before the session is consulted."""
    monkeypatch.setenv("SPARK_GRAFT_DOC_PARTITIONS", "7")
    monkeypatch.setenv("SPARK_GRAFT_KERNEL_PARTITIONS", "9")
    assert session.docs_partitions(None, 100) == 7
    assert session.kernel_partitions(None) == 9


def test_junk_partition_knob_raises(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_KERNEL_PARTITIONS", "many")
    with pytest.raises(ValueError, match="SPARK_GRAFT_KERNEL_PARTITIONS"):
        session.kernel_partitions(None)
