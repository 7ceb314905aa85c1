"""Unit guards for small engine helpers: the fan-out width threshold and
the session-keyed plan memo's eviction."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from sparkgraft.io import readers
from sparkgraft.ops import relational


def test_fan_out_reads_human_readable_max_partition_bytes(spark, monkeypatch):
    """maxPartitionBytes=1g sets a 1 GiB-per-core threshold: an input of
    600 MiB per core is below it and must be fanned out.  A parser that
    mis-reads '1g' as the 128 MiB default would leave the input alone."""
    target = spark.sparkContext.defaultParallelism
    df = spark.range(10, numPartitions=1)
    assert target > 1
    monkeypatch.setattr(
        relational, "_approx_input_bytes", lambda _df: target * 600 * 1024 * 1024
    )
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1g")
    try:
        assert relational.fan_out(df).rdd.getNumPartitions() == target
        spark.conf.set("spark.sql.files.maxPartitionBytes", "64mb")
        assert relational.fan_out(df) is df
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_evict_tolerates_key_already_evicted(monkeypatch):
    """Two threads missing at once can both list the same dead key; the
    one that deletes second must not raise KeyError."""

    class _RacedCache(dict):
        def items(self):
            snapshot = list(super().items())
            self.clear()  # the other evictor removes the dead key first
            return snapshot

    dead = SimpleNamespace(sparkSession=SimpleNamespace(_sc=SimpleNamespace(_jsc=None)))
    cache = _RacedCache({(1, "/gone/events.parquet", 0): dead})
    monkeypatch.setattr(readers, "_PLAN_CACHE", cache)
    readers._evict_stopped_sessions()
    assert cache == {}
