"""Host-sized session settings: AQE partition sizing and the driver heap.

The two AQE settings in ``ENGINE_CONF`` let small shuffles and persisted
tables spread over the host's cores instead of running as one task (below
Spark's 1 MB ``minPartitionSize`` floor) or as ``spark.sql.shuffle.partitions``
near-empty ones (persisted plans keep their partitioning by default). The
checks walk the executed JVM plan with the sweep's ``_iter_plan_nodes``.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from nyuki_spark import session
from nyuki_spark.session import ENGINE_CONF, driver_memory

from test_plan_registry_sweep import _iter_plan_nodes

MIN_PARTITION_SIZE = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
CACHED_PLAN_PARTITIONING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


@contextmanager
def _shuffle_partitions(spark, n: int):
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _cores(spark) -> int:
    cores = spark.sparkContext.defaultParallelism
    if cores < 2:
        pytest.skip("needs a session with at least 2 cores")
    return cores


def _executed_nodes(df):
    df.toArrow()
    return list(_iter_plan_nodes(df._jdf.queryExecution().executedPlan()))


def test_aqe_sizing_settings_pinned(spark):
    assert ENGINE_CONF[MIN_PARTITION_SIZE] == "64k"
    assert ENGINE_CONF[CACHED_PLAN_PARTITIONING] == "true"
    assert spark.conf.get(MIN_PARTITION_SIZE) == "64k"
    assert spark.conf.get(CACHED_PLAN_PARTITIONING) == "true"


def test_small_shuffle_spreads_over_cores(spark):
    """A ~1.4 MB shuffle (16,000 distinct 64-char keys; ~1.1 MB on disk
    after compression) used to be coalesced to one partition by the 1 MB
    floor; now AQE reads it back as several."""
    _cores(spark)
    with _shuffle_partitions(spark, 32):
        df = (
            spark.range(16_000)
            .select(F.sha2(F.col("id").cast("string"), 256).alias("k"))
            .groupBy("k")
            .count()
        )
        nodes = _executed_nodes(df)
    stage_bytes = [
        n.plan().metrics().apply("dataSize").value()
        for n, cls in nodes
        if cls == "ShuffleQueryStageExec"
    ]
    assert len(stage_bytes) == 1 and 1 << 20 <= stage_bytes[0] <= 2 << 20
    reads = [n.partitionSpecs().size() for n, cls in nodes if cls == "AQEShuffleReadExec"]
    assert len(reads) == 1 and reads[0] > 1, reads


def test_persisted_aggregate_is_coalesced(spark):
    """A persisted aggregate over more shuffle partitions than cores is
    stored, and so scanned, as at most ``defaultParallelism`` partitions."""
    cores = _cores(spark)
    with _shuffle_partitions(spark, max(32, 2 * cores)):
        agg = (
            spark.range(2_000)
            .groupBy((F.col("id") % 500).alias("g"))
            .count()
            .persist()
        )
        try:
            nodes = _executed_nodes(agg.select("g"))
            cached = [
                n.relation().cacheBuilder().cachedColumnBuffers().getNumPartitions()
                for n, cls in nodes
                if cls == "InMemoryTableScanExec"
            ]
        finally:
            agg.unpersist()
    assert len(cached) == 1 and 1 <= cached[0] <= cores, cached


def test_driver_memory_is_half_of_mem_total(monkeypatch):
    monkeypatch.delenv("NYUKI_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(session, "_mem_total_kib", lambda: 16_479_424)
    assert driver_memory() == "8046m"
    monkeypatch.setattr(session, "_mem_total_kib", lambda: None)
    assert driver_memory() is None
    monkeypatch.setenv("NYUKI_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"


def test_driver_heap_within_mem_total(spark):
    """The live JVM's maximum heap never exceeds the host's MemTotal."""
    if os.environ.get("NYUKI_DRIVER_MEMORY"):
        pytest.skip("heap set by NYUKI_DRIVER_MEMORY")
    total_kib = session._mem_total_kib()
    if total_kib is None:
        pytest.skip("no /proc/meminfo")
    jvm = spark.sparkContext._jvm
    max_heap = jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert 0 < max_heap <= total_kib * 1024
