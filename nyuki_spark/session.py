"""SparkSession factory with the engine's verified configuration.

Every config below is load-bearing (validated against the driver fixtures —
see FIXTURES.md):

- ``spark.sql.session.timeZone=UTC`` — fixture timestamps are written UTC;
  the DuckDB oracle reads them UTC; any other zone shifts DATE_TRUNC/EXTRACT.
- ``spark.sql.legacy.parquet.nanosAsLong=true`` — ``events.ts`` is parquet
  TIMESTAMP(NANOS) which Spark 4.x refuses to read natively
  ([PARQUET_TYPE_ILLEGAL]); with this flag it arrives as a long and the
  catalog converts with integer ``ts DIV 1000`` -> ``timestamp_micros`` so
  both engines truncate ns->us identically.
- Arrow execution on — all collection paths and pandas UDFs cross the
  Python<->JVM boundary through Arrow batches (row-wise py4j collection of
  100k rows measurably stalls for minutes).
- AQE on (coalesce partitions + skew join) — at 100 TB this is what re-plans
  shuffles at runtime; at test scale it coalesces the tiny shuffles.

Scale posture: shuffle partitions default to 32, and
``NYUKI_SHUFFLE_PARTITIONS`` lets a real cluster deployment set ~2-3x total
executor cores. AQE then coalesces or splits them at runtime, towards total
shuffle bytes / ``defaultParallelism`` per partition but never above the
64 MB advisory size. Two settings make that target follow the host's cores
for small inputs too:

- ``spark.sql.adaptive.coalescePartitions.minPartitionSize=64k``. Spark's
  1 MB floor folded every shuffle under ~2 MB into one or two tasks. In
  ``llm_ngram_jaccard_capped`` the ~1.5 MB ``groupBy(text)`` shuffle then
  ran the shingle ``MapInPandas`` stage, its broadcast-join probe and a
  ~1.2M-row partial count as one task while the other cores idled. At
  100 TB the advisory size still decides, so large plans do not change.
- ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``.
  Persisted plans are coalesced too. Without it the LSH ``groups`` of
  ``llm_cosine_pairs`` kept 32 partitions of ~62 rows, and each
  ``_buckets`` Arrow task paid Python worker set-up; the same held for the
  hot-key census in ``operators/dedup.py``.

On a 4-CPU, 15 GiB host (``perfbench/run.py --workload llm_dedup``, 10
alternating pairs against the configuration without them) the three
dedup-funnel ids went from 0.255 to 0.335 ops/s (median; +32%, every pair
faster) and the median op from 2.94 s to 2.21 s, with identical results.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_session", "driver_memory", "ENGINE_CONF"]

# Configuration shared by every entry point (tests, bench, driver harness).
ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Size small shuffles and persisted tables to the cores ("Scale
    # posture" above).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Dimension tables (region/nation/supplier/part at test SFs) stay under
    # this threshold -> broadcast hash joins without hints.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Streaming: file-replay sources in tests produce few, small batches.
    "spark.sql.streaming.schemaInference": "false",
    "spark.sql.shuffle.partitions": os.environ.get("NYUKI_SHUFFLE_PARTITIONS", "32"),
    # Self-describing UI is useless headless; saves startup time.
    "spark.ui.enabled": "false",
}


def _mem_total_kib() -> int | None:
    """``MemTotal`` from ``/proc/meminfo`` in KiB, or None off Linux."""
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def driver_memory() -> str | None:
    """The driver heap: ``NYUKI_DRIVER_MEMORY`` if set, else half of the
    host's ``MemTotal``, or None (Spark's 1g default) where that is unknown.

    In local mode the driver JVM is the executor, and Spark's 1g default
    heap OOMs a multi-core run (streaming sliding-window Expand at sf0.1).
    The heap may not take the whole host, though: the JVM's off-heap
    buffers, one Arrow Python worker per core and the page cache live in
    the other half. A real cluster sets executor memory through
    spark-submit instead."""
    override = os.environ.get("NYUKI_DRIVER_MEMORY")
    if override:
        return override
    total_kib = _mem_total_kib()
    if total_kib is None:
        return None
    return f"{total_kib // 2048}m"


def _ship_worker_tuneup() -> None:
    """Put the repo root (which holds ``sitecustomize.py``) on the env
    PYTHONPATH BEFORE the JVM launches, so Python workers import the
    zipimport mtime guard at interpreter startup (guide §4 — see the
    sitecustomize module docstring for the measured 154 ms/task win).

    PySpark's worker factory builds the worker PYTHONPATH as
    ``sparkPythonPath + the JVM process env PYTHONPATH``, and the JVM
    inherits this process's environment at gateway launch — so this is
    a no-op if a session (hence the JVM) already exists, and harmless if
    the driver was launched some other way (workers then simply run
    stock, correctness unaffected)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.exists(os.path.join(root, "sitecustomize.py")):
        return
    current = os.environ.get("PYTHONPATH", "")
    if root in current.split(os.pathsep):
        return
    os.environ["PYTHONPATH"] = (
        f"{current}{os.pathsep}{root}" if current else root
    )


def get_session(
    app_name: str = "nyuki-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    so the same entry point serves tests, bench, and a real cluster (where
    ``master`` is supplied by spark-submit and must be left None).
    """
    _ship_worker_tuneup()
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(ENGINE_CONF)
    # Builder-time only: a running JVM's heap cannot change.
    heap = driver_memory()
    if heap is not None:
        conf["spark.driver.memory"] = heap
    # r13 (VERDICT #5): state-store provider knob for the streaming
    # family. Default leaves Spark's HDFS-backed provider alone; set
    # NYUKI_STREAM_STATE_PROVIDER=rocksdb (or a full provider class name)
    # to A/B RocksDB at identical chunk fidelity. Read at call time so
    # separate bench processes can flip it without code edits.
    provider = os.environ.get("NYUKI_STREAM_STATE_PROVIDER")
    if provider:
        if provider.lower() == "rocksdb":
            provider = (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            )
        conf["spark.sql.streaming.stateStore.providerClass"] = provider
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
