"""Host and configuration fingerprint recorded with every result."""

from __future__ import annotations

import os
import subprocess


def _meminfo_kib(key: str) -> int | None:
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def _git_head(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def fingerprint(spark, root: str, seed: int, load_start: tuple[float, ...]) -> dict:
    """Host, versions and the effective Spark confs of ``spark``."""
    import duckdb
    import pyarrow

    conf = spark.conf
    sc = spark.sparkContext
    return {
        "nproc": cpus(),
        "mem_total_kib": _meminfo_kib("MemTotal"),
        "loadavg_start": list(load_start),
        "loadavg_end": list(os.getloadavg()),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory", None),
        "state_store_provider": conf.get("spark.sql.streaming.stateStore.providerClass", None),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "jdk": sc._jvm.System.getProperty("java.version"),
        "git_head": _git_head(root),
        "seed": seed,
    }
