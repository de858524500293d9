"""SparkSession factory tuned for the engine.

Local testing runs on local[$SPARK_GRAFT_CPUS]; the configs below are chosen
so the same logical plans scale to a multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so shuffle partition counts
  self-tune at 100 TB instead of being hand-fixed for the test scale.
- Arrow on for the (few) Pandas-UDF paths.
- Session time zone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-location independent.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_shipped_for: set[int] = set()


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Any Pandas-UDF / mapInPandas closure that references package symbols is
    unpickled on workers, which import the module by name — the driver's
    sys.path doesn't travel. A zip of the package distributed through
    SparkContext covers arbitrary launch directories (incl. the grading
    driver's). Idempotent per SparkContext."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _shipped_for:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    staging = os.path.join(tempfile.gettempdir(), "wal_consumer_spark_pyfiles")
    os.makedirs(staging, exist_ok=True)
    zip_base = os.path.join(staging, "wal_consumer_spark")
    zip_path = shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir), "wal_consumer_spark")
    sc.addPyFile(zip_path)
    _shipped_for.add(key)


def driver_memory(phys_bytes: int) -> str:
    """Default `spark.driver.memory`: 60% of physical RAM in whole GiB,
    at least 1g and at most 16g, so a local driver heap leaves the host
    room for Python workers and the page cache (a 15 GiB host gets 9g)."""
    return f"{min(16, max(1, int(phys_bytes * 0.6) // 2**30))}g"


def default_master() -> str:
    """`local[$SPARK_GRAFT_CPUS]`, else one task slot per CPU this
    process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    return f"local[{cpus}]"


def get_spark(
    app_name: str = "wal-consumer-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        master = default_master()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Parallelism floor for AQE coalescing. The default 1m floor is an
        # IO-oriented heuristic: it assumes a task that reads <1 MB is not
        # worth scheduling. The engine's reduce stages are frequently
        # CPU-dense over FEW bytes (interpreted higher-order expressions:
        # shingling, MinHash permutations, in-row pair generation), where
        # byte-based coalescing squeezes a 32-core host down to 2-4 tasks.
        # 64k keeps those stages at the cluster's parallelism while staying
        # inert at scale (any real-scale partition is far above 1 MB, so
        # the floor never engages there; advisory target size unchanged).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
