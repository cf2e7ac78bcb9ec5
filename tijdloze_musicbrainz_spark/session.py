"""SparkSession factory.

Defaults are tuned for the local[N] test harness but every knob is the
one you would also set on a 1000-executor cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing).
  The reference's per-artist loop accidentally avoided skew (one hot
  artist at a time, ``/root/reference/src/main.py:354-357``); a global
  Spark plan hits it head-on, so AQE skew handling is load-bearing.
- ``spark.sql.shuffle.partitions`` sized to cores locally; at cluster
  scale you size it so a shuffle partition is ~100-200 MB (AQE
  coalescing then trims the small ones).
- Session timezone pinned to UTC so timestamp semantics are identical
  to the DuckDB differential oracle (UTC-naive).
- Arrow on for the few Pandas-UDF code paths (vectorized transfer).
- ``spark.sql.codegen.useIdInClassName=false``: AQE numbers codegen
  stages in the order its query stages finish, so the same stage got
  a different class name on each build. The name is part of the
  generated source, the codegen cache's key, so every build missed
  the cache and paid Janino plus JIT again. Without the id the
  source of an unchanged stage is identical and hits the cache.
- ``spark.sql.codegen.cache.maxEntries`` raised above the working set
  (``CODEGEN_CACHE_ENTRIES``): the default 100-entry LRU evicts
  classes before a repeat build of the same plans can reuse them.
- ``spark.python.sql.dataFrameDebugging.enabled=false``: with it on,
  PySpark 4 wraps every DataFrame/Column API call to capture its Python
  call site, at about four extra py4j round trips per call
  (``getActiveSession``, ``conf.get``, ``PySparkCurrentOrigin.set`` and
  ``clear``). Measured on one warm build of the Column-composed
  ``mb_pipeline_scale``: ~8,300 → ~3,600 round trips. The cost: a
  DataFrame analysis error no longer names the Python line that built
  the failing expression.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Generated classes the codegen cache holds (a static conf, read once per
# JVM). Both benchmark workloads in one JVM compile 193 distinct classes
# (138 of them etl_export's; tools/codegen_reuse.py --cache-entries
# 100000), so 512 holds that working set with room. At the default of 100
# the LRU evicts before reuse: 127 of etl_export's classes recompiled
# every pass even with stable class names.
CODEGEN_CACHE_ENTRIES = 512


def cpu_count() -> int:
    n = os.environ.get("SPARK_GRAFT_CPUS")
    if n:
        return int(n)
    return os.cpu_count() or 4


def export_worker_pythonpath() -> None:
    """Make this package importable by Python WORKER processes.

    Workers resolve imports from the environment ``PYTHONPATH`` the
    JVM inherits at launch — not from the driver's ``sys.path`` — so a
    driver started from a foreign cwd can plan a mapInPandas closure
    the workers then fail to unpickle (``ModuleNotFoundError``). Must
    run BEFORE the JVM starts; on a real cluster the equivalent is
    ``spark-submit --py-files`` / shipping the package archive.

    ``__spark_entry__`` carries a DELIBERATE inline copy of this logic
    (it cannot import the package at module scope — a package-level
    error would zero the whole driver contract). Keep the two in
    sync."""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo_root not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + os.pathsep + os.environ["PYTHONPATH"]
            if os.environ.get("PYTHONPATH")
            else repo_root
        )


def get_spark(
    app_name: str = "tijdloze_musicbrainz_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    export_worker_pythonpath()
    cores = cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # stable generated class names + a cache that holds the working
        # set: a repeat build of a plan compiles nothing (module docstring)
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # no Python call-site capture around every DataFrame API call
        # (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # 128 MB input splits: keeps scan parallelism aligned with the
        # parquet row-group size at any SF.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # managed tables (bucketed writes) live outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
