"""SparkSession factory with scale-oriented defaults.

Tuned for the 100 TB design point (AQE on, skew-join handling, Arrow batch
transfer, compact shuffle) while remaining correct on local[N].  Shuffles
start wide and AQE coalesces them down to the data actually present; that
holds for cached plans as well, so a persisted grouped relation is as
right-sized as an uncached one, on a laptop and on a cluster.  On a real
cluster the same config ships via spark-submit --conf / --py-files.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the --py-files mechanism).

    Local test sessions and clusters alike: executors' Python workers do not
    inherit the driver's sys.path, so UDFs referencing this package fail
    unless it is distributed.  On a production cluster this is
    ``spark-submit --py-files dgspark.zip``; here we build the zip once per
    session and register it via addPyFile.
    """
    import tempfile
    import zipfile
    from pathlib import Path

    sc = spark.sparkContext
    if getattr(sc, "_dgspark_shipped", False):
        return

    # byte-deterministic zip (sorted entries, zeroed timestamps): re-adding
    # the same file name with identical contents is a no-op for Spark,
    # whereas differing bytes crash executors mid-job.
    pkg_dir = Path(__file__).resolve().parent
    staging = Path(tempfile.mkdtemp(prefix="dgspark_pyfiles_"))
    archive = staging / "docling_graph_spark.zip"
    with zipfile.ZipFile(archive, "w", zipfile.ZIP_STORED) as zf:
        for p in sorted(pkg_dir.rglob("*.py")):
            rel = p.relative_to(pkg_dir.parent)
            info = zipfile.ZipInfo(str(rel), date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(info, p.read_bytes())
    sc.addPyFile(str(archive))
    sc._dgspark_shipped = True


def get_spark(
    app_name: str = "docling-graph-spark",
    cores: Optional[int] = None,
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(DEFAULT_SHUFFLE_PARTITIONS, cores)
    # PYTHONPATH for python processes the JVM launches directly: executors'
    # UDF workers get the package via addPyFile (ship_package below), but
    # the Python *data-source runners* (streaming offset management, batch
    # planning) are separate driver-side python workers that only see
    # PYTHONPATH — exactly what `spark-submit --py-files` exports on a real
    # cluster.  Must be set before the JVM gateway launches.
    _pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _pkg_parent not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _pkg_parent + (os.pathsep + _pp if _pp else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # --- adaptive execution: runtime re-plan, skew-join splitting,
        #     post-shuffle partition coalescing — essential at 100 TB scale
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # start shuffles wide and let AQE coalesce DOWN: a fixed small
        # partition count makes big shuffles spill (fixed spill I/O is the
        # classic non-scaling term); oversized initial partitions cost
        # little once AQE merges them -- cached plans included, see below
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(max(shuffle_partitions * 8, 128)))
        # let AQE coalesce a shuffle that sits under a persisted relation
        # too (Spark defaults this off).  The pipeline itself persists no
        # shuffle output (its one cached relation is the UDF output), but
        # callers cache grouped relations (graph nodes/edges, term
        # aggregates); without this every consumer of such a cache runs
        # initialPartitionNum tasks and every write of it that many files,
        # however small the run
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # --- Arrow transfer for pandas UDFs (the extraction hot path)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.execution.arrow.pyspark.selfDestruct.enabled", "true")
        # --- scans: keep partitions near executor-memory-friendly sizes
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # --- broadcast threshold: dimension/remap tables broadcast freely
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # JVM (not ICU) case mappings for UTF8_BINARY lower/upper/initcap:
        # identical results on ASCII corpora, and the ICU path measured ~10x
        # slower per call with a synchronized BreakIterator cache that
        # serializes all executor threads under concurrency (32-thread
        # local[] run: 47 s -> 5 s on the JVM mention scan the pipeline
        # once ran; language detection still lowercases page text)
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
