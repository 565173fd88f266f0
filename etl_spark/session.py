"""SparkSession construction with scale-aware defaults.

The reference tunes batch size / concurrency by env vars
(``IMPULSOETL_LOTE_TAMANHO``, work-queue concurrency — see
/root/reference/src/impulsoetl/siasus/procedimentos.py:507 and
implementar_fluxos.py:133). We centralize the Spark equivalents here:
AQE on (runtime re-plan + skew-join splitting), shuffle partitions sized
to the parallelism level, Arrow enabled for the pandas-UDF residue.

File listing: a ``LakeTable`` read names its data files explicitly
(snapshot metadata, never a directory listing), and Spark starts a
parallel file-listing JOB for any read of more than
``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths (32 by
default) — one job per scan, change feed and merge bloom pass before any
row is read. ``get_spark`` raises that threshold to 100000, above any
snapshot's file count, so the paths are listed on the driver instead.
A session built outside ``get_spark`` keeps Spark's default (correct,
one listing job slower per read).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark"]


def get_spark(
    app_name: str = "etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    ``shuffle_partitions`` defaults to 2x the local core count so AQE can
    coalesce down rather than starve.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N cores; a multi-executor cluster would set this to
        # 2-3x total cores and let AQE coalesce.
        n = cpus if "*" in master else int(master.strip("local[]") or cpus)
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # int64-micros timestamps (Iceberg's mandated physical type), not
        # legacy INT96: INT96 columns carry no usable parquet min/max
        # statistics, which would blind both row-group pushdown and the
        # LakeTable zone-map file pruning (lake/stats.py)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # list a read's explicit file paths on the driver, not in a Spark
        # job (see the module docstring): one stat per path on a local FS.
        # On an object store that is one HEAD per path; the real fix
        # there is a file index built from snapshot metadata (the
        # manifest split), not a listing at all
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "100000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
