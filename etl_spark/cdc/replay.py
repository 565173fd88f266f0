"""Batch replay: apply a landed CDC stream epoch-by-epoch into a LakeTable.

The reference's scheduled-capture loop (read pending captures → lock →
extract → transform → validate → load → ledger;
/root/reference/src/impulsoetl/scripts/geral.py:39-116) becomes: list WAL
epochs → skip those already in the commit manifest → MERGE each with
``manifest_key=f"epoch:{e}"`` → record lineage/metrics.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_spark.lake import LakeTable, MergeStats

__all__ = ["replay_events", "replay_batches", "pending_epochs"]


def pending_epochs(table: LakeTable, epochs: list[int]) -> list[int]:
    """Epochs not yet in the commit manifest (the reference's pending-work
    scan over ``capturas_agendamentos``, scripts/geral.py:61-65)."""
    snap = table.current_snapshot()
    return [e for e in epochs if not snap.has_applied(f"epoch:{e}")]


def replay_batches(
    table: LakeTable,
    events: DataFrame,
    epochs: list[int] | None = None,
    metrics_sink=None,
) -> list[MergeStats]:
    """Replay a bounded event DataFrame (with an ``epoch`` column) in epoch
    order. Idempotent: already-applied epochs are metadata no-ops."""
    if epochs is None:
        epochs = [r["epoch"] for r in events.select("epoch").distinct().orderBy("epoch").collect()]
    stats: list[MergeStats] = []
    for e in sorted(epochs):
        batch = events.filter(F.col("epoch") == F.lit(e)).drop("epoch")
        t0 = time.monotonic()
        st = table.merge(batch, manifest_key=f"epoch:{e}")
        if metrics_sink is not None:
            metrics_sink.record(st, wall_sec=time.monotonic() - t0)
        stats.append(st)
    return stats


def _epoch_schema(root_fields: list, epoch_dir: str):
    """Read schema of one WAL epoch: the WAL-root schema plus the columns
    its first leaf file adds. Spark infers the root schema from ONE file,
    so a column that later epochs add would otherwise be dropped and
    additive schema evolution would never run; one driver-side footer
    read (~1 ms) finds it without a schema-inference job per epoch."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type
    from pyspark.sql.types import StructField, StructType

    leaves = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(epoch_dir) for f in fs
        if f.endswith(".parquet") and not f.startswith(("_", ".")))
    known = {f.name for f in root_fields}
    added = [StructField(f.name, from_arrow_type(f.type), True)
             for f in (pq.read_schema(leaves[0]) if leaves else [])
             if f.name not in known]
    return StructType(root_fields + added)


def replay_events(
    spark: SparkSession,
    events_dir: str,
    table_path: str,
    n_buckets: int = 32,
    metrics_sink=None,
    key_cols: list[str] | None = None,
    version_cols: list[str] | None = None,
    table_props: dict[str, str] | None = None,
) -> tuple[LakeTable, list[MergeStats]]:
    """End-to-end batch replay of a landed WAL directory (``epoch=N``
    subdirs) into a LakeTable at ``table_path`` (created if absent)."""
    sample = spark.read.parquet(events_dir)
    user_fields = [f for f in sample.schema.fields if f.name not in ("op", "epoch")]
    from pyspark.sql.types import StructType

    if LakeTable.exists(table_path):
        table = LakeTable.load(spark, table_path)
    else:
        table = LakeTable.create(
            spark,
            table_path,
            schema=StructType(user_fields),
            key_cols=key_cols or ["repo", "path"],
            version_cols=version_cols or ["op_ts", "event_id"],
            n_buckets=n_buckets,
            props=table_props,
        )
    epochs = sorted(
        int(d.split("=")[1]) for d in os.listdir(events_dir) if d.startswith("epoch=")
    )
    todo = pending_epochs(table, epochs)
    # file schema pinned from the WAL-root read above (MINUS the
    # partition-inferred `epoch` dir column, absent from leaf files —
    # null-filling it would evolve the table with a spurious column):
    # skips one footer-inference job per epoch, pure driver latency that
    # is part of the replay's non-scaling cost at any cluster size
    root_fields = [f for f in sample.schema.fields if f.name != "epoch"]
    stats: list[MergeStats] = []
    for e in todo:
        edir = os.path.join(events_dir, f"epoch={e}")
        batch = spark.read.schema(_epoch_schema(root_fields, edir)).parquet(edir)
        t0 = time.monotonic()
        st = table.merge(batch, manifest_key=f"epoch:{e}")
        if metrics_sink is not None:
            metrics_sink.record(st, wall_sec=time.monotonic() - t0)
        stats.append(st)
    return table, stats
