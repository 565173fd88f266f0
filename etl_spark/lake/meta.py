"""Metadata tables: the table's own metadata AS DataFrames — Iceberg's
``SELECT * FROM tbl.files / tbl.snapshots / tbl.refs`` surface
re-expressed over LakeTable's snapshot log.

Why this is an operator, not a debug helper: every ops question a 100 TB
deployment asks daily — "how many delta files is bucket 17 carrying",
"which commit added these rows", "what is pinned and by whom", "is the
exactly-once ledger where I think it is" — is a QUERY over metadata, and
the answers must come from the metadata plane alone (snapshot JSON +
parquet footers), never from scanning data. The reference answers the
same questions against Postgres catalogs and its capture-history table
(`capturas_*`, scripts/geral.py:92-109); here they are DataFrames you
join, filter and aggregate like any other table.

Kinds
-----
- ``snapshots`` — one row per RETAINED snapshot: version, parent,
  data/added file counts, cumulative applied_count, rollback marker,
  maintenance flag (compaction/rebucket commits record ``added=[]``).
  Driver-side: the snapshot log is O(retained versions), already the
  thing ``expire_snapshots`` bounds.
- ``files`` — one row per data file of one snapshot: bucket, row count,
  bytes, row groups. Footer reads run EXECUTOR-side, one metadata-only
  job over the whole table: a query over every live file, unlike the
  per-commit driver footer pass (lake/stats.py::read_footers) that
  reads only a write's new files.
- ``partitions`` — ``files`` aggregated per bucket (file/row/byte
  totals): the compaction planner's input — read amplification per
  bucket at a glance.
- ``ledger`` — the exactly-once manifest state: every key in the
  bounded recent window plus the per-prefix folded watermark ranges.
- ``refs`` — tags/branches (lake/refs.py): name, kind, pinned version.
- ``stats`` — the zone-map/bloom skipping metadata, exploded: one row
  per (file, column) with the JSON-encoded bounds and a bloom flag —
  "why didn't this file prune" answered with a filter.

All kinds accept a version (or ref name) and reflect THAT snapshot —
``meta("files", "q2-audited")`` is the file manifest of the pinned
vintage, which is how an auditor verifies a purge never touched it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["metadata_table", "META_KINDS"]

META_KINDS = ("snapshots", "files", "partitions", "ledger", "refs", "stats")

_FILES_SCHEMA = ("file string, bucket int, row_count bigint, "
                 "size_bytes bigint, row_groups int")
_SNAPSHOTS_SCHEMA = ("version bigint, parent bigint, data_files bigint, "
                     "added_files bigint, applied_count bigint, "
                     "rollback_of bigint, n_buckets int, "
                     "is_maintenance boolean, committed_at double, "
                     "rescale_to int, rescale_watermark int")
_LEDGER_SCHEMA = "entry string, kind string, wm_lo bigint, wm_hi bigint"
_REFS_SCHEMA = "name string, kind string, version bigint"
_STATS_SCHEMA = ("file string, column string, min_json string, "
                 "max_json string, is_bloom boolean")


def _files_df(spark: SparkSession, root: str, snap,
              buckets=None) -> DataFrame:
    sel = snap.buckets if buckets is None else {
        b: snap.buckets.get(b, []) for b in buckets
    }
    pairs = sorted(
        (f, b) for b, fl in sel.items() for f in fl
    )
    if not pairs:
        return spark.createDataFrame([], schema=_FILES_SCHEMA)

    def _part(it):
        import pyarrow.parquet as pq
        for rel, b in it:
            p = os.path.join(root, rel)
            try:
                md = pq.ParquetFile(p).metadata
                yield (rel, int(b), int(md.num_rows),
                       int(os.path.getsize(p)), int(md.num_row_groups))
            except Exception:  # noqa: BLE001 — a vanished/corrupt file
                yield (rel, int(b), None, None, None)  # shows as NULLs

    n = max(1, min(len(pairs), 64))
    rdd = spark.sparkContext.parallelize(pairs, n).mapPartitions(_part)
    return spark.createDataFrame(rdd, schema=_FILES_SCHEMA)


def metadata_table(table, kind: str, version=None,
                   buckets=None) -> DataFrame:
    """One of :data:`META_KINDS` as a DataFrame (see module docstring).
    ``table`` is a LakeTable (duck-typed to keep this module free of the
    import cycle); ``version`` may be a number or a ref name. For the
    ``files``/``partitions`` kinds, ``buckets`` restricts the footer
    sweep to those buckets BEFORE any I/O (the maintenance planner's
    O(dirty files) path, lake/planner.py)."""
    spark = table.spark
    if kind == "snapshots":
        rows = []
        for v in table.versions():
            s = table.snapshot(v)
            rows.append((
                int(s.version),
                None if s.parent is None else int(s.parent),
                sum(len(fl) for fl in s.buckets.values()),
                None if s.added is None else len(s.added),
                int(s.applied_count),
                None if s.rollback_of is None else int(s.rollback_of),
                int(s.n_buckets),
                s.added == [],
                None if s.commit_ts is None else float(s.commit_ts),
                None if s.rescale_to is None else int(s.rescale_to),
                None if s.rescale_to is None
                else int(s.rescale_watermark),
            ))
        return spark.createDataFrame(rows, schema=_SNAPSHOTS_SCHEMA)

    snap = table.snapshot(version)
    if kind == "files":
        return _files_df(spark, table.path, snap, buckets)
    if kind == "partitions":
        from pyspark.sql import functions as F

        return (
            _files_df(spark, table.path, snap, buckets)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("files"),
                 F.sum("row_count").alias("rows"),
                 F.sum("size_bytes").alias("bytes"))
        )
    if kind == "ledger":
        rows = [(k, "window", None, None) for k in snap.applied]
        kinds = snap.cursor_prefixes()
        for prefix, (lo, hi) in sorted(snap.applied_watermarks.items()):
            rows.append((
                prefix,
                "cursor" if prefix in kinds else "folded",
                int(lo), int(hi),
            ))
        return spark.createDataFrame(rows, schema=_LEDGER_SCHEMA)
    if kind == "refs":
        from etl_spark.lake.refs import list_refs

        rows = [(r.name, r.kind, int(r.version))
                for r in list_refs(table.path).values()]
        return spark.createDataFrame(rows, schema=_REFS_SCHEMA)
    if kind == "stats":
        rows = []
        for rel, entry in sorted(snap.file_stats.items()):
            for col, bound in sorted(entry.items()):
                bloom = col.endswith("#bloom")
                rows.append((
                    rel,
                    col[:-6] if bloom else col,
                    None if bloom else json.dumps(bound[0], sort_keys=True),
                    None if bloom else json.dumps(bound[1], sort_keys=True),
                    bloom,
                ))
        return spark.createDataFrame(rows, schema=_STATS_SCHEMA)
    raise ValueError(f"unknown metadata kind {kind!r}; one of {META_KINDS}")
