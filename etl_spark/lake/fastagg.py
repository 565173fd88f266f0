"""Metadata-accelerated aggregates: ``COUNT(*)`` / ``MIN`` / ``MAX``
answered from snapshot metadata instead of a table scan.

Iceberg answers ``SELECT count(*)`` from manifest row counts and
min/max from column bounds in the manifest; Trino and Spark both push
these aggregates into the metadata plane when the scan has no residual
filter. This is LakeTable's analogue — the reference runs exactly this
shape of bookkeeping query around every load (row counts over the
capture history, scripts/geral.py:92-109), and at 100 TB a bare count
must never cost a table scan.

Soundness under merge-on-read is the whole problem: a physical file
holds *candidate* rows (tombstones, superseded versions), not the
resolved table. Each bucket therefore takes the cheapest of three
tiers that is PROVABLY exact for it:

1. **footer tier** — a compacted key-unique file whose ``_deleted``
   boolean column statistics prove it all-live (``max == false``):
   every stored row is its key's final LWW winner, so the footer's
   ``num_rows`` / per-column min-max ARE that bucket's contribution.
   Both were read at commit time: the row count and tombstone state
   from the snapshot's file record (``Snapshot.file_records``), the
   bounds from its zone maps. No Spark job; a driver footer read
   (lake/stats.py::read_footers) only for min/max columns outside
   ``stats_cols`` and for files written before the records.
2. **column-scan tier** — a clean file that provably holds tombstones
   (mixed ``_deleted`` stats) or whose stats are unreadable: scan ONLY
   the needed columns of ONLY those files (for a count that is one
   boolean column) and aggregate the live rows. Rows are still unique
   winners, so no LWW aggregate is needed.
3. **resolve tier** — dirty buckets (multi-file or ``nonunique``): the
   ordinary bucket-pruned merge-on-read ``read()``, restricted to
   exactly those buckets.

Patch-semantics tables skip straight to the resolve tier: a compacted
patch file legitimately stores several partial rows per key
(lake/table.py::_patch_fold), so physical row counts and physical
column bounds say nothing about the resolved image.

Caveats, stated rather than hidden: a live file where a requested
min/max column has incomplete footer stats (all-NULL pages, a writer
that skipped stats, NaN-bearing float pages — parquet writers omit
stats they cannot make sound) falls to the column-scan tier for that
file — wasteful, never wrong. Timestamp bounds compare in UTC wall
form (the zone-map convention, lake/stats.py::_norm).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_spark.lake.table import META_DELETED

__all__ = ["fast_count", "fast_min_max"]


# ------------------------------------------------------------- planning

def _plan(snap) -> tuple[list[str], list[int]]:
    """Split a snapshot's buckets into (clean single-unique-file rels,
    dirty bucket ids)."""
    nonuniq = set(snap.nonunique)
    clean: list[str] = []
    dirty: list[int] = []
    for b, fl in snap.buckets.items():
        if not fl:
            continue
        if len(fl) == 1 and fl[0] not in nonuniq:
            clean.append(fl[0])
        else:
            dirty.append(int(b))
    return sorted(clean), sorted(dirty)


def _records(table, snap, rels: list[str], cols: list[str]):
    """For each clean file: ``(rel, rows, state, bounds)`` with its row
    count and tombstone state from its file record and, for files proven
    live, decoded min/max bounds for ``cols`` where the zone maps (else
    one driver footer pass, lake/stats.py::read_footers) supply them
    completely. A file with no record (written before records, or
    unreadable) reads as ``unknown``: it falls to a scan."""
    from etl_spark.lake.stats import decode_bound

    def stored(rel):
        e = snap.file_stats.get(rel, {})
        return {c: e[c] for c in cols if c in e}

    bounds_for = [
        rel for rel in rels
        if (rec := snap.file_records.get(rel)) is not None
        and rec["state"] == "live" and len(stored(rel)) < len(cols)
    ]
    recs, fresh = table._file_records(snap, rels, cols, bounds_for)
    for rel in rels:
        rec = recs.get(rel)
        if rec is None:
            yield rel, None, "unknown", {}
            continue
        got = {**stored(rel), **fresh.get(rel, {})} \
            if rec["state"] == "live" else {}
        yield rel, rec["rows"], rec["state"], {
            c: [decode_bound(v[0]), decode_bound(v[1])]
            for c, v in got.items()}


def _scan_live(table, snap, rels: list[str], cols: list[str]):
    """Read ONLY ``cols`` of the given clean files, tombstones filtered.
    Routed through ``_read_files`` so the projection stays one field per
    column AND evolution semantics hold: renamed columns coalesce their
    old physical names and initial-default columns fill by file vintage
    (a plain explicit-schema read would silently aggregate NULLs for
    both, under-reporting extremes)."""
    fields = [f for f in snap.schema.fields if f.name in cols]
    return (
        table._read_files(snap, rels, user_schema=StructType(fields))
        .filter(~F.col(META_DELETED))
        .drop(META_DELETED)
    )


# ------------------------------------------------------------ aggregates

def fast_count(table, version: int | str | None = None
               ) -> tuple[int, dict[str, int]]:
    """Exact live-row count with as little data I/O as the layout
    permits. Returns ``(count, breakdown)`` where the breakdown reports
    how much of the table each tier answered:
    ``files_footer / files_scanned / buckets_resolved / patch_fallback``.
    A fully-compacted, tombstone-expired table is answered from its file
    records alone: no Spark job, no file opened."""
    snap = table.snapshot(version)
    if snap.props.get("update_semantics", "row") == "patch":
        n = table._read_snap(snap).count()
        return n, {"files_footer": 0, "files_scanned": 0,
                   "buckets_resolved": len(snap.buckets),
                   "patch_fallback": 1}
    clean, dirty = _plan(snap)
    total = 0
    scan: list[str] = []
    footer = 0
    for rel, n, state, _ in _records(table, snap, clean, []):
        if state == "live":
            total += n
            footer += 1
        elif state == "dead":
            footer += 1
        else:
            scan.append(rel)
    if scan:
        total += _scan_live(table, snap, scan, []).count()
    if dirty:
        total += table._read_snap(snap, buckets=dirty).count()
    return total, {"files_footer": footer, "files_scanned": len(scan),
                   "buckets_resolved": len(dirty), "patch_fallback": 0}


def fast_min_max(table, cols: list[str],
                 version: int | str | None = None
                 ) -> tuple[dict[str, tuple], dict[str, int]]:
    """Exact ``MIN``/``MAX`` of live rows for each of ``cols``, answered
    from footer bounds wherever a file is proven all-live and its stats
    are complete. Returns ``({col: (min, max)}, breakdown)``; a column
    with no live non-NULL value maps to ``(None, None)``. NULLs are
    ignored (SQL aggregate semantics); see the module docstring for the
    NaN / all-NULL / timestamp caveats."""
    cols = list(cols)
    snap = table.snapshot(version)
    known = {f.name for f in snap.schema.fields}
    bad = [c for c in cols if c not in known]
    if bad:
        raise ValueError(f"unknown columns: {sorted(bad)}")
    lo: dict[str, object] = {c: None for c in cols}
    hi: dict[str, object] = {c: None for c in cols}

    def _fold(c, mn, mx):
        if mn is not None and (lo[c] is None or mn < lo[c]):
            lo[c] = mn
        if mx is not None and (hi[c] is None or mx > hi[c]):
            hi[c] = mx

    def _fold_df(df):
        row = df.agg(
            *[F.min(c).alias(f"mn_{c}") for c in cols],
            *[F.max(c).alias(f"mx_{c}") for c in cols],
        ).collect()[0]
        for c in cols:
            _fold(c, row[f"mn_{c}"], row[f"mx_{c}"])

    if snap.props.get("update_semantics", "row") == "patch":
        _fold_df(table._read_snap(snap))
        return ({c: (lo[c], hi[c]) for c in cols},
                {"files_footer": 0, "files_scanned": 0,
                 "buckets_resolved": len(snap.buckets),
                 "patch_fallback": 1})

    clean, dirty = _plan(snap)
    from etl_spark.lake.table import _file_vintage

    defaults = {c: d for c, d in snap.default_map().items() if c in cols}
    scan: list[str] = []
    footer = 0
    for rel, n, state, bounds in _records(table, snap, clean, cols):
        if state == "dead":
            footer += 1
        elif defaults and state != "dead" and any(
                _file_vintage(rel) < d["at"] for d in defaults.values()):
            # pre-alter file for an initial-default column: its live
            # rows READ the default, which no footer statistic carries —
            # the (default-aware) scan tier is the exact path
            scan.append(rel)
        elif state == "live" and all(c in bounds for c in cols):
            for c in cols:
                _fold(c, bounds[c][0], bounds[c][1])
            footer += 1
        else:  # mixed tombstones, unknown state, or incomplete stats
            scan.append(rel)
    if scan:
        _fold_df(_scan_live(table, snap, scan, cols))
    if dirty:
        _fold_df(table._read_snap(snap, buckets=dirty).select(*cols))
    return ({c: (lo[c], hi[c]) for c in cols},
            {"files_footer": footer, "files_scanned": len(scan),
             "buckets_resolved": len(dirty), "patch_fallback": 0})
