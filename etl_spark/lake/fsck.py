"""Table integrity check (fsck): verify that a snapshot's METADATA
claims hold against the PHYSICAL table — the lake-layer analogue of the
reference's post-load verification modules (raw-vs-loaded aggregate
asserts in /root/reference/src/impulsoetl/sisab/
relatorio_validacao_producao/verificacao.py:15-98 and the hard
validators that abort a batch, siasus/procedimentos.py:436-449), and of
Iceberg's metadata/orphan maintenance procedures run as scheduled ops.

Why this exists at 100 TB: the engine's read planner believes the
snapshot blindly — zone maps prune files, footer stats answer
aggregates, bloom sidecars refuse lookups, the routing function decides
which bucket a point read touches. Silent physical damage (a vanished
or bit-rotted file, a stale sidecar, a forged bound) therefore turns
into silently WRONG ANSWERS, not errors. ``check_integrity`` makes the
trust chain auditable on a schedule:

Metadata plane (driver-side, O(files) dict work, zero data I/O):

- structural: bucket ids within ``[0, id_space)``; mid-rescale, an
  unmigrated id must sit in ``[watermark, n_buckets)`` and a child id's
  preimage must be below the watermark; ``nonunique``/``added`` only
  reference files the snapshot holds; applied-ledger keys unique and
  watermark ranges ordered.

Physical plane (one executor-side footer sweep, metadata-only — still
zero DATA I/O; the engine's only executor footer job, because checking
the physical files is its purpose):

- every referenced data file exists and its parquet footer is readable;
- every bloom sidecar pointer resolves to an existing sidecar file;
- stored zone-map bounds agree with the file's OWN footer statistics
  (the bounds are derived from footers at harvest time, so a mismatch
  means the file was replaced or the snapshot forged);
- the file record (``Snapshot.file_records``: rows, bytes, row groups,
  tombstone state — what ``meta("files")``, ``fast_count`` and the
  planners trust without opening the file) agrees with the file's own
  footer and on-disk size.

Deep plane (``deep=True`` — O(table) data scan, schedule like a full
compaction):

- row placement: every physical row hashes to the bucket that holds it
  under the snapshot's routing (mid-rescale: the watermark CASE). A
  misplaced row is unreachable by point lookups and consumer cursors —
  the worst silent failure this format admits.

Returns a report dict; ``ok`` is True iff every list is empty. Findings
name the file/bucket so the repair is targeted: a damaged clean bucket
restores from a surviving older snapshot (``rollback``) or re-ingests
its keys; a stale sidecar/bound re-harvests via ``backfill_stats``.
"""

from __future__ import annotations

import os

__all__ = ["check_integrity"]


def _meta_findings(snap) -> dict[str, list]:
    out: dict[str, list] = {
        "bad_bucket_ids": [],
        "dangling_nonunique": [],
        "dangling_added": [],
        "ledger_violations": [],
    }
    space = snap.id_space()
    n, wm = snap.n_buckets, snap.rescale_watermark
    for b in snap.buckets:
        if not (0 <= b < space):
            out["bad_bucket_ids"].append(
                {"bucket": b, "reason": f"outside [0, {space})"})
        elif snap.rescale_to is not None:
            # a child id (preimage migrated) may be any b with
            # b % n < wm; an unmigrated id must be its own preimage in
            # [wm, n). An id failing BOTH is unreachable by routing.
            if not (b % n < wm or wm <= b < n):
                out["bad_bucket_ids"].append(
                    {"bucket": b,
                     "reason": f"unroutable mid-rescale (watermark {wm}, "
                               f"n_buckets {n}, target {snap.rescale_to})"})
    referenced = {f for fl in snap.buckets.values() for f in fl}
    out["dangling_nonunique"] = sorted(set(snap.nonunique) - referenced)
    if snap.added:
        out["dangling_added"] = sorted(set(snap.added) - referenced)
    if len(set(snap.applied)) != len(snap.applied):
        seen: set = set()
        dups = {k for k in snap.applied if k in seen or seen.add(k)}
        out["ledger_violations"].append(
            {"reason": "duplicate applied keys", "keys": sorted(dups)})
    for pfx, rng in snap.applied_watermarks.items():
        if rng[0] > rng[1]:
            out["ledger_violations"].append(
                {"reason": "inverted watermark range", "prefix": pfx,
                 "range": list(rng)})
    return out


def _physical_findings(table, snap) -> dict[str, list]:
    """One executor-side sweep over (file, bucket, expectations):
    existence, footer readability, sidecar pointers, zone-map bounds and
    the file record vs the file's own footer. The bound and record
    checks re-run the exact harvest code (lake/stats._footer_stats and
    file_record) against the file as it is NOW and compare verbatim —
    the stored values came from those same functions at write time, so
    any drift means the bytes under the snapshot changed."""
    stats_cols = [c for c in snap.stats_cols()]
    work = []  # (rel, bucket, {col: [enc_min, enc_max]}, [sidecars], record)
    for b, fl in snap.buckets.items():
        for f in fl:
            entry = snap.file_stats.get(f, {})
            bounds = {c: v for c, v in entry.items()
                      if c in stats_cols and not c.endswith("#bloom")}
            sidecars = [v[0][1:] for k, v in entry.items()
                        if k.endswith("#bloom") and isinstance(v[0], str)
                        and v[0].startswith("@")]
            work.append((f, b, bounds, sidecars, snap.file_records.get(f)))
    out: dict[str, list] = {"missing_files": [], "corrupt_footers": [],
                            "missing_sidecars": [], "stats_mismatches": [],
                            "record_mismatches": []}
    if not work:
        return out

    root = table.path
    cols = list(stats_cols)

    def _part(it):
        import pyarrow.parquet as pq

        from etl_spark.lake.stats import _footer_stats, file_record
        for rel, b, bounds, sidecars, record in it:
            p = os.path.join(root, rel)
            at = {"file": rel, "bucket": b}
            if not os.path.isfile(p):
                yield "missing_files", at
                continue
            try:
                # always opens the footer — corruption surfaces even on
                # files with no zone-mapped columns
                md = pq.read_metadata(p)
                fresh = _footer_stats(md, cols)
            except Exception as exc:  # noqa: BLE001 — that IS the finding
                yield "corrupt_footers", {**at, "error": str(exc)[:200]}
                continue
            actual = file_record(md, os.path.getsize(p))
            if record is not None and actual != record:
                yield "record_mismatches", {
                    **at, "detail": f"stored {record!r} vs file {actual!r}"}
            for sc in sidecars:
                if not os.path.isfile(os.path.join(root, sc)):
                    yield "missing_sidecars", {**at, "sidecar": sc}
            for col, stored in bounds.items():
                now = fresh.get(col)  # [enc_min, enc_max] dicts — the
                # snapshot's value is the same structure JSON-round-tripped
                if now != list(stored):
                    yield "stats_mismatches", {**at, "detail": (
                        f"{col}: stored {stored!r} vs footer {now!r}")}

    sc = table.spark.sparkContext
    n = max(1, min(len(work), 64))
    for kind, finding in (
            sc.parallelize(work, n).mapPartitions(_part).collect()):
        out[kind].append(finding)
    return out


def _deep_findings(table, snap) -> dict[str, list]:
    """O(table) data scan, ONE distributed job: every stored row must
    route to the bucket holding it. A per-bucket loop would be
    O(n_buckets) sequential job launches — hours of pure scheduling at
    the format's 10^5-bucket design point — so the whole table is read
    in one pass with ``input_file_name`` and joined (broadcast) to the
    snapshot's file→bucket map on the file BASENAME, which is unique by
    construction (every part file carries its writer task's uuid)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from etl_spark.lake.table import _route_of

    pairs = [(os.path.basename(f), b)
             for b, fl in snap.buckets.items() for f in fl]
    files = [f for fl in snap.buckets.values() for f in fl]
    if not files:
        return {"misplaced_rows": []}
    key_schema = StructType(
        [f for f in snap.schema.fields if f.name in snap.key_cols])
    owners = table.spark.createDataFrame(
        pairs, "__base string, __owner int")
    bad = (
        table._read_files(snap, files, user_schema=key_schema)
        .withColumn("__base",
                    F.element_at(F.split(F.input_file_name(), "/"), -1))
        .join(F.broadcast(owners), "__base")
        .select(_route_of(snap).alias("__routed"), "__owner")
        .filter(F.col("__routed") != F.col("__owner"))
        .groupBy("__owner", "__routed").count().collect()
    )
    return {"misplaced_rows": sorted(
        ({"bucket": r["__owner"], "routed_to": r["__routed"],
          "rows": r["count"]} for r in bad),
        key=lambda m: (m["bucket"], m["routed_to"]))}


def check_integrity(table, version: int | str | None = None,
                    deep: bool = False) -> dict:
    """Run the integrity audit against a snapshot (default: current).
    See module docstring for the three planes. Returns a report dict
    with ``ok``, ``files_checked``, and one list per finding kind."""
    snap = table.snapshot(version)
    report: dict = {"version": snap.version,
                    "files_checked": sum(len(fl)
                                         for fl in snap.buckets.values())}
    report.update(_meta_findings(snap))
    report.update(_physical_findings(table, snap))
    if deep:
        report.update(_deep_findings(table, snap))
    report["ok"] = not any(
        v for k, v in report.items()
        if isinstance(v, list) and v
    )
    return report
