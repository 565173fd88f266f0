"""Chunked initial-snapshot bootstrap with live-tail handoff.

Starting a NEW lake table from a source that is already huge is the one
CDC moment the replay path alone cannot cover: the change stream only
describes the future, so the existing rows must arrive through a full
snapshot — while the tail keeps flowing. The reference bootstraps a
source the same way at its own scale: one full historical capture, then
the scheduled incremental slices take over
(/root/reference/src/impulsoetl/scripts/geral.py:36-116 — the initial
`periodo` sweep before the monthly re-captures). At lake scale the
industry shape is DBLog / Debezium's "incremental snapshot": read the
source in chunks, interleave the chunks with the live stream, and let a
per-row ordering rule decide every snapshot-vs-stream race.

Here that ordering rule is the engine's own LWW MERGE, which makes the
algorithm almost declarative:

- Snapshot rows land as ``op='I'`` events stamped at the **source
  position of the snapshot read** (per-row if the source exposes a row
  version, else one uniform low-watermark stamp). A live event that the
  snapshot already reflects carries a lower position and loses the LWW
  race; an event emitted after the read outranks the snapshot row and
  wins. No watermark-window bookkeeping, no chunk/event dedup pass.
- Keys deleted before the snapshot are simply absent from it, and the
  tail (which must start at or before the snapshot position —
  at-least-once overlap is absorbed by LWW) either never replays their
  pre-snapshot history or replays it to the same tombstoned end state.
- Keys deleted by the tail DURING the bootstrap are the one genuine
  hazard: the delete outranks the snapshot stamp, but only as long as
  its tombstone physically survives. A tombstone expired mid-bootstrap
  would let a later-arriving snapshot chunk resurrect the deleted row.
  So an open bootstrap sets a ``bootstrap_floor`` table property and
  :meth:`LakeTable.compact` refuses ``expire_tombstones_before`` while
  it is set — the same commit machinery releases it when the last chunk
  lands.

Chunks align to the destination's hash buckets (``bucket % n_chunks``),
so each chunk's MERGE touches only its own buckets, and each chunk
commits under a manifest key ``bootstrap:{tag}:{i}`` — a crashed
bootstrap re-run skips every chunk the ledger already holds (work-unit
prefix: contiguous folding keeps the metadata bounded at any chunk
count). Live-tail merges interleave freely between chunks; commit
conflicts retry like any concurrent writer.

Scale: the snapshot DataFrame is never collected or re-read per chunk
beyond its own filtered slice; each chunk is one ordinary bucket-pruned
MERGE, so bootstrap cost ≡ replay cost of the same rows, and the table
serves reads (and downstream syncs, gated on `bootstrap_active`) the
whole time.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_spark.lake import LakeTable

__all__ = [
    "BOOTSTRAP_FLOOR_PROP",
    "BootstrapStats",
    "bootstrap_active",
    "bootstrap_snapshot",
    "bootstrap_status",
]

#: table property naming the in-flight bootstrap; while present,
#: ``compact(expire_tombstones_before=...)`` refuses to drop tombstones
#: (a mid-bootstrap expiry could resurrect a key deleted by the tail).
BOOTSTRAP_FLOOR_PROP = "bootstrap_floor"


@dataclass(frozen=True)
class BootstrapStats:
    tag: str
    chunks_total: int
    chunks_applied: int
    chunks_skipped: int  # already in the ledger (crash-resume)
    rows_loaded: int     # rows the applied chunks wrote
    table_version: int


def _chunk_expr(snap_meta, n_chunks: int):
    # chunk = dest bucket % n_chunks: deterministic across resume (as
    # long as the table is not rebucketed mid-bootstrap) and bucket-
    # aligned, so each chunk's merge rewrites only its own buckets.
    from etl_spark.lake.table import _bucket_of

    bucket = _bucket_of(snap_meta.key_cols, snap_meta.n_buckets)
    return F.pmod(bucket, F.lit(n_chunks)).cast("int")


def bootstrap_active(table: LakeTable) -> str | None:
    """The tag of the in-flight bootstrap, or None. Downstream consumers
    that need a COMPLETE initial image (e.g. a replica sync bootstrap)
    should wait until this clears; readers that tolerate a growing
    prefix may read throughout."""
    return table.current_snapshot().props.get(BOOTSTRAP_FLOOR_PROP)


def bootstrap_status(table: LakeTable, tag: str, n_chunks: int) -> dict:
    """Ledger-derived progress: which chunk manifest keys are applied."""
    snap = table.current_snapshot()
    done = [i for i in range(n_chunks)
            if snap.has_applied(f"bootstrap:{tag}:{i}")]
    return {
        "tag": tag,
        "chunks_total": n_chunks,
        "chunks_applied": len(done),
        "active": snap.props.get(BOOTSTRAP_FLOOR_PROP) == tag,
    }


def bootstrap_snapshot(
    dest: LakeTable,
    snapshot: DataFrame,
    version: dict[str, object] | None = None,
    *,
    tag: str = "snap",
    n_chunks: int = 8,
) -> BootstrapStats:
    """Load a full source snapshot into ``dest`` in ``n_chunks``
    bucket-aligned, exactly-once chunks, concurrently with the live CDC
    tail.

    ``snapshot`` holds key + payload columns (no op column). ``version``
    stamps every row with one uniform source position (dict over the
    table's version columns — the position the snapshot was read at);
    pass ``None`` when the snapshot itself carries the version columns
    (a per-row source version — the faithful form, e.g. the row's last
    LSN). Either way the stamp must be drawn from the SAME total order
    as the live feed's versions: an event emitted after the snapshot
    read must outrank the stamp, or it would lose the LWW race the
    handoff depends on.

    Re-running after a crash (same ``tag`` and ``n_chunks``) skips the
    chunks already in the ledger. Raises if a DIFFERENT bootstrap is in
    flight, or on patch-semantics tables (NULL payload means "keep
    previous" there, so a snapshot row could not null a column the
    source nulled before a lower-versioned live event set it)."""
    if n_chunks < 1:
        raise ValueError(f"n_chunks must be >= 1, got {n_chunks}")
    snap_meta = dest.current_snapshot()
    if snap_meta.rescale_to is not None:
        # chunk assignment (_chunk_expr) is recomputed from the CURRENT
        # n_buckets on every resume; a rescale finalize mid-bootstrap
        # would repartition the chunks under already-applied manifest
        # keys and silently skip rows. start_rescale refuses while a
        # bootstrap floor is set — this is the mirror-image guard.
        raise ValueError(
            f"bootstrap is blocked while a rescale to "
            f"{snap_meta.rescale_to} is in flight (watermark "
            f"{snap_meta.rescale_watermark}/{snap_meta.n_buckets}): "
            f"drive rescale_step() to completion first"
        )
    if snap_meta.props.get("update_semantics", "row") == "patch":
        raise ValueError(
            "bootstrap needs row update semantics: under patch, a NULL "
            "snapshot column means 'keep previous' and cannot overrule "
            "a lower-versioned live event's value"
        )
    key_cols, ver_cols = snap_meta.key_cols, snap_meta.version_cols
    payload_cols = [
        f.name for f in snap_meta.schema.fields
        if f.name not in key_cols and f.name not in ver_cols
    ]
    types = {f.name: f.dataType for f in snap_meta.schema.fields}
    need = key_cols + payload_cols + ([] if version else ver_cols)
    missing = [c for c in need if c not in snapshot.columns]
    if missing:
        raise ValueError(f"snapshot missing table columns: {missing}")
    if version is not None and set(version) != set(ver_cols):
        raise ValueError(
            f"version stamp must cover exactly {ver_cols}, got "
            f"{sorted(version)}"
        )

    # ---- tombstone-expiry interlock ------------------------------------
    open_tag = snap_meta.props.get(BOOTSTRAP_FLOOR_PROP)
    if open_tag is None:
        dest.alter_props({BOOTSTRAP_FLOOR_PROP: tag})
    elif open_tag != tag:
        raise ValueError(
            f"bootstrap {open_tag!r} is already in flight; finish or "
            f"resume it before starting {tag!r}"
        )

    if version is not None:
        stamped = [F.lit(version[c]).cast(types[c]).alias(c)
                   for c in ver_cols]
    else:
        stamped = [F.col(c).cast(types[c]).alias(c) for c in ver_cols]
    events = snapshot.select(
        F.lit("I").alias("op"),
        *[F.col(c).cast(types[c]).alias(c) for c in key_cols],
        *stamped,
        *[F.col(c).cast(types[c]).alias(c) for c in payload_cols],
    ).withColumn("__chunk", _chunk_expr(snap_meta, n_chunks))

    applied = skipped = rows = 0
    last_version = snap_meta.version
    for i in range(n_chunks):
        key = f"bootstrap:{tag}:{i}"
        if dest.current_snapshot().has_applied(key):
            skipped += 1
            continue
        chunk = events.filter(F.col("__chunk") == i).drop("__chunk")
        stats = dest.merge(chunk, manifest_key=key)
        applied += 1
        rows += stats.rows_written
        last_version = stats.version

    # release the expiry interlock only if this bootstrap still owns it
    if dest.current_snapshot().props.get(BOOTSTRAP_FLOOR_PROP) == tag:
        last_version = dest.alter_props({BOOTSTRAP_FLOOR_PROP: None})
    return BootstrapStats(
        tag=tag,
        chunks_total=n_chunks,
        chunks_applied=applied,
        chunks_skipped=skipped,
        rows_loaded=rows,
        table_version=last_version,
    )
