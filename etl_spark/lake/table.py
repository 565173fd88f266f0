"""LakeTable — snapshot-isolated, bucket-partitioned upsert table on parquet.

**Why not Iceberg itself:** the target design is `MERGE INTO` an Iceberg
table, but this environment ships no Iceberg/Delta/Hudi runtime jar and no
network to fetch one (`ls $SPARK_HOME/jars | grep -i iceberg` → empty).
LakeTable therefore implements the same capability contract Iceberg would
provide — atomic snapshot commits with optimistic concurrency, commit
manifests, additive schema evolution, time travel, merge-on-read deltas +
compaction, retention/vacuum — as a self-contained parquet layout. The
engine-side logic (LWW dedup, manifest keys, bucketed layout, watermark)
is exactly what a real-Iceberg deployment keeps; swapping the physical
sink for `MERGE INTO iceberg.tbl` is mechanical.

Design (Spark-first, built for a 1000-executor cluster even though tests run
on local[32]):

* **Layout.** Rows are hash-bucketed on the key columns into ``n_buckets``
  buckets (``pmod(xxhash64(key...), n_buckets)``). Bucketing by the *full*
  key — not by ``repo`` alone — is the skew defense: a hot repo holding 30%
  of all events still spreads across all buckets, so no single MERGE task
  becomes the straggler. (The reference's analogue is per-UF/municipality
  work splitting, /root/reference/src/impulsoetl/utilitarios/repetidores.py:23-87.)
* **MERGE = bucket-pruned copy-on-write.** A change batch only rewrites the
  buckets its keys hash into; untouched buckets are carried into the new
  snapshot by reference. At 100 TB the rewrite amplification is bounded by
  (batch keys / n_buckets coverage), and each bucket merges independently —
  one shuffle on the key, no global sort.
* **Exactly-once.** Every merge carries a ``manifest_key``; the snapshot
  records the set of applied keys. Re-applying an already-committed batch is
  a metadata no-op (the reference's ``capturas_historico`` ledger +
  semaphores, scripts/geral.py:92-109, semaforos.py:26-119).
* **Atomic commit.** A snapshot JSON is staged then published with an
  exclusive hard link — concurrent writers race on the version number and
  the loser gets ``CommitConflict`` (optimistic concurrency; on an object
  store this would be a catalog swap).
* **Tombstones.** Deletes are retained as ``_deleted`` rows carrying their
  LWW version so a *late* insert with an older ``(op_ts, event_id)`` loses
  to the delete, matching sequential-replay semantics. (Compaction may
  expire tombstones older than the event-time watermark.)
* **Schema evolution.** Additive: new batch columns extend the table schema;
  old data files are read through the evolved schema and missing columns
  surface as NULL (the reference's ``*_ADICIONAIS`` backfill,
  sihsus/aih_rd.py:362-377, and ``extend_existing`` dynamic models,
  sisab/producao.py:1170-1245).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from etl_spark.lake.stats import degraded_event, read_footers

__all__ = ["LakeTable", "Snapshot", "MergeStats", "CommitConflict"]

# Internal metadata columns stored in data files.
META_DELETED = "_deleted"
BUCKET_COL = "__bucket"
DEL_FLAG = "__is_del"       # transient tombstone flag inside merge plans
_SNAP_DIR = "_snapshots"
_DATA_DIR = "data"


def _is_canonical_seq(seq: str) -> bool:
    """True iff ``seq`` is the canonical decimal rendering of a
    non-negative int (ASCII, no zero-padding, no unicode digits). Only
    canonical suffixes participate in watermark folding: 'epoch:04' must
    stay a distinct string key from 'epoch:4', or a caller mixing padded
    and unpadded keys could have a never-applied batch claimed applied
    (silently dropped) once the watermark covers that integer."""
    return seq.isdigit() and str(int(seq)) == seq


def _route_of(snap):
    """Bucket id of a row under ``snap``'s layout — THE routing function.

    Steady state: ``pmod(xxhash64(key...), n_buckets)``. Mid-rescale
    (``rescale_to`` set), routing is the watermark CASE::

        old_b < watermark  ->  pmod(hash, rescale_to)   (migrated)
        otherwise          ->  old_b                    (not yet split)

    Sound because ``rescale_to`` is an integer multiple of
    ``n_buckets``: ``hash % n_buckets = b`` implies
    ``hash % rescale_to ∈ {b, b+n, b+2n, ...}`` — an old bucket's rows
    land in exactly its own child ids, so migrated and unmigrated
    buckets never share a key space and the CASE is O(1) per row (no
    membership set: rescale_step migrates old buckets in ASCENDING
    order, so "migrated" ≡ ``old_b < watermark``). Every write path,
    point-lookup pruner and consumer cursor routes through this one
    expression; a reader on snapshot S and a writer on snapshot S
    always agree."""
    h = F.xxhash64(*[F.col(c) for c in snap.key_cols])
    old_b = F.pmod(h, F.lit(snap.n_buckets)).cast("int")
    if snap.rescale_to is None:
        return old_b
    new_b = F.pmod(h, F.lit(snap.rescale_to)).cast("int")
    return F.when(old_b < F.lit(snap.rescale_watermark), new_b) \
        .otherwise(old_b)


_VINTAGE_RE = re.compile(r"^[^/]+/v(\d+)")


def _file_vintage(rel_path: str) -> int:
    """Commit version a data file was written at, parsed from its
    segment path (``data/v0000000012<tag>-<tok>/...``). Pre-segment
    flat files return 0 — they predate every ALTER by construction."""
    m = _VINTAGE_RE.match(rel_path)
    return int(m.group(1)) if m else 0


def _bucket_of(key_cols: list[str], n_buckets: int):
    """Bucket id of a row: pmod(xxhash64(key cols), n_buckets)."""
    return F.pmod(
        F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)
    ).cast("int")


def _sort_order(snap) -> list[str]:
    """File sort order for background rewrites (compaction / rebucket):
    the ``cluster_cols`` table prop first — so pushed range predicates on
    those columns prune parquet ROW GROUPS inside each compacted bucket
    file — then the key columns as the tiebreak. With no prop the order
    is the key columns alone (point-lookup row-group pruning, the
    default). The trade is explicit: clustering by a value column demotes
    key-sorted pruning inside the file — point reads should then lean on
    Bloom filters (``bloom_cols``), which need no sort order, leaving the
    one physical order free for the range dimension. The ingest hot path
    stays unsorted either way; only background rewrites pay the sort.

    Multi-dimension clustering: a LEXICOGRAPHIC order on 2+ cluster
    columns prunes row groups on the first dimension only. Set
    ``cluster_order: "zorder"`` to sort by the Morton-interleaved key
    instead (lake/zorder.py) so EVERY cluster dimension prunes —
    resolved by :meth:`LakeTable._sort_exprs`, which the background
    rewrites call (this function stays the lexicographic base +
    validation)."""
    raw = snap.props.get("cluster_cols", "")
    cluster = [c.strip() for c in raw.split(",") if c.strip()]
    if cluster:
        known = {f.name for f in snap.schema.fields}
        bad = [c for c in cluster if c not in known]
        if bad:
            raise ValueError(f"cluster_cols not in table schema: {bad}")
    return cluster + [c for c in snap.key_cols if c not in cluster]


def _murmur3_int32(value: int, seed: int = 42) -> int:
    """Spark's ``hash()`` of an INT column: Murmur3_x86_32 over the 4-byte
    int, seed 42 (the public algorithm Catalyst's Murmur3Hash uses for
    IntegerType). Returns the SIGNED int32 Spark returns. Needed driver-
    side to search shuffle-key preimages (see _bijection_spread);
    correctness is pinned by tests/test_lake_modes.py's parity assertion
    against F.hash and a spark_partition_id bijection check."""
    mask = 0xFFFFFFFF
    k1 = (value & mask) * 0xCC9E2D51 & mask
    k1 = ((k1 << 15) | (k1 >> 17)) & mask
    k1 = k1 * 0x1B873593 & mask
    h1 = seed ^ k1
    h1 = ((h1 << 13) | (h1 >> 19)) & mask
    h1 = (h1 * 5 + 0xE6546B64) & mask
    h1 ^= 4  # fmix with total byte length
    h1 ^= h1 >> 16
    h1 = h1 * 0x85EBCA6B & mask
    h1 ^= h1 >> 13
    h1 = h1 * 0xC2B2AE35 & mask
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _pid_preimages(n: int) -> list[int]:
    """``n`` small non-negative ints ``s_0..s_{n-1}`` with
    ``pmod(murmur3(s_i), n) == i`` — shuffle-key preimages that make
    ``repartition(n, key)`` a COLLISION-FREE bijection from n logical
    groups onto n partitions. A plain ``repartition(col)`` hashes group
    ids into partitions with birthday collisions (measured: 64 near-equal
    buckets into 16 partitions put 8 buckets / 1.96x mean bytes in the
    hottest task while some tasks got 1), which no amount of group-size
    evenness fixes. Deterministic given n; cached."""
    pre: dict[int, int] = {}
    v = 0
    while len(pre) < n:
        pid = _murmur3_int32(v) % n
        if pid not in pre:
            pre[pid] = v
        v += 1
    return [pre[i] for i in range(n)]


_PID_CACHE: dict[int, list[int]] = {}


def _lww_rows(df, key_cols, ver_cols, user_cols, types):
    """Per-key LWW winner via a combinable ``max_by`` hash aggregate.

    Input: ``user_cols`` + boolean ``DEL_FLAG`` marking tombstones.
    Output: ``user_cols`` + ``META_DELETED``; a winning tombstone's payload
    is nulled. One shuffle, partial (map-side) aggregation — a hot key costs
    one combine per upstream partition instead of one giant sorted window
    partition (the skew story for 10^10-event streams)."""
    payload_cols = [c for c in user_cols if c not in key_cols + ver_cols]
    pay = F.struct(*[F.col(c) for c in payload_cols], F.col(DEL_FLAG))
    ver = F.struct(*[F.col(c) for c in ver_cols])
    won = df.groupBy(*key_cols).agg(
        F.max_by(pay, ver).alias("__w"), F.max(ver).alias("__v")
    )
    is_del = F.col(f"__w.{DEL_FLAG}")
    return won.select(
        *key_cols,
        *[F.col(f"__v.{c}").alias(c) for c in ver_cols],
        *[
            F.when(is_del, F.lit(None).cast(types[c]))
            .otherwise(F.col(f"__w.{c}")).alias(c)
            for c in payload_cols
        ],
        is_del.alias(META_DELETED),
    ).select(*user_cols, META_DELETED)


def _patch_rows(df, key_cols, ver_cols, user_cols, types):
    """Per-key PER-COLUMN LWW ("patch" update semantics) — the partial-image
    CDC shape (Debezium-style feeds, reference: per-field REST detail
    updates over previously captured records, impulsoetl re-capture of
    changed fields): an update row carries only the columns it changes and
    NULL in a payload column means "keep the previous value", so the final
    state of each column is the value from the LATEST row that actually
    set it. A tombstone resets the whole key: column values older than the
    latest delete are dead, and the key only exists if any non-delete row
    outlives that delete.

    Same I/O contract as :func:`_lww_rows` (``user_cols`` + ``DEL_FLAG``
    in, ``user_cols`` + ``META_DELETED`` out) so the two resolvers swap
    behind one table property. One combinable aggregate per key — for
    each payload column a filtered max over ``struct(version..., value)``
    (NULL ordering keys are skipped by ``max``, so rows that don't touch
    the column simply don't compete) — the same single-shuffle skew story
    as row-LWW; struct buffers make it a SortAggregate, the accepted cost
    documented on the merge path.

    Limitation (inherent to partial images, documented not hidden):
    NULL *means* "no change", so a patch row cannot explicitly clear one
    column to NULL — send a tombstone + re-insert, or use row semantics.
    """
    payload_cols = [c for c in user_cols if c not in key_cols + ver_cols]
    ver = F.struct(*[F.col(c).alias(c) for c in ver_cols])
    is_del = F.col(DEL_FLAG)
    aggs = [
        F.max(ver).alias("__v"),                    # latest version overall
        F.max(F.when(is_del, ver)).alias("__dv"),   # latest tombstone
    ]
    for c in payload_cols:
        aggs.append(
            F.max(
                F.when(
                    ~is_del & F.col(c).isNotNull(),
                    F.struct(*[F.col(vc).alias(vc) for vc in ver_cols],
                             F.col(c).alias("__x")),
                )
            ).alias(f"__w_{c}")
        )
    won = df.groupBy(*key_cols).agg(*aggs)
    deleted = F.col("__dv").isNotNull() & (F.col("__dv") == F.col("__v"))

    def col_val(c):
        w = F.col(f"__w_{c}")
        wv = F.struct(*[w[vc].alias(vc) for vc in ver_cols])
        alive = w.isNotNull() & (
            F.col("__dv").isNull() | (wv > F.col("__dv"))
        )
        return (
            F.when(~deleted & alive, w["__x"])
            .cast(types[c]).alias(c)
        )

    return won.select(
        *key_cols,
        *[F.col(f"__v.{vc}").alias(vc) for vc in ver_cols],
        *[col_val(c) for c in payload_cols],
        deleted.alias(META_DELETED),
    ).select(*user_cols, META_DELETED)


def _patch_fold(df, key_cols, ver_cols, user_cols, types):
    """Semantic FOLD for patch tables (compaction / rebucket / CoW): N
    delta rows per key collapse to at most (distinct column-winner
    versions) + 1 retained tombstone + 1 latest-version marker PARTIAL
    rows — never one materialized total row.

    Materializing (what row-LWW compaction rightly does) would stamp every
    column at the key's max version, collapsing per-column provenance: a
    LATE-arriving event whose version lies between a column's true winner
    and that stamp is then resolved wrongly — a late delete fails to kill
    a column set before it (resurrection), a late patch loses to a value
    it should beat. Caught by test_patch.py's randomized parity sweep.
    Row semantics don't have this hazard (the whole winning row owns one
    version); patch semantics are only compactable as partial rows.

    Also unlike row-LWW compaction, the latest tombstone is retained even
    when the key is ALIVE: it must keep beating late pre-delete events'
    columns forever. Column winners older than that tombstone are dead
    for any possible future (a tombstone is never un-committed) and are
    dropped. A marker row at the latest non-delete version preserves the
    key's reported version even when that row set no columns.

    Output may hold several rows per key, so folded files MUST be flagged
    ``nonunique`` — reads of a patch table always resolve. Typical CDC
    shape (full insert, then partials superseded by later partials) folds
    to 1-2 rows per key. Fold-of-fold is idempotent."""
    payload_cols = [c for c in user_cols if c not in key_cols + ver_cols]
    ver = F.struct(*[F.col(c).alias(c) for c in ver_cols])
    is_del = F.col(DEL_FLAG)
    aggs = [
        F.max(F.when(~is_del, ver)).alias("__lv"),
        F.max(F.when(is_del, ver)).alias("__dv"),
    ]
    for c in payload_cols:
        aggs.append(
            F.max(
                F.when(
                    ~is_del & F.col(c).isNotNull(),
                    F.struct(*[F.col(vc).alias(vc) for vc in ver_cols],
                             F.col(c).alias("__x")),
                )
            ).alias(f"__w_{c}")
        )
    won = df.groupBy(*key_cols).agg(*aggs)
    dv, lv = F.col("__dv"), F.col("__lv")

    def cand(src, set_col, deleted, guard):
        return F.when(guard, F.struct(
            *[src[vc].alias(vc) for vc in ver_cols],
            *[(F.col(f"__w_{d}")["__x"] if d == set_col
               else F.lit(None).cast(types[d])).alias(d)
              for d in payload_cols],
            F.lit(deleted).alias(DEL_FLAG),
        ))

    cands = [
        cand(dv, None, True, dv.isNotNull()),
        cand(lv, None, False, lv.isNotNull()),
    ]
    for c in payload_cols:
        w = F.col(f"__w_{c}")
        wv = F.struct(*[w[vc].alias(vc) for vc in ver_cols])
        cands.append(
            cand(w, c, False, w.isNotNull() & (dv.isNull() | (wv > dv))))
    rows = won.select(
        *key_cols,
        F.explode(F.filter(F.array(*cands),
                           lambda x: x.isNotNull())).alias("__r"),
    ).select(
        *key_cols,
        *[F.col(f"__r.{vc}").alias(vc) for vc in ver_cols],
        *[F.col(f"__r.{c}").alias(c) for c in payload_cols],
        F.col(f"__r.{DEL_FLAG}").alias(DEL_FLAG),
    )
    # candidates sharing a version collapse (full-insert common case:
    # every column winner + the marker sit at one version → one row);
    # within a (key, version) group each column has ≤ 1 non-null value,
    # so ignorenulls-first is deterministic and type-agnostic
    folded = rows.groupBy(*key_cols, *ver_cols, DEL_FLAG).agg(
        *[F.first(c, ignorenulls=True).alias(c) for c in payload_cols]
    )
    return folded.select(*user_cols, F.col(DEL_FLAG).alias(META_DELETED))


def _resolver(props: dict):
    """The read-time resolution aggregate this table's update semantics
    demand: row-LWW (default) or per-column patch-LWW."""
    return _patch_rows if props.get("update_semantics", "row") == "patch" \
        else _lww_rows


def _folder(props: dict):
    """The REWRITE fold (compaction / rebucket / CoW): row tables
    materialize total winner rows; patch tables fold to partial rows that
    preserve per-column winner versions (see :func:`_patch_fold`)."""
    return _patch_fold if props.get("update_semantics", "row") == "patch" \
        else _lww_rows


def _is_patch(props: dict) -> bool:
    return props.get("update_semantics", "row") == "patch"


class CommitConflict(RuntimeError):
    """Another writer committed the same snapshot version first."""


@dataclass
class MergeStats:
    manifest_key: str
    applied: bool  # False => manifest hit, no-op
    version: int
    buckets_rewritten: int = 0
    buckets_total: int = 0
    rows_written: int = 0
    partitions: dict = field(default_factory=dict)  # bucket -> files/bytes/rows
    degraded: list = field(default_factory=list)  # {"phase", "error"} per
    #   best-effort path that failed (footer/bloom harvest, inline compaction)


@dataclass
class _Written:
    """One bucket write, described by its new files' parquet footers
    (read once on the driver, lake/stats.py::read_footers)."""
    files: dict[int, list[str]]         # bucket -> new table-relative paths
    lineage: dict[int, dict]            # bucket -> files/bytes/rows
    rows: dict[str, int]                # file -> footer num_rows
    bounds: dict[str, dict[str, list]]  # file -> zone-map bounds
    degraded: list[dict]


@dataclass
class Snapshot:
    version: int
    parent: int | None
    schema: StructType          # user schema (no meta columns)
    key_cols: list[str]
    version_cols: list[str]
    n_buckets: int
    buckets: dict[int, list[str]]   # bucket -> data file paths (table-relative)
    applied: list[str] = field(default_factory=list)
    props: dict[str, str] = field(default_factory=dict)
    nonunique: list[str] = field(default_factory=list)  # files that may hold
    #   duplicate keys (written by batch_dedup=false merges); read()'s
    #   single-file fast path must not skip the LWW aggregate for them
    added: list[str] | None = None  # data files ADDED by this commit (change
    #   provenance for changes(); [] for compaction/maintenance commits;
    #   None only for pre-provenance snapshots => fall back to file diffing)
    applied_watermarks: dict[str, list[int]] = field(default_factory=dict)
    #   prefix -> [lo, hi]: a CONTIGUOUS range of seqs folded out of the
    #   bounded `applied` window ("prefix:seq" with lo <= seq <= hi is
    #   applied). Ranges only ever grow by exactly-adjacent seqs, so a
    #   never-committed gap/backfill seq can NEVER be claimed applied (a
    #   false positive would silently drop its rows); an evicted key that
    #   is not adjacent stays in the window instead. A false negative is
    #   merely wasteful: re-merging an applied batch is LWW-idempotent.
    applied_count: int = 0          # total manifest keys ever applied
    rollback_of: int | None = None  # set on rollback commits: the restored
    #   snapshot version. changes() refuses to cross such a commit —
    #   an incremental feed cannot replay a rollback (the restored rows'
    #   old LWW versions would lose downstream); consumers re-bootstrap.
    file_stats: dict[str, dict[str, list]] = field(default_factory=dict)
    #   data-skipping zone maps: rel_path -> {col: [enc_min, enc_max]}
    #   for the columns in props["stats_cols"] (see lake/stats.py).
    #   Entries live exactly as long as their file is referenced, so the
    #   metadata bound is O(files x stats_cols) — same order as the
    #   bucket file lists themselves.
    commit_ts: float | None = None  # wall-clock publish time (epoch
    #   seconds), stamped by _publish — Iceberg's committed_at. Drives
    #   version_as_of() timestamp travel and the snapshots metadata
    #   table; None only on pre-timestamp snapshots (ineligible for
    #   timestamp travel, resolvable by version as always). Metadata
    #   only: no query result may depend on it (determinism contract).
    rescale_to: int | None = None   # incremental bucket rescale in
    #   flight (start_rescale): the TARGET bucket count, an integer
    #   multiple of n_buckets. While set, the row-routing function is
    #   the watermark CASE in _route_of, bucket ids span
    #   [0, rescale_to), and rescale_step() migrates old buckets in
    #   ascending order. None = steady state.
    rescale_watermark: int = 0      # old buckets [0, watermark) are
    #   SPLIT: their rows live under pmod(hash, rescale_to) child ids;
    #   buckets [watermark, n_buckets) still hold their pre-rescale
    #   supersets. Only ever advances; meaningful only mid-rescale.

    def id_space(self) -> int:
        """Exclusive upper bound of bucket ids in this snapshot:
        ``rescale_to`` while an incremental rescale is in flight (child
        ids reach up to it), else ``n_buckets``. Write-path spreads and
        routing literals size against THIS, never raw ``n_buckets`` —
        the strict ``element_at`` bijection would otherwise reject (or
        worse, misplace) a migrated row mid-rescale."""
        return self.rescale_to if self.rescale_to is not None \
            else self.n_buckets

    def cursor_prefixes(self) -> set[str]:
        """Manifest-key prefixes declared MONOTONE CURSORS via the
        ``cursor_prefixes`` table prop (comma-separated). A cursor prefix
        tracks a position, not a work unit: seqs are non-contiguous (e.g.
        an upstream snapshot version) and re-applying any range at or
        below the high-water mark is idempotent by construction (the sync
        feed re-merge is absorbed by LWW). Folding therefore keeps only
        the max — no adjacency requirement — and ``has_applied`` treats
        every seq ≤ hi as applied."""
        raw = self.props.get("cursor_prefixes", "")
        return {p.strip() for p in raw.split(",") if p.strip()}

    def stats_cols(self) -> list[str]:
        """Columns with per-file zone maps (``stats_cols`` table prop,
        comma-separated). Empty = data skipping dormant."""
        raw = self.props.get("stats_cols", "")
        return [c.strip() for c in raw.split(",") if c.strip()]

    def renamed_map(self) -> dict[str, list[str]]:
        """Current name -> prior PHYSICAL names, oldest last
        (``renamed_cols`` table prop: ``"new:old"`` entries,
        ``|``-joined when a column was renamed more than once —
        ``"c:b|a"`` after a->b->c). Written by
        :meth:`LakeTable.alter_rename_column`; consumed by
        ``_read_files``, which decodes every listed physical name from
        old-vintage files and coalesces newest-first into the current
        name. Empty = no outstanding renames."""
        raw = self.props.get("renamed_cols", "")
        out: dict[str, list[str]] = {}
        for entry in raw.split(","):
            entry = entry.strip()
            if not entry:
                continue
            new, _, olds = entry.partition(":")
            out[new.strip()] = [o.strip() for o in olds.split("|")
                                if o.strip()]
        return out

    def default_map(self) -> dict[str, dict]:
        """Column -> ``{"v": <json value>, "at": <alter version>}`` for
        columns added with an INITIAL DEFAULT (``default_cols`` table
        prop, JSON; written by :meth:`LakeTable.alter_add_column`).
        Iceberg initial-default semantics: rows in files written BEFORE
        the alter commit read the default; files at/after it read their
        physical value (NULL included). Consumed by ``_read_files``
        (vintage-grouped coalesce) and the SPJ kernel."""
        raw = self.props.get("default_cols", "")
        if not raw:
            return {}
        return json.loads(raw)

    def bloom_cols(self) -> list[str]:
        """Columns with per-file Bloom filters (``bloom_cols`` table
        prop; size via ``bloom_bits``/``bloom_k`` — lake/bloom.py). An
        entry may be a ``|``-joined composite (``"repo|path"``): one
        bloom over the value PAIRS, probed by ``lookup()``'s tuple
        predicate — required for multi-column keys, whose individual
        values appear in nearly every hash-bucketed file.
        Entries share the ``file_stats`` map under ``<entry>#bloom``
        keys, so they follow their file's lifecycle like zone maps.
        Component whitespace is normalized so ``"repo | path"`` and
        ``"repo|path"`` name the same entry/key."""
        from etl_spark.lake.bloom import COMPOSITE_SEP

        raw = self.props.get("bloom_cols", "")
        return [
            COMPOSITE_SEP.join(p.strip() for p in c.split(COMPOSITE_SEP))
            for c in (c.strip() for c in raw.split(","))
            if c
        ]

    def bloom_shape(self) -> tuple:
        """(bits, k): bits is an int, or the string ``"auto"`` to size
        each file's bitmap from its footer row count (bloom.auto_bits —
        a fixed size saturates as files grow; every stored entry carries
        its own m, so mixed sizes probe fine)."""
        from etl_spark.lake.bloom import DEFAULT_BITS, DEFAULT_K

        raw = self.props.get("bloom_bits", DEFAULT_BITS)
        bits = "auto" if raw == "auto" else int(raw)
        return (bits, int(self.props.get("bloom_k", DEFAULT_K)))

    def has_applied(self, manifest_key: str) -> bool:
        """Exactly-once membership: the bounded recent window, then the
        per-prefix folded range for sequence-shaped keys ('name:123') —
        contiguous for work-unit prefixes, ≤-hi for cursor prefixes."""
        if manifest_key in self.applied:
            return True
        prefix, _, seq = manifest_key.rpartition(":")
        if prefix and _is_canonical_seq(seq):
            rng = self.applied_watermarks.get(prefix)
            if rng is None:
                return False
            if prefix in self.cursor_prefixes():
                return int(seq) <= rng[1]
            return rng[0] <= int(seq) <= rng[1]
        return False

    def to_json(self) -> str:
        return json.dumps(
            {
                "format_version": 2,
                "version": self.version,
                "parent": self.parent,
                "schema": self.schema.jsonValue(),
                "key_cols": self.key_cols,
                "version_cols": self.version_cols,
                "n_buckets": self.n_buckets,
                "buckets": {str(k): v for k, v in self.buckets.items()},
                "applied": self.applied,
                "props": self.props,
                "nonunique": self.nonunique,
                "added": self.added,
                "applied_watermarks": self.applied_watermarks,
                "applied_count": self.applied_count,
                "rollback_of": self.rollback_of,
                "file_stats": self.file_stats,
                "commit_ts": self.commit_ts,
                "rescale_to": self.rescale_to,
                "rescale_watermark": self.rescale_watermark,
            },
            indent=1,
            sort_keys=True,
        )

    @staticmethod
    def from_json(text: str) -> "Snapshot":
        d = json.loads(text)
        return Snapshot(
            version=d["version"],
            parent=d["parent"],
            schema=StructType.fromJson(d["schema"]),
            key_cols=d["key_cols"],
            version_cols=d["version_cols"],
            n_buckets=d["n_buckets"],
            buckets={int(k): v for k, v in d["buckets"].items()},
            applied=d["applied"],
            props=d.get("props", {}),
            nonunique=d.get("nonunique", []),
            added=d.get("added"),
            applied_watermarks={
                # pre-range snapshots stored a bare high-watermark meaning
                # "0..wm applied" (engine sequences start at 0)
                k: (list(v) if isinstance(v, list) else [0, int(v)])
                for k, v in d.get("applied_watermarks", {}).items()
            },
            applied_count=d.get("applied_count", len(d["applied"])),
            rollback_of=d.get("rollback_of"),
            file_stats=d.get("file_stats", {}),
            commit_ts=d.get("commit_ts"),
            rescale_to=d.get("rescale_to"),
            rescale_watermark=d.get("rescale_watermark", 0),
        )


class LakeTable:
    """An upsert-able table with snapshot isolation.

    ``key_cols`` identify a row (e.g. ``[repo, path]``); ``version_cols``
    order writers per key (e.g. ``[op_ts, event_id]`` — lexicographic,
    higher wins).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)

    # ------------------------------------------------------------------ DDL

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: StructType,
        key_cols: list[str],
        version_cols: list[str],
        n_buckets: int = 32,
        props: dict[str, str] | None = None,
    ) -> "LakeTable":
        path = os.path.abspath(path)
        snap_dir = os.path.join(path, _SNAP_DIR)
        if os.path.exists(snap_dir) and os.listdir(snap_dir):
            raise FileExistsError(f"table already exists at {path}")
        os.makedirs(snap_dir, exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
        missing = [c for c in key_cols + version_cols if c not in schema.fieldNames()]
        if missing:
            raise ValueError(f"key/version columns not in schema: {missing}")
        if props and props.get("bloom_cols"):
            from etl_spark.lake.bloom import validate_bloom_cols

            validate_bloom_cols(
                schema, [c.strip() for c in props["bloom_cols"].split(",")
                         if c.strip()])
        if props and props.get("update_semantics", "row") not in ("row",
                                                                  "patch"):
            raise ValueError(
                f"update_semantics must be 'row' or 'patch', got "
                f"{props['update_semantics']!r}")
        table = LakeTable(spark, path)
        snap = Snapshot(
            version=0,
            parent=None,
            schema=schema,
            key_cols=list(key_cols),
            version_cols=list(version_cols),
            n_buckets=n_buckets,
            buckets={},
            applied=[],
            props=props or {},
        )
        table._publish(snap)
        return table

    @staticmethod
    def load(spark: SparkSession, path: str) -> "LakeTable":
        table = LakeTable(spark, path)
        table.current_snapshot()  # raises if absent
        return table

    @staticmethod
    def exists(path: str) -> bool:
        snap_dir = os.path.join(os.path.abspath(path), _SNAP_DIR)
        return os.path.isdir(snap_dir) and any(
            f.endswith(".json") for f in os.listdir(snap_dir)
        )

    # ------------------------------------------------------------ snapshots

    def _snap_path(self, version: int) -> str:
        return os.path.join(self.path, _SNAP_DIR, f"v{version:010d}.json")

    def versions(self) -> list[int]:
        snap_dir = os.path.join(self.path, _SNAP_DIR)
        out = []
        for name in os.listdir(snap_dir):
            if name.startswith("v") and name.endswith(".json"):
                out.append(int(name[1:-5]))
        return sorted(out)

    def current_version(self) -> int:
        versions = self.versions()
        if not versions:
            raise FileNotFoundError(f"no snapshots in {self.path}")
        return versions[-1]

    def snapshot(self, version: int | str | None = None) -> Snapshot:
        """Snapshot by version number, by REF NAME (a tag or branch
        created with :meth:`tag` / :meth:`branch` — lake/refs.py), or
        the current one. Every time-travel surface (``read``,
        ``folded_state``, ``lookup``, ``meta``) resolves through here,
        so they all accept ref names wherever they accept versions."""
        if isinstance(version, str):
            version = self.resolve_ref(version)
        if version is None:
            version = self.current_version()
        with open(self._snap_path(version)) as fh:
            return Snapshot.from_json(fh.read())

    def current_snapshot(self) -> Snapshot:
        return self.snapshot(None)

    def version_as_of(self, ts: float) -> int:
        """Timestamp travel (Iceberg ``FOR SYSTEM_TIME AS OF``): the
        snapshot version that was CURRENT at wall-clock ``ts`` (epoch
        seconds) — the latest retained snapshot with
        ``commit_ts <= ts``. Compose with any version surface:
        ``read(version=t.version_as_of(ts))``.

        Raises if ``ts`` predates every retained snapshot (the history
        before it was expired — same failure Iceberg gives) or if the
        candidate predates commit timestamps entirely. Resolution is an
        ascending scan of the retained snapshot log, NOT a binary
        search: publish order guarantees version order but wall clocks
        may step backwards (NTP), and "latest version with ts <= T"
        stays well-defined only if every candidate is examined —
        O(retained snapshots), which ``expire_snapshots`` bounds, and
        metadata-only."""
        best: int | None = None
        stamped = False
        for v in self.versions():
            s = self.snapshot(v)
            if s.commit_ts is None:
                continue
            stamped = True
            if s.commit_ts <= ts:
                best = v
        if best is None:
            raise ValueError(
                f"no retained snapshot committed at or before ts={ts}"
                + ("" if stamped else
                   " (no snapshot carries a commit timestamp)")
            )
        return best

    def history(self) -> list[Snapshot]:
        return [self.snapshot(v) for v in self.versions()]

    def _publish(self, snap: Snapshot) -> None:
        """Atomically publish a snapshot (optimistic concurrency)."""
        if snap.commit_ts is None:
            snap.commit_ts = time.time()  # committed_at: stamped at
            # PUBLISH (a WAP commit staged hours earlier is "as of" the
            # moment it became visible — Iceberg's semantics)
        final = self._snap_path(snap.version)
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            fh.write(snap.to_json())
        try:
            os.link(tmp, final)  # fails iff another writer won the race
        except FileExistsError as exc:
            raise CommitConflict(
                f"snapshot v{snap.version} already committed by another writer"
            ) from exc
        finally:
            os.unlink(tmp)

    # ---------------------------------------------------------------- reads

    def _full_schema(self, snap: Snapshot) -> StructType:
        """User schema + meta columns as stored in data files."""
        return StructType(
            list(snap.schema.fields) + [StructField(META_DELETED, _bool(), False)]
        )

    def _read_files(
        self, snap: Snapshot, files: list[str], user_schema: StructType | None = None
    ) -> DataFrame:
        full = (
            StructType(list(user_schema.fields) + [StructField(META_DELETED, _bool(), False)])
            if user_schema is not None
            else self._full_schema(snap)
        )
        if not files:
            return self.spark.createDataFrame([], full)
        defaults = {c: d for c, d in snap.default_map().items()
                    if c in {f.name for f in full.fields}}
        if defaults:
            # Initial-default columns (alter_add_column): rows written
            # BEFORE a column's alter commit read its default; later
            # files read their physical value (NULL included). Group the
            # files by which defaults apply to their vintage — one plain
            # read per group, coalesced, unioned. Group count is bounded
            # by the number of DISTINCT alter versions + 1, not by file
            # count; tables without defaults never reach this branch.
            # Rewrites (compact/rescale/rebucket) read through here, so
            # they MATERIALIZE defaults — their output files carry
            # later vintages and drop out of the coalesce by themselves.
            types = {f.name: f.dataType for f in full.fields}
            groups: dict[frozenset, list[str]] = {}
            for f in files:
                v = _file_vintage(f)
                applicable = frozenset(
                    c for c, d in defaults.items() if v < d["at"])
                groups.setdefault(applicable, []).append(f)
            parts = []
            for applicable in sorted(groups, key=sorted):
                df = self._read_files_plain(snap, groups[applicable], full)
                for c in sorted(applicable):
                    df = df.withColumn(c, F.coalesce(
                        F.col(c),
                        F.lit(defaults[c]["v"]).cast(types[c])))
                parts.append(df.select(*[f.name for f in full.fields]))
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out
        return self._read_files_plain(snap, files, full)

    def _read_files_plain(
        self, snap: Snapshot, files: list[str], full: StructType
    ) -> DataFrame:
        paths = [os.path.join(self.path, f) for f in files]
        renames = {n: olds for n, olds in snap.renamed_map().items()
                   if n in {f.name for f in full.fields}}
        if not renames:
            # Explicit schema => old-vintage files missing newly-added
            # columns surface them as NULL (additive schema evolution on
            # read).
            return self.spark.read.schema(full).parquet(*paths)
        # Metadata-only renames (alter_rename_column): old-vintage files
        # store the column under its prior physical name(s). Decode every
        # listed physical name too (NULL where a file lacks it — exactly
        # one name is physically present per file, since merges refuse
        # tombstoned old names) and coalesce newest-first. The extra
        # fields cost nothing on files that lack them, and a later full
        # rewrite sheds them.
        by_field = {f.name: f for f in full.fields}
        read_schema = StructType(
            list(full.fields)
            + [StructField(o, by_field[n].dataType, True)
               for n, olds in renames.items() for o in olds]
        )
        raw = self.spark.read.schema(read_schema).parquet(*paths)
        return raw.select(*[
            F.coalesce(F.col(f.name), *[F.col(o) for o in renames[f.name]])
            .alias(f.name) if f.name in renames else F.col(f.name)
            for f in full.fields
        ])

    def _plan_scan(
        self, snap: Snapshot, sel: dict[int, list[str]], preds: list
    ) -> tuple[list[str], list[str], int]:
        """Split selected buckets into (clean_files, mor_files) and apply
        zone-map file pruning. Which predicates may prune which file is a
        merge-on-read soundness question — see
        :func:`etl_spark.lake.stats.prunable_predicates`. Returns
        ``(clean, mor, n_pruned)``."""
        from etl_spark.lake import stats as _st

        nonuniq = set(snap.nonunique)
        clean: list[str] = []
        mor: list[str] = []
        pruned = 0
        for fl in sel.values():
            is_mor = len(fl) > 1 or any(f in nonuniq for f in fl)
            use = _st.prunable_predicates(
                preds, snap.key_cols, snap.version_cols, not is_mor
            ) if preds else []
            for f in fl:
                if use and not _st.file_matches(snap.file_stats.get(f), use,
                                                root=self.path):
                    pruned += 1
                    continue
                (mor if is_mor else clean).append(f)
        return clean, mor, pruned

    def _auto_bucket_subset(self, snap: Snapshot, preds: list):
        """Bucket ids that can possibly hold a row matching ``preds``,
        when the predicates PIN every key column with ``=``/``in``
        (conjunctive semantics) — else None.

        The candidate key set is the cartesian product of each key
        column's pinned values (a SUPERSET of the matching rows' keys,
        so hashing it driver-side gives a sound bucket superset); a
        composite tuple predicate over exactly the key columns pins the
        pairing directly and wins. Bounded: above 256 candidate tuples
        the planning job costs more than it prunes — skip. This is what
        makes ``read(where=<full key>)`` — and therefore predicate DML
        on a key — O(matched buckets) instead of O(table): zone maps
        cannot refute hash-distributed key values, so without this every
        targeted DELETE/UPDATE WHERE key=... scanned every bucket's
        files."""
        if not preds:
            return None
        tuples = None
        for p in preds:
            col, op = p[0], p[1]
            if isinstance(col, (tuple, list)) and \
                    list(col) == list(snap.key_cols) and op in ("=", "in"):
                vals = p[2] if op == "in" else [p[2]]
                tuples = [tuple(v) for v in vals]
                break
        if tuples is None:
            per_col = {}
            for p in preds:
                col, op = p[0], p[1]
                if isinstance(col, (tuple, list)) or \
                        col not in snap.key_cols or col in per_col:
                    continue
                if op == "=":
                    per_col[col] = [p[2]]
                elif op == "in":
                    per_col[col] = list(p[2])
            if set(per_col) != set(snap.key_cols):
                return None
            tuples = [()]
            for c in snap.key_cols:
                tuples = [t + (v,) for t in tuples for v in per_col[c]]
                if len(tuples) > 256:
                    return None
        if not tuples or len(tuples) > 256:
            return None if tuples else []
        by_name = {f.name: f for f in snap.schema.fields}
        try:
            key_rows = self.spark.createDataFrame(
                tuples, StructType([by_name[c] for c in snap.key_cols])
            )
            return sorted({
                r["__b"] for r in key_rows.select(
                    self.bucket_expr(snap).alias("__b")).collect()
            })
        except Exception:  # noqa: BLE001 — createDataFrame is TYPE-STRICT
            # while the residual filter ANSI-coerces (e.g. '42' against a
            # bigint key matched before this optimization existed, and
            # must keep matching). A value the strict path rejects just
            # means no pruning — never a failed read.
            return None

    def scan_counts(
        self,
        where: list | None = None,
        version: int | None = None,
        buckets: list[int] | None = None,
    ) -> dict[str, int]:
        """Plan-only diagnostics for ``read(where=...)``: how many data
        files the snapshot holds vs how many the pruned scan touches."""
        snap = self.snapshot(version)
        preds = list(where or [])
        if preds:
            from etl_spark.lake.stats import validate_predicates
            validate_predicates(preds, [f.name for f in snap.schema.fields])
        auto = None
        if buckets is None and preds:
            auto = self._auto_bucket_subset(snap, preds)
        chosen = buckets if buckets is not None else auto
        sel = snap.buckets if chosen is None else {
            b: snap.buckets.get(b, []) for b in chosen
        }
        clean, mor, pruned = self._plan_scan(snap, sel, preds)
        if auto is not None and buckets is None:
            # auto bucket-pruning: report against the WHOLE snapshot so
            # the skipped buckets' files show up as pruned
            total = sum(len(fl) for fl in snap.buckets.values())
            pruned = total - len(clean) - len(mor)
        return {"files_total": len(clean) + len(mor) + pruned,
                "files_read": len(clean) + len(mor),
                "files_pruned": pruned}

    def read(
        self,
        version: int | None = None,
        with_meta: bool = False,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        where: list | None = None,
    ) -> DataFrame:
        """Read live rows (tombstones filtered) at a snapshot version.

        Merge-on-read: a bucket holding more than one file (un-compacted
        deltas) — or any file flagged ``nonunique`` — resolves its per-key
        LWW winner at read time with the same combinable ``max_by``
        aggregate MERGE uses. The aggregate is applied ONLY to those
        buckets; compacted single-file buckets (whose keys are unique by
        construction — they were produced by an LWW aggregate) are unioned
        around it untouched, so one straggler delta file never drags the
        whole table through the SortAggregate. Buckets are disjoint key
        spaces, so the union is exact.

        ``where`` — optional conjunctive predicates
        ``[(col, op, value[, value2]), ...]`` with op in
        ``> >= < <= = in between``; ``col`` may be a TUPLE of columns
        with op ``=``/``in`` over value tuples (probes composite blooms;
        residual is an exact struct-membership filter). Semantics: filter
        on the FINAL table state (the per-key LWW winner), exactly
        ``read().filter(...)``.
        With the ``stats_cols`` table prop set, per-file zone maps skip
        files the predicates refute before any data I/O — sound pruning
        rules per file in lake/stats.py — and the residual filter lands
        on the parquet scans for row-group-level pushdown besides."""
        return self._read_snap(
            self.snapshot(version), with_meta=with_meta, buckets=buckets,
            include_deleted=include_deleted, where=where,
        )

    def _read_snap(
        self,
        snap: Snapshot,
        with_meta: bool = False,
        buckets: list[int] | None = None,
        include_deleted: bool = False,
        where: list | None = None,
    ) -> DataFrame:
        """``read`` against an explicit snapshot object — the staged
        (not-yet-published) snapshot of a write-audit-publish commit
        reads through here (lake/wap.py)."""
        preds = list(where or [])
        if preds:
            from etl_spark.lake.stats import validate_predicates
            validate_predicates(preds, [f.name for f in snap.schema.fields])
        if buckets is None and preds:
            # predicates pinning the FULL key admit sound bucket pruning
            # (the point-read / targeted-DML shape) — see
            # _auto_bucket_subset
            buckets = self._auto_bucket_subset(snap, preds)
        sel = snap.buckets if buckets is None else {
            b: snap.buckets.get(b, []) for b in buckets
        }
        clean_files, agg_files, _ = self._plan_scan(snap, sel, preds)
        df = self._read_files(snap, clean_files)
        if agg_files:
            user_cols = [f.name for f in snap.schema.fields]
            types = {f.name: f.dataType for f in snap.schema.fields}
            resolved = _resolver(snap.props)(
                self._read_files(snap, agg_files)
                .withColumnRenamed(META_DELETED, DEL_FLAG),
                snap.key_cols, snap.version_cols, user_cols, types,
            )
            df = resolved if not clean_files else df.unionByName(resolved)
        if preds:
            from etl_spark.lake.stats import predicate_column
            # residual filter AFTER read-time LWW: predicates select on
            # the winner row (final state), never on stale candidates
            df = df.filter(predicate_column(preds))
        if not include_deleted:
            df = df.filter(~F.col(META_DELETED))
        if not with_meta:
            df = df.select(*[f.name for f in snap.schema.fields])
        else:
            df = df.select(*[f.name for f in snap.schema.fields], META_DELETED)
        return df

    def bucket_expr(self, snap: Snapshot):
        """Bucket id of a row under ``snap``'s layout (mid-rescale:
        the watermark-routed id — see :func:`_route_of`)."""
        return _route_of(snap)

    def lookup(self, keys: list[tuple], version: int | None = None) -> DataFrame:
        """Point lookups with bucket pruning: hash the requested keys
        driver-side, read ONLY their buckets (≈ |distinct buckets| /
        n_buckets of the table), then filter exactly. The reference's
        memoized per-value point SELECTs (geografias.py lru_cache) at lake
        scale: a k-key lookup touches ≤ k buckets regardless of table size.
        """
        snap = self.snapshot(version)
        by_name = {f.name: f for f in snap.schema.fields}
        key_rows = self.spark.createDataFrame(
            keys, StructType([by_name[c] for c in snap.key_cols])
        )
        want_buckets = sorted({
            r["__b"] for r in key_rows.select(
                self.bucket_expr(snap).alias("__b")).collect()
        })
        # Per-column IN-list predicate (a superset of the exact key set),
        # routed through read(where=...): with stats_cols covering key
        # columns it prunes whole FILES from footer zone maps (sound on
        # key columns even under merge-on-read), and as the residual
        # filter it pushes to the parquet scan, where the key-sorted
        # layout compaction/rebucket produce lets row-group min/max stats
        # skip most of each bucket. The exact match is the semi join.
        where = None
        if keys and len(keys) <= 1000:
            where = [
                (c, "in", [k[i] for k in keys])
                for i, c in enumerate(snap.key_cols)
            ]
            # Multi-column keys: the per-column IN lists lose the PAIRING
            # (on a hash-bucketed layout most individual key values appear
            # in every file, so neither zone maps nor scalar blooms can
            # refute). If the table carries a composite bloom over the key
            # tuple, add the tuple predicate so each file is probed with
            # the exact key pairs — the O(probed files) point-read path.
            from etl_spark.lake.bloom import COMPOSITE_SEP

            if len(snap.key_cols) > 1 and \
                    COMPOSITE_SEP.join(snap.key_cols) in snap.bloom_cols():
                where.append(
                    (tuple(snap.key_cols), "in", [tuple(k) for k in keys]))
        df = self.read(version=version, buckets=want_buckets, where=where)
        return df.join(F.broadcast(key_rows), snap.key_cols, "left_semi")

    # ---------------------------------------------------------------- MERGE

    def merge(
        self,
        batch: DataFrame,
        manifest_key: str,
        op_col: str = "op",
        delete_op: str = "D",
        max_retries: int = 3,
    ) -> MergeStats:
        """LWW-upsert a change batch; exactly-once via ``manifest_key``.

        ``batch`` columns = key cols + version cols + ``op_col`` + payload.
        Payload columns not yet in the table schema trigger additive schema
        evolution; table columns missing from the batch are NULL-backfilled.
        """
        for attempt in range(max_retries + 1):
            snap = self.current_snapshot()
            if snap.has_applied(manifest_key):
                return MergeStats(manifest_key, False, snap.version)
            try:
                return self._merge_once(snap, batch, manifest_key, op_col, delete_op)
            except CommitConflict:
                if attempt == max_retries:
                    raise
            except Exception as exc:  # noqa: BLE001 — translate, re-raise
                self._reraise_constraint(exc)
        raise AssertionError("unreachable")

    @staticmethod
    def _reraise_constraint(exc: Exception):
        """A CHECK-constraint guard fires EXECUTOR-side as a generic
        Spark job failure (lake/constraints.py raise_error); surface it
        as the typed ConstraintViolation, everything else re-raises."""
        from etl_spark.lake.constraints import MARKER, ConstraintViolation

        msg = str(exc)
        if MARKER in msg:
            detail = msg[msg.index(MARKER):].splitlines()[0]
            raise ConstraintViolation(
                f"merge refused, nothing published, manifest key "
                f"unclaimed: {detail}"
            ) from exc
        raise exc

    def merge_staged(
        self,
        batch: DataFrame,
        manifest_key: str,
        op_col: str = "op",
        delete_op: str = "D",
    ):
        """Write-audit-publish: run the full merge WRITE path (same
        shuffle shape, same data files, same stats/bloom harvest) but
        stop BEFORE the snapshot commit. Returns a
        :class:`etl_spark.lake.wap.StagedCommit`:

        - ``.read()`` — the would-be table state (staged files + current
          base) for validation gates to audit;
        - ``.publish()`` — the O(1) metadata flip committing the SAME
          staged files (no rewrite; MoR commits rebase past concurrent
          writers like any merge retry);
        - ``.abort()`` — deletes the staged files; the table stays
          byte-identical and the manifest key unclaimed.

        The reference's savepoint-then-commit posture
        (/root/reference/src/impulsoetl/utilitarios/bd.py:224-257) as a
        lake-native WAP. Threshold compaction is deferred to the next
        ordinary merge; staged files look like orphans to ``vacuum``
        until published, so audit within the vacuum grace window."""
        snap = self.current_snapshot()
        if snap.has_applied(manifest_key):
            from etl_spark.lake.wap import StagedCommit

            return StagedCommit(
                table=self, parent_version=snap.version, snapshot=snap,
                manifest_key=manifest_key,
                mode=snap.props.get("merge_mode", "mor"),
                schema=snap.schema, new_files={}, added=[],
                add_nonunique=[], new_stats={}, rows_written=0,
                lineage={}, already_applied=True,
            )
        try:
            return self._merge_once(snap, batch, manifest_key, op_col,
                                    delete_op, stage_only=True)
        except CommitConflict:
            raise
        except Exception as exc:  # noqa: BLE001 — translate, re-raise
            self._reraise_constraint(exc)

    def _merge_once(
        self,
        snap: Snapshot,
        batch: DataFrame,
        manifest_key: str,
        op_col: str,
        delete_op: str,
        stage_only: bool = False,
    ):
        key_cols, ver_cols = snap.key_cols, snap.version_cols
        for c in key_cols + ver_cols + [op_col]:
            if c not in batch.columns:
                raise ValueError(f"batch missing required column {c!r}")

        # ---- additive schema evolution -------------------------------
        table_fields = {f.name: f for f in snap.schema.fields}
        new_fields = [
            StructField(f.name, f.dataType, True)
            for f in batch.schema.fields
            if f.name not in table_fields and f.name != op_col
        ]
        if new_fields:
            # name-tombstone guard (alter_drop_column): this format tracks
            # columns by NAME, so re-adding a dropped name would resurrect
            # the old files' values on read (Iceberg survives this via
            # column IDs; we refuse the name instead)
            tombstoned = {c.strip()
                          for c in snap.props.get("dropped_cols", "").split(",")
                          if c.strip()}
            hit = sorted(f.name for f in new_fields if f.name in tombstoned)
            if hit:
                now_called = {o: n for n, olds in snap.renamed_map().items()
                              for o in olds}
                renamed_hits = {h: now_called[h] for h in hit
                                if h in now_called}
                hint = (
                    f" (renamed: the table now calls "
                    f"{', '.join(f'{o!r} -> {n!r}' for o, n in sorted(renamed_hits.items()))}"
                    f" — update the wire field name)"
                    if renamed_hits else
                    "; rename the wire field or unset 'dropped_cols' "
                    "after a full rewrite"
                )
                raise ValueError(
                    f"batch re-adds dropped column(s) {hit}: existing data "
                    f"files still hold the old values, which an explicit-"
                    f"schema read would resurrect{hint}"
                )
        evolved_schema = StructType(list(snap.schema.fields) + new_fields)
        user_cols = [f.name for f in evolved_schema.fields]
        types = {f.name: f.dataType for f in evolved_schema.fields}

        # ---- silent-truncation guard ---------------------------------
        # ANSI casts are loud for overflow and garbage strings but NOT
        # for fraction loss: cast(10.5 AS BIGINT) quietly yields 10 (and
        # cast(DECIMAL '10.5' AS BIGINT) likewise). A wire whose field
        # drifted long→double would therefore mangle data without a
        # single error. Refuse the one silent case — fractional batch
        # column (double/float/decimal with nonzero scale) into an
        # integral table column — and point at the promotion path
        # (alter_column_type / cdc.envelope.suggest_promotions names the
        # column from the raw wire). Everything else keeps ANSI's
        # loud-or-exact semantics.
        from pyspark.sql.types import DecimalType as _Dec

        def _fractional(dt):
            s = dt.simpleString()
            return (s in ("double", "float")
                    or (isinstance(dt, _Dec) and dt.scale > 0))

        batch_dts = {f.name: f.dataType for f in batch.schema.fields}
        for c in user_cols:
            bdt = batch_dts.get(c)
            bt = bdt.simpleString() if bdt is not None else None
            if bdt is not None and _fractional(bdt) and \
                    types[c].simpleString() in (
                        "int", "bigint", "smallint", "tinyint"):
                raise ValueError(
                    f"batch column {c!r} is {bt} but the table stores "
                    f"{types[c].simpleString()}: the cast would silently "
                    f"truncate fractions — widen the table first "
                    f"(alter_column_type; see "
                    f"cdc.envelope.suggest_promotions) or round/cast "
                    f"explicitly upstream"
                )

        # ---- align batch to evolved schema + bucket + tombstone flag --
        aligned = batch.select(
            *[
                (F.col(c) if c in batch.columns else F.lit(None)).cast(types[c]).alias(c)
                for c in user_cols
            ],
            (F.col(op_col) == F.lit(delete_op)).alias(DEL_FLAG),
        ).withColumn(BUCKET_COL, _route_of(snap))

        # ---- CHECK constraints (lake/constraints.py) -----------------
        # zero-extra-pass enforcement: the guard folds into the tombstone
        # flag the write already materializes — the first violating
        # non-delete row aborts the write job (nothing publishes, the
        # manifest key stays unclaimed); a clean batch pays one codegen'd
        # boolean per constraint per row inside the existing scan
        from etl_spark.lake.constraints import guard_del_flag, parse_constraints

        _cons = parse_constraints(snap.props)
        if _cons:
            aligned = aligned.withColumn(
                DEL_FLAG, guard_del_flag(F.col(DEL_FLAG), _cons))

        mode = snap.props.get("merge_mode", "mor")
        if mode == "cow":
            # Control-plane job: which buckets does this batch touch?
            # (map-side-combinable distinct over <= n_buckets values). Only
            # CoW needs this up front — it decides which buckets to rewrite.
            affected = sorted(
                r[BUCKET_COL] for r in aligned.select(BUCKET_COL).distinct().collect()
            )
        else:
            # MoR appends only the files actually written; claiming every
            # bucket as "affected" costs nothing (empty appends are dropped)
            # and saves a full scan of the batch per merge.
            affected = list(range(snap.id_space()))
        if not affected:
            new_snap = self._child(snap, evolved_schema, snap.buckets, manifest_key,
                                   added=[])
            if stage_only:
                from etl_spark.lake.wap import StagedCommit

                return StagedCommit(
                    table=self, parent_version=snap.version,
                    snapshot=new_snap, manifest_key=manifest_key,
                    mode=mode, schema=evolved_schema, new_files={},
                    added=[], add_nonunique=[], new_stats={},
                    rows_written=0, lineage={},
                )
            self._publish(new_snap)
            return MergeStats(manifest_key, True, new_snap.version, 0,
                              snap.n_buckets, 0)

        buckets = dict(snap.buckets)  # untouched buckets carried by reference
        compacted_n = 0
        add_nonunique: list[str] = []

        if mode == "cow":
            # Copy-on-write: rewrite every affected bucket. Existing rows
            # re-enter the LWW aggregate as change events (a tombstone is a
            # delete at its stored version) — ONE combinable hash aggregate
            # over (existing ∪ batch), no join, no windows; a hot key costs
            # one combine per upstream partition.
            existing_files = [f for b in affected for f in snap.buckets.get(b, [])]
            existing = self._read_files(snap, existing_files, user_schema=evolved_schema)
            existing = existing.select(
                *user_cols, F.col(META_DELETED).alias(DEL_FLAG)
            ).withColumn(BUCKET_COL, _route_of(snap))
            merged = _folder(snap.props)(
                aligned.unionByName(existing), key_cols, ver_cols, user_cols, types
            ).withColumn(BUCKET_COL, _route_of(snap))
            w = self._write_buckets(
                merged, snap.version + 1, snap.stats_cols(),
                spread=self._bijection_spread(snap.id_space()),
            )
            new_files = w.files
            if _is_patch(snap.props):
                # CoW fold output = partial rows; keep on the resolving path
                add_nonunique = [f for fl in new_files.values() for f in fl]
            for bkt in affected:
                buckets[bkt] = new_files.get(bkt, [])
        else:
            # Merge-on-read: write only the batch as delta files — O(batch)
            # per merge, not O(table). Readers resolve per-key winners
            # across base+delta files; buckets whose delta GENERATION
            # count (distinct commit segments) crosses the threshold are
            # compacted below, as a follow-up commit.
            #
            # props["batch_dedup"]="false" (write-optimized) skips the
            # batch-local LWW aggregate: read-time LWW is authoritative
            # anyway, so dropping the agg removes one shuffle per merge.
            # Worth it when batches are mostly key-unique (typical CDC
            # tail); keep the default dedup when batches churn few hot
            # keys (the agg then shrinks the delta files dramatically).
            #
            # PATCH tables always land raw: a batch-local fold to one row
            # per key cannot represent "delete, then set column A" (the
            # delete's reset of every OTHER column would be lost against
            # older on-disk state), and a row-LWW fold would drop earlier
            # partial rows outright. Raw deltas + read-time _patch_rows
            # are authoritative; batch_dedup is inert under patch.
            raw_deltas = (
                snap.props.get("batch_dedup", "true") == "false"
                or snap.props.get("update_semantics", "row") == "patch"
            )
            if raw_deltas:
                is_del = F.col(DEL_FLAG)
                merged = aligned.select(
                    *[
                        (F.when(is_del, F.lit(None).cast(types[c]))
                         .otherwise(F.col(c)).alias(c)
                         if c not in key_cols + ver_cols else F.col(c))
                        for c in user_cols
                    ],
                    is_del.alias(META_DELETED),
                    F.col(BUCKET_COL),
                )
            else:
                merged = _lww_rows(
                    aligned, key_cols, ver_cols, user_cols, types
                ).withColumn(BUCKET_COL, _route_of(snap))
            w = self._write_buckets(
                merged, snap.version + 1, snap.stats_cols(),
                spread=self._salted_spread(snap, key_cols),
            )
            new_files = w.files
            if raw_deltas:
                add_nonunique = [f for fl in new_files.values() for f in fl]
            for bkt, files in new_files.items():
                buckets[bkt] = buckets.get(bkt, []) + files

        # The merge commit publishes FIRST; threshold compaction runs as a
        # separate follow-up commit below. Folding compaction into the same
        # snapshot would de-reference this merge's delta files before any
        # snapshot ever pointed at them, silently dropping the merge from
        # every change feed (changes() provenance = the `added` list).
        added_files = [f for fl in new_files.values() for f in fl]
        harvested = self._harvest_stats(snap, w)
        new_snap = self._child(snap, evolved_schema, buckets, manifest_key,
                               add_nonunique=add_nonunique, added=added_files,
                               new_stats=harvested)
        if stage_only:
            from etl_spark.lake.wap import StagedCommit

            return StagedCommit(
                table=self, parent_version=snap.version, snapshot=new_snap,
                manifest_key=manifest_key, mode=mode,
                schema=evolved_schema, new_files=new_files,
                added=added_files, add_nonunique=add_nonunique,
                new_stats=harvested, rows_written=sum(w.rows.values()),
                lineage=w.lineage, degraded=w.degraded,
            )
        self._publish(new_snap)

        if mode != "cow":
            threshold = int(snap.props.get("compact_threshold", "6"))
            # read-amplification metric = delta GENERATIONS (distinct
            # commit segments, the v…-tok path component), not raw files:
            # the rebalanced write may split one hot bucket into several
            # files within a single merge, which adds write parallelism
            # but no per-key resolution depth — counting files would make
            # every skewed merge trigger a full-bucket rewrite
            to_compact = [
                b for b in buckets
                if len({f.split("/", 2)[1] for f in buckets[b]}) > threshold
                # pending-rescale buckets are left for their migration
                # step, which LWW-folds them anyway — auto-compacting
                # first would pay the same rewrite twice (the planner
                # applies the same skip; an EXPLICIT compact(buckets=...)
                # still rewrites them, e.g. purge's payload scrub cannot
                # wait for the watermark)
                and not (snap.rescale_to is not None
                         and snap.rescale_watermark <= b < snap.n_buckets)
            ]
            if to_compact:
                try:
                    # Best-effort maintenance: the merge above is already
                    # durably committed, so NO compaction failure may
                    # surface as a merge failure (the caller would wrongly
                    # retry/abort a succeeded merge). A lost commit race or
                    # a transient error just leaves the buckets for the
                    # next merge (or the maintenance job) to fold.
                    compacted_n = self.compact(buckets=to_compact)
                except Exception as exc:  # noqa: BLE001 — deliberate
                    w.degraded.append(degraded_event("compact", exc))

        return MergeStats(
            manifest_key=manifest_key,
            applied=True,
            version=new_snap.version,
            buckets_rewritten=len(affected) if mode == "cow" else compacted_n,
            buckets_total=snap.n_buckets,
            rows_written=sum(w.rows.values()),
            partitions=w.lineage,
            degraded=w.degraded,
        )

    def _sort_exprs(self, snap: Snapshot, files: list[str],
                    storage: DataFrame) -> list:
        """Sort columns for a background rewrite. Lexicographic
        ``_sort_order`` by default; with the ``cluster_order: "zorder"``
        prop and 2+ cluster columns, the Morton key leads instead
        (lake/zorder.py) so every cluster dimension prunes row groups.
        Bounds for the rank cells come from snapshot zone maps when
        ``stats_cols`` covers the cluster columns (metadata-only),
        else one min/max aggregate over ``storage`` — the raw pre-fold
        input read, never the folded frame (which would evaluate the
        LWW aggregate twice)."""
        order = _sort_order(snap)  # validates cluster cols exist
        raw = snap.props.get("cluster_cols", "")
        cluster = [c.strip() for c in raw.split(",") if c.strip()]
        mode = snap.props.get("cluster_order", "lexicographic")
        if mode not in ("lexicographic", "zorder"):
            raise ValueError(
                f"cluster_order must be 'lexicographic' or 'zorder', "
                f"got {mode!r}")
        if mode != "zorder" or len(cluster) < 2:
            return order
        from etl_spark.lake.zorder import (
            DEFAULT_BITS, cluster_bounds, validate_zorder_cols, zorder_key,
        )

        validate_zorder_cols(snap.schema, cluster)
        bits = int(snap.props.get("zorder_bits", DEFAULT_BITS))
        bounds = cluster_bounds(snap, cluster, files, storage)
        z = zorder_key(snap.schema, {c: bounds[c] for c in cluster}, bits)
        return [z] + [c for c in snap.key_cols if c not in cluster]

    def _compact_files(
        self,
        snap: Snapshot,
        bucket_files: dict[int, list[str]],
        user_schema: StructType,
        version: int,
        expire_tombstones_before=None,
    ) -> _Written:
        """Fold a bucket's base+delta files into one LWW-resolved file each.

        Tombstones are retained by default so late events older than an
        applied delete still lose after compaction. With
        ``expire_tombstones_before`` (an event-time watermark on
        ``version_cols[0]``), tombstones older than the watermark are
        dropped — valid under the bounded-lateness contract that no event
        older than the watermark can still arrive (the streaming-watermark
        analogue; reference: monthly re-capture horizon)."""
        user_cols = [f.name for f in user_schema.fields]
        types = {f.name: f.dataType for f in user_schema.fields}
        files = [f for fl in bucket_files.values() for f in fl]
        storage = self._read_files(snap, files, user_schema=user_schema)
        storage = storage.select(*user_cols, F.col(META_DELETED).alias(DEL_FLAG))
        # row tables materialize total winner rows; patch tables fold to
        # partial rows preserving per-column winner versions (_patch_fold
        # docstring: materializing would let late events resurrect values)
        compacted = _folder(snap.props)(
            storage, snap.key_cols, snap.version_cols, user_cols, types
        )
        if expire_tombstones_before is not None:
            ts_col = snap.version_cols[0]
            compacted = compacted.filter(
                ~(F.col(META_DELETED) & (F.col(ts_col) < F.lit(expire_tombstones_before)))
            )
        compacted = compacted.withColumn(
            BUCKET_COL, _route_of(snap)
        )
        return self._write_buckets(
            compacted, version, snap.stats_cols(), tag="c",
            sort_cols=self._sort_exprs(snap, files, storage),
            spread=self._bijection_spread(snap.id_space()),
        )

    def _expirable_clean_buckets(
        self, snap: Snapshot, wm, restrict: list[int] | None
    ) -> dict[int, list[str]]:
        """Single-file (already-compacted) buckets whose file provably
        holds at least one tombstone that MAY be older than ``wm`` —
        compaction's expiry pass must rewrite these too, or a tombstone
        in a bucket that never receives another delta survives forever
        (unbounded dead-marker residue on a 100 TB table; it also keeps
        the fastagg footer tier inert for that bucket). Selection is one
        executor-side footer sweep, metadata-only: the ``_deleted``
        boolean column statistics prove tombstone presence, and the
        version column's footer min refutes expirability when it is
        entirely >= ``wm``. Conservative where footers are silent (a
        file whose live rows alone are older than ``wm`` re-selects on
        every pass — wasteful once, never wrong; watermarks are monotone
        in practice). Unreadable footers are SKIPPED: maintenance must
        not be the path that trips over a corrupt file."""
        nonuniq = set(snap.nonunique)
        cand = sorted(
            (fl[0], int(b)) for b, fl in snap.buckets.items()
            if len(fl) == 1 and fl[0] not in nonuniq
            and (restrict is None or b in restrict)
        )
        if not cand:
            return {}
        from etl_spark.lake.stats import _norm

        wm = _norm(wm)  # tz-aware watermark vs naive-UTC footer bounds
        root = self.path
        ts_col = snap.version_cols[0]

        def _part(it):
            import pyarrow.parquet as pq

            from etl_spark.lake.stats import _footer_stats, decode_bound

            for rel, b in it:
                p = os.path.join(root, rel)
                try:
                    md = pq.ParquetFile(p).metadata
                except Exception:  # noqa: BLE001 — corrupt footer: not
                    continue       # maintenance's problem to surface
                if md.num_rows == 0 or md.num_row_groups == 0:
                    continue
                rg0 = md.row_group(0)
                di = None
                for i in range(rg0.num_columns):
                    if rg0.column(i).path_in_schema == META_DELETED:
                        di = i
                        break
                has_tomb = True  # unknown stats => conservative
                if di is not None:
                    seen = True
                    any_true = False
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(di).statistics
                        if st is None or not st.has_min_max:
                            seen = False
                            break
                        any_true = any_true or bool(st.max)
                    if seen:
                        has_tomb = any_true
                if not has_tomb:
                    continue
                try:
                    bound = _footer_stats(p, [ts_col]).get(ts_col)
                except Exception:  # noqa: BLE001
                    bound = None
                if bound is not None and decode_bound(bound[0]) >= wm:
                    continue  # every row, tombstones included, >= wm
                yield (b, rel)

        sc = self.spark.sparkContext
        n = max(1, min(len(cand), 64))
        got = sc.parallelize(cand, n).mapPartitions(_part).collect()
        return {b: [rel] for b, rel in got}

    def compact(self, buckets: list[int] | None = None,
                expire_tombstones_before=None) -> int:
        """Explicitly compact buckets (all multi-file buckets by default).
        Returns the number of buckets compacted. Runs as its own snapshot
        commit with a deterministic manifest key.

        With ``expire_tombstones_before`` set, the pass ALSO rewrites
        already-compacted single-file buckets whose footers prove
        expirable tombstones (see :meth:`_expirable_clean_buckets`) —
        without this, a tombstone in a bucket that never dirties again
        would survive every expiry forever.

        Mid-rescale: an explicit call DOES rewrite pending (unmigrated)
        buckets — redundant beside their coming migration fold, but
        callers like purge cannot wait for the watermark. The AUTOMATIC
        paths (merge's threshold follow-up, plan_compaction) skip them."""
        snap = self.current_snapshot()
        if expire_tombstones_before is not None and \
                snap.props.get("bootstrap_floor"):
            # A snapshot chunk for a key the tail deleted mid-bootstrap
            # may not have arrived yet; only the tombstone's physical
            # survival keeps the chunk from resurrecting the row
            # (cdc/bootstrap.py). Refuse loudly rather than clamp.
            raise ValueError(
                f"tombstone expiry is blocked while bootstrap "
                f"{snap.props['bootstrap_floor']!r} is in flight"
            )
        nonuniq = set(snap.nonunique)
        target = {
            b: fl for b, fl in snap.buckets.items()
            if (len(fl) > 1 or any(f in nonuniq for f in fl))
            and (buckets is None or b in buckets)
        }
        if expire_tombstones_before is not None:
            target.update(self._expirable_clean_buckets(
                snap, expire_tombstones_before, buckets))
        if not target:
            return 0
        w = self._compact_files(snap, target, snap.schema, snap.version + 1,
                                expire_tombstones_before)
        merged = dict(snap.buckets)
        for b in target:
            merged[b] = w.files.get(b, [])
        # added=[]: compaction rewrites rows, it does not change them — the
        # change feed must not re-emit its output. manifest_key=None:
        # maintenance commits stay out of the exactly-once ledger (see
        # _child) — a redundant re-compaction is wasteful, never wrong.
        # Patch tables: folded files hold PARTIAL rows (possibly several
        # per key) — they must stay on the resolving read path.
        nonuniq_out = [f for fl in w.files.values() for f in fl] \
            if _is_patch(snap.props) else []
        self._publish(self._child(snap, snap.schema, merged, None, added=[],
                                  add_nonunique=nonuniq_out,
                                  new_stats=self._harvest_stats(snap, w)))
        return len(target)

    def folded_state(self, version: int | None = None) -> DataFrame:
        """The table's SEMANTIC FOLD at a snapshot — the same reduction
        compaction writes, without writing it: per-key winner rows
        (including tombstones) for row tables; per-column-winner PARTIAL
        rows + the retained tombstone for patch tables (several rows per
        key; see :func:`_patch_fold`). Columns: user schema +
        ``META_DELETED``.

        This is the provenance-preserving state-copy surface for
        consumers that BOOTSTRAP a same-semantics replica
        (``cdc.sync.sync_changes(full_refresh=True)``): for a patch
        table, copying the *resolved* image instead would stamp every
        column at the key's max version, and a late event with a version
        between a column's true winner and that stamp would then resolve
        wrongly in the replica — exactly the hazard ``_patch_fold``
        documents for compaction. Idempotent over already-folded files."""
        snap = self.snapshot(version)
        user_cols = [f.name for f in snap.schema.fields]
        types = {f.name: f.dataType for f in snap.schema.fields}
        files = [f for fl in snap.buckets.values() for f in fl]
        storage = self._read_files(snap, files).select(
            *user_cols, F.col(META_DELETED).alias(DEL_FLAG)
        )
        return _folder(snap.props)(
            storage, snap.key_cols, snap.version_cols, user_cols, types
        )

    def rollback(self, to_version: int) -> int:
        """Restore the table's DATA to snapshot ``to_version`` as a NEW
        commit (Iceberg ``rollback_to_snapshot``): the target's schema,
        bucket layout and file references are republished as a child of
        the current snapshot — history is preserved, and the restored
        files become vacuum-protected again through the new reference.
        The target must still be within the retention horizon
        (``expire_snapshots`` bounds how far back a rollback can reach).

        Two deliberate semantics:

        - the exactly-once ledger is NOT rolled back: epochs applied
          after ``to_version`` stay recorded, so an upstream re-delivery
          of the bad batch remains a no-op — corrected data must
          re-ingest under NEW manifest keys;
        - the change feed does not silently replay the restored state
          (its old LWW versions would lose against a downstream that
          already applied the rolled-back rows): :meth:`changes` raises
          when its range crosses a rollback commit, forcing consumers to
          re-bootstrap onto a fresh destination.

        Returns the new snapshot version. Reference analogue: the
        test-mode rollback that aborts a capture instead of committing it
        (scripts/geral.py:80-90) — this is the post-commit undo.
        """
        snap = self.current_snapshot()
        if to_version >= snap.version:
            raise ValueError(
                f"rollback target v{to_version} is not an ancestor of "
                f"current v{snap.version}"
            )
        target = self.snapshot(to_version)  # raises past retention horizon
        child = Snapshot(
            version=snap.version + 1,
            parent=snap.version,
            schema=target.schema,
            key_cols=target.key_cols,
            version_cols=target.version_cols,
            n_buckets=target.n_buckets,
            buckets={b: list(fl) for b, fl in target.buckets.items()},
            applied=list(snap.applied),
            props=snap.props,
            nonunique=list(target.nonunique),
            added=[],
            applied_watermarks={
                k: list(v) for k, v in snap.applied_watermarks.items()
            },
            applied_count=snap.applied_count,
            rollback_of=to_version,
            file_stats={f: s for f, s in target.file_stats.items()},
            rescale_to=target.rescale_to,
            rescale_watermark=target.rescale_watermark,
        )
        self._publish(child)
        return child.version

    def rebucket(self, new_n_buckets: int) -> int:
        """Rewrite the table into a different bucket count — the growth
        path when a layout chosen at creation stops fitting the data
        volume (Iceberg's partition-spec evolution analogue). One atomic
        commit: every stored row (including tombstones, which must keep
        suppressing late events) is re-hashed with the new modulus and
        rewritten; concurrent writers lose the race cleanly via
        ``CommitConflict`` and retry against the new layout.

        O(table) rewrite by design — schedule it like a full compaction.
        Returns the new snapshot version."""
        if new_n_buckets < 1:
            raise ValueError("new_n_buckets must be >= 1")
        snap = self.current_snapshot()
        if snap.rescale_to is not None:
            raise ValueError(
                f"an incremental rescale to {snap.rescale_to} is in "
                f"flight (watermark {snap.rescale_watermark}/"
                f"{snap.n_buckets}); drive it to completion with "
                f"rescale_step() before an atomic rebucket"
            )
        files = [f for fl in snap.buckets.values() for f in fl]
        user_cols = [f.name for f in snap.schema.fields]
        types = {f.name: f.dataType for f in snap.schema.fields}
        storage = self._read_files(snap, files).select(
            *user_cols, F.col(META_DELETED).alias(DEL_FLAG)
        )
        # resolve LWW while we are rewriting anyway (free compaction);
        # patch tables fold to partial rows instead (see _patch_fold)
        resolved = _folder(snap.props)(
            storage, snap.key_cols, snap.version_cols, user_cols, types
        ).withColumn(
            BUCKET_COL,
            F.pmod(F.xxhash64(*[F.col(c) for c in snap.key_cols]),
                   F.lit(new_n_buckets)).cast("int"),
        )
        w = self._write_buckets(
            resolved, snap.version + 1, snap.stats_cols(), tag="r",
            sort_cols=self._sort_exprs(snap, files, storage),
            spread=self._bijection_spread(new_n_buckets),
        )
        child = self._child(
            snap, snap.schema, w.files, None, added=[],
            add_nonunique=[f for fl in w.files.values() for f in fl]
            if _is_patch(snap.props) else (),
            new_stats=self._harvest_stats(snap, w))
        child.n_buckets = new_n_buckets
        self._publish(child)
        return child.version

    # ------------------------------------------------------ incremental rescale

    def start_rescale(self, new_n_buckets: int, max_retries: int = 3) -> int:
        """Begin changing the bucket count WITHOUT an O(table) rewrite —
        the 100 TB alternative to :meth:`rebucket`, whose single atomic
        commit is a multi-hour job that loses every publish race with
        concurrent ingest. Two regimes, both correct mid-flight:

        - **Grow** (``new % n_buckets == 0``): this commit is
          metadata-only (records the target + a zero watermark); data
          moves later, one old bucket at a time, via
          :meth:`rescale_step` — each step is O(bucket), budget-bounded,
          and merges/reads stay correct throughout because every path
          routes through the watermark CASE (:func:`_route_of`).
        - **Shrink** (``n_buckets % new == 0``): completes IN this
          commit with ZERO data I/O. ``hash % old = b`` implies
          ``hash % new = b % new``, so each old bucket's files belong
          wholly to one new bucket — the file LISTS merge and read-time
          LWW (buckets are disjoint key spaces) resolves across them;
          later compaction folds the extra files at leisure.

        Iceberg analogue: partition-spec evolution — old data stays
        under the old spec while the layout migrates incrementally,
        instead of Hive's rewrite-the-world. Returns the new snapshot
        version."""
        if new_n_buckets < 1:
            raise ValueError("new_n_buckets must be >= 1")
        last_exc = None
        for _ in range(max_retries + 1):
            snap = self.current_snapshot()
            if snap.rescale_to is not None:
                raise ValueError(
                    f"a rescale to {snap.rescale_to} is already in flight "
                    f"(watermark {snap.rescale_watermark}/{snap.n_buckets})"
                )
            if snap.props.get("bootstrap_floor"):
                # bootstrap chunk assignment is derived from the CURRENT
                # n_buckets on every resume (cdc/bootstrap.py _chunk_expr);
                # finalizing a rescale mid-bootstrap would repartition the
                # chunks and let a resumed bootstrap skip rows
                raise ValueError(
                    f"rescale is blocked while bootstrap "
                    f"{snap.props['bootstrap_floor']!r} is in flight"
                )
            if new_n_buckets == snap.n_buckets:
                raise ValueError(f"table already has {new_n_buckets} buckets")
            if new_n_buckets > snap.n_buckets:
                if new_n_buckets % snap.n_buckets != 0:
                    raise ValueError(
                        f"incremental grow needs an integer multiple of "
                        f"{snap.n_buckets} (got {new_n_buckets}) so each "
                        f"old bucket splits into exactly its own child "
                        f"ids; use rebucket() for an arbitrary count"
                    )
                child = self._child(snap, snap.schema, dict(snap.buckets),
                                    None, added=[])
                child.rescale_to = new_n_buckets
                child.rescale_watermark = 0
            else:
                if snap.n_buckets % new_n_buckets != 0:
                    raise ValueError(
                        f"metadata-only shrink needs a divisor of "
                        f"{snap.n_buckets} (got {new_n_buckets}); use "
                        f"rebucket() for an arbitrary count"
                    )
                merged: dict[int, list[str]] = {}
                for b in sorted(snap.buckets):
                    if snap.buckets[b]:
                        merged.setdefault(b % new_n_buckets, []).extend(
                            snap.buckets[b])
                child = self._child(snap, snap.schema, merged, None,
                                    added=[])
                child.n_buckets = new_n_buckets
            try:
                self._publish(child)
                return child.version
            except CommitConflict as exc:
                last_exc = exc
        raise last_exc

    def rescale_step(self, max_buckets: int = 1,
                     budget_bytes: int | None = None,
                     max_retries: int = 3) -> dict:
        """Migrate the next slice of an in-flight grow rescale: split old
        buckets ``[watermark, ...)`` (ascending — the order the routing
        CASE relies on) into their ``rescale_to`` child ids. Each split
        reads ONE old bucket's files, LWW-folds them (free compaction,
        tombstones retained — they must keep suppressing late events
        from their new child id), re-buckets by the new modulus and
        writes via the collision-free bijection. O(selected buckets),
        never O(table); a maintenance commit (no manifest key, empty
        change-feed provenance) exactly like compaction.

        ``budget_bytes`` bounds the input bytes per call with the same
        progress guarantee as the compaction planner: the first pending
        bucket is ALWAYS taken, so an outsized hot bucket cannot wedge
        convergence. Empty pending buckets advance the watermark for
        free. The step that migrates the last bucket also FINALIZES:
        ``n_buckets`` flips to the target and the rescale state clears,
        all in the same commit.

        Returns ``{"split": [...], "watermark": w, "done": bool,
        "version": v}``."""
        if max_buckets < 1:
            raise ValueError("max_buckets must be >= 1")
        last_exc = None
        for _ in range(max_retries + 1):
            snap = self.current_snapshot()
            if snap.rescale_to is None:
                raise ValueError("no rescale in flight (start_rescale first)")
            new_n = snap.rescale_to
            w = snap.rescale_watermark
            selected: list[int] = []
            spent = 0
            b = w
            while b < snap.n_buckets:
                fl = snap.buckets.get(b, [])
                if fl:
                    if len(selected) >= max_buckets:
                        break
                    cost = self._stored_bytes(fl)
                    if selected and budget_bytes is not None and \
                            spent + cost > budget_bytes:
                        break
                    selected.append(b)
                    spent += cost
                b += 1
            new_wm = b
            buckets = dict(snap.buckets)
            harvested: dict[str, dict[str, list]] = {}
            add_nonunique: list[str] = []
            if selected:
                files = [f for sb in selected for f in snap.buckets[sb]]
                user_cols = [f.name for f in snap.schema.fields]
                types = {f.name: f.dataType for f in snap.schema.fields}
                storage = self._read_files(snap, files).select(
                    *user_cols, F.col(META_DELETED).alias(DEL_FLAG)
                )
                resolved = _folder(snap.props)(
                    storage, snap.key_cols, snap.version_cols, user_cols,
                    types,
                ).withColumn(
                    BUCKET_COL,
                    F.pmod(F.xxhash64(*[F.col(c) for c in snap.key_cols]),
                           F.lit(new_n)).cast("int"),
                )
                out = self._write_buckets(
                    resolved, snap.version + 1, snap.stats_cols(), tag="s",
                    sort_cols=self._sort_exprs(snap, files, storage),
                    spread=self._bijection_spread(new_n),
                )
                for sb in selected:
                    del buckets[sb]
                buckets.update(out.files)
                if _is_patch(snap.props):
                    # patch fold output = PARTIAL rows, possibly several
                    # per key — children stay on the resolving read path
                    add_nonunique = [f for fl in out.files.values()
                                     for f in fl]
                harvested = self._harvest_stats(snap, out)
            done = new_wm >= snap.n_buckets
            child = self._child(snap, snap.schema, buckets, None,
                                added=[], add_nonunique=add_nonunique,
                                new_stats=harvested)
            if done:
                child.n_buckets = new_n
                child.rescale_to = None
                child.rescale_watermark = 0
            else:
                child.rescale_watermark = new_wm
            try:
                self._publish(child)
                return {"split": selected, "watermark": new_wm,
                        "done": done, "version": child.version}
            except CommitConflict as exc:
                last_exc = exc
        raise last_exc

    def rescale_status(self) -> dict | None:
        """``None`` in steady state, else progress of the in-flight
        grow rescale."""
        snap = self.current_snapshot()
        if snap.rescale_to is None:
            return None
        return {
            "from_buckets": snap.n_buckets,
            "to_buckets": snap.rescale_to,
            "watermark": snap.rescale_watermark,
            "remaining": snap.n_buckets - snap.rescale_watermark,
        }

    # (old simpleString, new simpleString) the parquet vectorized reader
    # converts on the fly (probed on this Spark: int->long, int->double,
    # float->double read old files correctly under the widened schema;
    # long->double and any->string raise PARQUET_COLUMN_DATA_TYPE_MISMATCH)
    _READ_WIDENINGS = {("int", "bigint"), ("int", "double"),
                       ("float", "double")}
    # safe value-preserving promotions the reader can NOT do — they need a
    # one-time O(table) rewrite (same price as rebucket)
    _REWRITE_WIDENINGS = {("bigint", "double"), ("int", "string"),
                          ("bigint", "string"), ("float", "string"),
                          ("double", "string")}

    def alter_column_type(self, col: str, new_type, rewrite: bool = False,
                          max_retries: int = 3) -> int:
        """Widen a column's type (Iceberg type-promotion analogue) —
        the evolution path when a drifting wire outgrows a column (a
        field that sent ``1`` for months starts sending ``1.5``: ANSI
        casts would TRUNCATE that silently — merge refuses the cast
        instead, and this is the fix).

        Two tiers, priced honestly:

        - ``int→long``, ``int→double``, ``float→double``: METADATA-ONLY
          commit — the parquet vectorized reader converts old files on
          the fly under the widened read schema (probed; pinned by
          tests), merges cast incoming batches to the new type, nothing
          is rewritten.
        - ``long→double`` and ``→string``: the reader cannot convert, so
          the promotion is a one-time O(table) rewrite (pass
          ``rewrite=True`` to acknowledge the price — same cost shape as
          :meth:`rebucket`, and like it resolves LWW for free).

        Narrowing and non-value-preserving changes are refused. Key
        columns are refused outright (bucket placement hashes the key's
        binary representation — widening would scramble the layout);
        columns carrying zone maps or Bloom filters are refused until
        those props are unset (their stored entries encode the old type;
        re-enable + backfill after). Version columns are allowed: numeric
        widening preserves LWW order. Downstream replicas maintained by
        ``cdc.sync`` must apply the same promotion before their next
        round (their own merge refuses the narrowing cast loudly —
        never silently)."""
        for attempt in range(max_retries + 1):
            snap = self.current_snapshot()
            by_name = {f.name: f for f in snap.schema.fields}
            if col not in by_name:
                raise ValueError(f"no such column {col!r}")
            if col in snap.key_cols:
                raise ValueError(
                    f"cannot widen key column {col!r}: bucket placement "
                    f"hashes the key's binary representation"
                )
            if col in snap.stats_cols():
                raise ValueError(
                    f"column {col!r} carries zone maps typed as "
                    f"{by_name[col].dataType.simpleString()}: unset "
                    f"stats_cols for it first, re-add + backfill_stats "
                    f"after the widening"
                )
            from etl_spark.lake.bloom import COMPOSITE_SEP
            hit = [e for e in snap.bloom_cols()
                   if col in e.split(COMPOSITE_SEP)]
            if hit:
                raise ValueError(
                    f"column {col!r} is part of bloom entries {hit}: "
                    f"unset bloom_cols for them first (stored bitmaps "
                    f"hash the old type)"
                )
            old_s = by_name[col].dataType.simpleString()
            new_s = new_type.simpleString()
            if old_s == new_s:
                return snap.version
            pair = (old_s, new_s)
            evolved = StructType([
                StructField(f.name, new_type if f.name == col else f.dataType,
                            True)
                for f in snap.schema.fields
            ])
            try:
                if pair in self._READ_WIDENINGS:
                    child = self._child(snap, evolved, snap.buckets, None,
                                        added=[])
                    self._publish(child)
                    return child.version
                if pair in self._REWRITE_WIDENINGS:
                    if not rewrite:
                        raise ValueError(
                            f"{old_s} -> {new_s} is not read-convertible "
                            f"by parquet: pass rewrite=True to accept the "
                            f"one-time O(table) rewrite"
                        )
                    return self._rewrite_widened(snap, col, evolved)
                raise ValueError(
                    f"unsupported promotion {old_s} -> {new_s}: only "
                    f"value-preserving widenings are allowed"
                )
            except CommitConflict:
                if attempt == max_retries:
                    raise
        raise AssertionError("unreachable")

    def _rewrite_widened(self, snap: "Snapshot", col: str,
                         evolved: StructType) -> int:
        """One-time full rewrite casting ``col`` (rebucket's shape, same
        bucket count — bucket placement never involves non-key columns,
        so every row stays in its bucket)."""
        files = [f for fl in snap.buckets.values() for f in fl]
        user_cols = [f.name for f in snap.schema.fields]
        types = {f.name: f.dataType for f in evolved.fields}
        storage = self._read_files(snap, files).select(
            *[F.col(c).cast(types[c]).alias(c) for c in user_cols],
            F.col(META_DELETED).alias(DEL_FLAG),
        )
        resolved = _folder(snap.props)(
            storage, snap.key_cols, snap.version_cols, user_cols, types
        ).withColumn(BUCKET_COL, _route_of(snap))
        w = self._write_buckets(
            resolved, snap.version + 1, snap.stats_cols(), tag="w",
            sort_cols=self._sort_exprs(snap, files, storage),
            spread=self._bijection_spread(snap.id_space()),
        )
        child = self._child(
            snap, evolved, w.files, None, added=[],
            add_nonunique=[f for fl in w.files.values() for f in fl]
            if _is_patch(snap.props) else (),
            new_stats=self._harvest_stats(snap, w))
        self._publish(child)
        return child.version

    def alter_drop_column(self, col: str, max_retries: int = 3) -> int:
        """Drop a payload column as a METADATA-ONLY commit (Iceberg
        ``ALTER TABLE ... DROP COLUMN``): nothing is rewritten — every
        read path uses an explicit schema, so the physical column in
        existing files is simply never decoded again (and a later
        compaction/rebucket rewrite sheds the bytes as a side effect).

        The honest limitation, guarded rather than hidden: Iceberg
        survives drop-then-re-add because it tracks columns by ID; this
        format tracks them by NAME, and re-adding a dropped name would
        RESURRECT the old files' values on read. The name is therefore
        tombstoned in the ``dropped_cols`` prop and merge's additive
        evolution refuses to bring it back (the wire field must be
        renamed — or the prop unset after a full rewrite has shed the
        physical column everywhere).

        Refused: key/version columns (structural); columns carrying
        zone maps, Bloom entries, or cluster order (their stored
        metadata encodes the column — unset those props first); columns
        referenced by a CHECK constraint (drop the constraint first).
        Downstream ``cdc.sync`` replicas should apply the same drop;
        until then their copies NULL-backfill the column for new rows
        (additive evolution's normal shape), which is lossy-forward but
        never wrong."""
        for attempt in range(max_retries + 1):
            snap = self.current_snapshot()
            by_name = {f.name: f for f in snap.schema.fields}
            if col not in by_name:
                raise ValueError(f"no such column {col!r}")
            if col in snap.key_cols or col in snap.version_cols:
                raise ValueError(
                    f"cannot drop {col!r}: key/version columns are "
                    f"structural (bucket placement / LWW order)"
                )
            if col in snap.stats_cols():
                raise ValueError(
                    f"column {col!r} carries zone maps: unset stats_cols "
                    f"for it first"
                )
            from etl_spark.lake.bloom import COMPOSITE_SEP
            hit = [e for e in snap.bloom_cols()
                   if col in e.split(COMPOSITE_SEP)]
            if hit:
                raise ValueError(
                    f"column {col!r} is part of bloom entries {hit}: "
                    f"unset bloom_cols for them first"
                )
            cluster = [c.strip()
                       for c in snap.props.get("cluster_cols", "").split(",")
                       if c.strip()]
            if col in cluster:
                raise ValueError(
                    f"column {col!r} is a cluster dimension: unset "
                    f"cluster_cols first"
                )
            from etl_spark.lake.constraints import parse_constraints
            refs = sorted(
                name for name, expr in parse_constraints(snap.props).items()
                if re.search(rf"\b{re.escape(col)}\b", expr)
            )
            if refs:
                raise ValueError(
                    f"column {col!r} is referenced by CHECK constraint(s) "
                    f"{refs}: drop_constraint first"
                )
            narrowed = StructType(
                [f for f in snap.schema.fields if f.name != col])
            props = dict(snap.props)
            dropped = [c.strip() for c in props.get("dropped_cols", "").split(",")
                       if c.strip()]
            props["dropped_cols"] = ",".join(dropped + [col])
            defaults = json.loads(props.get("default_cols", "{}"))
            if defaults.pop(col, None) is not None:
                props["default_cols"] = json.dumps(defaults, sort_keys=True)
            try:
                child = self._child(snap, narrowed, snap.buckets, None,
                                    added=[])
                child.props = props
                self._publish(child)
                return child.version
            except CommitConflict:
                if attempt == max_retries:
                    raise
        raise AssertionError("unreachable")

    def alter_rename_column(self, old: str, new: str,
                            max_retries: int = 3) -> int:
        """Rename a payload column as a METADATA-ONLY commit (Iceberg
        ``ALTER TABLE ... RENAME COLUMN``): nothing is rewritten. The
        prior physical name is recorded in the ``renamed_cols`` prop and
        every read decodes BOTH names, coalescing newest-first — so
        old-vintage files keep answering under the new name while files
        written after the rename carry it physically (any
        compaction/rebucket rewrite migrates the bytes as a side
        effect). Renames chain: after a->b->c the prop holds ``c:b|a``
        and reads coalesce across all three vintages.

        The honest limitation, same as :meth:`alter_drop_column`: this
        format tracks columns by NAME, so the old name is tombstoned in
        ``dropped_cols`` — a wire batch still carrying it is REFUSED
        (merge's resurrection guard names the rename) rather than
        silently forking the column. After a full rewrite (rebucket) has
        shed the old physical name everywhere, both props may be unset.

        Refused (same structural set as drop): key/version columns;
        columns carrying zone maps, Bloom entries, or cluster order;
        columns referenced by CHECK constraints. Also refused: a target
        name already in the schema, or tombstoned in ``dropped_cols`` —
        old files still hold physical values under that name, which the
        rename's own read path would resurrect."""
        for attempt in range(max_retries + 1):
            snap = self.current_snapshot()
            by_name = {f.name: f for f in snap.schema.fields}
            if old not in by_name:
                raise ValueError(f"no such column {old!r}")
            if new in by_name:
                raise ValueError(f"column {new!r} already exists")
            if not new or not new.isidentifier():
                raise ValueError(f"invalid column name {new!r}")
            if old in snap.key_cols or old in snap.version_cols:
                raise ValueError(
                    f"cannot rename {old!r}: key/version columns are "
                    f"structural (bucket placement / LWW order / "
                    f"manifest provenance reference them by name)"
                )
            if old in snap.stats_cols():
                raise ValueError(
                    f"column {old!r} carries zone maps: unset stats_cols "
                    f"for it first"
                )
            from etl_spark.lake.bloom import COMPOSITE_SEP
            hit = [e for e in snap.bloom_cols()
                   if old in e.split(COMPOSITE_SEP)]
            if hit:
                raise ValueError(
                    f"column {old!r} is part of bloom entries {hit}: "
                    f"unset bloom_cols for them first"
                )
            cluster = [c.strip()
                       for c in snap.props.get("cluster_cols", "").split(",")
                       if c.strip()]
            if old in cluster:
                raise ValueError(
                    f"column {old!r} is a cluster dimension: unset "
                    f"cluster_cols first"
                )
            from etl_spark.lake.constraints import parse_constraints
            refs = sorted(
                name for name, expr in parse_constraints(snap.props).items()
                if re.search(rf"\b{re.escape(old)}\b", expr)
            )
            if refs:
                raise ValueError(
                    f"column {old!r} is referenced by CHECK constraint(s) "
                    f"{refs}: drop_constraint first"
                )
            props = dict(snap.props)
            dropped = [c.strip()
                       for c in props.get("dropped_cols", "").split(",")
                       if c.strip()]
            renames = snap.renamed_map()
            if new in dropped or any(new in olds
                                     for olds in renames.values()):
                raise ValueError(
                    f"cannot rename to {new!r}: the name is tombstoned "
                    f"(dropped or renamed away) and existing data files "
                    f"still hold physical values under it, which the "
                    f"rename's read path would resurrect; pick another "
                    f"name or unset the props after a full rewrite"
                )
            # chain fold: if `old` was itself a rename target, the new
            # name inherits its physical-name history (newest first)
            olds = [old] + renames.pop(old, [])
            renames[new] = olds
            props["renamed_cols"] = ",".join(
                f"{n}:{'|'.join(o)}" for n, o in sorted(renames.items()))
            props["dropped_cols"] = ",".join(dropped + [old])
            defaults = json.loads(props.get("default_cols", "{}"))
            if old in defaults:
                # the initial default follows the column to its new name
                defaults[new] = defaults.pop(old)
                props["default_cols"] = json.dumps(defaults, sort_keys=True)
            renamed_schema = StructType([
                StructField(new, f.dataType, f.nullable)
                if f.name == old else f
                for f in snap.schema.fields
            ])
            try:
                child = self._child(snap, renamed_schema, snap.buckets,
                                    None, added=[])
                child.props = props
                self._publish(child)
                return child.version
            except CommitConflict:
                if attempt == max_retries:
                    raise
        raise AssertionError("unreachable")

    def alter_add_column(self, col: str, dtype, default=None,
                         max_retries: int = 3) -> int:
        """Add a nullable payload column as a METADATA-ONLY commit —
        with an optional INITIAL DEFAULT (Iceberg ``ADD COLUMN ...``
        initial-default semantics): rows in files written BEFORE this
        commit read ``default``; rows written after read their physical
        value, NULL included. Nothing is rewritten — ``_read_files``
        groups files by vintage and coalesces, and background rewrites
        (compact/rescale/rebucket) materialize the default as a side
        effect, after which their output vintages drop out of the
        coalesce by themselves.

        Deliberately NOT a write-side default: a merge batch omitting
        the column stores NULL (additive evolution's contract) — the
        default describes the PAST, not future writes (Delta's
        write-time ``DEFAULT`` is a different feature; a wire that wants
        the default must send it).

        Additive merges can also introduce columns, but only as
        all-NULL history; this is the verb for "old rows should read X".
        Refused: existing names; tombstoned names (``dropped_cols`` —
        old files may still hold physical values a re-add would
        resurrect). ``dtype`` is a Spark DataType or DDL string;
        ``default`` must cast to it (validated loudly here, through
        Spark's own cast)."""
        from pyspark.sql.types import _parse_datatype_string

        if isinstance(dtype, str):
            dtype = _parse_datatype_string(dtype)
        if default is not None:
            # the default is stored as a JSON literal and re-cast on
            # every read (Spark lit().cast and the SPJ Arrow kernel both
            # consume the literal) — refuse non-JSON values with the
            # typed error instead of an untyped dumps crash, naming the
            # portable form
            try:
                json.dumps(default)
            except TypeError as exc:
                raise ValueError(
                    f"default {default!r} ({type(default).__name__}) is "
                    f"not a JSON-storable literal: pass the ISO/string "
                    f"form (it is cast to {dtype.simpleString()} on "
                    f"read)") from exc
            # exact Spark cast semantics, one local row; ANSI throws on
            # garbage — translate to the typed refusal either way
            try:
                chk = self.spark.range(1).select(
                    F.lit(default).cast(dtype).alias("v")).collect()[0]["v"]
            except Exception as exc:  # noqa: BLE001 — ANSI cast error
                raise ValueError(
                    f"default {default!r} does not cast to "
                    f"{dtype.simpleString()}") from exc
            if chk is None:
                raise ValueError(
                    f"default {default!r} does not cast to "
                    f"{dtype.simpleString()}")
        for attempt in range(max_retries + 1):
            snap = self.current_snapshot()
            if col in {f.name for f in snap.schema.fields}:
                raise ValueError(f"column {col!r} already exists")
            props = dict(snap.props)
            tombstoned = {c.strip()
                          for c in props.get("dropped_cols", "").split(",")
                          if c.strip()}
            if col in tombstoned:
                raise ValueError(
                    f"cannot add {col!r}: the name is tombstoned (dropped "
                    f"or renamed away) and existing data files still hold "
                    f"physical values under it, which this column's read "
                    f"path would resurrect; pick another name or unset "
                    f"'dropped_cols' after a full rewrite"
                )
            if default is not None:
                defaults = json.loads(props.get("default_cols", "{}"))
                defaults[col] = {"v": default, "at": snap.version + 1}
                props["default_cols"] = json.dumps(defaults, sort_keys=True)
            widened = StructType(
                list(snap.schema.fields) + [StructField(col, dtype, True)])
            try:
                child = self._child(snap, widened, snap.buckets, None,
                                    added=[])
                child.props = props
                self._publish(child)
                return child.version
            except CommitConflict:
                if attempt == max_retries:
                    raise
        raise AssertionError("unreachable")

    def _stored_bytes(self, files) -> int:
        """Driver-side sum of stored file sizes (vanished files count 0
        — a racing vacuum must not fail planning). An object-store
        deployment would read catalog-recorded sizes here instead; this
        is the ONE place to swap that in (salted spread, rescale budget
        and the auto-rescale policy all size through it)."""
        total = 0
        for f in files:
            try:
                total += os.stat(os.path.join(self.path, f)).st_size
            except OSError:
                pass
        return total

    @staticmethod
    def _bijection_spread(n_buckets: int):
        """``(num_partitions, partition_key)`` making the bucket-aligned
        write COLLISION-FREE: exactly one bucket per reduce task. The key
        is the bucket's murmur3 PREIMAGE (``_pid_preimages``), so Spark's
        hash partitioner — ``pmod(murmur3(key), n)`` — lands bucket i on
        partition i, a bijection. Cost of the alternative (measured on the
        64M-event replay): plain ``repartition(bucket)`` into 2x-cores
        partitions stacked up to 8 near-equal buckets / 1.96x mean bytes
        in the hottest task, a write-stage straggler tail worth ~11% of
        wall at local[8] that GROWS with parallelism. Task count equals
        n_buckets at every cluster size — the same work decomposition at
        N and 4N cores, so scaling is pure scheduling.

        element_at is deliberately strict (ANSI): a bucket id outside
        [0, n) is a layout bug and must surface, not silently skew."""
        pre = _PID_CACHE.get(n_buckets)
        if pre is None:
            pre = _PID_CACHE[n_buckets] = _pid_preimages(n_buckets)
        arr = F.array(*[F.lit(v) for v in pre])
        return n_buckets, F.element_at(arr, F.col(BUCKET_COL) + F.lit(1))

    def _salted_spread(self, snap: "Snapshot", key_cols: list[str]):
        """Spread for the MERGE write: the collision-free bijection above,
        PLUS size-aware splitting of genuinely hot buckets into
        ~average-sized salt units (each unit gets its own preimage-keyed
        task and writes its own file — valid under MoR, buckets hold file
        lists and read-time LWW resolves across them; the compaction
        trigger counts delta GENERATIONS, not files, so split writes don't
        masquerade as read-amplification). Split factors are SELF-TUNING
        from the table's own layout: each bucket's stored bytes
        (driver-side stat of its referenced files — an object-store
        deployment would read catalog-recorded sizes; very wide layouts
        would ship the unit map as a broadcast join instead of literals)
        decide how many units its incoming rows decompose into, capped at
        16. Under stationary CDC skew (hot repos stay hot — the north-star
        workload) the stored distribution predicts the batch's; the first
        merge into an empty table and the no-skew case run the plain
        bijection. ``merge_balance="plain"`` opts out entirely."""
        if snap.props.get("merge_balance", "salted") != "salted":
            return None
        n = snap.id_space()
        sizes = {b: self._stored_bytes(fl)
                 for b, fl in snap.buckets.items()}
        mean = sum(sizes.values()) / max(n, 1)
        factors = {
            b: min(16, int(round(s / mean)))
            for b, s in sizes.items() if mean > 0 and s >= 1.5 * mean
        }
        if not factors:
            return self._bijection_spread(n)
        # unit layout: bucket b owns pids [offset_b, offset_b + k_b)
        offsets: list[int] = []
        total_units = 0
        for b in range(n):
            offsets.append(total_units)
            total_units += factors.get(b, 1)
        pre = _pid_preimages(total_units)
        k_items: list = []
        for b, k in sorted(factors.items()):
            k_items += [F.lit(b), F.lit(k)]
        kcol = F.coalesce(
            F.try_element_at(F.create_map(*k_items), F.col(BUCKET_COL)),
            F.lit(1),
        )
        off = F.element_at(
            F.array(*[F.lit(o) for o in offsets]), F.col(BUCKET_COL) + F.lit(1)
        )
        # salt hash: xxhash64 with an extra literal, decorrelated from the
        # bucket hash over the same key columns
        unit = off + F.when(kcol > 1, F.pmod(
            F.xxhash64(*[F.col(c) for c in key_cols], F.lit("__salt")), kcol
        ).cast("int")).otherwise(F.lit(0))
        return total_units, F.element_at(
            F.array(*[F.lit(v) for v in pre]), unit + F.lit(1))

    def _write_buckets(
        self, merged: DataFrame, version: int, stats_cols: list[str] = (),
        tag: str = "",
        sort_cols: list[str] | None = None,
        spread=None,
    ) -> _Written:
        """Write per-bucket parquet files, move them into place and read
        each new file's footer once, on the driver: its ``num_rows`` (the
        per-bucket lineage and ``rows_written``) and its ``stats_cols``
        zone-map bounds. No Spark job besides the write itself.

        ``sort_cols`` clusters rows within each bucket file before writing
        (parquet row-group min/max stats then prune point lookups inside a
        bucket). Compaction/rebucket pass the key columns; the merge hot
        path stays unsorted — background rewrites pay the sort, not the
        ingest tail."""
        # Unique per write attempt: a crashed or racing writer's segment
        # must never collide with (and silently overwrite) a committed
        # writer's segment of the same target version — orphans stay
        # orphans and are reclaimed by vacuum().
        tok = uuid.uuid4().hex[:8]
        seg_rel = f"{_DATA_DIR}/v{version:010d}{tag}-{tok}"
        seg_abs = os.path.join(self.path, seg_rel)
        staging = seg_abs + ".stage"
        # spread = (num_partitions, partition_key): the collision-free
        # bucket→task bijection (optionally salted for hot buckets — see
        # _bijection_spread / _salted_spread). Measured alternatives at
        # 64M events, all rejected: plain repartition(bucket) stacks up to
        # 8 near-equal buckets (1.96x mean bytes) in one task; AQE
        # REBALANCE by bucket balances local[8] well (-16% wall) but
        # splits by MAP RANGE so every split task writes every bucket in
        # its range — 3.9 files/bucket at 8 cores ballooned to 14.8 at 2
        # cores, file count scaling with splits x buckets; blind 2x
        # over-partitioning balances nearly as well but costs +14% cpu in
        # shuffle-stream overhead and still collides.
        if spread is not None:
            shaped = merged.repartition(spread[0], spread[1])
        else:
            shaped = merged.repartition(F.col(BUCKET_COL))
        if sort_cols:
            # BUCKET_COL must LEAD the ordering: FileFormatWriter requires
            # task rows sorted by the dynamic-partition columns and inserts
            # its own (non-stable) sort when the child ordering doesn't
            # already satisfy that — which would silently destroy the
            # clustering this sort exists to produce (reproduced: ts-sorted
            # partitions came out unsorted per bucket dir). Leading with the
            # bucket satisfies the writer's requirement, so no extra sort
            # is planned and the within-bucket order survives verbatim.
            shaped = shaped.sortWithinPartitions(BUCKET_COL, *sort_cols)
        (
            shaped.write.partitionBy(BUCKET_COL)
            .mode("overwrite")
            .parquet(staging)
        )
        new_files: dict[int, list[str]] = {}
        lineage: dict[int, dict] = {}
        # Publish = ONE rename per bucket directory (O(buckets), not
        # O(files)): the staged `__bucket=N` dirs move into the commit's
        # segment dir as `bNNNNN` (stripping the `name=value` shape so a
        # later multi-path read can't partition-infer a stray column), and
        # the snapshot references files by their staged names. At thousands
        # of files per commit this is what keeps publish off the critical
        # path; on an object store this whole step is the manifest/catalog
        # commit instead.
        os.makedirs(seg_abs, exist_ok=True)
        for entry in sorted(os.listdir(staging)):
            if not entry.startswith(f"{BUCKET_COL}="):
                continue
            bkt = int(entry.split("=", 1)[1])
            bdir_rel = f"{seg_rel}/b{bkt:05d}"
            bdir_abs = os.path.join(self.path, bdir_rel)
            os.rename(os.path.join(staging, entry), bdir_abs)
            files = []
            b_bytes = 0
            with os.scandir(bdir_abs) as it:
                for de in sorted(it, key=lambda d: d.name):
                    if not de.name.endswith(".parquet"):
                        continue
                    files.append(f"{bdir_rel}/{de.name}")
                    b_bytes += de.stat().st_size
            new_files[bkt] = files
            lineage[bkt] = {"files": len(files), "bytes": b_bytes}
        shutil.rmtree(staging, ignore_errors=True)
        if not new_files:
            shutil.rmtree(seg_abs, ignore_errors=True)
        rows, bounds, degraded = read_footers(
            self.path, [f for fl in new_files.values() for f in fl],
            stats_cols)
        for bkt, files in new_files.items():
            lineage[bkt]["rows"] = sum(rows.get(f, 0) for f in files)
        return _Written(new_files, lineage, rows, bounds, degraded)

    def _harvest_stats(self, snap: Snapshot, w: _Written
                       ) -> dict[str, dict[str, list]]:
        """File metadata for a write's new files: the zone maps its
        footer pass already folded (``stats_cols``, lake/stats.py) plus
        Bloom filters (``bloom_cols``: one zero-shuffle data pass over
        the new files only, lake/bloom.py)."""
        out = {rel: dict(b) for rel, b in w.bounds.items()}
        rels = [f for fl in w.files.values() for f in fl]
        for rel, entry in self._harvest_blooms(
                snap, rels, w.rows, w.degraded).items():
            out.setdefault(rel, {}).update(entry)
        return out

    def _harvest_blooms(
        self, snap: Snapshot, rels: list[str], rows: dict[str, int],
        degraded: list[dict],
    ) -> dict[str, dict[str, list]]:
        """Per-file blooms for the ``bloom_cols`` prop over ``rels``,
        sized from their footer row counts ``rows`` under ``bloom_bits:
        "auto"``. Tombstone rows are INCLUDED (their key values must
        keep their file unprunable so a delete can win its key's LWW);
        columns absent from the prop's validated set are skipped.
        Best-effort: a failed build must never fail the committed write,
        it only costs pruning — it appends a ``harvest.bloom`` record to
        ``degraded`` instead."""
        names = {f.name for f in snap.schema.fields}
        from etl_spark.lake.bloom import COMPOSITE_SEP

        cols = [c for c in snap.bloom_cols()
                if all(p in names for p in c.split(COMPOSITE_SEP))]
        if not cols or not rels:
            return {}
        from etl_spark.lake.bloom import (
            DEFAULT_BITS, auto_bits, build_file_blooms,
        )

        m, k = snap.bloom_shape()
        try:
            m_by_rel = None
            if m == "auto":
                bpk = int(snap.props.get("bloom_bits_per_key", 10))
                m_by_rel = {rel: auto_bits(rows.get(rel, 0), bpk)
                            for rel in rels}
                m = DEFAULT_BITS
            inline_max = int(
                snap.props.get("bloom_inline_max_bytes", 16384))
            df = self._read_files(snap, rels).withColumn(
                "__file", F.input_file_name())
            return build_file_blooms(df, "__file", cols, self.path, m, k,
                                     m_by_rel=m_by_rel,
                                     inline_max=inline_max)
        except Exception as exc:  # noqa: BLE001 — blooms are an optimization
            degraded.append(degraded_event("harvest.bloom", exc))
            return {}

    def _child(
        self,
        snap: Snapshot,
        schema: StructType,
        buckets: dict[int, list[str]],
        manifest_key: str | None,
        add_nonunique: list[str] = (),
        added: list[str] | None = None,
        new_stats: dict[str, dict[str, list]] | None = None,
    ) -> Snapshot:
        referenced = {f for fl in buckets.values() for f in fl}
        nonunique = sorted(
            (set(snap.nonunique) | set(add_nonunique)) & referenced
        )
        # zone maps follow their files: parent entries for still-referenced
        # files carry over, de-referenced entries drop (bounded metadata)
        file_stats = {
            f: s
            for f, s in {**snap.file_stats, **(new_stats or {})}.items()
            if f in referenced
        }
        # Bounded exactly-once metadata: the applied ledger keeps only the
        # most recent `manifest_window` keys verbatim; older sequence-shaped
        # keys ("prefix:123") fold into a per-prefix high-watermark on
        # eviction, so a long-running stream commits O(window) metadata per
        # snapshot instead of O(history) (and total O(n) instead of O(n²)).
        # Non-sequence keys are never evicted — callers wanting bounded
        # metadata should use 'name:seq' keys (the engine always does).
        #
        # ``manifest_key=None`` marks a MAINTENANCE commit (compaction,
        # rebucket): it needs no exactly-once dedup (re-running it is a
        # redundant rewrite, never a correctness bug), and its snapshot-
        # version "seqs" are non-contiguous per prefix so on eviction they
        # would never fold — accumulating in `applied` forever and breaking
        # the bounded-metadata property. Maintenance commits therefore stay
        # out of the ledger entirely.
        window = int(snap.props.get("manifest_window", "512"))
        applied = snap.applied + ([manifest_key] if manifest_key is not None else [])
        watermarks = {k: list(v) for k, v in snap.applied_watermarks.items()}
        if len(applied) > window:
            kept: list[str] = []
            overflow = len(applied) - window
            folded = 0
            cursor_pfx = snap.cursor_prefixes()
            for key in applied:  # oldest first
                if folded < overflow:
                    prefix, _, seq = key.rpartition(":")
                    if prefix and _is_canonical_seq(seq):
                        s = int(seq)
                        rng = watermarks.get(prefix)
                        if rng is None:
                            watermarks[prefix] = [s, s]
                            folded += 1
                            continue
                        if prefix in cursor_pfx:
                            # cursor prefix (monotone position, e.g. a
                            # sync'd upstream version): seqs are sparse by
                            # nature and any ≤-hi re-apply is idempotent —
                            # fold unconditionally, keep only the extremes
                            rng[0] = min(rng[0], s)
                            rng[1] = max(rng[1], s)
                            folded += 1
                            continue
                        if s == rng[1] + 1 or rng[0] <= s <= rng[1]:
                            rng[1] = max(rng[1], s)
                            folded += 1
                            continue
                        # non-adjacent (gap) seq: folding it would make the
                        # range claim seqs that never committed — keep it
                kept.append(key)
            applied = kept
        return Snapshot(
            version=snap.version + 1,
            parent=snap.version,
            schema=schema,
            key_cols=snap.key_cols,
            version_cols=snap.version_cols,
            n_buckets=snap.n_buckets,
            buckets=buckets,
            applied=applied,
            props=snap.props,
            nonunique=nonunique,
            added=sorted(added) if added is not None else None,
            applied_watermarks=watermarks,
            applied_count=snap.applied_count + (1 if manifest_key is not None else 0),
            file_stats=file_stats,
            rescale_to=snap.rescale_to,
            rescale_watermark=snap.rescale_watermark,
        )

    # --------------------------------------------------------------- utils

    def alter_props(self, updates: dict[str, str | None],
                    max_retries: int = 3) -> int:
        """Update table properties as a metadata-only commit (Iceberg
        ``ALTER TABLE ... SET TBLPROPERTIES``). A ``None`` value unsets
        the key. The migration path for settings that newer features
        require at runtime — e.g. declaring a sync ``cursor_prefixes``
        on an existing destination, enabling ``stats_cols`` (follow with
        :meth:`backfill_stats` to cover pre-existing files), or retuning
        ``compact_threshold`` / ``manifest_window``. Returns the new
        snapshot version.

        Caution: adding a prefix to ``cursor_prefixes`` retroactively
        reinterprets that prefix's already-folded watermark range from
        contiguous ``[lo, hi]`` to ``≤ hi`` — sound only for prefixes
        whose seqs are genuinely monotone positions (a sync cursor),
        never for work-unit prefixes that may have gap seqs (a gapped
        epoch would be falsely claimed applied and silently dropped)."""
        for attempt in range(max_retries + 1):
            snap = self.current_snapshot()
            props = dict(snap.props)
            for k, v in updates.items():
                if k == "update_semantics" and \
                        ("row" if v is None else str(v)) != \
                        snap.props.get("update_semantics", "row"):
                    # resolution semantics are baked into every delta file
                    # already on disk (raw partial rows vs total rows) —
                    # flipping them reinterprets history
                    raise ValueError(
                        "update_semantics is fixed at create time")
                if v is None:
                    props.pop(k, None)
                else:
                    props[k] = str(v)
            child = self._child(snap, snap.schema, snap.buckets, None,
                                added=[])
            child.props = props
            try:
                self._publish(child)
                return child.version
            except CommitConflict:
                if attempt == max_retries:
                    raise
        raise AssertionError("unreachable")

    def backfill_stats(self) -> int:
        """Harvest zone maps AND blooms for referenced files that predate
        ``stats_cols`` / ``bloom_cols`` (or were written while unset) and
        commit them as a metadata-only child. Zone maps: a driver-side
        footer pass; blooms: one zero-shuffle data pass over only the
        not-yet-covered files. Returns how many files gained entries;
        no-op without the props. Raises (rather than silently skipping)
        on a non-bloomable ``bloom_cols`` declaration — this is the
        migration entry point, errors must be loud here."""
        snap = self.current_snapshot()
        from etl_spark.lake.bloom import BLOOM_SUFFIX, validate_bloom_cols

        cols = snap.stats_cols()
        bcols = snap.bloom_cols()
        if bcols:
            validate_bloom_cols(snap.schema, bcols)
        # column-level check, not entry-level: a file may already carry a
        # bloom entry (so it IS in file_stats) yet predate a newly added
        # stats column — its zone maps still need harvesting
        missing = [
            f for fl in snap.buckets.values() for f in fl
            if any(c not in snap.file_stats.get(f, {}) for c in cols)
        ] if cols else []
        bloom_missing = [
            f for fl in snap.buckets.values() for f in fl
            if any(c + BLOOM_SUFFIX not in snap.file_stats.get(f, {})
                   for c in bcols)
        ] if bcols else []
        if not missing and not bloom_missing:
            return 0
        rows, bounds, degraded = read_footers(
            self.path, sorted(set(missing) | set(bloom_missing)), cols)
        got = {rel: bounds[rel] for rel in missing if rel in bounds}
        for rel, entry in self._harvest_blooms(
                snap, bloom_missing, rows, degraded).items():
            got.setdefault(rel, {}).update(entry)
        if not got:
            return 0
        merged = {
            f: {**snap.file_stats.get(f, {}), **entry}
            for f, entry in got.items()
        }
        child = self._child(snap, snap.schema, snap.buckets, None,
                            added=[], new_stats=merged)
        self._publish(child)
        return len(got)

    def applied_manifests(self) -> set[str]:
        """The bounded RECENT WINDOW of applied manifest keys — NOT the
        full history: past ``manifest_window`` commits, older sequence-
        shaped keys are folded into ``Snapshot.applied_watermarks`` and no
        longer enumerable. Exactly-once checks must use
        :meth:`Snapshot.has_applied` (window + watermarks); totals come
        from ``Snapshot.applied_count``. This accessor exists for
        debugging/reporting over short histories only."""
        return set(self.current_snapshot().applied)

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)

    # ------------------------------------------------- retention / vacuum

    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        """Drop snapshot metadata older than the newest ``keep_last``
        versions (time travel window). The applied-manifest ledger is
        cumulative in every snapshot, so exactly-once is unaffected.
        Versions pinned by a ref (tag/branch — lake/refs.py) are NEVER
        expired: the pin is the whole point of a ref, and because
        ``vacuum`` reclaims only files referenced by no remaining
        snapshot, keeping the snapshot keeps its data files too.
        Returns the expired version numbers."""
        from etl_spark.lake.refs import protected_versions

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        protected = protected_versions(self.path)
        versions = self.versions()
        expired = [v for v in versions[:-keep_last] if v not in protected]
        for v in expired:
            os.unlink(self._snap_path(v))
        return expired

    # ------------------------------------------------------ refs (pins)

    def tag(self, name: str, version: int | None = None) -> "LakeTable":
        """Pin a snapshot under an immutable named TAG (Iceberg tag
        semantics; lake/refs.py). Defaults to the current version.
        Retention force: ``expire_snapshots`` keeps the target,
        ``vacuum`` keeps its files, until ``drop_ref``. Returns self."""
        from etl_spark.lake import refs as _refs

        v = self.current_version() if version is None else version
        _refs.create_ref(self.path, name, "tag", v, self.versions())
        return self

    def branch(self, name: str, version: int | None = None) -> "LakeTable":
        """Create a movable BRANCH pointer (Iceberg branch semantics).
        Move it with :meth:`move_branch`; consumers reading
        ``version=name`` see updates only when the pointer moves —
        publish cadence decoupled from commit cadence (composes with
        write-audit-publish: audit the head, then move the branch)."""
        from etl_spark.lake import refs as _refs

        v = self.current_version() if version is None else version
        _refs.create_ref(self.path, name, "branch", v, self.versions())
        return self

    def move_branch(self, name: str, version: int | None = None) -> int:
        """Atomically repoint a branch (tags refuse). Defaults to the
        current version ("promote head to consumers"). Returns the new
        target version."""
        from etl_spark.lake import refs as _refs

        v = self.current_version() if version is None else version
        return _refs.move_branch(self.path, name, v, self.versions()).version

    def drop_ref(self, name: str) -> int:
        """Remove a tag or branch, releasing its snapshot back to the
        normal retention lifecycle. Returns the released version."""
        from etl_spark.lake import refs as _refs

        return _refs.drop_ref(self.path, name).version

    def refs(self) -> dict:
        """All refs on this table: name → ``Ref(name, kind, version)``."""
        from etl_spark.lake import refs as _refs

        return _refs.list_refs(self.path)

    def resolve_ref(self, name: str) -> int:
        """Ref name → pinned snapshot version (KeyError if absent)."""
        from etl_spark.lake import refs as _refs

        return _refs.load_ref(self.path, name).version

    # -------------------------------------------------- metadata tables

    def meta(self, kind: str, version: int | str | None = None,
             buckets: list[int] | None = None) -> DataFrame:
        """The table's own metadata as a DataFrame (Iceberg's
        ``tbl.files`` / ``tbl.snapshots`` / … surface): one of
        ``snapshots files partitions ledger refs stats`` — see
        lake/meta.py. ``version`` may be a number or a ref name;
        ``buckets`` prunes the files/partitions footer sweep before I/O."""
        from etl_spark.lake.meta import metadata_table

        return metadata_table(self, kind, version, buckets)

    def changes(self, from_version: int | str,
                to_version: int | str | None = None) -> DataFrame:
        """Change feed between two snapshots (CDC *out*): the rows landed by
        merges in ``(from_version, to_version]``, with an ``_op`` column
        ('D' for tombstones, 'U' otherwise). Either bound may be a REF
        NAME (lake/refs.py) — e.g. ``changes("stable")`` is "what the
        consumer branch has not yet seen".

        Works off commit-level provenance: every snapshot records the data
        files its commit ADDED (``Snapshot.added``); the feed is the union
        of those lists over the requested range. Compaction commits record
        ``added=[]`` (they rewrite rows, they don't change them), so a
        merge whose deltas are compacted away by a LATER commit still
        appears in the feed — the files stay referenced by the merge's own
        snapshot until ``expire_snapshots`` drops it, which is the bound on
        how far back a change feed can start. (Under copy-on-write the
        added files are whole rewritten buckets, so the feed
        over-approximates; use MoR for change feeds.)

        With ``batch_dedup=false`` (write-optimized) deltas land raw, so
        the feed may carry several versions of a key per range; every row
        still carries the version columns, so a consumer applies the same
        LWW reduction this table's reads do (or replays into another
        LakeTable, whose merge does it for free).

        Patch tables (``update_semantics="patch"``) emit their raw
        PARTIAL rows — NULL meaning "keep the previous value" — which is
        the faithful patch-image feed, but is only replayable into a
        destination with the SAME semantics; ``cdc.sync.sync_changes``
        enforces the match (row-LWW applied to partial rows, or
        per-column LWW applied to total rows, silently corrupts)."""
        if isinstance(from_version, str):
            from_version = self.resolve_ref(from_version)
        if isinstance(to_version, str):
            to_version = self.resolve_ref(to_version)
        if to_version is None:
            to_version = self.current_version()
        snap_to = self.snapshot(to_version)
        added: list[str] = []
        seen: set[str] = set()
        prev = {
            f for fl in self.snapshot(from_version).buckets.values() for f in fl
        }
        for v in [x for x in self.versions() if from_version < x <= to_version]:
            snap_v = self.snapshot(v)
            if snap_v.rollback_of is not None:
                raise ValueError(
                    f"changes({from_version}, {to_version}) crosses rollback "
                    f"commit v{v} (restored v{snap_v.rollback_of}); an "
                    "incremental feed cannot replay a rollback (the restored "
                    "rows' old LWW versions would lose against already-"
                    "applied state) — re-bootstrap the consumer onto a FRESH "
                    "destination (a full_refresh into the existing one would "
                    "be absorbed by its newer rolled-back rows)"
                )
            if snap_v.added is not None:
                batch = snap_v.added
            else:
                # pre-provenance snapshot (format v1): fall back to diffing
                # file sets, excluding compaction output by name tag
                cur = {f for fl in snap_v.buckets.values() for f in fl}
                batch = [f for f in sorted(cur - prev)
                         if "c-b" not in os.path.basename(f)]
            prev = {f for fl in snap_v.buckets.values() for f in fl}
            for f in batch:
                if f not in seen:
                    seen.add(f)
                    added.append(f)
        df = self._read_files(snap_to, added, user_schema=snap_to.schema)
        return df.select(
            *[f.name for f in snap_to.schema.fields],
            F.when(F.col(META_DELETED), F.lit("D")).otherwise(F.lit("U")).alias("_op"),
        )

    def vacuum(self, older_than_sec: float = 600.0,
               reclaim_staging: bool = False) -> list[str]:
        """Delete data files referenced by no remaining snapshot (run after
        ``expire_snapshots``; compaction and CoW merges leave such
        orphans). Returns deleted table-relative paths.

        ``older_than_sec`` is the concurrency grace window (Iceberg's
        ``remove_orphan_files`` retention): a file a concurrent writer just
        staged is unreferenced only until that writer publishes, so only
        files whose mtime is older than the window are reclaimed. Pass 0
        only when no writer can be in flight.

        ``reclaim_staging`` additionally removes whole ``.stage`` trees
        older (by NEWEST inner mtime) than the window — crashed writers'
        leftovers. OFF by default because no mtime heuristic can fully
        distinguish a crashed stage from a live writer stalled in a long
        shuffle/sort phase (it writes nothing into staging while working):
        reclaiming a live stage would silently drop that merge's finished
        task outputs. Enable it from a scheduled maintenance job with a
        window comfortably above the longest plausible merge."""
        import time

        referenced: set[str] = set()
        for v in self.versions():
            snap = self.snapshot(v)
            for files in snap.buckets.values():
                referenced.update(files)
            if snap.added:
                # a merge's delta files stay reclaim-exempt while its
                # snapshot exists, even if a later compaction de-referenced
                # them from the bucket map (changes() still reads them)
                referenced.update(snap.added)
            for entry in snap.file_stats.values():
                # bloom sidecars ("@<rel>" payloads, lake/bloom.py) live
                # next to their data file and follow its lifecycle: they
                # are referenced exactly while some snapshot's file_stats
                # points at them
                for key, val in entry.items():
                    if key.endswith("#bloom") and isinstance(val[0], str) \
                            and val[0].startswith("@"):
                        referenced.add(val[0][1:])
        cutoff = time.time() - older_than_sec
        data_dir = os.path.join(self.path, _DATA_DIR)
        removed = []
        # Walk the segment layout (data/<segment>/bNNNNN/*.parquet); flat
        # files from the pre-segment layout are covered by the same walk.
        # `.stage` trees belong to writers (live or crashed) and are never
        # descended into; with ``reclaim_staging`` an aged tree is removed
        # wholesale.
        for dirpath, dirnames, filenames in os.walk(data_dir, topdown=True):
            for d in list(dirnames):
                if d.endswith(".stage"):
                    dirnames.remove(d)  # never walk inside a stage tree
                    if not reclaim_staging:
                        continue
                    full = os.path.join(dirpath, d)
                    # age by the NEWEST mtime in the tree: a live writer
                    # touches the root early but keeps writing inside it
                    try:
                        newest = os.stat(full).st_mtime
                        for sub, _dn, fn in os.walk(full):
                            newest = max(newest, os.stat(sub).st_mtime, *(
                                os.stat(os.path.join(sub, f)).st_mtime
                                for f in fn
                            ))
                    except OSError:
                        # racing writer just published/removed it: not ours
                        continue
                    if newest <= cutoff:
                        shutil.rmtree(full, ignore_errors=True)
                        removed.append(os.path.relpath(full, self.path))
            for name in sorted(filenames):
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, self.path)
                if rel not in referenced and os.stat(full).st_mtime <= cutoff:
                    os.unlink(full)
                    removed.append(rel)
        # prune segment/bucket dirs emptied by the deletes (bottom-up;
        # re-listdir because the walk snapshot predates child removals).
        # Only dirs older than the grace window are pruned: a concurrent
        # writer's just-created segment dir is empty until its first bucket
        # rename lands, and rmdir'ing it would crash that merge. Stage
        # trees are writer-owned — skipped entirely.
        for dirpath, dirnames, _filenames in os.walk(data_dir, topdown=False):
            if ".stage" in dirpath:
                continue
            if dirpath != data_dir and not os.listdir(dirpath):
                try:
                    if os.stat(dirpath).st_mtime <= cutoff:
                        os.rmdir(dirpath)
                except OSError:
                    pass
        return removed


def _bool():
    from pyspark.sql.types import BooleanType

    return BooleanType()
