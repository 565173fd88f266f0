"""Chunked snapshot bootstrap with live-tail handoff (cdc/bootstrap.py).

Pins: snapshot/stream LWW races in both directions across interleaved
chunks and tail waves, the delete-resurrection guard (tombstone-expiry
interlock while a bootstrap is open), crash-resume through the chunk
ledger, per-row source-version stamps, and the guard rails (patch
tables, stamp shape, one bootstrap at a time).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_spark.cdc import (
    bootstrap_active,
    bootstrap_snapshot,
    bootstrap_status,
)
from etl_spark.lake import LakeTable

SCHEMA = StructType([
    StructField("k", LongType()),
    StructField("v", LongType()),
    StructField("name", StringType()),
])

EV_ROWS = "op string, k bigint, v bigint, name string"
SNAP_ROWS = "k bigint, name string"


def _mk(spark, root, props=None, n_buckets=4):
    return LakeTable.create(
        spark, os.path.join(root, "t"), SCHEMA,
        key_cols=["k"], version_cols=["v"], n_buckets=n_buckets,
        props=props,
    )


def _truth(events):
    """Sequential source apply: version == arrival order (an LSN)."""
    state = {}
    for op, k, v, name in sorted(events, key=lambda e: e[2]):
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = name
    return state


def _state(table):
    return {r["k"]: r["name"] for r in table.read().collect()}


# 40 keys; history crafted so every snapshot/stream race shape occurs:
# updates before and after the cut, deletes before the cut (absent from
# the snapshot), deletes after the cut (tail outranks snapshot), late
# re-inserts, and brand-new tail keys.
def _history():
    ev, v = [], 0
    for k in range(40):
        v += 1
        ev.append(("I", k, v, f"init-{k}"))
    for k in range(0, 40, 3):              # pre-cut updates
        v += 1
        ev.append(("U", k, v, f"upd-{k}"))
    for k in (5, 11, 17):                  # deleted before the cut
        v += 1
        ev.append(("D", k, v, None))
    cut = v                                # snapshot read position
    for k in (2, 8, 14, 20):               # tail updates outrank snapshot
        v += 1
        ev.append(("U", k, v, f"tail-{k}"))
    for k in (3, 9):                       # deleted DURING the bootstrap
        v += 1
        ev.append(("D", k, v, None))
    v += 1
    ev.append(("I", 5, v, "reborn-5"))     # re-insert of a pre-cut delete
    for k in (100, 101):                   # brand-new tail keys
        v += 1
        ev.append(("I", k, v, f"new-{k}"))
    return ev, cut


def _snapshot_df(spark, events, cut):
    state = _truth([e for e in events if e[2] <= cut])
    return spark.createDataFrame(
        [(k, name) for k, name in state.items()], SNAP_ROWS
    )


def test_bootstrap_interleaved_with_live_tail(spark, tmp_root):
    events, cut = _history()
    table = _mk(spark, tmp_root)
    snapshot = _snapshot_df(spark, events, cut)
    # tail starts BEFORE the cut (at-least-once overlap) and is split
    # into waves that interleave with the snapshot chunks
    overlap = cut - 6
    tail = sorted([e for e in events if e[2] > overlap],
                  key=lambda e: e[2])
    waves = [tail[i::3] for i in range(3)]

    def merge_wave(i):
        if waves[i]:
            table.merge(spark.createDataFrame(waves[i], EV_ROWS),
                        manifest_key=f"tail:{i}")

    # wave 0 (overlapping the snapshot) → all chunks → waves 1-2
    merge_wave(0)
    st = bootstrap_snapshot(table, snapshot, {"v": cut}, tag="b",
                            n_chunks=4)
    assert st.chunks_total == 4 and st.chunks_applied == 4
    assert st.chunks_skipped == 0
    merge_wave(1)
    merge_wave(2)
    assert _state(table) == _truth(events)
    assert bootstrap_active(table) is None


def test_chunks_interleave_with_tail_waves(spark, tmp_root, monkeypatch):
    """True interleave: tail waves land BETWEEN chunk merges (patched
    merge hook), including a delete of a key whose chunk arrives later —
    the resurrection shape."""
    events, cut = _history()
    table = _mk(spark, tmp_root)
    snapshot = _snapshot_df(spark, events, cut)
    tail = sorted([e for e in events if e[2] > cut], key=lambda e: e[2])
    waves = [tail[: len(tail) // 2], tail[len(tail) // 2:]]

    real_merge = LakeTable.merge
    seen = {"n": 0}

    def merge_hook(self, batch, manifest_key, **kw):
        st = real_merge(self, batch, manifest_key, **kw)
        if manifest_key.startswith("bootstrap:") and st.applied:
            i = seen["n"] = seen["n"] + 1
            if i <= len(waves):  # a tail wave lands between chunks,
                w = waves[i - 1]  # through the REAL merge
                real_merge(self, spark.createDataFrame(w, EV_ROWS),
                           manifest_key=f"tail:{i}")
                # mid-bootstrap maintenance must be safe (no expiry)
                self.compact()
        return st

    monkeypatch.setattr(LakeTable, "merge", merge_hook)
    bootstrap_snapshot(table, snapshot, {"v": cut}, tag="b", n_chunks=4)
    monkeypatch.undo()
    assert _state(table) == _truth(events)
    # keys 3 and 9 were deleted by the tail mid-bootstrap; their snapshot
    # chunks may have arrived after the delete — the tombstone must win
    assert 3 not in _state(table) and 9 not in _state(table)


def test_expiry_blocked_while_bootstrap_active(spark, tmp_root, monkeypatch):
    events, cut = _history()
    table = _mk(spark, tmp_root)
    snapshot = _snapshot_df(spark, events, cut)

    real_merge = LakeTable.merge
    calls = {"n": 0}

    def dying_merge(self, batch, manifest_key, **kw):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("simulated crash mid-bootstrap")
        return real_merge(self, batch, manifest_key, **kw)

    monkeypatch.setattr(LakeTable, "merge", dying_merge)
    with pytest.raises(RuntimeError):
        bootstrap_snapshot(table, snapshot, {"v": cut}, tag="b", n_chunks=4)
    monkeypatch.undo()

    assert bootstrap_active(table) == "b"
    st = bootstrap_status(table, "b", 4)
    assert st["chunks_applied"] == 2 and st["active"]
    # expiry refused, plain compaction fine
    with pytest.raises(ValueError, match="bootstrap"):
        table.compact(expire_tombstones_before=10**9)
    table.compact()

    # resume: the two applied chunks skip, the rest land, floor clears
    st2 = bootstrap_snapshot(table, snapshot, {"v": cut}, tag="b",
                             n_chunks=4)
    assert st2.chunks_skipped == 2 and st2.chunks_applied == 2
    assert bootstrap_active(table) is None
    table.compact(expire_tombstones_before=10**9)  # unblocked now
    assert _state(table) == _truth([e for e in events if e[2] <= cut])


def test_per_row_version_stamps(spark, tmp_root):
    """version=None: the snapshot carries each row's own source version
    (its last LSN) — a tail event BETWEEN two rows' versions then
    outranks one row and not the other."""
    table = _mk(spark, tmp_root, n_buckets=2)
    snap = spark.createDataFrame(
        [(1, 10, "a@10"), (2, 30, "b@30")], "k bigint, v bigint, name string"
    )
    # tail event at v=20: newer than row 1's version, older than row 2's
    table.merge(spark.createDataFrame([("U", 1, 20, "a@20"),
                                       ("U", 2, 20, "b@20")], EV_ROWS),
                manifest_key="tail:0")
    bootstrap_snapshot(table, snap, None, tag="pr", n_chunks=2)
    assert _state(table) == {1: "a@20", 2: "b@30"}


def test_guard_rails(spark, tmp_root):
    table = _mk(spark, tmp_root)
    snap = spark.createDataFrame([(1, "x")], SNAP_ROWS)
    with pytest.raises(ValueError, match="version stamp"):
        bootstrap_snapshot(table, snap, {"wrong": 1})
    with pytest.raises(ValueError, match="missing table columns"):
        bootstrap_snapshot(table, snap.select("k"), {"v": 1})
    with pytest.raises(ValueError, match="n_chunks"):
        bootstrap_snapshot(table, snap, {"v": 1}, n_chunks=0)
    patch = LakeTable.create(
        spark, os.path.join(tmp_root, "p"), SCHEMA, key_cols=["k"],
        version_cols=["v"], n_buckets=2,
        props={"update_semantics": "patch"},
    )
    with pytest.raises(ValueError, match="patch"):
        bootstrap_snapshot(patch, snap, {"v": 1})
    # one bootstrap at a time: open tag "a", then "b" must refuse
    table.alter_props({"bootstrap_floor": "a"})
    with pytest.raises(ValueError, match="in flight"):
        bootstrap_snapshot(table, snap, {"v": 1}, tag="b")


def test_rows_loaded_is_the_row_count(spark, tmp_root):
    """``rows_loaded`` sums the rows each applied chunk wrote: on a fresh
    table it equals the loaded table's row count."""
    events, cut = _history()
    table = _mk(spark, tmp_root)
    snapshot = _snapshot_df(spark, events, cut)
    st = bootstrap_snapshot(table, snapshot, {"v": cut}, tag="b",
                            n_chunks=4)
    assert st.chunks_applied == 4
    assert st.rows_loaded == table.read().count() == snapshot.count() > 0
