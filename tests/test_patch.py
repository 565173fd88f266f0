"""Patch update semantics (``update_semantics="patch"``): per-key
PER-COLUMN LWW — partial-image CDC rows where NULL payload means "keep the
previous value" (Debezium-style feeds; reference: per-field REST detail
re-capture over previously captured records). Covers read-time resolution,
tombstone resets, compaction materialization, compacted-vs-delta parity,
tombstone expiry, schema evolution, in-batch sequences, and a seeded
randomized parity sweep against a sequential-apply pandas model."""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from etl_spark.lake import LakeTable

SCHEMA = StructType([
    StructField("id", LongType(), False),
    StructField("ts", LongType(), False),
    StructField("seq", LongType(), False),
    StructField("a", StringType(), True),
    StructField("b", LongType(), True),
])
BATCH_SCHEMA = StructType(list(SCHEMA.fields) +
                          [StructField("op", StringType(), False)])


def _table(spark, tmp_root, name, extra_props=None, schema=SCHEMA):
    props = {"update_semantics": "patch"}
    props.update(extra_props or {})
    return LakeTable.create(
        spark, os.path.join(tmp_root, name), schema,
        key_cols=["id"], version_cols=["ts", "seq"], n_buckets=4,
        props=props,
    )


def _merge(spark, t, key, rows, schema=BATCH_SCHEMA):
    t.merge(spark.createDataFrame(rows, schema), key)


def _state(t):
    return {
        r["id"]: (r["ts"], r["seq"], r["a"], r["b"])
        for r in t.read().collect()
    }


def test_patch_null_means_keep_previous(spark, tmp_root):
    t = _table(spark, tmp_root, "t1")
    _merge(spark, t, "m0", [(1, 10, 1, "alice", 5, "I"),
                            (2, 10, 2, "bob", 7, "I")])
    # partial updates: each touches ONE column, the other stays
    _merge(spark, t, "m1", [(1, 20, 3, None, 6, "U"),
                            (2, 20, 4, "bo", None, "U")])
    assert _state(t) == {1: (20, 3, "alice", 6), 2: (20, 4, "bo", 7)}


def test_tombstone_resets_all_columns(spark, tmp_root):
    t = _table(spark, tmp_root, "t2")
    _merge(spark, t, "m0", [(1, 10, 1, "alice", 5, "I")])
    _merge(spark, t, "m1", [(1, 20, 2, None, None, "D")])
    assert _state(t) == {}
    # re-created by a later PARTIAL row: pre-delete columns must NOT leak
    _merge(spark, t, "m2", [(1, 30, 3, None, 9, "U")])
    assert _state(t) == {1: (30, 3, None, 9)}


def test_late_patch_older_than_delete_loses(spark, tmp_root):
    t = _table(spark, tmp_root, "t3")
    _merge(spark, t, "m0", [(1, 10, 1, "alice", 5, "I"),
                            (1, 30, 2, None, None, "D")])
    # late arrival BETWEEN insert and delete: dead on arrival
    _merge(spark, t, "m1", [(1, 20, 9, "zz", 99, "U")])
    assert _state(t) == {}
    # and a post-delete row revives only its own columns
    _merge(spark, t, "m2", [(1, 40, 10, "new", None, "U")])
    assert _state(t) == {1: (40, 10, "new", None)}


def test_compaction_folds_and_patches_keep_working(spark, tmp_root):
    t = _table(spark, tmp_root, "t4", {"compact_threshold": "999"})
    _merge(spark, t, "m0", [(1, 10, 1, "alice", 5, "I")])
    _merge(spark, t, "m1", [(1, 20, 2, None, 6, "U")])
    _merge(spark, t, "m2", [(2, 20, 3, "bob", None, "I")])
    before = _state(t)
    assert t.compact() > 0
    assert _state(t) == before  # fold is lossless
    # single materialized file per bucket now
    snap = t.current_snapshot()
    assert all(len(fl) <= 1 for fl in snap.buckets.values())
    # later partials coalesce on top of the FOLDED partial rows
    _merge(spark, t, "m3", [(1, 30, 4, "al", None, "U"),
                            (2, 30, 5, None, 8, "U")])
    assert _state(t) == {1: (30, 4, "al", 6), 2: (30, 5, "bob", 8)}
    # fold-of-fold is idempotent and a never-set column stays NULL
    t.compact()
    assert _state(t) == {1: (30, 4, "al", 6), 2: (30, 5, "bob", 8)}


def test_fold_preserves_column_versions_for_late_events(spark, tmp_root):
    """THE hazard _patch_fold exists for: a total-row materialization at
    compaction stamps every column at the key's max version, so a LATE
    event with a version between a column's true winner and that stamp
    resolves wrongly. Two directions:
    - late DELETE between set(a)@2 and the stamp: a must die (it was set
      before the delete), a materialized row would resurrect it;
    - late PATCH b@5 newer than b's true winner @3 but older than the
      stamp @8: the late value must win."""
    t = _table(spark, tmp_root, "t11", {"compact_threshold": "999"})
    _merge(spark, t, "m0", [(1, 2, 1, "keepme", None, "U"),
                            (1, 8, 2, None, 42, "U"),
                            (2, 3, 3, None, 7, "U"),
                            (2, 8, 4, "x", None, "U")])
    assert t.compact() > 0
    # late delete at v5: kills a (set @2) but not b (set @8)
    _merge(spark, t, "m1", [(1, 5, 5, None, None, "D")])
    assert _state(t)[1] == (8, 2, None, 42)
    # late patch b@5: newer than b's winner @3 -> wins; a (@8) unaffected
    _merge(spark, t, "m2", [(2, 5, 6, None, 99, "U")])
    assert _state(t)[2] == (8, 4, "x", 99)


def test_patch_schema_evolution_mid_feed(spark, tmp_root):
    t = _table(spark, tmp_root, "t5")
    _merge(spark, t, "m0", [(1, 10, 1, "alice", 5, "I")])
    wide = StructType(list(BATCH_SCHEMA.fields) +
                      [StructField("c", StringType(), True)])
    t.merge(spark.createDataFrame([(1, 20, 2, None, None, "U", "x")], wide),
            "m1")
    got = {r["id"]: (r["a"], r["b"], r["c"]) for r in t.read().collect()}
    assert got == {1: ("alice", 5, "x")}


def test_patch_compacting_and_delta_parity(spark, tmp_root):
    rows = [
        [(1, 10, 1, "a", 1, "I"), (2, 10, 2, "b", 2, "I")],
        [(1, 20, 3, None, 9, "U"), (2, 20, 4, "b2", None, "U")],
        [(2, 30, 5, None, None, "D"), (1, 30, 6, "a3", None, "U")],
        [(2, 40, 7, None, 5, "U")],
    ]
    folded = _table(spark, tmp_root, "t6m", {"compact_threshold": "2"})
    deltas = _table(spark, tmp_root, "t6d", {"compact_threshold": "999"})
    for i, batch in enumerate(rows):
        _merge(spark, folded, f"m{i}", batch)
        _merge(spark, deltas, f"m{i}", batch)
    assert _state(folded) == _state(deltas) == {
        1: (30, 6, "a3", 9), 2: (40, 7, None, 5)}


def test_patch_tombstone_expiry_does_not_resurrect(spark, tmp_root):
    """Expiring the tombstone of a deleted key drops the key: the fold
    must not keep the pre-delete version marker, which would otherwise
    surface as an all-NULL row once the tombstone is gone."""
    for name, props in (("row", {"update_semantics": "row"}),
                        ("patch", {})):
        t = _table(spark, tmp_root, f"t13{name}",
                   {"compact_threshold": "999", **props})
        _merge(spark, t, "m0", [(1, 10, 1, "x", 5, "I"),
                                (2, 10, 2, "y", 6, "I")])
        _merge(spark, t, "m1", [(1, 20, 3, None, None, "D")])
        t.compact(expire_tombstones_before=100)
        assert _state(t) == {2: (10, 2, "y", 6)}, name
        assert t.read(include_deleted=True).count() == 1, name


def test_inbatch_delete_then_patch_single_merge(spark, tmp_root):
    """One batch carrying insert → delete → partial re-set must resolve
    like the same rows split across merges: deltas land RAW under patch
    (a batch-local row-fold could not represent the delete's reset)."""
    t = _table(spark, tmp_root, "t7")
    _merge(spark, t, "m0", [(1, 5, 0, "old", 77, "I")])
    _merge(spark, t, "m1", [(1, 10, 1, "mid", 88, "I"),
                            (1, 20, 2, None, None, "D"),
                            (1, 30, 3, None, 9, "U")])
    assert _state(t) == {1: (30, 3, None, 9)}


def test_update_semantics_locked_after_create(spark, tmp_root):
    t = _table(spark, tmp_root, "t8")
    with pytest.raises(ValueError, match="fixed at create"):
        t.alter_props({"update_semantics": "row"})
    with pytest.raises(ValueError, match="fixed at create"):
        t.alter_props({"update_semantics": None})
    # a no-op restatement is allowed (idempotent config management)
    t.alter_props({"update_semantics": "patch"})
    with pytest.raises(ValueError, match="row.*patch|patch|row"):
        _table(spark, tmp_root, "t8b", {"update_semantics": "merge"})


def test_lookup_on_patch_table(spark, tmp_root):
    t = _table(spark, tmp_root, "t9")
    _merge(spark, t, "m0", [(i, 10, i, f"v{i}", i, "I") for i in range(20)])
    _merge(spark, t, "m1", [(3, 20, 100, None, 999, "U")])
    got = {r["id"]: (r["a"], r["b"])
           for r in t.lookup([(3,), (7,)]).collect()}
    assert got == {3: ("v3", 999), 7: ("v7", 7)}


def _model(events):
    """Sequential-apply reference: process in version order; NULL keeps,
    delete resets. Returns {id: (ts, seq, a, b)} of live keys."""
    state: dict = {}
    for e in sorted(events, key=lambda e: (e[1], e[2])):
        k, ts, seq, a, b, op = e
        if op == "D":
            state[k] = None
        else:
            cur = state.get(k)
            pa, pb = (None, None) if cur is None else (cur[2], cur[3])
            state[k] = (ts, seq, a if a is not None else pa,
                        b if b is not None else pb)
    return {k: v for k, v in state.items() if v is not None}


@pytest.mark.parametrize("extra", [{"compact_threshold": "3"},
                                   {"compact_threshold": "999"}])
def test_randomized_parity_vs_sequential_model(spark, tmp_root, extra):
    rng = random.Random(42)
    events = []
    for seq in range(400):
        k = rng.randrange(12)
        ts = rng.randrange(1000)
        if rng.random() < 0.12:
            events.append((k, ts, seq, None, None, "D"))
        else:
            a = f"s{rng.randrange(50)}" if rng.random() < 0.55 else None
            b = rng.randrange(100) if rng.random() < 0.55 else None
            events.append((k, ts, seq, a, b, "U"))
    t = _table(spark, tmp_root, f"t10_{extra['compact_threshold']}", extra)
    shuffled = events[:]
    rng.shuffle(shuffled)          # arrival order != version order
    n = 5
    for i in range(n):
        _merge(spark, t, f"m{i}", shuffled[i::n])
    assert _state(t) == _model(events)


def test_purge_on_patch_table_erases_payload_files(spark, tmp_root):
    """Right-to-erasure composes with patch semantics: the purge tombstone
    is version-bumped past the key's resolved max, so it outranks EVERY
    per-column winner; the patch fold then drops all pre-tombstone column
    winners, and after compact+expiry+vacuum no payload byte of the
    subject survives in any parquet file on disk (the retained tombstone
    row carries NULL payload by construction)."""
    import glob

    from etl_spark.lake.purge import purge_keys

    t = _table(spark, tmp_root, "t12", {"compact_threshold": "999"})
    _merge(spark, t, "m0", [(1, 10, 1, "SECRET-A", 5, "I"),
                            (2, 10, 2, "keep-me", 7, "I")])
    _merge(spark, t, "m1", [(1, 20, 3, "SECRET-B", None, "U"),
                            (1, 30, 4, None, 99, "U")])
    report = purge_keys(
        t, spark.createDataFrame([(1,)], "id bigint"),
        manifest_key="gdpr:1", vacuum_grace_sec=0)
    assert report["residual_live"] == 0
    assert _state(t) == {2: (10, 2, "keep-me", 7)}
    hits = 0
    for f in glob.glob(os.path.join(t.path, "**", "*.parquet"),
                       recursive=True):
        df = spark.read.parquet(f)
        if "a" in df.columns:
            hits += df.filter(df["a"].contains("SECRET")).count()
    assert hits == 0
