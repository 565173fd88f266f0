"""Write-audit-publish staging (lake/wap.py + LakeTable.merge_staged).

Pins: the staged read is the post-merge state while the base table is
untouched; publish commits the SAME staged files (zero rewrite) and
claims the manifest key exactly once; a failing audit leaves the table
byte-identical (same snapshot, same bytes on disk, key unclaimed) and a
re-capture then succeeds; abort deletes the staged segment; staged
commits rebase past concurrent writers; an audit crash never leaks
staged files.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from etl_spark.lake import LakeTable, audit_capture
from etl_spark.pipeline import ValidationError, expect

SCHEMA = StructType([
    StructField("k", LongType()),
    StructField("v", LongType()),
    StructField("amt", LongType()),
])
ROWS = "op string, k bigint, v bigint, amt bigint"


def _mk(spark, root, props=None):
    t = LakeTable.create(
        spark, os.path.join(root, "t"), SCHEMA,
        key_cols=["k"], version_cols=["v"], n_buckets=4, props=props,
    )
    t.merge(spark.createDataFrame(
        [("I", k, 1, k * 10) for k in range(8)], ROWS),
        manifest_key="seed")
    return t


def _data_bytes(table):
    """Byte-identity fingerprint of every LIVE (referenced) data file."""
    snap = table.current_snapshot()
    out = {}
    for fl in snap.buckets.values():
        for f in fl:
            with open(os.path.join(table.path, f), "rb") as fh:
                out[f] = fh.read()
    return out


def test_staged_read_then_publish_same_files(spark, tmp_root):
    t = _mk(spark, tmp_root)
    v0 = t.current_version()
    staged = t.merge_staged(spark.createDataFrame(
        [("I", 99, 2, 5), ("D", 0, 2, None)], ROWS), manifest_key="w:1")
    # the audit sees the post-merge state; the table does not
    got = {r["k"] for r in staged.read().collect()}
    assert got == {1, 2, 3, 4, 5, 6, 7, 99}
    assert t.current_version() == v0
    assert {r["k"] for r in t.read().collect()} == set(range(8))
    staged_files = list(staged.added)
    assert staged_files and all(
        os.path.exists(os.path.join(t.path, f)) for f in staged_files)
    st = staged.publish()
    assert st.applied and st.version == v0 + 1
    # the committed files ARE the staged files — no rewrite
    assert t.current_snapshot().added == staged_files
    assert {r["k"] for r in t.read().collect()} == {1, 2, 3, 4, 5, 6, 7, 99}
    # consumed: no second publish/abort/read
    with pytest.raises(RuntimeError, match="already published"):
        staged.publish()
    # restaging the same key: noop commit
    again = t.merge_staged(spark.createDataFrame(
        [("I", 50, 3, 1)], ROWS), manifest_key="w:1")
    assert again.already_applied and not again.publish().applied


def test_failing_audit_leaves_table_byte_identical(spark, tmp_root):
    t = _mk(spark, tmp_root)
    v0, before = t.current_version(), _data_bytes(t)
    res = audit_capture(
        t, spark.createDataFrame([("I", 99, 2, -5)], ROWS),
        manifest_key="w:bad",
        gates=[expect("amt >= 0", "no negative amounts")],
    )
    assert res.status == "rejected" and "negative" in res.error
    assert t.current_version() == v0
    assert _data_bytes(t) == before
    assert not t.current_snapshot().has_applied("w:bad")
    # the happy path then commits its OWN staged files untouched
    res2 = audit_capture(
        t, spark.createDataFrame([("I", 99, 2, 5)], ROWS),
        manifest_key="w:bad",
        gates=[expect("amt >= 0")],
    )
    assert res2.status == "applied"
    assert 99 in {r["k"] for r in t.read().collect()}


def test_abort_removes_staged_segment(spark, tmp_root):
    t = _mk(spark, tmp_root)
    staged = t.merge_staged(spark.createDataFrame(
        [("I", 42, 2, 1)], ROWS), manifest_key="w:a")
    paths = [os.path.join(t.path, f) for f in staged.added]
    assert all(os.path.exists(p) for p in paths)
    assert staged.abort() == len(paths) > 0
    assert not any(os.path.exists(p) for p in paths)
    assert not t.current_snapshot().has_applied("w:a")


def test_audit_crash_never_leaks_staged_files(spark, tmp_root):
    t = _mk(spark, tmp_root)

    def boom(df):
        raise OSError("metrics backend down")

    with pytest.raises(OSError):
        audit_capture(t, spark.createDataFrame([("I", 1, 9, 1)], ROWS),
                      manifest_key="w:crash", gates=[boom])
    snap = t.current_snapshot()
    live = {f for fl in snap.buckets.values() for f in fl}
    import glob

    on_disk = {
        os.path.relpath(p, t.path)
        for p in glob.glob(os.path.join(t.path, "data", "*", "*", "*.parquet"))
    }
    assert on_disk == live  # no orphan segments


def test_mor_staged_commit_rebases_past_concurrent_writer(spark, tmp_root):
    t = _mk(spark, tmp_root)
    staged = t.merge_staged(spark.createDataFrame(
        [("I", 100, 2, 1)], ROWS), manifest_key="w:r1")
    t.merge(spark.createDataFrame([("I", 200, 2, 2)], ROWS),
            manifest_key="w:r2")
    st = staged.publish()
    assert st.applied
    got = {r["k"] for r in t.read().collect()}
    assert {100, 200} <= got  # both waves survive
    snap = t.current_snapshot()
    assert snap.has_applied("w:r1") and snap.has_applied("w:r2")


def test_staged_schema_evolution_and_feed_visibility(spark, tmp_root):
    t = _mk(spark, tmp_root)
    v0 = t.current_version()
    staged = t.merge_staged(spark.createDataFrame(
        [("I", 300, 2, 1, "fresh")],
        "op string, k bigint, v bigint, amt bigint, note string"),
        manifest_key="w:e")
    assert "note" in staged.read().columns
    assert "note" not in t.read().columns
    staged.publish()
    assert [r["note"] for r in
            t.read().filter("k = 300").collect()] == ["fresh"]
    # the published commit is an ordinary change-feed wave
    feed = t.changes(v0, t.current_version())
    assert {r["k"] for r in feed.collect()} == {300}
