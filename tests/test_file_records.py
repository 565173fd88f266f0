"""Per-file records (``Snapshot.file_records``): each commit records every
new file's rows, bytes, row groups and tombstone state from the footer it
already reads, so the metadata readers — ``fast_count``, ``meta``, the
compaction planner, the merge's salted spread, the rescale budget and the
expiry selection — start no Spark job and open or stat no data file. A
table written before the records answers the same, and converts with
``backfill_stats``. Iceberg analogue: a manifest entry's ``record_count``
and ``file_size_in_bytes``."""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import shutil

import pytest
from pyspark.sql.types import StructType

from etl_spark.lake import LakeTable, fast_count, fast_min_max, plan_compaction

SCHEMA = "event_id bigint, op_ts timestamp, repo string, path string, content string"
T0 = dt.datetime(2024, 1, 1)
FAR = dt.datetime(2030, 1, 1)


def _mk(spark, root, name):
    return LakeTable.create(
        spark, os.path.join(root, name), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=8, props={"stats_cols": "op_ts", "compact_threshold": "100"},
    )


def _merge(spark, t, key, rows):
    t.merge(spark.createDataFrame(rows, SCHEMA + ", op string"), key)


def _load(spark, t):
    """Wave 0 inserts 80 keys; wave 1 deletes two of them and updates a
    third; compaction leaves one file per bucket, some with tombstones."""
    _merge(spark, t, "w:0", [
        (i, T0 + dt.timedelta(hours=i), f"r{i % 5}", f"p{i}", f"c{i}", "I")
        for i in range(80)])
    _merge(spark, t, "w:1", [
        (100, T0 + dt.timedelta(days=10), "r1", "p1", None, "D"),
        (101, T0 + dt.timedelta(days=10), "r2", "p2", None, "D"),
        (102, T0 + dt.timedelta(days=10), "r3", "p3", "c3-new", "U"),
    ])
    t.compact()


def _dirty(spark, t, key="w:2"):
    _merge(spark, t, key, [
        (200 + i, T0 + dt.timedelta(days=20), f"r{i % 5}", f"p{i}",
         f"d{i}", "U") for i in range(10, 30)])


class _Abort(Exception):
    pass


def _abort(*a, **kw):
    raise _Abort


@contextlib.contextmanager
def _probe(spark, monkeypatch, t):
    """Counts the Spark jobs started inside the block (a job group, as
    test_stats does) and every ``os.stat``, ``pq.read_metadata`` and
    ``pq.ParquetFile`` call on one of ``t``'s data files."""
    import pyarrow.parquet as pq

    sc = spark.sparkContext
    data = os.path.join(t.path, "data") + os.sep
    got = {"jobs": [], "io": []}

    def counting(mod, name):
        real = getattr(mod, name)

        def counted(path, *a, **kw):
            if str(path).startswith(data):
                got["io"].append((name, str(path)))
            return real(path, *a, **kw)

        m.setattr(mod, name, counted)

    group = f"records-probe-{id(got)}"
    with monkeypatch.context() as m:
        counting(os, "stat")
        counting(pq, "read_metadata")
        counting(pq, "ParquetFile")
        sc.setJobGroup(group, "file record probe")
        try:
            yield got
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            got["jobs"] = list(sc.statusTracker().getJobIdsForGroup(group))


def _assert_free(got):
    assert got == {"jobs": [], "io": []}, got


def _clean_checks(spark, monkeypatch, t):
    """On a compacted, tombstone-free table: counts, bounds and the
    files views are metadata-only; a min/max column outside ``stats_cols``
    reads footers on the driver but starts no job."""
    with _probe(spark, monkeypatch, t) as got:
        n, brk = fast_count(t)
        mm, _ = fast_min_max(t, ["op_ts"])
        files = t.meta("files")
        parts = t.meta("partitions")
    _assert_free(got)
    with _probe(spark, monkeypatch, t) as got:
        both, _ = fast_min_max(t, ["op_ts", "content"])
    assert got["jobs"] == [] and got["io"], got

    live = t.read()
    with _probe(spark, monkeypatch, t) as got:  # the job counter's control
        assert n == live.count()
    assert got["jobs"], got
    assert brk["files_scanned"] == brk["buckets_resolved"] == 0
    lo, hi = live.agg({"op_ts": "min"}).first()[0], \
        live.agg({"op_ts": "max"}).first()[0]
    assert mm["op_ts"] == both["op_ts"] == (lo, hi)
    rows = files.collect()
    assert sum(r["row_count"] for r in rows) == n
    for r in rows:
        p = os.path.join(t.path, r["file"])
        assert r["size_bytes"] == os.path.getsize(p)
    assert sum(r["rows"] for r in parts.collect()) == n


def _dirty_checks(spark, monkeypatch, t):
    """On a table with delta generations: the planner, the merge's salted
    spread, the files views and the rescale step's byte budget size from
    the records."""
    snap = t.current_snapshot()
    with _probe(spark, monkeypatch, t) as got:
        plan = plan_compaction(t)
        t._salted_spread(snap, snap.key_cols)
        sizes = t._bucket_bytes(snap)
        t.meta("files")
        t.meta("partitions")
    _assert_free(got)
    assert plan.buckets and plan.planned_bytes == sum(
        sizes[b] for b in plan.buckets)
    for b, fl in snap.buckets.items():
        assert sizes[b] == sum(
            os.path.getsize(os.path.join(t.path, f)) for f in fl)

    # rescale_step's budget selection runs before its rewrite
    t.start_rescale(16)
    monkeypatch.setattr(LakeTable, "_fold_rewrite", _abort)
    with _probe(spark, monkeypatch, t) as got:
        with pytest.raises(_Abort):
            t.rescale_step(max_buckets=8, budget_bytes=1)
    monkeypatch.undo()
    _assert_free(got)


def test_readers_are_metadata_only(spark, tmp_root, monkeypatch):
    t = _mk(spark, tmp_root, "rec")
    _load(spark, t)
    snap = t.current_snapshot()
    files = [f for fl in snap.buckets.values() for f in fl]
    assert set(snap.file_records) == set(files)
    states = {snap.file_records[f]["state"] for f in files}
    assert "mixed" in states and "live" in states, states

    # the expiry selection reads the tombstone state and the zone-mapped
    # version column: no job, no file, before the rewrite
    selected = t._expirable_clean_buckets(snap, FAR, None)
    assert selected and all(
        snap.file_records[fl[0]]["state"] == "mixed"
        for fl in selected.values())
    monkeypatch.setattr(LakeTable, "_fold_rewrite", _abort)
    with _probe(spark, monkeypatch, t) as got:
        with pytest.raises(_Abort):
            t.compact(expire_tombstones_before=FAR)
    monkeypatch.undo()
    _assert_free(got)

    assert t.compact(expire_tombstones_before=FAR) == len(selected)
    _clean_checks(spark, monkeypatch, t)
    _dirty(spark, t)
    _dirty_checks(spark, monkeypatch, t)


def _strip_records(t):
    p = t._snap_path(t.current_version())
    with open(p) as fh:
        d = json.load(fh)
    d.pop("file_records")
    os.unlink(p)
    with open(p, "w") as fh:
        json.dump(d, fh)


def _answers(t):
    files = sorted(tuple(r) for r in t.meta("files").collect())
    plan = plan_compaction(t)
    return (fast_count(t), fast_min_max(t, ["op_ts", "content"]), files,
            (plan.buckets, plan.planned_bytes, plan.skipped))


def test_legacy_snapshot_answers_the_same_and_converts(
        spark, tmp_root, monkeypatch):
    """A snapshot without records (written before them) gives the same
    answers through a driver footer pass; ``backfill_stats`` writes the
    records, after which the readers are metadata-only again."""
    t = _mk(spark, tmp_root, "recorded")
    _load(spark, t)
    _dirty(spark, t)
    shutil.copytree(t.path, os.path.join(tmp_root, "legacy"))
    old = LakeTable.load(spark, os.path.join(tmp_root, "legacy"))
    _strip_records(old)
    assert old.current_snapshot().file_records == {}

    assert _answers(old) == _answers(t)
    assert old.compact(expire_tombstones_before=FAR) == \
        t.compact(expire_tombstones_before=FAR)
    key = ["repo", "path"]
    assert sorted(map(tuple, old.read().orderBy(*key).collect())) == \
        sorted(map(tuple, t.read().orderBy(*key).collect()))

    snap = old.current_snapshot()
    unrecorded = [f for fl in snap.buckets.values() for f in fl
                  if f not in snap.file_records]
    assert unrecorded, "compaction left untouched buckets unrecorded"
    assert old.backfill_stats() == len(unrecorded)
    snap = old.current_snapshot()
    assert set(snap.file_records) == {
        f for fl in snap.buckets.values() for f in fl}
    # the untouched files are the copy's: the same records as the original
    recorded = t.current_snapshot().file_records
    assert all(snap.file_records[f] == recorded[f] for f in unrecorded)
    assert old.backfill_stats() == 0
    _clean_checks(spark, monkeypatch, old)
    _dirty(spark, old, "w:3")
    _dirty_checks(spark, monkeypatch, old)
