"""Integrity audit (lake/fsck.check_integrity): every plane detects the
damage it claims to — and a healthy table, including one mid-rescale,
audits clean."""

from __future__ import annotations

import dataclasses
import os
import shutil

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_spark.lake import LakeTable, check_integrity
from etl_spark.lake.fsck import _deep_findings, _meta_findings


DDL = ("repo string, path string, op_ts long, event_id long, "
       "content string")


def _mk(spark, tmp_root, name, props=None, n_buckets=4):
    t = LakeTable.create(
        spark, os.path.join(tmp_root, name), StructType.fromDDL(DDL),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=n_buckets,
        props=props if props is not None else {"stats_cols": "op_ts"},
    )
    rows = [(f"r{i % 9}", f"p{i}", 10 + i, i, f"c{i}", "I")
            for i in range(300)]
    t.merge(spark.createDataFrame(rows, DDL + ", op string"), "m:0")
    t.compact()
    return t


def test_clean_table_audits_clean(spark, tmp_root):
    t = _mk(spark, tmp_root, "clean",
            props={"stats_cols": "op_ts", "bloom_cols": "repo|path",
                   "bloom_bits": "auto"})
    rep = check_integrity(t, deep=True)
    assert rep["ok"], rep
    assert rep["files_checked"] > 0
    assert rep["misplaced_rows"] == []
    # ... and stays clean mid-rescale (routing-aware invariants)
    t.start_rescale(8)
    t.rescale_step()
    rep = check_integrity(t, deep=True)
    assert rep["ok"], rep


def test_missing_file_detected(spark, tmp_root):
    t = _mk(spark, tmp_root, "missing")
    snap = t.current_snapshot()
    victim = next(f for fl in snap.buckets.values() for f in fl)
    os.remove(os.path.join(t.path, victim))
    rep = check_integrity(t)
    assert not rep["ok"]
    assert {f["file"] for f in rep["missing_files"]} == {victim}


def test_corrupt_footer_detected(spark, tmp_root):
    t = _mk(spark, tmp_root, "corrupt")
    snap = t.current_snapshot()
    victim = next(f for fl in snap.buckets.values() for f in fl)
    with open(os.path.join(t.path, victim), "r+b") as fh:
        fh.truncate(16)  # keeps the file, destroys the footer
    rep = check_integrity(t)
    assert not rep["ok"]
    assert {f["file"] for f in rep["corrupt_footers"]} == {victim}


def test_swapped_bytes_detected_by_zone_maps(spark, tmp_root):
    """A file silently REPLACED with different (valid parquet) bytes:
    existence and footer checks pass — only the stored-bound-vs-footer
    comparison catches it."""
    t = _mk(spark, tmp_root, "swapped")
    snap = t.current_snapshot()
    buckets = [b for b, fl in snap.buckets.items() if fl]
    va, vb = snap.buckets[buckets[0]][0], snap.buckets[buckets[1]][0]
    pa, pb = os.path.join(t.path, va), os.path.join(t.path, vb)
    shutil.copyfile(pa, pb)  # vb's bytes no longer match its bounds
    rep = check_integrity(t)
    assert not rep["ok"]
    assert any(m["file"] == vb for m in rep["stats_mismatches"]), rep


def test_record_mismatch_detected(spark, tmp_root):
    """``meta("files")``, ``fast_count`` and the planners trust each
    file's record without opening the file, so fsck compares them: a
    forged record and a file rewritten in place (one row short, a valid
    footer, no zone maps to catch it) are both ``record_mismatches``."""
    import json

    import pyarrow.parquet as pq

    t = _mk(spark, tmp_root, "records", props={})
    assert check_integrity(t)["ok"]
    snap = t.current_snapshot()
    buckets = [b for b, fl in snap.buckets.items() if fl]
    va, vb = snap.buckets[buckets[0]][0], snap.buckets[buckets[1]][0]

    p = t._snap_path(snap.version)
    with open(p) as fh:
        d = json.load(fh)
    d["file_records"][va]["rows"] += 1
    os.unlink(p)
    with open(p, "w") as fh:
        json.dump(d, fh)
    pb = os.path.join(t.path, vb)
    pq.write_table(pq.read_table(pb).slice(1), pb)

    rep = check_integrity(t)
    assert not rep["ok"]
    assert {m["file"] for m in rep["record_mismatches"]} == {va, vb}, rep
    assert not rep["missing_files"] and not rep["corrupt_footers"]


def test_missing_bloom_sidecar_detected(spark, tmp_root):
    t = _mk(spark, tmp_root, "sidecar",
            props={"stats_cols": "op_ts", "bloom_cols": "repo|path",
                   # tiny inline cap forces sidecar files
                   "bloom_bits": "262144", "bloom_inline_max_bytes": "8"})
    snap = t.current_snapshot()
    side = [v[0][1:] for e in snap.file_stats.values()
            for k, v in e.items()
            if k.endswith("#bloom") and isinstance(v[0], str)
            and v[0].startswith("@")]
    assert side, "fixture must produce at least one sidecar"
    os.remove(os.path.join(t.path, side[0]))
    rep = check_integrity(t)
    assert not rep["ok"]
    assert {m["sidecar"] for m in rep["missing_sidecars"]} == {side[0]}


def test_metadata_invariants(spark, tmp_root):
    t = _mk(spark, tmp_root, "meta")
    snap = t.current_snapshot()
    # forge: bucket id beyond the id space
    bad = dataclasses.replace(snap, buckets={**snap.buckets, 99: []})
    f = _meta_findings(bad)
    assert any(x["bucket"] == 99 for x in f["bad_bucket_ids"])
    # forge: unroutable id mid-rescale (child of an unmigrated bucket)
    mid = dataclasses.replace(
        snap, rescale_to=8, rescale_watermark=1,
        buckets={**snap.buckets, 7: []})  # 7 % 4 = 3 >= wm, and 7 >= n
    f = _meta_findings(mid)
    assert any(x["bucket"] == 7 for x in f["bad_bucket_ids"])
    # ... while a legitimate child id audits clean
    ok_mid = dataclasses.replace(
        snap, rescale_to=8, rescale_watermark=1,
        buckets={**snap.buckets, 4: []})  # 4 % 4 = 0 < wm: child of 0
    assert not _meta_findings(ok_mid)["bad_bucket_ids"]
    # forge: nonunique referencing a de-referenced file
    dangle = dataclasses.replace(snap, nonunique=["data/ghost.parquet"])
    assert _meta_findings(dangle)["dangling_nonunique"] == [
        "data/ghost.parquet"]
    # forge: inverted watermark range
    inv = dataclasses.replace(snap, applied_watermarks={"m": [9, 3]})
    assert _meta_findings(inv)["ledger_violations"]


def test_deep_detects_misplaced_rows(spark, tmp_root):
    t = _mk(spark, tmp_root, "deep")
    snap = t.current_snapshot()
    buckets = [b for b, fl in snap.buckets.items() if fl]
    a, b = buckets[0], buckets[1]
    forged = dataclasses.replace(
        snap, buckets={**snap.buckets,
                       a: snap.buckets[b], b: snap.buckets[a]})
    f = _deep_findings(t, forged)
    assert f["misplaced_rows"], "swapped bucket lists must surface"
    assert {(m["bucket"], m["routed_to"]) for m in f["misplaced_rows"]} == \
        {(a, b), (b, a)}
