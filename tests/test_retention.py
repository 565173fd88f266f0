"""Time travel, snapshot expiry, vacuum, and skew utilities."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_spark.lake import LakeTable
from etl_spark.operators.skew import salted_agg, salted_repartition

SCHEMA = "event_id bigint, op_ts timestamp, repo string, path string, content string"
TS = dt.datetime(2024, 1, 1)


def _batch(spark, *rows):
    return spark.createDataFrame(list(rows), SCHEMA + ", op string")


def test_time_travel_expire_vacuum(spark, tmp_root):
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "t"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=2, props={"compact_threshold": "2"},
    )
    for i in range(5):
        t.merge(_batch(spark, (i, TS + dt.timedelta(seconds=i), "r", f"p{i % 2}",
                               f"v{i}", "I")), f"e{i}")
    # 5 merge commits + at least one follow-up auto-compaction commit
    assert t.current_version() > 5

    # time travel: version 2 saw only events 0-1
    assert t.read(version=2).count() == 2
    live_now = t.read().count()

    expired = t.expire_snapshots(keep_last=1)
    assert len(expired) == t.current_version()  # all but the newest
    removed = t.vacuum(older_than_sec=0)
    assert removed  # compaction left orphaned pre-compaction files
    # current state unaffected; exactly-once ledger intact
    assert t.read().count() == live_now
    assert t.applied_manifests() >= {f"e{i}" for i in range(5)}
    st = t.merge(_batch(spark, (9, TS, "r", "p0", "dup", "I")), "e4")
    assert not st.applied  # manifest survived expiry


def test_salted_agg_matches_plain(spark):
    df = spark.range(10_000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") % 7).cast("double").alias("v"),
        F.col("id"),
    )
    got = {r["k"]: (r["s"], r["n"], r["mx"]) for r in salted_agg(
        df, ["k"], {"s": ("sum", "v"), "n": ("count", "v"), "mx": ("max", "v")},
        n_salts=8, deterministic_by="id",
    ).collect()}
    want = {r["k"]: (r["s"], r["n"], r["mx"]) for r in df.groupBy("k").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"), F.max("v").alias("mx")
    ).collect()}
    assert got == want


def test_salted_repartition_spreads_hot_key(spark):
    df = spark.range(8_000).select(F.lit("hot").alias("k"), F.col("id"))
    out = salted_repartition(df, 8, ["k"], n_salts=8, deterministic_by="id")
    sizes = [len(p) for p in out.rdd.glom().collect() if p]
    # one hot key lands in >1 partition (unsalted it would be exactly 1)
    assert len(sizes) > 1
    assert out.count() == 8_000

def test_tombstone_watermark_expiry(spark, tmp_root):
    """Compaction with an event-time watermark drops old tombstones; the
    bounded-lateness contract means events older than the watermark are
    out-of-contract (a late insert then resurrects — documented behavior)."""
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "wm"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=2, props={"compact_threshold": "999"},
    )
    t.merge(_batch(spark, (1, TS, "r", "p", "v1", "I")), "e0")
    t.merge(_batch(spark, (2, TS + dt.timedelta(seconds=10), "r", "p", None, "D")), "e1")
    assert t.read().count() == 0
    with_tomb = t.read(with_meta=True, include_deleted=True).count()
    assert with_tomb == 1  # tombstone retained pre-watermark

    # compact with watermark past the delete: tombstone expires entirely
    t.compact(expire_tombstones_before=TS + dt.timedelta(seconds=60))
    assert t.read(with_meta=True, include_deleted=True).count() == 0

    # in-contract late event (newer than watermark) applies normally
    t.merge(_batch(spark, (3, TS + dt.timedelta(seconds=90), "r", "p", "v3", "I")), "e2")
    assert [r["content"] for r in t.read().collect()] == ["v3"]


def test_change_feed(spark, tmp_root):
    """CDC-out: changes(v1, v2) returns exactly the rows landed in between,
    tombstones marked _op='D'; compaction rewrites are excluded."""
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "cf"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=2, props={"compact_threshold": "999"},
    )
    t.merge(_batch(spark, (1, TS, "r", "a", "v1", "I")), "e0")
    v1 = t.current_version()
    t.merge(_batch(spark, (2, TS + dt.timedelta(seconds=1), "r", "b", "v2", "I"),
                   (3, TS + dt.timedelta(seconds=2), "r", "a", None, "D")), "e1")
    v2 = t.current_version()
    ch = {(r["path"], r["_op"]) for r in t.changes(v1, v2).collect()}
    assert ch == {("b", "U"), ("a", "D")}

    # compaction adds no spurious changes
    t.compact()
    v3 = t.current_version()
    assert t.changes(v2, v3).count() == 0
    # full-range feed covers both merges
    assert t.changes(0, v3).count() == 3


def test_change_feed_survives_autocompaction(spark, tmp_root):
    """Regression: a merge whose delta files are auto-compacted must still
    appear in the change feed. Compaction now runs as a follow-up commit,
    so the merge snapshot references its deltas and records them in
    ``added`` — changes() reads that provenance, not bucket-file diffs."""
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "acf"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=1, props={"compact_threshold": "2"},
    )
    versions = [t.current_version()]
    for i in range(4):  # bucket exceeds threshold repeatedly => compactions
        t.merge(_batch(spark, (i, TS + dt.timedelta(seconds=i), "r", f"p{i}",
                               f"v{i}", "I")), f"e:{i}")
        versions.append(t.current_version())
    assert t.current_version() > 4  # compaction commits interleaved

    # every merged row appears exactly once in the full-range feed
    full = {(r["path"], r["_op"]) for r in t.changes(0).collect()}
    assert full == {(f"p{i}", "U") for i in range(4)}
    assert t.changes(0).count() == 4

    # a sub-range that ends right after a compaction still sees the merge
    ch = {r["path"] for r in t.changes(versions[2], versions[3]).collect()}
    assert ch == {"p2"}


def test_manifest_window_and_watermark_bound_metadata(spark, tmp_root):
    """The applied ledger stays O(window): sequence-shaped keys evicted
    from the recent window fold into a per-prefix high-watermark, and
    has_applied() still answers for all of history."""
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "mw"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=1, props={"manifest_window": "16"},
    )
    for i in range(200):  # metadata-only commits (no data): cheap
        snap = t.current_snapshot()
        t._publish(t._child(snap, snap.schema, snap.buckets, f"m:{i}", added=[]))
    snap = t.current_snapshot()
    assert len(snap.applied) <= 16
    assert snap.applied_count == 200
    assert snap.applied_watermarks["m"] == [0, 199 - 16]
    for key, want in [("m:0", True), ("m:100", True), ("m:199", True),
                      ("m:200", False), ("other:5", False), ("m", False)]:
        assert snap.has_applied(key) is want, key
    # merge() respects the folded range: an ancient key is a no-op
    st = t.merge(_batch(spark, (1, TS, "r", "p", "v", "I")), "m:3")
    assert not st.applied

    # a GAP sequence must never be folded into the range (a false
    # positive would silently drop a backfill batch): commit a sparse
    # prefix, roll the window, and check the gaps stay un-applied
    for s in (10, 11, 40, 41):
        cur = t.current_snapshot()
        t._publish(t._child(cur, cur.schema, cur.buckets, f"g:{s}", added=[]))
    for i in range(40):  # force eviction pressure
        cur = t.current_snapshot()
        t._publish(t._child(cur, cur.schema, cur.buckets, f"m:{200 + i}",
                            added=[]))
    snap = t.current_snapshot()
    assert snap.has_applied("g:10") and snap.has_applied("g:41")
    for gap in ("g:9", "g:12", "g:25", "g:39", "g:42"):
        assert not snap.has_applied(gap), gap


def test_vacuum_grace_window_protects_inflight_files(spark, tmp_root):
    """vacuum() must not reclaim files a concurrent writer just staged:
    only unreferenced files older than the grace window are deleted."""
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "vg"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"], n_buckets=1,
    )
    orphan = os.path.join(t.path, "data", "v0000000099-b00000-0000-dead.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not-yet-published")
    assert t.vacuum() == []                      # fresh file: protected
    assert os.path.exists(orphan)
    assert t.vacuum(older_than_sec=0)            # explicit 0: reclaimed
    assert not os.path.exists(orphan)


def test_crash_before_publish_leaves_consistent_table(spark, tmp_root):
    """A writer that dies after writing data files but before publishing
    its snapshot leaves orphans, never corruption: the manifest is absent,
    re-merge applies cleanly, vacuum removes the orphaned files."""
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "cr"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"], n_buckets=2,
    )
    batch = _batch(spark, (1, TS, "r", "p", "v1", "I"))

    # simulate the crash: write the bucket files, skip the publish
    snap = t.current_snapshot()
    from etl_spark.lake.table import BUCKET_COL, DEL_FLAG, META_DELETED, _bucket_of
    from pyspark.sql import functions as F

    merged = batch.select(
        "event_id", "op_ts", "repo", "path", "content",
        F.lit(False).alias(META_DELETED),
    ).withColumn(BUCKET_COL, _bucket_of(["repo", "path"], 2))
    t._write_buckets(merged, snap.version + 1, spread=t._bijection_spread(2))

    assert "e0" not in t.applied_manifests()      # nothing committed
    st = t.merge(batch, "e0")                      # clean re-apply
    assert st.applied and t.read().count() == 1

    orphans = t.vacuum(older_than_sec=0)           # crash leftovers removed
    assert orphans
    assert t.read().count() == 1


def test_point_lookup_prunes_buckets(spark, tmp_root):
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "pl"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=16,
    )
    rows = [(i, TS + dt.timedelta(seconds=i), f"r{i % 7}", f"p{i}", f"v{i}", "I")
            for i in range(200)]
    t.merge(_batch(spark, *rows), "e0")
    got = {(r["repo"], r["path"]): r["content"]
           for r in t.lookup([("r1", "p1"), ("r3", "p3"), ("r0", "nope")]).collect()}
    assert got == {("r1", "p1"): "v1", ("r3", "p3"): "v3"}


def test_change_feed_replays_into_downstream_table(spark, tmp_root):
    """CDC-out consumed as CDC-in: replaying the change feed into a second
    LakeTable reproduces the upstream live state exactly (the feed carries
    the version columns and 'D' tombstones, so the downstream LWW merge
    resolves them for free — the documented consumption contract of
    LakeTable.changes). Auto-compaction runs upstream mid-history and must
    not distort the feed."""
    import datetime as dt

    up = LakeTable.create(
        spark, os.path.join(tmp_root, "up"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=2, props={"compact_threshold": "2"},
    )
    t0 = dt.datetime(2024, 1, 1)
    batches = [
        [(1, t0, "r", "a", "v1", "I"), (2, t0, "r", "b", "v1", "I")],
        [(3, t0 + dt.timedelta(minutes=1), "r", "a", "v2", "U")],
        [(4, t0 + dt.timedelta(minutes=2), "r", "b", None, "D")],
        [(5, t0 + dt.timedelta(minutes=3), "r", "c", "v1", "I")],
        [(6, t0 + dt.timedelta(minutes=4), "r", "a", "v3", "U")],
    ]
    for i, rows in enumerate(batches):
        up.merge(spark.createDataFrame(rows, SCHEMA + ", op string"),
                 f"epoch:{i}")

    down = LakeTable.create(
        spark, os.path.join(tmp_root, "down"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=4,  # different layout on purpose
    )
    feed = up.changes(0).withColumnRenamed("_op", "op")
    down.merge(feed, "sync:0")

    cols = ["event_id", "op_ts", "repo", "path", "content"]
    want = sorted(tuple(r) for r in up.read().select(*cols).collect())
    got = sorted(tuple(r) for r in down.read().select(*cols).collect())
    assert got == want
    assert {r["path"] for r in down.read().collect()} == {"a", "c"}


def test_vacuum_reclaims_abandoned_staging_dirs(spark, tmp_root):
    """A crashed writer's `.stage` tree is reclaimed wholesale once it ages
    past the grace window; a fresh one (a live writer) is protected."""
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "vs"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"], n_buckets=1,
    )
    stage = os.path.join(t.path, "data", "v0000000009-deadbeef.stage")
    os.makedirs(os.path.join(stage, "__bucket=0"))
    with open(os.path.join(stage, "__bucket=0", "part-0.parquet"), "wb") as fh:
        fh.write(b"partial")
    assert t.vacuum(reclaim_staging=True) == []  # fresh: protected
    assert os.path.isdir(stage)
    assert t.vacuum(older_than_sec=0) == []      # default: never touched
    assert os.path.isdir(stage)
    removed = t.vacuum(older_than_sec=0, reclaim_staging=True)
    assert any(r.endswith(".stage") for r in removed)
    assert not os.path.exists(stage)
