"""LakeTable merge modes: merge-on-read (default) vs copy-on-write parity,
auto/explicit compaction, and additive schema evolution under MoR."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from etl_spark.cdc import synth_events, write_event_epochs
from etl_spark.cdc.oracle import oracle_final_state
from etl_spark.cdc.replay import replay_events
from etl_spark.lake import LakeTable


def _state(table) -> pd.DataFrame:
    return (
        table.read()
        .select("event_id", "op_ts", "repo", "path", "commit", "lang", "content")
        .orderBy("repo", "path")
        .toPandas()
        .reset_index(drop=True)
    )


def test_mor_equals_cow_equals_oracle(spark, tmp_root):
    events_dir = os.path.join(tmp_root, "wal")
    ev = synth_events(spark, 3000, n_repos=25, paths_per_repo=25, n_epochs=6)
    write_event_epochs(ev, events_dir)

    from pyspark.sql.types import StructType

    sample = spark.read.parquet(events_dir)
    user = StructType([f for f in sample.schema.fields if f.name not in ("op", "epoch")])

    def replay(mode: str, threshold: str) -> LakeTable:
        t = LakeTable.create(
            spark, os.path.join(tmp_root, f"tbl_{mode}_{threshold}"), user,
            key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
            n_buckets=8, props={"merge_mode": mode, "compact_threshold": threshold},
        )
        for e in range(6):
            t.merge(spark.read.parquet(os.path.join(events_dir, f"epoch={e}")),
                    f"epoch:{e}")
        return t

    want = oracle_final_state(events_dir).reset_index(drop=True)
    cow = replay("cow", "999")
    mor = replay("mor", "3")          # compaction triggers mid-replay
    mor_nc = replay("mor", "999")     # never compacts: pure merge-on-read

    for t in (cow, mor, mor_nc):
        pd.testing.assert_frame_equal(_state(t), want, check_dtype=False)

    # compaction actually ran for mor (file counts bounded)
    snap = mor.current_snapshot()
    assert max(len(fl) for fl in snap.buckets.values()) <= 4
    snap_nc = mor_nc.current_snapshot()
    assert max(len(fl) for fl in snap_nc.buckets.values()) == 6

    # explicit compact folds everything to one file per bucket, same state
    n = mor_nc.compact()
    assert n > 0
    assert max(len(fl) for fl in mor_nc.current_snapshot().buckets.values()) == 1
    pd.testing.assert_frame_equal(_state(mor_nc), want, check_dtype=False)


def test_schema_evolution_mor(spark, tmp_root):
    """Late batches carry a new column (the reference's *_ADICIONAIS
    contract): table schema evolves additively, old rows read as NULL."""
    import datetime as dt

    from pyspark.sql.types import StructType

    base_schema = StructType.fromDDL(
        "event_id bigint, op_ts timestamp, repo string, path string, content string"
    )
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "tbl"), base_schema,
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"], n_buckets=4,
    )
    ts = lambda s: dt.datetime.fromisoformat(s)
    b0 = spark.createDataFrame(
        [(1, ts("2024-01-01T00:00:01"), "r", "a", "v1", "I"),
         (2, ts("2024-01-01T00:00:02"), "r", "b", "v2", "I")],
        "event_id bigint, op_ts timestamp, repo string, path string, content string, op string",
    )
    t.merge(b0, "epoch:0")
    # late vintage adds `lang`
    b1 = spark.createDataFrame(
        [(3, ts("2024-01-01T00:00:03"), "r", "c", "v3", "py", "I")],
        "event_id bigint, op_ts timestamp, repo string, path string, content string, lang string, op string",
    )
    t.merge(b1, "epoch:1")
    snap = t.current_snapshot()
    assert "lang" in snap.schema.fieldNames()
    got = {r["path"]: r["lang"] for r in t.read().collect()}
    assert got == {"a": None, "b": None, "c": "py"}


def test_replay_events_uses_mor_and_matches(spark, tmp_root):
    events_dir = os.path.join(tmp_root, "wal")
    ev = synth_events(spark, 2000, n_repos=20, paths_per_repo=20, n_epochs=4)
    write_event_epochs(ev, events_dir)
    table, stats = replay_events(spark, events_dir, os.path.join(tmp_root, "t"), n_buckets=8)
    assert all(s.applied for s in stats)
    want = oracle_final_state(events_dir).reset_index(drop=True)
    pd.testing.assert_frame_equal(_state(table), want, check_dtype=False)


def test_write_optimized_mode_matches_oracle(spark, tmp_root):
    """batch_dedup=false skips the per-merge aggregate; read-time LWW is
    authoritative. Includes the single-delta-file case where a file holds
    duplicate keys (the nonunique guard must force the read aggregate)."""
    events_dir = os.path.join(tmp_root, "wal")
    # few keys => heavy intra-batch key duplication
    ev = synth_events(spark, 2000, n_repos=5, paths_per_repo=5, n_epochs=1)
    write_event_epochs(ev, events_dir)
    from pyspark.sql.types import StructType

    sample = spark.read.parquet(events_dir)
    user = StructType([f for f in sample.schema.fields if f.name not in ("op", "epoch")])
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "fast"), user,
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=4,
        props={"merge_mode": "mor", "batch_dedup": "false",
               "compact_threshold": "999"},
    )
    t.merge(spark.read.parquet(os.path.join(events_dir, "epoch=0")), "epoch:0")
    snap = t.current_snapshot()
    assert snap.nonunique  # delta files flagged as possibly-duplicate-keyed
    assert all(len(fl) == 1 for fl in snap.buckets.values())  # 1 file/bucket!

    want = oracle_final_state(events_dir).reset_index(drop=True)
    pd.testing.assert_frame_equal(_state(t), want, check_dtype=False)

    # compaction restores uniqueness and clears the flags
    assert t.compact() > 0
    assert t.current_snapshot().nonunique == []
    pd.testing.assert_frame_equal(_state(t), want, check_dtype=False)


def test_partial_mor_read_skips_aggregate_for_clean_buckets(spark, tmp_root):
    """One un-compacted delta bucket must not drag the whole table through
    the read-time LWW aggregate: the plan unions the compacted buckets
    (scan only) around an aggregate over just the dirty bucket's files."""
    import datetime as dt

    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(
        "event_id bigint, op_ts timestamp, repo string, path string, content string"
    )
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "pm"), schema,
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=4, props={"compact_threshold": "999"},
    )
    ts = dt.datetime(2024, 1, 1)
    rows = [(i, ts + dt.timedelta(seconds=i), "r", f"p{i}", f"v{i}", "I")
            for i in range(40)]
    t.merge(spark.createDataFrame(
        rows, "event_id bigint, op_ts timestamp, repo string, path string, "
              "content string, op string"), "e:0")
    t.compact()  # every bucket: one unique file

    # clean table: no LWW aggregate at all
    clean_plan = t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "max_by" not in clean_plan

    # dirty ONE bucket with an update
    t.merge(spark.createDataFrame(
        [(100, ts + dt.timedelta(hours=1), "r", "p1", "v1b", "U")],
        "event_id bigint, op_ts timestamp, repo string, path string, "
        "content string, op string"), "e:1")
    snap = t.current_snapshot()
    dirty = [b for b, fl in snap.buckets.items() if len(fl) > 1]
    assert len(dirty) == 1

    df = t.read()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" in plan          # clean buckets bypass the aggregate
    assert "max_by" in plan         # dirty bucket still LWW-resolved

    got = {r["path"]: r["content"] for r in df.collect()}
    want = {f"p{i}": f"v{i}" for i in range(40)}
    want["p1"] = "v1b"
    assert got == want

    # full compaction returns the read to the aggregate-free fast path
    t.compact()
    plan2 = t.read()._jdf.queryExecution().optimizedPlan().toString()
    assert "max_by" not in plan2
    assert {r["path"]: r["content"] for r in t.read().collect()} == want


def test_compaction_failure_never_fails_a_committed_merge(spark, tmp_root, monkeypatch):
    """Auto-compaction is best-effort follow-up maintenance: once the merge
    snapshot is published, a compaction crash must not surface as a merge
    error (the caller would retry/abort a merge that succeeded). The next
    healthy merge (or explicit compact) folds the backlog."""
    import datetime as dt

    from pyspark.sql.types import StructType

    from etl_spark.lake.table import LakeTable as LT

    schema = StructType.fromDDL(
        "event_id bigint, op_ts timestamp, repo string, path string, content string"
    )
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "bf"), schema,
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=1, props={"compact_threshold": "2"},
    )
    ts = dt.datetime(2024, 1, 1)

    def b(i):
        return spark.createDataFrame(
            [(i, ts + dt.timedelta(seconds=i), "r", f"p{i}", f"v{i}", "I")],
            "event_id bigint, op_ts timestamp, repo string, path string, "
            "content string, op string")

    t.merge(b(0), "e:0")
    t.merge(b(1), "e:1")

    # third merge crosses the threshold; make its compaction blow up
    def boom(*a, **kw):
        raise RuntimeError("simulated compaction crash")

    monkeypatch.setattr(LT, "_compact_files", boom)
    st = t.merge(b(2), "e:2")            # must NOT raise
    assert st.applied and st.buckets_rewritten == 0
    # ...but it leaves a structured record of the skipped compaction
    assert [d["phase"] for d in st.degraded] == ["compact"]
    assert "simulated compaction crash" in st.degraded[0]["error"]
    assert t.read().count() == 3         # merge itself is durable
    backlog = max(len(fl) for fl in t.current_snapshot().buckets.values())
    assert backlog == 3                  # compaction did not run

    # healthy again: the next merge folds the backlog
    monkeypatch.undo()
    st = t.merge(b(3), "e:3")
    assert st.applied and st.buckets_rewritten >= 1 and st.degraded == []
    assert max(len(fl) for fl in t.current_snapshot().buckets.values()) == 1
    assert t.read().count() == 4


def test_rebucket_rescales_layout(spark, tmp_root):
    """Bucket-count evolution: rebucket() rewrites the table into a new
    modulus in one atomic commit — same live rows, tombstones preserved,
    lookup pruning works against the new layout, exactly-once ledger
    intact, change feed unaffected (a rewrite adds no changes)."""
    import datetime as dt

    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(
        "event_id bigint, op_ts timestamp, repo string, path string, content string"
    )
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "rb"), schema,
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=2, props={"compact_threshold": "999"},
    )
    ts = dt.datetime(2024, 1, 1)
    rows = [(i, ts + dt.timedelta(seconds=i), f"r{i % 5}", f"p{i}", f"v{i}", "I")
            for i in range(60)]
    t.merge(spark.createDataFrame(
        rows, "event_id bigint, op_ts timestamp, repo string, path string, "
              "content string, op string"), "e:0")
    t.merge(spark.createDataFrame(
        [(100, ts + dt.timedelta(hours=1), "r1", "p1", None, "D")],
        "event_id bigint, op_ts timestamp, repo string, path string, "
        "content string, op string"), "e:1")
    before = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
    feed_before = t.changes(0).count()

    v = t.rebucket(16)
    snap = t.current_snapshot()
    assert snap.version == v and snap.n_buckets == 16
    assert set(snap.buckets) <= set(range(16)) and len(snap.buckets) > 2
    assert all(len(fl) == 1 for fl in snap.buckets.values())  # compacted too

    after = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
    assert after == before
    # tombstone survived the rewrite: a LATE older event still loses
    t.merge(spark.createDataFrame(
        [(99, ts + dt.timedelta(minutes=30), "r1", "p1", "late", "I")],
        "event_id bigint, op_ts timestamp, repo string, path string, "
        "content string, op string"), "e:2")
    assert ("r1", "p1") not in {
        (r["repo"], r["path"]) for r in t.read().collect()
    }
    # point lookups prune against the NEW modulus
    got = {(r["repo"], r["path"]): r["content"]
           for r in t.lookup([("r2", "p2"), ("r0", "p5")]).collect()}
    assert got == {("r2", "p2"): "v2", ("r0", "p5"): "v5"}
    # rewrite added no changes to the feed; idempotence ledger intact
    assert t.changes(0).count() == feed_before + 1  # only e:2 added rows
    assert not t.merge(spark.createDataFrame(
        [(0, ts, "rX", "pX", "dup", "I")],
        "event_id bigint, op_ts timestamp, repo string, path string, "
        "content string, op string"), "e:0").applied


def test_manifest_metadata_bounded_over_1k_commits(spark, tmp_root):
    """Soak the exactly-once ledger across ~1.1k commits: snapshot JSON
    stays O(manifest_window) bytes, ``has_applied`` stays correct across
    the fold boundary, a deliberately-skipped gap seq is never falsely
    claimed applied, the late backfill of that gap eventually folds, and
    maintenance commits never enter the ledger. The first commits run
    through real merges; the long tail drives the same _child/_publish
    metadata path the streaming sink commits through (folding is pure
    metadata — no data write changes its behavior)."""
    from pyspark.sql.types import StructType

    ts = pd.Timestamp("2024-01-01").to_pydatetime()
    schema = spark.createDataFrame(
        [(0, ts, "r", "p", "c")],
        "event_id bigint, op_ts timestamp, repo string, path string, "
        "content string",
    ).schema
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "soak"), StructType(schema.fields),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=2, props={"manifest_window": "64", "compact_threshold": "999"},
    )
    window = 64
    # two real merges (epoch:0, epoch:1) -> 2 delta files in some bucket
    for e in range(2):
        t.merge(spark.createDataFrame(
            [(e, ts, "r", f"p{e}", f"c{e}", "I")],
            "event_id bigint, op_ts timestamp, repo string, path string, "
            "content string, op string"), f"epoch:{e}")
    # a maintenance commit stays OUT of the ledger
    count_before = t.current_snapshot().applied_count
    assert t.compact() > 0
    snap = t.current_snapshot()
    assert snap.applied_count == count_before
    assert all(":" not in k or k.startswith("epoch:") for k in snap.applied)

    gap = 600
    committed = set()
    for i in range(2, 1101):
        if i == gap:
            continue  # deliberate gap: epoch:600 arrives late (below)
        snap = t.current_snapshot()
        t._publish(t._child(snap, snap.schema, snap.buckets,
                            f"epoch:{i}", added=[]))
        committed.add(i)
        if i == 800:
            # while the gap is open: seqs past it must NOT fold into the
            # watermark, and the gap must not be claimed applied
            s = t.current_snapshot()
            assert not s.has_applied(f"epoch:{gap}")
            assert s.has_applied("epoch:599") and s.has_applied("epoch:601")
            # backfill the gap -> adjacency restored, backlog can fold
            t._publish(t._child(s, s.schema, s.buckets,
                                f"epoch:{gap}", added=[]))
            committed.add(gap)

    s = t.current_snapshot()
    # bounded metadata: the kept window collapsed back to O(window)
    assert len(s.applied) <= window
    assert len(s.to_json()) < 32_768
    assert s.applied_watermarks["epoch"][0] == 0
    assert s.applied_watermarks["epoch"][1] >= 1100 - window - 1
    # exactly-once answers across the whole history
    for e in (0, 1, 2, gap - 1, gap, gap + 1, 1000, 1100):
        assert s.has_applied(f"epoch:{e}"), e
    assert not s.has_applied("epoch:1200")
    # non-canonical zero-padded keys never collapse onto folded seqs
    assert not s.has_applied("epoch:04")
    assert not s.has_applied("epoch:0600")
    # epochs 2..1100 = 1099 keyed commits (the gap was backfilled)
    assert s.applied_count == count_before + 1099


def test_publish_is_one_rename_per_bucket_not_per_file(spark, tmp_root, monkeypatch):
    """Publish cost must be O(buckets), not O(files): with
    maxRecordsPerFile forcing many files per bucket, the publish step
    still issues exactly one os.rename per bucket directory (plus none
    per data file)."""
    import os as _os

    from etl_spark.lake import table as table_mod

    ts = __import__("datetime").datetime(2024, 1, 1)
    rows = [(i, ts, "r", f"p{i}", f"c{i}", "I") for i in range(400)]
    batch = spark.createDataFrame(
        rows,
        "event_id bigint, op_ts timestamp, repo string, path string, "
        "content string, op string",
    )
    from pyspark.sql.types import StructType

    t = LakeTable.create(
        spark, os.path.join(tmp_root, "pubcost"),
        StructType([f for f in batch.schema.fields if f.name != "op"]),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=2, props={"compact_threshold": "999"},
    )
    renames = []
    real_rename = _os.rename

    def counting_rename(src, dst):
        renames.append((src, dst))
        return real_rename(src, dst)

    spark.conf.set("spark.sql.files.maxRecordsPerFile", "25")
    try:
        monkeypatch.setattr(table_mod.os, "rename", counting_rename)
        stats = t.merge(batch, "e:0")
    finally:
        monkeypatch.undo()
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")

    snap = t.current_snapshot()
    n_files = sum(len(fl) for fl in snap.buckets.values())
    assert n_files >= 8, n_files  # many files per bucket, by construction
    # one rename per bucket dir; zero per data file
    data_renames = [r for r in renames if table_mod._DATA_DIR in r[0]]
    assert len(data_renames) == len(snap.buckets) == 2
    assert stats.rows_written == 400
    assert t.read().count() == 400

    # rows_written is a footer count, true on every table: a table that
    # still carries the retired `write_metrics=coarse` prop counts too
    coarse = LakeTable.create(
        spark, os.path.join(tmp_root, "pubcost_coarse"),
        StructType([f for f in batch.schema.fields if f.name != "op"]),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=2, props={"write_metrics": "coarse"},
    )
    st = coarse.merge(batch, "e:0")
    assert st.rows_written == 400 == coarse.read().count()
    assert sum(p["rows"] for p in st.partitions.values()) == 400


def test_rollback_restores_state_and_guards_the_feed(spark, tmp_root):
    """Iceberg-style rollback_to_snapshot: data restored as a new commit,
    the exactly-once ledger preserved, the change feed refusing to cross."""
    import pytest
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(
        "event_id bigint, op_ts timestamp, repo string, path string, "
        "content string")
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "rb"), schema,
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=2,
    )
    import datetime as dt
    T0 = dt.datetime(2024, 1, 1)

    ddl = ("event_id bigint, op_ts timestamp, repo string, path string, "
           "content string, op string")

    def _merge(key, rows):
        return t.merge(spark.createDataFrame(rows, ddl), key)

    def rows(table):
        return {(r["repo"], r["path"]): (r["content"], r["event_id"])
                for r in table.read().collect()}

    _merge("e:1", [(1, T0, "r", "a", "good-a", "I"),
                   (2, T0, "r", "b", "good-b", "I")])
    v_good = t.current_version()
    good = rows(t)

    # a bad batch lands (wrong content, a spurious delete)
    _merge("e:2", [(3, T0.replace(day=2), "r", "a", "BAD", "U"),
                   (4, T0.replace(day=2), "r", "b", "", "D")])
    assert rows(t) != good

    v_rb = t.rollback(v_good)
    assert v_rb == t.current_version()
    assert rows(t) == good                       # data restored
    assert t.snapshot(v_rb).rollback_of == v_good

    # ledger preserved: re-delivering the bad epoch is a no-op
    s = _merge("e:2", [(3, T0.replace(day=2), "r", "a", "BAD", "U")])
    assert not s.applied and rows(t) == good

    # corrected re-ingest under a NEW key builds on the restored state
    _merge("e:3", [(5, T0.replace(day=3), "r", "a", "fixed-a", "U")])
    assert rows(t)[("r", "a")] == ("fixed-a", 5)

    # the feed refuses to cross the rollback commit...
    with pytest.raises(ValueError, match="rollback"):
        t.changes(v_good).count()
    # ...but ranges strictly after it still work
    assert set(
        r["path"] for r in t.changes(v_rb).collect()
    ) == {"a"}

    # rollback target must be a real ancestor
    with pytest.raises(ValueError):
        t.rollback(t.current_version())

    # retention: expiring pre-rollback snapshots + vacuum must not break
    # the restored data (files re-referenced by the rollback commit)
    t.expire_snapshots(keep_last=2)
    t.vacuum(older_than_sec=0.0)
    assert rows(t)[("r", "b")] == ("good-b", 2)


def test_murmur3_parity_and_write_bijection(spark, tmp_root):
    """The balanced write relies on driver-side murmur3 preimages: (1) the
    pure-Python _murmur3_int32 must equal Spark's hash() for ints, (2) the
    preimage array must make repartition(n, key) a true bucket->partition
    bijection through Spark's real partitioner, and (3) a skewed table's
    salted merge must split ONLY the hot bucket into multiple delta files
    while state parity holds."""
    from etl_spark.lake.table import (_bucket_of, _murmur3_int32,
                                      _pid_preimages)
    from pyspark.sql.types import StructType

    rows = spark.range(0, 512).select(
        F.col("id").cast("int").alias("v")).select(
        "v", F.hash("v").alias("h")).collect()
    assert all(r["h"] == _murmur3_int32(r["v"]) for r in rows)

    pre = _pid_preimages(32)
    arr = F.array(*[F.lit(v) for v in pre])
    got = (
        spark.range(0, 32).select(F.col("id").cast("int").alias("b"))
        .repartition(32, F.element_at(arr, F.col("b") + F.lit(1)))
        .select("b", F.spark_partition_id().alias("p")).collect()
    )
    assert all(r["b"] == r["p"] for r in got)

    # skewed table: one BUCKET holds ~10x the keys of the others (bucket
    # heat from MANY keys — the shape salting splits; a single mega-key
    # stays one unit by design, key-hash salts preserve key locality).
    # Keys are picked by computing their bucket up front.
    schema = StructType.fromDDL(
        "event_id bigint, op_ts timestamp, repo string, path string, "
        "content string")
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "skewed"), schema,
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=4, props={"compact_threshold": "999"},
    )
    import datetime as dt
    import hashlib
    t0 = dt.datetime(2024, 1, 1)

    key_rows = (
        spark.range(0, 20_000)
        .select(F.lit("r").alias("repo"),
                F.concat(F.lit("p"), F.col("id")).alias("path"))
        .withColumn("b", _bucket_of(["repo", "path"], 4))
        .collect()
    )
    by_bucket: dict = {0: [], 1: [], 2: [], 3: []}
    for r in key_rows:
        by_bucket[r["b"]].append(r["path"])
    hot_bucket = max(by_bucket, key=lambda b: len(by_bucket[b]))
    hot = by_bucket[hot_bucket][:3000]
    cold = [p for b, ps in by_bucket.items() if b != hot_bucket
            for p in ps[:100]]

    from pyspark.sql.types import StringType, StructField

    batch_schema = StructType(
        list(schema.fields) + [StructField("op", StringType(), False)])

    # per-row md5 chains: snappy can't compress the skew away (stored
    # BYTES are the salting signal)
    def blob(s):
        return "".join(
            hashlib.md5(f"{s}:{j}".encode()).hexdigest() for j in range(12))

    m0 = [(i, t0, "r", p, blob(p), "I") for i, p in enumerate(hot)] + \
         [(10_000 + i, t0, "r", p, "x" * 8, "I") for i, p in enumerate(cold)]
    t.merge(spark.createDataFrame(m0, batch_schema), "m0")
    snap = t.current_snapshot()

    # merge 1: salted spread should split ONLY the hot bucket
    m1 = [(20_000 + i, t0 + dt.timedelta(minutes=1), "r", p,
           "Z" + blob(p)[1:], "U") for i, p in enumerate(hot)]
    t.merge(spark.createDataFrame(m1, batch_schema), "m1")
    snap2 = t.current_snapshot()
    added = {b: [f for f in snap2.buckets.get(b, [])
                 if f not in set(snap.buckets.get(b, []))]
             for b in snap2.buckets}
    assert len(added.get(hot_bucket, [])) > 1          # hot bucket split
    for b, fl in added.items():
        if b != hot_bucket and fl:
            assert len(fl) == 1                        # cold buckets intact
    # state parity: latest version wins everywhere
    got = {r["path"]: r["content"][:1]
           for r in t.read().filter(F.col("path").isin(hot[:50])).collect()}
    assert got == {p: "Z" for p in hot[:50]}
