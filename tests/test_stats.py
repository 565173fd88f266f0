"""Zone-map data skipping (lake/stats.py + LakeTable.read(where=...)).

The correctness stakes: under merge-on-read, pruning a FILE can change
which row wins a key's LWW — these tests pin the soundness rules
(key cols any-op, version cols upward-closed only, everything for
compacted unique files) against hand-built counterexamples.
Reference analogue: slice-scoped re-reads, scripts/geral.py:61-65."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql.types import StructType

from etl_spark.lake import LakeTable
from etl_spark.lake.stats import (
    decode_bound,
    encode_bound,
    file_matches,
    prunable_predicates,
    validate_predicates,
)

SCHEMA = "event_id bigint, op_ts timestamp, repo string, path string, content string"
T0 = dt.datetime(2024, 1, 1)


def _mk(spark, root, name, n_buckets=4, props=None):
    base = {"stats_cols": "op_ts,repo", "compact_threshold": "100"}
    base.update(props or {})
    return LakeTable.create(
        spark, os.path.join(root, name), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=n_buckets, props=base,
    )


def _merge(spark, t, key, rows):
    t.merge(spark.createDataFrame(rows, SCHEMA + ", op string"), key)


def _waves(spark, t, n_waves=3, per=20):
    """n_waves merges with DISJOINT op_ts ranges (10 days apart)."""
    for w in range(n_waves):
        _merge(spark, t, f"e:{w}", [
            (w * 100 + i, T0 + dt.timedelta(days=w * 10 + i % 5),
             f"r{i % 3}", f"p{w}_{i}", f"c{w}_{i}", "I")
            for i in range(per)
        ])


# ------------------------------------------------------------ pure units

def test_bound_roundtrip_and_unsupported_kinds():
    for v in (7, 1.5, "abc", T0, dt.date(2024, 3, 1)):
        assert decode_bound(encode_bound(v)) == v
    # tz-aware folds to naive UTC
    aware = T0.replace(tzinfo=dt.timezone.utc)
    assert decode_bound(encode_bound(aware)) == T0
    # bools and undecodable bytes yield no bound (=> never prune)
    assert encode_bound(True) is None
    assert encode_bound(b"\xff\xfe") is None
    assert encode_bound(b"utf8 ok") is not None


def test_file_matches_ops():
    st = {"op_ts": [encode_bound(T0), encode_bound(T0 + dt.timedelta(days=4))]}
    m = lambda *p: file_matches(st, [p])
    assert not m("op_ts", ">=", T0 + dt.timedelta(days=5))
    assert m("op_ts", ">=", T0 + dt.timedelta(days=4))
    assert not m("op_ts", ">", T0 + dt.timedelta(days=4))
    assert not m("op_ts", "<=", T0 - dt.timedelta(seconds=1))
    assert not m("op_ts", "<", T0)
    assert m("op_ts", "=", T0 + dt.timedelta(days=2))
    assert not m("op_ts", "=", T0 + dt.timedelta(days=9))
    assert m("op_ts", "in", [T0 + dt.timedelta(days=9), T0])
    assert not m("op_ts", "in", [T0 + dt.timedelta(days=9)])
    assert not file_matches(st, [("op_ts", "between",
                                  T0 + dt.timedelta(days=5),
                                  T0 + dt.timedelta(days=9))])
    # unknown column / missing stats / incomparable value => may match
    assert m("repo", "=", "rX")
    assert file_matches(None, [("op_ts", ">=", T0)])
    assert m("op_ts", ">=", "not-a-timestamp")


def test_prunable_predicate_soundness_classes():
    preds = [("repo", "=", "r"), ("path", "in", ["a"]),
             ("op_ts", ">=", T0), ("op_ts", "<=", T0),
             ("content", "=", "x")]
    # compacted unique file: everything prunes
    assert prunable_predicates(preds, ["repo", "path"], ["op_ts"], True) == preds
    # merge-on-read file: key cols any-op, version cols upward-closed only
    assert prunable_predicates(preds, ["repo", "path"], ["op_ts"], False) == [
        ("repo", "=", "r"), ("path", "in", ["a"]), ("op_ts", ">=", T0),
    ]


def test_validate_predicates_rejects_garbage():
    cols = ["repo", "op_ts"]
    validate_predicates([("repo", "=", "r")], cols)
    with pytest.raises(ValueError, match="not in table schema"):
        validate_predicates([("nope", "=", 1)], cols)
    with pytest.raises(ValueError, match="unsupported predicate op"):
        validate_predicates([("repo", "~", "r")], cols)
    with pytest.raises(ValueError, match="between"):
        validate_predicates([("op_ts", "between", T0)], cols)
    with pytest.raises(ValueError, match="iterable"):
        validate_predicates([("repo", "in", "r")], cols)
    with pytest.raises(ValueError, match="malformed"):
        validate_predicates([("repo", "=")], cols)


# --------------------------------------------------------- end to end

def test_upward_time_scan_prunes_and_matches_filter(spark, tmp_root):
    t = _mk(spark, tmp_root, "t")
    _waves(spark, t)
    cut = T0 + dt.timedelta(days=20)
    where = [("op_ts", ">=", cut)]
    plan = t.scan_counts(where=where)
    assert plan["files_total"] == 12 and plan["files_pruned"] == 8, plan
    got = sorted((r["repo"], r["path"], r["content"])
                 for r in t.read(where=where).collect())
    want = sorted((r["repo"], r["path"], r["content"])
                  for r in t.read().filter(f"op_ts >= '{cut}'").collect())
    assert got == want and len(got) == 20


def test_mor_pruning_never_resurrects_a_stale_version(spark, tmp_root):
    """THE soundness counterexample: key updated day0 -> day30. A
    downward predicate (op_ts <= day1) matches only the STALE row; if
    pruning dropped the day-30 file pre-LWW, the stale row would wrongly
    win and surface. It must not — and the upward predicate must still
    prune the day-0 file."""
    t = _mk(spark, tmp_root, "t2", n_buckets=1)
    _merge(spark, t, "e:0", [(1, T0, "r", "a", "old", "I")])
    _merge(spark, t, "e:1",
           [(2, T0 + dt.timedelta(days=30), "r", "a", "new", "U")])
    assert t.read(where=[("op_ts", "<=", T0 + dt.timedelta(days=1))]) \
        .collect() == []
    down = t.scan_counts(where=[("op_ts", "<=", T0 + dt.timedelta(days=1))])
    assert down["files_pruned"] == 0  # downward never prunes under MoR
    up = [("op_ts", ">=", T0 + dt.timedelta(days=29))]
    assert up and t.scan_counts(where=up)["files_pruned"] == 1
    rows = t.read(where=up).collect()
    assert [r["content"] for r in rows] == ["new"]


def test_key_predicates_prune_any_op_and_deletes_stay_dead(spark, tmp_root):
    t = _mk(spark, tmp_root, "t3", n_buckets=2,
            props={"stats_cols": "op_ts,repo,path"})
    _merge(spark, t, "e:0", [(1, T0, "r", "aaa", "x", "I"),
                             (2, T0, "r", "zzz", "y", "I")])
    _merge(spark, t, "e:1",
           [(3, T0 + dt.timedelta(days=1), "r", "zzz", None, "D")])
    got = t.read(where=[("path", "<=", "mmm")]).collect()
    assert [(r["path"], r["content"]) for r in got] == [("aaa", "x")]
    # the tombstoned key never surfaces through a pruned read either
    assert t.read(where=[("path", "=", "zzz")]).collect() == []


def test_dormant_without_stats_cols_and_unknown_files_kept(spark, tmp_root):
    t = _mk(spark, tmp_root, "t4", props={"stats_cols": ""})
    _waves(spark, t, n_waves=2)
    assert t.current_snapshot().file_stats == {}
    where = [("op_ts", ">=", T0 + dt.timedelta(days=10))]
    plan = t.scan_counts(where=where)
    assert plan["files_pruned"] == 0  # no stats => every file read
    got = t.read(where=where).count()
    want = t.read().filter(f"op_ts >= '{T0 + dt.timedelta(days=10)}'").count()
    assert got == want


def test_stats_follow_compaction_rebucket_and_rollback(spark, tmp_root):
    t = _mk(spark, tmp_root, "t5", props={"stats_cols": "op_ts"})
    _waves(spark, t)
    v_before = t.current_version()
    t.compact()
    snap = t.current_snapshot()
    files = {f for fl in snap.buckets.values() for f in fl}
    assert set(snap.file_stats) == files  # refreshed, bounded to referenced
    cut = T0 + dt.timedelta(days=20)
    # post-compaction a bucket is unique => ANY predicate prunes; each
    # compacted file spans all waves though, so the time cut keeps them —
    # check bounded metadata + equality instead, then rebucket
    got = t.read(where=[("op_ts", ">=", cut)]).count()
    t.rebucket(2)
    snap2 = t.current_snapshot()
    assert set(snap2.file_stats) == {
        f for fl in snap2.buckets.values() for f in fl
    }
    assert t.read(where=[("op_ts", ">=", cut)]).count() == got
    t.rollback(v_before)
    snap3 = t.current_snapshot()
    assert set(snap3.file_stats) == {
        f for fl in snap3.buckets.values() for f in fl
    }
    assert t.read(where=[("op_ts", ">=", cut)]).count() == got
    assert t.scan_counts(where=[("op_ts", ">=", cut)])["files_pruned"] == 8


def test_evolved_column_predicate_over_old_files(spark, tmp_root):
    """Old-vintage files lack an added column entirely: they carry no
    stats for it, so they are never pruned, and the residual filter sees
    their rows as NULL (which no predicate matches)."""
    t = _mk(spark, tmp_root, "t6", n_buckets=1,
            props={"stats_cols": "op_ts,stars"})
    _merge(spark, t, "e:0", [(1, T0, "r", "a", "x", "I")])
    evolved = spark.createDataFrame(
        [(2, T0 + dt.timedelta(days=1), "r", "b", "y", 5, "I")],
        SCHEMA + ", stars bigint, op string")
    t.merge(evolved, "e:1")
    got = t.read(where=[("stars", ">=", 3)]).collect()
    assert [(r["path"], r["stars"]) for r in got] == [("b", 5)]
    plan = t.scan_counts(where=[("stars", ">=", 3)])
    assert plan["files_read"] == 2  # old file kept: no stats for 'stars'


def test_alter_props_and_backfill_stats(spark, tmp_root):
    """Migration path: a table created WITHOUT stats_cols gains zone maps
    via alter_props + backfill_stats, with no data rewrite."""
    t = _mk(spark, tmp_root, "t7", props={"stats_cols": ""})
    _waves(spark, t)
    assert t.current_snapshot().file_stats == {}
    files_before = {
        f for fl in t.current_snapshot().buckets.values() for f in fl
    }
    t.alter_props({"stats_cols": "op_ts"})
    assert t.backfill_stats() == len(files_before)
    snap = t.current_snapshot()
    assert set(snap.file_stats) == files_before  # metadata-only: same files
    cut = T0 + dt.timedelta(days=20)
    plan = t.scan_counts(where=[("op_ts", ">=", cut)])
    assert plan["files_pruned"] == 8, plan
    assert t.read(where=[("op_ts", ">=", cut)]).count() == 20
    # unset a prop; idempotent backfill is a no-op
    t.alter_props({"compact_threshold": None})
    assert "compact_threshold" not in t.current_snapshot().props
    assert t.backfill_stats() == 0


def test_alter_props_preserves_ledger_and_feed(spark, tmp_root):
    t = _mk(spark, tmp_root, "t8")
    _merge(spark, t, "e:0", [(1, T0, "r", "a", "x", "I")])
    v0 = t.current_version()
    t.alter_props({"manifest_window": "64"})
    snap = t.current_snapshot()
    assert snap.has_applied("e:0") and snap.props["manifest_window"] == "64"
    # maintenance commit: not in the ledger, adds nothing to the feed
    assert snap.applied_count == 1
    assert t.changes(v0).count() == 0


def test_lookup_prunes_files_via_key_zone_maps(spark, tmp_root):
    """After key-sorted compaction + per-key stats, a point lookup reads
    only files whose key bounds can hold the key."""
    t = _mk(spark, tmp_root, "t9", n_buckets=1,
            props={"stats_cols": "path", "compact_threshold": "100"})
    # two waves with disjoint path ranges in the SAME bucket
    _merge(spark, t, "e:0", [(i, T0, "r", f"a{i:03d}", f"x{i}", "I")
                             for i in range(10)])
    _merge(spark, t, "e:1", [(100 + i, T0, "r", f"z{i:03d}", f"y{i}", "I")
                             for i in range(10)])
    got = t.lookup([("r", "a003")]).collect()
    assert [(r["path"], r["content"]) for r in got] == [("a003", "x3")]
    plan = t.scan_counts(where=[("path", "in", ["a003"])])
    assert plan == {"files_total": 2, "files_read": 1, "files_pruned": 1}


def test_driver_footer_pass_folds_exact_bounds(tmp_root):
    """The driver footer pass folds each column's exact [min, max] over
    every row group for int, long, string, date, timestamp and decimal
    columns; an all-NULL column gets no bound, and an unreadable footer
    becomes a ``harvest.footer`` record instead of an error."""
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_spark.lake.stats import _footer_stats, read_footers

    n = 1000
    data = pa.table({
        "i": pa.array([(i * 7919) % 1000 - 500 for i in range(n)], pa.int32()),
        "l": pa.array([(i * 104729) % 10**12 for i in range(n)], pa.int64()),
        "s": pa.array([f"k{(i * 31) % 997:04d}" for i in range(n)]),
        "d": pa.array([dt.date(2024, 1, 1) + dt.timedelta(days=(i * 13) % 400)
                       for i in range(n)]),
        "ts": pa.array([T0 + dt.timedelta(seconds=(i * 37) % 86400)
                        for i in range(n)], pa.timestamp("us")),
        "dec": pa.array([Decimal(f"{(i * 17) % 1000}.25") for i in range(n)],
                        pa.decimal128(9, 2)),
        "nul": pa.array([None] * n, pa.int64()),
    })
    good = os.path.join(tmp_root, "good.parquet")
    pq.write_table(data, good, row_group_size=128)
    assert pq.read_metadata(good).num_row_groups == 8
    with open(os.path.join(tmp_root, "bad.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")

    cols = data.column_names
    rows, bounds, degraded = read_footers(
        tmp_root, ["good.parquet", "bad.parquet"], cols)
    assert rows == {"good.parquet": n}
    assert list(bounds) == ["good.parquet"]
    got = {c: [decode_bound(b) for b in v]
           for c, v in bounds["good.parquet"].items()}
    assert set(got) == set(cols) - {"nul"}
    for c in got:
        vals = data.column(c).to_pylist()
        want = [min(vals), max(vals)]
        assert got[c] == ([float(v) for v in want] if c == "dec" else want), c
    # the same fold a per-file read of the path gives
    assert bounds["good.parquet"] == _footer_stats(good, cols)
    assert [d["phase"] for d in degraded] == ["harvest.footer"]
    assert degraded[0]["error"].startswith("bad.parquet: ")


def test_stats_only_merge_harvests_without_a_spark_job(
        spark, tmp_root, monkeypatch):
    """Zone maps come from the write's own footer pass: harvesting a
    ``stats_cols``-only table starts zero Spark jobs (a bloom table,
    whose harvest is a data pass, shows the probe does see jobs)."""
    sc = spark.sparkContext
    real = LakeTable._harvest_stats
    jobs: list[int] = []

    def probed(self, snap, written):
        group = f"harvest-probe-{len(jobs)}-{id(written)}"
        sc.setJobGroup(group, "harvest probe")
        try:
            return real(self, snap, written)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            jobs.extend(sc.statusTracker().getJobIdsForGroup(group))

    monkeypatch.setattr(LakeTable, "_harvest_stats", probed)
    t = _mk(spark, tmp_root, "nojob")
    _waves(spark, t, n_waves=2)
    assert jobs == []
    snap = t.current_snapshot()
    files = [f for fl in snap.buckets.values() for f in fl]
    assert files and all("op_ts" in snap.file_stats[f] for f in files)

    b = _mk(spark, tmp_root, "bloomjob", props={"bloom_cols": "path"})
    _waves(spark, b, n_waves=1)
    assert jobs
