"""Per-file Bloom filters (lake/bloom.py): engine-portable membership,
sound MoR-gated file skipping, tombstone safety, backfill migration.

Reference analogue: the memoized per-value point SELECTs of
/root/reference/src/impulsoetl/comum/geografias.py:78-97 — at lake scale
the point-read index must live in file metadata."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql.types import StructType

from etl_spark.lake import LakeTable
from etl_spark.lake.bloom import (
    BLOOM_SUFFIX,
    bloom_may_contain,
    canonical_probe,
)

SCHEMA = ("event_id bigint, op_ts timestamp, repo string, path string, "
          "commit string, content string")
T0 = dt.datetime(2024, 1, 1)


def _mk(spark, root, name, props=None, n_buckets=2):
    base = {"bloom_cols": "path,commit", "bloom_bits": "8192"}
    base.update(props or {})
    return LakeTable.create(
        spark, os.path.join(root, name), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=n_buckets, props=base,
    )


def _merge(spark, t, key, rows):
    t.merge(spark.createDataFrame(rows, SCHEMA + ", op string"), key)


def _rows(n0, n, commit):
    return [
        (n0 + i, T0 + dt.timedelta(seconds=n0 + i), "r", f"p{n0 + i}",
         commit, f"body-{n0 + i}", "I")
        for i in range(n)
    ]


def test_merge_harvests_blooms_no_false_negatives(spark, tmp_root):
    t = _mk(spark, tmp_root, "t")
    _merge(spark, t, "e:0", _rows(0, 300, "c-alpha"))
    snap = t.current_snapshot()
    files = [f for fl in snap.buckets.values() for f in fl]
    assert files
    for f in files:
        entry = snap.file_stats.get(f, {})
        assert "path" + BLOOM_SUFFIX in entry
        assert "commit" + BLOOM_SUFFIX in entry
    # no false negatives: every stored value answers "may contain" in the
    # file that holds it (JVM-built bitmap probed with the Python hash —
    # this IS the cross-engine parity gate)
    got = t.read(with_meta=False).collect()
    by_file = {}
    for f in files:
        df = spark.read.parquet(os.path.join(t.path, f))
        by_file[f] = [r["path"] for r in df.select("path").collect()]
    assert sorted(p for ps in by_file.values() for p in ps) == \
        sorted(r["path"] for r in got)
    for f, paths in by_file.items():
        bl = snap.file_stats[f]["path" + BLOOM_SUFFIX]
        for p in paths:
            assert bloom_may_contain(bl, p)


def test_bloom_refutes_most_absent_values(spark, tmp_root):
    t = _mk(spark, tmp_root, "t")
    _merge(spark, t, "e:0", _rows(0, 500, "c-alpha"))
    snap = t.current_snapshot()
    entries = [
        snap.file_stats[f]["path" + BLOOM_SUFFIX]
        for fl in snap.buckets.values() for f in fl
    ]
    absent = [f"nope-{i}" for i in range(200)]
    false_pos = sum(
        1 for v in absent for e in entries if bloom_may_contain(e, v)
    )
    # 8192-bit bloom over ≤500 values/file: fpp well under 5%
    assert false_pos <= 0.05 * len(absent) * len(entries)


def test_point_read_prunes_files_zone_maps_cannot(spark, tmp_root):
    """Key-scattered MoR bucket: per-file [min,max] on `path` overlap
    almost fully across epoch files, so zone maps keep everything; the
    bloom skips every file that does not hold the probed key. Sound under
    MoR (key-column equality is prunable pre-LWW)."""
    t = _mk(spark, tmp_root, "t", props={"compact_threshold": "100"},
            n_buckets=1)
    for e in range(6):
        _merge(spark, t, f"e:{e}", _rows(1000 * e, 50, f"c-{e}"))
    snap = t.current_snapshot()
    n_files = sum(len(fl) for fl in snap.buckets.values())
    assert n_files >= 6  # un-compacted deltas
    counts = t.scan_counts(where=[("path", "=", "p2003")])
    assert counts["files_total"] == n_files
    assert counts["files_pruned"] >= n_files - 2  # ≥ all-but-fpp skipped
    rows = t.read(where=[("path", "=", "p2003")]).collect()
    assert [r["event_id"] for r in rows] == [2003]
    # in-list probe across epochs: keeps only the probed files
    counts = t.scan_counts(where=[("path", "in", ["p3", "p4007"])])
    assert counts["files_read"] <= 2 + 1
    got = {r["path"] for r in
           t.read(where=[("path", "in", ["p3", "p4007"])]).collect()}
    assert got == {"p3", "p4007"}


def test_payload_bloom_prunes_only_after_compaction(spark, tmp_root):
    """`commit` is a payload column: pruning on it pre-LWW could promote
    a stale row, so the MoR gate must ignore the bloom until the bucket
    is a compacted single file — then it must prune."""
    t = _mk(spark, tmp_root, "t", props={"compact_threshold": "100"},
            n_buckets=1)
    _merge(spark, t, "e:0", _rows(0, 40, "c-old"))
    # overwrite the same keys: same path, new commit — the LWW winners
    _merge(spark, t, "e:1",
           [(100 + i, T0 + dt.timedelta(hours=1, seconds=i), "r", f"p{i}",
             "c-new", f"v2-{i}", "U") for i in range(40)])
    mor = t.scan_counts(where=[("commit", "=", "c-old")])
    assert mor["files_pruned"] == 0  # gate: payload col not prunable on MoR
    assert t.read(where=[("commit", "=", "c-old")]).count() == 0
    t.compact()
    cc = t.scan_counts(where=[("commit", "=", "c-old")])
    # every compacted file holds only c-new winners => all pruned
    assert cc["files_pruned"] == cc["files_total"] > 0
    assert t.read(where=[("commit", "=", "c-old")]).count() == 0
    assert t.read(where=[("commit", "=", "c-new")]).count() == 40


def test_tombstone_file_survives_pruning_so_delete_wins(spark, tmp_root):
    t = _mk(spark, tmp_root, "t", props={"compact_threshold": "100"},
            n_buckets=1)
    _merge(spark, t, "e:0", _rows(0, 20, "c0"))
    _merge(spark, t, "e:1",
           [(500, T0 + dt.timedelta(hours=2), "r", "p7", None, None, "D")])
    # the probe must still read the tombstone's file: p7 is deleted
    assert t.read(where=[("path", "=", "p7")]).count() == 0
    assert t.read(where=[("path", "=", "p8")]).count() == 1
    # and lookup() (which routes the same where-path) agrees
    assert t.lookup([("r", "p7")]).count() == 0


def test_backfill_adds_blooms_to_preexisting_files(spark, tmp_root):
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "t"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=2,
    )
    _merge(spark, t, "e:0", _rows(0, 100, "c0"))
    snap = t.current_snapshot()
    assert all("path" + BLOOM_SUFFIX not in snap.file_stats.get(f, {})
               for fl in snap.buckets.values() for f in fl)
    t.alter_props({"bloom_cols": "path", "bloom_bits": "8192"})
    n = t.backfill_stats()
    assert n > 0
    snap = t.current_snapshot()
    for fl in snap.buckets.values():
        for f in fl:
            assert "path" + BLOOM_SUFFIX in snap.file_stats[f]
    assert t.backfill_stats() == 0  # idempotent
    counts = t.scan_counts(where=[("path", "=", "p3")])
    assert counts["files_pruned"] >= counts["files_total"] - 1


def test_backfill_preserves_zone_maps_when_adding_blooms(spark, tmp_root):
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "t"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=2, props={"stats_cols": "event_id"},
    )
    _merge(spark, t, "e:0", _rows(0, 100, "c0"))
    snap = t.current_snapshot()
    f0 = next(f for fl in snap.buckets.values() for f in fl)
    assert "event_id" in snap.file_stats[f0]
    t.alter_props({"bloom_cols": "path", "bloom_bits": "8192"})
    assert t.backfill_stats() > 0
    snap = t.current_snapshot()
    assert "event_id" in snap.file_stats[f0]  # zone map kept
    assert "path" + BLOOM_SUFFIX in snap.file_stats[f0]  # bloom added


def test_create_rejects_unportable_bloom_types(spark, tmp_root):
    import pytest

    with pytest.raises(ValueError, match="op_ts"):
        LakeTable.create(
            spark, os.path.join(tmp_root, "bad"),
            StructType.fromDDL(SCHEMA),
            key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
            props={"bloom_cols": "op_ts"},  # timestamp: not portable
        )
    with pytest.raises(ValueError, match="not in table schema"):
        LakeTable.create(
            spark, os.path.join(tmp_root, "bad2"),
            StructType.fromDDL(SCHEMA),
            key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
            props={"bloom_cols": "nope"},
        )


def test_bloom_on_integral_key_and_date(spark, tmp_root):
    """Canonical-string parity beyond strings: bigint and date probes."""
    schema = StructType.fromDDL(
        "user_id bigint, ts timestamp, day date, v string")
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "t"), schema,
        key_cols=["user_id"], version_cols=["ts"], n_buckets=1,
        props={"bloom_cols": "user_id,day", "bloom_bits": "8192",
               "compact_threshold": "100"},
    )
    for e in range(4):
        rows = [(1000 * e + i, T0, dt.date(2024, 1, 1 + e), f"v{i}", "I")
                for i in range(30)]
        t.merge(spark.createDataFrame(
            rows, "user_id bigint, ts timestamp, day date, v string, "
                  "op string"), f"e:{e}")
    c = t.scan_counts(where=[("user_id", "=", 2003)])
    assert c["files_pruned"] >= c["files_total"] - 1
    assert t.read(where=[("user_id", "=", 2003)]).count() == 1
    c = t.scan_counts(where=[("day", "=", dt.date(2024, 1, 3))])
    # `day` is payload => MoR gate blocks it pre-compaction
    assert c["files_pruned"] == 0
    t.compact()
    c = t.scan_counts(where=[("day", "=", dt.date(2024, 1, 3))])
    assert c["files_pruned"] == 0  # single compacted file per bucket holds all days
    assert t.read(where=[("day", "=", dt.date(2024, 1, 3))]).count() == 30


def test_canonical_probe_rejects_unportable_values():
    assert canonical_probe("x") == "x"
    assert canonical_probe(12) == "12"
    assert canonical_probe(dt.date(2024, 1, 2)) == "2024-01-02"
    assert canonical_probe(None) is None
    assert canonical_probe(True) is None        # bool-is-int trap
    assert canonical_probe(1.5) is None         # float formatting
    assert canonical_probe(dt.datetime(2024, 1, 1)) is None  # 'T' vs ' '


# ------------------------------------------------- composite (tuple) blooms

def _pair_rows(e):
    """Epoch ``e`` holds pairs (r{i}, p{(i+e) % 10}): every epoch file
    contains ALL ten repos and ALL ten paths — only the PAIRING differs,
    so nothing short of a composite bloom can tell the files apart."""
    return [
        (100 * e + i, T0 + dt.timedelta(hours=e, seconds=i), f"r{i}",
         f"p{(i + e) % 10}", f"c{e}", f"b{e}-{i}", "I")
        for i in range(10)
    ]


def test_composite_bloom_refutes_pairs_components_cannot(spark, tmp_root):
    t = _mk(spark, tmp_root, "t",
            props={"bloom_cols": "repo|path", "compact_threshold": "100"},
            n_buckets=1)
    for e in range(4):
        _merge(spark, t, f"e:{e}", _pair_rows(e))
    snap = t.current_snapshot()
    n_files = sum(len(fl) for fl in snap.buckets.values())
    assert n_files == 4
    for fl in snap.buckets.values():
        for f in fl:
            assert "repo|path" + BLOOM_SUFFIX in snap.file_stats[f]
    # per-column predicates: every file holds r0 AND p3 -> nothing pruned
    c = t.scan_counts(where=[("repo", "=", "r0"), ("path", "=", "p3")])
    assert c["files_pruned"] == 0
    # the pair (r0, p3) exists only in epoch 3's file
    c = t.scan_counts(where=[(("repo", "path"), "=", ("r0", "p3"))])
    assert c["files_pruned"] >= n_files - 2
    rows = t.read(where=[(("repo", "path"), "=", ("r0", "p3"))]).collect()
    assert [(r["repo"], r["path"]) for r in rows] == [("r0", "p3")]
    # tuple-IN over two pairs (epochs 3 and 1): reads only their files
    pairs = [("r0", "p3"), ("r5", "p6")]
    c = t.scan_counts(where=[(("repo", "path"), "in", pairs)])
    assert c["files_read"] <= 3
    got = {(r["repo"], r["path"]) for r in
           t.read(where=[(("repo", "path"), "in", pairs)]).collect()}
    assert got == set(pairs)


def test_lookup_probes_composite_bloom_and_respects_tombstones(
        spark, tmp_root):
    """lookup() on a multi-column key emits the tuple predicate when the
    table carries a key-covering composite bloom; a later tombstone's
    file holds the pair in its bloom, so the delete still wins LWW."""
    t = _mk(spark, tmp_root, "t",
            props={"bloom_cols": "repo|path", "compact_threshold": "100"},
            n_buckets=1)
    for e in range(4):
        _merge(spark, t, f"e:{e}", _pair_rows(e))
    got = {(r["repo"], r["path"]) for r in
           t.lookup([("r0", "p3"), ("r5", "p6")]).collect()}
    assert got == {("r0", "p3"), ("r5", "p6")}
    _merge(spark, t, "e:del",
           [(999, T0 + dt.timedelta(days=1), "r0", "p3", None, None, "D")])
    assert t.lookup([("r0", "p3")]).count() == 0
    assert t.lookup([("r5", "p6")]).count() == 1


def test_tuple_predicate_mor_gating():
    from etl_spark.lake.stats import prunable_predicates

    p_key = (("repo", "path"), "in", [("r0", "p1")])
    p_mixed = (("repo", "commit"), "in", [("r0", "c1")])
    # MoR: only an all-key-column tuple may prune pre-LWW
    assert prunable_predicates(
        [p_key, p_mixed], ["repo", "path"], ["op_ts"], False) == [p_key]
    # compacted unique file: everything prunes
    assert prunable_predicates(
        [p_mixed], ["repo", "path"], ["op_ts"], True) == [p_mixed]


def test_canonical_tuple_parity():
    from etl_spark.lake.bloom import TUPLE_SEP, canonical_tuple

    assert canonical_tuple(("a", 7)) == "a" + TUPLE_SEP + "7"
    assert canonical_tuple(("a", dt.date(2024, 1, 2))) == \
        "a" + TUPLE_SEP + "2024-01-02"
    assert canonical_tuple(("a", None)) is None     # NULL: never prunes
    assert canonical_tuple(("a", 1.5)) is None      # unportable component


def test_auto_bits_sizes_by_row_count(spark, tmp_root):
    """bloom_bits='auto': bitmap size scales with each file's footer row
    count so big files don't saturate (fixed 64Kbit over 15.6k keys
    measured 23% fpp); every entry stores its own m, so mixed sizes
    probe exactly."""
    t = _mk(spark, tmp_root, "t",
            props={"bloom_cols": "path", "bloom_bits": "auto",
                   "compact_threshold": "100"},
            n_buckets=1)
    _merge(spark, t, "e:0", _rows(0, 40, "c0"))       # small epoch file
    _merge(spark, t, "e:1", _rows(1000, 2500, "c1"))  # big epoch file
    snap = t.current_snapshot()
    sizes = sorted(
        snap.file_stats[f]["path" + BLOOM_SUFFIX][1]
        for fl in snap.buckets.values() for f in fl
    )
    assert sizes[0] == 8192          # 40 rows -> floor
    assert sizes[-1] >= 25000        # 2500 rows x 10 bits/key, pow2-rounded
    c = t.scan_counts(where=[("path", "=", "p3")])
    assert c["files_pruned"] >= 1    # the big file refutes p3
    assert t.read(where=[("path", "=", "p3")]).count() == 1
    assert t.read(where=[("path", "=", "p2003")]).count() == 1


def test_sidecar_blooms_roundtrip_and_vacuum(spark, tmp_root):
    """bloom_inline_max_bytes=0 forces every bitmap into a sidecar file
    next to its data file (the snapshot stores '@<rel>' pointers, not
    payloads): probes prune identically through the lazy loader, and
    vacuum reclaims a sidecar exactly when the last snapshot whose
    file_stats references it expires."""
    t = _mk(spark, tmp_root, "t",
            props={"bloom_cols": "path", "bloom_inline_max_bytes": "0",
                   "compact_threshold": "100"},
            n_buckets=1)
    for e in range(4):
        _merge(spark, t, f"e:{e}", _rows(1000 * e, 50, f"c-{e}"))
    snap = t.current_snapshot()
    entries = [snap.file_stats[f]["path" + BLOOM_SUFFIX]
               for fl in snap.buckets.values() for f in fl]
    assert len(entries) >= 4
    assert all(e[0].startswith("@") for e in entries)
    for e in entries:
        assert os.path.exists(os.path.join(t.path, e[0][1:]))
    # pruning works through the lazy sidecar loader
    c = t.scan_counts(where=[("path", "=", "p2003")])
    assert c["files_pruned"] >= c["files_total"] - 2
    rows = t.read(where=[("path", "=", "p2003")]).collect()
    assert [r["event_id"] for r in rows] == [2003]
    # lifecycle: compaction rewrites the bucket; expiry + vacuum reclaim
    # the old delta files AND their sidecars together
    t.compact()
    t.expire_snapshots(keep_last=1)
    t.vacuum(older_than_sec=0)
    for e in entries:
        assert not os.path.exists(os.path.join(t.path, e[0][1:]))
    snap = t.current_snapshot()
    live = [snap.file_stats[f]["path" + BLOOM_SUFFIX]
            for fl in snap.buckets.values() for f in fl]
    assert live and all(
        e[0].startswith("@")
        and os.path.exists(os.path.join(t.path, e[0][1:])) for e in live)
    assert t.read(where=[("path", "=", "p2003")]).count() == 1


def test_auto_bits_clamps():
    from etl_spark.lake.bloom import auto_bits

    assert auto_bits(0) == 8192
    assert auto_bits(800) == 8192
    assert auto_bits(1000) == 16384
    assert auto_bits(10**9) == 8_388_608


def test_create_rejects_bad_composite_entries(spark, tmp_root):
    import pytest

    with pytest.raises(ValueError, match="op_ts"):
        LakeTable.create(
            spark, os.path.join(tmp_root, "badc"),
            StructType.fromDDL(SCHEMA),
            key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
            props={"bloom_cols": "repo|op_ts"},  # timestamp component
        )
    with pytest.raises(ValueError, match="empty component"):
        LakeTable.create(
            spark, os.path.join(tmp_root, "badc2"),
            StructType.fromDDL(SCHEMA),
            key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
            props={"bloom_cols": "repo|"},
        )


def test_nullable_bloom_column_keeps_exact_hashes(spark, tmp_root):
    """Regression: a NULL value anywhere in a bloom column used to flip
    the whole Arrow batch's hash-base column to float64 inside the build
    kernel, rounding bases above 2^53 and setting WRONG bit positions —
    the exact-integer probe side then answered False for values that ARE
    in the file (unsound pruning, silently missing rows). The build now
    ships NULLs as a -1 sentinel so the column stays exact int64."""
    t = _mk(spark, tmp_root, "tnull", n_buckets=1)
    rows = [
        (i, T0 + dt.timedelta(seconds=i), "r", f"p{i}",
         None if i % 3 == 0 else f"c{i}",  # NULLs interleaved w/ values
         f"body-{i}", "I")
        for i in range(400)
    ]
    _merge(spark, t, "e:0", rows)
    snap = t.current_snapshot()
    files = [f for fl in snap.buckets.values() for f in fl]
    assert files
    present = [f"c{i}" for i in range(400) if i % 3 != 0]
    for f in files:
        bl = snap.file_stats[f]["commit" + BLOOM_SUFFIX]
        # zero false negatives even with NULLs in the batch
        assert all(bloom_may_contain(bl, v) for v in present)
    # and the probe path still finds every row through lookup()
    got = t.read(where=[("commit", "=", "c1")]).collect()
    assert [r["commit"] for r in got] == ["c1"]


def test_backfill_adds_zone_maps_to_bloom_only_files(spark, tmp_root):
    """Regression: a file already carrying a bloom entry IS in file_stats,
    so the old entry-level 'missing' test skipped it when stats_cols was
    declared later — its zone maps were never backfilled. The check is
    column-level now."""
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "tbz"), StructType.fromDDL(SCHEMA),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=2, props={"bloom_cols": "path", "bloom_bits": "8192"},
    )
    _merge(spark, t, "e:0", _rows(0, 100, "c0"))
    snap = t.current_snapshot()
    f0 = next(f for fl in snap.buckets.values() for f in fl)
    assert "path" + BLOOM_SUFFIX in snap.file_stats[f0]
    assert "event_id" not in snap.file_stats[f0]
    t.alter_props({"stats_cols": "event_id"})     # zone maps come later
    assert t.backfill_stats() > 0
    snap = t.current_snapshot()
    for fl in snap.buckets.values():
        for f in fl:
            assert "event_id" in snap.file_stats[f]      # zone map gained
            assert "path" + BLOOM_SUFFIX in snap.file_stats[f]  # bloom kept
    assert t.backfill_stats() == 0  # idempotent


def test_failed_bloom_harvest_commits_and_is_recorded(
        spark, tmp_root, monkeypatch):
    """A bloom build that raises costs pruning, never the commit: the
    merge publishes, and its ledger row names the ``harvest.bloom``
    phase that degraded."""
    from etl_spark.lake import bloom
    from etl_spark.metrics import MetricsSink

    def boom(*a, **kw):
        raise RuntimeError("simulated bloom failure")

    monkeypatch.setattr(bloom, "build_file_blooms", boom)
    t = _mk(spark, tmp_root, "deg")
    st = t.merge(spark.createDataFrame(_rows(0, 50, "c"),
                                       SCHEMA + ", op string"), "e:0")
    assert st.applied and t.read().count() == 50
    assert not any(k.endswith(BLOOM_SUFFIX)
                   for e in t.current_snapshot().file_stats.values()
                   for k in e)
    sink = MetricsSink(os.path.join(tmp_root, "ledger"))
    sink.record(st)
    (row,) = sink.rows()
    assert [d["phase"] for d in row["degraded"]] == ["harvest.bloom"]
    assert "simulated bloom failure" in row["degraded"][0]["error"]
