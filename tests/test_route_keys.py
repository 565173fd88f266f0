"""Driver-side key routing (``lake/table.py::_route_keys``) and zero-job
read planning.

``_route_keys`` is the pure-Python twin of ``_route_of``: XXH64 with
Spark's column chaining, ``pmod`` and the mid-rescale watermark CASE. It
must name the bucket Spark computes for every covered key type, and
decline (None = no bucket pruning) for anything else. With it, and with
``get_spark``'s raised file-listing threshold, building a ``lookup``,
``read``, ``changes`` or ``scan_counts`` plan starts no Spark job."""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import random

import pytest
from pyspark.sql.types import StructType

from etl_spark.lake import LakeTable
from etl_spark.lake.table import _route_keys, _route_of
from test_file_records import _probe

ALPHABET = "aZ09 /_-éßЖ漢字😀"
BIG_PRIME = 2_147_483_647  # a modulus this wide pins the hash itself


def _table(spark, root, name, ddl, key_cols, n_buckets=8):
    return LakeTable.create(
        spark, os.path.join(root, name),
        StructType.fromDDL(f"{ddl}, op_ts long, event_id long"),
        key_cols=key_cols, version_cols=["op_ts", "event_id"],
        n_buckets=n_buckets)


def _spark_buckets(spark, snap, rows):
    by_name = {f.name: f for f in snap.schema.fields}
    df = spark.createDataFrame(
        rows, StructType([by_name[c] for c in snap.key_cols]))
    return [r[0] for r in df.select(_route_of(snap)).collect()]


def _assert_parity(spark, snap, rows):
    want = _spark_buckets(spark, snap, rows)
    got = [_route_keys(snap, [r]) for r in rows]
    bad = [(r, g, w) for r, g, w in zip(rows, got, want) if g != [w]]
    assert not bad, bad[:5]
    assert _route_keys(snap, rows) == sorted(set(want))


def _rows(seed, n=600):
    rnd = random.Random(seed)

    def maybe(v):
        return None if rnd.random() < 0.1 else v

    out = []
    for i in range(n):
        length = i % 101  # every length 0-100: the >= 32-byte stripes run
        s = "".join(rnd.choice(ALPHABET) for _ in range(length))
        out.append((
            maybe(s),
            maybe(rnd.choice([-2**31, 2**31 - 1, 0, -1, rnd.getrandbits(31)])),
            maybe(rnd.choice([-2**63, 2**63 - 1, 0, -1,
                              rnd.getrandbits(64) - 2**63])),
            maybe(dt.date(1970, 1, 1)
                  + dt.timedelta(days=rnd.randint(-700_000, 2_900_000))),
            maybe(rnd.randint(-128, 127)),
            maybe(rnd.randint(-2**15, 2**15 - 1)),
        ))
    return out


@pytest.mark.parametrize("ddl,cols", [
    ("k string", [0]),
    ("k int", [1]),
    ("k bigint", [2]),
    ("k date", [3]),
    ("k tinyint", [4]),
    ("k smallint", [5]),
    ("a string, b bigint", [0, 2]),
    ("a string, b int, c bigint, d date", [0, 1, 2, 3]),
])
def test_route_keys_matches_spark(spark, tmp_root, ddl, cols):
    names = [f.split()[0] for f in ddl.split(", ")]
    t = _table(spark, tmp_root, "p", ddl, names)
    rows = [tuple(r[c] for c in cols) for r in _rows(len(ddl))]
    rows.append(tuple(None for _ in cols))  # every column NULL: seed 42
    snap = t.current_snapshot()
    _assert_parity(spark, snap, rows)
    _assert_parity(spark, dataclasses.replace(snap, n_buckets=BIG_PRIME), rows)


def test_route_keys_follows_the_rescale_watermark(spark, tmp_root):
    ddl = "repo string, path string, op_ts long, event_id long, body string"
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "mid"), StructType.fromDDL(ddl),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=4)
    rows = [(f"r{i % 7}", f"p{i}", 1, i, "b", "I") for i in range(200)]
    t.merge(spark.createDataFrame(rows, ddl + ", op string"), "m:0")
    t.start_rescale(8)
    t.rescale_step(max_buckets=1)
    snap = t.current_snapshot()
    assert snap.rescale_to == 8 and 0 < snap.rescale_watermark < 4
    keys = [(r[0], r[1]) for r in rows]
    want = _spark_buckets(spark, snap, keys)
    # both sides of the watermark: migrated (child ids) and unsplit
    assert any(b >= 4 for b in want) and any(
        snap.rescale_watermark <= b < 4 for b in want)
    _assert_parity(spark, snap, keys)


def test_route_keys_declines_what_it_cannot_hash_exactly(spark, tmp_root):
    dbl = _table(spark, tmp_root, "d", "k double", ["k"]).current_snapshot()
    big = _table(spark, tmp_root, "b", "k bigint", ["k"]).current_snapshot()
    i32 = _table(spark, tmp_root, "i", "k int", ["k"]).current_snapshot()
    day = _table(spark, tmp_root, "t", "k date", ["k"]).current_snapshot()
    assert _route_keys(dbl, [(1.5,)]) is None
    assert _route_keys(big, [("42",)]) is None
    assert _route_keys(big, [(True,)]) is None
    assert _route_keys(big, [(2**63,)]) is None
    assert _route_keys(i32, [(2**31,)]) is None
    assert _route_keys(day, [(dt.datetime(2024, 1, 1),)]) is None
    assert _route_keys(big, [(42,), ("42",)]) is None  # one spoils the set
    assert _route_keys(big, []) == []
    assert _route_keys(big, [(42,)]) == _route_keys(big, [(42,), (42,)])


def test_read_plans_start_no_spark_job(spark, tmp_root, monkeypatch):
    """Building a lookup, a full read, a change feed and a full-key
    ``scan_counts`` over more than 32 files starts 0 jobs: no bucket-hash
    job, no parallel file-listing job."""
    ddl = "repo string, path string, op_ts long, event_id long, body string"
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "plan"), StructType.fromDDL(ddl),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"],
        n_buckets=48, props={"compact_threshold": "100"})
    for w in range(2):
        rows = [(f"r{i % 7}", f"p{i}", 10 + w, i, f"b{w}-{i}", "I")
                for i in range(480)]
        t.merge(spark.createDataFrame(rows, ddl + ", op string"), f"m:{w}")
    v = t.current_version()
    snap = t.current_snapshot()
    assert len(snap.added) > 32  # Spark's listing threshold is 32 paths
    keys = [(f"r{i % 7}", f"p{i}") for i in range(8)]
    where = [("repo", "=", "r3"), ("path", "=", "p3")]
    with _probe(spark, monkeypatch, t) as got:
        looked = t.lookup(keys)
        full = t.read()
        feed = t.changes(v - 1, v)
        counts = t.scan_counts(where=where)
    assert got["jobs"] == [], got
    assert counts["files_read"] <= 2 < counts["files_total"]
    assert sorted((r["repo"], r["path"], r["body"]) for r in looked.collect()) \
        == sorted((k[0], k[1], f"b1-{k[1][1:]}") for k in keys)
    assert full.count() == 480 and feed.count() == 480
