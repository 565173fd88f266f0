"""Physical-plan pins for the four bucket rewrites (compaction with and
without tombstone expiry, rebucket, a rescale step, a widening rewrite),
on a row table and a patch table.

Each rewrite hands one DataFrame to ``LakeTable._write_buckets``; the test
wraps that method and records, for every rewrite, the Exchange and
aggregate node counts of the frame's executed plan, the spread's task
count and whether a sort order was passed. A refactor of the rewrite code
must keep all of them: the same LWW fold (aggregates), no added shuffle
(Exchanges), the same collision-free bucket spread and the same sort."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql.types import DoubleType, StructType

from etl_spark.lake import LakeTable

SCHEMA = "id bigint, ts bigint, seq bigint, a string, b bigint"
BATCH = SCHEMA + ", op string"

_EXCHANGE = re.compile(r"\bExchange\b")
_AGG = re.compile(r"\b(?:HashAggregate|SortAggregate|ObjectHashAggregate)\b")


def _profile(merged, spread, sort_cols):
    plan = merged._jdf.queryExecution().executedPlan().toString()
    return (len(_EXCHANGE.findall(plan)), len(_AGG.findall(plan)),
            spread[0] if spread is not None else None, bool(sort_cols))


@pytest.fixture()
def recorded(monkeypatch):
    """Profiles of every ``_write_buckets`` call made while armed."""
    seen: list = []
    orig = LakeTable._write_buckets

    def wrapped(self, merged, version, stats_cols=(), tag="",
                sort_cols=None, spread=None):
        seen.append(_profile(merged, spread, sort_cols))
        return orig(self, merged, version, stats_cols, tag=tag,
                    sort_cols=sort_cols, spread=spread)

    monkeypatch.setattr(LakeTable, "_write_buckets", wrapped)
    return seen


def _load(spark, t, start):
    """Three merges with an update and a delete per round, so every
    bucket holds several delta generations and at least one tombstone."""
    for r in range(3):
        rows = [(i, start + 10 * r + 1, r * 100 + i, f"v{r}", i, "I")
                for i in range(12)]
        rows.append((r, start + 10 * r + 2, r * 100 + 50, None, None, "D"))
        t.merge(spark.createDataFrame(rows, BATCH), f"m:{start + r}")


def _rewrites(spark, tmp_root, recorded, props):
    t = LakeTable.create(
        spark, os.path.join(tmp_root, "t"), StructType.fromDDL(SCHEMA),
        key_cols=["id"], version_cols=["ts", "seq"], n_buckets=2,
        props={"compact_threshold": "999", **props})
    out = {}

    def run(name, fn):
        recorded.clear()
        fn()
        assert len(recorded) == 1, (name, recorded)
        out[name] = recorded[0]

    _load(spark, t, 0)
    run("compact", lambda: t.compact())
    _load(spark, t, 100)
    run("compact_expire", lambda: t.compact(expire_tombstones_before=115))
    run("rebucket", lambda: t.rebucket(4))
    t.start_rescale(8)
    run("rescale_step", lambda: t.rescale_step(max_buckets=99))
    run("widen", lambda: t.alter_column_type("b", DoubleType(),
                                             rewrite=True))
    live = {r["id"] for r in t.read().collect()}
    assert live == set(range(12)) - {2}  # id 2: the last round's delete
    return out


def test_row_table_rewrite_plans(spark, tmp_root, recorded):
    got = _rewrites(spark, tmp_root, recorded, {})
    assert got == {
        "compact": (1, 2, 2, True),
        "compact_expire": (1, 2, 2, True),
        "rebucket": (1, 2, 4, True),
        "rescale_step": (1, 2, 8, True),
        "widen": (1, 2, 8, True),
    }


def test_patch_table_rewrite_plans(spark, tmp_root, recorded):
    got = _rewrites(spark, tmp_root, recorded,
                    {"update_semantics": "patch"})
    assert got == {
        "compact": (1, 4, 2, True),
        "compact_expire": (1, 4, 2, True),
        "rebucket": (1, 4, 4, True),
        "rescale_step": (1, 4, 8, True),
        "widen": (1, 4, 8, True),
    }
