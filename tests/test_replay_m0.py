"""M0 end-to-end: synth WAL → epoch replay → LakeTable == naive oracle.

Asserts the per-row invariant from BASELINE.json input_hint: sha256(content)
equality per (repo, path), plus full-row equality and idempotent re-apply.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
from pyspark.sql import functions as F

from etl_spark.cdc import replay_events, synth_events, write_event_epochs
from etl_spark.cdc.oracle import oracle_final_state
from etl_spark.metrics import MetricsSink

N_EVENTS = 5_000
N_EPOCHS = 5


def _engine_state(table) -> pd.DataFrame:
    return (
        table.read()
        .select("event_id", "op_ts", "repo", "path", "commit", "lang", "content")
        .orderBy("repo", "path")
        .toPandas()
    )


def test_replay_matches_oracle(spark, tmp_root):
    events_dir = os.path.join(tmp_root, "wal")
    table_path = os.path.join(tmp_root, "tbl")
    ev = synth_events(spark, N_EVENTS, n_repos=50, paths_per_repo=40, n_epochs=N_EPOCHS)
    write_event_epochs(ev, events_dir)

    sink = MetricsSink(os.path.join(tmp_root, "metrics"))
    table, stats = replay_events(spark, events_dir, table_path, n_buckets=16, metrics_sink=sink)
    assert [s.applied for s in stats] == [True] * N_EPOCHS

    got = _engine_state(table)
    want = oracle_final_state(events_dir)
    assert len(got) == len(want) > 0

    # Per-row invariant: sha256(content) per (repo, path).
    def sha(s):
        return None if s is None else hashlib.sha256(s.encode()).hexdigest()

    got_h = {(r.repo, r.path): sha(r.content) for r in got.itertuples()}
    want_h = {(r.repo, r.path): sha(r.content) for r in want.itertuples()}
    assert got_h == want_h

    # Full byte-identical row content (all columns).
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )

    # Lineage ledger recorded one row per applied epoch.
    assert len(sink.rows()) == N_EPOCHS


def test_reapply_is_noop_and_resume(spark, tmp_root):
    """Exactly-once: re-running applied epochs is a metadata no-op; a replay
    interrupted mid-stream resumes from the manifest and converges."""
    events_dir = os.path.join(tmp_root, "wal")
    table_path = os.path.join(tmp_root, "tbl")
    ev = synth_events(spark, 2_000, n_repos=20, paths_per_repo=20, n_epochs=4)
    write_event_epochs(ev, events_dir)

    from etl_spark.cdc.replay import pending_epochs
    from etl_spark.lake import LakeTable

    # First run applies only epochs 0-1 (simulated crash after epoch 1).
    table, _ = replay_events(spark, events_dir, table_path, n_buckets=8)
    # (replay_events applies everything; emulate the crash by replaying a
    #  fresh table with a manual loop instead)
    table.drop()
    from pyspark.sql.types import StructType

    sample = spark.read.parquet(events_dir)
    user_fields = [f for f in sample.schema.fields if f.name not in ("op", "epoch")]
    table = LakeTable.create(
        spark, table_path, StructType(user_fields),
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"], n_buckets=8,
    )
    for e in (0, 1):
        batch = spark.read.parquet(os.path.join(events_dir, f"epoch={e}"))
        assert table.merge(batch, f"epoch:{e}").applied

    assert pending_epochs(table, [0, 1, 2, 3]) == [2, 3]

    # Re-apply epoch 1 => no-op, same version.
    v = table.current_version()
    st = table.merge(
        spark.read.parquet(os.path.join(events_dir, "epoch=1")), "epoch:1"
    )
    assert not st.applied and table.current_version() == v

    # Resume: apply the rest; state equals full-replay oracle.
    for e in (2, 3):
        table.merge(spark.read.parquet(os.path.join(events_dir, f"epoch={e}")), f"epoch:{e}")
    got = _engine_state(table)
    want = oracle_final_state(events_dir)
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True), want.reset_index(drop=True), check_dtype=False
    )


def test_delete_then_late_insert_tombstone(spark, tmp_root):
    """A late insert whose (op_ts, event_id) precedes an applied delete must
    lose (tombstone retains the delete's version across epochs)."""
    import datetime as dt

    from etl_spark.lake import LakeTable
    from pyspark.sql.types import StructType

    from etl_spark.cdc.events import EVENT_SCHEMA

    rows = lambda *rs: spark.createDataFrame(list(rs), EVENT_SCHEMA)
    t = lambda s: dt.datetime.fromisoformat(s)
    user_schema = StructType([f for f in EVENT_SCHEMA.fields if f.name not in ("op", "epoch")])
    table = LakeTable.create(
        spark, os.path.join(tmp_root, "t"), user_schema,
        key_cols=["repo", "path"], version_cols=["op_ts", "event_id"], n_buckets=4,
    )
    # epoch 0: insert then delete (delete has the later op_ts).
    table.merge(
        rows(
            (1, "I", t("2024-01-01T00:00:01"), 0, "r", "p", "c1", "py", "v1"),
            (3, "D", t("2024-01-01T00:00:09"), 0, "r", "p", "c3", "py", None),
        ).drop("epoch"),
        "epoch:0",
    )
    assert table.read().count() == 0
    # epoch 1: late insert with earlier op_ts => must NOT resurrect the key.
    table.merge(
        rows((2, "U", t("2024-01-01T00:00:05"), 1, "r", "p", "c2", "py", "v2")).drop("epoch"),
        "epoch:1",
    )
    assert table.read().count() == 0
    # epoch 2: insert after the delete's op_ts => key comes back.
    table.merge(
        rows((4, "I", t("2024-01-01T00:00:11"), 2, "r", "p", "c4", "py", "v4")).drop("epoch"),
        "epoch:2",
    )
    out = table.read().collect()
    assert len(out) == 1 and out[0]["content"] == "v4"


def test_later_epoch_adds_a_column(spark, tmp_root):
    """A column that only later WAL epochs carry evolves the table at the
    first epoch that carries it, and that epoch's rows keep its values
    (the WAL-root schema comes from one file, the oldest vintage)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    wal = os.path.join(tmp_root, "wal")
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def land(epoch, ids, lang=None):
        d = os.path.join(wal, f"epoch={epoch}")
        os.makedirs(d)
        cols = {
            "event_id": pa.array(ids, pa.int64()),
            "op_ts": pa.array([t0 + dt.timedelta(seconds=i) for i in ids],
                              pa.timestamp("us", tz="UTC")),
            "repo": ["r"] * len(ids),
            "path": [f"p{i % 10}" for i in ids],
            "content": [f"c{i}" for i in ids],
            "op": ["I"] * len(ids),
        }
        if lang is not None:
            cols["lang"] = [lang[i % len(lang)] for i in ids]
        pq.write_table(pa.table(cols), os.path.join(d, "part-0.parquet"))

    land(0, list(range(0, 8)))
    land(1, list(range(8, 12)), lang=["py", "go"])
    table, stats = replay_events(
        spark, wal, os.path.join(tmp_root, "tbl"), n_buckets=4)
    assert [s.applied for s in stats] == [True, True]
    assert "lang" not in table.snapshot(stats[0].version).schema.fieldNames()
    assert "lang" in table.snapshot(stats[1].version).schema.fieldNames()
    got = {r["path"]: r["lang"] for r in table.read().collect()}
    # epoch 1 rewrote p8, p9, p0, p1 (ids 8-11); the rest predate `lang`
    assert got == {"p0": "py", "p1": "go", "p2": None, "p3": None,
                   "p4": None, "p5": None, "p6": None, "p7": None,
                   "p8": "py", "p9": "go"}
