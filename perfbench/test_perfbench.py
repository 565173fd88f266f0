"""Fast tests of the benchmark's own parts (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import glob
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402


def _tree_bytes(root: str) -> list[tuple[str, bytes]]:
    out = []
    for f in sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)):
        with open(f, "rb") as fh:
            out.append((os.path.relpath(f, root), fh.read()))
    return out


def test_bulk_wal_is_byte_identical_per_seed(tmp_path):
    a = gen.bulk_wal(str(tmp_path / "a"), 5, 3000, n_repos=20, paths_per_repo=50)
    b = gen.bulk_wal(str(tmp_path / "b"), 5, 3000, n_repos=20, paths_per_repo=50)
    c = gen.bulk_wal(str(tmp_path / "c"), 6, 3000, n_repos=20, paths_per_repo=50)
    assert a == b
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert _tree_bytes(str(tmp_path / "a")) != _tree_bytes(str(tmp_path / "c"))
    # vintage A epochs lack `lang`; later ones carry it
    first = pq.read_schema(glob.glob(str(tmp_path / "a" / "epoch=0" / "*"))[0])
    last = pq.read_schema(glob.glob(str(tmp_path / "a" / "epoch=7" / "*"))[0])
    assert "lang" not in first.names and "lang" in last.names


def test_tail_segments_are_identical_per_seed(tmp_path):
    def stream(seed, tag):
        tg = gen.TailGen(seed, 5, 40, 200)
        out = []
        for i, t in enumerate([tg.base()] + [tg.segment() for _ in range(4)]):
            p = str(tmp_path / f"{tag}-{i}.parquet")
            gen.write_segment(t, p)
            with open(p, "rb") as fh:
                out.append(fh.read())
        return out

    assert stream(3, "a") == stream(3, "b")
    assert stream(3, "a") != stream(4, "c")


# A hand-worked stream: (event_id, op, op_ts, key, content). Arrival
# order is list order; the expected winners are worked out by hand below.
K = {c: (f"org-0/repo-{i // 2}", f"src/d0/f_{i}") for i, c in enumerate("ABCDEFGH")}
HAND = [
    (1, "I", 10, "A", "a1"),
    (2, "U", 30, "A", "a2"),
    (3, "U", 20, "A", "a3"),     # arrives last, older op_ts: loses to a2
    (4, "I", 10, "B", "b1"),
    (5, "D", 20, "B", None),     # delete wins: B has no row
    (6, "I", 10, "C", "c1"),
    (7, "D", 20, "C", None),
    (8, "I", 30, "C", "c3"),     # delete -> late insert: C lives again
    (9, "U", 40, "D", "d1"),
    (9, "U", 40, "D", "d1"),     # duplicate re-delivery: one row
    (10, "D", 50, "E", None),
    (11, "I", 45, "E", "e1"),    # insert after the delete, older op_ts
    (12, "U", 60, "F", "f1"),
    (13, "U", 60, "F", "f2"),    # op_ts tie: higher event_id wins
] + [
    (14 + i, "U", ts, "G", f"g{ts}")  # one busy key, shuffled op_ts
    for i, ts in enumerate([5, 3, 9, 1, 7, 2, 8, 6, 4, 0])
] + [
    (24, "I", 70, "H", "h1"),
    (25, "D", 80, "H", None),
    (26, "U", 75, "H", "h2"),    # update after the delete, older op_ts
]
LIVE = {"A": (2, "a2"), "C": (8, "c3"), "D": (9, "d1"), "F": (13, "f2"),
        "G": (16, "g9")}
DEAD = {"B": 5, "E": 10, "H": 25}


def _hand_events():
    return [{"event_id": e, "op": op, "op_ts": ts * 1_000_000,
             "repo": K[k][0], "path": K[k][1], "content": c}
            for e, op, ts, k, c in HAND]


def _hand_parquet(path: str) -> str:
    ev = _hand_events()
    table = pa.table({
        "event_id": pa.array([e["event_id"] for e in ev], pa.int64()),
        "op": [e["op"] for e in ev],
        "op_ts": pa.array([gen.T0_US + e["op_ts"] for e in ev],
                          pa.timestamp("us", tz="UTC")),
        "repo": [e["repo"] for e in ev],
        "path": [e["path"] for e in ev],
        "content": pa.array([e["content"] for e in ev], pa.string()),
    })
    pq.write_table(table, path)
    return path


def _expected_digest():
    return oracle.digest(
        oracle.row_hash(*K[k], eid, "U", oracle.content_sha(c))
        for k, (eid, c) in LIVE.items())


def test_duckdb_fold_matches_hand_worked_case(tmp_path):
    fold = oracle.DuckFold(_hand_parquet(str(tmp_path / "hand.parquet")))
    try:
        live = fold.sample(100, False, seed=1)
        dead = fold.sample(100, True, seed=1)
        assert {k: (w[1], w[3]) for k, w in live.items()} == {
            K[k]: (eid, oracle.content_sha(c)) for k, (eid, c) in LIVE.items()}
        assert {k: w[1] for k, w in dead.items()} == {K[k]: e for k, e in DEAD.items()}
        assert tuple(fold.state_digest()) == _expected_digest()
        # a change feed shows every event, duplicates included
        assert tuple(fold.events_digest(str(tmp_path / "hand.parquet"))) == \
            oracle.digest(oracle.row_hash(e["repo"], e["path"], e["event_id"],
                                          e["op"], oracle.content_sha(e["content"]))
                          for e in _hand_events())
    finally:
        fold.close()


def test_python_fold_matches_hand_worked_case():
    state = oracle.fold_events(_hand_events())
    assert {k: (w[1], w[3]) for k, w in state.items() if not w.deleted} == {
        K[k]: (eid, oracle.content_sha(c)) for k, (eid, c) in LIVE.items()}
    assert {k for k, w in state.items() if w.deleted} == {K[k] for k in DEAD}
    assert oracle.state_digest(state) == _expected_digest()
    # folding in two parts gives the same state as folding at once
    ev = _hand_events()
    assert oracle.fold_events(ev[12:], oracle.fold_events(ev[:12])) == state
