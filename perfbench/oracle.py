"""Expected outputs, computed apart from the program under test.

Two last-writer-wins folds stand beside the engine: a DuckDB fold over
parquet files (the final state of a whole WAL) and a Python fold over
in-memory events (per-round state of the tail). Both order a key's events
by ``(op_ts, event_id)``; the greatest wins, and a winning delete leaves
no row.

Outputs are compared through an order-free digest: each row becomes the
SHA-256 of ``repo, path, event_id, op tag, sha256(content)`` joined by
the unit separator, and the digest is the row count plus four sums of
32-bit slices of those hashes. The op tag is ``D`` for a tombstone and
``U`` otherwise, so a change feed and a live state share one format.
"""

from __future__ import annotations

import hashlib

import duckdb

SEP = "\x1f"


def content_sha(content: str | None) -> str:
    return "" if content is None else hashlib.sha256(content.encode()).hexdigest()


def row_hash(repo: str, path: str, event_id: int, op: str, csha: str) -> str:
    tag = "D" if op == "D" else "U"
    return hashlib.sha256(
        SEP.join([repo, path, str(event_id), tag, csha]).encode()).hexdigest()


def digest(hashes) -> tuple[int, int, int, int, int]:
    n, s = 0, [0, 0, 0, 0]
    for h in hashes:
        n += 1
        for j in range(4):
            s[j] += int(h[8 * j:8 * j + 8], 16)
    return (n, *s)


class Winner(tuple):
    """``(op_ts_us, event_id, op, content_sha)`` of a key's LWW winner."""

    @property
    def deleted(self) -> bool:
        return self[2] == "D"


_ROW_HASH_SQL = """sha256(repo || chr(31) || path || chr(31) || event_id::VARCHAR
    || chr(31) || CASE WHEN op = 'D' THEN 'D' ELSE 'U' END || chr(31)
    || coalesce(sha256(content), ''))"""
_DIGEST_SQL = "SELECT count(*), " + ", ".join(
    f"coalesce(sum(('0x' || substr(h, {8 * j + 1}, 8))::BIGINT), 0)::BIGINT"
    for j in range(4)) + " FROM ({rows})"


class DuckFold:
    """DuckDB LWW fold of a set of parquet event files, kept in memory."""

    def __init__(self, parquet_glob, threads: int = 4):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {int(threads)}")
        self.con.execute(
            f"""
            CREATE TABLE winners AS
            SELECT repo, path, epoch_us(op_ts) AS ts, event_id, op,
                   coalesce(sha256(content), '') AS csha,
                   {_ROW_HASH_SQL} AS h
            FROM read_parquet(?, union_by_name = true)
            QUALIFY row_number() OVER (
                PARTITION BY repo, path ORDER BY op_ts DESC, event_id DESC) = 1
            """, [parquet_glob])

    def close(self) -> None:
        self.con.close()

    def state_digest(self):
        """Digest of the live state (deleted winners dropped)."""
        return self.con.execute(_DIGEST_SQL.format(
            rows="SELECT h FROM winners WHERE op <> 'D'")).fetchone()

    def events_digest(self, parquet_glob):
        """Digest of raw events as a change feed shows them."""
        return self.con.execute(_DIGEST_SQL.format(
            rows=f"SELECT {_ROW_HASH_SQL} AS h FROM read_parquet(?, "
                 "union_by_name = true)"), [parquet_glob]).fetchone()

    def sample(self, n: int, deleted: bool, seed: int) -> dict[tuple, Winner]:
        """``n`` keys whose winner is (or is not) a delete, chosen by
        ``seed``, with their winners."""
        rows = self.con.execute(
            f"""SELECT repo, path, ts, event_id, op, csha FROM winners
                WHERE (op = 'D') = {bool(deleted)}
                ORDER BY hash(repo || path || {int(seed)}), repo, path
                LIMIT {int(n)}""").fetchall()
        return {(r[0], r[1]): Winner(r[2:]) for r in rows}


def fold_events(events, state: dict | None = None) -> dict[tuple, Winner]:
    """Python LWW fold of ``events`` (dicts with the WAL columns, ``op_ts``
    in microseconds) into ``state``; returns the state."""
    state = {} if state is None else state
    for e in events:
        key = (e["repo"], e["path"])
        cand = Winner((e["op_ts"], e["event_id"], e["op"], content_sha(e["content"])))
        cur = state.get(key)
        if cur is None or cand[:2] > cur[:2]:
            state[key] = cand
    return state


def state_digest(state: dict[tuple, Winner], live_only: bool = True):
    return digest(
        row_hash(k[0], k[1], w[1], w[2], w[3])
        for k, w in state.items() if not (live_only and w.deleted))

