"""Seeded, single-process CDC event generator for the benchmark.

Built on numpy and pyarrow only, never on ``etl_spark.cdc.synth_events``,
so a change to the program under test cannot change its own inputs. The
stream is shaped like FIXTURES.md F2:

* one hot repo (index 0) receives ~30% of events;
* ~10% deletes, ~30% inserts, ~60% updates; a key deleted and written
  again later is the delete -> late-insert case;
* ``op_ts`` is arrival time plus a bounded jitter, so events of a busy
  key arrive out of ``op_ts`` order;
* ~5% of events are re-delivered unchanged in the next epoch (same
  ``event_id`` and ``op_ts``: an LWW tie that must be idempotent).

The same ``seed`` gives byte-identical parquet files.
"""

from __future__ import annotations

import os
from collections import deque
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ["py", "js", "rs", "go", "md", "java", "c", "ts"]
T0_US = 1_704_067_200_000_000          # 2024-01-01T00:00:00Z
TICK_US = 1_000                        # arrival spacing: 1 ms per event
JITTER_US = 5_000_000                  # op_ts lateness bound: +-5 s
HOT_SHARE, DELETE_SHARE, INSERT_SHARE, DUP_SHARE = 0.30, 0.10, 0.30, 0.05
VINTAGE_A_EPOCHS = 3                   # leading epochs without `lang`
FILES_PER_EPOCH = 8
RECENT_ROUNDS = 3                      # tail keys skew towards these segments

SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("op", pa.string()),
    ("op_ts", pa.timestamp("us", tz="UTC")),
    ("repo", pa.string()),
    ("path", pa.string()),
    ("commit", pa.string()),
    ("lang", pa.string()),
    ("content", pa.string()),
])
_HEX = np.array([f"{i:02x}".encode() for i in range(256)], dtype="S2")


def _hex(rng: np.random.Generator, n: int, nbytes: int) -> pa.Array:
    raw = rng.integers(0, 256, size=(n, nbytes), dtype=np.uint8)
    s = np.ascontiguousarray(_HEX[raw]).view(f"S{2 * nbytes}").reshape(n)
    return pa.array(s, type=pa.binary()).cast(pa.string())


def repo_name(r: int) -> str:
    return f"org-{r % 37}/repo-{r}"


def path_name(p: int) -> str:
    return f"src/d{p % 13}/f_{p}"


@dataclass
class KeySpace:
    n_repos: int
    paths_per_repo: int
    repos: pa.Array = field(init=False)
    paths: pa.Array = field(init=False)

    def __post_init__(self):
        self.repos = pa.array([repo_name(r) for r in range(self.n_repos)])
        self.paths = pa.array([path_name(p) for p in range(self.paths_per_repo)])

    def random_keys(self, rng: np.random.Generator, n: int):
        hot = rng.random(n) < HOT_SHARE
        repo = np.where(hot, 0, rng.integers(1, self.n_repos, n))
        return repo, rng.integers(0, self.paths_per_repo, n)


def make_events(rng, ks: KeySpace, repo_idx, path_idx, first_id: int,
                ops=None) -> pa.Table:
    """Events for the given keys in arrival order, ids from ``first_id``."""
    n = len(repo_idx)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    if ops is None:
        u = rng.random(n)
        ops = np.where(u < DELETE_SHARE, "D",
                       np.where(u < DELETE_SHARE + INSERT_SHARE, "I", "U"))
    ts = T0_US + ids * TICK_US + rng.integers(-JITTER_US, JITTER_US + 1, n)
    repo = ks.repos.take(pa.array(repo_idx))
    path = ks.paths.take(pa.array(path_idx))
    commit = _hex(rng, n, 20)
    body = pc.binary_repeat(_hex(rng, n, 32), pa.array(rng.integers(1, 9, n)))
    content = pc.binary_join_element_wise(
        "// ", repo, ":", path, "@", commit, "\n", body, "")
    is_del = pa.array(ops == "D")
    content = pc.if_else(is_del, pa.scalar(None, pa.string()), content)
    lang_idx = (repo_idx * 31 + path_idx * 17) % len(LANGS)
    lang = pa.array(LANGS).take(pa.array(lang_idx))
    return pa.table([
        pa.array(ids), pa.array(ops, pa.string()),
        pa.array(ts, pa.timestamp("us", tz="UTC")), repo, path, commit, lang,
        content,
    ], schema=SCHEMA)


def _write(table: pa.Table, path: str, n_files: int) -> int:
    """Write ``table`` as ``n_files`` parquet parts under directory ``path``;
    returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    total = 0
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(part, f, compression="snappy")
        total += os.path.getsize(f)
    return total


# ------------------------------------------------------------- bulk_replay

def bulk_wal(out_dir: str, seed: int, n_events: int, n_epochs: int = 8,
             n_repos: int = 400, paths_per_repo: int = 1000) -> dict:
    """Land a WAL of ``n_events`` events plus ~5% re-deliveries as
    ``epoch=N`` directories. Epochs below ``VINTAGE_A_EPOCHS`` lack
    ``lang``, like the older capture format. Returns the manifest."""
    rng = np.random.default_rng([seed, 1])
    ks = KeySpace(n_repos, paths_per_repo)
    repo, path = ks.random_keys(rng, n_events)
    ev = make_events(rng, ks, repo, path, first_id=1)
    epoch = np.arange(n_events) * n_epochs // n_events
    dup = rng.random(n_events) < DUP_SHARE
    manifest = {"events": 0, "wal_bytes": 0, "epochs": []}
    for e in range(n_epochs):
        own = ev.filter(pa.array(epoch == e))
        redeliver = ev.filter(pa.array(dup & (np.minimum(epoch + 1, n_epochs - 1) == e)))
        t = pa.concat_tables([own, redeliver])
        if e < VINTAGE_A_EPOCHS:
            t = t.drop_columns(["lang"])
        nbytes = _write(t, os.path.join(out_dir, f"epoch={e}"), FILES_PER_EPOCH)
        manifest["epochs"].append({"epoch": e, "events": t.num_rows,
                                   "bytes": nbytes})
        manifest["events"] += t.num_rows
        manifest["wal_bytes"] += nbytes
    return manifest


# -------------------------------------------------------------- tail_serve

class TailGen:
    """Base image plus one small segment per round.

    Segment keys are skewed towards keys written in the last few rounds
    (half of each segment), with the hot repo's share on top. ~5% of a
    segment re-delivers events of the previous segment. Segment ``i`` is
    a function of ``(seed, i)`` only.
    """

    def __init__(self, seed: int, n_repos: int, paths_per_repo: int,
                 segment_events: int):
        self.seed = seed
        self.ks = KeySpace(n_repos, paths_per_repo)
        self.segment_events = segment_events
        self.recent: deque = deque(maxlen=RECENT_ROUNDS)
        self.prev: pa.Table | None = None
        self.next_id = 1
        self.round = 0

    def base(self) -> pa.Table:
        """One insert per key of the key space."""
        rng = np.random.default_rng([self.seed, 2])
        n_r, n_p = self.ks.n_repos, self.ks.paths_per_repo
        repo = np.repeat(np.arange(n_r), n_p)
        path = np.tile(np.arange(n_p), n_r)
        t = make_events(rng, self.ks, repo, path, self.next_id,
                        ops=np.full(len(repo), "I"))
        self.next_id += len(repo)
        return t

    def segment(self) -> pa.Table:
        rng = np.random.default_rng([self.seed, 3, self.round])
        n = self.segment_events
        n_dup = int(n * DUP_SHARE) if self.prev is not None else 0
        n_new = n - n_dup
        repo, path = self.ks.random_keys(rng, n_new)
        if self.recent:
            r_pool = np.concatenate([r for r, _ in self.recent])
            p_pool = np.concatenate([p for _, p in self.recent])
            pick = rng.random(n_new) < 0.5
            j = rng.integers(0, len(r_pool), n_new)
            repo = np.where(pick, r_pool[j], repo)
            path = np.where(pick, p_pool[j], path)
        t = make_events(rng, self.ks, repo, path, self.next_id)
        self.next_id += n_new
        if n_dup:
            t = pa.concat_tables([t, self.prev.take(
                pa.array(np.sort(rng.choice(self.prev.num_rows, n_dup,
                                            replace=False))))])
        self.recent.append((repo, path))
        self.prev = t.slice(0, n_new)
        self.round += 1
        return t


def write_segment(table: pa.Table, path: str) -> int:
    """Write one parquet file at ``path``; returns its size."""
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)
