"""End-to-end benchmark of the CDC engine: one command, two workloads.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 45 --trace 0

``--trace 0`` prints every end-to-end metric; ``--trace 1`` wraps the
program's public functions in spans (see spans.py) and prints the
per-layer metrics instead. ``--size smoke`` shrinks both workloads to a
few seconds of work. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
carries the host context and per-operation counts and walls. Each
workload is a fixed unit of work, so ``--seconds`` is accepted but does
not change what a run does: a faster program must not end up measuring a
larger table. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter, defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import numpy as np
import pyarrow as pa

import gen  # noqa: E402  (benchmark modules beside this file)
import oracle  # noqa: E402
import procstat  # noqa: E402
from spans import Tracer, parse_event_log  # noqa: E402

DRIVER_MEMORY = "2g"
BULK_PROPS = {"batch_dedup": "false", "write_metrics": "coarse"}
TAIL_PROPS = {"bloom_cols": "repo|path", "stats_cols": "op_ts"}
BLOOM_KEY = "repo|path#bloom"

SIZES = {
    "full": {
        "bulk": dict(n_events=600_000, n_epochs=8, n_repos=400,
                     paths_per_repo=1000, n_buckets=64, warm_events=2_000,
                     lookups=3, lookup_live=8, lookup_deleted=3, scans=2),
        "tail": dict(n_repos=10, paths_per_repo=1000, n_buckets=96,
                     segment_events=3000, rounds=2, lookups=2, lookup_keys=8,
                     scans=2),
    },
    "smoke": {
        "bulk": dict(n_events=20_000, n_epochs=8, n_repos=50,
                     paths_per_repo=100, n_buckets=8, warm_events=2_000,
                     lookups=2, lookup_live=4, lookup_deleted=2, scans=2),
        "tail": dict(n_repos=20, paths_per_repo=100, n_buckets=16,
                     segment_events=300, rounds=2, lookups=2, lookup_keys=4,
                     scans=2),
    },
}


T_START = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ run


class Run:
    """One benchmark process: scratch, session, operations and their
    outcomes."""

    def __init__(self, args):
        self.args = args
        self.size = SIZES[args.size]
        self.scratch = os.path.join(
            ROOT, ".perfbench_scratch", f"{args.workload}-{os.getpid()}")
        self.tracer = Tracer()
        self.attempted: Counter = Counter()
        self.failed: Counter = Counter()
        self.walls: dict[str, list[float]] = defaultdict(list)
        self.wrong: list[str] = []
        self.m: dict[str, float] = {}      # end-to-end values
        self.facts: dict = {}              # inputs to the per-layer metrics
        self.spark = None
        self.query = None
        self.master = None
        self.rss = None

    def path(self, *parts) -> str:
        return os.path.join(self.scratch, *parts)

    def attempt(self, kind: str, fn, check=None):
        """Run one operation: time it, count it, check its output.
        An exception counts as a failed operation; a wrong output makes
        the whole run incorrect."""
        self.attempted[kind] += 1
        t0 = time.monotonic()
        try:
            with self.tracer.span(f"op.{kind}"):
                result = fn()
        except Exception:  # noqa: BLE001 — count it and keep measuring
            self.failed[kind] += 1
            log(f"{kind} failed:\n{traceback.format_exc()}")
            return None
        self.walls[kind].append(time.monotonic() - t0)
        problem = check(result) if check is not None else None
        if problem:
            self.wrong.append(f"{kind}: {problem}")
            log(f"{kind} WRONG: {problem}")
        return result

    # ------------------------------------------------------- session

    def start_session(self) -> float:
        from etl_spark import session

        n = self.args.cores
        self.master = f"local[{n}]"
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # a fixed heap: resident memory then follows what the run
            # touches, not when the collector chose to grow the heap
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.args.trace:
            os.makedirs(self.path("eventlog"))
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.path("eventlog")
            # one plain JSON-lines file the stdlib can parse
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.rss = procstat.PeakRss().start()
        t0 = time.monotonic()
        self.spark = session.get_spark(
            app_name=f"perfbench-{self.args.workload}", master=self.master,
            shuffle_partitions=2 * n, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.probe_workers()
        wall = time.monotonic() - t0
        if self.args.trace:
            self.tracer.bind(self.spark)
        return wall

    def probe_workers(self) -> None:
        """Python workers must import this checkout's etl_spark: without
        it every executor-side harvest fails and the program carries on
        with less metadata, which would read as a faster commit."""
        got = self.spark.sparkContext.parallelize([0], 1).map(
            lambda _: __import__("etl_spark").__file__).collect()[0]
        if not os.path.abspath(got).startswith(os.path.join(ROOT, "etl_spark")):
            raise RuntimeError(f"workers import etl_spark from {got}, not {ROOT}")

    def stop_session(self) -> None:
        """Stop the query, the session and the JVM, and wait until every
        process this run started has ended; safe to call twice."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        spark, query, self.spark, self.query = self.spark, self.query, None, None
        try:
            if query is not None:
                query.stop()
            spark.stop()
        finally:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            finally:
                SparkContext._gateway = SparkContext._jvm = None
                if proc is not None:
                    proc.stdin.close()      # the JVM exits on EOF
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)
                deadline = time.monotonic() + 30
                while len(procstat.tree_pids()) > 1 and time.monotonic() < deadline:
                    time.sleep(0.2)
                self.rss.stop()

    # -------------------------------------------------------- digests

    def spark_digest(self, df, op_col: str | None = None):
        """The oracle's digest (oracle.py), computed by Spark over ``df``."""
        from pyspark.sql import functions as F

        tag = F.lit("U") if op_col is None else \
            F.when(F.col(op_col) == "D", "D").otherwise("U")
        h = F.sha2(F.concat_ws(
            oracle.SEP, "repo", "path", F.col("event_id").cast("string"), tag,
            F.coalesce(F.sha2("content", 256), F.lit(""))), 256)
        row = df.select(h.alias("h")).agg(
            F.count(F.lit(1)),
            *[F.coalesce(F.sum(F.conv(F.substring("h", 8 * j + 1, 8), 16, 10)
                               .cast("long")), F.lit(0)) for j in range(4)],
        ).collect()[0]
        return tuple(int(x) for x in row)

    def lookup_rows(self, table, keys):
        from pyspark.sql import functions as F

        rows = table.lookup(keys).select(
            "repo", "path", "event_id",
            F.coalesce(F.sha2("content", 256), F.lit("")).alias("csha"),
        ).collect()
        return sorted(tuple(r) for r in rows)

    # ------------------------------------------- checked operations

    def lookup_op(self, table, keys, want: list, what: str) -> None:
        got = self.attempt("lookup", lambda: self.lookup_rows(table, keys),
                           check=lambda g: None if g == want else
                           f"{what}: {len(g)} rows, expected {len(want)}")
        if self.args.trace and got is not None:
            with self.tracer.span("trace.lookup_plan"):
                self.facts.setdefault("lookup_plan", []).append(
                    self.lookup_plan(table, keys, len(got)))

    def lookup_plan(self, table, keys, rows: int) -> dict:
        """Buckets the keys hash to, and data files the lookup reads
        (the plan's input files) against those the buckets hold."""
        from pyspark.sql.types import StructType

        snap = table.snapshot()
        by_name = {f.name: f for f in snap.schema.fields}
        key_df = self.spark.createDataFrame(
            keys, StructType([by_name[c] for c in snap.key_cols]))
        buckets = {r[0] for r in key_df.select(
            table.bucket_expr(snap).alias("b")).collect()}
        files_read = len(table.lookup(keys).inputFiles())
        held = sum(len(snap.buckets.get(b, [])) for b in buckets)
        return {"buckets": len(buckets), "files_read": files_read,
                "files_pruned": held - files_read, "rows": rows}

    def feed_op(self, table, v0: int, v1: int, want, what: str) -> None:
        got = self.attempt("feed", lambda: self.spark_digest(
            table.changes(v0, v1), op_col="_op"),
            check=lambda d: None if d == want else f"{what}: {d} != {want}")
        if self.args.trace and got is not None:
            with self.tracer.span("trace.feed_plan"):
                self.facts.setdefault("feed", []).append(
                    (len(table.changes(v0, v1).inputFiles()), got[0]))

    def scan_op(self, table, want) -> None:
        self.attempt("scan", lambda: self.spark_digest(table.read()),
                     check=lambda d: None if d == want else f"{d} != {want}")

    # ----------------------------------------------------- snapshots

    def final_layout(self, table) -> dict:
        snap = table.snapshot()
        files = [f for fl in snap.buckets.values() for f in fl]
        nonunique = set(snap.nonunique)
        return {
            "snapshot": snap,
            "files": files,
            "data_bytes": sum(os.path.getsize(os.path.join(table.path, f))
                              for f in files),
            "snapshot_bytes": len(snap.to_json().encode()),
            "generations_max": max((len({f.split("/", 2)[1] for f in fl})
                                    for fl in snap.buckets.values()), default=0),
            "mor_files": sum(len(fl) for fl in snap.buckets.values()
                             if len(fl) > 1 or nonunique.intersection(fl)),
        }


class EpochSink:
    """``metrics_sink`` for ``replay_events``: wall seconds per epoch."""

    def __init__(self):
        self.walls: list[float] = []

    def record(self, stats, wall_sec=None, error=None):
        self.walls.append(wall_sec)


def cpu_interval(fn):
    """``fn()``'s result, wall seconds and process-tree CPU seconds."""
    c0, t0 = procstat.tree_cpu_s(), time.monotonic()
    out = fn()
    return out, time.monotonic() - t0, procstat.tree_cpu_s() - c0


# ---------------------------------------------------------- bulk_replay


def bulk_replay(run: Run) -> None:
    """Batch catch-up: replay an 8-epoch WAL into a 64-bucket table with
    the write-optimized props, then point lookups, full scans and the
    change feeds of four epochs. A fixed unit of work per run."""
    from etl_spark.cdc import replay as cdc_replay

    sz, seed = run.size["bulk"], run.args.seed
    wal, warm_wal = run.path("wal"), run.path("warm_wal")
    manifest = gen.bulk_wal(wal, seed, sz["n_events"], sz["n_epochs"],
                            n_repos=sz["n_repos"],
                            paths_per_repo=sz["paths_per_repo"])
    gen.bulk_wal(warm_wal, seed + 1_000_003, sz["warm_events"], 1,
                 n_repos=sz["n_repos"], paths_per_repo=sz["paths_per_repo"])
    fold = oracle.DuckFold(os.path.join(wal, "epoch=*", "*.parquet"))
    live = fold.sample(sz["lookups"] * sz["lookup_live"], False, seed)
    dead = fold.sample(sz["lookups"] * sz["lookup_deleted"], True, seed)
    want_state = fold.state_digest()
    want_feed = {e: fold.events_digest(os.path.join(wal, f"epoch={e}", "*.parquet"))
                 for e in range(0, sz["n_epochs"], 2)}
    fold.close()
    # the generator's and oracle's memory stays out of the peak RSS,
    # which sampling starts with the session
    pa.default_memory_pool().release_unused()
    log("inputs and oracle ready")

    with run.tracer.span("setup"):
        t_session = run.start_session()
        log("session started")
        t0 = time.monotonic()
        # the merge and read plan shapes, once, on a throwaway table
        warm, _ = cdc_replay.replay_events(
            run.spark, warm_wal, run.path("warm_tbl"), n_buckets=sz["n_buckets"],
            table_props=BULK_PROPS)
        run.spark_digest(warm.read())
        run.spark_digest(warm.changes(0, 1), op_col="_op")
        run.lookup_rows(warm, list(live)[:2])
        warm.drop()
    run.m["setup_s"] = t_session + time.monotonic() - t0
    log("setup done")

    tbl = run.path("tbl")
    sink = EpochSink()
    t_timed = time.time()

    def replay_check(r):
        if len(r[1]) != sz["n_epochs"] or not all(s.applied for s in r[1]):
            return f"applied {len(r[1])} epochs"
        # the inline compaction is best-effort: a failure inside it leaves
        # the merge committed and reports zero buckets rewritten, which
        # would read as a faster replay
        if not any(s.buckets_rewritten > 0 for s in r[1]):
            return "the inline compaction rewrote no bucket"
        return None

    result, wall, cpu = cpu_interval(lambda: run.attempt(
        "replay", lambda: cdc_replay.replay_events(
            run.spark, wal, tbl, n_buckets=sz["n_buckets"], metrics_sink=sink,
            table_props=BULK_PROPS),
        check=replay_check))
    if result is None:
        run.wrong.append("the replay failed; nothing left to measure")
        return
    table, stats = result
    run.m["ingest_events_per_s"] = manifest["events"] / wall
    run.m["ingest_events_per_cpu_s"] = manifest["events"] / cpu
    run.m["commit_p50_s"] = median(sink.walls)
    run.facts["epoch_walls"] = sink.walls
    log("replay done")

    version = table.current_version()
    run.attempt(
        "noop_replay", lambda: cdc_replay.replay_events(
            run.spark, wal, tbl, n_buckets=sz["n_buckets"],
            table_props=BULK_PROPS),
        check=lambda r: None if r[1] == [] and r[0].current_version() == version
        else f"re-applied {len(r[1])} epochs")

    def evolved():
        if "lang" not in table.current_snapshot().schema.fieldNames():
            raise RuntimeError("WAL epochs carrying `lang` did not add it to "
                               "the table schema")
    run.attempt("schema_evolution", evolved)

    live_keys, dead_keys = list(live), list(dead)
    nl, nd = sz["lookup_live"], sz["lookup_deleted"]
    for i in range(sz["lookups"]):
        # live keys, keys whose last event is a delete, one key never written
        keys = live_keys[i * nl:(i + 1) * nl] + dead_keys[i * nd:(i + 1) * nd] \
            + [(gen.repo_name(sz["n_repos"] + i), gen.path_name(0))]
        want = sorted((*k, live[k][1], live[k][3]) for k in keys if k in live)
        run.lookup_op(table, keys, want, f"lookup {i}")
    for _ in range(sz["scans"]):
        run.scan_op(table, want_state)
    # every other epoch's feed: epoch 0 (no `lang`), and epoch 6, whose
    # merge precedes the inline compaction
    for e, st in list(enumerate(stats))[::2]:
        run.feed_op(table, st.version - 1, st.version, want_feed[e], f"epoch {e}")
    run.facts["timed_wall"] = (t_timed, time.time())

    layout = run.final_layout(table)
    run.m["stored_bytes_per_wal_byte"] = layout["data_bytes"] / manifest["wal_bytes"]
    run.facts["layout"] = layout


# ----------------------------------------------------------- tail_serve


def tail_serve(run: Run) -> None:
    """A CDC tail with readers: one streaming query tails a landing
    directory; each round lands one small segment, waits for its commit,
    looks up keys the round touched and reads the round's change feed.
    A fixed number of rounds, so every run ends on a table of one size."""
    from etl_spark.cdc import replay as cdc_replay
    from etl_spark.streaming import stream_replay

    sz, seed = run.size["tail"], run.args.seed
    tg = gen.TailGen(seed, sz["n_repos"], sz["paths_per_repo"],
                     sz["segment_events"])
    base_dir, land = run.path("base"), run.path("land")
    os.makedirs(os.path.join(base_dir, "epoch=0"))
    os.makedirs(land)
    base = tg.base()
    wal_bytes = gen.write_segment(
        base, os.path.join(base_dir, "epoch=0", "part-000.parquet"))
    state = oracle.fold_events(_events(base))
    listener = None

    with run.tracer.span("setup"):
        t_session = run.start_session()
        log("session started")
        t0 = time.monotonic()
        sink = EpochSink()
        with run.tracer.span("setup.base_load"):
            table, _ = cdc_replay.replay_events(
                run.spark, base_dir, run.path("tbl"), n_buckets=sz["n_buckets"],
                metrics_sink=sink, table_props=TAIL_PROPS)
        run.facts["epoch_walls"] = sink.walls
        log("base loaded")
        # the stream reads its schema from the landing directory, so an
        # empty segment lands before the query starts; its (empty) batch
        # starts the query's own plan paths
        wal_bytes += gen.write_segment(base.slice(0, 0),
                                       os.path.join(land, "seg-00000.parquet"))
        if run.args.trace:
            listener = _progress_listener(run.spark)
        run.query = stream_replay(run.spark, land, table, run.path("ckpt"),
                                  available_now=False)
        run.query.processAllAvailable()
        run.lookup_rows(table, [(r["repo"], r["path"]) for r in
                                base.slice(0, sz["lookup_keys"]).to_pylist()])
        run.spark_digest(table.changes(0, table.current_version()), op_col="_op")
    run.m["setup_s"] = t_session + time.monotonic() - t0
    log("setup done")

    ingest_wall = ingest_cpu = 0.0
    events = 0
    commits: list[float] = []
    t_timed = time.time()
    for i in range(1, sz["rounds"] + 1):
        with run.tracer.span("op.round"):
            with run.tracer.span("gen.segment"):
                # written beside the landing directory and renamed in: the
                # file source must never see a partial file
                seg = tg.segment()
                tmp = run.path(f"seg-{i:05d}.parquet")
                nbytes = gen.write_segment(seg, tmp)
                dst = os.path.join(land, f"seg-{i:05d}.parquet")
                seg_events = _events(seg)
            v0 = table.current_version()

            def commit():
                with run.tracer.span("streaming.round"):
                    os.rename(tmp, dst)
                    run.query.processAllAvailable()
                return table.current_version()

            run.attempted["commit"] += 1
            try:
                v1, wall, cpu = cpu_interval(commit)
            except Exception:  # noqa: BLE001 — a dead query ends the run
                run.failed["commit"] += 1
                log(f"commit failed:\n{traceback.format_exc()}")
                run.wrong.append(f"round {i}: the commit failed and ended "
                                 "the stream; nothing left to measure")
                return
            commits.append(wall)
            ingest_wall += wall
            ingest_cpu += cpu
            events += seg.num_rows
            wal_bytes += nbytes
            if v1 <= v0:
                run.wrong.append(f"round {i}: no new snapshot")
            with run.tracer.span("gen.fold"):
                want_feed = oracle.state_digest(
                    oracle.fold_events(seg_events), live_only=False)
                oracle.fold_events(seg_events, state)
                touched = sorted({(e["repo"], e["path"]) for e in seg_events})
                nk = sz["lookup_keys"]
                pick = np.random.default_rng([seed, 4, i]).choice(
                    len(touched), sz["lookups"] * nk, replace=False)
                batches = [[touched[j] for j in sorted(pick[n * nk:(n + 1) * nk])]
                           for n in range(sz["lookups"])]
            for keys in batches:
                want = sorted((*k, state[k][1], state[k][3]) for k in keys
                              if not state[k].deleted)
                run.lookup_op(table, keys, want, f"round {i}")
            run.feed_op(table, v0, v1, want_feed, f"round {i}")
    run.walls["commit"] = commits
    log(f"{len(commits)} rounds done")
    run.query.stop()
    run.query = None

    with run.tracer.span("check.fold"):
        fold = oracle.DuckFold([os.path.join(base_dir, "epoch=0", "*.parquet"),
                                os.path.join(land, "*.parquet")])
        want_state = fold.state_digest()
        fold.close()
    for _ in range(sz["scans"]):
        run.scan_op(table, want_state)
    version = table.current_version()
    run.attempt(
        "noop_replay", lambda: cdc_replay.replay_events(
            run.spark, base_dir, run.path("tbl"), n_buckets=sz["n_buckets"],
            table_props=TAIL_PROPS),
        check=lambda r: None if r[1] == [] and r[0].current_version() == version
        else f"re-applied {len(r[1])} epochs")
    run.facts["timed_wall"] = (t_timed, time.time())

    layout = run.final_layout(table)
    snap = layout["snapshot"]
    bare = [f for f in layout["files"]
            if not {"op_ts", BLOOM_KEY} <= set(snap.file_stats.get(f, {}))]
    if bare:
        run.wrong.append(f"{len(bare)} of {len(layout['files'])} data files "
                         f"lack their zone-map or bloom entry, e.g. {bare[0]}")
    run.m["ingest_events_per_s"] = events / ingest_wall
    run.m["ingest_events_per_cpu_s"] = events / ingest_cpu
    run.m["commit_p50_s"] = median(commits)
    run.m["stored_bytes_per_wal_byte"] = layout["data_bytes"] / wal_bytes
    run.facts.update(layout=layout, listener=listener)


def _events(table) -> list[dict]:
    """Arrow events as dicts with ``op_ts`` in microseconds."""
    rows = table.select(["event_id", "op", "repo", "path", "content"]).to_pylist()
    ts = table.column("op_ts").cast(pa.int64()).to_pylist()
    for r, t in zip(rows, ts):
        r["op_ts"] = t
    return rows


def _progress_listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows:  # the empty primer batch is setup
                self.batches.append(dict(p.durationMs or {}))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


WORKLOADS = {"bulk_replay": bulk_replay, "tail_serve": tail_serve}


# ------------------------------------------------------------- metrics

E2E_UNITS = {
    "setup_s": "s", "ingest_events_per_s": "1/s",
    "ingest_events_per_cpu_s": "1/s", "commit_p50_s": "s",
    "lookup_p50_s": "s", "scan_p50_s": "s", "feed_p50_s": "s",
    "stored_bytes_per_wal_byte": "ratio", "peak_rss_mb": "MiB",
}


def end_to_end(run: Run) -> dict:
    """The end-to-end metrics the run measured; one without samples is
    left out, never reported as 0."""
    m = dict(run.m)
    for op in ("lookup", "scan", "feed"):
        if run.walls[op]:
            m[f"{op}_p50_s"] = median(run.walls[op])
    if run.rss is not None and run.rss.peak:
        m["peak_rss_mb"] = run.rss.peak / 2 ** 20
    return {k: {"value": m[k], "unit": u} for k, u in E2E_UNITS.items() if k in m}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted; each workload is a fixed unit of work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1),
                    help="local[N] task slots (default: 4, at most nproc)")
    args = ap.parse_args(argv)
    if not 1 <= args.cores <= (os.cpu_count() or 1):
        ap.error(f"--cores must be within 1..{os.cpu_count()}")

    if not os.path.isdir(os.path.join(ROOT, "etl_spark")):
        log(f"no etl_spark package under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    # the JVM and its Python workers inherit this environment: workers
    # must import this checkout, and nothing may pick the core count,
    # memory or scratch location from the caller's environment
    for var in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(var, None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    run = Run(args)
    os.makedirs(run.path("tmp"))
    os.environ["TMPDIR"] = run.path("tmp")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ctx = {"nproc": os.cpu_count(), "loadavg_start": procstat.loadavg()}
    steal0 = procstat.steal_jiffies()
    metrics = {}
    try:
        if args.trace:
            run.tracer.install()
        try:
            WORKLOADS[args.workload](run)
            log("workload done")
            run.stop_session()
            log("session stopped")
            if args.trace and not run.wrong:
                metrics = layer_metrics(run)
                os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
                run.tracer.dump(os.path.join(
                    ROOT, ".perfbench_out",
                    f"trace-{args.workload}-{args.seed}.json"), {"layers": metrics})
        except Exception as exc:  # noqa: BLE001 — reported as a wrong run
            log(f"run aborted:\n{traceback.format_exc()}")
            run.wrong.append(f"run aborted: {exc!r}")
    finally:
        try:
            run.stop_session()
        finally:
            shutil.rmtree(run.scratch, ignore_errors=True)
            parent = os.path.dirname(run.scratch)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    ctx.update(master=run.master, loadavg_end=procstat.loadavg(),
               steal_jiffies=procstat.steal_jiffies() - steal0)
    attempted, failed = sum(run.attempted.values()), sum(run.failed.values())
    if not args.trace:
        metrics = end_to_end(run)
        missing = sorted(set(E2E_UNITS) - set(metrics))
        if missing and not run.wrong:
            run.wrong.append(f"no value for {', '.join(missing)}")
    print(json.dumps({"context": ctx, "attempted_by_op": dict(run.attempted),
                      "failed_by_op": dict(run.failed), "wrong": run.wrong,
                      "wall_s_by_op": {k: [round(x, 4) for x in v]
                                       for k, v in run.walls.items()}}))
    print(json.dumps({"correct": not run.wrong, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if not run.wrong else 1


# ---------------------------------------------------------- per layer


def layer_metrics(run: Run) -> dict:
    spans = run.tracer.spans
    kids = run.tracer.children()
    groups = parse_event_log(run.path("eventlog"))
    t0, t1 = run.facts["timed_wall"]
    timed = [s for s in spans if s.start >= t0 and s.end and s.end <= t1]
    parent = {s.id: s.name for s in spans}

    def durs(name, pool=timed):
        return [s.dur for s in pool if s.name == name]

    def stage(sp, key, skip=()):
        """Stage metric summed over ``sp``'s subtree, minus subtrees of
        children named in ``skip``."""
        total = groups.get(sp.id, {}).get(key, 0.0)
        for c in kids.get(sp.id, []):
            if c.name not in skip:
                total += stage(c, key, skip)
        return total

    def per_call(name, key, skip=()):
        return median([stage(s, key, skip) for s in timed if s.name == name])

    def attr(name, key):
        return median([s.attrs.get(key, 0) for s in timed if s.name == name])

    layout = run.facts["layout"]
    out = {
        "session.start_s": (median(durs("session.start", spans)), "s"),
        "cdc.replay_s": (median([s.dur for s in spans
                                 if s.name == "cdc.replay_events"
                                 and parent.get(s.parent) in (
                                     "op.replay", "setup.base_load")]), "s"),
        "cdc.epoch_s": (median(run.facts.get("epoch_walls", [])), "s"),
        "cdc.pending_noop_s": (median([s.dur for s in spans
                                       if s.name == "cdc.replay_events"
                                       and parent.get(s.parent) == "op.noop_replay"]), "s"),
    }
    rounds = [s for s in timed if s.name == "streaming.round"]
    merge_in = {r.id: sum(c.dur for c in kids.get(r.id, [])
                          if c.name == "lake.merge") for r in rounds}
    batches = (run.facts.get("listener").batches
               if run.facts.get("listener") else [])
    out.update({
        "streaming.round_s": (median([r.dur for r in rounds]), "s"),
        "streaming.trigger_s": (median([b.get("triggerExecution", 0) / 1e3
                                        for b in batches]), "s"),
        "streaming.add_batch_s": (median([b.get("addBatch", 0) / 1e3
                                          for b in batches]), "s"),
        "streaming.overhead_s": (median([r.dur - merge_in[r.id]
                                         for r in rounds]), "s"),
    })
    out["lake.merge_s"] = (median(durs("lake.merge")), "s")
    for key, unit in (("jobs", "count"), ("tasks", "count"),
                      ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                      ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
                      ("gc_s", "s")):
        out[f"lake.merge.{key}"] = (per_call("lake.merge", key,
                                             skip=("lake.compact",)), unit)
    out["lake.merge.files_written"] = (attr("lake.merge", "files_written"), "count")
    out["lake.merge.bytes_written"] = (attr("lake.merge", "bytes_written"), "bytes")
    out["lake.compact_s"] = (median(durs("lake.compact")), "s")
    for key, unit in (("buckets", "count"), ("bytes_in", "bytes"),
                      ("bytes_out", "bytes")):
        out[f"lake.compact.{key}"] = (attr("lake.compact", key), unit)
    out["lake.compact.executor_run_s"] = (per_call("lake.compact", "executor_run_s"), "s")
    out["lake.compact.shuffle_write_bytes"] = (
        per_call("lake.compact", "shuffle_write_bytes"), "bytes")
    out.update({
        "lake.snapshot_bytes": (layout["snapshot_bytes"], "bytes"),
        "lake.snapshot_load_s": (median(durs("lake.current_snapshot")), "s"),
        "lake.live_files": (len(layout["files"]), "count"),
        "lake.generations_max": (layout["generations_max"], "count"),
    })
    look = run.facts.get("lookup_plan", [])
    feed = run.facts.get("feed", [])
    out.update({
        "lake.lookup_s": (median(durs("op.lookup")), "s"),
        "lake.lookup.plan_s": (median([s.dur for s in timed if s.name == "lake.lookup"
                                       and parent.get(s.parent) == "op.lookup"]), "s"),
        "lake.lookup.buckets": (median([x["buckets"] for x in look]), "count"),
        "lake.lookup.files_read": (median([x["files_read"] for x in look]), "count"),
        "lake.lookup.files_pruned": (median([x["files_pruned"] for x in look]), "count"),
        "lake.lookup.files_read_per_row": (median([
            x["files_read"] / max(x["rows"], 1) for x in look]), "ratio"),
        "lake.scan_s": (median(durs("op.scan")), "s"),
        "lake.scan.files_read": (len(layout["files"]), "count"),
        "lake.scan.mor_files": (layout["mor_files"], "count"),
        "lake.scan.executor_run_s": (per_call("op.scan", "executor_run_s"), "s"),
        "lake.scan.shuffle_write_bytes": (per_call("op.scan", "shuffle_write_bytes"), "bytes"),
        "lake.changes_s": (median(durs("op.feed")), "s"),
        "lake.changes.files": (median([f for f, _ in feed]), "count"),
        "lake.changes.rows": (median([r for _, r in feed]), "count"),
    })
    wall = t1 - t0
    top = sum(s.dur for s in timed if s.parent is None)
    out["trace.coverage"] = (top / wall if wall > 0 else 0.0, "ratio")
    out["trace.timed_wall_s"] = (wall, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


if __name__ == "__main__":
    sys.exit(main())
