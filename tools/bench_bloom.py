"""Quantify Bloom-filter file skipping on the CDC point-read shape.

Builds the same deterministic WAL twice into two identical merge-on-read
tables (multi-epoch deltas left UN-compacted — the CDC-tail state where a
bucket holds one file per epoch and zone maps on the hash-scattered key
columns refute nothing), one with ``bloom_cols`` on the key, one without,
then measures k-key ``lookup()`` wall time and files read/pruned on both.

Usage: python tools/bench_bloom.py [events] [epochs] [n_buckets] [reps]
Prints one JSON line; quote it in PLANS.md / README evidence.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    events = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 5

    from etl_spark.cdc import replay_events, synth_events, write_event_epochs
    from etl_spark.session import get_spark

    scratch = tempfile.mkdtemp(prefix="bloombench_", dir="/dev/shm")
    spark = get_spark(
        app_name="bench-bloom", master="local[8]", shuffle_partitions=16,
        extra_conf={"spark.local.dir": os.path.join(scratch, "shuffle")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wal = os.path.join(scratch, "wal")
        write_event_epochs(
            synth_events(spark, events, n_repos=2000, paths_per_repo=2000,
                         n_epochs=epochs, seed=42, partitions=32), wal)
        # un-compacted CDC tail: every epoch leaves its delta files in place
        base = {"batch_dedup": "false",
                "compact_threshold": str(10 * epochs)}
        tables = {}
        # COMPOSITE entry: per-column blooms measured useless here (~85%
        # of all repos/paths appear in every file — 25/512 pruned, 1.0x);
        # only the (repo, path) PAIR discriminates files.
        for name, extra in (("plain", {}),
                            ("bloom", {"bloom_cols": "repo|path",
                                       "bloom_bits": "auto"})):
            t, _ = replay_events(
                spark, wal, os.path.join(scratch, name), n_buckets=n_buckets,
                table_props={**base, **extra})
            tables[name] = t

        # COLD keys (exactly one WAL event => present in ONE epoch file):
        # the representative CDC point read — "what is the current state
        # of this rarely-touched file?". Hot keys appear in every epoch
        # delta of their bucket, so nothing can prune them; cold keys let
        # the composite bloom drop all-but-one epoch file per bucket.
        from pyspark.sql import functions as F

        keys = [
            (r["repo"], r["path"])
            for r in spark.read.parquet(wal).groupBy("repo", "path")
            .count().filter(F.col("count") == 1).limit(16).collect()
        ]

        out: dict[str, dict] = {}
        for name, t in tables.items():
            # count files over the PROBED BUCKETS only — the same file
            # set lookup() actually plans — so files_read/pruned is the
            # real I/O delta, not an all-bucket diagnostic.
            snap = t.current_snapshot()
            key_rows = spark.createDataFrame(keys, "repo string, path string")
            want = sorted({
                r["__b"] for r in key_rows.select(
                    t.bucket_expr(snap).alias("__b")).collect()
            })
            where = [("repo", "in", [k[0] for k in keys]),
                     ("path", "in", [k[1] for k in keys]),
                     (("repo", "path"), "in", keys)]
            counts = t.scan_counts(where=where, buckets=want)
            best = None
            n_rows = 0
            for _ in range(reps + 1):  # first rep = warmup
                t0 = time.monotonic()
                n_rows = t.lookup(keys).count()
                dt = time.monotonic() - t0
                if best is None or dt < best:
                    best = dt
            out[name] = {**counts, "lookup_sec": round(best, 3),
                         "rows": n_rows}
        assert out["plain"]["rows"] == out["bloom"]["rows"]
        print(json.dumps({
            "metric": "bloom_point_lookup_speedup",
            "value": round(out["plain"]["lookup_sec"]
                           / out["bloom"]["lookup_sec"], 2),
            "unit": "x",
            "events": events, "epochs": epochs, "n_buckets": n_buckets,
            "plain": out["plain"], "bloom": out["bloom"],
        }))
    finally:
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
