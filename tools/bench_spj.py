"""Paired benchmark: storage-partitioned join (lake/spj.cobucket_join)
vs the plain shuffle join Catalyst plans for the same two tables.

Three variants compute the identical inner join of two co-bucketed
LakeTables (same snapshots, same rows) and are timed in the SAME JVM,
interleaved warmup-then-best-of-R — the usual anti-noise protocol
(project notes):

* ``spj``       — cobucket_join: Range -> MapInArrow, zero Exchange;
* ``plain``     — read().join(read()) with whatever strategy Catalyst
                  picks at this size (often BroadcastHashJoin — legal
                  only while one side fits the 64 MB threshold);
* ``plain_smj`` — the same join with broadcast disabled (both
                  thresholds -1): the sort-merge plan that shuffles
                  BOTH sides, i.e. the ONLY plan available at 100 TB
                  where neither fact table broadcasts. This is the
                  at-scale comparator for the SPJ claim.

Reported: wall per variant, speedups, and the Exchange count straight
from each executed plan.

``merges`` > 1 lands that many delta generations per table (same keys,
rising versions) WITHOUT compacting — the steady-state shape of a table
under continuous CDC ingest. There the plain plan pays a merge-on-read
LWW resolve (its own Exchange + aggregate per side) before it can even
join, while SPJ resolves LWW inside each bucket task where the files
lie.

Usage: python tools/bench_spj.py [rows_left] [rows_right] [n_buckets]
                                 [reps] [merges]
Env:   SPARK_GRAFT_CPUS (default 8), SPJ_SCRATCH (default /dev/shm)
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
    rows_l = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    rows_r = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 64
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    merges = int(sys.argv[5]) if len(sys.argv) > 5 else 1
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    scratch = tempfile.mkdtemp(prefix="spj_bench_",
                               dir=os.environ.get("SPJ_SCRATCH", "/dev/shm"))
    from pyspark.sql import functions as F

    from etl_spark.lake import LakeTable, cobucket_join
    from etl_spark.session import get_spark

    spark = get_spark(app_name="bench-spj", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus,
                      extra_conf={"spark.local.dir": scratch + "/sh"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        def synth(n, seed_mul, payload):
            # deterministic key skew-free synthesis: keys shared across
            # sides by construction (repo/path grid), unique versions
            return (spark.range(n)
                    .withColumn("repo", F.concat(
                        F.lit("r"), (F.col("id") % 3000).cast("string")))
                    .withColumn("path", F.concat(
                        F.lit("p"), (F.col("id") % 977).cast("string")))
                    .withColumn("event_id",
                                F.col("id") * seed_mul + seed_mul)
                    .withColumn("op", F.lit("I"))
                    .withColumn(payload,
                                (F.col("id") * 7 % 100000).cast("long"))
                    .drop("id"))

        lt = LakeTable.create(
            spark, os.path.join(scratch, "l"),
            synth(1, 1, "size").drop("op").schema,
            key_cols=["repo", "path"], version_cols=["event_id"],
            n_buckets=n_buckets)
        rt = LakeTable.create(
            spark, os.path.join(scratch, "r"),
            synth(1, 1, "stars").drop("op").schema,
            key_cols=["repo", "path"], version_cols=["event_id"],
            n_buckets=n_buckets)
        for i in range(merges):
            lt.merge(synth(rows_l, 3 + 2 * i, "size"),
                     manifest_key=f"l:{i}")
            rt.merge(synth(rows_r, 5 + 2 * i, "stars"),
                     manifest_key=f"r:{i}")

        BCAST = ("spark.sql.autoBroadcastJoinThreshold",
                 "spark.sql.adaptive.autoBroadcastJoinThreshold")

        class no_broadcast:
            def __enter__(self):
                self.saved = [spark.conf.get(k, None) for k in BCAST]
                for k in BCAST:
                    spark.conf.set(k, "-1")

            def __exit__(self, *exc):
                for k, v in zip(BCAST, self.saved):
                    if v is None:
                        spark.conf.unset(k)
                    else:
                        spark.conf.set(k, v)

        def spj():
            return cobucket_join(lt, rt)

        def plain():
            r = rt.read().withColumnsRenamed({"event_id": "event_id_r"})
            return lt.read().join(r, on=["repo", "path"], how="inner")

        def run_count(name, fn):
            if name == "plain_smj":
                with no_broadcast():
                    return fn().count()
            return fn().count()

        def exchanges(name, fn):
            if name == "plain_smj":
                with no_broadcast():
                    df = fn()
                    df.count()
                    plan = df._jdf.queryExecution().executedPlan().toString()
            else:
                df = fn()
                df.count()
                plan = df._jdf.queryExecution().executedPlan().toString()
            return plan.count("Exchange")

        variants = (("spj", spj), ("plain", plain), ("plain_smj", plain))
        # warmup all (JIT + Python worker pool), then interleave reps
        counts = {name: run_count(name, fn) for name, fn in variants}
        assert len(set(counts.values())) == 1, counts
        walls = {name: [] for name, _ in variants}
        for _ in range(reps):
            for name, fn in variants:
                t0 = time.monotonic()
                run_count(name, fn)
                walls[name].append(time.monotonic() - t0)
        best = {k: min(v) for k, v in walls.items()}
        out = {
            "rows_left": rows_l, "rows_right": rows_r,
            "n_buckets": n_buckets, "cpus": cpus, "merges": merges,
            "join_rows": counts["spj"],
            "spj_sec": round(best["spj"], 3),
            "plain_sec": round(best["plain"], 3),
            "plain_smj_sec": round(best["plain_smj"], 3),
            "speedup_vs_plain": round(best["plain"] / best["spj"], 2),
            "speedup_vs_smj": round(best["plain_smj"] / best["spj"], 2),
            "exchanges": {name: exchanges(name, fn)
                          for name, fn in variants},
            "reps": reps,
            "walls": {k: [round(x, 3) for x in v]
                      for k, v in walls.items()},
        }
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
