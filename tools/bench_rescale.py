"""Paired benchmark: incremental rescale (start_rescale / rescale_step)
vs the atomic rebucket() rewrite, plus the price a live merge pays
mid-rescale.

Four claims, each measured in the SAME JVM under the usual anti-noise
protocol (tmpfs scratch, warmup first, best/median over interleaved
rounds, never co-run with another Spark job):

1. **start is metadata-only.** A grow start touches no data files —
   wall is snapshot-write latency regardless of table size.
2. **A step is O(bucket), not O(table).** One rescale_step over a
   1/n_buckets slice costs ~1/n_buckets of the atomic rebucket wall;
   the SUM of all steps lands near one rebucket (same bytes read and
   written, paid in resumable, budget-boundable installments that
   never hold a multi-hour commit open against racing writers).
3. **A merge mid-rescale costs what a steady-state merge costs.** The
   routing CASE (lake/table.py::_route_of) is one codegen'd branch per
   row; paired same-batch merges into an idle table vs a half-migrated
   one measure the delta.
4. **Shrink is metadata-only.** A divisor shrink commits instantly at
   any size (file lists merge; nothing is read or written).

Usage: python tools/bench_rescale.py [rows] [n_buckets] [factor] [reps]
Env:   SPARK_GRAFT_CPUS (default 8), RESCALE_SCRATCH (default /dev/shm)
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
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    scratch = tempfile.mkdtemp(
        prefix="rescale_bench_",
        dir=os.environ.get("RESCALE_SCRATCH", "/dev/shm"))

    from pyspark.sql import functions as F

    from etl_spark.lake import LakeTable
    from etl_spark.session import get_spark

    spark = get_spark(app_name="bench-rescale", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus,
                      extra_conf={"spark.local.dir": scratch + "/sh"})
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"rows": rows, "n_buckets": n_buckets, "factor": factor,
                 "cpus": cpus, "reps": reps}
    try:
        def synth(n, seed_mul):
            return (spark.range(n)
                    .withColumn("repo", F.concat(
                        F.lit("r"), (F.col("id") % 5000).cast("string")))
                    .withColumn("path", F.concat(
                        F.lit("p"), (F.col("id") % 1231).cast("string")))
                    .withColumn("event_id",
                                F.col("id") * seed_mul + seed_mul)
                    .withColumn("op", F.lit("I"))
                    .withColumn("content",
                                F.sha2(F.col("id").cast("string"), 256))
                    .drop("id"))

        def build(name):
            t = LakeTable.create(
                spark, os.path.join(scratch, name),
                synth(1, 1).drop("op").schema,
                key_cols=["repo", "path"], version_cols=["event_id"],
                n_buckets=n_buckets)
            t.merge(synth(rows, 3), manifest_key="base:0")
            t.compact()
            return t

        # ---- claim 2: step O(bucket) vs atomic rebucket O(table) ----
        # interleaved pairs: each round builds both tables fresh and
        # times rebucket on one, a single first step on the other
        rebucket_walls, step_walls, stepsum_walls = [], [], []
        for r in range(reps):
            ta = build(f"atomic_{r}")
            ti = build(f"incr_{r}")
            t0 = time.perf_counter()
            ta.rebucket(factor * n_buckets)
            rebucket_walls.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            ti.start_rescale(factor * n_buckets)
            start_wall = time.perf_counter() - t0
            out.setdefault("start_walls", []).append(round(start_wall, 4))
            t0 = time.perf_counter()
            ti.rescale_step(max_buckets=1)
            step_walls.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            while ti.rescale_status():
                ti.rescale_step(max_buckets=1)
            stepsum_walls.append(
                (time.perf_counter() - t0) + step_walls[-1])
            for t in (ta, ti):
                shutil.rmtree(t.path, ignore_errors=True)
        out["rebucket_best_s"] = round(min(rebucket_walls), 3)
        out["first_step_best_s"] = round(min(step_walls), 3)
        out["all_steps_best_s"] = round(min(stepsum_walls), 3)
        out["step_vs_rebucket"] = round(
            min(step_walls) / min(rebucket_walls), 4)
        out["fair_share"] = round(1.0 / n_buckets, 4)

        # ---- claim 3: merge price mid-rescale vs steady state --------
        steady = build("m_steady")
        mid = build("m_mid")
        mid.start_rescale(factor * n_buckets)
        mid.rescale_step(max_buckets=n_buckets // 2)  # half-migrated
        batch_rows = max(rows // 8, 100_000)
        mw_steady, mw_mid = [], []
        for r in range(reps + 1):  # +1 warmup, dropped below
            b = synth(batch_rows, 7 + 2 * r)
            t0 = time.perf_counter()
            steady.merge(b, manifest_key=f"s:{r}")
            mw_steady.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            mid.merge(b, manifest_key=f"m:{r}")
            mw_mid.append(time.perf_counter() - t0)
        out["merge_steady_best_s"] = round(min(mw_steady[1:]), 3)
        out["merge_midrescale_best_s"] = round(min(mw_mid[1:]), 3)
        out["merge_mid_over_steady"] = round(
            min(mw_mid[1:]) / min(mw_steady[1:]), 4)

        # ---- claims 1+4: start / shrink are metadata-only -------------
        t0 = time.perf_counter()
        while mid.rescale_status():
            mid.rescale_step(max_buckets=n_buckets)
        out["drain_remaining_s"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        mid.start_rescale(n_buckets)  # divisor: metadata-only shrink
        out["shrink_wall_s"] = round(time.perf_counter() - t0, 4)
        assert mid.current_snapshot().n_buckets == n_buckets

        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
