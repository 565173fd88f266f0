"""One-leg calibration probe for the scaling evidence: run a single
replay leg (same job shape as tools/bench_scaling.py's WORKER) with
optional CPU pinning / JVM flags, and print per-epoch wall + JVM
cpu-seconds plus a coarse parallelism profile (fraction of wall spent
below half the nominal cores). Used to attribute the hi leg's idle ~1.1
cores (serial fraction) before changing the evidence protocol.

Usage:
  python tools/scale_probe.py CPUS [--pin 0-7] [--gc parallel]
                              [--events N] [--epochs K] [--reps R]
Env: SCALE_WAL_DIR must point at a generated WAL root (wal/ inside).
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = r"""
import json, os, shutil, sys, tempfile, threading, time
sys.path.insert(0, {repo!r})
from etl_spark.session import get_spark
from etl_spark.lake import LakeTable
from pyspark.sql.types import StructType

cpus = {cpus}
wal = {wal_root!r} + "/wal"
scratch = tempfile.mkdtemp(prefix=f"probe{{cpus}}_", dir="/dev/shm")
spark = get_spark(
    app_name=f"probe-{{cpus}}", master=f"local[{{cpus}}]",
    shuffle_partitions=2 * cpus,
    extra_conf={{
        "spark.local.dir": os.path.join(scratch, "shuffle"),
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    }},
)
spark.sparkContext.setLogLevel("ERROR")
sample = spark.read.parquet(wal)
user = StructType([f for f in sample.schema.fields if f.name not in ("op", "epoch")])
file_schema = StructType([f for f in sample.schema.fields if f.name != "epoch"])

wtbl = LakeTable.create(spark, os.path.join(scratch, "warm"), user,
                        ["repo", "path"], ["op_ts", "event_id"], n_buckets=8,
                        props={{"batch_dedup": "false"}})
wtbl.merge(spark.read.parquet(os.path.join(wal, "epoch=0")).limit(20000), "warm")

import glob
TCK = os.sysconf("SC_CLK_TCK")
def java_cpu_sec():
    total = 0.0
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st.replace("/stat", "/cmdline"), "rb") as fh:
                if b"java" not in fh.read():
                    continue
            parts = open(st).read().rsplit(") ", 1)[1].split()
            total += (int(parts[11]) + int(parts[12])) / TCK
        except Exception:
            pass
    return total

# cpu-rate sampler: 4 Hz trace of d(cpu)/d(t) so phases running below
# half the nominal cores are attributable to wall intervals
trace = []
stop_flag = []
def sampler():
    prev_c, prev_t = java_cpu_sec(), time.monotonic()
    while not stop_flag:
        time.sleep(0.25)
        c, t = java_cpu_sec(), time.monotonic()
        trace.append((t, (c - prev_c) / max(t - prev_t, 1e-9)))
        prev_c, prev_t = c, t

best = None
for r in range({reps}):
    tpath = os.path.join(scratch, f"tbl{{r}}")
    tbl = LakeTable.create(spark, tpath, user, ["repo", "path"],
                           ["op_ts", "event_id"], n_buckets=64,
                           props={{"batch_dedup": "false"}})
    trace.clear()
    th = threading.Thread(target=sampler, daemon=True); th.start()
    epochs_out = []
    cpu0 = java_cpu_sec(); t0 = time.monotonic()
    for e in range({epochs}):
        ec0 = java_cpu_sec(); et0 = time.monotonic()
        tbl.merge(spark.read.schema(file_schema).parquet(
            os.path.join(wal, f"epoch={{e}}")), f"epoch:{{e}}")
        epochs_out.append({{"epoch": e,
                           "wall": round(time.monotonic() - et0, 2),
                           "cpu": round(java_cpu_sec() - ec0, 1)}})
    dt = time.monotonic() - t0
    cpu_used = java_cpu_sec() - cpu0
    stop_flag.append(1); th.join(timeout=2)
    low = sum(1 for _, rate in trace if rate < cpus / 2)
    if best is None or dt < best["replay_sec"]:
        low_spans = []
        # contiguous low-parallelism spans relative to replay start
        span = None
        for t, rate in trace:
            if rate < cpus / 2:
                span = [t - t0, t - t0] if span is None else [span[0], t - t0]
            elif span is not None:
                low_spans.append([round(span[0], 1), round(span[1], 1)])
                span = None
        if span is not None:
            low_spans.append([round(span[0], 1), round(span[1], 1)])
        best = {{"cpus": cpus, "replay_sec": round(dt, 2),
                "events_per_sec": round(int({events} * 1.05) / dt, 1),
                "cpu_sec": round(cpu_used, 1),
                "cores_used": round(cpu_used / dt, 2),
                "low_par_frac": round(low / max(len(trace), 1), 3),
                "low_spans_sec": low_spans[:20],
                "epochs": epochs_out}}
    shutil.rmtree(tpath, ignore_errors=True)

print(json.dumps(best))
spark.stop()
shutil.rmtree(scratch, ignore_errors=True)
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cpus", type=int)
    ap.add_argument("--pin", default=None,
                    help="taskset cpu list, e.g. 0-7 (pins python+JVM)")
    ap.add_argument("--gc", default=None, choices=["parallel", "g1"])
    ap.add_argument("--events", type=int, default=64_000_000)
    ap.add_argument("--epochs", type=int, default=4)
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    wal_root = os.environ["SCALE_WAL_DIR"]
    code = PROBE.format(repo=REPO, cpus=args.cpus, reps=args.reps,
                        epochs=args.epochs, events=args.events,
                        wal_root=wal_root)

    env = dict(os.environ, SPARK_DRIVER_MEMORY="16g")
    if args.gc == "parallel":
        env["SPARK_SUBMIT_OPTS"] = "-XX:+UseParallelGC"
    elif args.gc == "g1":
        env["SPARK_SUBMIT_OPTS"] = "-XX:+UseG1GC"
    cmd = [sys.executable, "-c", code]
    if args.pin:
        cmd = ["taskset", "-c", args.pin] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, env=env,
                         timeout=3000)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(1)
    print(out.stdout.strip().splitlines()[-1])


if __name__ == "__main__":
    main()
