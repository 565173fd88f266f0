"""Decompose replay wall time into scaling vs fixed cost (diagnostic).

Measures, at a given parallelism level, per-epoch merge walls for the
scaling-bench workload plus the per-merge FLOOR (a near-empty batch
through the same code path). The floor is the Amdahl serial fraction
candidate: job scheduling, planning, snapshot/manifest IO, publish
renames — everything that does not shrink with more cores.

Usage: python tools/profile_replay.py [events] [epochs] [cpus ...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GEN = r"""
import sys
sys.path.insert(0, {repo!r})
from etl_spark.session import get_spark
from etl_spark.cdc import synth_events, write_event_epochs
spark = get_spark(app_name="prof-gen", master="local[32]", shuffle_partitions=64,
                  extra_conf={{"spark.local.dir": {wal_root!r} + "/shgen"}})
spark.sparkContext.setLogLevel("ERROR")
ev = synth_events(spark, {events}, n_repos=2000, paths_per_repo=2000,
                  n_epochs={epochs}, seed=42, hot_pct=30, partitions=64)
write_event_epochs(ev, {wal_root!r} + "/wal")
spark.stop()
print("gen done")
"""

WORKER = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from etl_spark.session import get_spark
from etl_spark.lake import LakeTable
from pyspark.sql.types import StructType

cpus = {cpus}
wal = {wal_root!r} + "/wal"
scratch = tempfile.mkdtemp(prefix=f"prof{{cpus}}_", dir="/dev/shm")
spark = get_spark(
    app_name=f"prof-{{cpus}}", master=f"local[{{cpus}}]",
    shuffle_partitions=2 * cpus,
    extra_conf={{
        "spark.local.dir": os.path.join(scratch, "shuffle"),
        "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    }},
)
spark.sparkContext.setLogLevel("ERROR")
sample = spark.read.parquet(wal)
user = StructType([f for f in sample.schema.fields if f.name not in ("op", "epoch")])

wtbl = LakeTable.create(spark, os.path.join(scratch, "warm"), user,
                        ["repo", "path"], ["op_ts", "event_id"], n_buckets=8,
                        props={{"batch_dedup": "false"}})
wtbl.merge(spark.read.parquet(os.path.join(wal, "epoch=0")).limit(20000), "warm")

out = {{"cpus": cpus}}

# ---- floor: 5 near-empty merges through the full 64-bucket path ----
ftbl = LakeTable.create(spark, os.path.join(scratch, "floor"), user,
                        ["repo", "path"], ["op_ts", "event_id"], n_buckets=64,
                        props={{"batch_dedup": "false"}})
tiny = spark.read.parquet(os.path.join(wal, "epoch=0")).limit(2000)
tiny = tiny.localCheckpoint()  # exclude source read from the floor
floors = []
for i in range(5):
    t0 = time.monotonic()
    ftbl.merge(tiny, f"floor:{{i}}")
    floors.append(round(time.monotonic() - t0, 3))
out["floor_per_merge_s"] = floors

# ---- full replay with per-phase split: read vs merge ----
tpath = os.path.join(scratch, "tbl")
tbl = LakeTable.create(spark, tpath, user, ["repo", "path"],
                       ["op_ts", "event_id"], n_buckets=64,
                       props={{"batch_dedup": "false"}})
epochs = []
t_all = time.monotonic()
for e in range({epochs}):
    t0 = time.monotonic()
    batch = spark.read.parquet(os.path.join(wal, f"epoch={{e}}"))
    t1 = time.monotonic()
    tbl.merge(batch, f"epoch:{{e}}")
    t2 = time.monotonic()
    epochs.append({{"read_plan_s": round(t1 - t0, 3),
                    "merge_s": round(t2 - t0, 3)}})
out["epochs"] = epochs
out["replay_s"] = round(time.monotonic() - t_all, 2)
print(json.dumps(out))
spark.stop()
shutil.rmtree(scratch, ignore_errors=True)
"""


def _run(code: str) -> str:
    env = dict(os.environ, SPARK_DRIVER_MEMORY="16g")
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, env=env, timeout=3000)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError("subprocess failed")
    return out.stdout.strip().splitlines()[-1]


def main() -> None:
    events = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    epochs = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    levels = [int(a) for a in sys.argv[3:]] or [2, 8]
    import shutil

    wal_root = tempfile.mkdtemp(prefix="prof_wal_", dir="/dev/shm")
    try:
        _run(GEN.format(repo=REPO, events=events, epochs=epochs, wal_root=wal_root))
        for cpus in levels:
            r = json.loads(_run(WORKER.format(
                repo=REPO, cpus=cpus, epochs=epochs, wal_root=wal_root)))
            print(json.dumps(r, indent=1))
    finally:
        shutil.rmtree(wal_root, ignore_errors=True)


if __name__ == "__main__":
    main()
