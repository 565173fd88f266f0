"""Paired A/B probe for merge-path variants: run both table configs
ALTERNATELY inside ONE JVM (shared JIT, adjacent noise windows), print
per-pair walls and the median B/A ratio. The sandbox's neighbor noise
swings single-shot runs by ±20%, so only paired ratios are trustworthy.

Usage: python tools/ab_probe.py CPUS PAIRS '{"propA": "..."}' '{"propB": ...}'
Env: SCALE_WAL_DIR (generated WAL root), AB_EVENTS (default 64M -> label).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CODE = r"""
import json, os, shutil, statistics, sys, tempfile, time
sys.path.insert(0, {repo!r})
from etl_spark.session import get_spark
from etl_spark.lake import LakeTable
from pyspark.sql.types import StructType

cpus = {cpus}
wal = {wal_root!r} + "/wal"
props_a = {props_a}
props_b = {props_b}
scratch = tempfile.mkdtemp(prefix=f"ab{{cpus}}_", dir="/dev/shm")
spark = get_spark(
    app_name=f"ab-{{cpus}}", master=f"local[{{cpus}}]",
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

base = {{"batch_dedup": "false"}}
wtbl = LakeTable.create(spark, os.path.join(scratch, "warm"), user,
                        ["repo", "path"], ["op_ts", "event_id"], n_buckets=8,
                        props=base)
wtbl.merge(spark.read.parquet(os.path.join(wal, "epoch=0")).limit(20000), "warm")

def leg(tag, props):
    tpath = os.path.join(scratch, f"tbl_{{tag}}")
    p = dict(base); p.update(props)
    tbl = LakeTable.create(spark, tpath, user, ["repo", "path"],
                           ["op_ts", "event_id"], n_buckets=64, props=p)
    t0 = time.monotonic()
    for e in range({epochs}):
        tbl.merge(spark.read.schema(file_schema).parquet(
            os.path.join(wal, f"epoch={{e}}")), f"epoch:{{e}}")
    dt = time.monotonic() - t0
    files = sum(len(fl) for fl in tbl.current_snapshot().buckets.values())
    shutil.rmtree(tpath, ignore_errors=True)
    return dt, files

pairs = []
for i in range({pairs}):
    a, fa = leg(f"a{{i}}", props_a)
    b, fb = leg(f"b{{i}}", props_b)
    pairs.append({{"a": round(a, 2), "b": round(b, 2),
                  "ratio_b_over_a": round(b / a, 3),
                  "files_a": fa, "files_b": fb,
                  "load": round(os.getloadavg()[0], 2)}})
    print(json.dumps(pairs[-1]), flush=True)

print(json.dumps({{"median_ratio_b_over_a":
                  statistics.median(p["ratio_b_over_a"] for p in pairs),
                  "pairs": pairs}}))
spark.stop()
shutil.rmtree(scratch, ignore_errors=True)
"""


def main() -> None:
    cpus = int(sys.argv[1])
    n_pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    props_a = sys.argv[3] if len(sys.argv) > 3 else '{"merge_rebalance": "false"}'
    props_b = sys.argv[4] if len(sys.argv) > 4 else '{"merge_rebalance": "true"}'
    epochs = int(os.environ.get("AB_EPOCHS", "4"))
    code = CODE.format(repo=REPO, cpus=cpus, pairs=n_pairs,
                       epochs=epochs,
                       wal_root=os.environ["SCALE_WAL_DIR"],
                       props_a=props_a, props_b=props_b)
    env = dict(os.environ, SPARK_DRIVER_MEMORY="16g")
    out = subprocess.run([sys.executable, "-c", code], text=True, env=env,
                         timeout=6000)
    raise SystemExit(out.returncode)


if __name__ == "__main__":
    main()
