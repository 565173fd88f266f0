"""Wire-tier throughput: Debezium envelopes → flat events → lake MERGE.

Measures the session's flagship ingest path at WAL scale, standalone
from bench.py's replay headline:

1. **serialize** — synth CDC events rendered to JSON envelope lines
   (the fixture; a real deployment receives these bytes from the
   connector), landed on tmpfs as text.
2. **parse** — ``parse_envelopes`` over the landed wire: envelopes/sec
   through the single-from_json projection (count of the good side).
3. **ingest** — parse + LakeTable MERGE into a bucketed table:
   end-to-end wire→lake events/sec.

Protocol matches the repo's benching rules: tmpfs scratch, one untimed
warmup of each timed stage, best-of-N reps, scratch cleaned. Usage:

    python tools/bench_wire.py [events=8000000] [reps=3] [buckets=64]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    events = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 64

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from pyspark.sql import functions as F

    from etl_spark.cdc.envelope import make_envelope, parse_envelopes
    from etl_spark.cdc.events import EVENT_SCHEMA, synth_events
    from etl_spark.lake import LakeTable
    from etl_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="bench-wire", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="bench_wire_", dir="/dev/shm")
    try:
        ev = synth_events(spark, events, n_repos=2000, paths_per_repo=2000,
                          n_epochs=4)
        is_del = F.col("op") == "D"
        payload = F.struct("repo", "path", "commit", "lang", "content")
        key_only = F.struct(
            "repo", "path",
            F.lit(None).cast("string").alias("commit"),
            F.lit(None).cast("string").alias("lang"),
            F.lit(None).cast("string").alias("content"),
        )
        wire_df = ev.select(
            make_envelope(
                op=F.when(is_del, F.lit("d"))
                .when(F.col("op") == "I", F.lit("c"))
                .otherwise(F.lit("u")),
                before=F.when(is_del, key_only),
                after=F.when(~is_del, payload),
                ts_ms=F.unix_millis(F.col("op_ts").cast("timestamp")),
                source=F.named_struct(
                    F.lit("table"), F.lit("files"),
                    F.lit("lsn"), F.col("event_id"),
                ),
            ).alias("value")
        )
        wire_dir = os.path.join(root, "wire")
        t0 = time.monotonic()
        wire_df.write.mode("overwrite").text(wire_dir)
        ser_sec = time.monotonic() - t0

        payload_schema = EVENT_SCHEMA.fields
        from pyspark.sql.types import StructType
        pschema = StructType([f for f in payload_schema
                              if f.name in ("repo", "path", "commit",
                                            "lang", "content")])

        def run_parse() -> float:
            wire = spark.read.text(wire_dir)
            good, _bad = parse_envelopes(wire, pschema)
            t0 = time.monotonic()
            good.count()
            return time.monotonic() - t0

        def run_ingest(i: int) -> float:
            tbl_dir = os.path.join(root, f"tbl{i}")
            from pyspark.sql.types import (
                LongType, StructField, TimestampType)
            table = LakeTable.create(
                spark, tbl_dir,
                StructType([StructField("op_ts", TimestampType()),
                            StructField("seq", LongType())]
                           + list(pschema.fields)),
                key_cols=["repo", "path"], version_cols=["op_ts", "seq"],
                n_buckets=buckets,
                props={"batch_dedup": "false"},
            )
            wire = spark.read.text(wire_dir)
            good, _bad = parse_envelopes(wire, pschema)
            t0 = time.monotonic()
            table.merge(good.drop("_table"), manifest_key="wire:0")
            sec = time.monotonic() - t0
            shutil.rmtree(tbl_dir, ignore_errors=True)
            return sec

        run_parse()  # warmup (JIT) — untimed
        parse_sec = min(run_parse() for _ in range(reps))
        run_ingest(99)  # warmup
        ingest_sec = min(run_ingest(i) for i in range(reps))

        print(json.dumps({
            "metric": "wire_ingest_events_per_sec",
            "events": events,
            "serialize_sec": round(ser_sec, 2),
            "parse_sec": round(parse_sec, 2),
            "parse_events_per_sec": round(events / parse_sec, 1),
            "ingest_sec": round(ingest_sec, 2),
            "ingest_events_per_sec": round(events / ingest_sec, 1),
            "cpus": cpus,
            "reps": reps,
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
