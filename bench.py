"""Benchmark harness (driver-run, one JSON line on stdout).

Headline: change-events/sec applied through the full CDC replay path
(synth WAL → epoch MERGE into LakeTable) — the BASELINE.json primary metric
— plus wall-times for representative operator queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1).

Env knobs:
  SPARK_GRAFT_SF_DIR     parquet table dir   (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS       local[N] parallelism (default 32)
  BENCH_EVENTS           WAL size for the replay benchmark (default 2_000_000)
  BENCH_SKIP_QUERIES     "1" => replay benchmark only (used by the scaling
                         harness, tools/bench_scaling.py)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def loadavg() -> list[float]:
    """The host's 1/5/15-minute load averages. Recorded at the start and
    the end of a run, with ``nproc``, beside the ``cpus`` it requested:
    neighbour load on a shared host moves every number above by more
    than 2x."""
    return [round(x, 2) for x in os.getloadavg()]


def run_replay_bench(spark, n_events: int, n_buckets: int, parallelism: int,
                     reps: int = 3):
    """Generate a deterministic WAL once, replay it ``reps`` times (after a
    JIT warmup), report the best rep — the same protocol BENCH/BASELINE.md
    uses, so the driver-run headline and the repo's scaling evidence are
    the same quantity. Single-shot numbers on this sandbox swing >2× with
    neighbor load (hypervisor sharing); best-of-N is the noise floor."""
    from etl_spark.cdc import replay_events, synth_events, write_event_epochs

    # RAM-backed workdir when available: on a real N-executor cluster,
    # shuffle/scratch I/O bandwidth scales with N (per-executor local disks);
    # a single box funnels it through one device, which would understate
    # scaling. tmpfs is the honest single-node stand-in.
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    root = tempfile.mkdtemp(prefix="etl_spark_bench_", dir=base)
    wal = os.path.join(root, "wal")
    # write-optimized CDC-tail config: deltas land as-is (read-time LWW +
    # compaction resolve winners, 2.1x dedup-on-write throughput)
    props = {"batch_dedup": "false"}
    try:
        t0 = time.monotonic()
        ev = synth_events(
            spark, n_events,
            n_repos=2000, paths_per_repo=2000, n_epochs=4,
            seed=42, hot_pct=30, partitions=2 * parallelism,
        )
        write_event_epochs(ev, wal)
        t_gen = time.monotonic() - t0

        # JIT/codegen warmup: replay a small separate WAL into a throwaway
        # table (same plan shapes, ~2% of the work)
        warm_wal = os.path.join(root, "warm_wal")
        write_event_epochs(
            synth_events(spark, max(n_events // 40, 10_000), n_repos=200,
                         paths_per_repo=200, n_epochs=4, seed=7,
                         partitions=2 * parallelism),
            warm_wal,
        )
        warm, _ = replay_events(spark, warm_wal, os.path.join(root, "warm"),
                                n_buckets=n_buckets, table_props=props)
        warm.read().count()
        warm.drop()

        walls = []
        rows_final = 0
        n_epochs = 0
        for r in range(reps):
            tbl = os.path.join(root, f"tbl{r}")
            t0 = time.monotonic()
            table, stats = replay_events(spark, wal, tbl, n_buckets=n_buckets,
                                         table_props=props)
            walls.append(time.monotonic() - t0)
            n_epochs = len(stats)
            if r == reps - 1:
                rows_final = table.read().count()
            table.drop()
        best = min(walls)
        # ~5% duplicate re-deliveries are part of the stream (see synth_events)
        total_events = int(n_events * 1.05)
        return {
            "wal_gen_sec": round(t_gen, 2),
            "replay_sec": round(best, 2),
            "replay_sec_reps": [round(w, 2) for w in walls],
            "events_per_sec": round(total_events / best, 1),
            "epochs": n_epochs,
            "final_rows": rows_final,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


BENCH_QUERIES = [
    "cdc_lww_latest_state",
    "cdc_replay_final_state",
    "cdc_envelope_ingest",
    # cdc_change_feed and cdc_dedup_ingest are deliberately absent: their
    # wall time is dominated by building a multi-merge LakeTable fixture,
    # not by the operator under measurement — both are correctness-gated
    "depara_projection",
    "dim_broadcast_enrich",
    "asof_join_rules",
    "pricing_summary",
    "melt_metrics",
    "session_windows",
    "scd2_history",
    "dedup_exact",
    "minhash_lsh_buckets",
    "ngram_jaccard",
    "simhash_groups",
    "text_quality",
    "ann_bruteforce",
    "ann_lsh",
    "ann_multiprobe",
    "ann_ivf",
    "decontamination",
    "pack_budget",
    "quality_repetition",
    "incremental_dedup",
    "salient_terms",
    "mix_sample",
    "chunk_documents",
    "pii_scrub",
    "kmeans_clusters",
    "order_revenue_topk",
    # incremental-consumer tier (round 4): end-to-end wall time INCLUDES
    # building the upstream LakeTable fixture — unlike the exclusions
    # above, here the maintenance rounds themselves are the dominant and
    # interesting cost, and round-over-round regressions in the merge /
    # sync / close paths show up nowhere else
    "cdc_incremental_sync",
    "cdc_patch_upsert",
    "incremental_agg_sync",
    "join_view_sync",
    "rollup_recompute_sync",
    "scd2_incremental",
    "cdc_purge_erasure",
    "scd2_purge_erasure",
    "bloom_point_lookup",
    "bloom_pair_lookup",
    # onboarding/audit tier (late round 4): bootstrap wall time is the
    # chunked-merge path itself; gap audit is the no-global-sort window
    "cdc_bootstrap_handoff",
    "wire_gap_audit",
    "consistent_read_group",
    "sketch_distinct_sync",
    "type_promotion_read",
    "dml_update_where",
    # wire tier (round 5): multi-table envelope routing and the
    # transaction-boundary gate were driver-green since round 4 but never
    # inside the driver's bench artifact — like the consumer tier above,
    # their end-to-end wall (fixture merges included) is the quantity a
    # regression would show up in; z-order + WAP are the round-5
    # layout/commit paths
    "envelope_route_fanout",
    "txn_boundary_gate",
    "cdc_state_zorder_read",
    "wap_publish",
    # refs + metadata tables (round 5): end-to-end scenario walls like the
    # consumer tier — multi-merge fixture + expire/vacuum (refs) and a
    # compaction + executor-side footer sweep (meta)
    "snapshot_ref_read",
    "lake_metadata_audit",
    "constraint_merge_gate",
    # metadata-plane aggregates (round 5): footer-tier count/min-max over
    # a three-tier staged layout — the wall is fixture merges + two
    # compactions + the footer sweep
    "metadata_agg_pushdown",
    # schema-evolution + layout-exploiting joins (round 5): rename is the
    # metadata-only commit + cross-vintage coalesce read; SPJ is the
    # zero-Exchange co-bucketed join (wall includes both fixture merges)
    "rename_evolution_read",
    "spj_cobucket_join",
    # layout evolution + integrity (round 5): rescale is the watermark-
    # routed grow with mid-flight merges plus a metadata-only shrink
    # (wall includes four fixture merges and every migration step); the
    # audit is three fsck planes incl. the deep row-placement scan
    "bucket_rescale_read",
    "integrity_audit",
    "default_column_read",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    load_start = loadavg()
    # 8M events amortizes per-merge fixed costs at local[32] (2M is
    # overhead-bound: ~150k evt/s vs ~550k at 8M on idle hardware).
    n_events = int(os.environ.get("BENCH_EVENTS", "8000000"))
    skip_queries = os.environ.get("BENCH_SKIP_QUERIES") == "1"

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from etl_spark.queries import QUERIES
    from etl_spark.session import get_spark

    extra = {}
    shuffle_dir = None
    if os.path.isdir("/dev/shm"):
        shuffle_dir = tempfile.mkdtemp(prefix="etl_spark_shuffle_", dir="/dev/shm")
        extra["spark.local.dir"] = shuffle_dir
    spark = get_spark(app_name="etl_spark-bench", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus, extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")

    # n_buckets is a *layout* property — fixed across parallelism levels so
    # the scaling comparison (local[8] vs local[32]) runs the same workload.
    n_buckets = int(os.environ.get("BENCH_BUCKETS", "64"))
    reps = int(os.environ.get("BENCH_REPS", "3"))
    replay = run_replay_bench(spark, n_events, n_buckets=n_buckets,
                              parallelism=cpus, reps=reps)

    queries: dict[str, float] = {}
    if not skip_queries:
        # best-of-N per query: single-shot numbers on this sandbox swing
        # >2x between runs even on an idle box (JIT state + neighbor
        # noise); the first rep doubles as the codegen warmup.
        q_reps = int(os.environ.get("BENCH_QUERY_REPS", "2"))
        for name in BENCH_QUERIES:
            fn = QUERIES[name]
            best = None
            try:
                for _ in range(q_reps):
                    t0 = time.monotonic()
                    # count() is the driver-independent "run it" action;
                    # query payloads were validated in the correctness gate.
                    fn(spark, sf_dir).count()
                    dt = time.monotonic() - t0
                    best = dt if best is None or dt < best else best
            except Exception as exc:  # noqa: BLE001 — one bad query must
                # not zero out the whole round's benchmark artifact; the
                # correctness gate is where failures should be fatal.
                print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
                queries[name] = None
                continue
            queries[name] = round(best, 2)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "cdc_replay_events_per_sec",
        "value": replay["events_per_sec"],
        "unit": "events/sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "replay": replay,
        "cpus": cpus,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
        "bench_events": n_events,
    }
    print(json.dumps(out))
    from etl_spark.queries import cleanup_scratch
    cleanup_scratch()  # table-building queries leave lazy-read scratch dirs
    spark.stop()
    if shuffle_dir:
        # tmpfs scratch is RAM: leaking it across runs starves later jobs
        shutil.rmtree(shuffle_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
