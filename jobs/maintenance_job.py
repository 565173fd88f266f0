"""spark-submit entry point: LakeTable maintenance (the Iceberg-actions
surface — compaction, snapshot expiry, orphan-file vacuum).

Ship as:

    python tools/package.py                       # -> dist/etl_spark.zip
    spark-submit --py-files dist/etl_spark.zip \
        jobs/maintenance_job.py --table-path TBL \
        [--compact] [--expire-keep-last N] \
        [--vacuum-older-than-sec S] [--rebucket N] \
        [--rescale-to N [--rescale-step-buckets K] \
         [--rescale-budget-bytes B]] \
        [--auto-rescale-max-bucket-bytes B] \
        [--fsck | --fsck-deep] \
        [--expire-tombstones-before 2024-01-01T00:00:00] \
        [--add-column tier:string:bronze] \
        [--set-prop bloom_cols=repo|path --set-prop bloom_bits=auto \
         --backfill-stats] \
        [--tag NAME[=V]] [--branch NAME[=V]] [--move-branch NAME[=V]] \
        [--drop-ref NAME]

Run it on a schedule beside the replay job (the reference's analogue is
the monthly re-capture/cleanup cadence). Each action is its own atomic
snapshot commit; a concurrent replay writer losing a commit race simply
retries, and vice versa. Order: compact → expire → vacuum (vacuum only
reclaims files no remaining snapshot references, after the grace window).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table-path", required=True)
    ap.add_argument("--compact", action="store_true",
                    help="fold multi-file / nonunique buckets to one file")
    ap.add_argument("--compact-budget-bytes", type=int, default=None,
                    help="with --compact: bound this cycle's rewrite to "
                         "the worst-read-amplification buckets under this "
                         "input-byte budget (lake/planner.py); omit for "
                         "the full dirty set")
    ap.add_argument("--expire-tombstones-before", default=None,
                    help="ISO event-time watermark: compaction drops older "
                         "tombstones (bounded-lateness contract)")
    ap.add_argument("--expire-keep-last", type=int, default=None,
                    help="drop snapshot metadata older than the newest N")
    ap.add_argument("--vacuum-older-than-sec", type=float, default=None,
                    help="delete unreferenced data files older than this "
                         "grace window (e.g. 3600)")
    ap.add_argument("--reclaim-staging", action="store_true",
                    help="also remove crashed writers' .stage trees older "
                         "than the window (use a window above the longest "
                         "plausible merge)")
    ap.add_argument("--rescale-to", type=int, default=None,
                    help="start (or continue) an INCREMENTAL rescale to "
                         "this bucket count; each invocation advances by "
                         "--rescale-step-buckets (grow) or completes "
                         "instantly (divisor shrink) — the scheduled, "
                         "racing-writer-safe alternative to --rebucket")
    ap.add_argument("--rescale-step-buckets", type=int, default=None,
                    help="max old buckets to migrate THIS invocation "
                         "(default: all remaining)")
    ap.add_argument("--rescale-budget-bytes", type=int, default=None,
                    help="input-byte budget per invocation for rescale "
                         "steps (first pending bucket always taken)")
    ap.add_argument("--auto-rescale-max-bucket-bytes", type=int,
                    default=None,
                    help="layout policy: if the MEAN stored bytes per "
                         "bucket exceeds this, start (or continue) a 2x "
                         "grow rescale — keeps bucket size bounded as "
                         "the table grows, without operator math")
    ap.add_argument("--fsck", action="store_true",
                    help="integrity audit (lake/fsck.py): metadata "
                         "invariants + executor-side footer sweep "
                         "(existence, corruption, sidecars, zone-map "
                         "bounds, file records); report under 'fsck'")
    ap.add_argument("--fsck-deep", action="store_true",
                    help="fsck plus the O(table) row-placement scan")
    ap.add_argument("--rebucket", type=int, default=None,
                    help="rewrite the table into this bucket count "
                         "(O(table); layout evolution)")
    ap.add_argument("--add-column", action="append", default=[],
                    metavar="NAME:TYPE[:DEFAULT]",
                    help="metadata-only ADD COLUMN (alter_add_column); "
                         "with :DEFAULT, pre-existing rows read that "
                         "initial default. Repeatable")
    ap.add_argument("--set-prop", action="append", default=[],
                    metavar="KEY=VALUE",
                    help="set a table prop first (e.g. stats_cols=...,"
                         " bloom_cols=repo|path, bloom_bits=auto);"
                         " repeatable")
    ap.add_argument("--audit-counts", action="store_true",
                    help="report the POST-maintenance live row count via "
                         "the metadata-plane aggregate (lake/fastagg.py: "
                         "record tier where compaction allows) plus the "
                         "tier breakdown — the reference's per-load "
                         "row-count bookkeeping, priced for lake scale")
    ap.add_argument("--backfill-stats", action="store_true",
                    help="harvest zone maps, Bloom filters and file "
                         "records for referenced files that predate "
                         "stats_cols/bloom_cols or the records "
                         "(migration entry point)")
    ap.add_argument("--tag", action="append", default=[],
                    metavar="NAME[=VERSION]",
                    help="pin a snapshot under an immutable tag "
                         "(default: current); tags survive expiry+vacuum "
                         "until --drop-ref; repeatable")
    ap.add_argument("--branch", action="append", default=[],
                    metavar="NAME[=VERSION]",
                    help="create a movable branch pointer; repeatable")
    ap.add_argument("--move-branch", action="append", default=[],
                    metavar="NAME[=VERSION]",
                    help="repoint a branch (default: current head — the "
                         "promote-to-consumers flip); repeatable")
    ap.add_argument("--drop-ref", action="append", default=[],
                    metavar="NAME",
                    help="remove a tag/branch, releasing its snapshot to "
                         "normal retention; repeatable")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("etl_spark-maintenance").getOrCreate()

    from etl_spark.lake import LakeTable

    table = LakeTable.load(spark, args.table_path)
    report: dict = {"table": args.table_path,
                    "version_before": table.current_version()}

    def _name_ver(spec: str):
        name, _, v = spec.partition("=")
        return name, (int(v) if v else None)

    # ref actions run FIRST: a --tag in the same invocation as
    # --expire-keep-last must pin its snapshot before expiry sweeps
    for spec in args.tag:
        name, v = _name_ver(spec)
        table.tag(name, version=v)
        report.setdefault("tagged", []).append(name)
    for spec in args.branch:
        name, v = _name_ver(spec)
        table.branch(name, version=v)
        report.setdefault("branched", []).append(name)
    for spec in args.move_branch:
        name, v = _name_ver(spec)
        report.setdefault("moved", []).append(
            {"name": name, "to": table.move_branch(name, version=v)})
    for name in args.drop_ref:
        report.setdefault("dropped_refs", []).append(
            {"name": name, "released": table.drop_ref(name)})

    for spec in args.add_column:
        name, _, rest = spec.partition(":")
        dtype, _, default = rest.partition(":")
        if not name or not dtype:
            raise SystemExit(f"--add-column wants NAME:TYPE[:DEFAULT], "
                             f"got {spec!r}")
        # re-runnable like every other verb here: a scheduled command
        # line must not start crashing (and skipping compact/fsck/vacuum
        # below) once its column exists
        cur = {f.name: f.dataType.simpleString()
               for f in table.current_snapshot().schema.fields}
        if cur.get(name) == dtype:
            report.setdefault("columns_existing", []).append(name)
            continue
        table.alter_add_column(name, dtype, default=default or None)
        report.setdefault("columns_added", []).append(name)
    if args.set_prop:
        props = dict(kv.split("=", 1) for kv in args.set_prop)
        table.alter_props(props)
        report["props_set"] = sorted(props)
    if args.backfill_stats:
        report["backfilled_files"] = table.backfill_stats()
    if args.rebucket is not None:
        report["rebucketed_to"] = args.rebucket
        table.rebucket(args.rebucket)
    if args.auto_rescale_max_bucket_bytes is not None and \
            args.rescale_to is None:
        # layout policy: mean stored bytes per bucket vs the cap. Uses
        # the same recorded file sizes the salted spread reads; only
        # proposes a 2x grow (repeat invocations compound as needed).
        snap = table.current_snapshot()
        if snap.rescale_to is not None:
            args.rescale_to = snap.rescale_to  # drain the in-flight one
        else:
            total = sum(table._bucket_bytes(snap).values())
            mean = total / max(snap.n_buckets, 1)
            report["auto_rescale_mean_bucket_bytes"] = int(mean)
            if mean > args.auto_rescale_max_bucket_bytes:
                args.rescale_to = 2 * snap.n_buckets
    if args.rescale_to is not None:
        snap = table.current_snapshot()
        if snap.rescale_to is None and snap.n_buckets != args.rescale_to:
            table.start_rescale(args.rescale_to)
            report["rescale_started_to"] = args.rescale_to
        if table.rescale_status() is not None:
            step = table.rescale_step(
                max_buckets=args.rescale_step_buckets
                or table.current_snapshot().n_buckets,
                budget_bytes=args.rescale_budget_bytes)
            report["rescale_step"] = step
        report["rescale_status"] = table.rescale_status()
    if args.compact:
        wm = (dt.datetime.fromisoformat(args.expire_tombstones_before)
              if args.expire_tombstones_before else None)
        sel = None
        if args.compact_budget_bytes is not None:
            from etl_spark.lake import plan_compaction

            plan = plan_compaction(table,
                                   budget_bytes=args.compact_budget_bytes)
            sel = plan.buckets
            report["compaction_plan"] = {
                "planned_buckets": len(plan.buckets),
                "planned_bytes": plan.planned_bytes,
                "deferred_buckets": plan.skipped,
            }
        report["compacted_buckets"] = (
            table.compact(buckets=sel, expire_tombstones_before=wm)
            if sel is None or sel else 0
        )
    if args.expire_keep_last is not None:
        report["expired_snapshots"] = len(
            table.expire_snapshots(keep_last=args.expire_keep_last))
    if args.vacuum_older_than_sec is not None:
        report["vacuumed_files"] = len(
            table.vacuum(older_than_sec=args.vacuum_older_than_sec,
                         reclaim_staging=args.reclaim_staging))

    if args.audit_counts:
        from etl_spark.lake import fast_count

        n, tiers = fast_count(table)
        report["live_rows"] = n
        report["count_tiers"] = tiers

    if args.fsck or args.fsck_deep:
        from etl_spark.lake import check_integrity

        report["fsck"] = check_integrity(table, deep=args.fsck_deep)

    report["version_after"] = table.current_version()
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
