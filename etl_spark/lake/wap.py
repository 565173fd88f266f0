"""Write-audit-publish: stage a merge's files, validate the would-be
state, then flip metadata — or walk away with the table untouched.

``run_capture`` (etl_spark/pipeline.py) gates the BATCH before any
write; some expectations can only be judged against the POST-MERGE
state ("no order may reference a deleted customer after this wave",
"row count may not drop by more than 1%"). The reference holds the
load in an open transaction and asserts before COMMIT
(/root/reference/src/impulsoetl/utilitarios/bd.py:224-257 — the
savepoint-then-commit posture); a lake has no transaction to hold, so
the staged form is Iceberg's WAP: write the commit's data files
normally, audit a snapshot that references them but was never
published, and publish by committing exactly that metadata.

Flow::

    staged = table.merge_staged(batch, manifest_key="wave:7")
    expect("amount >= 0")(staged.read())      # audits staged+base state
    staged.publish()                           # O(1) metadata flip
    # or staged.abort()                        # table byte-identical,
    #                                          # manifest key unclaimed

Guarantees:

- **No rewrite on publish.** The staged data files ARE the committed
  files; publish writes one snapshot JSON (the same ``_publish``
  hard-link commit every merge uses).
- **Abort is total.** The staged segment directories (and their bloom
  sidecars, which live inside them) are removed; no snapshot ever
  referenced them, so readers never saw them and the ledger never
  recorded the manifest key — a re-capture with the same key starts
  from zero.
- **Concurrency.** A merge-on-read staged commit REBASES past writers
  that committed while the audit ran (its files are pure appends to
  their buckets — the same reasoning as a merge retry); the prepared
  fast path applies when nothing intervened. A copy-on-write staged
  commit cannot rebase (its files are full bucket rewrites that would
  drop the concurrent changes) and raises ``CommitConflict`` — re-stage
  against the new state.
- **Crash during audit.** Nothing was committed; the staged files are
  unreferenced orphans and ``vacuum`` reclaims them after its grace
  window (so audit within that window, or raise it).

``audit_capture`` composes the stage → gates → publish/abort loop with
the same ledger/metrics contract as ``run_capture``.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from etl_spark.lake.table import (
    CommitConflict,
    LakeTable,
    MergeStats,
    Snapshot,
)

__all__ = ["StagedCommit", "audit_capture"]


@dataclass
class StagedCommit:
    """A merge whose data files are written but whose snapshot is not
    yet published. Produced by :meth:`LakeTable.merge_staged`."""

    table: LakeTable
    parent_version: int
    snapshot: Snapshot          # prepared child (parent_version + 1)
    manifest_key: str
    mode: str                   # "mor" | "cow"
    schema: StructType          # evolved user schema at stage time
    new_files: dict[int, list[str]]
    added: list[str]
    add_nonunique: list[str]
    new_stats: dict[str, dict[str, list]]
    rows_written: int
    lineage: dict
    already_applied: bool = False
    degraded: list = field(default_factory=list)  # MergeStats.degraded
    _done: str | None = field(default=None, repr=False)

    # ------------------------------------------------------------ audit

    def read(self, **kw) -> DataFrame:
        """The would-be table state (staged files + base) — what a
        reader would see AFTER publish. Accepts ``read()``'s keyword
        arguments (where/buckets/include_deleted/with_meta)."""
        self._check_open()
        return self.table._read_snap(self.snapshot, **kw)

    # ---------------------------------------------------------- publish

    def publish(self, max_retries: int = 3) -> MergeStats:
        """Commit the staged files: one snapshot write, zero data I/O.
        Exactly-once through the same manifest ledger as ``merge`` —
        racing a duplicate publisher resolves to one applied commit."""
        self._check_open()
        t = self.table
        for attempt in range(max_retries + 1):
            cur = t.current_snapshot()
            if self.already_applied or cur.has_applied(self.manifest_key):
                self._done = "noop"
                return MergeStats(self.manifest_key, False, cur.version)
            if cur.version == self.parent_version:
                child = self.snapshot  # prepared fast path
            elif self.mode == "cow":
                raise CommitConflict(
                    f"staged copy-on-write commit {self.manifest_key!r} "
                    f"cannot rebase past concurrent commits "
                    f"(parent v{self.parent_version}, now v{cur.version}) "
                    f"— abort and re-stage"
                )
            elif (cur.n_buckets != self.snapshot.n_buckets
                  or cur.rescale_to != self.snapshot.rescale_to
                  or cur.rescale_watermark != self.snapshot.rescale_watermark):
                # the staged files were ROUTED under the layout of the
                # stage-time snapshot; a rebucket / rescale start / step /
                # finalize in between means appending them would put rows
                # where the new routing will never look (a point lookup
                # for a migrated key would silently miss them)
                raise CommitConflict(
                    f"staged commit {self.manifest_key!r} cannot rebase: "
                    f"the bucket layout changed since staging "
                    f"(rebucket/rescale) — abort and re-stage"
                )
            else:
                # MoR rebase: staged files are pure appends to their
                # buckets; schema union is additive both ways
                names = {f.name for f in cur.schema.fields}
                schema = StructType(
                    list(cur.schema.fields)
                    + [f for f in self.schema.fields if f.name not in names]
                )
                buckets = dict(cur.buckets)
                for b, fl in self.new_files.items():
                    buckets[b] = buckets.get(b, []) + fl
                child = t._child(
                    cur, schema, buckets, self.manifest_key,
                    add_nonunique=self.add_nonunique, added=self.added,
                    new_stats=self.new_stats,
                )
            try:
                t._publish(child)
                self._done = "published"
                return MergeStats(
                    manifest_key=self.manifest_key, applied=True,
                    version=child.version, buckets_rewritten=0,
                    buckets_total=child.n_buckets,
                    rows_written=self.rows_written,
                    partitions=self.lineage, degraded=self.degraded,
                )
            except CommitConflict:
                if attempt == max_retries:
                    raise
        raise AssertionError("unreachable")

    # ------------------------------------------------------------ abort

    def abort(self) -> int:
        """Delete the staged segment directories (bloom sidecars live
        inside them and go too). Returns the number of files dropped.
        The table is byte-identical to before the stage and the
        manifest key unclaimed."""
        self._check_open()
        dropped = 0
        segs = set()
        for fl in self.new_files.values():
            for f in fl:
                dropped += 1
                parts = f.split("/")
                segs.add(os.path.join(*parts[:2]))  # data/vNNN…-tok
        for seg in segs:
            shutil.rmtree(os.path.join(self.table.path, seg),
                          ignore_errors=True)
        self._done = "aborted"
        return dropped

    def _check_open(self) -> None:
        if self._done is not None:
            raise RuntimeError(
                f"staged commit {self.manifest_key!r} already "
                f"{self._done}")


def audit_capture(
    table: LakeTable,
    batch: DataFrame,
    manifest_key: str,
    gates: list,
    metrics_sink=None,
):
    """Stage → audit the POST-merge state → publish, or abort leaving
    the table byte-identical. Gate callables receive the STAGED read
    (``pipeline.GateFn`` shape: raise ``ValidationError`` to reject).
    Returns a ``pipeline.CaptureResult``; rejections land in the ledger
    exactly like ``run_capture``'s pre-write rejections."""
    from etl_spark.pipeline import CaptureResult, ValidationError

    t0 = time.monotonic()
    staged = table.merge_staged(batch, manifest_key=manifest_key)
    try:
        staged_state = staged.read()
        for gate in gates or []:
            gate(staged_state)
    except ValidationError as exc:
        staged.abort()
        if metrics_sink is not None:
            metrics_sink.record(
                {"manifest_key": manifest_key, "applied": False,
                 "status": "rejected"},
                wall_sec=time.monotonic() - t0, error=str(exc),
            )
        return CaptureResult(manifest_key, "rejected", error=str(exc))
    except Exception:
        staged.abort()  # never leak staged files on an audit crash
        raise
    stats = staged.publish()
    if metrics_sink is not None:
        metrics_sink.record(stats, wall_sec=time.monotonic() - t0)
    return CaptureResult(
        manifest_key, "applied" if stats.applied else "noop", stats=stats
    )
