"""ACID lake-table format on parquet.

No Iceberg/Delta runtime jar ships in this environment, so the engine
implements the minimal subset of an Iceberg-style table format it needs,
from scratch, on plain parquet + JSON snapshots:

- atomic snapshot commits (optimistic concurrency via exclusive link),
- merge-on-read MERGE (last-writer-wins upserts + tombstoned deletes as
  delta files, folded by threshold compaction),
- additive schema evolution,
- time travel (read any retained snapshot),
- exactly-once commit manifests keyed by caller-supplied manifest keys
  (e.g. ``(checkpoint_epoch, batch_id)``).

Reference capabilities covered: the Postgres COPY loader with
savepoint/rollback (/root/reference/src/impulsoetl/utilitarios/bd.py:165-261),
the capture-history exactly-once ledger (scripts/geral.py:92-109), write
semaphores (utilitarios/semaforos.py:26-119) and the versioned-table intent
(bd.py:77-84).
"""

from etl_spark.lake.constraints import (
    ConstraintViolation,
    add_constraint,
    drop_constraint,
    merge_quarantine,
    violation_counts,
)
from etl_spark.lake.diff import snapshot_diff
from etl_spark.lake.dml import delete_where, update_where
from etl_spark.lake.fastagg import fast_count, fast_min_max
from etl_spark.lake.fsck import check_integrity
from etl_spark.lake.port import TablePort
from etl_spark.lake.planner import CompactionPlan, plan_compaction
from etl_spark.lake.purge import purge_keys
from etl_spark.lake.refs import Ref
from etl_spark.lake.spj import cobucket_join
from etl_spark.lake.table import CommitConflict, LakeTable, MergeStats, Snapshot
from etl_spark.lake.wap import StagedCommit, audit_capture

__all__ = ["LakeTable", "Snapshot", "MergeStats", "CommitConflict", "purge_keys",
           "snapshot_diff", "delete_where", "update_where",
           "StagedCommit", "audit_capture", "TablePort", "Ref",
           "plan_compaction", "CompactionPlan",
           "ConstraintViolation", "add_constraint", "drop_constraint",
           "violation_counts", "merge_quarantine",
           "fast_count", "fast_min_max", "cobucket_join",
           "check_integrity"]
