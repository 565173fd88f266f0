"""Budget-bounded maintenance planning: which buckets to compact, in
what order, under an I/O budget — Iceberg ``rewrite_data_files``'s
binpack planning (max-bytes / min-input-files knobs) re-expressed over
LakeTable's bucket layout.

Why a planner: at 100 TB a table holds ~10^5 buckets and compaction is
an O(bucket bytes) rewrite. "Compact everything dirty" (what
``compact()`` does) is the right call in a test and the WRONG call in a
maintenance window — one cycle would rewrite the entire dirty set at
once, competing with the ingest path for the cluster. The planner turns
maintenance into an incremental loop: each cycle folds the buckets with
the WORST read amplification first, stopping at the byte budget, so
read latency improves monotonically while write cost per cycle stays
bounded. The reference's analogue is its monthly re-capture cadence
(scheduled partial maintenance, never a full rebuild).

Cost/benefit model, all from the metadata plane (zero data I/O):

- **benefit** = delta GENERATIONS (distinct commit segments per bucket —
  the same read-amplification metric the auto-compaction trigger uses,
  lake/table.py: files within one segment add write parallelism, not
  per-key resolution depth) + the ``nonunique`` flag (a raw
  ``batch_dedup=false`` file forces the resolving aggregate even alone).
- **cost** = the bucket's current bytes (read + rewrite), summed from
  the snapshot's file records (``Snapshot.file_records``): no Spark
  job, no file opened.

Ranking: generations descending, then bytes ascending (most resolution
depth bought per byte rewritten), greedily accumulated until
``budget_bytes``. A single bucket larger than the whole budget is still
planned alone when it is the top-ranked candidate — otherwise a table
whose hottest bucket outgrew the budget would never converge; the
budget bounds the CYCLE, the planner guarantees progress.
"""

from __future__ import annotations

from dataclasses import dataclass

__all__ = ["plan_compaction", "CompactionPlan"]


@dataclass(frozen=True)
class CompactionPlan:
    buckets: list[int]          # buckets to compact this cycle, in order
    planned_bytes: int          # estimated rewrite input bytes
    skipped: int                # dirty buckets deferred to later cycles
    total_dirty: int            # dirty buckets before planning

    def __bool__(self) -> bool:
        return bool(self.buckets)


def _generations(files: list[str]) -> int:
    # segment = the v…-tok path component (see lake/table.py merge
    # trigger); pre-segment flat files count as one generation each
    return len({f.split("/", 2)[1] if f.count("/") >= 2 else f
                for f in files})


def plan_compaction(
    table,
    budget_bytes: int | None = None,
    min_generations: int = 2,
    version: int | str | None = None,
) -> CompactionPlan:
    """Rank dirty buckets by read amplification and take the best ones
    under ``budget_bytes`` (None = unbounded: plan the full dirty set,
    still in benefit order). ``min_generations`` is the dirtiness floor —
    buckets below it are not worth a rewrite (a one-delta bucket reads
    with a single resolving aggregate over two files; default 2 plans
    it, raise to 3+ to keep maintenance off barely-dirty buckets).
    Buckets holding ``nonunique`` files are always dirty regardless of
    generation count. Execute with ``table.compact(buckets=plan.buckets)``.
    """
    snap = table.snapshot(version)
    nonuniq = set(snap.nonunique)
    dirty: dict[int, int] = {}
    for b, fl in snap.buckets.items():
        if not fl:
            continue
        if snap.rescale_to is not None and \
                snap.rescale_watermark <= b < snap.n_buckets:
            # pending-rescale bucket: its migration step LWW-folds it
            # anyway (free compaction) — compacting it first is the same
            # rewrite paid twice. Leave it for rescale_step.
            continue
        gens = _generations(fl)
        if (len(fl) > 1 and gens >= min_generations) or \
                any(f in nonuniq for f in fl):
            dirty[b] = gens
    if not dirty:
        return CompactionPlan([], 0, 0, 0)

    # sizes from the file records, restricted to the dirty buckets —
    # O(dirty files) dict work
    sizes = table._bucket_bytes(snap, sorted(dirty))

    ranked = sorted(
        dirty,
        key=lambda b: (-dirty[b], sizes[b], b),
    )
    if budget_bytes is None:
        return CompactionPlan(ranked,
                              sum(sizes[b] for b in ranked),
                              0, len(ranked))
    chosen: list[int] = []
    spent = 0
    for b in ranked:
        cost = sizes[b]
        # the top-ranked bucket is always planned (progress guarantee,
        # see module docstring); after that, over-budget candidates are
        # skipped but later cheaper ones may still fit
        if chosen and spent + cost > budget_bytes:
            continue
        chosen.append(b)
        spent += cost
    return CompactionPlan(chosen, spent, len(ranked) - len(chosen),
                          len(ranked))
