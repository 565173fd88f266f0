"""Per-file column statistics (zone maps) for LakeTable data skipping.

Real Iceberg manifests carry per-data-file min/max column bounds and the
scan planner drops files a predicate provably cannot match. LakeTable
gets the same capability here:

* **Harvest** — the write reads each new file's parquet FOOTER once, on
  the driver (metadata only, ~0.1 ms a file: cheaper than starting any
  Spark job), and folds the row-group min/max per configured column into
  a per-file ``[min, max]`` bound. Parquet writers may truncate long
  binary/string bounds, but always outward (min prefix ≤ values ≤
  adjusted max), so the bound stays sound for pruning.
* **Store** — bounds live in the snapshot JSON next to the file list
  (same lifetime: an entry is dropped when no snapshot references its
  file), JSON-encoded with a type tag so timestamps/dates round-trip.
* **Prune** — ``LakeTable.read(where=...)`` skips files whose bounds
  refute the predicate, then applies the predicate exactly as a residual
  filter. Which predicates may prune which files is a CORRECTNESS
  question under merge-on-read — see ``prunable_predicates``.

Enable by setting the table prop ``stats_cols`` (comma-separated column
names) at create time; without it the feature is dormant and the write
hot path pays nothing.

Reference analogue: the per-period/per-UF partition bookkeeping that lets
the reference re-capture only affected slices
(/root/reference/src/impulsoetl/scripts/geral.py:61-65); here the slice
registry is first-class file metadata, as Iceberg would keep it.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

__all__ = [
    "encode_bound",
    "decode_bound",
    "read_footers",
    "file_matches",
    "prunable_predicates",
]

_OPS = {">", ">=", "<", "<=", "=", "in", "between"}

# ------------------------------------------------------------ encoding

def encode_bound(v):
    """JSON-encode a stat bound with a type tag. Returns None for value
    kinds we do not prune on (unknown bound = never prune)."""
    if isinstance(v, bool):
        return None  # not worth pruning on; avoids bool-is-int surprises
    if isinstance(v, (int, float, str)):
        return {"k": "p", "v": v}
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return {"k": "ts", "v": v.isoformat()}
    if isinstance(v, dt.date):
        return {"k": "d", "v": v.isoformat()}
    if isinstance(v, Decimal):
        return {"k": "p", "v": float(v)}
    if isinstance(v, bytes):
        try:
            return {"k": "p", "v": v.decode("utf-8")}
        except UnicodeDecodeError:
            return None
    return None


def decode_bound(e):
    if e is None:
        return None
    k, v = e["k"], e["v"]
    if k == "ts":
        return dt.datetime.fromisoformat(v)
    if k == "d":
        return dt.date.fromisoformat(v)
    return v


def _norm(v):
    """Normalize a PREDICATE value into the decoded-bound domain."""
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v
    if isinstance(v, Decimal):
        return float(v)
    return v


# ------------------------------------------------------------- harvest

def _footer_stats(src, cols: list[str]):
    """Fold one parquet footer (path or ``FileMetaData``) into per-column
    bounds; a column missing stats in ANY row group gets none (unknown)."""
    import pyarrow.parquet as pq

    md = src if isinstance(src, pq.FileMetaData) else pq.read_metadata(src)
    if md.num_row_groups == 0:
        return {}
    rg0 = md.row_group(0)
    idx = {
        rg0.column(i).path_in_schema: i
        for i in range(rg0.num_columns)
        if rg0.column(i).path_in_schema in cols
    }
    out = {}
    for name, i in idx.items():
        mn = mx = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo, hi = encode_bound(st.min), encode_bound(st.max)
            if lo is None or hi is None:
                ok = False
                break
            if mn is None or decode_bound(lo) < decode_bound(mn):
                mn = lo
            if mx is None or decode_bound(hi) > decode_bound(mx):
                mx = hi
        if ok and mn is not None:
            out[name] = [mn, mx]
    return out


def degraded_event(phase: str, exc: BaseException, where: str = "") -> dict:
    """A best-effort path that failed and was carried on from."""
    what = f"{where}: " if where else ""
    return {"phase": phase, "error": f"{what}{type(exc).__name__}: {exc}"[:500]}


def read_footers(root: str, rel_paths: list[str], cols: list[str]):
    """Driver-side footer pass: ``({rel: num_rows}, {rel: bounds},
    degraded)``; an unreadable footer leaves its file unbounded with a
    ``harvest.footer`` record. No threads: a pool measured 2-3x slower."""
    import pyarrow.parquet as pq

    rows, bounds, degraded = {}, {}, []
    for rel in rel_paths:
        try:
            md = pq.read_metadata(os.path.join(root, rel))
            rows[rel] = md.num_rows
            if st := _footer_stats(md, cols):
                bounds[rel] = st
        except Exception as exc:  # noqa: BLE001 — must not fail a write
            degraded.append(degraded_event("harvest.footer", exc, rel))
    return rows, bounds, degraded


# -------------------------------------------------------------- prune

def prunable_predicates(
    preds, key_cols: list[str], version_cols: list[str], unique_file: bool
):
    """The subset of ``preds`` that may soundly PRUNE a given file.

    For a file in a compacted, key-unique bucket every stored row is
    already its key's LWW winner, so any conjunctive predicate may prune
    (dropping a file only drops rows the residual filter would drop).

    Under merge-on-read a file holds *candidate* rows and the winner is
    chosen across ALL of a bucket's files, so dropping a file can change
    which row wins — pruning is sound only when it provably removes
    whole keys the final filter would remove anyway:

    * **key columns** (any op): every version of a key carries the same
      key values, so a file with no key in range contributes nothing to
      any surviving key's LWW.
    * **version columns, upward-closed ops only** (``>``, ``>=``): the
      winner carries the per-key MAX version. If a file's max version
      refutes ``v >= X``, every row in it loses to (or equals) versions
      below X; a key whose global max is ≥ X keeps its winner in some
      unpruned file, and a key whose global max is < X is removed by the
      residual filter entirely. Downward-closed or point predicates
      (``<=``, ``=``, ``between``) are NOT sound pre-LWW: pruning the
      winner's file would promote a stale row that passes the filter.

    Anything else (payload columns under MoR) never prunes — it is
    applied only as the residual filter.

    A TUPLE predicate ``((c1, c2), '='|'in', ...)`` (the probe shape of
    composite blooms, lake/bloom.py) prunes under MoR iff every component
    is a key column — the same argument as a single key column: all
    versions of a key carry identical key values, so a file refuting the
    tuple set holds no candidate of any surviving key.
    """
    if unique_file:
        return list(preds)
    out = []
    for p in preds:
        col, op = p[0], p[1]
        if isinstance(col, (tuple, list)):
            if all(c in key_cols for c in col):
                out.append(p)
        elif col in key_cols:
            out.append(p)
        elif col in version_cols and op in (">", ">="):
            out.append(p)
    return out


def file_matches(stats_entry, preds, root: str | None = None) -> bool:
    """May this file contain a row satisfying ALL of ``preds``?
    ``stats_entry`` is the snapshot's ``{col: [enc_min, enc_max]}`` for
    the file (possibly missing columns = unknown = may match), plus any
    ``"<col>#bloom"`` membership entries (lake/bloom.py) consulted for
    ``=`` / ``in`` — same prunable-predicate gating, a second refuter.
    ``root`` (the table path) resolves ``@``-referenced bloom sidecars.

    A tuple predicate ``((c1, c2), '='|'in', tuples)`` probes the
    composite bloom ``"c1|c2#bloom"`` with the value PAIRS, and is also
    decomposed into per-column in-lists so the components' zone maps and
    scalar blooms get their (weaker) shot at refuting the file."""
    from etl_spark.lake.bloom import (
        BLOOM_SUFFIX, COMPOSITE_SEP, bloom_may_contain,
    )

    expanded = []
    for p in preds:
        col, op = p[0], p[1]
        if not isinstance(col, (tuple, list)):
            expanded.append(p)
            continue
        tuples = p[2] if op == "in" else [p[2]]
        bl = (stats_entry or {}).get(
            COMPOSITE_SEP.join(col) + BLOOM_SUFFIX)
        if bl is not None and tuples and \
                all(not bloom_may_contain(bl, t, root) for t in tuples):
            return False
        if tuples:
            for i, c in enumerate(col):
                expanded.append((c, "in", [t[i] for t in tuples]))

    for p in expanded:
        col, op = p[0], p[1]
        if op in ("=", "in"):
            bl = (stats_entry or {}).get(col + BLOOM_SUFFIX)
            if bl is not None:
                vals = p[2] if op == "in" else [p[2]]
                if all(not bloom_may_contain(bl, v, root) for v in vals):
                    return False
        bound = (stats_entry or {}).get(col)
        if bound is None:
            continue
        mn, mx = decode_bound(bound[0]), decode_bound(bound[1])
        try:
            if op == ">=":
                if mx < _norm(p[2]):
                    return False
            elif op == ">":
                if mx <= _norm(p[2]):
                    return False
            elif op == "<=":
                if mn > _norm(p[2]):
                    return False
            elif op == "<":
                if mn >= _norm(p[2]):
                    return False
            elif op == "=":
                v = _norm(p[2])
                if v < mn or v > mx:
                    return False
            elif op == "in":
                if all(_norm(v) < mn or _norm(v) > mx for v in p[2]):
                    return False
            elif op == "between":
                lo, hi = _norm(p[2]), _norm(p[3])
                if mx < lo or mn > hi:
                    return False
        except TypeError:
            # bound/value domains don't compare (e.g. stale stats after
            # a type change): unknown ⇒ keep the file
            continue
    return True


def _tuple_in_column(cols, tuples):
    """Exact row filter for a tuple predicate: ``array_contains`` of the
    literal struct array against ``struct(cols)`` — one expression, no
    1000-term OR chain (field names aligned so struct types resolve)."""
    from pyspark.sql import functions as F

    if not tuples:
        return F.lit(False)
    probe = F.struct(*[F.col(c).alias(f"_{i}") for i, c in enumerate(cols)])
    arr = F.array(*[
        F.struct(*[F.lit(v).alias(f"_{i}") for i, v in enumerate(t)])
        for t in tuples
    ])
    return F.array_contains(arr, probe)


def predicate_column(preds):
    """Conjunctive residual filter as one pyspark Column (exact
    semantics; pruning above is only ever a superset of this).
    Tuple predicates become an ``array_contains`` over structs."""
    from pyspark.sql import functions as F

    out = None
    for p in preds:
        if isinstance(p[0], (tuple, list)):
            tuples = p[2] if p[1] == "in" else [p[2]]
            c = _tuple_in_column(list(p[0]), [tuple(t) for t in tuples])
            out = c if out is None else (out & c)
            continue
        col, op = F.col(p[0]), p[1]
        if op == ">=":
            c = col >= F.lit(p[2])
        elif op == ">":
            c = col > F.lit(p[2])
        elif op == "<=":
            c = col <= F.lit(p[2])
        elif op == "<":
            c = col < F.lit(p[2])
        elif op == "=":
            c = col == F.lit(p[2])
        elif op == "in":
            c = col.isin(list(p[2]))
        else:  # between
            c = (col >= F.lit(p[2])) & (col <= F.lit(p[3]))
        out = c if out is None else (out & c)
    return out


def validate_predicates(preds, schema_cols: list[str]) -> None:
    for p in preds:
        if not isinstance(p, (tuple, list)) or len(p) < 3:
            raise ValueError(f"malformed predicate {p!r}; expected "
                             f"(col, op, value[, value2])")
        col, op = p[0], p[1]
        if isinstance(col, (tuple, list)):
            if op not in ("=", "in"):
                raise ValueError(f"tuple predicate supports only '='/'in', "
                                 f"got {op!r}")
            missing = [c for c in col if c not in schema_cols]
            if missing:
                raise ValueError(f"tuple predicate columns {missing!r} not "
                                 f"in table schema")
            tuples = p[2] if op == "in" else [p[2]]
            if op == "in" and not isinstance(p[2], (list, tuple, set)):
                raise ValueError("tuple in predicate needs an iterable "
                                 "of value tuples")
            for t in tuples:
                if not isinstance(t, (list, tuple)) or len(t) != len(col):
                    raise ValueError(
                        f"tuple predicate value {t!r} does not match "
                        f"columns {tuple(col)!r}")
            continue
        if op not in _OPS:
            raise ValueError(f"unsupported predicate op {op!r} "
                             f"(supported: {sorted(_OPS)})")
        if col not in schema_cols:
            raise ValueError(f"predicate column {col!r} not in table schema")
        if op == "between" and len(p) != 4:
            raise ValueError("between predicate needs (col,'between',lo,hi)")
        if op == "in" and not isinstance(p[2], (list, tuple, set)):
            raise ValueError("in predicate needs an iterable of values")
