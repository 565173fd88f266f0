"""Per-file Bloom filters for LakeTable point-read file skipping.

Zone maps (lake/stats.py) prune on *ranges*: they are strong for columns
the layout clusters (compaction key-sorts each bucket) and useless for
high-cardinality columns whose values scatter across every file — the
per-file [min, max] of an unsorted id column spans nearly the whole
domain, so an equality probe never refutes anything. That is exactly the
shape of a CDC point read at 100 TB ("which files in this bucket hold key
K?", "which rows carry commit C?"). Iceberg and Delta answer it with
per-file Bloom filters; LakeTable gets the same capability here.

* **Store** — a bloom is one more entry in the snapshot's existing
  ``file_stats`` map under the reserved key ``"<col>#bloom"`` (column
  names in bloom-enabled tables may not contain ``#`` or ``|``), valued
  ``[b64(zlib(bitmap)), m_bits, k_hashes]``. It therefore inherits ALL of
  the zone-map lifecycle for free: carried while its file is referenced,
  dropped when the file is de-referenced, backfillable, bounded metadata.
  Enable with the ``bloom_cols`` table prop (plus optional ``bloom_bits``,
  default 65,536 = an 8 KiB bitmap ≈ 1% false positives for ~6.8k distinct
  values at k=7, degrading *gracefully, never unsoundly* for bigger files;
  tune up for wide files) — dormant without it.
* **Build** — one zero-shuffle job per commit over the freshly written
  files only: the double-hash bases are computed JVM-side
  (``md5`` + ``conv``, whole-stage codegen), then an Arrow
  ``mapInPandas`` kernel ORs per-partition partial bitmaps with numpy and
  emits a few KiB per (partition, file, col); the driver ORs the partials.
  No shuffle, no collect of positions — the only driver traffic is
  compressed bitmaps. ``bloom_bits: "auto"`` sizes each bitmap from the
  row count the write already read from the file's footer: no extra job.
* **Probe** — driver-side at plan time: ``file_matches`` (lake/stats.py)
  consults the bloom for ``=`` / ``in`` predicates after the zone map.
  WHICH predicates may prune WHICH file is unchanged — the merge-on-read
  soundness rules of ``prunable_predicates`` gate blooms exactly as they
  gate zone maps (a bloom is just a second way to *refute*, with false
  positives only, never false negatives: every value present in the file
  is inserted, including key values on tombstone rows, whose files must
  survive pruning so a deletion can win its key's LWW).

* **Composite entries** — a ``bloom_cols`` entry may be a ``|``-joined
  column tuple (``"repo|path"``): the bloom then holds the canonical
  strings of the VALUE PAIRS, not of either column alone. This is the
  entry a multi-column-keyed CDC table needs: on a hash-bucketed layout
  every delta file contains *most individual values* of each key column
  (measured on the synthetic WAL: ~85% of all repos appear in every
  64-bucket file, so per-column blooms refute nothing), while a specific
  ``(repo, path)`` pair lands in exactly one file per epoch. Probed by
  the tuple predicate form ``((col1, col2), "in", [(v1, v2), ...])``
  (lake/stats.py) which ``lookup()`` emits automatically when the entry
  covers the table's key columns.

**Engine-portable hashing.** Both sides hash the value's *canonical
string* (Spark ``CAST(col AS STRING)`` == Python ``str()`` for strings and
integers, ``date.isoformat()`` for dates — the only types allowed, see
``BLOOMABLE_TYPES``; floats/timestamps are rejected because their string
forms diverge across engines). Composite entries hash the component
canonicals joined by the unit separator ``\\x1f`` (Spark ``concat`` with a
``\\x1f`` literal — NULL if any component is NULL, which is the skip rule:
equality never selects NULL; DuckDB replays it as
``md5(c1 || chr(31) || c2)``). Double hashing à la Kirsch-Mitzenmacher
over one md5: h1 = md5[0:15] hex, h2 = md5[15:30] hex | 1, position_i =
((h1 % m) + i * (h2 % m)) % m — the mod-first form keeps every
intermediate < 16·m, bit-identical between JVM longs and Python ints.
Same md5-substring trick as functions/hashing.py::portable_hash60, so a
DuckDB oracle can replay membership exactly.

**Metadata cost envelope.** Small blooms live inline in the snapshot
JSON, which every commit rewrites: inline metadata is O(live files x
bloom size). The default 64Kbit bitmap is 8 KiB raw and typically
1-4 KiB zlib'd — fine inline. Bitmaps whose compressed payload exceeds
the ``bloom_inline_max_bytes`` table prop (default 16 KiB) are written
as **sidecar files** next to their data file
(``<data-file>.<digest8>.bloom``, Iceberg's puffin pattern) and the
entry stores ``["@<rel sidecar path>", m, k]`` — the snapshot carries a
pointer, not the bitmap, so auto-sized blooms over large compacted
files cannot balloon the commit path. Sidecars share the data
directory's lifecycle: ``vacuum`` counts ``@``-referenced paths as
referenced and reclaims orphans with the same grace window; probes load
them lazily (lru-cached) at plan time.

Reference analogue: the memoized per-value point SELECTs the reference
issues against dimension tables (/root/reference/src/impulsoetl/comum/
geografias.py:78-97) — at lake scale the "index" must live in file
metadata, not in a driver cache.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import os
import zlib
from functools import lru_cache
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "BLOOM_SUFFIX",
    "COMPOSITE_SEP",
    "TUPLE_SEP",
    "DEFAULT_BITS",
    "DEFAULT_K",
    "BLOOMABLE_TYPES",
    "canonical_probe",
    "canonical_tuple",
    "bloom_positions",
    "bloom_may_contain",
    "auto_bits",
    "build_file_blooms",
    "validate_bloom_cols",
]

BLOOM_SUFFIX = "#bloom"
COMPOSITE_SEP = "|"   # joins COLUMN NAMES in a composite bloom_cols entry
TUPLE_SEP = "\x1f"    # joins canonical VALUES of a composite entry
DEFAULT_BITS = 65536
DEFAULT_K = 7

# Spark typeName() strings whose CAST(x AS STRING) equals the Python
# canonical form below. Floats (locale/precision), timestamps ('T' vs ' ')
# and decimals (trailing zeros) diverge and are rejected.
BLOOMABLE_TYPES = {"string", "integer", "long", "short", "byte", "date"}


def canonical_probe(value) -> str | None:
    """Python-side canonical string of a probe value — must equal Spark's
    ``CAST(value AS STRING)`` for every BLOOMABLE type. None for values
    we cannot canonicalize (probe then never prunes)."""
    if value is None:
        return None
    if isinstance(value, str):
        return value
    if isinstance(value, bool):  # bool is an int subclass — reject first
        return None
    if isinstance(value, int):
        return str(value)
    if isinstance(value, dt.datetime):  # datetime is a date subclass
        return None
    if isinstance(value, dt.date):
        return value.isoformat()
    return None


def canonical_tuple(values) -> str | None:
    """Canonical string of a composite-entry probe tuple: component
    canonicals joined by ``TUPLE_SEP``. None (never prunes) if any
    component cannot be canonicalized — matching the build side, where
    ``concat`` yields NULL (row skipped) if any component is NULL."""
    parts = []
    for v in values:
        c = canonical_probe(v)
        if c is None:
            return None
        parts.append(c)
    return TUPLE_SEP.join(parts)


def bloom_positions(canonical: str, m: int, k: int) -> list[int]:
    """The k bit positions of a canonical value (see module docstring for
    the exact mod-first double-hash form mirrored JVM-side)."""
    hx = hashlib.md5(canonical.encode("utf-8")).hexdigest()
    h1 = int(hx[:15], 16) % m
    h2 = (int(hx[15:30], 16) | 1) % m
    return [(h1 + i * h2) % m for i in range(k)]


@lru_cache(maxsize=4096)
def _bitmap(b64: str) -> bytes:
    return zlib.decompress(base64.b64decode(b64))


@lru_cache(maxsize=1024)
def _sidecar_bitmap(abs_path: str) -> bytes:
    with open(abs_path, "rb") as fh:
        return zlib.decompress(fh.read())


def bloom_may_contain(entry: list, value, root: str | None = None) -> bool:
    """May the file contain ``value``? ``entry`` = [payload, m, k] from
    the snapshot — payload is inline b64, or ``"@<rel path>"`` pointing
    at a sidecar file under ``root`` (the table path). A tuple/list
    value probes a composite entry (the pair itself, not its
    components). Unknown/mis-typed/unloadable values answer True
    (never prune)."""
    if isinstance(value, (tuple, list)):
        canonical = canonical_tuple(value)
    else:
        canonical = canonical_probe(value)
    if canonical is None:
        return True
    payload, m, k = entry[0], int(entry[1]), int(entry[2])
    try:
        if payload.startswith("@"):
            if root is None:
                return True  # no table root to resolve against
            bits = _sidecar_bitmap(os.path.join(root, payload[1:]))
        else:
            bits = _bitmap(payload)
    except Exception:  # noqa: BLE001 — corrupt/missing: keep the file
        return True
    for pos in bloom_positions(canonical, m, k):
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def validate_bloom_cols(schema, cols: Iterable[str]) -> None:
    """Raise at declaration time (create / backfill) if a bloom entry's
    column is absent, non-bloomable, or would collide with the reserved
    key space. An entry may be a ``|``-joined composite tuple; every
    component must individually satisfy the scalar rules."""
    by_name = {f.name: f.dataType.typeName() for f in schema.fields}
    for entry in cols:
        if "#" in entry:
            raise ValueError(f"bloom entry {entry!r} may not contain '#' "
                             f"(reserved for '<col>{BLOOM_SUFFIX}' keys)")
        parts = [p.strip() for p in entry.split(COMPOSITE_SEP)]
        if any(not p for p in parts):
            raise ValueError(f"bloom entry {entry!r}: empty component "
                             f"(composite entries are 'colA|colB')")
        for c in parts:
            t = by_name.get(c)
            if t is None:
                raise ValueError(f"bloom column {c!r} not in table schema")
            if t not in BLOOMABLE_TYPES:
                raise ValueError(
                    f"bloom column {c!r} has type {t!r}; engine-portable "
                    f"hashing supports only {sorted(BLOOMABLE_TYPES)} "
                    f"(CAST-to-string must match Python's canonical form)")


def _canonical_expr(entry: str):
    """JVM-side canonical string of one bloom entry: CAST for a scalar
    column; ``concat(c1, '\\x1f', c2, ...)`` for a composite (``concat``
    — unlike ``concat_ws`` — is NULL if ANY input is NULL, so a
    part-NULL tuple is skipped rather than aliased onto another pair)."""
    parts = [p.strip() for p in entry.split(COMPOSITE_SEP)]
    if len(parts) == 1:
        return F.col(parts[0]).cast("string")
    pieces = []
    for p in parts:
        if pieces:
            pieces.append(F.lit(TUPLE_SEP))
        pieces.append(F.col(p).cast("string"))
    return F.concat(*pieces)


def _h_raw_exprs(entry: str):
    """JVM-side RAW (h1, h2) of an entry's canonical string — 15 hex
    digits each (< 2^60, fits a long); the ``|1`` and ``% m`` happen in
    the kernel so m may vary per file. NULL canonicals yield NULL
    (skipped: a bloom never needs NULL, equality cannot select it)."""
    hx = F.md5(_canonical_expr(entry))
    h1 = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(hx, 16, 15), 16, 10).cast("long")
    return h1, h2


def _rel_of(uri: str, root: str) -> str:
    """Strip scheme + table root from an input_file_name() URI."""
    path = uri.split("://", 1)[-1] if "://" in uri else uri
    return path.split(root, 1)[-1] if root in path else path


def auto_bits(n_rows: int, bits_per_key: int = 10,
              max_bits: int = 8_388_608) -> int:
    """Bitmap size for a file of ``n_rows`` keys: next power of two of
    ``bits_per_key``x rows (~1% fpp at k=7 for 10 bits/key), clamped to
    [8192, max_bits]. A FIXED m saturates as files grow — measured on
    the 8M-event WAL (15.6k pairs/file): 65,536 bits -> 81% load -> 23%
    per-probe fpp -> 23/128 files pruned; sizing by row count is what
    keeps pruning effective across a 100x scale-up."""
    want = max(8192, n_rows * bits_per_key)
    m = 8192
    while m < want and m < max_bits:
        m <<= 1
    return m


def build_file_blooms(
    df: DataFrame,
    file_col: str,
    cols: list[str],
    root: str,
    m: int = DEFAULT_BITS,
    k: int = DEFAULT_K,
    m_by_rel: dict[str, int] | None = None,
    inline_max: int | None = None,
) -> dict[str, dict[str, list]]:
    """Build per-file blooms for ``cols`` (scalar or ``|``-composite
    entries) over ``df`` (which must carry ``file_col`` =
    input_file_name()). Returns
    ``{rel_path: {"<entry>#bloom": [payload, m, k]}}``.

    ``m_by_rel`` overrides the bitmap size per file (``bloom_bits:
    "auto"`` sizes by footer row count — see :func:`auto_bits`); the
    probe side needs nothing, every entry already stores its own m.

    ``inline_max`` (bytes): a compressed bitmap larger than this is
    written as a sidecar file next to its data file
    (``<data file>.<digest8>.bloom``) and the payload becomes
    ``"@<rel sidecar path>"`` — the snapshot then carries a pointer,
    not the bitmap. Sidecar writes are deterministic and idempotent
    (same bitmap, same path; tmp + atomic rename, so a commit retry or
    a speculative duplicate task just overwrites).

    Execution shape: raw hash bases JVM-side, per-partition partial
    bitmaps in an Arrow kernel (mod-m per file), then ONE narrow shuffle
    of the compressed partials groups each file's partials onto a single
    task, which ORs them and — for sidecar-sized bitmaps — writes the
    sidecar right there. The driver collects only
    ``(file, entry, payload-or-pointer, m)`` rows: at a 10^5-file
    commit with megabit bitmaps, no bitmap bytes cross the driver for
    any bloom large enough to be a sidecar (inline ones are by
    definition snapshot-sized). Most files are written by one task, so
    the shuffle typically moves one partial per (file, entry)."""
    import pandas as pd  # Arrow kernel only (CLAUDE.md: no row-at-a-time)

    if not cols:
        return {}
    sel = [F.col(file_col).alias("__f")]
    for i, c in enumerate(cols):
        h1r, h2r = _h_raw_exprs(c)
        # NULL canonicals become a -1 sentinel JVM-side (raw hashes are 15
        # hex digits, always >= 0). A genuinely NULL long column crossing
        # Arrow->pandas turns the WHOLE partition's column float64, and
        # float64 rounds values above 2^53 — the kernel would then set
        # *wrong bit positions* while the exact-integer probe side checks
        # the right ones: false negatives, i.e. unsound pruning. With the
        # sentinel the column is null-free and stays exact int64.
        sel += [F.coalesce(h1r, F.lit(-1)).alias(f"__h1_{i}"),
                F.coalesce(h2r, F.lit(-1)).alias(f"__h2_{i}")]
    slim = df.select(*sel)
    n_cols = len(cols)
    root = os.path.abspath(root).rstrip("/") + "/"
    m_for = dict(m_by_rel or {})

    def _kernel(batches):
        import numpy as np

        partial: dict[tuple[str, int], "np.ndarray"] = {}
        for pdf in batches:
            for f, grp in pdf.groupby("__f", sort=False):
                rel = _rel_of(f, root)
                mf = m_for.get(rel, m)
                nbytes = mf // 8
                for i in range(n_cols):
                    h1_raw = grp[f"__h1_{i}"].to_numpy("int64")
                    keep = h1_raw >= 0  # drop NULL-canonical sentinels
                    h1 = h1_raw[keep] % mf
                    if h1.size == 0:
                        continue
                    h2 = (grp[f"__h2_{i}"].to_numpy("int64")[keep] | 1) % mf
                    bm = partial.get((rel, i))
                    if bm is None:
                        bm = partial[(rel, i)] = np.zeros(nbytes, np.uint8)
                    for j in range(k):
                        pos = (h1 + j * h2) % mf
                        np.bitwise_or.at(bm, pos >> 3,
                                         (1 << (pos & 7)).astype(np.uint8))
        out = {"f": [], "i": [], "bm": []}
        for (rel, i), bm in partial.items():
            out["f"].append(rel)
            out["i"].append(i)
            out["bm"].append(zlib.compress(bm.tobytes(), 1))
        yield pd.DataFrame(out)

    partials = slim.mapInPandas(_kernel,
                                schema="f string, i int, bm binary")

    # Fast path: when NO bloom of this commit can be sidecar-sized —
    # decidable from metadata alone (the largest raw bitmap plus zlib's
    # worst-case expansion still fits inline_max) — the executor-side
    # finish stage below would be a pure-overhead shuffle + Python stage
    # per merge. Collect the (tiny, inline-by-definition) partials and
    # OR them driver-side instead: same bytes the snapshot JSON is about
    # to carry anyway, zero extra stages. The executor-side path runs
    # exactly when a sidecar is possible, which is when it pays for
    # itself (no bitmap bytes cross the driver for sidecar-sized blooms).
    max_m = max([m, *m_for.values()]) if m_for else m
    worst_packed = max_m // 8 + max_m // (8 * 256) + 64
    if inline_max is None or worst_packed <= inline_max:
        import numpy as np

        acc: dict[tuple[str, int], "np.ndarray"] = {}
        for r in partials.collect():
            part = np.frombuffer(zlib.decompress(r["bm"]), np.uint8)
            key = (r["f"], r["i"])
            prev = acc.get(key)
            acc[key] = part if prev is None else (prev | part)
        inline_out: dict[str, dict[str, list]] = {}
        for (rel, i), bm in acc.items():
            packed = zlib.compress(bm.tobytes(), 6)
            inline_out.setdefault(rel, {})[cols[i] + BLOOM_SUFFIX] = [
                base64.b64encode(packed).decode("ascii"), len(bm) * 8, k,
            ]
        return inline_out

    digests = [
        hashlib.md5((c + BLOOM_SUFFIX).encode("utf-8")).hexdigest()[:8]
        for c in cols
    ]

    def _finish(pdf):
        """One (file, entry) group: OR the partials, write the sidecar
        EXECUTOR-side when over inline_max (tmp + atomic rename —
        idempotent under retry/speculation), emit only the pointer or
        the inline payload."""
        import numpy as np

        rel = pdf["f"].iloc[0]
        i = int(pdf["i"].iloc[0])
        bm = None
        for raw in pdf["bm"]:
            part = np.frombuffer(zlib.decompress(raw), np.uint8)
            bm = part if bm is None else (bm | part)
        packed = zlib.compress(bm.tobytes(), 6)
        if inline_max is not None and len(packed) > inline_max:
            side_rel = f"{rel}.{digests[i]}.bloom"
            abs_path = os.path.join(root, side_rel)
            tmp = f"{abs_path}.{os.getpid()}.tmp"
            with open(tmp, "wb") as fh:
                fh.write(packed)
            os.replace(tmp, abs_path)
            payload = "@" + side_rel
        else:
            payload = base64.b64encode(packed).decode("ascii")
        return pd.DataFrame(
            {"f": [rel], "i": [i], "payload": [payload],
             "m": [len(bm) * 8]})

    rows = (
        partials.groupBy("f", "i")
        .applyInPandas(_finish,
                       schema="f string, i int, payload string, m long")
        .collect()
    )
    out: dict[str, dict[str, list]] = {}
    for r in rows:
        out.setdefault(r["f"], {})[cols[r["i"]] + BLOOM_SUFFIX] = [
            r["payload"], int(r["m"]), k,
        ]
    return out
