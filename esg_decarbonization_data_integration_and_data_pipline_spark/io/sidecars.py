"""Per-file stats sidecars: the lifecycle the Bloom (io/bloom_index),
NDV (io/ndv) and histogram (io/histogram) kinds share.

Each kind summarizes one column of one immutable data file in a tiny
JSON sidecar, so point lookups, distinct counts and quantiles answer
from metadata.  This module owns everything about a sidecar except
its payload codec:

- **Naming.**  The sidecar lives NEXT TO its physical data file
  (``.<kind>-<col>-<datafile>.json``), so manifest-inherited versions
  share it and ``vacuum`` reaps it with its dir; the leading dot keeps
  it out of every data-file listing.  The consolidated Bloom index is
  one root-level file per (column, version):
  ``.bloomidx-<col>-v_<n>.json``.
- **Column resolution.**  Version (default: current), presence in the
  pinned schema, the kind's allowed types, and the stable PHYSICAL
  name sidecars key on -- so ``rename_column`` invalidates nothing.
- **The build job.**  One Spark job builds the missing sidecars of a
  version, one task per file; each task writes its file atomically
  (tmp -> ``os.replace``).  Files that already have a sidecar are
  skipped: data files are immutable, and purge deletes the sidecars
  of files it rewrites.
- **The reader.**  The per-version loader with the coverage check.
- **The Bloom kernel.**  Values hash with md5 over their canonical
  ``str(value)`` utf-8 bytes -- engine-independent, so executor-side
  builds, driver-side probes and the SQL oracle all agree -- split
  into two little-endian 64-bit lanes for double hashing, plus the
  consolidated-then-per-file probe.  operators/bloom.py reuses the
  same position formula over its xxhash64 fingerprints, so the
  lakehouse layer (io/versioned) is imported only inside the
  functions that read a table.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
from typing import TYPE_CHECKING

import numpy as np

if TYPE_CHECKING:
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        CommitBackend,
    )

# kind (the file-name prefix) -> (label in error messages, builder)
_KINDS = {"bloom": ("bloom index", "build_bloom_index"),
          "ndv": ("ndv sketch", "build_ndv_index"),
          "hist": ("histogram", "build_histogram_index")}

# (allowed Spark type names, what they are, why others are refused).
# The str(value) canonical encoding is only stable for integers and
# strings (str(100.0) != str(100), decimals carry trailing zeros,
# dates/timestamps vary by type): hashing anything else would give
# SILENT false negatives, so builds and probes enforce the list.
HASHED = (("byte", "short", "integer", "long", "string"),
          "integer and string",
          "the canonical str() hash encoding is unstable for other "
          "types and would yield silent false negatives")
# the pyarrow types behind HASHED, checked file by file at build time
HASHED_ARROW = ("int8", "int16", "int32", "int64",
                "uint8", "uint16", "uint32", "uint64",
                "string", "large_string")
NUMERIC = (("byte", "short", "integer", "long", "float", "double"),
           "numeric", "the quantize recipe is numeric")


def sidecar_path(abs_data_path: str, kind: str, col: str) -> str:
    d, base = os.path.split(abs_data_path)
    return os.path.join(d, f".{kind}-{col}-{base}.json")


def _listdir(d: str) -> list[str]:
    try:
        return os.listdir(d)
    except OSError:
        return []


def sidecar_candidates(abs_data_path: str) -> list[str]:
    """Every sidecar of one data file, any kind and column -- the
    purge hook uses this to drop evidence of erased keys (Bloom bits
    and HLL registers retain value-hash evidence, histogram counts
    retain value-distribution evidence).  Listing + suffix match, NOT
    glob: glob metacharacters in the table path (``tables[prod]``)
    would silently match nothing and leave the erased subject's
    hashes behind."""
    d, base = os.path.split(abs_data_path)
    prefixes = tuple(f".{k}-" for k in _KINDS)
    suffix = f"-{base}.json"
    return [os.path.join(d, e) for e in _listdir(d)
            if e.startswith(prefixes) and e.endswith(suffix)]


def walk_sidecars(table_dir: str, kind: str, col: str) -> list[str]:
    """Every ``kind`` sidecar of ``col`` anywhere under the table,
    whichever version's files it describes."""
    prefix = f".{kind}-{col}-"
    return [os.path.join(d, e)
            for d, _dirs, entries in os.walk(os.path.abspath(table_dir))
            for e in entries
            if e.startswith(prefix) and e.endswith(".json")]


def _consolidated_path(table_dir: str, col: str, n: int) -> str:
    return os.path.join(os.path.abspath(table_dir),
                        f".bloomidx-{col}-v_{n:08d}.json")


def consolidated_candidates(table_dir: str) -> list[str]:
    """Every consolidated Bloom index of the table, any column or
    version (purge and vacuum drop them; same listing-not-glob rule
    as :func:`sidecar_candidates`)."""
    root = os.path.abspath(table_dir)
    return [os.path.join(root, e) for e in _listdir(root)
            if e.startswith(".bloomidx-") and e.endswith(".json")]


def write_json(path: str, payload: dict) -> None:
    """Atomic sidecar write: a reader sees the old file or the whole
    new one, never a torn JSON."""
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w", encoding="ascii") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)


def type_error(kind: str, col: str, type_name: str,
               types: tuple) -> TypeError:
    _names, what, why = types
    return TypeError(f"{_KINDS[kind][0]} on {col!r} ({type_name}): "
                     f"only {what} columns are supported -- {why}")


def resolve_column(table_dir: str, col: str, n: int | None,
                   backend: CommitBackend | None, kind: str,
                   types: tuple | None = None):
    """``(n, pinned schema, physical name)`` of logical column
    ``col`` at version ``n`` (default: current).  A column missing
    from the pinned schema raises ``ValueError``: a typo'd column
    would otherwise read as all-NULL in every file (always-prune
    Bloom sidecars, a silently wrong zero) instead of the
    AnalysisException an unindexed scan raises.  ``types`` (one of
    :data:`HASHED`, :data:`NUMERIC`) also checks the column's type."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _physical_name, current_version, table_schema,
    )

    if n is None:
        n = current_version(table_dir, backend=backend)
        if n is None:
            raise FileNotFoundError(
                f"{table_dir} has no committed version")
    st = table_schema(table_dir, n)
    if st is not None and col not in st.fieldNames():
        raise ValueError(
            f"{_KINDS[kind][0]} on {col!r}: not a column of "
            f"{table_dir} v_{n:08d} (schema: {st.fieldNames()})")
    if types is not None and st is not None:
        tn = st[col].dataType.typeName()
        if tn not in types[0]:
            raise type_error(kind, col, tn, types)
    return n, st, _physical_name(st, col)


def build_missing(spark, table_dir: str, n: int, kind: str, phys: str,
                  make_payload) -> int:
    """Build the missing ``kind`` sidecars of version ``n``'s data
    files in ONE Spark job, one task per file: each task calls
    ``make_payload(abs_data_path, phys)`` and writes the result
    atomically.  Returns how many were built."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _data_files,
    )

    root = os.path.abspath(table_dir)
    todo = [f for f in _data_files(table_dir, n)
            if not os.path.exists(
                sidecar_path(os.path.join(root, f), kind, phys))]
    if not todo:
        return 0

    def build(rel: str) -> None:
        path = os.path.join(root, rel)
        write_json(sidecar_path(path, kind, phys),
                   make_payload(path, phys))

    spark.sparkContext.parallelize(todo, len(todo)).foreach(build)
    return len(todo)


def load_version(table_dir: str, n: int, kind: str, col: str,
                 phys: str, strict: bool = False) -> dict:
    """``{rel: payload}`` for every data file of version ``n``, in
    manifest order; a file without a sidecar maps to None.  With
    ``strict``, uncovered files raise ``FileNotFoundError`` instead
    (an answer silently missing files would be wrong), naming the
    builder to run for logical column ``col``."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _data_files,
    )

    root = os.path.abspath(table_dir)
    out: dict = {}
    for rel in _data_files(table_dir, n):
        try:
            with open(sidecar_path(os.path.join(root, rel), kind, phys),
                      encoding="ascii") as fh:
                out[rel] = json.load(fh)
        except OSError:
            out[rel] = None
    missing = [rel for rel, p in out.items() if p is None]
    if strict and missing:
        label, builder = _KINDS[kind]
        raise FileNotFoundError(
            f"{label} on {col!r}: {len(missing)} data file(s) of "
            f"{table_dir} v_{n:08d} have no sidecar (first: "
            f"{missing[0]}); run {builder}(spark, table_dir, "
            f"{col!r}, n={n})")
    return out


# ---- the Bloom kernel ------------------------------------------------

def canonical_md5(value) -> bytes:
    """md5 of the value's canonical ``str()`` utf-8 encoding -- the
    one hash every sidecar kind and the SQL oracle share."""
    return hashlib.md5(str(value).encode("utf-8")).digest()


def md5_lanes(values) -> tuple[np.ndarray, np.ndarray]:
    """The two little-endian 64-bit lanes (``h1``, ``h2``) of each
    value's :func:`canonical_md5`, as uint64 arrays."""
    lanes = np.frombuffer(b"".join(canonical_md5(v) for v in values),
                          dtype="<u8").reshape(-1, 2)
    return lanes[:, 0], lanes[:, 1]


_U64 = (1 << 64) - 1


def bloom_positions(h1, h2, n_hashes: int, m_bits: int) -> list:
    """The ``n_hashes`` bit positions ``((h1 + i * h2) mod 2^64) mod
    m_bits`` by double hashing; ``h2 | 1`` keeps the stride odd so
    probes never collapse when ``m_bits`` is even.  One formula for
    both shapes: Python-int lanes (one probe value -- scalar
    arithmetic, no per-call numpy overhead) give a list of ints;
    uint64 arrays (a build batch) give one array per hash."""
    h2 = h2 | 1
    return [((h1 + i * h2) & _U64) % m_bits for i in range(n_hashes)]


def _bloom_entry(payload: dict | None):
    """A decoded Bloom sidecar payload: None = no sidecar (must
    read), False = column absent from the file (all-NULL there,
    prune), else ``(m_bits, n_hashes, bits)``."""
    if payload is None:
        return None
    if not payload.get("m_bits"):
        return False
    return (payload["m_bits"], payload["n_hashes"],
            base64.b64decode(payload["bits"]))


# (abs consolidated path) -> (mtime_ns, decoded files map); repeated
# probes against an unchanged index pay ZERO file I/O after the first.
# Bounded two ways: a stat-miss EVICTS the dead entry (vacuum/purge
# deleted the file), and inserting a version's index drops the same
# (table, col)'s other versions -- a long-lived driver compacting
# hourly otherwise accumulates one full bitmap set per version.
_IDX_CACHE: dict = {}


def _consolidated(table_dir: str, col: str, n: int) -> dict | None:
    """The decoded consolidated index for (col, version), mtime-cached
    in-process, or None when absent (fall back to per-file sidecars)."""
    p = _consolidated_path(table_dir, col, n)
    try:
        mt = os.stat(p).st_mtime_ns
    except OSError:
        _IDX_CACHE.pop(p, None)  # deleted on disk: drop the bitmaps
        return None
    hit = _IDX_CACHE.get(p)
    if hit is not None and hit[0] == mt:
        return hit[1]
    try:
        with open(p, encoding="ascii") as fh:
            raw = json.load(fh)
    except (OSError, ValueError):
        return None
    files = {f: _bloom_entry(sc) for f, sc in raw.get("files", {}).items()}
    # one live version per (table, col): evict this prefix's other
    # versions before inserting
    prefix = p.rsplit("-v_", 1)[0] + "-v_"
    for stale in [k for k in _IDX_CACHE
                  if k.startswith(prefix) and k != p]:
        _IDX_CACHE.pop(stale, None)
    _IDX_CACHE[p] = (mt, files)
    return files


def bloom_probe(table_dir: str, n: int, phys: str, values):
    """A predicate ``rel -> bool``: whether data file ``rel`` of
    version ``n`` must be read for an equality probe of physical
    column ``phys`` against any of ``values``.  The consolidated
    index answers first; a file it does not cover, or covered as
    unindexed at consolidation time, falls back to its per-file
    sidecar; no sidecar at all means read (conservative).  False
    positives cost one file read; false negatives are impossible.
    The index and each value's lanes are fetched once here, not per
    file."""
    idx = _consolidated(table_dir, phys, n) or {}
    root = os.path.abspath(table_dir)
    lanes = [(int(h1), int(h2)) for h1, h2 in zip(*md5_lanes(values))]

    def may_contain(rel: str) -> bool:
        entry = idx.get(rel)
        if entry is None:
            try:
                with open(sidecar_path(os.path.join(root, rel),
                                       "bloom", phys),
                          encoding="ascii") as fh:
                    entry = _bloom_entry(json.load(fh))
            except OSError:
                return True
        if entry is False:
            return False
        m_bits, n_hashes, bits = entry
        return any(all(bits[p >> 3] >> (p & 7) & 1 for p in
                       bloom_positions(h1, h2, n_hashes, m_bits))
                   for h1, h2 in lanes)

    return may_contain
