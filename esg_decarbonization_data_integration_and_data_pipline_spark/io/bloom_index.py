"""Per-file Bloom point-lookup index for versioned tables.

File-skipping stats (min/max) prune range queries on CLUSTERED
columns, but a point lookup on a high-cardinality column the table is
NOT sorted by gets no help: every file's [min, max] spans the probe
value, so the lookup scans the table.  A per-file Bloom filter fixes
exactly that -- the Delta "bloom filter index" / Parquet
bloom-filter shape: each data file gets a tiny sidecar summarizing
its distinct column values; a probe consults the sidecars (pure
metadata, no data I/O) and reads only files whose bloom says MAYBE.
False positives cost one extra file read (the predicate re-applies);
false negatives are impossible by construction.

Naming, the build job, the hash kernel and the probe live in
io/sidecars, shared with the NDV and histogram kinds; this module
owns the Bloom payload (``m_bits``, ``n_hashes``, ``n_keys`` and the
base64 bit array) and the public lookup API.  Hashing is
engine-independent (md5 lanes of the canonical ``str(value)`` utf-8
encoding), so build (pyarrow in executor tasks) and probe
(driver-side, control-plane) always agree.  Supported key types:
integers and strings (the id-shaped columns point lookups target).

Mutation interplay:
- append/merge/compact create NEW files -> no sidecar until the next
  :func:`build_bloom_index` (missing sidecar = conservatively read).
- :func:`~.purge.purge_keys_history` rewrites files in place; row
  REMOVAL can never introduce a false negative (the stale bloom is a
  superset), but the sidecar would retain hashed evidence of the
  erased subject -- purge therefore deletes rewritten files'
  sidecars (see ``sidecars.sidecar_candidates``); rebuild afterwards.
"""

from __future__ import annotations

import base64
import math
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from esg_decarbonization_data_integration_and_data_pipline_spark.io.sidecars import (
    HASHED,
    HASHED_ARROW,
    _consolidated_path,
    bloom_positions,
    bloom_probe,
    build_missing,
    load_version,
    md5_lanes,
    resolve_column,
    type_error,
    write_json,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    CommitBackend,
    _data_files,
    _read_files_dv,
    _read_stats,
)

_CHUNK = 1 << 16  # keys hashed per numpy batch: bounds task memory


def _check_probe_type(value) -> None:
    if not isinstance(value, (int, str)) or isinstance(value, bool):
        raise TypeError(
            f"bloom point lookups support int and str keys only "
            f"(got {type(value).__name__}): the canonical str() "
            f"encoding is unstable for floats/decimals/dates and "
            f"would return silent false negatives")


def _payload(abs_path: str, col: str, bits_per_key: int) -> dict:
    """One file's Bloom payload (executor task).  A file whose
    physical schema lacks the column (pre-evolution) is all-NULL
    there, and NULL never matches a point probe -- recorded as an
    always-prune sidecar (``m_bits`` 0)."""
    import numpy as np
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(abs_path)
    if col not in pf.schema_arrow.names:
        return {"m_bits": 0, "n_hashes": 0, "n_keys": 0, "bits": ""}
    pa_type = str(pf.schema_arrow.field(col).type)
    if pa_type not in HASHED_ARROW:
        raise type_error("bloom", col, pa_type, HASHED)
    t = pq.read_table(abs_path, columns=[col])
    vals = list({v for v in t.column(col).to_pylist() if v is not None})
    n_hashes = max(1, round(math.log(2) * bits_per_key))
    m_bits = max(64, len(vals) * bits_per_key)
    bits = np.zeros((m_bits + 7) // 8, dtype=np.uint8)
    for i in range(0, len(vals), _CHUNK):
        pos = np.concatenate(bloom_positions(
            *md5_lanes(vals[i:i + _CHUNK]), n_hashes, m_bits))
        np.bitwise_or.at(bits, pos >> 3,
                         np.uint8(1) << (pos & 7).astype(np.uint8))
    return {"m_bits": m_bits, "n_hashes": n_hashes,
            "n_keys": len(vals),
            "bits": base64.b64encode(bits.tobytes()).decode()}


def build_bloom_index(spark: SparkSession, table_dir: str, col: str,
                      n: int | None = None, bits_per_key: int = 10,
                      backend: CommitBackend | None = None) -> int:
    """Build the missing sidecars for version ``n``'s (default:
    current) data files -- one executor task per file, each streaming
    one parquet column; files that already have a sidecar are skipped
    (immutable bytes -> the sidecar stays valid; the purge deletes
    sidecars when it rewrites).  Returns how many were built."""
    n, _st, phys = resolve_column(table_dir, col, n, backend, "bloom",
                                  HASHED)
    return build_missing(spark, table_dir, n, "bloom", phys,
                         partial(_payload,
                                 bits_per_key=int(bits_per_key)))


def consolidate_bloom_index(table_dir: str, col: str,
                            n: int | None = None,
                            backend: CommitBackend | None = None) -> int:
    """Merge version ``n``'s per-file sidecars into ONE root-level
    index file (``.bloomidx-<col>-v_<n>.json``), so a probe costs one
    (cached) file read instead of one open per data file -- the 100
    TB / millions-of-files driver-latency fix for the measured
    ~0.16 ms-per-(probe, file) sidecar-consult cost (SCALE.md
    bloom_lookup row).  Returns the number of files covered.

    A file without a sidecar is recorded as ``null`` (conservative
    must-read, exactly like the per-file path); re-run after
    :func:`build_bloom_index` to tighten.  The version's FILESET is
    immutable (manifests never change), so the index can only go
    stale one way: :func:`~.purge.purge_keys_history` rewriting files
    in place -- purge deletes every consolidated index
    (``sidecars.consolidated_candidates``) for the same
    hashed-evidence reason it deletes per-file sidecars.  Pure
    driver-side metadata; no Spark job."""
    n, _st, phys = resolve_column(table_dir, col, n, backend, "bloom")
    root = os.path.abspath(table_dir)
    external = [f for f in _data_files(table_dir, n)
                if not os.path.abspath(os.path.join(root, f))
                .startswith(root + os.sep)]
    if external:
        # a shallow clone references the SOURCE's files by path; a
        # clone-root consolidated index would copy the source blooms
        # somewhere the source's purge evidence-removal hook cannot
        # see (purge deletes per-file sidecars -- shared by path --
        # and ITS OWN root's .bloomidx files, never another table's
        # root), so an erased subject's hashes would survive here.
        # Refuse, exactly like purge does.
        raise ValueError(
            f"consolidate_bloom_index on {table_dir}: v_{n:08d} "
            f"references files outside the table root (e.g. "
            f"{external[0]}) -- this is a shallow clone; consolidate "
            f"the source table (clones share its per-file sidecars "
            f"by path), or deep_clone first")
    entries = load_version(table_dir, n, "bloom", col, phys)
    write_json(_consolidated_path(table_dir, phys, n),
               {"col": phys, "version": n, "files": entries})
    return len(entries)


def lookup_files(table_dir: str, col: str, value,
                 n: int | None = None,
                 backend: CommitBackend | None = None) -> list[str]:
    """The files of version ``n`` a point probe must read: min/max
    stats prune first (free -- already in the manifest), then the
    bloom sidecars.  Pure metadata; no Spark job."""
    if value is None:
        raise ValueError("point lookup on NULL: filter isNull instead")
    _check_probe_type(value)
    # manifest stats speak LOGICAL names; sidecars and consolidated
    # indexes are keyed by the stable PHYSICAL name
    n, _st, phys = resolve_column(table_dir, col, n, backend, "bloom")
    stats = _read_stats(table_dir, n)
    may_contain = bloom_probe(table_dir, n, phys, [value])
    out = []
    for f in _data_files(table_dir, n):
        if f in stats and col in stats[f]:
            lo, hi = stats[f][col]
            if not (lo <= value <= hi):
                continue
        if may_contain(f):
            out.append(f)
    return out


def point_lookup(spark: SparkSession, table_dir: str, col: str,
                 value, n: int | None = None,
                 backend: CommitBackend | None = None) -> DataFrame:
    """All rows of version ``n`` (default: current) where ``col ==
    value``, reading only the stats- and bloom-surviving files (the
    predicate re-applies, so a bloom false positive costs one file
    read, never a wrong row)."""
    n, st, _phys = resolve_column(table_dir, col, n, backend, "bloom")
    files = lookup_files(table_dir, col, value, n=n, backend=backend)
    if not files:
        if st is not None:
            base = spark.createDataFrame([], st)
        else:
            from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _read_resolved

            base = _read_resolved(spark, table_dir, n).limit(0)
        return base.filter(base[col] == value) if col in base.columns \
            else base
    df = _read_files_dv(spark, table_dir, n, files, st)
    return df.filter(df[col] == value)
