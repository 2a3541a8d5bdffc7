"""Disk accounting for write and space amplification, from directory
walks and parquet footers only (no Spark job).

A *data* file is a ``*.parquet`` file whose name starts with neither
``_`` nor ``.``; everything else under a table (checksums, ``_SUCCESS``
markers, manifests, pointers, schema files, stats/bloom/deletion-vector
sidecars) is metadata.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

SWAP_DIRS = (".__staging__", ".__retired__")


def is_data(path: str) -> bool:
    base = os.path.basename(path)
    return base.endswith(".parquet") and not base.startswith(("_", "."))


def walk(root: str):
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                yield p, os.stat(p)
            except FileNotFoundError:
                continue


def snapshot(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (inode, mtime_ns, size) of every file under ``root``."""
    return {p: (st.st_ino, st.st_mtime_ns, st.st_size)
            for p, st in walk(root)}


class WriteAmp:
    """Bytes of every file created between two snapshots over bytes of
    the data files among them, summed over snapshot pairs.  A renamed
    file keeps its inode and counts once, where it landed; a file
    created and removed between two snapshots is not seen."""

    def __init__(self) -> None:
        self.written = 0
        self.data = 0

    def add(self, before: dict, after: dict) -> None:
        for p, (ino, mt, size) in after.items():
            old = before.get(p)
            if old is not None and old[:2] == (ino, mt):
                continue
            self.written += size
            if is_data(p):
                self.data += size

    def ratio(self) -> float:
        return self.written / self.data if self.data else 0.0


def new_parquet(path: str, since: float) -> tuple[int, int, int]:
    """(files, bytes, rows) of data files under ``path`` modified at or
    after ``since`` (epoch seconds); rows come from the footers."""
    files = nbytes = rows = 0
    if not os.path.exists(path):
        return 0, 0, 0
    for p, st in walk(path):
        if is_data(p) and st.st_mtime >= since - 0.001 and not any(
                s in p for s in SWAP_DIRS):
            files += 1
            nbytes += st.st_size
            rows += pq.read_metadata(p).num_rows
    return files, nbytes, rows


def warehouse_space_amp(warehouse: str) -> float:
    """Bytes on disk under the warehouse over bytes of the data files of
    its live tables (swap leftovers count as disk, not as live)."""
    total = live = 0
    for p, st in walk(warehouse):
        total += st.st_size
        if is_data(p) and not any(s in p for s in SWAP_DIRS):
            live += st.st_size
    return total / live if live else 0.0


def versioned_tables(root: str) -> list[str]:
    return sorted(d for d, _dirs, files in os.walk(root)
                  if "_CURRENT" in files)


def versioned_space_amp(root: str) -> float:
    """Bytes on disk under ``root`` over the bytes of the current
    version's data files of every versioned table found there."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        describe_table,
    )
    total = sum(st.st_size for _p, st in walk(root))
    live = sum(describe_table(td).get("bytes", 0)
               for td in versioned_tables(root))
    return total / live if live else 0.0


def versioned_metadata(root: str) -> tuple[int, int]:
    """(files, bytes) of every non-data file inside the versioned
    tables under ``root``: manifests, pointers, schema and sidecars."""
    n = nbytes = 0
    for td in versioned_tables(root):
        for p, st in walk(td):
            if not is_data(p):
                n += 1
                nbytes += st.st_size
    return n, nbytes
