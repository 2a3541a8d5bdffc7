"""Per-file value-histogram sidecars -> metadata-answered quantiles
and range selectivities.

The fourth member of the metadata-answer family (file stats ->
bloom point lookups -> HLL distinct counts -> THIS): each data file
gets a tiny fixed-grid bucket-count sidecar (one pyarrow pass per
file, executor-parallel, built once), and the query path merges
counts by bucket-wise SUM -- associative and layout-independent --
to answer, with ZERO Spark jobs and zero data I/O:

- :func:`column_hist_quantile` -- an approximate quantile whose
  error is bounded by one bucket width (the optimizer's "what price
  splits the table in half?");
- :func:`column_hist_range_count` -- LOWER and UPPER bounds on
  ``count(col BETWEEN lo AND hi)`` (selectivity estimation: the
  number a join planner wants before it picks a strategy).

At 100 TB this prices distribution questions at ``files x ~4 KiB``
sidecar reads on the driver instead of a cluster-wide scan-and-sort.

Determinism contract (the io/ndv doctrine): every number is INTEGER
arithmetic over a shared grid, so a DuckDB oracle re-derives the
EXACT estimates and the driver gate hash-compares them.  Values
quantize as ``floor(v * 10^scale + 0.5)`` (half-up, mirrored
literally in SQL; integer columns at scale 0 skip the float path
entirely), the grid is ``width = (hi_q - lo_q) // NB + 1`` buckets
from the quantized span, bucket = ``(vq - lo_q) // width`` clamped
to the grid, and the quantile walk picks the first bucket whose
cumulative count reaches ``max(1, ceil(q * total))``, answering the
bucket's LOWER BOUND in quantized units.

Grid lifecycle: the first :func:`build_histogram_index` for a
column computes the grid from that version's min/max (the one Spark
job this tier ever runs) and stamps it into every sidecar; later
builds REUSE the grid found on the version's files (values outside
a reused grid clamp into the edge buckets -- estimates stay
conservative, the contract stays deterministic), and a version
whose files carry DIFFERENT grids is refused loudly (delete the
stale sidecars and rebuild) rather than merged into a skewed
answer.

Caveats (documented, matching bloom/ndv):
- New files (append/merge/compact) have no sidecar until the next
  build; :func:`column_histogram` refuses partial coverage loudly.
- Deletion vectors subtract rows the counts still include: every
  answer is an UPPER-bound view on a DV-carrying version (exact
  again after compaction materializes the deletes).
- Purge deletes rewritten files' histogram sidecars together with
  the blooms (bucket counts retain distribution evidence of erased
  values); rebuild afterwards.
"""

from __future__ import annotations

import json
import math
from functools import partial

from pyspark.sql import SparkSession

from esg_decarbonization_data_integration_and_data_pipline_spark.io.sidecars import (
    NUMERIC,
    build_missing,
    load_version,
    resolve_column,
    walk_sidecars,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    CommitBackend,
)

HIST_NB = 512  # buckets per sidecar (~4 KiB JSON)


def quantize(v, scale: int) -> int:
    """``floor(v * 10^scale + 0.5)`` -- half-up, the recipe the SQL
    oracle mirrors literally.  Monotone, so grid bounds derive from
    raw min/max.  Integer inputs at scale 0 stay exact integers
    (no float roundtrip -- int64 exceeds double precision)."""
    if scale == 0 and isinstance(v, int):
        return v
    return int(math.floor(v * (10 ** scale) + 0.5))


def _grid_of(payload: dict) -> tuple[int, int, int, int]:
    return (payload["lo"], payload["width"], payload["nb"],
            payload["scale"])


def _payload(abs_path: str, col: str, scale: int,
             grid: tuple[int, int, int]) -> dict:
    """One file's bucket-count payload (executor task): numpy batch
    quantize + floor-div + bincount; a file whose physical schema
    lacks the column (pre-evolution) is all-NULL there."""
    import numpy as np
    import pyarrow.parquet as pq

    lo, width, nb = grid
    pf = pq.ParquetFile(abs_path)
    counts = np.zeros(nb, dtype=np.int64)
    n_null = 0
    if col in pf.schema_arrow.names:
        t = pq.read_table(abs_path, columns=[col])
        c = t.column(col)
        n_null = c.null_count
        vals = c.drop_null()
        if len(vals):
            import pyarrow as pa

            if pa.types.is_integer(vals.type) and scale == 0:
                vq = vals.to_numpy(zero_copy_only=False) \
                         .astype(np.int64)
            else:
                raw = vals.to_numpy(zero_copy_only=False) \
                          .astype(np.float64)
                vq = np.floor(raw * (10 ** scale) + 0.5) \
                       .astype(np.int64)
            b = np.clip((vq - lo) // width, 0, nb - 1)
            counts = np.bincount(b, minlength=nb).astype(np.int64)
    else:
        n_null = pf.metadata.num_rows
    return {"scale": scale, "lo": int(lo), "width": int(width),
            "nb": int(nb), "n_null": int(n_null),
            "counts": [int(x) for x in counts]}


def build_histogram_index(spark: SparkSession, table_dir: str,
                          col: str, scale: int = 0,
                          n: int | None = None,
                          backend: CommitBackend | None = None) -> int:
    """Build the missing bucket-count sidecars for version ``n``'s
    (default: current) data files -- one executor task per file.

    Grid choice: if any of the version's files already carries a
    histogram sidecar for ``col``, its grid (and scale) is REUSED --
    one grid per (table, column), so merges across versions stay
    well-defined; mixed existing grids refuse.  Otherwise the grid
    derives from this version's min/max in the tier's single Spark
    aggregate job.  Returns how many sidecars were built."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import read_version

    n, _st, phys = resolve_column(table_dir, col, n, backend, "hist",
                                  NUMERIC)
    if scale < 0:
        raise ValueError(f"histogram scale must be >= 0, got {scale}")
    grids = {_grid_of(p) for p in load_version(
        table_dir, n, "hist", col, phys).values() if p is not None}
    if not grids:
        # none of THIS version's files is sketched yet, but another
        # version's may be (a copy-on-write rewrite can replace every
        # file, e.g. a spread-out delete): the one-grid-per-column
        # contract scans the whole table before minting a new grid,
        # else cross-version merges would silently diverge
        for path in walk_sidecars(table_dir, "hist", phys):
            try:
                with open(path, encoding="ascii") as fh:
                    grids.add(_grid_of(json.load(fh)))
            except (OSError, ValueError, KeyError):
                continue
    if len(grids) > 1:
        raise ValueError(
            f"histogram on {col!r}: {table_dir} v_{n:08d} carries "
            f"{len(grids)} different sidecar grids -- delete the "
            f".hist-{phys}-* sidecars and rebuild")
    if grids:
        lo, width, nb, g_scale = next(iter(grids))
        if g_scale != scale:
            raise ValueError(
                f"histogram on {col!r}: existing sidecars use "
                f"scale={g_scale}, requested {scale} -- delete and "
                f"rebuild to re-scale")
    else:
        from pyspark.sql import functions as F

        row = (read_version(spark, table_dir, n)
               .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
               .collect()[0])
        if row["lo"] is None:  # empty / all-NULL version
            lo, width, nb = 0, 1, HIST_NB
        else:
            lo = quantize(row["lo"], scale)
            hi = quantize(row["hi"], scale)
            nb = HIST_NB
            width = (hi - lo) // nb + 1
    return build_missing(spark, table_dir, n, "hist", phys,
                         partial(_payload, scale=scale,
                                 grid=(lo, width, nb)))


def column_histogram(table_dir: str, col: str, n: int | None = None,
                     backend: CommitBackend | None = None) -> dict:
    """The merged histogram for version ``n`` (default: current)
    from sidecars alone -- no SparkSession, no data I/O.  Counts
    merge by bucket-wise sum, so the result is independent of how
    rows are spread across files.  Raises ``FileNotFoundError``
    listing uncovered files when sidecars are missing, and
    ``ValueError`` on mixed grids."""
    import numpy as np

    n, _st, phys = resolve_column(table_dir, col, n, backend, "hist",
                                  NUMERIC)
    grid = None
    counts = None
    n_null = 0
    for rel, payload in load_version(table_dir, n, "hist", col, phys,
                                     strict=True).items():
        g = _grid_of(payload)
        if grid is None:
            grid = g
            counts = np.zeros(g[2], dtype=np.int64)
        elif g != grid:
            raise ValueError(
                f"histogram on {col!r}: sidecar of {rel} carries grid "
                f"{g}, expected {grid} -- delete the stale sidecars "
                f"and re-run build_histogram_index")
        counts += np.asarray(payload["counts"], dtype=np.int64)
        n_null += payload["n_null"]
    if grid is None:  # zero data files
        return {"lo": 0, "width": 1, "nb": HIST_NB, "scale": 0,
                "counts": [0] * HIST_NB, "n_null": 0, "total": 0}
    return {"lo": grid[0], "width": grid[1], "nb": grid[2],
            "scale": grid[3], "counts": [int(x) for x in counts],
            "n_null": int(n_null), "total": int(counts.sum())}


def column_hist_quantile(table_dir: str, col: str, q: float,
                         n: int | None = None,
                         backend: CommitBackend | None = None) -> int:
    """Approximate q-quantile of version ``n`` in QUANTIZED units
    (divide by ``10^scale`` for the raw value): the lower bound of
    the first bucket whose cumulative count reaches
    ``max(1, ceil(q * total))``.  Error <= one bucket width.
    Deterministic integer walk -- the SQL oracle re-derives it
    exactly.  Raises on an empty column (no rank to answer)."""
    h = column_histogram(table_dir, col, n=n, backend=backend)
    if h["total"] == 0:
        raise ValueError(
            f"histogram quantile on {col!r}: version has no "
            f"non-null values")
    rank = max(1, math.ceil(q * h["total"]))
    cum = 0
    for b, c in enumerate(h["counts"]):
        cum += c
        if cum >= rank:
            return h["lo"] + b * h["width"]
    return h["lo"] + (h["nb"] - 1) * h["width"]  # pragma: no cover


def column_hist_range_count(table_dir: str, col: str, lo, hi,
                            n: int | None = None,
                            backend: CommitBackend | None = None,
                            ) -> tuple[int, int]:
    """(lower bound, upper bound) on ``count(col BETWEEN lo AND
    hi)`` in QUANTIZED-inclusive semantics (both bounds quantized
    with the shared recipe).  The upper bound sums every bucket the
    quantized range touches; the lower bound sums only buckets
    fully contained -- ``lb <= exact <= ub`` always (exactness
    pinned in tests).  Metadata-only selectivity estimation."""
    h = column_histogram(table_dir, col, n=n, backend=backend)
    glo, w, nb, scale = h["lo"], h["width"], h["nb"], h["scale"]
    lo_q, hi_q = quantize(lo, scale), quantize(hi, scale)
    if hi_q < lo_q:
        return 0, 0
    ghi = glo + nb * w - 1  # last quantized value the grid covers
    # values outside the grid were CLAMPED into the edge buckets at
    # build time, so a probe touching an edge bucket must widen its
    # upper bound to that bucket, and the lower bound may only count
    # an edge bucket when the probe covers the whole clamped side
    b_lo = max(0, (lo_q - glo) // w) if lo_q >= glo else 0
    b_hi = min(nb - 1, (hi_q - glo) // w) if hi_q <= ghi else nb - 1
    if lo_q > ghi or hi_q < glo:
        # outside the grid entirely: clamped edge values could still
        # hide there, so the upper bound keeps the nearest edge
        # bucket; the lower bound is 0
        edge = 0 if hi_q < glo else nb - 1
        return 0, int(h["counts"][edge])
    ub = int(sum(h["counts"][b_lo:b_hi + 1]))
    lb = 0
    for b in range(b_lo, b_hi + 1):
        blo, bhi = glo + b * w, glo + (b + 1) * w - 1
        if b == 0:
            blo = None  # edge bucket holds clamped lower outliers
        if b == nb - 1:
            bhi = None  # edge bucket holds clamped upper outliers
        if ((blo is not None and blo >= lo_q)
                and (bhi is not None and bhi <= hi_q)):
            lb += int(h["counts"][b])
    return lb, ub
