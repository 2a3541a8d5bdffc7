"""Declarative data-quality expectations -- a Deequ-style constraint
suite compiled to the minimum number of scans.

The reference validates inputs implicitly (empty-frame guards and
na.drop scattered through jobs, e.g. jobs/source_to_raw/
fem_ratio.py:44-49, fix_data/fix_raw.py); this tier makes the checks
a first-class, reportable surface: declare constraints, get back a
tidy violations report (one row per check) or a hard gate that
refuses to ship bad data downstream.

Scan discipline -- the part that matters at 100 TB:
- ALL row-level checks (not_null / in_range / in_set / matches)
  AND table-level aggregate bounds (``agg_between``: freshness /
  volume / sanity SLAs) compile into ONE aggregate over a single
  scan: each check is a column of the same agg, unpivoted to report
  rows with ``stack`` -- pure JVM, no collect, partial-agg friendly.
- each ``unique`` / ``min_group_size`` check is one groupBy scan;
  the SAME aggregation yields both the violation count (rows in
  offending key groups) and the row count (sum of group sizes), so
  no extra count(*) pass.
- ``foreign_key`` checks fold into that SAME single-scan aggregate:
  each reference key set is deduplicated and broadcast-left-joined
  onto the frame before the aggregate, so N foreign keys add N
  broadcast builds but ZERO extra scans of the checked data.
Total scans = 1 + #grouped, regardless of how many row-level,
aggregate-bound or foreign-key checks are declared. The report
itself is O(#checks) rows.

NULL semantics: ``not_null`` counts nulls; ``in_range`` / ``in_set``
/ ``matches`` / ``foreign_key`` / ``unique`` skip null values (SQL
UNIQUE semantics -- declare not_null alongside if nulls are
illegal), so each check measures exactly one thing.  The one
deliberate exception is ``min_group_size``: a NULL quasi-identifier
combination is itself a re-identifiable class, so it forms a group
like any value (documented on the function).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class Check:
    """One declared constraint. ``columns`` is 1 column for row-level
    kinds and 1+ for unique/foreign_key composites."""
    kind: str
    columns: tuple[str, ...]
    name: str = ""
    lo: object = None
    hi: object = None
    values: tuple = ()
    pattern: str = ""
    fn: str = ""
    ref: DataFrame | None = None
    ref_columns: tuple[str, ...] = ()

    @property
    def label(self) -> str:
        return self.name or f"{self.kind}:{','.join(self.columns)}"


def not_null(column: str, name: str = "") -> Check:
    return Check("not_null", (column,), name)


def in_range(column: str, lo=None, hi=None, name: str = "") -> Check:
    if lo is None and hi is None:
        raise ValueError("in_range needs lo and/or hi")
    return Check("in_range", (column,), name, lo=lo, hi=hi)


def in_set(column: str, values, name: str = "") -> Check:
    vals = tuple(values)
    if not vals:
        raise ValueError("in_set needs a non-empty value set")
    if any(v is None for v in vals):
        # NOT IN (... NULL) is NULL for every non-member, which would
        # silently count zero violations -- a false pass. Nulls are
        # skipped by design; declare (or omit) not_null separately.
        raise ValueError(
            "in_set values must not contain None (null values never "
            "violate in_set; use not_null to police nulls)")
    return Check("in_set", (column,), name, values=vals)


def matches(column: str, pattern: str, name: str = "") -> Check:
    return Check("matches", (column,), name, pattern=pattern)


def unique(*columns: str, name: str = "") -> Check:
    if not columns:
        raise ValueError("unique needs at least one column")
    return Check("unique", tuple(columns), name)


_AGG_FNS = ("min", "max", "avg", "sum", "count")


def agg_between(column: str, fn: str, lo=None, hi=None,
                name: str = "") -> Check:
    """Table-level SLA bound: ``fn(column)`` must lie in [lo, hi]
    (either side optional) -- freshness (``max(ts) >= ...``), volume
    (``count >= ...``), sanity (``avg`` in an expected band).
    Reported as 1 violation when the bound fails, 0 otherwise.
    Aggregates skip nulls natively; on an empty/all-null input every
    fn except ``count`` is NULL, which violates NO bound (vacuous
    pass) -- pair with ``agg_between(col, 'count', lo=1)`` to police
    emptiness.  Shares the single row-level aggregate scan.  Bounds
    should sit well clear of the true aggregate: an exactly-boundary
    double is float-summation-order territory."""
    if fn not in _AGG_FNS:
        raise ValueError(f"fn must be one of {_AGG_FNS}, got {fn!r}")
    if lo is None and hi is None:
        raise ValueError("agg_between needs lo and/or hi")
    return Check("agg_between", (column,), name or
                 f"agg_between:{fn}({column})", lo=lo, hi=hi, fn=fn)


def min_group_size(columns, k: int, name: str = "") -> Check:
    """k-anonymity: every combination of the quasi-identifier
    ``columns`` must occur at least ``k`` times; rows in smaller
    groups are re-identifiable and count as violations.  One groupBy
    scan, like ``unique`` (which is this check with the inequality
    flipped)."""
    cols = (columns,) if isinstance(columns, str) else tuple(columns)
    if not cols:
        raise ValueError("min_group_size needs at least one column")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return Check("min_group_size", cols, name, lo=k)


def foreign_key(columns, ref: DataFrame, ref_columns,
                name: str = "") -> Check:
    cols = (columns,) if isinstance(columns, str) else tuple(columns)
    refc = ((ref_columns,) if isinstance(ref_columns, str)
            else tuple(ref_columns))
    if len(cols) != len(refc):
        raise ValueError(
            f"foreign_key arity mismatch: {cols} vs {refc}")
    return Check("foreign_key", cols, name, ref=ref, ref_columns=refc)


_ROW_LEVEL = ("not_null", "in_range", "in_set", "matches")


def _violated(c: Check) -> Column:
    col = F.col(c.columns[0])
    if c.kind == "not_null":
        return col.isNull()
    if c.kind == "in_range":
        bad = F.lit(False)
        if c.lo is not None:
            bad = bad | (col < F.lit(c.lo))
        if c.hi is not None:
            bad = bad | (col > F.lit(c.hi))
        return col.isNotNull() & bad
    if c.kind == "in_set":
        return col.isNotNull() & ~col.isin(list(c.values))
    if c.kind == "matches":
        return col.isNotNull() & ~col.rlike(c.pattern)
    raise ValueError(f"not a row-level check: {c.kind}")


def _report_cols(label: str, kind: str, target: str,
                 viol: Column, n: Column) -> list[Column]:
    return [F.lit(label).alias("check_name"),
            F.lit(kind).alias("kind"),
            F.lit(target).alias("target"),
            viol.cast("bigint").alias("n_violations"),
            n.cast("bigint").alias("n_rows")]


def report(df: DataFrame, checks: list[Check],
           group: str | None = None) -> DataFrame:
    """Tidy report frame: (check_name, kind, target, n_violations,
    n_rows, passed), one row per declared check.  Lazy -- the scans
    run when the report is consumed.

    ``group`` (r16): report PER VALUE of an existing column instead
    of over the whole frame -- the output gains that column and every
    check row repeats per group.  This is what lets a multi-version
    audit run ONE multi-version read (io/versioned.read_versions)
    and still get per-version rows: same aggregate tree, keyed by the
    version column.  Note groupBy drops empty groups, so a group with
    ZERO rows yields no rows here (callers synthesize the empty-input
    report -- 0 violations / 0 rows / passed -- per absent group;
    check_table_versions does)."""
    if not checks:
        raise ValueError("no checks declared")
    labels = [c.label for c in checks]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate check names in {labels}")
    gcols = [group] if group is not None else []
    frames: list[DataFrame] = []

    row_level = [c for c in checks if c.kind in _ROW_LEVEL]
    agg_checks = [c for c in checks if c.kind == "agg_between"]
    fk_checks = [c for c in checks if c.kind == "foreign_key"]
    if row_level or agg_checks or fk_checks:
        # foreign keys fold into the SAME single-scan aggregate: each
        # ref is deduplicated and broadcast-left-joined onto df (no
        # row multiplication -- ref keys are distinct), so N foreign
        # keys no longer cost N extra full scans of df (r15
        # optimization, guide sections 2.4/3.1; report previously
        # built one corpus-scan frame per FK)
        src = df
        fk_flags: list[Column] = []
        for fi, c in enumerate(fk_checks):
            ref_keys = (c.ref.select(*[F.col(r).alias(f"__fk{fi}_{i}")
                                       for i, r in
                                       enumerate(c.ref_columns)])
                           .dropDuplicates())
            cond = reduce(lambda a, b: a & b,
                          [src[x].eqNullSafe(F.col(f"__fk{fi}_{i}"))
                           for i, x in enumerate(c.columns)])
            src = src.join(F.broadcast(ref_keys), cond, "left")
            key_present = reduce(lambda a, b: a & b,
                                 [F.col(x).isNotNull()
                                  for x in c.columns])
            fk_flags.append(key_present
                            & F.col(f"__fk{fi}_0").isNull())
        aggs = [F.sum(F.when(_violated(c), 1).otherwise(0))
                 .alias(f"__v{i}")
                for i, c in enumerate(row_level)]
        aggs += [getattr(F, c.fn)(F.col(c.columns[0]))
                 .alias(f"__a{i}")
                 for i, c in enumerate(agg_checks)]
        aggs += [F.coalesce(F.sum(F.when(flag, 1)), F.lit(0))
                  .alias(f"__f{i}")
                 for i, flag in enumerate(fk_flags)]
        aggs.append(F.count(F.lit(1)).alias("__n"))
        one = (src.groupBy(*gcols).agg(*aggs) if gcols
               else src.agg(*aggs))
        # unpivot the single agg row into one report row per check;
        # stack is JVM-side, so no collect and no Python-RDD frame
        stack_args: list[Column] = []
        for i, c in enumerate(row_level):
            stack_args += [F.lit(c.label), F.lit(c.kind),
                           F.lit(c.columns[0]),
                           F.coalesce(F.col(f"__v{i}"), F.lit(0))
                            .cast("bigint")]
        for i, c in enumerate(agg_checks):
            bad = F.lit(False)
            if c.lo is not None:
                bad = bad | (F.col(f"__a{i}") < F.lit(c.lo))
            if c.hi is not None:
                bad = bad | (F.col(f"__a{i}") > F.lit(c.hi))
            # NULL aggregate (empty/all-null input) violates no
            # bound -> 0 (vacuous pass, documented on agg_between)
            stack_args += [F.lit(c.label), F.lit(c.kind),
                           F.lit(c.columns[0]),
                           F.when(bad, 1).otherwise(0)
                            .cast("bigint")]
        for i, c in enumerate(fk_checks):
            stack_args += [F.lit(c.label), F.lit(c.kind),
                           F.lit(",".join(c.columns)),
                           F.col(f"__f{i}").cast("bigint")]
        n_stacked = len(row_level) + len(agg_checks) + len(fk_checks)
        frames.append(one.select(
            *gcols,
            F.stack(F.lit(n_stacked), *stack_args)
             .alias("check_name", "kind", "target", "n_violations"),
            F.col("__n").alias("n_rows")).select(
            *gcols,
            "check_name", "kind", "target",
            F.col("n_violations").cast("bigint").alias("n_violations"),
            F.col("n_rows").cast("bigint").alias("n_rows")))

    for c in checks:
        if c.kind in ("unique", "min_group_size"):
            keys_nonnull = reduce(
                lambda a, b: a & b,
                [F.col(x).isNotNull() for x in c.columns])
            # unique skips NULL-keyed rows (SQL UNIQUE); they still
            # count toward n_rows via the same group frame
            bad_group = (
                (F.col("__cnt") > 1) & keys_nonnull
                if c.kind == "unique"
                else F.col("__cnt") < F.lit(c.lo))
            grouped = (df.groupBy(*gcols,
                                  *[F.col(x) for x in c.columns])
                         .agg(F.count(F.lit(1)).alias("__cnt")))
            rep_cols = _report_cols(
                c.label, c.kind, ",".join(c.columns),
                F.coalesce(F.sum(F.when(bad_group, F.col("__cnt"))),
                           F.lit(0)),
                F.coalesce(F.sum("__cnt"), F.lit(0)))
            frames.append(grouped.groupBy(*gcols).agg(*rep_cols)
                          if gcols else grouped.agg(*rep_cols))
        elif c.kind not in _ROW_LEVEL + ("agg_between",
                                         "foreign_key"):
            raise ValueError(f"unknown check kind: {c.kind}")

    out = reduce(DataFrame.unionByName, frames)
    return out.withColumn("passed", F.col("n_violations") == 0)


def tag_violations(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Row-level audit: append a ``failed_checks array<string>``
    column listing which ROW-LEVEL checks each row violates (labels
    in declaration order; empty array = clean row).  A pure narrow
    map -- no shuffle, no action -- so it composes into any batch or
    micro-batch plan.  Grouped/referential kinds need cross-row
    context and raise; run :func:`report` for those."""
    if not checks:
        raise ValueError("no checks declared")
    bad = [c.kind for c in checks if c.kind not in _ROW_LEVEL]
    if bad:
        raise ValueError(
            f"tag_violations is row-level only; got {bad} -- run "
            f"report() for grouped/referential checks")
    labels = [c.label for c in checks]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate check names in {labels}")
    tags = F.array_compact(F.array(
        *[F.when(_violated(c), F.lit(c.label)) for c in checks]))
    return df.withColumn("failed_checks", tags)


def quarantine_split(df: DataFrame,
                     checks: list[Check]) -> tuple[DataFrame,
                                                   DataFrame]:
    """(clean, quarantined): rows passing every row-level check
    (original schema), and violating rows carrying their
    ``failed_checks`` tags -- the expectations-with-quarantine
    pattern for pipelines that must keep flowing while bad rows are
    routed aside for triage instead of failing the whole batch
    (:func:`enforce` is the fail-stop alternative)."""
    tagged = tag_violations(df, checks)
    clean = (tagged.filter(F.size("failed_checks") == 0)
                   .drop("failed_checks"))
    return clean, tagged.filter(F.size("failed_checks") > 0)


_METADATA_KINDS = ("not_null", "in_range")
_METADATA_AGG_FNS = ("min", "max", "count")


def _metadata_answerable(c: Check) -> bool:
    return (c.kind in _METADATA_KINDS
            or (c.kind == "agg_between"
                and c.fn in _METADATA_AGG_FNS))


def metadata_report(spark, table_dir: str, checks: list[Check],
                    n: int | None = None,
                    backend=None) -> list[dict]:
    """Answer ``not_null`` / ``in_range`` / metadata-answerable
    ``agg_between`` checks over a VERSIONED table (io/versioned)
    from COMMIT METADATA instead of scanning: null counts come from
    the manifest's #rows lines (parquet-footer fallback, including
    the all-null contribution of files predating an evolved column),
    range violations from two boundary-file counts (``count_where``
    total-non-null minus in-range), ``agg_between`` min/max bounds
    from the per-file stats (``column_range``; numeric columns) and
    count bounds from the row/null counts -- on a table whose
    commits recorded stats for the checked columns this is ZERO data
    I/O for not_null/count, O(endpoint files) for in_range, the
    lakehouse twin of :func:`report`.  Results are exact either way
    -- with ONE carve-out: min/max bounds on a NaN-bearing
    float column follow parquet/SQL skip-NaN semantics while
    report()'s Spark aggregate orders NaN above everything
    (column_range documents it); metadata otherwise only changes
    what must be read.

    Other kinds (unique / in_set / matches / foreign_key, and
    sum/avg aggregate bounds) genuinely need the data -- declare
    them against ``report(read_version(...))`` instead; passing one
    here raises.

    Returns ``history()``-style control-plane rows (one dict per
    check, same fields as the :func:`report` frame), oldest
    declaration first.
    """
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        column_range, count_nulls, count_where, current_version,
        table_rowcount,
    )

    bad = [f"{c.kind}:{c.fn}" if c.kind == "agg_between" else c.kind
           for c in checks if not _metadata_answerable(c)]
    if bad:
        raise ValueError(
            f"metadata_report answers only {_METADATA_KINDS} and "
            f"agg_between over {_METADATA_AGG_FNS}; got {bad} -- "
            f"run report(read_version(...)) for those")
    if not checks:
        raise ValueError("no checks declared")
    labels = [c.label for c in checks]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate check names in {labels}")
    if n is None:
        n = current_version(table_dir, backend=backend)
        if n is None:
            raise FileNotFoundError(
                f"{table_dir} has no committed version")
    n_rows = table_rowcount(table_dir, n, backend=backend)
    nulls: dict[str, int] = {}   # per column, computed at most once
    ranges: dict[str, tuple] = {}  # likewise (min+max pair per call)

    def _nulls(col: str) -> int:
        if col not in nulls:
            nulls[col] = count_nulls(spark, table_dir, col, n,
                                     backend=backend)
        return nulls[col]

    def _range(col: str) -> tuple:
        if col not in ranges:
            ranges[col] = column_range(spark, table_dir, col, n,
                                       backend=backend)
        return ranges[col]

    out: list[dict] = []
    for c in checks:
        col = c.columns[0]
        if c.kind == "not_null":
            viol = _nulls(col)
        elif c.kind == "in_range":
            # non-null total from footers (never a scan) rather than
            # an unbounded count_where, which would scan every
            # stats-less file just to count non-nulls
            in_rng = count_where(spark, table_dir, col,
                                 lo=c.lo, hi=c.hi, n=n,
                                 backend=backend)
            viol = (n_rows - _nulls(col)) - in_rng
        else:  # agg_between over min / max / count
            if c.fn == "count":
                val = n_rows - _nulls(col)
            else:
                lo_hi = _range(col)
                val = lo_hi[0] if c.fn == "min" else lo_hi[1]
            # NULL aggregate violates no bound (report() semantics)
            viol = int(val is not None
                       and ((c.lo is not None and val < c.lo)
                            or (c.hi is not None and val > c.hi)))
        out.append({"check_name": c.label, "kind": c.kind,
                    "target": col, "n_violations": viol,
                    "n_rows": n_rows, "passed": viol == 0})
    return out


def check_table(spark, table_dir: str, checks: list[Check],
                n: int | None = None, backend=None) -> list[dict]:
    """One suite over a VERSIONED table, each check answered the
    cheapest correct way: not_null / in_range / min-max-count
    aggregate bounds route to :func:`metadata_report` (manifest +
    footer metadata, boundary files at worst), everything else runs
    through the scan-based :func:`report` over ``read_version`` --
    so a mixed nightly suite pays data I/O only for the kinds that
    genuinely need it.
    Returns the combined rows in DECLARATION order (both halves see
    the same version, resolved once up front)."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        current_version,
    )

    if n is None:
        n = current_version(table_dir, backend=backend)
        if n is None:
            raise FileNotFoundError(
                f"{table_dir} has no committed version")
    return check_table_versions(spark, table_dir, checks, (n,),
                                backend=backend)[n]


def check_table_versions(spark, table_dir: str, checks: list[Check],
                         versions, backend=None) -> dict[int, list[dict]]:
    """Batched :func:`check_table` over several versions of ONE
    table: routing and the metadata half stay per-version (both are
    zero-Spark-job), but the scan halves of ALL versions union into
    ONE Spark job with a single collect, instead of paying a
    job-scheduling round per version (r15; an N-version audit's
    collect latency was N x one control-plane fetch for O(#checks)
    rows per version).  Within each same-schema version group the
    scan half reads through :func:`read_versions` (the grouped
    :func:`report` keys the same aggregate tree by the version
    column).  Rows per version are identical to calling
    check_table(n=v) -- check_table itself delegates here."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        RANGE_STAT_KINDS, read_version, read_versions, table_schema,
    )

    if not checks:
        raise ValueError("no checks declared")
    labels = [c.label for c in checks]
    if len(set(labels)) != len(labels):
        # results are keyed by label across the two halves; report()
        # would catch scan-half duplicates but a meta/scan split pair
        # would silently collapse to one row
        raise ValueError(f"duplicate check names in {labels}")

    def routable(c: Check, st) -> bool:
        if not _metadata_answerable(c):
            return False
        if c.kind == "agg_between" and c.fn in ("min", "max"):
            # metadata min/max is exact only for numeric columns
            # (parquet string stats truncate); a timestamp/string
            # freshness SLA routes to the scan half instead of
            # crashing the suite
            return (st is not None
                    and c.columns[0] in st.fieldNames()
                    and st[c.columns[0]].dataType.typeName()
                    in RANGE_STAT_KINDS)
        return True

    rows_by_ver: dict[int, dict[str, dict]] = {}
    scan_by_ver: dict[int, list[Check]] = {}
    st_by_ver: dict[int, object] = {}
    for n in versions:
        st = table_schema(table_dir, n)
        st_by_ver[n] = st
        meta = [c for c in checks if routable(c, st)]
        scan = [c for c in checks if not routable(c, st)]
        rows: dict[str, dict] = {}
        if meta:
            for r in metadata_report(spark, table_dir, meta, n=n,
                                     backend=backend):
                rows[r["check_name"]] = r
        if scan:
            scan_by_ver[n] = scan
        rows_by_ver[n] = rows
    # group the scan halves by pinned schema (within one group the
    # routing -- and so the scan check list -- is identical) and read
    # each group through the multi-version reader
    groups: dict[str | None, list[int]] = {}
    for n in scan_by_ver:
        sj = st_by_ver[n].json() if st_by_ver[n] is not None else None
        groups.setdefault(sj, []).append(n)
    scan_frames: list[DataFrame] = []
    for vs in groups.values():
        scan = scan_by_ver[vs[0]]
        try:
            rv = read_versions(spark, table_dir, vs,
                               backend=backend)
            scan_frames.append(report(rv, scan, group="__version"))
        except RuntimeError:
            # safety valve: any multi-version resolution surprise
            # (e.g. a SchemaMismatchError from a history whose pinned
            # schemas differ in ways the json-grouping above did not
            # capture) falls back to the r15 per-version union --
            # slower, never wrong
            for n in vs:
                scan_frames.append(
                    report(read_version(spark, table_dir, n,
                                        backend=backend), scan)
                    .withColumn("__version", F.lit(int(n))))
    if scan_frames:
        for r in reduce(DataFrame.unionByName, scan_frames).collect():
            d = r.asDict()
            v = d.pop("__version")
            rows_by_ver[v][d["check_name"]] = d
    # a ZERO-ROW version forms no group in the grouped report --
    # synthesize the empty-input rows (0 violations / 0 rows /
    # passed), which is exactly what report() returns on an empty
    # frame
    for n, scan in scan_by_ver.items():
        for c in scan:
            if c.label not in rows_by_ver[n]:
                target = (",".join(c.columns)
                          if c.kind in ("unique", "min_group_size",
                                        "foreign_key")
                          else c.columns[0])
                rows_by_ver[n][c.label] = {
                    "check_name": c.label, "kind": c.kind,
                    "target": target, "n_violations": 0,
                    "n_rows": 0, "passed": True}
    return {n: [rows_by_ver[n][c.label] for c in checks]
            for n in versions}


class CheckFailedError(Exception):
    """Raised by :func:`enforce`; carries the failing report rows."""

    def __init__(self, failures: list):
        self.failures = failures
        lines = "; ".join(
            f"{r['check_name']}: {r['n_violations']}/{r['n_rows']}"
            for r in failures)
        super().__init__(f"data-quality checks failed: {lines}")


def enforce(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Gate: run the report, raise :class:`CheckFailedError` if any
    check fails, else return ``df`` unchanged (the report collect is
    O(#checks) rows -- control-plane-sized)."""
    failures = [r for r in report(df, checks).collect()
                if not r["passed"]]
    if failures:
        raise CheckFailedError(failures)
    return df
