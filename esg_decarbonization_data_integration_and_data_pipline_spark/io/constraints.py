"""Write-time table constraints for versioned tables.

The Delta ``CHECK`` / ``NOT NULL`` constraint shape: declare row-level
expectations ONCE on the table and every subsequent
:func:`~.versioned.append_version` / :func:`~.versioned.merge_version`
refuses a batch that violates them
(:class:`~..operators.expectations.CheckFailedError` BEFORE anything
stages, so a bad batch never becomes a version).  The reference
validates inputs per-job and implicitly (scattered na.drop /
empty-frame guards, jobs/source_to_raw/fem_ratio.py:44-49); a table-
level contract moves that to the storage boundary, where every writer
-- batch job, backfill, streaming sink -- passes through it without
remembering to.

Supported kinds are the ROW-LEVEL expectations (not_null / in_range /
in_set / matches): they validate the incoming BATCH alone in one
aggregate scan, so enforcement is O(batch) on every commit.  Grouped/
referential kinds (unique, foreign_key, agg SLAs) need table-level
context and belong in a scheduled :func:`~..operators.expectations.
check_table` audit instead -- declaring one here raises at SET time,
not at some future write.

Like Delta's ``ALTER TABLE ADD CONSTRAINT``, declaring a constraint
on a non-empty table first validates the EXISTING current version
(one scan) -- a constraint the table already violates is refused, so
"constrained" always means "every row ever readable under it passed".

The declaration lives in ``_CONSTRAINTS.json`` at the table root
(atomic tmp+replace; table-level, not per-version -- history is not
retro-validated, exactly like Delta).  Enforcement is wired inside
append/merge themselves via a lazy import -- validating the STAGED
parquet between staging and the pointer flip, so the published bytes
are exactly what passed -- and streaming sinks and the matview
refresh inherit it with no changes.

Concurrency caveat (single-writer semantics for SET): declaring a
constraint on a table with writers IN FLIGHT leaves one window the
sidecar-file design cannot close -- a writer whose constraint read
(absent) preceded the declaration and whose commit lands after
:func:`set_table_constraints` returns is never validated.  The
post-declaration loop re-validates every version that landed during
the call and ROLLS the declaration BACK on a violation (pinned by
tests/test_constraints.py::
test_raced_violating_commit_rolls_the_declaration_back), which closes
every narrower window; quiesce writers when constraining a hot table.
Delta avoids this only by putting the constraint in the commit log
itself, which our sidecar deliberately is not.
"""

from __future__ import annotations

import json
import os

from esg_decarbonization_data_integration_and_data_pipline_spark.operators.expectations import (
    _ROW_LEVEL,
    Check,
    enforce,
)

_FILE = "_CONSTRAINTS.json"


def _path(table_dir: str) -> str:
    return os.path.join(table_dir, _FILE)


def _to_json(c: Check) -> dict:
    return {"kind": c.kind, "columns": list(c.columns),
            "name": c.name, "lo": c.lo, "hi": c.hi,
            "values": list(c.values), "pattern": c.pattern}


def _from_json(d: dict) -> Check:
    return Check(d["kind"], tuple(d["columns"]), d.get("name", ""),
                 lo=d.get("lo"), hi=d.get("hi"),
                 values=tuple(d.get("values", ())),
                 pattern=d.get("pattern", ""))


def table_constraints(table_dir: str) -> list[Check]:
    """The declared constraints (empty list = unconstrained table)."""
    try:
        with open(_path(table_dir), encoding="ascii") as fh:
            return [_from_json(d) for d in json.load(fh)]
    except OSError:
        return []


def _write_constraints(table_dir: str, checks: list[Check]) -> None:
    tmp = _path(table_dir) + ".tmp"
    with open(tmp, "w", encoding="ascii") as fh:
        json.dump([_to_json(c) for c in checks], fh)
    os.replace(tmp, _path(table_dir))


def set_table_constraints(spark, table_dir: str, checks: list[Check],
                          backend=None) -> None:
    """Declare (replace) the table's write-time constraints.  Raises
    :class:`ValueError` for non-row-level kinds, names outside the
    table's pinned schema (exact case -- the write-path check is
    string-exact, so a case drift would brick or silently disable
    enforcement), and :class:`CheckFailedError` when the CURRENT
    version already violates one (nothing is written then) -- an
    existing table earns its constraints with one validation scan,
    the Delta ADD CONSTRAINT contract.  On a table with no committed
    version yet the schema is unknown and the declaration is taken
    on faith; declare after the first commit when possible.

    Concurrency contract: the validate-then-declare pair cannot be
    atomic against writers whose constraint check (absent) preceded
    the declaration (the constraint lives in a sidecar file, not the
    commit log).  After landing the file, any commit that raced the
    validation is re-validated (loop until the pointer is stable),
    which closes every window except a writer still in flight at
    return time -- quiesce writers when adding constraints to a hot
    table."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _readable, committed_versions, current_version, read_current,
        read_version, table_schema,
    )

    if not checks:
        raise ValueError(
            "no checks declared -- use drop_table_constraints to "
            "unconstrain a table")
    bad = [c.kind for c in checks if c.kind not in _ROW_LEVEL]
    if bad:
        raise ValueError(
            f"write-time constraints support row-level kinds "
            f"{_ROW_LEVEL} only (got {bad}): grouped/referential "
            f"checks need table context -- schedule check_table "
            f"audits for those")
    labels = [c.label for c in checks]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate constraint names in {labels}")
    for c in checks:
        for v in (c.lo, c.hi, *c.values):
            if v is not None and not isinstance(v, (int, float, str,
                                                    bool)):
                raise ValueError(
                    f"constraint {c.label}: bound/set values must be "
                    f"JSON primitives (got {type(v).__name__})")
    os.makedirs(table_dir, exist_ok=True)
    cur = current_version(table_dir, backend=backend)
    if cur is not None:
        st = table_schema(table_dir, cur)
        if st is None:
            st = read_current(spark, table_dir,
                              backend=backend).schema
        unknown = sorted({c.columns[0] for c in checks}
                         - set(st.fieldNames()))
        if unknown:
            raise ValueError(
                f"constraints reference columns {unknown} not in the "
                f"table schema {st.fieldNames()} (names are "
                f"case-exact)")
        enforce(read_version(spark, table_dir, cur, backend=backend),
                checks)
    _write_constraints(table_dir, checks)
    # close the validate-vs-inflight-commit race: any version that
    # landed during/after the validation scan is re-validated now
    # that the constraint file is visible to future writers.  EVERY
    # raced version is validated, not just the newest -- a violating
    # commit already superseded by the time the loop looks (violating
    # append, then a corrective delete) would otherwise remain
    # readable, unvalidated history under the declaration (r10
    # ADVICE).  If any raced commit violates, the declaration ROLLS
    # BACK before the error surfaces -- 'constrained' must keep
    # meaning 'validated'.
    seen = cur
    try:
        while True:
            now = current_version(table_dir, backend=backend)
            if now == seen:
                break
            raced = [n for n in committed_versions(table_dir,
                                                   backend=backend)
                     if (seen is None or n > seen) and n <= now
                     and _readable(table_dir, n)]
            for v in raced:
                enforce(read_version(spark, table_dir, v,
                                     backend=backend), checks)
            seen = now
    except Exception:
        try:
            os.remove(_path(table_dir))
        except OSError:
            pass
        raise


def drop_table_constraints(table_dir: str,
                           names=None) -> list[str]:
    """Remove constraints by name (default: all); returns the dropped
    labels."""
    cur = table_constraints(table_dir)
    if not cur:
        return []
    if names is None:
        os.remove(_path(table_dir))
        return [c.label for c in cur]
    keep = [c for c in cur if c.label not in set(names)]
    dropped = [c.label for c in cur if c.label in set(names)]
    if keep:
        _write_constraints(table_dir, keep)
    else:
        os.remove(_path(table_dir))
    return dropped


def audit_constraints(spark, table_dir: str,
                      versions=None, backend=None) -> list[dict]:
    """Verify the CURRENTLY declared constraints against HISTORY:
    one report row per (version, check) over every readable version
    (or the given ``versions``) -- the answer to "did the table
    always satisfy its contract, including states that predate the
    declaration or arrived through restore_table / adopted legacy
    chains".  Routed the cheapest correct way per check
    (:func:`~..operators.expectations.check_table`): not_null rides
    the manifest null counts (zero data I/O on stats-committed
    versions), in_range costs boundary files, in_set / matches scan.
    A column missing from an old version's schema reads all-NULL
    there: not_null honestly reports every row as violating;
    null-skipping kinds pass vacuously."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _readable, committed_versions, table_rowcount, table_schema,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.operators.expectations import (
        check_table_versions,
    )

    checks = table_constraints(table_dir)
    if not checks:
        raise ValueError(f"{table_dir} declares no constraints")
    if versions is None:
        versions = [n for n in committed_versions(table_dir,
                                                  backend=backend)
                    if _readable(table_dir, n)]
    # r15: versions sharing the same applicable check set batch
    # through check_table_versions, so their scan halves run as ONE
    # unioned Spark job instead of one job per version (a 100-
    # version audit pays one collect, not 100)
    applicable_by_v: dict[int, list] = {}
    missing_by_v: dict[int, list] = {}
    groups: dict[tuple, list[int]] = {}
    for n in versions:
        st = table_schema(table_dir, n)
        known = set(st.fieldNames()) if st is not None else None

        def absent(c) -> bool:
            return known is not None and c.columns[0] not in known

        applicable_by_v[n] = [c for c in checks if not absent(c)]
        missing_by_v[n] = [c for c in checks if absent(c)]
        groups.setdefault(
            tuple(c.label for c in applicable_by_v[n]), []).append(n)
    checked: dict[int, list[dict]] = {}
    for key, vs in groups.items():
        if key:
            checked.update(check_table_versions(
                spark, table_dir, applicable_by_v[vs[0]], vs,
                backend=backend))
    out: list[dict] = []
    for n in versions:
        rows = list(checked.get(n, []))
        missing = missing_by_v[n]
        if missing:
            # pre-evolution version: the column does not exist there;
            # every row violates not_null, nothing violates the rest.
            # Row count from metadata -- zero Spark jobs, once/version
            total = table_rowcount(table_dir, n, backend=backend)
            for c in missing:
                viol = total if c.kind == "not_null" else 0
                rows.append({"check_name": c.label, "kind": c.kind,
                             "target": c.columns[0],
                             "n_violations": viol, "n_rows": total,
                             "passed": viol == 0})
        for r in rows:
            out.append({"version": n, **r})
    return out


def enforce_on_write(df, table_dir: str):
    """The write-path hook (called by _manifest_commit on the STAGED
    parquet read-back, between staging and the pointer flip): one
    O(batch) aggregate scan when constraints exist, a no-op
    otherwise.  Validating the staged bytes rather than the incoming
    plan means a nondeterministic batch cannot pass validation yet
    persist violating rows, and an uncached batch is computed once
    (r10 ADVICE).  Returns ``df`` unchanged; raises CheckFailedError
    with the violating check names before anything commits (the
    caller reaps the stage)."""
    checks = table_constraints(table_dir)
    if not checks:
        return df
    # a constraint on a column the batch lacks (pre-evolution writer)
    # reads as all-NULL there: not_null fails loudly, the null-
    # skipping kinds pass -- both are the declared semantics, so no
    # special-casing; enforce() handles missing columns by erroring,
    # which we translate to the clearer contract message
    missing = [c for c in checks
               if c.columns[0] not in df.columns
               and c.kind == "not_null"]
    if missing:
        from esg_decarbonization_data_integration_and_data_pipline_spark.operators.expectations import (
            CheckFailedError,
        )

        raise CheckFailedError([
            {"check_name": c.label, "n_violations": -1,
             "n_rows": -1} for c in missing])
    applicable = [c for c in checks if c.columns[0] in df.columns]
    return enforce(df, applicable) if applicable else df
