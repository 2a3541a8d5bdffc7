"""Right-to-be-forgotten purge across versioned-table history
(io/purge): matched rows disappear from EVERY readable version while
time travel, txn markers, schemas, metadata counts and file-skipping
stats stay intact; crash/concurrency edges repair on re-run."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.io import purge as P
from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
    assert_keys_absent,
    count_keys_all_versions,
    purge_keys_history,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    VersionConflictError,
    _data_files,
    _read_stats,
    append_version,
    compact_table,
    count_nulls,
    current_version,
    history,
    merge_version,
    read_current,
    read_version,
    read_where,
    table_rowcount,
    write_version,
)


def _kv(spark, pairs):
    return spark.createDataFrame(pairs, "k bigint, a string")


def _rows(df):
    return sorted((r.k, r.a) for r in df.collect())


def _chain(spark, tmp_path):
    """Three stats-tracked appends (keys 0-9, 10-19, 20-29) -- v2/v3
    inherit earlier files by reference, so a purge of key 5 must
    rewrite ONE shared physical file referenced by all three
    manifests."""
    t = str(tmp_path / "t")
    for lo in (0, 10, 20):
        append_version(
            _kv(spark, [(k, f"a{k}") for k in range(lo, lo + 10)])
            .coalesce(1), t, txn=f"batch:{lo}", stats_columns=["k"])
    return t


def test_purge_removes_rows_from_every_version(spark, tmp_path):
    t = _chain(spark, tmp_path)
    res = purge_keys_history(spark, t, "k", [5, 25])
    assert res["rows_purged"] == 2
    assert res["files_rewritten"] == 2  # files holding 0-9 and 20-29
    assert res["versions"] == [1, 2, 3]
    # every version readable, minus exactly the purged keys
    assert _rows(read_version(spark, t, 1)) == [
        (k, f"a{k}") for k in range(10) if k != 5]
    assert _rows(read_version(spark, t, 2)) == [
        (k, f"a{k}") for k in range(20) if k != 5]
    assert _rows(read_current(spark, t)) == [
        (k, f"a{k}") for k in range(30) if k not in (5, 25)]
    assert count_keys_all_versions(spark, t, "k", [5, 25]) == {
        1: 0, 2: 0, 3: 0}
    assert_keys_absent(spark, t, "k", [5, 25])


def test_purge_preserves_metadata_tiers(spark, tmp_path):
    t = _chain(spark, tmp_path)
    purge_keys_history(spark, t, "k", [5])
    # metadata-only counts are EXACT post-purge (phase 3 re-recorded
    # fresh footer rows for the rewritten file in every manifest)
    assert table_rowcount(t, 1) == 9
    assert table_rowcount(t, 3) == 29
    assert count_nulls(spark, t, "a", 3) == 0
    # file-skipping stats re-recorded: a read outside the purged
    # file's range still prunes it (and results stay right)
    got = read_where(spark, t, "k", lo=22, hi=27)
    assert sorted(r.k for r in got.collect()) == [22, 23, 24, 25, 26, 27]
    stats = _read_stats(t, 3)
    assert all("k" in cols for cols in stats.values())
    # txn markers and history survive
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _txns

    assert {"batch:0", "batch:10", "batch:20"} <= _txns(t, 3)
    assert [h["version"] for h in history(t)] == [1, 2, 3]


def test_purge_prunes_untouched_files(spark, tmp_path):
    t = _chain(spark, tmp_path)
    before = {f: os.path.getmtime(os.path.join(t, f))
              for f in _data_files(t, 3)}
    res = purge_keys_history(spark, t, "k", [15])
    # stats pruning: only the 10-19 file was even a candidate
    assert res["files_candidates"] == 1
    assert res["files_rewritten"] == 1
    untouched = [f for f in before
                 if os.path.getmtime(os.path.join(t, f)) == before[f]]
    assert len(untouched) == 2


def test_purge_across_compaction_and_merge(spark, tmp_path):
    t = _chain(spark, tmp_path)
    merge_version(spark, t, _kv(spark, [(7, "NEW7")]), "k")
    compact_table(spark, t, sort_by=["k"])
    purge_keys_history(spark, t, "k", [7])
    for n in (1, 2, 3, 4, 5):
        assert 7 not in {r.k for r in read_version(spark, t, n).collect()}
    # v1 keeps its other rows; the compaction keeps everything else
    assert len(_rows(read_version(spark, t, 5))) == 29
    assert_keys_absent(spark, t, "k", [7])


def test_purge_snapshot_version_without_manifest(spark, tmp_path):
    t = str(tmp_path / "t")
    write_version(_kv(spark, [(1, "x"), (2, "y")]), t)
    append_version(_kv(spark, [(3, "z")]), t)
    purge_keys_history(spark, t, "k", [1])
    assert _rows(read_version(spark, t, 1)) == [(2, "y")]
    assert _rows(read_current(spark, t)) == [(2, "y"), (3, "z")]


def test_purge_skips_pre_evolution_files(spark, tmp_path):
    t = str(tmp_path / "t")
    append_version(
        spark.createDataFrame([("only-a",)], "a string"), t)
    append_version(_kv(spark, [(1, "b")]).select("a", "k"), t,
                   merge_schema=True)
    res = purge_keys_history(spark, t, "k", [1])
    assert res["rows_purged"] == 1
    # the pre-evolution file (no k column) is untouched and its row
    # still reads back (k = NULL)
    rows = read_current(spark, t).collect()
    assert sorted((r.a, r.k) for r in rows) == [("only-a", None)]


def test_purge_rejects_bad_values(spark, tmp_path):
    t = _chain(spark, tmp_path)
    with pytest.raises(ValueError):
        purge_keys_history(spark, t, "k", [])
    with pytest.raises(ValueError):
        purge_keys_history(spark, t, "k", [1, None])


def test_purge_is_idempotent(spark, tmp_path):
    t = _chain(spark, tmp_path)
    assert purge_keys_history(spark, t, "k", [5])["rows_purged"] == 1
    again = purge_keys_history(spark, t, "k", [5])
    assert again["rows_purged"] == 0
    assert again["files_rewritten"] == 0
    assert_keys_absent(spark, t, "k", [5])


def test_purge_can_empty_a_whole_file(spark, tmp_path):
    t = _chain(spark, tmp_path)
    purge_keys_history(spark, t, "k", list(range(10)))
    # v1 is now an empty (but readable, schema-carrying) version
    assert read_version(spark, t, 1).count() == 0
    assert _rows(read_current(spark, t)) == [
        (k, f"a{k}") for k in range(10, 30)]
    assert table_rowcount(t, 1) == 0


def test_concurrent_commit_mid_purge_raises_and_rerun_repairs(
        spark, tmp_path, monkeypatch):
    t = _chain(spark, tmp_path)
    real = P._readd_meta_lines
    fired = {"done": False}

    def interleave(table_dir, n, meta):
        # driver-side hook (the per-file rewrites run in executor
        # processes): a writer appends inside the purge window, after
        # the swaps but before the metadata repair completes.  Its
        # manifest inherits the swapped files -- with NO copied
        # stats/rows lines, because phase 1 already stripped them.
        if not fired["done"]:
            fired["done"] = True
            append_version(_kv(spark, [(99, "late")]), t)
        return real(table_dir, n, meta)

    monkeypatch.setattr(P, "_readd_meta_lines", interleave)
    with pytest.raises(VersionConflictError):
        purge_keys_history(spark, t, "k", [5])
    monkeypatch.setattr(P, "_readd_meta_lines", real)
    # history is already clean; the re-run repairs the new version's
    # metadata and finds nothing left to remove
    res = purge_keys_history(spark, t, "k", [5])
    assert res["rows_purged"] == 0
    assert_keys_absent(spark, t, "k", [5])
    assert current_version(t) == 4
    assert (99, "late") in _rows(read_current(spark, t))
    # metadata counts exact on every version incl. the interloper's
    for n, expect in ((1, 9), (2, 19), (3, 29), (4, 30)):
        assert table_rowcount(t, n) == expect


def test_purge_random_history_matches_dict_model(spark, tmp_path):
    """Model check: random append/merge history, purge a random key
    subset, then EVERY readable version must equal the model's state
    at that version minus the purged keys."""
    import random

    rng = random.Random(20260815)
    t = str(tmp_path / "t")
    model: dict[int, str] = {}
    states: list[dict[int, str]] = []
    for step in range(6):
        batch = {rng.randrange(40): f"s{step}v{i}" for i in range(6)}
        if step and rng.random() < 0.4:
            merge_version(
                spark, t,
                _kv(spark, sorted(batch.items())), "k")
            model.update(batch)
        else:
            fresh = {k: v for k, v in batch.items() if k not in model}
            append_version(_kv(spark, sorted(fresh.items())), t,
                           stats_columns=["k"])
            model.update(fresh)
        states.append(dict(model))
    victims = sorted(rng.sample(sorted(model), 5))
    purge_keys_history(spark, t, "k", victims)
    for n, state in enumerate(states, start=1):
        expect = sorted((k, v) for k, v in state.items()
                        if k not in victims)
        assert _rows(read_version(spark, t, n)) == expect, f"v{n}"
    assert_keys_absent(spark, t, "k", victims)


def test_noop_purge_touches_no_manifest(spark, tmp_path):
    """A value provably outside every file's stats range must not
    rewrite a single manifest (the sweep-many-tables no-op path)."""
    t = _chain(spark, tmp_path)
    paths = [os.path.join(t, f"v_{n:08d}", "_MANIFEST")
             for n in (1, 2, 3)]
    before = [os.path.getmtime(p) for p in paths]
    res = purge_keys_history(spark, t, "k", [10_000])
    assert res == {"rows_purged": 0, "files_rewritten": 0,
                   "files_candidates": 0, "versions": [1, 2, 3]}
    assert [os.path.getmtime(p) for p in paths] == before


def test_purge_lock_excludes_second_purger(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
        PurgeInProgressError, _PURGE_LOCK,
    )

    t = _chain(spark, tmp_path)
    lock = os.path.join(t, _PURGE_LOCK)
    with open(lock, "w") as fh:
        fh.write("12345 0\n")
    with pytest.raises(PurgeInProgressError):
        purge_keys_history(spark, t, "k", [5])
    # a crashed purger's stale lock is stolen after the ttl
    os.utime(lock, (0, 0))
    assert purge_keys_history(spark, t, "k", [5])["rows_purged"] == 1
    assert not os.path.exists(lock)  # released on completion


def test_rerun_purge_never_duplicates_metadata_lines(spark, tmp_path):
    t = _chain(spark, tmp_path)
    purge_keys_history(spark, t, "k", [5])
    purge_keys_history(spark, t, "k", [6])  # same file re-candidates
    import collections

    with open(os.path.join(t, "v_00000003", "_MANIFEST")) as fh:
        raw = fh.read()
    import json as _json

    seen = collections.Counter()
    for line in raw.splitlines():
        for prefix, kind in (("#rows ", "rows"), ("#stats ", "stats")):
            if line.startswith(prefix):
                rec = _json.loads(line[len(prefix):])
                seen[(kind, rec["f"], rec.get("c"))] += 1
    dupes = {k: c for k, c in seen.items() if c > 1}
    assert not dupes, f"duplicate metadata lines: {dupes}"
    # and the counts stayed exact through both purges
    assert table_rowcount(t, 3) == 28


def test_reader_heals_pending_dv_remap_journal(spark, tmp_path,
                                               monkeypatch):
    """r12 ADVICE crash window: a purge that swapped its rewritten
    files but crashed BEFORE applying the .dvremap journals leaves
    dv-bearing versions anti-filtering on mis-pointed positions.
    The version-aware reader must detect the pending journal, apply
    it, and return correct rows -- not silently hide/resurface the
    wrong ones."""
    import glob

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        delete_keys_dv,
    )

    t = str(tmp_path / "t")
    append_version(
        _kv(spark, [(k, f"a{k}") for k in range(10)]).coalesce(1),
        t, stats_columns=["k"])
    delete_keys_dv(spark, t,
                   spark.createDataFrame([(3,)], "k bigint"), "k")
    # simulate the crash: file swaps land, journal application does
    # not (both purge call sites go through the module-level name)
    monkeypatch.setattr(P, "_apply_dv_remap_journals",
                        lambda *a, **k: 0)
    purge_keys_history(spark, t, "k", [1])
    monkeypatch.undo()
    journals = glob.glob(os.path.join(t, "v_*", ".dvremap-*.json"))
    assert journals, "purge should have left a pending journal"
    # the dv-bearing version reads correctly (3 dv-deleted, 1 purged)
    got = _rows(read_version(spark, t, 2))
    assert got == sorted((k, f"a{k}") for k in range(10)
                         if k not in (1, 3))
    # ... and the heal consumed the journal
    assert not glob.glob(os.path.join(t, "v_*", ".dvremap-*.json"))
    # idempotent second read
    assert _rows(read_version(spark, t, 2)) == got


def test_purge_rebound_logical_key_raises(spark, tmp_path):
    """r12 ADVICE: rename a->b then re-add a fresh logical 'a' --
    purging key 'a' under the newest binding alone would leave the
    original column's historical values (now logical 'b') unpurged.
    The resolver must refuse instead of partially erasing; purging
    each binding by its current logical name still works."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
        AmbiguousKeyBindingError,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        rename_column,
    )

    t = str(tmp_path / "t")
    append_version(
        spark.createDataFrame([(k, f"x{k}") for k in range(5)],
                              "a bigint, payload string")
        .coalesce(1), t, stats_columns=["a"])
    rename_column(spark, t, "a", "b")
    # re-add a NEW logical 'a' (fresh physical column)
    append_version(
        spark.createDataFrame([(100, "y", 7)],
                              "b bigint, payload string, a bigint")
        .coalesce(1), t, merge_schema=True)
    with pytest.raises(AmbiguousKeyBindingError, match="bound to 2"):
        purge_keys_history(spark, t, "a", [2])
    # per-binding purges are unambiguous and complete: 'b' has one
    # binding; the re-added 'a' is pinned to the schema defining it
    purge_keys_history(spark, t, "b", [2])
    purge_keys_history(spark, t, "a", [7], key_version=3)
    assert_keys_absent(spark, t, "b", [2])
    assert_keys_absent(spark, t, "a", [7], key_version=3)


def test_count_keys_skips_schemaless_version_without_key(spark,
                                                         tmp_path):
    """A legacy version with no pinned schema whose files lack the
    key column is all-NULL there: the erasure audit counts it as 0
    instead of failing the whole audit on the missing column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        adopt_legacy_history,
    )

    td = str(tmp_path / "t")
    for n, cols in ((1, {"x": [1.0, 2.0]}),
                    (2, {"k": [5, 6, 5], "x": [1.0, 2.0, 3.0]})):
        vdir = os.path.join(td, f"v_{n:08d}")
        os.makedirs(vdir)
        pq.write_table(pa.table(cols),
                       os.path.join(vdir, "part-00000.parquet"))
    with open(os.path.join(td, "_CURRENT"), "w") as fh:
        fh.write("v_00000002\n")
    assert adopt_legacy_history(td) == [1]
    assert count_keys_all_versions(spark, td, "k", [5]) == {1: 0, 2: 2}
