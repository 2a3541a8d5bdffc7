"""Consolidated bloom index (io/bloom_index.consolidate_bloom_index):
one root-level, mtime-cached index file per (column, version) so
probes stop paying one sidecar open per data file -- plus the purge
evidence-removal and vacuum cleanup hooks."""

from __future__ import annotations

import os

import pytest

from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
    build_bloom_index,
    consolidate_bloom_index,
    lookup_files,
    point_lookup,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
    purge_keys_history,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.sidecars import (
    _consolidated,
    consolidated_candidates,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    append_version,
    compact_table,
    current_version,
    vacuum,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k bigint, u string")


def _table(spark, tmp_path, n_files=4, per_file=50):
    t = str(tmp_path / "t")
    for i in range(n_files):
        rows = [(i * per_file + j, f"u{(j * n_files + i):04d}")
                for j in range(per_file)]
        append_version(_df(spark, rows).coalesce(1), t,
                       stats_columns=["k"])
    return t


def test_consolidated_matches_per_file(spark, tmp_path):
    """For every probe, the consolidated path returns EXACTLY the
    per-file sidecar path's fileset (same blooms, one file)."""
    t = _table(spark, tmp_path)
    build_bloom_index(spark, t, "u")
    probes = [f"u{i:04d}" for i in range(0, 200, 7)] + ["nope"]
    before = {p: lookup_files(t, "u", p) for p in probes}
    n = consolidate_bloom_index(t, "u")
    assert n == 4
    assert os.path.exists(os.path.join(
        t, f".bloomidx-u-v_{current_version(t):08d}.json"))
    for p in probes:
        assert lookup_files(t, "u", p) == before[p]
    # and point_lookup still returns the right rows through it
    got = point_lookup(spark, t, "u", "u0042").collect()
    assert [r.u for r in got] == ["u0042"]


def test_consolidated_is_cached_and_mtime_invalidated(spark, tmp_path):
    t = _table(spark, tmp_path)
    build_bloom_index(spark, t, "u")
    consolidate_bloom_index(t, "u")
    n = current_version(t)
    first = _consolidated(t, "u", n)
    assert first is not None
    assert _consolidated(t, "u", n) is first  # cache hit, same object
    # rewrite the index -> mtime moves -> cache refreshes
    consolidate_bloom_index(t, "u")
    os.utime(os.path.join(t, f".bloomidx-u-v_{n:08d}.json"),
             ns=(1, 1))
    second = _consolidated(t, "u", n)
    assert second is not None and second is not first


def test_unindexed_files_stay_conservative(spark, tmp_path):
    """A file without a sidecar at consolidation time is recorded as
    must-read; building its sidecar later tightens the per-file
    fallback without re-consolidating."""
    t = _table(spark, tmp_path, n_files=2)
    build_bloom_index(spark, t, "u")
    # a new append has no sidecar yet
    append_version(_df(spark, [(999, "zz99")]).coalesce(1), t)
    consolidate_bloom_index(t, "u")
    files = lookup_files(t, "u", "absent-value")
    assert len(files) == 1  # only the unindexed file survives
    built = build_bloom_index(spark, t, "u")
    assert built == 1
    assert lookup_files(t, "u", "absent-value") == []


def test_purge_drops_consolidated_evidence(spark, tmp_path):
    t = _table(spark, tmp_path)
    build_bloom_index(spark, t, "u")
    consolidate_bloom_index(t, "u")
    assert consolidated_candidates(t)
    res = purge_keys_history(spark, t, "k", [3])
    assert res["rows_purged"] >= 1
    assert consolidated_candidates(t) == []
    # probes fall back to the per-file path and stay correct
    assert point_lookup(spark, t, "u", "u0042").count() == 1


def test_vacuum_reaps_dead_version_indexes(spark, tmp_path):
    t = _table(spark, tmp_path, n_files=2)
    build_bloom_index(spark, t, "u")
    n_old = current_version(t)
    consolidate_bloom_index(t, "u", n=n_old)
    compact_table(spark, t)
    removed = vacuum(t, keep_last=1)
    assert n_old in removed
    assert consolidated_candidates(t) == []


def test_consolidate_typod_column_errors(spark, tmp_path):
    t = _table(spark, tmp_path, n_files=1)
    with pytest.raises(ValueError, match="not a column"):
        consolidate_bloom_index(t, "nope")


def test_consolidate_refuses_shallow_clone(spark, tmp_path):
    """A clone-root consolidated index would hold source blooms the
    source's purge evidence-removal can never reach -- refused, like
    purge itself (r12 review finding)."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.clone import (
        deep_clone, shallow_clone,
    )

    t = _table(spark, tmp_path, n_files=2)
    build_bloom_index(spark, t, "u")
    sh = str(tmp_path / "sh")
    shallow_clone(spark, t, sh)
    with pytest.raises(ValueError, match="shallow clone"):
        consolidate_bloom_index(sh, "u")
    # the documented safe path: deep clones are self-contained
    dp = str(tmp_path / "dp")
    deep_clone(spark, t, dp)
    build_bloom_index(spark, dp, "u")
    assert consolidate_bloom_index(dp, "u") == 2


def test_idx_cache_evicts_dead_and_stale_versions(spark, tmp_path):
    """stat-miss evicts a deleted index's bitmaps; inserting a new
    version's index drops the same (table, col)'s older versions."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.sidecars import (
        _IDX_CACHE, _consolidated_path,
    )

    t = _table(spark, tmp_path, n_files=2)
    build_bloom_index(spark, t, "u")
    n1 = current_version(t)
    consolidate_bloom_index(t, "u", n=n1)
    assert _consolidated(t, "u", n1) is not None
    p1 = os.path.abspath(_consolidated_path(t, "u", n1))
    assert p1 in _IDX_CACHE
    # a later version's index evicts the older one's bitmaps
    append_version(_df(spark, [(999, "zz")]).coalesce(1), t)
    n2 = current_version(t)
    build_bloom_index(spark, t, "u")
    consolidate_bloom_index(t, "u", n=n2)
    assert _consolidated(t, "u", n2) is not None
    assert p1 not in _IDX_CACHE
    # deleting the file on disk evicts on the next probe
    p2 = os.path.abspath(_consolidated_path(t, "u", n2))
    os.remove(p2)
    assert _consolidated(t, "u", n2) is None
    assert p2 not in _IDX_CACHE
