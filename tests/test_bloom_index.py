"""Per-file Bloom point-lookup index over versioned tables
(io/bloom_index): a probe on a non-clustered high-cardinality column
reads only the files whose bloom says maybe -- no false negatives
ever (property-swept), false positives only cost an extra file, and
the sidecars ride manifest inheritance / purge erasure correctly."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
    build_bloom_index,
    lookup_files,
    point_lookup,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
    purge_keys_history,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.sidecars import (
    sidecar_candidates,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    append_version,
    current_version,
    read_current,
)


def _df(spark, rows):
    # k is the clustered key; u is the NON-clustered high-cardinality
    # lookup column (every file's [min, max] on u overlaps)
    return spark.createDataFrame(rows, "k bigint, u string")


def _table(spark, tmp_path, n_files=4, per_file=50):
    """n_files appends; u values interleave across files so min/max
    stats on u cannot prune anything (u = 'u<plain int>' sorted
    lexically spans nearly the full range in every file)."""
    t = str(tmp_path / "t")
    for i in range(n_files):
        rows = [(i * per_file + j, f"u{(j * n_files + i):04d}")
                for j in range(per_file)]
        append_version(_df(spark, rows).coalesce(1), t,
                       stats_columns=["k", "u"])
    return t


def test_point_lookup_reads_one_file(spark, tmp_path):
    t = _table(spark, tmp_path)
    assert build_bloom_index(spark, t, "u") == 4
    # u0005: j*4+i = 5 -> i=1, j=1 -> file 2's rows only
    files = lookup_files(t, "u", "u0005")
    assert len(files) == 1
    got = point_lookup(spark, t, "u", "u0005").collect()
    assert [(r.k, r.u) for r in got] == [(51, "u0005")]
    # stats alone could NOT have pruned (interleaved ranges overlap):
    # drop the sidecars and the same probe must read every file
    root = os.path.abspath(t)
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _data_files

    for f in _data_files(t, current_version(t)):
        for sc in sidecar_candidates(os.path.join(root, f)):
            os.remove(sc)
    assert len(lookup_files(t, "u", "u0005")) == 4


def test_absent_value_reads_zero_files(spark, tmp_path):
    t = _table(spark, tmp_path)
    build_bloom_index(spark, t, "u")
    # in-range lexically but never present: stats keep it, blooms
    # should kill all 4 files (fp chance ~(1/2)^7 per file)
    assert lookup_files(t, "u", "u0007x") == []
    assert point_lookup(spark, t, "u", "u0007x").count() == 0


def test_no_false_negatives_sweep(spark, tmp_path):
    t = _table(spark, tmp_path)
    build_bloom_index(spark, t, "u")
    rows = read_current(spark, t).collect()
    for r in rows:  # EVERY present value must survive its file's bloom
        fs = lookup_files(t, "u", r.u)
        assert fs, f"false negative for {r.u}"
        got = point_lookup(spark, t, "u", r.u).collect()
        assert [(x.k, x.u) for x in got] == [(r.k, r.u)]


def test_integer_keys_and_incremental_build(spark, tmp_path):
    t = _table(spark, tmp_path, n_files=2)
    assert build_bloom_index(spark, t, "k") == 2
    append_version(_df(spark, [(999, "zz")]).coalesce(1), t)
    # only the new file lacks a sidecar
    assert build_bloom_index(spark, t, "k") == 1
    assert build_bloom_index(spark, t, "k") == 0
    assert len(lookup_files(t, "k", 999)) == 1
    assert point_lookup(spark, t, "k", 999).collect()[0].u == "zz"
    # stats on k are disjoint per file, so the STATS tier alone
    # already prunes ints -- the bloom must not widen it
    assert len(lookup_files(t, "k", 3)) == 1


def test_sidecars_inherited_across_versions(spark, tmp_path):
    t = _table(spark, tmp_path, n_files=2)
    build_bloom_index(spark, t, "u")
    # the new file's u range SPANS the probe (stats alone cannot
    # prune it -- appends auto-track the inherited stats columns,
    # which a disjoint single value would already answer)
    append_version(_df(spark, [(998, "t-below-u0000"),
                               (999, "zz")]).coalesce(1), t)
    # version 3 inherits files 1-2 by reference -- their sidecars
    # apply verbatim; the unindexed new file stays conservative
    files = lookup_files(t, "u", "u0000")
    assert len(files) == 2  # the true file + the unindexed new one
    build_bloom_index(spark, t, "u")
    assert len(lookup_files(t, "u", "u0000")) == 1


def test_pre_evolution_file_prunes_as_all_null(spark, tmp_path):
    t = str(tmp_path / "t")
    append_version(spark.createDataFrame([(1,)], "k bigint"), t)
    append_version(_df(spark, [(2, "uu")]).select("k", "u")
                   .coalesce(1), t,
                   merge_schema=True)
    build_bloom_index(spark, t, "u")
    # the pre-evolution file has no u column: always-prune sidecar
    assert len(lookup_files(t, "u", "uu")) == 1
    assert point_lookup(spark, t, "u", "uu").collect()[0].k == 2


def test_null_probe_rejected(spark, tmp_path):
    t = _table(spark, tmp_path, n_files=1)
    with pytest.raises(ValueError):
        lookup_files(t, "u", None)


def test_purge_drops_rewritten_sidecars(spark, tmp_path):
    t = _table(spark, tmp_path, n_files=2)
    build_bloom_index(spark, t, "u")
    victim = read_current(spark, t).filter(F.col("k") == 0) \
                                   .collect()[0].u
    res = purge_keys_history(spark, t, "k", [0])
    assert res["rows_purged"] == 1
    # the rewritten file's sidecar is GONE (hashed evidence erased);
    # the untouched file keeps its index
    root = os.path.abspath(t)
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _data_files

    remaining = sum(
        len(sidecar_candidates(os.path.join(root, f)))
        for f in _data_files(t, current_version(t)))
    assert remaining == 1
    # probe for the erased subject: conservative read, zero rows
    assert point_lookup(spark, t, "u", victim).count() == 0
    # rebuild restores one-file lookups for survivors
    build_bloom_index(spark, t, "u")
    keep = read_current(spark, t).filter(F.col("k") == 1) \
                                 .collect()[0].u
    assert len(lookup_files(t, "u", keep)) == 1


def test_unsupported_column_and_probe_types_raise(spark, tmp_path):
    t = str(tmp_path / "t")
    append_version(
        spark.createDataFrame([(1, 2.5)], "k bigint, x double")
        .coalesce(1), t)
    with pytest.raises(TypeError, match="integer and string"):
        build_bloom_index(spark, t, "x")
    build_bloom_index(spark, t, "k")
    with pytest.raises(TypeError, match="int and str"):
        lookup_files(t, "k", 2.5)
    with pytest.raises(TypeError, match="int and str"):
        lookup_files(t, "k", True)


def test_sidecar_cleanup_survives_glob_metacharacters(spark, tmp_path):
    # a table path containing glob metacharacters must not silently
    # skip sidecar deletion during erasure
    t = str(tmp_path / "tables[prod]" / "t")
    append_version(_df(spark, [(1, "u1"), (2, "u2")]).coalesce(1), t)
    build_bloom_index(spark, t, "u")
    res = purge_keys_history(spark, t, "k", [1])
    assert res["rows_purged"] == 1
    root = os.path.abspath(t)
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _data_files

    leftover = sum(
        len(sidecar_candidates(os.path.join(root, f)))
        for f in _data_files(t, current_version(t)))
    assert leftover == 0


def test_hash_kernel_matches_scalar_reference():
    """The numpy md5 lanes and the double-hash positions -- over
    uint64 arrays (builds) and Python ints (probes) alike -- equal the
    scalar recipe the sidecars on disk were built with (uint64
    wraparound included), across signs, widths, strings and
    bit-array sizes."""
    import hashlib

    import numpy as np

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.sidecars import (
        bloom_positions,
        md5_lanes,
    )

    def lanes(v):
        h = hashlib.md5(str(v).encode("utf-8")).digest()
        return (int.from_bytes(h[:8], "little"),
                int.from_bytes(h[8:16], "little"))

    def positions(h1, h2, k, m):
        h2 |= 1
        return [((h1 + i * h2) % (1 << 64)) % m for i in range(k)]

    vals = [0, 1, -5, 2**63 - 1, -(2**63), "", "abc", "ünï", 10**12]
    h1, h2 = md5_lanes(vals)
    for i, v in enumerate(vals):
        assert (int(h1[i]), int(h2[i])) == lanes(v)
        for m in (64, 977, 1 << 20, (1 << 62) + 1):
            want = positions(*lanes(v), 7, m)
            got = bloom_positions(h1[i:i + 1], h2[i:i + 1], 7, m)
            assert np.concatenate(got).tolist() == want
            assert bloom_positions(*lanes(v), 7, m) == want
