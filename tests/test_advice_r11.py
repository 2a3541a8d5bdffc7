"""Round-11 ADVICE regression tests (VERDICT/ADVICE round 10).

One test per accepted finding:
- purge._rewrite_file deletes the Hadoop .crc and bloom sidecars
  BEFORE os.replace, so a crash at the swap leaves a repairable
  state (medium);
- enforce_on_write validates the STAGED parquet bytes, so a
  nondeterministic batch can never pass validation yet persist
  violating rows, and the batch is computed exactly once (low);
- set_table_constraints' race loop validates EVERY raced version,
  not just the newest, so a superseded violating commit still rolls
  the declaration back (low);
- build_bloom_index / lookup_files raise ValueError for a column
  missing from the version's schema instead of silently writing
  always-prune sidecars (low).
"""

from __future__ import annotations

import os

import pytest

from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
    build_bloom_index,
    lookup_files,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.constraints import (
    set_table_constraints,
    table_constraints,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
    _rewrite_file,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.sidecars import (
    sidecar_candidates,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    _data_files,
    append_version,
    current_version,
    delete_keys_version,
    read_current,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.operators.expectations import (
    CheckFailedError,
    in_range,
    not_null,
)


def _kv(spark, pairs):
    return spark.createDataFrame(pairs, "k bigint, amt double")


def test_purge_crash_at_swap_leaves_repairable_state(
        spark, tmp_path, monkeypatch):
    """Simulated crash AT the atomic swap: the data file must be
    unchanged (rows still present, so a re-run repairs) while the
    .crc and bloom sidecars are already gone (their deletion now
    precedes the swap -- the old trailing order left a post-swap
    crash permanently unrepaired, because the re-run's n_hit == 0
    early return never reached the cleanup)."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    append_version(_kv(spark, [(1, 1.0), (2, 2.0), (3, 3.0)])
                   .coalesce(1), t, stats_columns=["k"])
    build_bloom_index(spark, t, "k")
    rel = _data_files(t, 1)[0]
    abs_path = os.path.join(t, rel)
    d, base = os.path.split(abs_path)
    crc = os.path.join(d, f".{base}.crc")
    assert os.path.exists(crc), "local-FS Spark write keeps a .crc"
    assert sidecar_candidates(abs_path), "bloom sidecar exists"

    real_replace = os.replace

    def crash_at_swap(src, dst, *a, **kw):
        if dst == abs_path:
            raise RuntimeError("simulated crash at the swap")
        return real_replace(src, dst, *a, **kw)

    monkeypatch.setattr(os, "replace", crash_at_swap)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _rewrite_file(abs_path, "k", frozenset([2]))
    monkeypatch.undo()

    # crash state: data unchanged, sidecars already gone -- safe
    assert pq.read_table(abs_path).num_rows == 3
    assert not os.path.exists(crc)
    assert sidecar_candidates(abs_path) == []
    # the re-run finds the rows (n_hit > 0) and completes the swap
    assert _rewrite_file(abs_path, "k", frozenset([2])) == 1
    got = pq.read_table(abs_path).column("k").to_pylist()
    assert sorted(got) == [1, 3]


def test_constrained_write_validates_persisted_bytes_once(
        spark, tmp_path):
    """A nondeterministic batch (different values per computation)
    under a declared constraint: validation must see the PERSISTED
    bytes, and the batch must be computed exactly once.  The old
    pre-write order computed the lineage twice -- validation saw
    computation #1 (valid) while computation #2 (violating) became
    the version."""
    t = str(tmp_path / "t")
    append_version(_kv(spark, [(1, 1.0)]), t)
    set_table_constraints(spark, t, [in_range("amt", lo=0.0, hi=10.0)])

    counter = str(tmp_path / "computations")

    def emit(batches):
        import pandas as pd

        n = 0
        if os.path.exists(counter):
            with open(counter) as fh:
                n = int(fh.read() or 0)
        with open(counter, "w") as fh:
            fh.write(str(n + 1))
        for _ in batches:
            pass
        # first computation is valid, every later one violates
        yield pd.DataFrame({"k": [2], "amt": [1.0 if n == 0 else 99.0]})

    batch = (_kv(spark, [(0, 0.0)]).repartition(1)
             .mapInPandas(emit, "k bigint, amt double"))
    append_version(batch, t)
    with open(counter) as fh:
        assert fh.read() == "1", "batch lineage computed exactly once"
    rows = {(r.k, r.amt) for r in read_current(spark, t).collect()}
    assert rows == {(1, 1.0), (2, 1.0)}, (
        "persisted bytes are the validated bytes")


def test_set_constraints_validates_superseded_raced_versions(
        spark, tmp_path, monkeypatch):
    """A racing writer lands a VIOLATING commit and then a corrective
    delete before the re-validation loop looks: the loop must
    validate the superseded intermediate version too (it remains
    readable history) and roll the declaration back -- validating
    only the newest version would let it slip through."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io import constraints as C
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import _manifest_commit

    t = str(tmp_path / "t")
    append_version(_kv(spark, [(1, 1.0)]).coalesce(1), t,
                   stats_columns=["k"])
    real = C._write_constraints

    def land_then_race(table_dir, checks):
        real(table_dir, checks)
        # racing writer: validated before the file landed, so its
        # violating append bypasses enforcement; its corrective
        # delete supersedes it before the loop observes
        _manifest_commit(_kv(spark, [(2, -9.0)]), t, txn=None,
                         pinned_base=None, inherit_files=True,
                         max_attempts=5, backend=None)
        delete_keys_version(
            spark, t, spark.createDataFrame([(2,)], "k bigint"), "k")

    monkeypatch.setattr(C, "_write_constraints", land_then_race)
    with pytest.raises(CheckFailedError):
        set_table_constraints(spark, t,
                              [not_null("k"), in_range("amt", lo=0.0)])
    assert table_constraints(t) == []
    assert current_version(t) == 3  # history kept; declaration gone


def test_bloom_index_missing_column_raises(spark, tmp_path):
    t = str(tmp_path / "t")
    append_version(_kv(spark, [(1, 1.0)]).coalesce(1), t)
    with pytest.raises(ValueError, match="not a column"):
        build_bloom_index(spark, t, "no_such_col")
    with pytest.raises(ValueError, match="not a column"):
        lookup_files(t, "no_such_col", 1)
    # nothing was written for the typo'd column
    rel = _data_files(t, 1)[0]
    assert sidecar_candidates(os.path.join(t, rel)) == []
