"""Time-travel reads and the history() audit surface of versioned
tables (io/versioned.read_version / history): each committed version
stays readable as the exact snapshot it was, uncommitted claims are
invisible, and vacuum bounds how far back travel reaches.

Reference parity note: the reference keeps only mutable warehouse
tables (jobs/csr_etl.py overwrites in place); versioned time-travel is
the Spark-first upgrade every modern table format provides on top.
"""

from __future__ import annotations

import os

import pytest

from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    adopt_legacy_history, append_version, history, read_current,
    read_version, vacuum, write_version,
)


def _make_legacy(t: str) -> None:
    """Rewrite the pointer log to a single line -- the pre-log format
    a table created by the r7 code carries after upgrade."""
    cur = max(int(d[2:]) for d in os.listdir(t) if d.startswith("v_"))
    with open(os.path.join(t, "_CURRENT"), "wb") as fh:
        fh.write(f"v_{cur:08d}\n".encode())


def test_vacuum_never_reaps_dirs_a_kept_manifest_references(spark, tmp_path):
    """r9 review finding (reproduced): on a legacy single-line
    pointer, the current version's manifest references dirs the log
    never recorded as committed -- vacuum must keep them however the
    orphan check classifies them, or it destroys the CURRENT table."""
    t = str(tmp_path / "t")
    append_version(_df(spark, [1]), t)
    append_version(_df(spark, [2]), t)   # manifest inherits v1's file
    _make_legacy(t)                      # log now knows only v2
    # age everything past the stage TTL so the orphan branch would fire
    old = 0
    for d in os.listdir(t):
        if d.startswith("v_"):
            os.utime(os.path.join(t, d), (old, old))
    removed = vacuum(t, keep_last=2, stage_ttl_seconds=0.0)
    assert removed == []
    assert _xs(read_current(spark, t)) == [1, 2]


def test_adopt_legacy_history_restores_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    append_version(_df(spark, [1]), t)
    append_version(_df(spark, [2]), t)
    append_version(_df(spark, [3]), t)
    _make_legacy(t)
    # upgraded-but-unadopted: only the current version is readable
    assert [h["version"] for h in history(t)] == [3]
    with pytest.raises(ValueError):
        read_version(spark, t, 2)
    assert adopt_legacy_history(t) == [1, 2]
    assert [h["version"] for h in history(t)] == [1, 2, 3]
    assert _xs(read_version(spark, t, 2)) == [1, 2]
    # idempotent-ish: a multi-entry log refuses further adoption
    assert adopt_legacy_history(t) == []


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x bigint")


def _xs(df):
    return sorted(r.x for r in df.collect())


def test_read_version_travels_across_appends(spark, tmp_path):
    t = str(tmp_path / "t")
    append_version(_df(spark, [1]), t)
    append_version(_df(spark, [2]), t)
    append_version(_df(spark, [3]), t)
    assert _xs(read_version(spark, t, 1)) == [1]
    assert _xs(read_version(spark, t, 2)) == [1, 2]
    assert _xs(read_version(spark, t, 3)) == [1, 2, 3]
    # current == highest committed, via either entry point
    assert _xs(read_current(spark, t)) == _xs(read_version(spark, t, 3))


def test_read_version_travels_across_snapshots(spark, tmp_path):
    """Snapshot versions (write_version) are full replacements: each
    travel target returns that snapshot, not an accumulation."""
    t = str(tmp_path / "t")
    write_version(_df(spark, [1, 2]), t)
    write_version(_df(spark, [9]), t)
    assert _xs(read_version(spark, t, 1)) == [1, 2]
    assert _xs(read_version(spark, t, 2)) == [9]


def test_uncommitted_and_out_of_range_versions_are_refused(spark, tmp_path):
    t = str(tmp_path / "t")
    append_version(_df(spark, [1]), t)
    # a claimed-but-never-committed dir must be invisible to travel
    os.makedirs(os.path.join(t, "v_00000002"))
    with pytest.raises(ValueError, match="never committed"):
        read_version(spark, t, 2)
    with pytest.raises(ValueError, match="never committed"):
        read_version(spark, t, 0)
    with pytest.raises(FileNotFoundError, match="no committed version"):
        read_version(spark, str(tmp_path / "missing"), 1)


def test_vacuumed_version_raises_with_retention_guidance(spark, tmp_path):
    import time

    t = str(tmp_path / "t")
    for v in ([1], [2], [3], [4]):
        write_version(_df(spark, v), t)
    old = time.time() - 10
    for e in os.listdir(t):
        p = os.path.join(t, e)
        os.utime(p, (old, old))
    vacuum(t, keep_last=1, stage_ttl_seconds=1)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_version(spark, t, 1)
    assert _xs(read_version(spark, t, 4)) == [4]


def test_history_reports_kind_files_and_txns(spark, tmp_path):
    t = str(tmp_path / "t")
    write_version(_df(spark, [1]), t)
    append_version(_df(spark, [2]), t, txn="batch-7")
    os.makedirs(os.path.join(t, "v_00000005"))  # orphan claim: hidden
    h = history(t)
    assert [e["version"] for e in h] == [1, 2]
    assert [e["kind"] for e in h] == ["snapshot", "append"]
    assert [e["current"] for e in h] == [False, True]
    assert h[1]["txns"] == ["batch-7"]
    # the append's reader scans inherited + own files
    assert h[1]["n_files"] > h[0]["n_files"] >= 1
    assert history(str(tmp_path / "missing")) == []


def test_orphan_below_current_is_not_a_committed_version(spark, tmp_path):
    """r8 advisor (medium): version numbers can SKIP -- a claim
    superseded before its flip, or a crashed appender, leaves an
    on-disk dir below current that never committed.  Commit-time truth
    lives in the pointer log, so such an orphan must be invisible to
    history()/read_version() and must not count toward vacuum's
    retention."""
    import time

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        committed_versions,
    )

    t = str(tmp_path / "t")
    write_version(_df(spark, [1]), t)
    # crashed appender: claimed v2 (with real data files), never flipped
    _df(spark, [99]).write.parquet(os.path.join(t, "v_00000002"))
    write_version(_df(spark, [3]), t)  # claims and commits v3
    assert committed_versions(t) == [1, 3]
    assert [e["version"] for e in history(t)] == [1, 3]
    with pytest.raises(ValueError, match="crashed or superseded claim"):
        read_version(spark, t, 2)
    assert _xs(read_version(spark, t, 1)) == [1]
    assert _xs(read_current(spark, t)) == [3]
    # retention counts COMMITTED versions only: keep_last=2 must keep
    # v1 and v3 (the old numbering-based count evicted v1 for the
    # orphan), while the aged orphan v2 is reaped as a crashed claim
    old = time.time() - 10
    for e in os.listdir(t):
        os.utime(os.path.join(t, e), (old, old))
    removed = vacuum(t, keep_last=2, stage_ttl_seconds=1)
    assert removed == [2]
    assert _xs(read_version(spark, t, 1)) == [1]
    assert _xs(read_version(spark, t, 3)) == [3]


def test_compact_table_carries_txn_markers_forward(spark, tmp_path):
    """r8 advisor (low): a compaction snapshot must keep the
    exactly-once txn set -- a crash-replayed micro-batch that
    interleaved with compaction must NOT double-append."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        compact_table,
    )

    t = str(tmp_path / "t")
    append_version(_df(spark, [1]), t, txn="ck:0")
    append_version(_df(spark, [2]), t, txn="ck:1")
    n = compact_table(spark, t)
    assert n == 3
    assert _xs(read_current(spark, t)) == [1, 2]
    h = {e["version"]: e for e in history(t)}
    # self-contained snapshot kind, but the txn set survived
    assert h[3]["kind"] == "snapshot"
    assert h[3]["txns"] == ["ck:0", "ck:1"]
    # crash-replay of batch 1 AFTER compaction: replay detected, no
    # double-append, current version unchanged
    assert append_version(_df(spark, [2]), t, txn="ck:1") == 3
    assert _xs(read_current(spark, t)) == [1, 2]
    # a genuinely new batch still appends on top of the compaction
    assert append_version(_df(spark, [4]), t, txn="ck:2") == 4
    assert _xs(read_current(spark, t)) == [1, 2, 4]


def test_compact_table_aborts_if_base_advances(spark, tmp_path):
    """Compaction pins its base: committing a stale copy over a newer
    base would silently drop that append, so the pinned-base guard
    raises VersionConflictError instead (and reaps its claim)."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        VersionConflictError, _manifest_commit, committed_versions,
    )

    t = str(tmp_path / "t")
    append_version(_df(spark, [1]), t)
    append_version(_df(spark, [2]), t)  # base advanced to v2
    with pytest.raises(VersionConflictError, match="advanced"):
        _manifest_commit(_df(spark, [1]), t, txn=None, pinned_base=1,
                         inherit_files=False, max_attempts=5,
                         backend=None)
    # the failed compaction left no committed artifact
    assert committed_versions(t) == [1, 2]
    assert _xs(read_current(spark, t)) == [1, 2]


def test_compact_table_requires_a_committed_version(spark, tmp_path):
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        compact_table,
    )

    with pytest.raises(FileNotFoundError, match="no committed version"):
        compact_table(spark, str(tmp_path / "missing"))


def test_vacuum_dry_run_reports_without_removing(spark, tmp_path):
    """The Delta VACUUM DRY RUN shape: the same removal list, nothing
    touched -- version dirs, crash leftovers and consolidated
    indexes all survive; a real vacuum afterwards removes exactly
    what the dry run reported."""
    import os

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        append_version,
        compact_table,
        read_current,
        vacuum,
    )

    t = str(tmp_path / "t")
    for i in range(4):
        append_version(
            spark.createDataFrame([(i, "x")], "k bigint, v string"),
            t)
    compact_table(spark, t)
    would = vacuum(t, keep_last=1, stage_ttl_seconds=0, dry_run=True)
    assert would, "retention should have candidates"
    for n in would:
        assert os.path.isdir(os.path.join(t, f"v_{n:08d}")), \
            "dry run must not remove anything"
    got = vacuum(t, keep_last=1, stage_ttl_seconds=0)
    assert got == would
    for n in got:
        assert not os.path.isdir(os.path.join(t, f"v_{n:08d}"))
    assert read_current(spark, t).count() == 4


def test_vacuum_retires_a_data_holder_version(spark, tmp_path):
    """A version outside vacuum's keep set whose dir must survive
    (a newer kept version references its data files) reads as
    vacuumed -- its own manifest still lists files of dirs vacuum
    reaped -- and fsck stays clean."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.fsck import (
        verify_table,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        compact_table, delete_keys_dv, merge_version,
    )

    def rows(lo, hi):
        return spark.range(lo, hi).selectExpr("id AS k", "id % 7 AS v")

    t = str(tmp_path / "t")
    append_version(rows(0, 20000), t, stats_columns=["k"])     # v1
    compact_table(spark, t, target_file_bytes=1 << 18,
                  stats_columns=["k"])                         # v2
    append_version(rows(20000, 21000), t,
                   stats_columns=["k"])                        # v3
    # rewrites only v2's file; v3's files carry over by reference
    merge_version(spark, t, rows(0, 2000).selectExpr(
        "k", "CAST(-1 AS BIGINT) AS v"), "k")                  # v4
    delete_keys_dv(spark, t, rows(20000, 20010).select("k"),
                   "k")                                        # v5
    compact_table(spark, t)                                    # v6
    current = sorted(map(tuple, read_current(spark, t).collect()))
    assert vacuum(t, keep_last=2) == [1, 2]
    # v5 references v3's appended files, so v3's dir stays -- but v3
    # lists v2's reaped file, and as a version it is gone
    assert os.path.isdir(os.path.join(t, "v_00000003"))
    for n in (1, 2, 3, 4):
        with pytest.raises(FileNotFoundError, match="vacuumed"):
            read_version(spark, t, n)
    assert [h["version"] for h in history(t)] == [5, 6]
    assert verify_table(spark, t)["ok"]
    assert read_version(spark, t, 5).count() == 20990
    assert sorted(map(tuple, read_current(spark, t).collect())) == \
        current


def test_vacuum_drops_files_only_a_retired_version_references(
        spark, tmp_path):
    """A retired data-holder dir keeps only the files a retained
    version references: a file only the retired version read (here
    the pre-merge copy of a rewritten file) goes with its sidecars,
    so a later purge leaves no copy of the erased key under the
    table, and fsck sees no unreferenced file."""
    import glob

    import pyarrow.parquet as pq

    from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
        build_bloom_index,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.fsck import (
        verify_table,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.purge import (
        purge_keys_history,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.sidecars import (
        sidecar_candidates,
    )
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
        _data_files, merge_version,
    )

    t = str(tmp_path / "t")
    append_version(spark.range(0, 100, numPartitions=2)
                   .selectExpr("id AS k", "id % 7 AS v"), t,
                   stats_columns=["k"])                        # v1
    files = [os.path.join(t, f) for f in _data_files(t, 1)]
    assert len(files) == 2
    build_bloom_index(spark, t, "k")
    rewritten, = [f for f in files
                  if 3 in pq.read_table(f).column("k").to_pylist()]
    kept, = [f for f in files if f != rewritten]
    # the k stats prune the merge to the file holding k=3
    merge_version(spark, t, spark.createDataFrame(
        [(3, -1)], "k bigint, v bigint"), "k")                # v2
    append_version(spark.range(100, 110)
                   .selectExpr("id AS k", "id % 7 AS v"), t,
                   stats_columns=["k"])                        # v3
    assert vacuum(t, keep_last=2) == []
    # v3 still reads v1's other file, so v1's dir stays -- but the
    # pre-merge file only v1 read is gone, sidecars included
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_version(spark, t, 1)
    assert not os.path.exists(rewritten)
    assert sidecar_candidates(rewritten) == []
    assert os.path.exists(kept) and sidecar_candidates(kept)
    report = verify_table(spark, t)
    assert report["ok"] and report["unreferenced_files"] == []
    purge_keys_history(spark, t, "k", [3])
    parts = glob.glob(os.path.join(t, "**", "*.parquet"),
                      recursive=True)
    assert parts
    assert not any(3 in pq.read_table(p).column("k").to_pylist()
                   for p in parts)
    assert read_current(spark, t).count() == 109
