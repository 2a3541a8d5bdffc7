"""read_versions: the multi-version reader must be row-identical to
the per-version read_version union, refuse schema-changing groups and
validate its version list."""

from __future__ import annotations

import os

import pytest

from esg_decarbonization_data_integration_and_data_pipline_spark.io.versioned import (
    SchemaMismatchError, append_version, delete_keys_dv,
    delete_keys_version, drop_columns, read_version, read_versions,
)
from pyspark.sql import functions as F


def _union_reference(spark, td, versions):
    out = None
    for n in versions:
        f = (read_version(spark, td, n)
             .withColumn("__version", F.lit(int(n)).cast("int")))
        f = f.select("__version", *[c for c in f.columns
                                    if c != "__version"])
        out = f if out is None else out.unionByName(f)
    return out


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def appended(spark, tmp_path):
    td = os.path.join(str(tmp_path), "t")
    df1 = spark.createDataFrame(
        [(i, float(i) * 2, "a" if i % 2 else "b") for i in range(40)],
        "k int, x double, s string")
    append_version(df1, td, stats_columns=["k"])
    append_version(
        spark.createDataFrame([(100 + i, 1.5, "c") for i in range(10)],
                              "k int, x double, s string"), td)
    return td


def test_matches_union_on_append_chain(spark, appended):
    got = read_versions(spark, appended, (1, 2))
    ref = _union_reference(spark, appended, (1, 2))
    assert got.columns == ref.columns
    assert [f.dataType for f in got.schema.fields] == \
        [f.dataType for f in ref.schema.fields]
    assert _rows(got) == _rows(ref)


def test_matches_union_with_cow_delete_and_dv(spark, appended):
    td = appended
    # v3: copy-on-write delete rewrites touched files
    delete_keys_version(
        spark, td,
        spark.createDataFrame([(k,) for k in range(0, 40, 7)],
                              "k int"), "k")
    # v4: deletion-vector (merge-on-read) delete -- same file set as
    # v3, per-version row masks
    delete_keys_dv(
        spark, td,
        spark.createDataFrame([(3,), (103,)], "k int"), "k")
    versions = (1, 2, 3, 4)
    got = read_versions(spark, td, versions)
    ref = _union_reference(spark, td, versions)
    assert _rows(got) == _rows(ref)


def test_schema_change_raises(spark, appended):
    td = appended
    drop_columns(spark, td, ["s"])
    with pytest.raises(SchemaMismatchError):
        read_versions(spark, td, (1, 3))
    # but a schema-homogeneous group still reads fine
    got = read_versions(spark, td, (1, 2))
    assert _rows(got) == _rows(_union_reference(spark, td, (1, 2)))


def test_validation_errors(spark, appended):
    with pytest.raises(ValueError):
        read_versions(spark, appended, ())
    with pytest.raises(ValueError):
        read_versions(spark, appended, (1, 1))
    with pytest.raises(ValueError):
        read_versions(spark, appended, (1, 9))
