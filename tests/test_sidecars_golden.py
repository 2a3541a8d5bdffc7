"""Golden bytes of the per-file stats sidecars: Bloom, NDV and
histogram sidecars plus a consolidated Bloom index, built on a small
fixed table, must keep their file names and payload bytes exactly --
sidecars already on disk stay valid across releases, so any change to
the naming, the hashing or the JSON encoding fails here.  Each build
also pins how many Spark jobs it runs."""

from __future__ import annotations

import hashlib
import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq

from esg_decarbonization_data_integration_and_data_pipline_spark.io.bloom_index import (
    build_bloom_index,
    consolidate_bloom_index,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.histogram import (
    build_histogram_index,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.io.ndv import (
    build_ndv_index,
)

GOLDEN = {
    '.bloomidx-k-v_00000001.json':
        'c8491fcdfe6df1a64217a7305b423f4d9c271f63a50e6f363e516a518a513697',
    'v_00000001/.bloom-k-part-00000.parquet.json':
        '2fa7d2f693407b973628c71089cf02ec049756c12442c01a9b41ad73ed16fc07',
    'v_00000001/.bloom-k-part-00001.parquet.json':
        'd1a6e977558f16323229f144946ef95a6378a9d5ab9c026c8d13c21ebaae8f6c',
    'v_00000001/.bloom-k-part-00002.parquet.json':
        'e718b43186ca1975e2b5a6d1781c82a4d0c97b31045735545067dafb9936a227',
    'v_00000001/.bloom-s-part-00000.parquet.json':
        '0de7925ef9a547e4a8e139c9a96701d56560f83fbf64459b5f9d2af88f0c054d',
    'v_00000001/.bloom-s-part-00001.parquet.json':
        '0de7925ef9a547e4a8e139c9a96701d56560f83fbf64459b5f9d2af88f0c054d',
    'v_00000001/.bloom-s-part-00002.parquet.json':
        '6dec80682de17a09016d776d0d26144a31df2936935b47427854fe5633eb66c4',
    'v_00000001/.hist-k-part-00000.parquet.json':
        '4c0c9a5a5ea6303eb83b1698051fc4073c9848ebc2c9979d628d13a371047c32',
    'v_00000001/.hist-k-part-00001.parquet.json':
        '5fd5b6298479051a2c2c7280645565756a700a40d48811b30eb14e6552d77dff',
    'v_00000001/.hist-k-part-00002.parquet.json':
        'b0f6db95c81360235c22aa505e67024d91e9ea5b7baf5a7e5c0e11b633ee53f1',
    'v_00000001/.hist-x-part-00000.parquet.json':
        'c097d650e6c05031ca7785d6975bf18690381d4b144d271a5d7d6bd6c3ccdbc1',
    'v_00000001/.hist-x-part-00001.parquet.json':
        'd434327742e1ab9429ef31e3279c3cbd896f918da3202749a2605985cfcd0422',
    'v_00000001/.hist-x-part-00002.parquet.json':
        'b581dc3a411fece589ce39558fde969ba9bb217b522e74305d78442b460a28e8',
    'v_00000001/.ndv-k-part-00000.parquet.json':
        '26d970570ad62c7e6e5ea16b0d49c3fc21e833dd204eecb64245d0086a6a4cd7',
    'v_00000001/.ndv-k-part-00001.parquet.json':
        '41b6dc53e0bba07ff425d663de5431d3c267f3c30bf938a33c12eac11e2e2855',
    'v_00000001/.ndv-k-part-00002.parquet.json':
        'b35f8f551fa115676c3ea60298b6953dcb499fd7ec3ac21227e8ee8d2a133a1f',
    'v_00000001/.ndv-s-part-00000.parquet.json':
        '1d7bceedb67e63ae17da7545a8cae55506c315ca580b940d5aea8c0b899d37b8',
    'v_00000001/.ndv-s-part-00001.parquet.json':
        '1d7bceedb67e63ae17da7545a8cae55506c315ca580b940d5aea8c0b899d37b8',
    'v_00000001/.ndv-s-part-00002.parquet.json':
        '2b059027cabe608c0f4909e87b38385abd3ef38795373111fb9935ff03904b6a',
}

# Spark jobs per build: one foreach per Bloom/NDV build; the
# histogram adds the grid's min/max aggregate and its read
JOBS = {'bloom_k': 1, 'bloom_s': 1, 'ndv_k': 1, 'ndv_s': 1,
        'hist_k': 4, 'hist_x': 4}

_GROUPS = itertools.count()


def _fixed_table(root: str) -> None:
    """A single-version table in the pointer-only layout: three
    parquet files with fixed names and fixed rows (the third lacks
    column ``s``, like a pre-evolution file)."""
    vdir = os.path.join(root, "v_00000001")
    os.makedirs(vdir)
    ks = [list(range(0, 40)), list(range(30, 90, 2)), [7, 7, 1000, -5]]
    for i, k in enumerate(ks):
        cols = {"k": pa.array(k, pa.int64()),
                "x": pa.array([v * 0.25 for v in k], pa.float64())}
        if i < 2:
            cols["s"] = pa.array([f"id{v % 23}" for v in k])
        pq.write_table(pa.table(cols),
                       os.path.join(vdir, f"part-{i:05d}.parquet"))
    with open(os.path.join(root, "_CURRENT"), "w") as fh:
        fh.write("v_00000001\n")


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"sidecar-golden-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_sidecar_names_and_payload_bytes_are_golden(spark, tmp_path):
    t = str(tmp_path / "t")
    _fixed_table(t)
    jobs = {
        "bloom_k": _jobs(spark, lambda: build_bloom_index(spark, t, "k")),
        "bloom_s": _jobs(spark, lambda: build_bloom_index(
            spark, t, "s", bits_per_key=7)),
        "ndv_k": _jobs(spark, lambda: build_ndv_index(spark, t, "k")),
        "ndv_s": _jobs(spark, lambda: build_ndv_index(spark, t, "s")),
        "hist_k": _jobs(spark, lambda: build_histogram_index(
            spark, t, "k")),
        "hist_x": _jobs(spark, lambda: build_histogram_index(
            spark, t, "x", scale=2)),
    }
    assert consolidate_bloom_index(t, "k") == 3
    got = {}
    for d, _dirs, files in os.walk(t):
        for f in files:
            if f.startswith((".bloom", ".ndv-", ".hist-")):
                with open(os.path.join(d, f), "rb") as fh:
                    rel = os.path.relpath(os.path.join(d, f), t)
                    got[rel] = hashlib.sha256(fh.read()).hexdigest()
    assert got == GOLDEN
    assert jobs == JOBS
