"""Tiny-scale smoke runs of every workload, and the command's output
contract."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import spans as T
import workloads as WL
from esg_decarbonization_data_integration_and_data_pipline_spark.session import (
    get_spark,
)

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


@pytest.fixture(scope="module")
def spark():
    s = get_spark("dagbench-smoke", master="local[2]",
                  conf={"spark.ui.enabled": "false"})
    yield s
    s.stop()


@pytest.mark.parametrize("name", sorted(WL.WORKLOADS))
def test_workload_smoke(spark, tmp_path, monkeypatch, name):
    monkeypatch.setattr(WL, "BACKFILL_SITES", 3)
    monkeypatch.setattr(WL, "LAKE_ROWS", 4000)
    monkeypatch.setattr(WL, "LAKE_APPEND", 400)
    monkeypatch.setattr(WL, "LAKE_MERGE", 200)
    monkeypatch.setattr(WL, "LAKE_READ", 400)
    tr = T.Tracer(spark.sparkContext)
    wl = WL.WORKLOADS[name]()
    ctx = WL.Ctx(spark, str(tmp_path), seed=5, nproc=2, tracer=tr,
                 traced=True)
    try:
        wl.setup(ctx)
        for i in range(max(2, wl.cycle)):
            tr.op = i
            with tr.span("op", "op"):
                res = wl.op(ctx, i)
            tr.op = None
            res = wl.after_op(ctx, i, res)
            assert res.ok, res.error
            assert res.read_s and res.commit_s
        fin = wl.finish(ctx)
    finally:
        tr.restore()
    assert fin["ok"]
    assert fin["write_amp"] >= 1.0 and fin["space_amp"] >= 1.0
    layers = {sp.layer for sp in tr.spans}
    if name == "backfill":
        assert {"run_all", "pipelines", "writers"} <= layers
        assert any(sp.attrs.get("rows") for sp in tr.spans)
    else:
        assert {"versioned.commit", "versioned.read"} <= layers


def test_command_prints_the_contract_line():
    out = subprocess.run(
        [sys.executable, "dagbench/run.py", "--workload", "lakehouse_write",
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 8
    m = res["metrics"]
    assert m["spark.jobs"]["value"] > 0 and m["versioned.commits"]["value"]
    info = json.loads(lines[-2].removeprefix("# info "))
    assert info["tracing_adds_no_job"] and info["unattributed_jobs"] == 0
    assert info["nproc"] >= 1 and len(info["loadavg_start"]) == 3


def test_command_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "dagbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "dagbench/run.py", "--workload", "backfill",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
