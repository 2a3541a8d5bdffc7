"""The DAG input generator: seeded, byte-stable, FIXTURES.md shapes."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

import gen

TAIL_INPUTS = {
    "confirm", "site_categories", "simulate", "renewable_setting",
    "decarb_coef", "target_versions", "wihk_csr", "wihk_esgi",
    "meter_group", "green_accounts", "meter_group_mapping", "ratio_path",
    "secured_green", "transfer_offers"}
CORE_INPUTS = {"esgi_indicators", "plant_mapping", "solar", "green",
               "carbon_coef"}


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def test_same_seed_gives_byte_identical_files(tmp_path):
    a = gen.write_dag_inputs(str(tmp_path / "a"), seed=7, sites=5)
    b = gen.write_dag_inputs(str(tmp_path / "b"), seed=7, sites=5)
    assert set(a) == CORE_INPUTS | TAIL_INPUTS
    assert _bytes(str(tmp_path / "a")) == _bytes(str(tmp_path / "b"))
    assert set(b) == set(a)


def test_other_seed_gives_other_values(tmp_path):
    gen.write_dag_inputs(str(tmp_path / "a"), seed=7, sites=5)
    gen.write_dag_inputs(str(tmp_path / "b"), seed=8, sites=5)
    a, b = _bytes(str(tmp_path / "a")), _bytes(str(tmp_path / "b"))
    assert a["esgi_indicators.parquet"] != b["esgi_indicators.parquet"]


def test_shapes_na_values_and_unmapped_plants():
    t = gen.dag_tables(seed=3, sites=30)
    esgi = t["esgi_indicators"]
    assert esgi.num_rows == 30 * gen.PLANTS_PER_SITE * 24 * 4  # 28.8k
    assert esgi.schema.names == ["data_name", "plant", "period_start",
                                 "data_value", "performance_goalsid"]
    values = esgi.column("data_value").to_pylist()
    assert 0 < values.count("NA") < 0.05 * len(values)
    mapped = set(t["plant_mapping"].column("plant").to_pylist())
    plants = set(esgi.column("plant").to_pylist())
    assert plants - mapped, "some plants must fall back to UNKNOWN"
    assert t["plant_mapping"].schema.names == ["site", "plant", "bo"]
    assert t["carbon_coef"].schema.names == ["site", "year", "coef"]
    for name in ("solar", "green"):
        assert t[name].schema.names == ["site", "amount", "period_start"]
        amounts = t[name].column("amount").to_pylist()
        assert all(a == int(a) for a in amounts)


def test_written_file_reads_back(tmp_path):
    paths = gen.write_dag_inputs(str(tmp_path), seed=1, sites=2)
    assert pq.read_table(paths["green_accounts"]).num_rows == 2 * 3 * 12 * 3
