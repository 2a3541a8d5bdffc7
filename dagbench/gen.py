"""Seeded input generators for the benchmark.

``write_dag_inputs`` writes the warehouse DAG's federated inputs in
the FIXTURES.md section B shapes -- the five core feeds plus every
optional tail-job feed -- at ``sites`` sites x 10 plants x 24 months x
4 indicator names, with pyarrow, so the same seed gives byte-identical
parquet files (no pandas metadata, nothing about the write itself).
A fixed share of indicator values is the string ``'NA'`` and a fixed
share of plants has no mapping row, so the ingest's ``UNKNOWN`` path
runs.  Amounts are whole numbers and carbon coefficients have three
decimals, so every sum is exact in float64 and no rounded value sits
at a rounding tie, on Spark and DuckDB alike.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PLANTS_PER_SITE = 10
MONTHS = [dt.date(2022 + i // 12, i % 12 + 1, 1) for i in range(24)]
INDICATORS = ["總用電度數", "綠電電量", "購買綠證電量", "自建自用電量"]
NA_SHARE = 0.01          # indicator values that arrive as 'NA'
UNMAPPED_SHARE = 0.02    # plants with no plant_mapping row
BOS = ["BO1", "BO2", "BO3", "BO4", "BO5"]
SITE_CATEGORIES = ["FAB", "OFFICE", "DC"]
CONFIRM_ITEMS = ["實際用電", "自建太陽能", "直購綠電", "購買綠證"]
FUTURE_YEARS = list(range(2024, 2031))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _sites(n: int) -> list[str]:
    return [f"S{i:05d}" for i in range(n)]


def dag_tables(seed: int, sites: int) -> dict[str, pa.Table]:
    """Every DAG input as an in-memory arrow table."""
    rng = np.random.default_rng(seed)
    site_names = _sites(sites)
    n_plants = sites * PLANTS_PER_SITE
    plant_site = np.repeat(np.arange(sites), PLANTS_PER_SITE)
    plants = [f"P{i:06d}" for i in range(n_plants)]
    site_bo = rng.integers(0, len(BOS), sites)
    mapped = rng.random(n_plants) >= UNMAPPED_SHARE
    mapped[0] = True  # every site keeps at least its first plant
    mapped[::PLANTS_PER_SITE] = True
    out: dict[str, pa.Table] = {}

    idx = np.flatnonzero(mapped)
    out["plant_mapping"] = pa.table({
        "site": pa.array([site_names[plant_site[i]] for i in idx]),
        "plant": pa.array([plants[i] for i in idx]),
        "bo": pa.array([BOS[site_bo[plant_site[i]]] for i in idx]),
    })

    # esgi_indicators: plant x month x indicator, values in tenths of
    # a unit so the ingest's x1000 scaling lands on whole numbers
    n_rows = n_plants * len(MONTHS) * len(INDICATORS)
    p_idx = np.repeat(np.arange(n_plants), len(MONTHS) * len(INDICATORS))
    m_idx = np.tile(np.repeat(np.arange(len(MONTHS)), len(INDICATORS)),
                    n_plants)
    i_idx = np.tile(np.arange(len(INDICATORS)), n_plants * len(MONTHS))
    scale = np.array([1.0, 0.05, 0.03, 0.02])[i_idx]
    tenths = np.maximum(1, (rng.gamma(4.0, 250.0, n_rows) * scale)
                        .astype(np.int64))
    values = np.char.mod("%.1f", tenths / 10.0).astype(object)
    values[rng.random(n_rows) < NA_SHARE] = "NA"
    plants_arr = np.array(plants, dtype=object)
    out["esgi_indicators"] = pa.table({
        "data_name": pa.array(np.array(INDICATORS, dtype=object)[i_idx],
                              pa.string()),
        "plant": pa.array(plants_arr[p_idx], pa.string()),
        "period_start": pa.array(np.array(MONTHS, dtype=object)[m_idx],
                                 pa.date32()),
        "data_value": pa.array(values, pa.string()),
        "performance_goalsid": pa.array(
            np.arange(n_rows, dtype=np.int32), pa.int32()),
    })

    site_arr = np.array(site_names, dtype=object)
    sm_site = np.repeat(np.arange(sites), len(MONTHS))
    sm_month = np.tile(np.arange(len(MONTHS)), sites)
    months_arr = np.array(MONTHS, dtype=object)
    for name, mean in (("solar", 2000.0), ("green", 6000.0)):
        keep = rng.random(len(sm_site)) < 0.8
        amt = rng.integers(1, int(2 * mean), len(sm_site)).astype(float)
        out[name] = pa.table({
            "site": pa.array(site_arr[sm_site[keep]], pa.string()),
            "amount": pa.array(amt[keep], pa.float64()),
            "period_start": pa.array(months_arr[sm_month[keep]],
                                     pa.date32()),
        })

    years = [2022, 2023, 2024]
    cy_site = np.repeat(np.arange(sites), len(years))
    out["carbon_coef"] = pa.table({
        "site": pa.array(site_arr[cy_site], pa.string()),
        "year": pa.array(np.tile(years, sites), pa.int32()),
        "coef": pa.array(rng.integers(400, 700, len(cy_site)) / 1000.0,
                         pa.float64()),
    })

    # source_status: site categories + the 2023 confirm grid
    cat = rng.integers(0, len(SITE_CATEGORIES), sites)
    out["site_categories"] = pa.table({
        "site_category": pa.array([SITE_CATEGORIES[c] for c in cat]),
        "site": pa.array(site_names),
    })
    c_site = np.repeat(np.arange(sites), len(CONFIRM_ITEMS) * 12)
    c_item = np.tile(np.repeat(np.arange(len(CONFIRM_ITEMS)), 12), sites)
    c_month = np.tile(np.arange(1, 13), sites * len(CONFIRM_ITEMS))
    out["confirm"] = pa.table({
        "site_category": pa.array(
            np.array(SITE_CATEGORIES, dtype=object)[cat[c_site]],
            pa.string()),
        "site": pa.array(site_arr[c_site], pa.string()),
        "item": pa.array(np.array(CONFIRM_ITEMS, dtype=object)[c_item],
                         pa.string()),
        "year": pa.array(np.full(len(c_site), 2023), pa.int32()),
        "month": pa.array(c_month, pa.int32()),
        "confirm": pa.array(rng.random(len(c_site)) < 0.7, pa.bool_()),
    })

    # decarb_path: two simulation versions per site x future year
    s_site = np.repeat(np.arange(sites), len(FUTURE_YEARS) * 2)
    s_year = np.tile(np.repeat(FUTURE_YEARS, 2), sites)
    s_ver = np.tile([1, 2], sites * len(FUTURE_YEARS))
    out["simulate"] = pa.table({
        "site": pa.array(site_arr[s_site], pa.string()),
        "year": pa.array(s_year, pa.int32()),
        "amount": pa.array(rng.integers(1000, 90000, len(s_site))
                           .astype(float), pa.float64()),
        "version": pa.array(s_ver, pa.int32()),
        "version_year": pa.array(np.full(len(s_site), 2023), pa.int32()),
    })
    rs_year = np.repeat(FUTURE_YEARS, 3)
    out["renewable_setting"] = pa.table({
        "year": pa.array(rs_year, pa.int32()),
        "category": pa.array(["REC", "PPA", "solar"] * len(FUTURE_YEARS)),
        "amount": pa.array(rng.integers(5, 30, len(rs_year)).astype(float),
                           pa.float64()),
    })
    d_site = np.repeat(np.arange(sites), len(FUTURE_YEARS))
    out["decarb_coef"] = pa.table({
        "site": pa.array(site_arr[d_site], pa.string()),
        "year": pa.array(np.tile(FUTURE_YEARS, sites), pa.int32()),
        "amount": pa.array(rng.integers(4000, 7000, len(d_site))
                           / 10000.0, pa.float64()),
    })

    # import_actual_elect: validated versions per year + WIHK feeds
    tv_year = np.repeat([2022, 2023, 2024], 3)
    out["target_versions"] = pa.table({
        "version": pa.array(np.tile([1, 2, 3], 3), pa.int32()),
        "sign_off_id": pa.array([f"so-{y}-{v}" for y in (2022, 2023, 2024)
                                 for v in (1, 2, 3)]),
        "last_update_time": pa.array(
            [dt.datetime(y, v + 1, 1) for y in (2022, 2023, 2024)
             for v in (1, 2, 3)], pa.timestamp("us", tz="UTC")),
        "year": pa.array(tv_year, pa.int32()),
        "category": pa.array(["predict"] * 9),
        "validate": pa.array([True, True, False] * 3, pa.bool_()),
    })
    wihk = ["WIHK-1", "WIHK-2"]
    w_site = np.repeat(np.arange(len(wihk)), len(MONTHS))
    w_month = np.tile(np.arange(len(MONTHS)), len(wihk))
    for name, share in (("wihk_csr", 0.6), ("wihk_esgi", 0.8)):
        keep = rng.random(len(w_site)) < share
        out[name] = pa.table({
            "site": pa.array(np.array(wihk, dtype=object)[w_site[keep]],
                             pa.string()),
            "period_start": pa.array(months_arr[w_month[keep]],
                                     pa.date32()),
            "amount": pa.array(rng.integers(100, 5000, int(keep.sum()))
                               .astype(float), pa.float64()),
        })

    # meter_group_packaging: three meters per site, the first two
    # packaged into one group per site
    meters = [f"M{s:05d}-{k}" for s in range(sites) for k in range(3)]
    out["meter_group"] = pa.table({
        "meter_code": pa.array(meters),
        "group_id": pa.array([s if k < 2 else None
                              for s in range(sites) for k in range(3)],
                             pa.int32()),
    })
    out["meter_group_mapping"] = pa.table({
        "group_id": pa.array(np.arange(sites), pa.int32()),
        "group_name": pa.array([f"G{s:05d}" for s in range(sites)]),
    })
    cats = [("green_elect_vol", "綠電"), ("grey_elect", "離峰"),
            ("grey_elect", "elect_bill")]
    n_acc = len(meters) * 12 * len(cats)
    a_meter = np.repeat(np.arange(len(meters)), 12 * len(cats))
    a_month = np.tile(np.repeat(np.arange(1, 13), len(cats)), len(meters))
    a_cat = np.tile(np.arange(len(cats)), len(meters) * 12)
    meters_arr = np.array(meters, dtype=object)
    a_site = a_meter // 3
    out["green_accounts"] = pa.table({
        "site": pa.array(site_arr[a_site], pa.string()),
        "plant": pa.array(plants_arr[a_site * PLANTS_PER_SITE], pa.string()),
        "meter_code": pa.array(meters_arr[a_meter], pa.string()),
        "provider_name": pa.array(
            np.array(["provA", "provB", "provC"], dtype=object)[a_meter % 3],
            pa.string()),
        "category1": pa.array(np.array([c[0] for c in cats],
                                       dtype=object)[a_cat], pa.string()),
        "category2": pa.array(np.array([c[1] for c in cats],
                                       dtype=object)[a_cat], pa.string()),
        "amount": pa.array(rng.integers(10, 5000, n_acc).astype(float),
                           pa.float64()),
        "year": pa.array(np.full(n_acc, 2023), pa.int32()),
        "month": pa.array(a_month, pa.int32()),
        "area": pa.array(np.array(["TW", "CN"], dtype=object)[a_site % 2],
                         pa.string()),
    })

    # transfer_suggest: target path, secured volumes, offers
    rp_years = list(range(2023, 2032))
    out["ratio_path"] = pa.table({
        "year": pa.array(rp_years, pa.int32()),
        "renewable_ratio": pa.array(
            [0.1 + 0.05 * i for i in range(len(rp_years))], pa.float64()),
    })
    out["secured_green"] = pa.table({
        "site": pa.array(site_names),
        "green_kwh": pa.array(rng.integers(0, 200000, sites).astype(float),
                              pa.float64()),
    })
    o_site = np.repeat(np.arange(sites), 3)
    out["transfer_offers"] = pa.table({
        "site": pa.array(site_arr[o_site], pa.string()),
        "source_id": pa.array([f"ppa-{s}-{k}" for s in range(sites)
                               for k in range(3)]),
        "price": pa.array(rng.integers(20, 60, len(o_site)) / 10.0,
                          pa.float64()),
        "available": pa.array(rng.integers(1000, 400000, len(o_site))
                              .astype(float), pa.float64()),
    })
    return out


def write_dag_inputs(out_dir: str, seed: int, sites: int) -> dict[str, str]:
    """Write every DAG input to ``out_dir/<name>.parquet``; returns
    name -> path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in dag_tables(seed, sites).items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write(t, paths[name])
    return paths
