"""End-to-end warehouse integration: raw fixtures -> staging via the
bill-split job with replace_range writes -> idempotency under rerun
(the reference's core DELETE-then-append guarantee, S7)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.io import writers as W
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.electric_bill_split import (
    split_bill_tables,
)


def _fixtures(spark):
    bill = spark.createDataFrame(
        [("M1", "綠色能源", "綠電", 100.0, 2023, 1),
         ("M1", "綠色能源", "綠電", 50.0, 2023, 2),
         ("M1", "計費", "半尖峰(夏月)", 30.0, 2023, 1),
         ("M2", "計費", "離峰", 20.0, 2023, 1)],
        "meter_code string, category1 string, category2 string, amount double, year int, month int")
    meter = spark.createDataFrame(
        [("M1", "WZS", "P1", "prov-a"), ("M2", "WKS", "P2", "prov-b")],
        "meter_code string, site string, plant string, provider_name string")
    return {"electric_bill": bill, "meter_dim": meter}


def test_bill_split_semantics(spark):
    out = split_bill_tables(_fixtures(spark))
    green = {str(r.period_start): r for r in out["green_elect_contract"].collect()}
    assert green["2023-01-01"].amount == 100.0
    assert green["2023-02-01"].ytm_amount == 150.0  # YTM across months
    grey = {(r.meter_code, r.category2): r for r in out["grey_elect"].collect()}
    assert grey[("M1", "半尖峰")].amount == 30.0  # summer variant recoded
    assert grey[("M2", "離峰")].amount == 20.0
    assert out["green_elect_vol"].count() == 0  # family absent in fixture


def test_warehouse_rerun_is_idempotent(spark, tmp_path):
    """Write staging twice via replace_range -- row set must not grow
    (the reference's delete-slice-then-append invariant)."""
    out = split_bill_tables(_fixtures(spark))
    path = os.path.join(str(tmp_path), "staging.db", "grey_elect")
    df = W.month_partitioned(out["grey_elect"])
    W.replace_range(df, path, ["period_month"])
    first = sorted(map(tuple, W.read_table(spark, path)
                       .drop("period_month").collect()))
    W.replace_range(df, path, ["period_month"])  # rerun same window
    second = sorted(map(tuple, W.read_table(spark, path)
                        .drop("period_month").collect()))
    assert first == second and len(first) == 2
