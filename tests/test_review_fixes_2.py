"""Regression tests for the second review pass: null text through the
Arrow kernels, registration-order-independent dependency skips,
per-site base comparison."""

from __future__ import annotations

import datetime as dt

import pytest

from esg_decarbonization_data_integration_and_data_pipline_spark.operators.dedup import (
    minhash_signature_udf, simhash32,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.operators.text import (
    fingerprint_frame,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.elect_target import (
    renew_targets,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.run_all import JobRegistry


def test_null_text_propagates_through_kernels(spark):
    df = spark.createDataFrame([(0, "hello world two"), (1, None)],
                               "doc_id long, text string")
    fp = {r.doc_id: r.fingerprint for r in
          fingerprint_frame(df).select("doc_id", "fingerprint").collect()}
    assert fp[0] is not None and fp[1] is None
    mh = {r.doc_id: r.m for r in
          df.select("doc_id", minhash_signature_udf()("text").alias("m")).collect()}
    assert mh[0] is not None and mh[1] is None
    sh = {r.doc_id: r.simhash for r in simhash32(df).collect()}
    assert sh[0] is not None and sh[1] is None


def test_dependency_skip_is_registration_order_free(spark):
    reg = JobRegistry()
    ran = []

    # downstream registered FIRST -- the reviewer's failing order
    @reg.register("app", depends_on=["staging"])
    def app(s, d):
        ran.append("app")

    @reg.register("staging", depends_on=["ingest"])
    def staging(s, d):
        ran.append("staging")

    @reg.register("ingest")
    def ingest(s, d):
        raise RuntimeError("down")

    results = reg.run_all(spark, dt.date(2023, 12, 1))
    assert results["staging"].startswith("skipped")
    assert results["app"].startswith("skipped")
    assert ran == []


def test_pct_vs_base_is_per_site(spark):
    cons = spark.createDataFrame(
        [("A", 2023, 1000.0), ("B", 2023, 500.0)],
        "site string, year int, amount double")
    ratios = spark.createDataFrame([(2024, 0.0), (2025, 0.0)],
                                   "year int, renewable_ratio double")
    coef = spark.createDataFrame(
        [("A", 2024, 0.5), ("A", 2025, 0.5), ("B", 2024, 0.5), ("B", 2025, 0.5)],
        "site string, year int, coef double")
    out = {(r.site, r.year): r for r in renew_targets(
        {"consumption": cons, "ratio_path": ratios, "carbon_coef": coef},
        run_year=2024, horizon=1, base_year=2024).collect()}
    # each site's base-year pct must be exactly 0 regardless of others
    assert out[("A", 2024)].pct_vs_base == 0.0
    assert out[("B", 2024)].pct_vs_base == 0.0
