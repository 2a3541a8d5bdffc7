"""Regression tests for review findings: dependency-failure skips,
same-name as-of columns, long-token hashes, payload key order."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.operators.dedup import (
    minhash_signature_udf,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.operators.joins import asof_join
from esg_decarbonization_data_integration_and_data_pipline_spark.pipelines.run_all import JobRegistry
from esg_decarbonization_data_integration_and_data_pipline_spark.sources.connectors import rest_source


def test_failed_dependency_skips_downstream(spark):
    reg = JobRegistry()
    ran = []

    @reg.register("ingest")
    def ingest(s, d):
        raise RuntimeError("source down")

    @reg.register("staging", depends_on=["ingest"])
    def staging(s, d):
        ran.append("staging")

    @reg.register("app", depends_on=["staging"])
    def app(s, d):
        ran.append("app")

    results = reg.run_all(spark, dt.date(2023, 12, 1))
    assert results["ingest"].startswith("error:")
    assert results["staging"] == "skipped: dependency ingest failed"
    assert results["app"] == "skipped: dependency staging failed"
    assert ran == []  # nothing ran over stale upstream data


def test_asof_join_same_time_column_name(spark):
    left = spark.createDataFrame([("a", 10)], "k string, t int")
    right = spark.createDataFrame([("a", 7, "hit"), ("a", 11, "miss")],
                                  "k string, t int, tag string")
    out = asof_join(left, right, ["k"], "t", "t").collect()[0]
    assert out.t == 10          # left's column keeps its name
    assert out.t_right == 7     # right's collides -> _right suffix
    assert out.tag == "hit"


def test_minhash_handles_long_tokens(spark):
    long_tok = "x" * 900  # longer than the tiled powers array
    df = spark.createDataFrame([(0, f"{long_tok} {long_tok}b")],
                               "doc_id long, text string")
    mh = minhash_signature_udf()
    out = df.select(mh("text").alias("mh")).collect()[0].mh
    assert len(out) == 8 and all(isinstance(v, int) for v in out)


def test_rest_source_payload_key_order_free(spark):
    payload = [{"actual": 1.5, "plant": "P1", "target": 2.5}]  # shuffled keys
    df = rest_source(spark, lambda: payload,
                     "plant string, actual double, target double")
    row = df.collect()[0]
    assert row.plant == "P1" and row.actual == 1.5 and row.target == 2.5
