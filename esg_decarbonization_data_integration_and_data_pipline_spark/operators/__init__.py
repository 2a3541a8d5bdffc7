"""Operator library: Spark-first re-expressions of SURVEY.md §2."""

from esg_decarbonization_data_integration_and_data_pipline_spark.operators.joins import (
    anti_join, asof_join, attach_scalar, coalescing_outer_join,
    interval_join, semi_join,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.operators.reshape import melt, pivot_wide
from esg_decarbonization_data_integration_and_data_pipline_spark.operators.rollup import rollup_all
from esg_decarbonization_data_integration_and_data_pipline_spark.operators.windows import (
    group_agg_as_column, latest_version, rank_in_group, share_of_total,
    top1_per_group, ytm_cumsum,
)

__all__ = [
    "anti_join", "asof_join", "attach_scalar", "coalescing_outer_join",
    "interval_join", "semi_join", "melt", "pivot_wide", "rollup_all",
    "group_agg_as_column", "latest_version", "rank_in_group",
    "share_of_total", "top1_per_group", "ytm_cumsum",
]
