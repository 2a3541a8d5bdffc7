"""Output checks that add no Spark job: DuckDB reads of the warehouse
the DAG wrote, and a DuckDB replay of the DAG's staging and app
computation over the same generated inputs.

Rows are compared as sorted tuples of canonical strings; doubles are
printed with 10 significant digits, so the comparison is immune to
summation-order noise but not to a wrong value.  The generator keeps
every amount a whole number and every coefficient at three decimals,
so the values the pipelines round are never at a rounding tie.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os

import duckdb

STAGING_COLS = ["bo", "site", "amount", "ytm_amount", "period_start", "unit"]
APP_COLS = ["site", "year", "total", "green", "solar", "coef",
            "scope2_location", "scope2_market", "scope1", "renewable_ratio",
            "pct_vs_base"]
SCOPE1_FACTOR = 0.06 / (1 - 0.06)


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<NULL>"
    if isinstance(v, float):
        return "0" if v == 0 else f"{v:.10g}"
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return str(v)


def canon(rows) -> list[tuple]:
    return sorted(tuple(_cell(v) for v in r) for r in rows)


def digest(*row_sets) -> str:
    h = hashlib.sha256()
    for rows in row_sets:
        for r in rows:
            h.update("\x1f".join(r).encode())
            h.update(b"\n")
        h.update(b"\x1e")
    return h.hexdigest()


def warehouse_rows(warehouse: str) -> tuple[list, list]:
    """Canonical rows of staging.electricity_decarb and
    app.decarb_elec_overview as the DAG left them."""
    con = duckdb.connect()
    try:
        st = os.path.join(warehouse, "staging.db", "electricity_decarb",
                          "*", "*.parquet")
        app = os.path.join(warehouse, "app.db", "decarb_elec_overview",
                           "*.parquet")
        srows = con.execute(
            f"SELECT {', '.join(STAGING_COLS)} FROM read_parquet('{st}', "
            "hive_partitioning = false)").fetchall()
        arows = con.execute(
            f"SELECT {', '.join(APP_COLS)} FROM read_parquet('{app}')"
        ).fetchall()
    finally:
        con.close()
    return canon(srows), canon(arows)


_INDICATOR_SQL = """
CASE data_name WHEN '總用電度數' THEN 'electricity'
               WHEN '綠電電量' THEN 'renewable'
               WHEN '購買綠證電量' THEN 'renewable'
               WHEN '自建自用電量' THEN 'renewable' END"""


def replay_rows(inputs: dict[str, str], start: dt.date, end: dt.date,
                base_year: int) -> tuple[list, list]:
    """The staging and app tables the DAG must hold once its runs have
    covered the staging months ``start``..``end`` (a month's values do
    not depend on which run date computed it), recomputed in DuckDB from the generated
    inputs: ESGI normalize (``'NA'`` -> 0, x1000, unmapped plant ->
    ``UNKNOWN``), solar-adjusted site-month totals, year-to-month
    running sums, the bo/site rollup, then scope accounting."""
    con = duckdb.connect()
    try:
        for name in ("esgi_indicators", "plant_mapping", "solar", "green",
                     "carbon_coef"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{inputs[name]}')")
        con.execute(f"""
CREATE TEMP TABLE staged AS
WITH norm AS (
  SELECT plant, period_start,
         coalesce(TRY_CAST(data_value AS DOUBLE), 0.0) * 1000.0 AS amount,
         {_INDICATOR_SQL} AS family
  FROM esgi_indicators),
mp AS (SELECT DISTINCT site, plant FROM plant_mapping),
elec AS (
  SELECT coalesce(m.site, 'UNKNOWN') AS site, n.period_start,
         sum(n.amount) AS amount
  FROM norm n LEFT JOIN mp m ON m.plant = n.plant
  WHERE n.family = 'electricity'
  GROUP BY 1, 2),
e AS (SELECT site, period_start, sum(amount) AS amount FROM elec
      WHERE period_start BETWEEN DATE '{start}' AND DATE '{end}'
      GROUP BY 1, 2),
s AS (SELECT site, period_start, sum(amount) AS amount FROM solar
      WHERE period_start BETWEEN DATE '{start}' AND DATE '{end}'
      GROUP BY 1, 2),
both_ AS (
  SELECT coalesce(e.site, s.site) AS site,
         coalesce(e.period_start, s.period_start) AS period_start,
         coalesce(e.amount, 0.0) + coalesce(s.amount, 0.0) AS amount
  FROM e FULL OUTER JOIN s
    ON e.site = s.site AND e.period_start = s.period_start),
bo AS (SELECT DISTINCT site, bo FROM plant_mapping),
wb AS (SELECT coalesce(bo.bo, 'UNKNOWN') AS bo, b.site, b.period_start,
              b.amount
       FROM both_ b LEFT JOIN bo ON bo.site = b.site),
ytm AS (
  SELECT *, sum(amount) OVER (
      PARTITION BY bo, site, year(period_start) ORDER BY period_start
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ytm_amount
  FROM wb)
SELECT bo, site, sum(amount) AS amount, sum(ytm_amount) AS ytm_amount,
       period_start, '度' AS unit
FROM ytm GROUP BY bo, site, period_start
UNION ALL
SELECT bo, 'ALL', sum(amount), sum(ytm_amount), period_start, '度'
FROM ytm GROUP BY bo, period_start
UNION ALL
SELECT 'ALL', 'ALL', sum(amount), sum(ytm_amount), period_start, '度'
FROM ytm GROUP BY period_start""")
        srows = con.execute(
            f"SELECT {', '.join(STAGING_COLS)} FROM staged").fetchall()
        arows = con.execute(f"""
WITH d AS (SELECT site, amount, period_start FROM staged
           WHERE site <> 'ALL' AND bo <> 'ALL'),
y AS (SELECT site, year(period_start) AS year, sum(amount) AS total
      FROM d GROUP BY 1, 2),
g AS (SELECT site, year(period_start) AS year, sum(amount) AS green
      FROM green GROUP BY 1, 2),
so AS (SELECT site, year(period_start) AS year, sum(amount) AS solar
       FROM solar GROUP BY 1, 2),
j AS (
  SELECT y.site, y.year, y.total, coalesce(g.green, 0.0) AS green,
         coalesce(so.solar, 0.0) AS solar, c.coef
  FROM y LEFT JOIN g ON g.site = y.site AND g.year = y.year
         LEFT JOIN so ON so.site = y.site AND so.year = y.year
         LEFT JOIN carbon_coef c ON c.site = y.site AND c.year = y.year),
o AS (
  SELECT *,
    round(total * coef / 1000, 6) AS scope2_location,
    round(greatest(total - green - solar, 0.0) * coef / 1000, 6)
      AS scope2_market,
    round(total * coef / 1000 * {SCOPE1_FACTOR!r}, 6) AS scope1,
    round((green + solar) / nullif(total, 0.0), 6) AS renewable_ratio
  FROM j),
b AS (SELECT sum(scope2_market) AS base FROM o WHERE year = {base_year})
SELECT site, year, total, green, solar, coef, scope2_location,
       scope2_market, scope1, renewable_ratio,
       round((scope2_market / nullif(base, 0.0) - 1) * 100, 4)
         AS pct_vs_base
FROM o CROSS JOIN b""").fetchall()
    finally:
        con.close()
    return canon(srows), canon(arows)
