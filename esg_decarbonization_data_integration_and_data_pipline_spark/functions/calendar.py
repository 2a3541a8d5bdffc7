"""Fiscal-calendar helpers (SURVEY.md F3, §4.2.5).

Re-expresses the reference's ``DecarbDate`` window rules
(reference: helpers/decarb_date.py:9-27) with one crucial change:
every function takes an explicit ``run_date`` instead of calling
``dt.now()`` (the reference hardcodes now() ~50 times, e.g.
jobs/raw_to_staging.py:101) -- the prerequisite for deterministic
golden tests and reproducible backfills.

Rules preserved from the reference tests
(tests/helpers_decarb_date_test.py:10-36):
- processing month = the month BEFORE run_date's month
  (run 2023-12-01 -> window 2023-11-01..2023-11-30)
- January wraps to the previous December
  (run 2023-01-01 -> window 2022-12-01..2022-12-31)
"""

from __future__ import annotations

import calendar
import datetime as dt

from pyspark.sql import Column, functions as F


def processing_window(run_date: dt.date) -> tuple[dt.date, dt.date]:
    """(start, end) of the month being processed: previous month."""
    year, month = run_date.year, run_date.month
    if month == 1:
        year, month = year - 1, 12
    else:
        month -= 1
    start = dt.date(year, month, 1)
    end = dt.date(year, month, calendar.monthrange(year, month)[1])
    return start, end


def period_year_window(run_date: dt.date) -> tuple[dt.date, dt.date]:
    """Current-plus-prior-year recompute window (reference:
    jobs/raw_to_staging.py:285-302): Jan 1 of last year through the
    processing month end."""
    start = dt.date(run_date.year - 1, 1, 1)
    _, end = processing_window(run_date)
    return start, end


def month_start(year_col: Column, month_col: Column) -> Column:
    """Build the canonical month-start period date from year+month
    columns (reference string-concat + to_datetime:
    jobs/raw_to_staging.py:165-168) -- native make_date, no strings."""
    return F.make_date(year_col, month_col, F.lit(1))


def last_12_months(run_date: dt.date) -> list[dt.date]:
    """The reference's 12-partition recompute loop keys
    (jobs/staging_to_app.py:1081-1085) -- used only to bound a
    replace_range write, never as a per-month Python loop over data."""
    start, _ = processing_window(run_date)
    out = []
    y, m = start.year, start.month
    for _ in range(12):
        out.append(dt.date(y, m, 1))
        if m == 1:
            y, m = y - 1, 12
        else:
            m -= 1
    return out
