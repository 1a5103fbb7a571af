"""Scalar helpers.

- TIME coercion: the reference accepts date | datetime | str | int | float
  everywhere a date parameter appears (reference: epss/constants.py:17,
  epss/util.py:265-276). Driver-side, unchanged semantics.
- Snapshot-date recovery from the source file name.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column
from pyspark.sql import functions as F

TIME = dt.date | dt.datetime | str | int | float


def parse_date(value: TIME | None) -> dt.date | None:
    """Coerce any TIME value to a date (reference: epss/util.py:265-276)."""
    if value is None:
        return None
    if isinstance(value, dt.datetime):
        return value.date()
    if isinstance(value, dt.date):
        return value
    if isinstance(value, (int, float)):
        return dt.datetime.fromtimestamp(value, tz=dt.timezone.utc).date()
    return dt.date.fromisoformat(str(value)[:10])


def filename_date(path_col: Column | None = None) -> Column:
    """Recover the snapshot date from the source filename — the reference
    stores no date column in daily files and regexes it from the path at
    read time (reference: epss/client.py:487-494, util.py:242-247). Only
    the last path segment is matched, so a dated parent directory never
    overrides the file's own date."""
    src = path_col if path_col is not None else F.input_file_name()
    return F.regexp_extract(src, r"(\d{4}-\d{2}-\d{2})[^/]*$", 1).cast("date")
