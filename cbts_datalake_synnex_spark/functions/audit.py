"""Audit columns: ``processed_at`` / ``processed_year`` / ``processed_month``.

The reference stamps every landed record with a wall-clock triple in
US/Eastern (``utils.py:20,29-30,44,55-56,131-133,232-234``;
``src/purchase_orders.py:77-86`` — note the ``strftime('%M')`` minute
bug at line 80, whose evident intent is month; see SURVEY §0.1-2).
Format is ``%Y-%m-%d %H:%M:%S`` for the timestamp and 4/2-digit strings
for year/month, which then serve as the default Hive partition keys
(``utils.py:223``).

The clock is injectable so tests are deterministic — the reference's
implicit ``datetime.now`` makes every run nondeterministic, one of the
things SURVEY §7 flags as needing a seam.
"""

from __future__ import annotations

from datetime import datetime
from zoneinfo import ZoneInfo

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cbts_datalake_synnex_spark.functions.ingest_policy import quote

PROCESS_TIMEZONE = "US/Eastern"  # utils.py:20 TIMEZONE = timezone('US/Eastern')
TS_FORMAT = "%Y-%m-%d %H:%M:%S"  # utils.py:30


def _stamp(now: datetime | None) -> dict[str, str]:
    """The batch's audit values, from one driver-side clock read."""
    if now is None:
        now = datetime.now(ZoneInfo(PROCESS_TIMEZONE))
    elif now.tzinfo is not None:
        now = now.astimezone(ZoneInfo(PROCESS_TIMEZONE))
    return {
        "processed_at": now.strftime(TS_FORMAT),
        "processed_year": now.strftime("%Y"),
        "processed_month": now.strftime("%m"),  # '%m' month — not the '%M' minute bug
    }


def audit_columns(now: datetime | None = None) -> dict[str, Column]:
    """Literal audit columns for one ingest batch.

    Batch-literal (not per-row ``current_timestamp()``): the reference
    stamps the whole batch with one driver-side clock read
    (``utils.py:29-30``), and a literal keeps the partition key count
    bounded — one partition per batch, not per task-start jitter.
    """
    return {n: F.lit(v) for n, v in _stamp(now).items()}


def with_audit_columns(df: DataFrame, now: datetime | None = None) -> DataFrame:
    """``df`` stamped with `audit_columns` in one projection: a column
    of the same name (case-insensitive) is replaced in place, as
    ``withColumn`` would, the others are appended. Columns are
    referenced by position, so case-duplicate names stay unambiguous."""
    names = df.columns
    stamp = {n: f"'{v}'" for n, v in _stamp(now).items()}
    cols = [
        f"{stamp.pop(c.lower())} AS {c.lower()}"
        if c.lower() in stamp
        else f"`__c{i}` AS {quote(c)}"
        for i, c in enumerate(names)
    ]
    cols += [f"{v} AS {n}" for n, v in stamp.items()]
    return df.toDF(*[f"__c{i}" for i in range(len(names))]).selectExpr(*cols)
