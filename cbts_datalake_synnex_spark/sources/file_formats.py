"""Columnar/text file-format sources and sinks beyond the lake's
native parquet + gz-JSON pair (SURVEY §2.1/§2.2 widening).

The reference's ingest surface is S3 JSON → parquet
(``staging_to_curated.py``); real lake migrations also land CSV/TSV
extracts and ORC tables from legacy Hive estates. Both formats are
first-class Spark sources, so these helpers only pin the POLICY both
ends of a roundtrip must share:

* **CSV** is schema-less text — reads apply the S2 "all-string
  threaded read" discipline (every column string, explicit null token,
  multiline quoting on) and leave typing to the ingest-policy caster,
  exactly like the JSON staging path. Text payloads survive via
  quote-escaping; the writer pins the same dialect the reader expects.
* **ORC** is self-describing columnar — schema, nulls, and binary round
  trips natively; the helpers exist so engine call sites never spell
  dialect options inline.

Scale: both are plain DataSource scans — Catalyst pushdown/pruning
apply (ORC fully; CSV gets column pruning + limited filter pushdown),
partition-dir discovery matches the parquet path, and writes shard per
task exactly like the parquet sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_CSV_DIALECT = {
    "header": "true",
    "multiLine": "true",          # quoted newlines inside text payloads
    "escape": '"',                # RFC-4180 double-quote escaping
    "quote": '"',
    "nullValue": "\\N",           # distinguish NULL from empty string
}
# Write-side only: empty string serializes as a QUOTED empty field so
# the reader can tell it from NULL (Spark's reader nulls an unquoted
# empty field; the quoted form survives as ""), and the univocity
# writer's default whitespace TRIMMING is disabled — without the two
# ignore*WhiteSpace pins a payload of ' ' round-trips to '' (found by
# tests/test_csv_roundtrip_property.py).
#
# Known lossy value (inherent to Spark's reader, which applies
# nullValue AFTER unquoting): a payload exactly equal to the null
# token '\N' reads back as NULL — quoting it does not help
# (verified; pinned by
# `test_csv_null_token_payload_is_the_documented_lossy_value`).
_CSV_WRITE = {
    **_CSV_DIALECT,
    "emptyValue": '""',
    "multiLine": None,
    "ignoreLeadingWhiteSpace": "false",
    "ignoreTrailingWhiteSpace": "false",
}


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV extract sink with the pinned dialect (K-row counterpart of
    `read_csv_all_string`) — header, RFC-4180 quoting, ``\\N`` nulls,
    quoted-empty for empty strings."""
    opts = {k: v for k, v in _CSV_WRITE.items() if v is not None}
    df.write.options(**opts).mode(mode).csv(path)


def read_csv_all_string(spark: SparkSession, path: str) -> DataFrame:
    """S2-discipline CSV read: every column lands as string (no
    sampling-dependent inference — the same reason the JSON staging
    read is all-string, reference ``utils.py:40``), nulls only where
    the writer wrote ``\\N``. Feed through the ingest-policy caster
    (`functions/ingest_policy.py`) for typing, like any staged batch."""
    return (
        spark.read.options(**_CSV_DIALECT)
        .option("inferSchema", "false")
        .csv(path)
    )


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — self-describing columnar, zlib-block default; the
    legacy-Hive interchange format."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — native pushdown/pruning, schema from file footers."""
    return spark.read.orc(path)
