"""Scalar/column function surface of the engine.

``ingest_policy`` re-expresses the reference's pandas row-transform
chain (flatten / NA-drop / stringify / sanitize — ``utils.py:40-89,
192-206``) as one Spark projection built from the schema, plus one
Spark job for the NA-drop's non-null counts; ``audit`` provides the
injectable-clock audit columns (``utils.py:29-30,55-56,131-133``),
stamped in one projection.
"""

from cbts_datalake_synnex_spark.functions.audit import audit_columns, with_audit_columns
from cbts_datalake_synnex_spark.functions.ingest_policy import (
    CATALOG_TYPE_WHITELIST,
    apply_ingest_policy,
    drop_all_null_columns,
    drop_duplicate_columns,
    flatten_structs,
    sanitize_column_names,
    sanitize_types_for_catalog,
    stringify_columns,
)

__all__ = [
    "CATALOG_TYPE_WHITELIST",
    "apply_ingest_policy",
    "audit_columns",
    "drop_all_null_columns",
    "drop_duplicate_columns",
    "flatten_structs",
    "sanitize_column_names",
    "sanitize_types_for_catalog",
    "stringify_columns",
    "with_audit_columns",
]
