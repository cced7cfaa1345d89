"""Benchmark of record for ``cbts_datalake_synnex_spark``; see README.md."""
