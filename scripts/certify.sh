#!/bin/sh
# Certification run: the DuckDB-oracle queries that guard the table
# commit path, the persisted-statistics tier and the persistent indexes
# first (a few minutes; a failure there stops the run), then the whole
# `slow` tier that the default pytest run skips (pytest.ini). Exits
# non-zero on any failure.
#
# Usage: scripts/certify.sh [extra pytest args, e.g. -x]
# Cadence: before any change to the commit, merge or curate paths, and
# at least once every 5 changes (README, "Tests").
set -eu
cd "$(dirname "$0")/.."
LC="lc_merge_upsert or lc_partial_compact or lc_restore_table or lc_mor_delete or lc_predicate_dml or lc_cdc_apply or lc_zorder_compact or lc_time_travel or lc_column_evolution or lc_repartition_evolution or lc_snapshot_sync or lc_write_audit_publish or lc_schema_evolution_append or lc_schema_journal or lc_snapshot_vacuum or lc_shallow_clone or lc_join_view_refresh or lc_incremental_mv or lc_incremental_hll_mv or lc_ingest_nested_json or lc_curate_staging_to_table or lc_api_ingest or lc_incremental_stream_curate or lc_cdc_stream_apply or lc_kmv_fold or lc_join_estimate or lc_join_key_overlap or lc_preflight_join or lc_kmv_overlap or lc_filter_selectivity or lc_unique_constraint or x2_index_admission or x3_ann_index_probe or x3_pq_index_probe or lc_index_compact or lc_ann_compact or dq_file_profile"
echo "== certify: commit-path, statistics and persistent-index subset"
python -m pytest tests/test_oracle_parity.py -m slow -q -p no:cacheprovider -k "$LC" "$@"
echo "== certify: whole slow tier"
python -m pytest tests/ -m slow -q -p no:cacheprovider "$@"
echo "== certify: passed"
