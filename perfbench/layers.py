"""The benchmark's metric lists and the fold from traced spans to
per-layer metrics. BENCHMARK.json lists exactly these names (pinned by
tests/test_results.py)."""

from __future__ import annotations

from perfbench.spans import TASK_FIELDS, Span, inclusive, self_times

# End-to-end metrics, measured with tracing off: (name, unit).
END_TO_END = (
    ("setup_s", "s"),
    ("work_per_s", "1/s"),
    ("op_p50_s", "s"),
    ("op_tail_s", "s"),
    ("peak_rss_mb", "MB"),
    ("lake_bytes_per_live_byte", "ratio"),
    ("answer_recall", "frac"),
)

# Per-call span metrics: (span name, field, unit). ``s``/``plan_s``/
# ``exec_s`` are seconds per call; task fields are per call and include
# the span's descendants; other fields are span attributes set by the
# workload.
SPAN_METRICS = (
    ("sources.fan_out_fetch", "s", "s"),
    ("functions.apply_ingest_policy", "s", "s"),
    ("functions.apply_ingest_policy", "tasks", "count"),
    ("engine.ingest_from_api", "s", "s"),
    ("engine.save_to_staging", "s", "s"),
    ("engine.curate", "s", "s"),
    ("engine.curate", "jobs", "count"),
    ("engine.apply_changes", "s", "s"),
    ("engine.apply_changes", "files_rewritten", "count"),
    ("engine.apply_changes", "bytes_written_per_changed_row", "B"),
    ("engine.compact_table", "s", "s"),
    ("engine.compact_table", "bytes_rewritten", "B"),
    ("engine.sql", "plan_s", "s"),
    ("engine.sql", "exec_s", "s"),
    ("engine.read_snapshot", "s", "s"),
    ("operators.gopher_quality_flags", "s", "s"),
    ("operators.exact_dedup", "s", "s"),
    ("operators.minhash_lsh_pairs", "exec_s", "s"),
    ("operators.minhash_lsh_pairs", "shuffle_bytes", "B"),
    ("operators.knn_join", "exec_s", "s"),
    ("operators.sweep_pinned_rdds", "s", "s"),
    ("engine.admit_against_dedup_index", "s", "s"),
    ("engine.update_dedup_index", "s", "s"),
)

# Per-layer self metrics, per loop operation (query or batch). The
# only ``session`` call, ``get_spark``, runs in set-up and is reported
# as ``session.get_spark.s``; ``plans`` launches no Spark jobs, so it
# reports self time only.
SELF_LAYERS = ("functions", "sources", "engine", "operators", "plans")
TASK_UNITS = tuple((f, "count" if f == "tasks" else "B" if f.endswith("bytes") else "s") for f in TASK_FIELDS)
JOB_LAYERS = ("functions", "sources", "engine", "operators")

# Figures the workload computes itself (0 where a workload has none).
WORKLOAD_FIGURES = (
    ("sources.fan_out_fetch.attempts_per_doc", "ratio"),
    ("engine.sql.scan_rows_per_result_row", "ratio"),
    ("engine.sql.files_read", "count"),
    ("operators.knn_join.recall_at_k", "frac"),
    ("operators.minhash_lsh_pairs.pair_recall", "frac"),
    ("session.get_spark.s", "s"),
)

# The traced run's own end-to-end figures, for the tracing overhead.
TRACED = tuple((f"traced.{n}", u) for n, u in END_TO_END if n != "answer_recall")

PER_LAYER = (
    tuple((f"{span}.{field}", unit) for span, field, unit in SPAN_METRICS)
    + tuple((f"{layer}.self_s", "s") for layer in SELF_LAYERS)
    + tuple((f"{layer}.{field}", unit) for layer in JOB_LAYERS for field, unit in TASK_UNITS)
    + WORKLOAD_FIGURES
    + TRACED
)


def span_metrics(spans: list[Span], own: dict[int, dict[str, float]], n_ops: int, phases: tuple[str, ...]) -> dict[str, float]:
    """Per-call span metrics and per-operation layer self metrics over
    the spans of ``phases``, which ran ``n_ops`` operations."""
    selfs = self_times(spans)
    incl = inclusive(spans, own)
    loop = [s for s in spans if s.phase in phases]
    out: dict[str, float] = {}
    for name, field, _unit in SPAN_METRICS:
        calls = [s for s in loop if s.name == name]
        if not calls:
            out[f"{name}.{field}"] = 0.0
            continue
        if field == "s":
            vals = [s.wall for s in calls]
        elif field in ("plan_s", "exec_s"):
            vals = [(s.plan_end - s.start) if field == "plan_s" else (s.end - s.plan_end) for s in calls if s.plan_end is not None]
        elif field in incl[calls[0].id]:
            vals = [incl[s.id][field] for s in calls]
        else:
            vals = [s.attrs[field] for s in calls if field in s.attrs]
        out[f"{name}.{field}"] = sum(vals) / len(vals) if vals else 0.0
    per_op = max(1, n_ops)
    for layer in SELF_LAYERS:
        mine = [s for s in loop if s.layer == layer]
        out[f"{layer}.self_s"] = sum(selfs[s.id] for s in mine) / per_op
        for field in TASK_FIELDS:
            out[f"{layer}.{field}"] = sum((own.get(s.id) or {}).get(field, 0.0) for s in mine) / per_op
    return out
