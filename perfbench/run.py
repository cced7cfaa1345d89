"""Benchmark of record for cbts_datalake_synnex_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload as one closed-loop client against the engine's public
API, checks its outputs, and prints as the last stdout line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is a report with the workload's named figures, sizes, host
probe and (traced) span tree. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
RUNS_DIR = ROOT / ".perfbench_runs"

# The traced run of a workload here ends with one batch of the named
# workload (set up and warmed up first, outside the measured spans), so
# the per-layer metrics cover layers that workload alone exercises. The
# untraced run does not run it.
FOLDED = {"po_nightly_etl": "llm_corpus_curation"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("po_nightly_etl", "curated_sql", "llm_corpus_curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(workload: str, trace: bool) -> dict[str, str]:
    """Fresh run directory inside the checkout; Spark's warehouse (cwd),
    local dirs, temp files and event log all live under it."""
    run = RUNS_DIR / f"{workload}-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    dirs = {k: str(run / k) for k in ("cwd", "lake", "local", "tmp", "events")}
    for d in dirs.values():
        os.makedirs(d)
    dirs["run"] = str(run)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    # A 2 GB heap, committed whole at start (-Xms = -Xmx): peak RSS then
    # does not hang on G1's timing-driven heap growth, which moved it by
    # a third between runs of the same seed.
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    # executors' Python workers import the engine and perfbench.transport
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # no hsperfdata file under /tmp: the JVM writes only inside the run directory
    submit = [f"--driver-java-options '-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -Xms{heap}'"]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{dirs['events']}",
            "--conf spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    os.chdir(dirs["cwd"])
    return dirs


def cleanup(dirs: dict[str, str]) -> None:
    os.chdir(ROOT)
    shutil.rmtree(dirs["run"], ignore_errors=True)
    try:
        RUNS_DIR.rmdir()
    except OSError:  # another run still uses it, or it is already gone
        pass


def stop_spark(spark) -> None:
    """Stop the SparkContext and the driver JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still alive: make sure it ends
            proc.kill()
            proc.wait()


def instrument(tracer) -> None:
    """Spans around two cross-layer public calls the engine makes on the
    benchmark's behalf: ``functions.apply_ingest_policy`` (inside every
    staging / curate / ingest write) and ``sources.fan_out_fetch`` (inside
    ``ingest_from_api``). The fetch span materializes the lazy fan-out
    into the cache ``ingest_from_api`` would fill anyway, so its
    ``exec_s`` is the fetch itself. Traced run only."""
    import cbts_datalake_synnex_spark.engine as engine_mod
    import cbts_datalake_synnex_spark.sources.api_source as api_mod

    policy = engine_mod.apply_ingest_policy
    fetch = api_mod.fan_out_fetch

    def traced_policy(*a, **k):
        with tracer.span("functions.apply_ingest_policy"):
            return policy(*a, **k)

    def traced_fetch(*a, **k):
        with tracer.span("sources.fan_out_fetch") as sp:
            df = fetch(*a, **k).cache()
            sp.mark_planned()
            df.count()
            return df

    engine_mod.apply_ingest_policy = traced_policy
    api_mod.fan_out_fetch = traced_fetch


def lake_ratio(wl, dirs: dict[str, str]) -> tuple[float, int, int]:
    """(bytes under lake root + warehouse ÷ bytes of live table files,
    lake bytes, lake files); hard links count once."""
    from perfbench.measure import files_bytes, tree_bytes

    total, n_files = tree_bytes([dirs["lake"], dirs["cwd"]])
    return total / max(1, files_bytes(wl.live_files())), total, n_files


def run(args, dirs: dict[str, str]) -> tuple[dict, dict]:
    from cbts_datalake_synnex_spark import get_spark
    from perfbench import layers, measure, spans
    from perfbench.workloads import WORKLOADS

    probe = {"python_loop_s_before": measure.python_probe()}
    tracer = spans.Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed)  # inputs generated before any timing
    if args.trace:
        instrument(tracer)
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        tracer.attach(spark.sparkContext)
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        database = f"pb_{args.workload}_{uuid.uuid4().hex[:8]}"
        t0 = time.perf_counter()
        wl.setup(spark, dirs["lake"], database, tracer)
        writes_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0

        # Metrics cover the loop's first min_steps steps, a fixed amount
        # of work; the loop then goes on until --seconds have passed, and
        # any further steps are counted in the report only.
        tracer.phase = "loop"
        steps, paused = 0, 0.0
        steal0 = measure.steal_s()
        t0 = time.perf_counter()
        while True:
            wl.step()
            steps += 1
            if steps == wl.min_steps:
                fixed_s, n_fixed = time.perf_counter() - t0, len(wl.ops)
                p0 = time.perf_counter()
                lake = lake_ratio(wl, dirs)
                paused += time.perf_counter() - p0
            if steps >= wl.min_steps and time.perf_counter() - t0 - paused >= args.seconds:
                break
        loop_s = time.perf_counter() - t0 - paused
        probe["steal_s_in_loop"] = measure.steal_s() - steal0
        rss_parts = measure.peak_rss_mb(jvm_pid)  # set-up plus loop, before the checks
        rss = sum(rss_parts.values())

        folded = None
        if args.trace and args.workload in FOLDED:
            tracer.phase = "folded_setup"
            folded = WORKLOADS[FOLDED[args.workload]](args.seed)
            folded.setup(spark, dirs["lake"], database, tracer)
            folded.warmup()
            tracer.phase = "folded"
            folded.step()

        tracer.phase = "check"
        failures = wl.check() + (folded.check() if folded else [])
        probe["spark_sum_s_after"] = measure.spark_probe(spark)
        probe["python_loop_s_after"] = measure.python_probe()
        lake_end = lake_ratio(wl, dirs)
    finally:
        stop_spark(spark)

    ops, fixed = wl.ops + (folded.ops if folded else []), wl.ops[:n_fixed]
    units = [o.seconds for o in fixed if o.kind != "compact"]
    tail_pct, tail_s = measure.tail(units)
    e2e = {
        "setup_s": session_s + writes_s + warmup_s,
        "work_per_s": sum(o.work for o in fixed) / fixed_s,
        "op_p50_s": statistics.median(units),
        "op_tail_s": tail_s,
        "peak_rss_mb": rss,
        "lake_bytes_per_live_byte": lake[0],
        "answer_recall": wl.answer_recall(),
    }
    figures = {n: {"value": v, "unit": u} for n, (v, u) in wl.figures(fixed, fixed_s).items()}
    figures.update(
        {
            "setup_s": {"value": e2e["setup_s"], "unit": "s"},
            "failed_op_frac": {"value": sum(not o.ok for o in ops) / max(1, len(ops)), "unit": "frac"},
            "peak_rss_mb": {"value": rss, "unit": "MB", **rss_parts},
            "lake_bytes_per_live_byte": {"value": lake[0], "unit": "ratio"},
        }
    )
    if args.workload == "curated_sql":
        figures["sql_tail_s"] = {"value": tail_s, "unit": "s", "percentile": tail_pct}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "sizes": wl.sizes(),
        "host_probe": probe,
        "setup": {"session_s": session_s, "seed_writes_s": writes_s, "warmup_s": warmup_s},
        "loop_s": loop_s,
        "fixed_work": {"steps": wl.min_steps, "ops": n_fixed, "seconds": fixed_s},
        "extra_steps": steps - wl.min_steps,
        "ops": len(wl.ops),
        "ops_by_kind": {k: sum(o.kind == k for o in wl.ops) for k in sorted({o.kind for o in wl.ops})},
        "tail": {"percentile": tail_pct, "samples": len(units)},
        "lake": {"after_fixed_work": {"bytes": lake[1], "files": lake[2]}, "at_end": {"bytes": lake_end[1], "files": lake_end[2], "ratio": lake_end[0]}},
        "figures": figures,
        "failures": failures,
    }
    if args.trace:
        own = spans.read_event_log(spans.event_log_lines(dirs["events"]))
        per = layers.span_metrics(tracer.spans, own, sum(o.kind != "compact" for o in ops), ("loop", "folded"))
        per.update(_workload_figures(tracer, wl, folded))
        per.update({f"traced.{k}": v for k, v in e2e.items()})
        report["span_tree"] = {ph: spans.span_tree(tracer.spans, own, ph) for ph in ("setup", "loop", "folded_setup", "folded")}
        if folded:
            report["folded"] = {"workload": folded.name, "sizes": folded.sizes(), "figures": {n: v for n, (v, _u) in folded.figures(folded.ops, sum(o.seconds for o in folded.ops)).items()}}
        metrics = {n: {"value": float(per.get(n, 0.0)), "unit": u} for n, u in layers.PER_LAYER}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in layers.END_TO_END}
    ok = not failures and all(o.ok for o in ops)
    result = {"correct": ok, "attempted": len(ops), "failed": sum(not o.ok for o in ops), "metrics": metrics}
    return report, result


def _workload_figures(tracer, *workloads) -> dict[str, float]:
    out = {"session.get_spark.s": next(s.wall for s in tracer.spans if s.name == "session.get_spark")}
    for wl in filter(None, workloads):
        if hasattr(wl, "attempts_per_doc"):
            out["sources.fan_out_fetch.attempts_per_doc"] = wl.attempts_per_doc()
        if getattr(wl, "plan_metrics", None):
            pm = wl.plan_metrics
            out["engine.sql.scan_rows_per_result_row"] = sum(m["scan_rows"] for m in pm) / max(1, sum(m["result_rows"] for m in pm))
            out["engine.sql.files_read"] = sum(m["files"] for m in pm) / len(pm)
        if hasattr(wl, "ann_recall"):
            out["operators.knn_join.recall_at_k"] = wl.ann_recall()
            out["operators.minhash_lsh_pairs.pair_recall"] = wl.pair_recall()
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import cbts_datalake_synnex_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable here: {exc}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    dirs = isolate(args.workload, bool(args.trace))
    try:
        report, result = run(args, dirs)
    finally:
        cleanup(dirs)
    print(json.dumps({"report": report}), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
