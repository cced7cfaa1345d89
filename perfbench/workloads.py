"""The three workloads. Each is one closed-loop client: ``step`` runs
one unit of work (a nightly batch, a query, a corpus batch) and
returns only after the engine has returned.

A workload exposes ``setup`` (seed writes), ``warmup`` (untimed),
``step`` (timed by the caller), ``check`` (output checks, after the
loop) and ``figures`` (its named end-to-end figures). Every call into
the engine or its operators sits in a tracer span named
``<layer>.<call>``.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import sys
import traceback
from dataclasses import dataclass
from time import perf_counter as _now

import numpy as np
from pyspark.sql import functions as F

from cbts_datalake_synnex_spark import LakeEngine
from cbts_datalake_synnex_spark.operators import dedup, similarity, text
from cbts_datalake_synnex_spark.operators._util import sweep_pinned_rdds
from cbts_datalake_synnex_spark.plans.metrics import executed_plan_metrics

from perfbench import gen
from perfbench.measure import files_bytes
from perfbench.transport import ERROR_RATE, LATENCY_S, FakeStatusApi


@dataclass
class Op:
    kind: str  # "batch", "compact" or a query shape
    seconds: float
    work: int  # records / queries / documents this op completed
    ok: bool = True
    key: object = None  # what the output check looks this op up by


def _log_failure(what: str) -> None:
    print(f"perfbench: {what} failed:\n{traceback.format_exc()}", file=sys.stderr)


class Workload:
    name = ""
    min_steps = 1  # metrics cover this many loop steps; the loop runs on until time is up

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.ops: list[Op] = []

    def setup(self, spark, lake_root: str, database: str, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        with tracer.span("engine.LakeEngine"):
            self.eng = LakeEngine(spark, lake_root, database, **self.engine_kwargs())
        self.seed_writes()

    def engine_kwargs(self) -> dict:
        return {}

    def seed_writes(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def step(self) -> list[Op]:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def figures(self, ops: list[Op], loop_s: float) -> dict[str, tuple[float, str]]:
        """Named figures over ``ops``, the loop's first ``min_steps``
        steps, which took ``loop_s``."""
        raise NotImplementedError

    def live_files(self) -> list[str]:
        """Files of every table in the run's database."""
        spark, db = self.spark, self.eng.database
        out: list[str] = []
        for t in spark.catalog.listTables(db):
            out.extend(spark.table(f"{db}.{t.name}").inputFiles())
        return out

    def sizes(self) -> dict:
        raise NotImplementedError

    def answer_recall(self) -> float:
        """Share of the reference answer the engine returned."""
        raise NotImplementedError


# ----------------------------------------------------------------------


class PoNightlyEtl(Workload):
    """Nightly purchase-order ETL: status fetch, stage + curate,
    CDC apply, periodic compaction. Write-heavy; the lake grows."""

    name = "po_nightly_etl"
    min_steps = 3
    TABLE = "purchase_orders"
    STATUS = "po_status"

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        self.stream = gen.PoStream(seed)
        self.initial = self.stream.initial()
        self._clock = dt.datetime(2026, 1, 5, 9, 0, 0)
        self._index = 1
        self.batch_checks: list[tuple[Op, gen.EtlBatch, int, dict]] = []
        self.last_fetch: list[str] = []
        self.calls_at_loop = (0, 0)

    def engine_kwargs(self) -> dict:
        # nightly clock: each batch lands one week after the previous
        return {"clock": lambda: self._clock}

    def seed_writes(self) -> None:
        sc = self.spark.sparkContext
        self.calls, self.successes = sc.accumulator(0), sc.accumulator(0)
        self.api = FakeStatusApi(self.seed, self.calls, self.successes)
        records = self.initial
        tr, eng = self.tracer, self.eng
        with tr.span("engine.prepare_staging"):
            eng.prepare_staging(self.TABLE)
        with tr.span("engine.save_to_staging"):
            eng.save_to_staging(self.TABLE, records)
        with tr.span("engine.curate"):
            eng.curate(self.TABLE)

    def warmup(self) -> None:
        self._batch(self.stream.next_batch(self._index, scale=0.25))
        self._index += 1
        with self.tracer.span("engine.compact_table"):
            self.eng.compact_table(self.TABLE)
        sweep_pinned_rdds(self.spark)
        self.batch_checks.clear()
        self.calls_at_loop = (self.calls.value, self.successes.value)

    def _table_files(self) -> set[str]:
        return set(self.spark.table(self.eng.qualified(self.TABLE)).inputFiles())

    def _batch(self, b: gen.EtlBatch) -> tuple[int, dict]:
        tr, eng = self.tracer, self.eng
        self._clock += dt.timedelta(days=7)
        with tr.span("engine.ingest_from_api"):
            eng.ingest_from_api(self.STATUS, b.fetch_pos, self.api)
        self.last_fetch = b.fetch_pos
        with tr.span("engine.prepare_staging"):
            eng.prepare_staging(self.TABLE)
        with tr.span("engine.save_to_staging"):
            eng.save_to_staging(self.TABLE, b.records)
        with tr.span("engine.curate"):
            curated = eng.curate(self.TABLE)
        changes = self.spark.createDataFrame(b.changes)
        before = self._table_files() if tr.enabled else None
        with tr.span("engine.apply_changes") as sp:
            res = eng.apply_changes(self.TABLE, changes, ["po_number"])
        if before is not None:
            after = self._table_files()
            changed = max(1, sum(res.values()))
            sp.attrs["files_rewritten"] = len(before - after)
            sp.attrs["bytes_written_per_changed_row"] = files_bytes(sorted(after - before)) / changed
        return curated, res

    def step(self) -> list[Op]:
        b = self.stream.next_batch(self._index)
        self._index += 1
        work = len(b.records) + len(b.changes)
        ops: list[Op] = []
        t0 = _now()
        try:
            curated, res = self._batch(b)
            ops.append(Op("batch", _now() - t0, work))
            self.batch_checks.append((ops[-1], b, curated, res))
        except Exception:  # noqa: BLE001 - a failed batch is counted, the loop goes on
            _log_failure(f"batch {b.index}")
            ops.append(Op("batch", _now() - t0, 0, ok=False))
        if b.compact:
            t0 = _now()
            try:
                before = self._table_files() if self.tracer.enabled else None
                with self.tracer.span("engine.compact_table") as sp:
                    self.eng.compact_table(self.TABLE)
                if before is not None:
                    sp.attrs["bytes_rewritten"] = files_bytes(sorted(self._table_files() - before))
                ops.append(Op("compact", _now() - t0, 0))
            except Exception:  # noqa: BLE001
                _log_failure(f"compaction after batch {b.index}")
                ops.append(Op("compact", _now() - t0, 0, ok=False))
        sweep_pinned_rdds(self.spark)
        self.ops.extend(ops)
        return ops

    def check(self) -> list[str]:
        fails = []
        for op, b, curated, res in self.batch_checks:
            want = {"updated": int((b.changes.op == "U").sum()), "deleted": int((b.changes.op == "D").sum()), "inserted": 0}
            if curated != b.rows_after_curate or {k: res.get(k) for k in want} != want:
                op.ok = False
                fails.append(f"batch {b.index}: curated {curated} rows (want {b.rows_after_curate}), apply_changes {res} (want {want})")
        got = {
            r["po_number"]: r["status"]
            for r in self.spark.table(self.eng.qualified(self.TABLE)).select("po_number", "status").collect()
        }
        want = self.stream.expected
        self.matched = sum(1 for k, v in want.items() if got.get(k) == v)
        if got != want or len(got) != len(want):
            for op in self.ops:
                op.ok = False
            fails.append(f"final table: {self.matched}/{len(want)} keys with the expected status, {len(got)} rows")
        status = sorted(
            (r["po_number"], r["code"], r["status"], r["error"])
            for r in self.spark.table(self.eng.qualified(self.STATUS)).select("po_number", "code", "status", "error").collect()
        )
        want_status = sorted((po, c, d, "") for po in self.last_fetch for c, d in gen.status_lines(self.seed, po))
        if status != want_status:
            self.ops[-1].ok = False
            fails.append(f"po_status: {len(status)} rows, want {len(want_status)}")
        return fails

    def answer_recall(self) -> float:
        return self.matched / max(1, len(self.stream.expected))

    def attempts_per_doc(self) -> float:
        calls = self.calls.value - self.calls_at_loop[0]
        docs = self.successes.value - self.calls_at_loop[1]
        return calls / max(1, docs)

    def figures(self, ops: list[Op], loop_s: float) -> dict[str, tuple[float, str]]:
        batches = [o.seconds for o in ops if o.kind == "batch"]
        rows = sum(o.work for o in ops)
        return {
            "etl_rows_per_s": (rows / loop_s, "1/s"),
            "etl_batch_p50_s": (float(np.median(batches)), "s"),
            "sources.fan_out_fetch.attempts_per_doc": (self.attempts_per_doc(), "ratio"),
        }

    def sizes(self) -> dict:
        s = self.stream.sizes
        return {
            "initial_pos": s.initial_pos,
            "new_pos_per_batch": s.new_pos,
            "status_fetches_per_batch": s.status_fetches,
            "cdc_updates_per_batch": s.cdc_updates,
            "cdc_deletes_per_batch": s.cdc_deletes,
            "compact_every": s.compact_every,
            "transport_latency_s": LATENCY_S,
            "transport_error_rate": ERROR_RATE,
            "curated_rows_reached": len(self.stream.expected),
        }


# ----------------------------------------------------------------------


def _d(y: int, m: int, d: int) -> str:
    return dt.date(y, m, d).isoformat()


SQL_SHAPES: dict[str, tuple[str, list[dict]]] = {
    "q1_scan_agg": (
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, sum(l_extendedprice) AS sum_base, "
        "sum(l_extendedprice * (1 - l_discount)) AS sum_disc, avg(l_discount) AS avg_disc, count(*) AS n "
        "FROM lineitem WHERE l_shipdate <= DATE '{d}' GROUP BY l_returnflag, l_linestatus",
        [{"d": (dt.date(1998, 12, 1) - dt.timedelta(days=k)).isoformat()} for k in (60, 90, 120)],
    ),
    "q6_scan_agg": (
        "SELECT sum(l_extendedprice * l_discount) AS revenue FROM lineitem "
        "WHERE l_shipyear = {y} AND l_shipdate >= DATE '{y}-01-01' AND l_shipdate < DATE '{y1}-01-01' "
        "AND l_discount BETWEEN {lo} AND {hi} AND l_quantity < 24",
        [{"y": y, "y1": y + 1, "lo": f"{d - 0.01:.2f}", "hi": f"{d + 0.01:.2f}"} for y in (1993, 1994, 1995, 1996, 1997) for d in (0.04, 0.06)],
    ),
    "q3_join": (
        "SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, o_orderdate "
        "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey "
        "WHERE c_mktsegment = '{seg}' AND o_orderdate < DATE '{d}' AND l_shipdate > DATE '{d}' "
        "GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10",
        [{"seg": s, "d": _d(1995, 3, day)} for s in gen.SEGMENTS for day in (15, 25)],
    ),
    "q5_join": (
        "SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
        "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = '{r}' AND o_orderdate >= DATE '{y}-01-01' AND o_orderdate < DATE '{y1}-01-01' "
        "GROUP BY n_name ORDER BY revenue DESC, n_name",
        [{"r": r, "y": y, "y1": y + 1} for r in gen.REGIONS for y in (1994, 1996)],
    ),
    "q10_join": (
        "SELECT c_custkey, c_name, sum(l_extendedprice * (1 - l_discount)) AS revenue, c_acctbal, n_name "
        "FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey "
        "JOIN nation ON c_nationkey = n_nationkey "
        "WHERE o_orderdate >= DATE '{lo}' AND o_orderdate < DATE '{hi}' AND l_returnflag = 'R' "
        "GROUP BY c_custkey, c_name, c_acctbal, n_name ORDER BY revenue DESC, c_custkey LIMIT 20",
        [{"lo": _d(y, m, 1), "hi": _d(y + (m + 3 > 12), (m + 2) % 12 + 1, 1)} for y in (1993, 1994) for m in (1, 4, 7, 10)],
    ),
    "q21_shuffle_join": (
        "SELECT l1.l_suppkey, count(*) AS n FROM lineitem l1 JOIN lineitem l2 "
        "ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey "
        "WHERE l1.l_returnflag = '{f}' GROUP BY l1.l_suppkey ORDER BY n DESC, l1.l_suppkey LIMIT 20",
        [{"f": f} for f in ("R", "A")],
    ),
    "top_n": (
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders WHERE o_orderpriority = '{p}' "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT {n}",
        [{"p": p, "n": n} for p in gen.ORDER_PRIORITIES for n in (10, 100)],
    ),
    "range_partition": (
        "SELECT l_linestatus, count(*) AS n, sum(l_extendedprice) AS s FROM lineitem "
        "WHERE l_shipyear = {y} AND l_shipdate BETWEEN DATE '{lo}' AND DATE '{hi}' GROUP BY l_linestatus",
        [{"y": y, "lo": _d(y, m, 1), "hi": _d(y, m, 28)} for y in (1993, 1995, 1997) for m in (2, 6, 11)],
    ),
    "point_orders": ("SELECT * FROM orders WHERE o_orderkey = {k}", []),
    "point_lineitem": (
        "SELECT l_linenumber, l_quantity, l_extendedprice, l_shipdate FROM lineitem WHERE l_orderkey = {k}",
        [],
    ),
}
SF = 0.05  # TPC-H scale factor of the curated tables
TIME_TRAVEL = "time_travel"
SHAPES = list(SQL_SHAPES) + [TIME_TRAVEL]
TIME_TRAVEL_SQL = "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total FROM {view} GROUP BY o_orderpriority"


def _norm(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float)) or hasattr(v, "as_tuple"):  # Decimal has as_tuple
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return str(v)


def _coarse(v):
    return float(f"{v:.6g}") if isinstance(v, float) else v


def canonical(rows) -> list[tuple]:
    """A result as an order-free list of rows: numbers as floats, dates
    as ISO text, rows sorted by their values at 6 significant digits."""
    norm = [tuple(_norm(v) for v in r) for r in rows]
    return sorted(norm, key=lambda r: json.dumps([_coarse(v) for v in r]))


def same_result(a: list[tuple], b: list[tuple]) -> bool:
    """Canonical results equal, numbers within a relative 1e-9. The inputs are
    decimal-exact, so sums often sit exactly on a rounding boundary:
    engines that add in another order land on either side of it, and a
    hash of rounded values would call them different."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


class CuratedSql(Workload):
    """Athena role: a seeded, parameterized query mix over TPC-H-style
    curated tables. Read-only after set-up. A loop step is one round of
    every query shape."""

    name = "curated_sql"
    min_steps = 4  # 44 queries: the tail is p75 with 11 samples beyond it

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        self.tables = gen.tpch_tables(seed, SF)
        self.rng = np.random.default_rng([seed, 404])
        self.results: dict[tuple, list[tuple]] = {}  # (shape, params) -> first canonical result
        self.unstable: set[tuple] = set()
        self.plan_metrics: list[dict] = []

    def seed_writes(self) -> None:
        tr, eng, spark = self.tracer, self.eng, self.spark
        for name in ("region", "nation", "supplier", "customer", "orders", "lineitem"):
            df = spark.createDataFrame(self.tables[name])
            parts = ["l_shipyear"] if name == "lineitem" else []
            with tr.span("engine.write_curated"):
                eng.write_curated(name, df, mode="overwrite", partition_cols=parts)
        # a late orders append: version 2 of `orders`, version 1 stays readable
        with tr.span("engine.write_curated"):
            eng.write_curated("orders", spark.createDataFrame(self.tables["orders_late"]), mode="append", partition_cols=[])

    def _params(self, shape: str) -> dict:
        if shape == TIME_TRAVEL:
            # the version before the late append; reading the current one
            # as well would make the mix's median hinge on the draw
            return {"version": 1}
        if shape == "point_orders":
            return {"k": int(self.rng.integers(1, len(self.tables["orders"]) + len(self.tables["orders_late"]) + 1))}
        if shape == "point_lineitem":
            return {"k": int(self.rng.integers(1, len(self.tables["orders"]) + 1))}
        options = SQL_SHAPES[shape][1]
        return options[int(self.rng.integers(0, len(options)))]

    def run_query(self, shape: str, params: dict) -> list:
        tr = self.tracer
        if shape == TIME_TRAVEL:
            with tr.span("engine.read_snapshot") as sp:
                df = (
                    self.eng.read_snapshot("orders", params["version"])
                    .groupBy("o_orderpriority")
                    .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("total"))
                )
                sp.mark_planned()
                return df.collect()
        with tr.span("engine.sql") as sp:
            df = self.eng.sql(SQL_SHAPES[shape][0].format(**params))
            sp.mark_planned()
            rows = df.collect()
        if tr.enabled:
            with tr.span("plans.executed_plan_metrics"):
                m = executed_plan_metrics(df)
            self.plan_metrics.append({"scan_rows": m["scan_rows"], "files": m["n_files"], "result_rows": len(rows)})
        return rows

    def warmup(self) -> None:
        for shape in SHAPES:
            self.run_query(shape, self._params(shape))
        self.plan_metrics.clear()

    def step(self) -> list[Op]:
        """One round: every shape once, in a seeded order, so every run
        measures the same mix of shapes."""
        ops = []
        for i in self.rng.permutation(len(SHAPES)):
            shape = SHAPES[int(i)]
            params = self._params(shape)
            key = (shape, tuple(sorted(params.items())))
            t0 = _now()
            try:
                rows = self.run_query(shape, params)
                op = Op(shape, _now() - t0, 1, key=key)
                got = canonical(rows)
                if not same_result(self.results.setdefault(key, got), got):
                    self.unstable.add(key)
            except Exception:  # noqa: BLE001
                _log_failure(f"query {key}")
                op = Op(shape, _now() - t0, 0, ok=False, key=key)
            ops.append(op)
        self.ops.extend(ops)
        return ops

    def check(self) -> list[str]:
        import duckdb

        spark, db = self.spark, self.eng.database
        con = duckdb.connect()
        try:
            for t in ("region", "nation", "supplier", "customer", "orders", "lineitem"):
                files = [f.removeprefix("file://").removeprefix("file:") for f in spark.table(f"{db}.{t}").inputFiles()]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({files!r}, hive_partitioning = {t == 'lineitem'})")
            v1 = [f.removeprefix("file://").removeprefix("file:") for f in self.eng.snapshot_history("orders")[0]["files"]]
            con.execute(f"CREATE VIEW orders_v1 AS SELECT * FROM read_parquet({v1!r})")
            bad = set(self.unstable)
            for key, got in self.results.items():
                shape, params = key[0], dict(key[1])
                if shape == TIME_TRAVEL:
                    sql = TIME_TRAVEL_SQL.format(view=f"orders_v{params['version']}")
                else:
                    sql = SQL_SHAPES[shape][0].format(**params)
                if not same_result(canonical(con.execute(sql).fetchall()), got):
                    bad.add(key)
        finally:
            con.close()
        for op in self.ops:
            if op.key in bad:
                op.ok = False
        self.distinct, self.matching = len(self.results), len(self.results) - len(bad)
        return [f"{shape} {dict(params)}: result differs from DuckDB" for shape, params in sorted(bad, key=str)]

    def answer_recall(self) -> float:
        return self.matching / max(1, self.distinct)

    def figures(self, ops: list[Op], loop_s: float) -> dict[str, tuple[float, str]]:
        lat = [o.seconds for o in ops]
        out = {"sql_queries_per_s": (len(ops) / loop_s, "1/s"), "sql_p50_s": (float(np.median(lat)), "s")}
        for shape in SHAPES:
            out[f"{shape}.p50_s"] = (float(np.median([o.seconds for o in ops if o.kind == shape])), "s")
        return out

    def sizes(self) -> dict:
        return {"sf": SF, **{f"{t}_rows": len(df) for t, df in self.tables.items()}, "distinct_queries": len(self.results)}


# ----------------------------------------------------------------------


def exact_pairs(ids: list[int], texts: list[str], threshold: float) -> dict[tuple[int, int], float]:
    """All doc pairs with word-3-gram Jaccard >= threshold, by brute
    force over pairs whose set sizes allow it."""
    shs = []
    for t in texts:
        toks = t.split(" ")
        shs.append({t} if len(toks) < 3 else {tuple(toks[i:i + 3]) for i in range(len(toks) - 2)})
    order = sorted(range(len(ids)), key=lambda i: len(shs[i]))
    out = {}
    for a_pos, i in enumerate(order):
        for j in order[a_pos + 1:]:
            if len(shs[i]) < threshold * len(shs[j]):
                break
            inter = len(shs[i] & shs[j])
            jac = round(inter / (len(shs[i]) + len(shs[j]) - inter), 6)
            if jac >= threshold:
                out[(min(ids[i], ids[j]), max(ids[i], ids[j]))] = jac
    return out


def brute_knn(queries: np.ndarray, q_ids: np.ndarray, corpus: np.ndarray, c_ids: np.ndarray, k: int) -> set[tuple[int, int]]:
    """Exact cosine top-k (6-dp rounded score, then id) with NumPy."""
    q = queries.astype(np.float64)
    q /= np.maximum(np.linalg.norm(q, axis=1, keepdims=True), 1e-12)
    c = corpus.astype(np.float64)
    c /= np.maximum(np.linalg.norm(c, axis=1, keepdims=True), 1e-12)
    sims = np.round(q @ c.T, 6)
    order = np.lexsort((np.broadcast_to(c_ids, sims.shape), -sims), axis=1)[:, :k]
    return {(int(q_ids[i]), int(c_ids[j])) for i in range(len(q_ids)) for j in order[i]}


class LlmCorpusCuration(Workload):
    """LLM-corpus operators over seeded batches drawn from and
    perturbed against a document / embedding corpus."""

    name = "llm_corpus_curation"
    min_steps = 2
    INDEX = "dedup_idx"

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        self.stream = gen.CorpusStream(seed)
        self._index = 0
        self.kept: list[tuple] = []  # (op, docs, vectors, exact, pairs, knn, admitted) per batch

    def seed_writes(self) -> None:
        spark, tr, eng = self.spark, self.tracer, self.eng
        corpus = self.stream.corpus
        with tr.span("engine.write_curated"):
            eng.write_curated("documents", spark.createDataFrame(corpus.docs), mode="overwrite", partition_cols=[])
        # write_curated degrades array columns to JSON text (catalog type
        # whitelist), so the vector side of knn_join stays an in-memory frame
        self.vectors = spark.createDataFrame(corpus.vectors, "vec_id long, embedding array<float>").cache()
        self.vectors.count()
        with tr.span("engine.build_dedup_index"):
            eng.build_dedup_index(self.INDEX, spark.table(eng.qualified("documents")), "doc_id", "text")

    def _batch(self, docs_pdf, vecs_pdf):
        spark, tr, eng = self.spark, self.tracer, self.eng
        s = self.stream.sizes
        docs = spark.createDataFrame(docs_pdf)
        vecs = spark.createDataFrame(vecs_pdf, "vec_id long, embedding array<float>")
        with tr.span("operators.quality_score") as sp:
            scored = text.quality_score(docs, "text")
            sp.mark_planned()
        with tr.span("operators.gopher_quality_flags") as sp:
            flagged = text.gopher_quality_flags(scored, "text")
            sp.mark_planned()
            flagged.agg(F.sum("quality"), F.sum(F.col("gopher_pass").cast("int"))).collect()
        with tr.span("operators.exact_dedup") as sp:
            exact_df = dedup.exact_dedup(docs, ["text"], "doc_id")
            sp.mark_planned()
            exact = exact_df.select("doc_id", "n_copies").collect()
        with tr.span("operators.minhash_lsh_pairs") as sp:
            pairs_df = dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=s.lsh_threshold)
            sp.mark_planned()
            pairs = pairs_df.collect()
        with tr.span("operators.sweep_pinned_rdds"):
            sweep_pinned_rdds(spark)
        with tr.span("engine.admit_against_dedup_index") as sp:
            decisions = eng.admit_against_dedup_index(self.INDEX, docs, "doc_id", "text", threshold=s.lsh_threshold)
            sp.mark_planned()
            decisions = decisions.localCheckpoint()
        with tr.span("engine.update_dedup_index"):
            eng.update_dedup_index(self.INDEX, docs, decisions, "doc_id", "text")
        admitted = decisions.count()
        with tr.span("operators.knn_join") as sp:
            knn_df = similarity.knn_join(self.vectors, vecs, "vec_id", "embedding", k=s.knn_k)
            sp.mark_planned()
            knn = knn_df.select("query_id", "cand_id").collect()
        with tr.span("operators.sweep_pinned_rdds"):
            sweep_pinned_rdds(spark)
        return exact, pairs, knn, admitted

    def warmup(self) -> None:
        docs, vecs = self.stream.batch(self._index)
        self._index += 1
        self._batch(docs.iloc[:50], vecs.iloc[:50])

    def step(self) -> list[Op]:
        docs, vecs = self.stream.batch(self._index)
        self._index += 1
        t0 = _now()
        try:
            exact, pairs, knn, admitted = self._batch(docs, vecs)
            op = Op("batch", _now() - t0, len(docs))
            self.kept.append((op, docs, vecs, exact, pairs, knn, admitted))
        except Exception:  # noqa: BLE001
            _log_failure(f"corpus batch {self._index - 1}")
            op = Op("batch", _now() - t0, 0, ok=False)
        self.ops.append(op)
        return [op]

    def check(self) -> list[str]:
        s = self.stream.sizes
        corpus = self.stream.corpus.vectors
        c_mat = np.stack(corpus["embedding"].to_numpy())
        c_ids = corpus["vec_id"].to_numpy()
        fails = []
        self.pair_hits = self.pair_truth = self.knn_hits = self.knn_truth = 0
        for op, docs, vecs, exact, pairs, knn, admitted in self.kept:
            groups: dict[str, list[int]] = {}
            for i, t in zip(docs["doc_id"].tolist(), docs["text"].tolist()):
                groups.setdefault(t, []).append(i)
            want_exact = sorted((min(v), len(v)) for v in groups.values())
            got_exact = sorted((r["doc_id"], r["n_copies"]) for r in exact)
            truth = exact_pairs(docs["doc_id"].tolist(), docs["text"].tolist(), s.lsh_threshold)
            found = {(r["doc1"], r["doc2"]): r["jaccard"] for r in pairs}
            false_pos = [p for p, j in found.items() if p not in truth or abs(truth[p] - j) > 1e-6]
            want_knn = brute_knn(np.stack(vecs["embedding"].to_numpy()), vecs["vec_id"].to_numpy(), c_mat, c_ids, s.knn_k)
            got_knn = {(r["query_id"], r["cand_id"]) for r in knn}
            self.pair_hits += len(truth.keys() & found.keys())
            self.pair_truth += len(truth)
            self.knn_hits += len(want_knn & got_knn)
            self.knn_truth += len(want_knn)
            problems = []
            if got_exact != want_exact:
                problems.append(f"exact_dedup {len(got_exact)} groups, want {len(want_exact)}")
            if false_pos:
                problems.append(f"{len(false_pos)} LSH pairs below the Jaccard threshold")
            if admitted != len(docs):
                problems.append(f"{admitted} admission decisions for {len(docs)} docs")
            if len(got_knn) > len(want_knn):
                problems.append(f"knn_join returned {len(got_knn)} neighbours, want at most {len(want_knn)}")
            if problems:
                op.ok = False
                fails.append(f"corpus batch: {'; '.join(problems)}")
        return fails

    def ann_recall(self) -> float:
        return self.knn_hits / max(1, self.knn_truth)

    def pair_recall(self) -> float:
        return self.pair_hits / max(1, self.pair_truth)

    def answer_recall(self) -> float:
        return min(self.ann_recall(), self.pair_recall())

    def figures(self, ops: list[Op], loop_s: float) -> dict[str, tuple[float, str]]:
        lat = [o.seconds for o in ops]
        return {
            "corpus_docs_per_s": (sum(o.work for o in ops) / loop_s, "1/s"),
            "corpus_batch_p50_s": (float(np.median(lat)), "s"),
            "ann_recall_at_k": (self.ann_recall(), "frac"),
            "neardup_pair_recall": (self.pair_recall(), "frac"),
        }

    def sizes(self) -> dict:
        s = self.stream.sizes
        return {
            "corpus_docs": s.corpus_docs,
            "corpus_vectors": s.corpus_vectors,
            "dim": s.dim,
            "batch_docs": s.batch_docs,
            "near_dup_rate": s.near_dup_rate,
            "exact_dup_rate": s.exact_dup_rate,
            "knn_k": s.knn_k,
            "lsh_threshold": s.lsh_threshold,
            "batch_docs_processed": sum(o.work for o in self.ops),
        }


WORKLOADS = {w.name: w for w in (PoNightlyEtl, CuratedSql, LlmCorpusCuration)}
