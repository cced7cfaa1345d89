"""LakeEngine — the façade that replaces the reference's Lambda+Glue+Athena triad.

Zoned lakehouse layout (SURVEY §1.1): the reference encodes
raw / staging / processed(curated) as Hive-style key-value path
partitions under one S3 bucket —
``etl_process=raw/table=T/year=Y/month=M/*.json.gz`` (``utils.py:215``),
``etl_process=staging/table=T/*.json.gz`` (``utils.py:112-114,141``),
``etl_process=processed/table=T/...`` (``utils.py:243``; the reversed
key order at ``utils.py:74`` is normalized to the majority order per
SURVEY §1.1). The raw, staging and quarantine zones keep that layout
under the lake root (`ZonePaths`). Curated tables do not: `_commit`
creates each as a managed catalog table, so its files live under the
database's location in ``spark.sql.warehouse.dir``
(``<warehouse>/<database>.db/<table>/processed_year=Y/processed_month=M/``,
partitioned like the reference's processed zone); only `clone_table`
writes under ``etl_process=processed/table=T``. The engine's own state
(snapshot log and retention, scratch, JSON sidecars) lives under the
lake root.

API surface (one method per reference entry point, SURVEY §3):

* ``ingest_records``  — §3.2: records → ingest policy → raw+staging (+
  optionally straight to curated), the role of ``save_to_datalake``
  (``utils.py:40-89``) + ``save_to_staging`` (``utils.py:118-144``).
* ``curate``          — §3.3: staging JSON → count gate → typed
  transform → schema-evolving partitioned Parquet + catalog, the role
  of ``src/glue/staging_to_curated.py``.
* ``sql`` / ``create_view`` — the Athena role (``src/purchase_orders.py:
  22-24``): Spark SQL over catalog-registered curated tables.
* ``prepare_staging`` — K6 staging truncate (``utils.py:102-115``).

Scale posture: every write is ``partitionBy`` Hive layout so partition
pruning is free; curated reads register as catalog tables so Catalyst
sees statistics; schema evolution is additive-column (Parquet
``mergeSchema`` on read + explicit ALTER on the catalog entry). The
engine's snapshot log (``_snapshot_log``, appended by ``_commit``) is
its Delta-style table log over plain parquet or ORC files.
"""

from __future__ import annotations

import functools
import json
import os
import re
import shutil
import threading
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from datetime import datetime
from typing import Any, Iterable, Sequence
from urllib.parse import unquote, urlparse

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from cbts_datalake_synnex_spark.functions.audit import with_audit_columns
from cbts_datalake_synnex_spark.functions.ingest_policy import (
    apply_ingest_policy,
    ddl_type,
    quote,
    sanitize_types_for_catalog,
)

DEFAULT_PARTITION_COLS = ["processed_year", "processed_month"]  # utils.py:223
# On-disk file size a rewrite aims at. A file below it is small:
# compaction packs a partition's small files, and a DML rewrite takes
# along the small files of the partitions it touches while the
# partition's rewrite stays within it.
_TARGET_FILE_BYTES = 128 * 1024 * 1024
# The hidden column a file rewrite carries from each row's source file
# to the write: the file's bin within its partition (`_first_fit`).
# `_commit` writes one file per partition and bin, and drops it.
_BIN = "__file_bin"


class ConstraintViolation(ValueError):
    """A write batch (or existing table, at ADD CONSTRAINT time)
    violates a CHECK constraint — the write was aborted untouched."""


# Table-property prefixes of the engine's constraints and generated
# columns (`ALTER TABLE ... SET TBLPROPERTIES`).
_CHECK, _UNIQUE, _GENERATED = "constraint.check.", "constraint.unique.", "generated.col."
_ENGINE_PROPS = (_CHECK, _UNIQUE, _GENERATED)


def _prefixed(props: dict[str, str], prefix: str) -> dict[str, str]:
    """``props`` entries under ``prefix``, keyed by the rest of the key."""
    return {k[len(prefix):]: v for k, v in props.items() if k.startswith(prefix)}


def _unique_specs(props: dict[str, str]) -> dict[str, list[str]]:
    return {name: spec.split(",") for name, spec in _prefixed(props, _UNIQUE).items()}


# The JSON sidecars under the lake root (`LakeEngine._sidecar`): the
# column-statistics ledgers (fold ledgers and Bloom freshness stamps),
# the materialized-view definitions with their refresh ledgers, and
# the persistent indexes' specs.
_COLUMN_STATS, _MVIEWS, _INDEXES = "_column_stats.json", "_mviews.json", "_indexes.json"

# Persisted statistic kind (`{table}_{kind}_{column}`) → what it is and
# the call that builds it (`LakeEngine._stat_table`).
_STAT_KINDS = {
    "cms": ("join-column sketch", "analyze_join_column"),
    "hll": ("HLL sketch", "analyze_join_column"),
    "kmv": ("KMV sketch", "analyze_join_column"),
    "bloom": ("membership filter", "analyze_membership"),
    "hist": ("histogram", "analyze_column_histogram"),
}


def _local_path(uri: str) -> str:
    """Filesystem path of a ``file:`` URI (either ``file:/p`` or
    ``file:///p`` form) or of a bare path."""
    return urlparse(uri).path or uri


def _spark_file(uri: str) -> str:
    """A data file as Spark names it (``_metadata.file_path``,
    ``inputFiles()``: percent-encoded) in the manifests' form, the raw
    path on disk: a file under ``p=a%3Ab``, the directory Hive writes
    for ``p = 'a:b'``, comes back from Spark as ``p=a%253Ab``."""
    u = urlparse(uri)
    return f"{u.scheme}://{u.netloc}{unquote(u.path)}"


def _require_local(qtable: str, loc: str) -> None:
    """Refuse a table location a file commit cannot write."""
    if urlparse(loc).scheme not in ("", "file"):
        raise ValueError(
            f"cannot commit to {qtable} at {loc}: file commits need a "
            "local (file:) table location"
        )


def _sizes_by_dir(files: Iterable[str]) -> dict[str, dict[str, int]]:
    """The on-disk size of each of ``files``, by partition directory."""
    sizes: dict[str, dict[str, int]] = {}
    for f in files:
        p = _local_path(f)
        sizes.setdefault(os.path.dirname(p), {})[f] = os.path.getsize(p)
    return sizes


def _first_fit(sizes: dict[str, int], target: int) -> list[list[str]]:
    """Pack the files of ``sizes`` into bins of at most ``target``
    on-disk bytes, first fit decreasing; a file above the target is a
    bin of its own. Any two bins together exceed the target, so files
    written one per bin do not pack together again."""
    bins: list[list[str]] = []
    room: list[int] = []
    for f in sorted(sizes, key=sizes.__getitem__, reverse=True):
        i = next((i for i, r in enumerate(room) if sizes[f] <= r), len(bins))
        if i == len(bins):
            bins.append([])
            room.append(target)
        bins[i].append(f)
        room[i] -= sizes[f]
    return bins


def _bin_numbers(bins_by_dir: Iterable[list[list[str]]]) -> dict[str, int]:
    """Each file's bin within its directory, by file name, for the
    files outside bin 0 (`_read_files_as_table_schema` reads the rest
    as bin 0). The engine's file names are unique within a table:
    `_commit` gives every file it moves in a fresh ``dml-<uuid>-``
    prefix."""
    return {
        os.path.basename(_local_path(f)): i
        for bins in bins_by_dir
        for i, b in enumerate(bins)
        if i
        for f in b
    }


def _append_jsonl(path: str, entry: dict[str, Any]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(entry) + "\n")


def _read_jsonl(path: str) -> list[dict[str, Any]]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


@dataclass(frozen=True)
class ZonePaths:
    """Path layout — one lake root, reference key-value zone encoding."""

    root: str

    def raw(self, table: str, year: str, month: str) -> str:
        # utils.py:215: etl_process=raw/table=T/year=Y/month=M/
        return os.path.join(self.root, "etl_process=raw", f"table={table}", f"year={year}", f"month={month}")

    def staging(self, table: str) -> str:
        # utils.py:112-114,141: etl_process=staging/table=T/
        return os.path.join(self.root, "etl_process=staging", f"table={table}")

    def curated(self, table: str) -> str:
        # utils.py:243: etl_process=processed/table=T/
        return os.path.join(self.root, "etl_process=processed", f"table={table}")

    def quarantine(self, table: str) -> str:
        # engine extension (no reference analogue): malformed staging
        # lines land here for replay instead of being silently dropped
        return os.path.join(self.root, "etl_process=quarantine", f"table={table}")


class LakeEngine:
    """One SparkSession + one zoned lake root + one catalog database."""

    def __init__(
        self,
        spark: SparkSession,
        lake_root: str,
        database: str = "datalake",  # DATABASE env, utils.py:25
        clock: Any | None = None,
        table_format: str = "parquet",
    ) -> None:
        # The format of every data file the engine writes and reads.
        # `_commit` moves plain files and journals them in the
        # engine's own snapshot log, which a Delta (or any other
        # log-based format's) reader would never see.
        if table_format not in ("parquet", "orc"):
            raise ValueError(
                f"table_format must be 'parquet' or 'orc', not {table_format!r}"
            )
        self.spark = spark
        self.zones = ZonePaths(lake_root)
        self.database = database
        self._clock = clock  # () -> datetime, injectable for tests
        self.table_format = table_format
        # Serializes `_set_sidecar`'s read-modify-write: concurrent
        # curates (`run_concurrent`) share the JSON sidecars.
        self._sidecar_lock = threading.Lock()
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")

    # ------------------------------------------------------------------
    # clock
    def _now(self) -> datetime | None:
        return self._clock() if self._clock is not None else None

    # ------------------------------------------------------------------
    # S6 — in-memory records source (utils.py:40,118,223 `data` param)
    def records_to_df(self, data: Iterable[dict[str, Any]]) -> DataFrame:
        """list[dict] (possibly nested) → DataFrame via the JSON-lines
        reader, which gives the same dynamic schema inference the Glue
        DynamicFrame provided (src/glue/staging_to_curated.py:85-95)."""
        lines = [json.dumps(rec, default=str) for rec in data]
        if not lines:
            return self.spark.createDataFrame([], "dummy string").limit(0).drop("dummy")
        # The JVM reader parses the lines (`DataFrameReader.json` over a
        # Dataset[String]), so no later job of the batch starts a Python
        # worker. One partition per 5 000 records: that is one staged
        # and one curated file per 5 000. The Arrow-built frame has
        # `defaultParallelism` partitions; a coalesce narrows it with no
        # shuffle, and only a host with fewer cores than that needs a
        # repartition.
        text = self._string_frame("value", lines)
        n = len(lines) // 5000 + 1
        text = text.coalesce(n) if text.rdd.getNumPartitions() >= n else text.repartition(n)
        jtext = getattr(text._jdf, "as")(self.spark._jvm.org.apache.spark.sql.Encoders.STRING())
        return DataFrame(self.spark._jsparkSession.read().json(jtext), self.spark)

    def _string_frame(self, name: str, values: list[str]) -> DataFrame:
        """One string column, shipped through Arrow into a JVM relation
        (a list of tuples would become a Python RDD)."""
        return self.spark.createDataFrame(
            pd.DataFrame({name: pd.Series(values, dtype=object)}), f"{quote(name)} string"
        )

    # ------------------------------------------------------------------
    # K4 — gzipped JSON raw archive (utils.py:210-220)
    def save_to_raw(
        self,
        table: str,
        data: Iterable[dict[str, Any]] | DataFrame,
        now: datetime | None = None,
    ) -> str:
        now = now or self._now() or datetime.now()
        path = self.zones.raw(table, now.strftime("%Y"), now.strftime("%m"))
        df = data if isinstance(data, DataFrame) else self.records_to_df(data)
        (
            df.write.mode("append")
            .format("json")
            .option("compression", "gzip")
            .save(os.path.join(path, uuid.uuid4().hex))
        )
        return path

    # ------------------------------------------------------------------
    # K5 — staging write (utils.py:118-144): flattened+stringified JSON
    def save_to_staging(
        self,
        table: str,
        data: Iterable[dict[str, Any]] | DataFrame,
        incremental: bool = True,
    ) -> str:
        df = data if isinstance(data, DataFrame) else self.records_to_df(data)
        df = apply_ingest_policy(df, stringify=True)
        df = with_audit_columns(df, self._now())
        path = self.zones.staging(table)
        batch = os.path.join(path, uuid.uuid4().hex)
        df.write.mode("append").format("json").option("compression", "gzip").save(batch)
        if incremental:
            # `_incremental` twin receives the same append (utils.py:153):
            # hard links of the files just written, not a second write.
            # Staging is local, like `prepare_staging`'s rmtree.
            twin = os.path.join(self.zones.staging(f"{table}_incremental"), uuid.uuid4().hex)
            os.makedirs(twin)
            for name in os.listdir(batch):
                os.link(os.path.join(batch, name), os.path.join(twin, name))
        return path

    # ------------------------------------------------------------------
    # K6 — staging truncate (utils.py:102-115)
    def prepare_staging(self, table: str) -> None:
        for t in (table, f"{table}_incremental"):
            path = self.zones.staging(t)
            if os.path.exists(path):
                shutil.rmtree(path)

    # ------------------------------------------------------------------
    # §3.2 — ingest: records → policy chain → curated partitioned write
    def ingest_records(
        self,
        table: str,
        data: Iterable[dict[str, Any]] | DataFrame,
        mode: str = "overwrite",
        partition_cols: Sequence[str] | None = None,
    ) -> DataFrame:
        """The role of ``save_to_datalake`` (utils.py:40-89): normalize
        → audit columns → partitioned Parquet + catalog registration."""
        df = data if isinstance(data, DataFrame) else self.records_to_df(data)
        df = apply_ingest_policy(df, stringify=True)
        df = with_audit_columns(df, self._now())
        self.write_curated(table, df, mode=mode, partition_cols=partition_cols)
        return self.spark.table(self.qualified(table))

    # ------------------------------------------------------------------
    # K1/K2/K7/K8 — partitioned Parquet dataset write w/ catalog + evolution
    def write_curated(
        self,
        table: str,
        df: DataFrame,
        mode: str = "append",
        partition_cols: Sequence[str] | None = None,
    ) -> int:
        """Partitioned snappy-Parquet write registered in the catalog.
        Returns the rows written, as `_commit` observed them.

        Reference: ``wr.s3.to_parquet(dataset=True, mode=..., database,
        table, partition_cols, catalog_versioning=True)`` at
        ``utils.py:72-83`` and the schema-evolving variant at
        ``utils.py:241-252``; the Glue-job equivalents are the sink at
        ``src/glue/staging_to_curated.py:104-115`` plus create-if-absent
        (122-134) and add-column diff (139-168). Every write commits
        through `_commit`, whose snapshot-log entry is the table's
        Delta-style log record:

        * an append widens the table first (K2/K8: an explicit ALTER
          TABLE ADD COLUMNS diff + a positionally-safe projection) and
          commits the batch as new files;
        * an overwrite that keeps the table's columns, types and
          partition columns commits the batch in place of every live
          file — the table and its properties stay;
        * a create, or an overwrite that changes the columns or the
          partitioning, (re)creates the catalog entry inside `_commit`
          once the batch is staged (K1/K3/K7), carrying the engine's
          constraint and generated-column properties.

        Partition discovery K9 is part of the commit
        (`recover_partitions` when a new partition directory appears).
        """
        qtable = self.qualified(table)
        exists = self.spark.catalog.tableExists(qtable)
        # The engine's properties (constraints, generated columns), read
        # once for every check below.
        props = (
            {k: v for k, v in self._table_props(table).items() if k.startswith(_ENGINE_PROPS)}
            if exists
            else {}
        )
        # Generated columns the batch lacks materialize BEFORE partition
        # resolution so a generated partition key (the standard use)
        # lands in parts; supplied values are verified by `_checked`.
        for n, e in _prefixed(props, _GENERATED).items():
            if n not in df.columns:
                df = df.withColumn(n, F.expr(e))
        parts = list(partition_cols) if partition_cols is not None else [
            c for c in DEFAULT_PARTITION_COLS if c in df.columns
        ]
        df = sanitize_types_for_catalog(df)
        with self._checked(table, df, props, mode) as df:
            if not exists:
                # None: a stale manifest of a table dropped outside the
                # engine (or mid-re-create) must not carry into the new one
                n_written = self._commit(table, None, df, mode, create=(parts, props))
            elif mode == "append":
                layout = self._table_layout(qtable)
                if parts != layout[1]:
                    raise ValueError(
                        f"cannot append to {qtable} partitioned by {layout[1]} "
                        f"with partition columns {parts}"
                    )
                n_written = self._commit(
                    table, [], self._evolve_schema(qtable, df), mode, layout=layout
                )
            else:
                # the table a saveAsTable overwrite would re-create:
                # data columns, then partition columns in `parts` order
                types = {f.name: f.dataType for f in df.schema.fields}
                batch = [(c, t) for c, t in types.items() if c not in parts]
                batch += [(c, types.get(c)) for c in parts]
                current = [(f.name, f.dataType) for f in self.spark.table(qtable).schema.fields]
                layout = self._table_layout(qtable)
                if batch == current and parts == layout[1]:
                    n_written = self._commit(table, None, df, mode, layout=layout)
                else:
                    n_written = self._commit(table, None, df, mode, create=(parts, props))
            uniques = _unique_specs(props)
            if mode == "append" and uniques:
                self._refresh_unique_membership(table, df, uniques)
        return n_written

    # ------------------------------------------------------------------
    # Concurrent-job scheduling (round 13 — VERDICT "What's missing"
    # #4): the reference deploys with Glue `MaxConcurrentRuns: 10`
    # (serverless.yml:411-412) — many curates in flight, a hard cap.
    # Spark's analogue is thread-level job submission + the FAIR
    # scheduler: jobs submitted from different threads run
    # concurrently, and a per-thread `spark.scheduler.pool` local
    # property gives each its own fair-share pool (executors split
    # fairly instead of head-of-line blocking). `get_spark` starts the
    # session with spark.scheduler.mode=FAIR; on a FIFO session the
    # pool tag is inert and only the concurrency bound applies.
    @contextmanager
    def scheduler_pool(self, pool: str):
        """Tag every Spark job submitted by THIS thread with a fair-
        scheduler pool. Local properties are thread-confined, so
        concurrent curates in different pools don't leak into each
        other."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.scheduler.pool")
        sc.setLocalProperty("spark.scheduler.pool", pool)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.scheduler.pool", prev)

    def run_concurrent(
        self,
        jobs: dict[str, Any],
        max_concurrent: int = 10,
    ) -> dict[str, Any]:
        """Run ``{name: zero-arg callable}`` jobs on driver threads with
        at most ``max_concurrent`` in flight (the MaxConcurrentRuns
        role), each under its own scheduler pool ``curate_{name}``. Returns {name: result}; a failing job
        records its exception as the result (one bad curate must not
        kill the batch — the Map-state error-isolation discipline).
        Catalog mutations in this engine are per-table, so concurrent
        curates to DIFFERENT tables are safe; same-table writers still
        need external ordering, exactly as with concurrent Glue runs.
        """
        sem = threading.BoundedSemaphore(int(max_concurrent))
        results: dict[str, Any] = {}
        lock = threading.Lock()

        def _run(name: str, fn) -> None:
            with sem:
                try:
                    with self.scheduler_pool(f"curate_{name}"):
                        out = fn()
                except Exception as exc:  # noqa: BLE001 — isolate per job
                    out = exc
                with lock:
                    results[name] = out

        threads = [
            threading.Thread(target=_run, args=(n, fn), name=f"curate-{n}")
            for n, fn in jobs.items()
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return results

    # ------------------------------------------------------------------
    # Data time travel on plain parquet: every commit journals the
    # table's file manifest as a numbered snapshot, and a commit that
    # replaces files moves them into the table's retention directory,
    # `_snapshot_log/<table>/retired/`, at their path relative to the
    # table location (`_retire`) instead of deleting them — Delta's
    # remove action, whose file stays until VACUUM. Parquet files are
    # immutable and uniquely named, so each replaced file is kept once
    # however many versions name it, and retention grows with what a
    # commit removes, not with the table. `read_snapshot(v)` finds each
    # of v's files live or retired (`_locate`), so every journaled
    # version is readable until `vacuum_snapshots` deletes the retired
    # files it needs. On an object store, retiring is a copy and a
    # delete. The same log carries each commit's operation and rows
    # written (the reference's CloudWatch job metrics,
    # serverless.yml:133-139) and, on a schema change, the schema — the
    # catalog versioning of utils.py:78,247 (`catalog_versioning=True`),
    # as Delta's log carries `metaData` and `commitInfo` in its commits.
    def _snapshot_log_path(self, table: str) -> str:
        return os.path.join(self.zones.root, "_snapshot_log", f"{table}.jsonl")

    def _retired_root(self, table: str) -> str:
        return os.path.join(self.zones.root, "_snapshot_log", table, "retired")

    def _retire(self, table: str, base: str, path: str) -> None:
        """Move the data file at ``path`` out of the table into its
        retention directory, at its path relative to ``base``, the
        location recorded by the entries that name it."""
        dst = os.path.join(self._retired_root(table), os.path.relpath(path, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        try:
            os.rename(path, dst)
        except OSError:  # retention on another filesystem than the table
            shutil.move(path, dst)

    def _locate(self, table: str, entry: dict[str, Any]) -> dict[str | None, list[str]]:
        """The files of snapshot ``entry``, as paths relative to the
        root they are found under: the entry's base while a file is
        live, the table's retention directory once a later commit
        retired it, ``None`` once `vacuum_snapshots` deleted it."""
        roots = (entry["base"], self._retired_root(table))
        found: dict[str | None, list[str]] = {}
        for f in entry["files"]:
            rel = os.path.relpath(_local_path(f), entry["base"])
            root = next((r for r in roots if os.path.exists(os.path.join(r, rel))), None)
            found.setdefault(root, []).append(rel)
        return found

    def _journal_snapshot(
        self,
        table: str,
        files: list[str],
        layout: tuple[str, list[str]],
        operation: str,
        rows_written: int | None,
        history: list[dict[str, Any]],
    ) -> None:
        """Append the table's next entry to its one log: ``files`` is
        the new manifest, ``layout`` the table's `_table_layout`,
        ``history`` its `snapshot_history` so far. The entry records
        the caller's ``operation`` and the ``rows_written`` it observed,
        and the catalog schema when it differs from the last one
        recorded (the `schema_history` versions). Neither the manifest
        nor the schema changed: no new version."""
        files = sorted(files)
        schema = self.spark.table(self.qualified(table)).schema.jsonValue()
        last_schema = next((h["schema"] for h in reversed(history) if "schema" in h), None)
        if history and history[-1]["files"] == files and schema == last_schema:
            return
        loc, pcols = layout
        # Partition layout (`pcols`) travels with the snapshot so
        # RESTORE can rebuild the table with ITS original partitioning
        # (not the engine default).
        now = self._now() or datetime.now()
        entry = {
            "version": len(history) + 1,
            "at": now.strftime("%Y-%m-%d %H:%M:%S"),
            "files": files,
            "base": _local_path(loc),
            "partition_cols": pcols,
            "operation": operation,
            "rows_written": rows_written,
        }
        if schema != last_schema:
            entry["schema"] = schema
        _append_jsonl(self._snapshot_log_path(table), entry)

    def snapshot_history(self, table: str) -> list[dict[str, Any]]:
        """All recorded data snapshots, oldest first."""
        return _read_jsonl(self._snapshot_log_path(table))

    def schema_history(self, table: str) -> list[dict[str, Any]]:
        """All recorded schema versions, oldest first: one per schema
        CHANGE (Glue semantics), numbered from 1."""
        changes = [h for h in self.snapshot_history(table) if "schema" in h]
        return [
            {"version": i, "at": h["at"], "schema": h["schema"]}
            for i, h in enumerate(changes, 1)
        ]

    def read_snapshot(self, table: str, version: int | None = None) -> DataFrame:
        """Read the table as it was at snapshot ``version`` (1-based;
        default latest), with the schema recorded at or before that
        version. Every journaled version is readable until
        `vacuum_snapshots` reclaims it; vacuumed versions raise. The
        frame names the version's files where they are now: a file
        still live is read from the table's directory, where the next
        commit to that table may retire it. A write of the frame to the
        same table stages it before retiring anything."""
        return self._snapshot_frame(table, *self._snapshot_entry(table, version))

    def _snapshot_entry(
        self, table: str, version: int | None
    ) -> tuple[dict[str, Any], StructType]:
        """The log entry of snapshot ``version`` (default latest) and
        the schema recorded at or before it, from one read of the log."""
        history = self.snapshot_history(table)
        if not history:
            raise ValueError(f"no snapshots recorded for table '{table}'")
        if version is None:
            version = history[-1]["version"]
        schema = None
        for entry in history:
            schema = entry.get("schema", schema)
            if entry["version"] == version:
                return entry, StructType.fromJson(schema)
        raise ValueError(f"table '{table}' has no snapshot version {version}")

    def _snapshot_frame(self, table: str, entry: dict[str, Any], schema: StructType) -> DataFrame:
        """The files of snapshot ``entry`` read with ``schema`` (see
        `read_snapshot`)."""
        found = self._locate(table, entry)
        if None in found:
            raise ValueError(
                f"snapshot {entry['version']} of '{table}' is no longer materialized "
                f"({len(found[None])}/{len(entry['files'])} files retired and vacuumed)"
            )
        if not found:
            return self.spark.createDataFrame([], schema)
        # one read per root: Spark parses the Hive partition dirs of a
        # file list below a single basePath
        reads = [
            self.spark.read.format(self.table_format)
            .schema(schema)
            .option("basePath", root)
            .load([os.path.join(root, rel) for rel in rels])
            for root, rels in found.items()
        ]
        return functools.reduce(DataFrame.union, reads)

    def version_at(self, table: str, timestamp) -> int:
        """Resolve Delta ``TIMESTAMP AS OF`` semantics: the newest
        snapshot committed at or before ``timestamp`` (a datetime or
        a ``'YYYY-MM-DD HH:MM:SS'`` string — the journal's format, so
        plain string comparison is chronological)."""
        ts = (
            timestamp.strftime("%Y-%m-%d %H:%M:%S")
            if isinstance(timestamp, datetime)
            else str(timestamp)
        )
        history = self.snapshot_history(table)
        eligible = [h for h in history if h["at"] <= ts]
        if not eligible:
            first = history[0]["at"] if history else "<none>"
            raise ValueError(
                f"no snapshot of '{table}' at or before {ts} (first is {first})"
            )
        return eligible[-1]["version"]

    def read_snapshot_at(self, table: str, timestamp) -> DataFrame:
        """``SELECT ... TIMESTAMP AS OF`` — read the table as of a wall
        clock time (resolved against the snapshot journal's commit
        times, then served by `read_snapshot`)."""
        return self.read_snapshot(table, self.version_at(table, timestamp))

    def table_changes(
        self,
        table: str,
        from_version: int,
        to_version: int | None = None,
        key_cols: Sequence[str] = (),
    ) -> DataFrame:
        """Row-level change feed between two journaled snapshots — the
        Delta CDF (``table_changes``) role (round 12): what a
        downstream incremental consumer replays instead of re-reading
        the whole table. Classifies by ``key_cols`` (must identify a
        row uniquely within each snapshot):

        * key only in ``to``   → one ``insert`` row
        * key only in ``from`` → one ``delete`` row (pre-image values)
        * key in both, any non-key column changed (null-safe struct
          compare) → ``update_preimage`` + ``update_postimage`` rows

        Returns all table columns plus ``_change_type``. Plan: ONE
        full-outer key join of the two snapshot reads (each side
        shuffles once on the key); unchanged keys drop on the
        null-safe struct equality before the explode, so the output
        is change-sized, not table-sized — the property that makes
        CDF cheaper than diffing at 100 TB."""
        if not key_cols:
            raise ValueError("table_changes requires key_cols")
        old = self.read_snapshot(table, from_version)
        new = self.read_snapshot(table, to_version)
        cols = new.columns
        if old.columns != cols:
            raise ValueError(
                f"snapshot schemas differ: {old.columns} vs {cols}"
            )
        keys = list(key_cols)
        nonkey = [c for c in cols if c not in keys]
        o = old.select(*keys, F.struct(*nonkey).alias("__ov"))
        n = new.select(*keys, F.struct(*nonkey).alias("__nv"))
        j = o.join(n, keys, "full_outer")
        entry = lambda t, v: F.struct(  # noqa: E731
            F.lit(t).alias("t"), v.alias("v")
        )
        ov, nv = F.col("__ov"), F.col("__nv")
        changes = (
            F.when(ov.isNull() & nv.isNotNull(), F.array(entry("insert", nv)))
            .when(ov.isNotNull() & nv.isNull(), F.array(entry("delete", ov)))
            .when(
                ~ov.eqNullSafe(nv),
                F.array(
                    entry("update_preimage", ov), entry("update_postimage", nv)
                ),
            )
            # unchanged keys: no otherwise → NULL array, and explode
            # of NULL emits nothing — the change-sized-output property
        )
        exploded = j.select(*keys, F.explode(changes).alias("__e"))
        return exploded.select(
            *keys,
            *[F.col(f"__e.v.{c}").alias(c) for c in nonkey],
            F.col("__e.t").alias("_change_type"),
        )

    def vacuum_snapshots(self, table: str, keep_last: int = 2) -> int:
        """Delete the retired files that none of the newest
        ``keep_last`` snapshots names (Delta VACUUM semantics: history
        older than the horizon stops being readable; the journal keeps
        the metadata). Returns the number of older versions that stopped
        being readable."""
        history = self.snapshot_history(table)
        horizon = max(len(history) - keep_last, 0) if keep_last > 0 else len(history)
        readable = [e for e in history[:horizon] if None not in self._locate(table, e)]
        retired = self._retired_root(table)
        kept = {
            os.path.join(retired, rel)
            for e in history[horizon:]
            for rel in self._locate(table, e).get(retired, [])
        }
        for dirpath, _, files in os.walk(retired):
            for name in files:
                if os.path.join(dirpath, name) not in kept:
                    os.remove(os.path.join(dirpath, name))
        return sum(None in self._locate(table, e) for e in readable)

    def snapshot_changes(
        self,
        table: str,
        from_version: int,
        to_version: int,
        keys: Sequence[str],
        compare_cols: Sequence[str] | None = None,
    ) -> DataFrame:
        """Change feed between two recorded snapshots (Delta
        `readChangeFeed` analogue on plain parquet): the keyed
        inserted/deleted/changed delta of version ``from_version`` →
        ``to_version``, computed by `operators/cdc.table_diff` over the
        two manifest reads. Output is the (small) delta, never the
        snapshots; both versions must still be materialized."""
        from cbts_datalake_synnex_spark.operators.cdc import table_diff

        return table_diff(
            self.read_snapshot(table, from_version),
            self.read_snapshot(table, to_version),
            keys=keys,
            compare_cols=compare_cols,
        )

    def restore_snapshot(self, table: str, version: int) -> int:
        """RESTORE: make snapshot ``version`` the table's current
        content again (Delta `RESTORE TABLE ... TO VERSION` parity).
        Rewrites the table from the snapshot's files — the restore
        itself is journaled as a NEW version (history is append-only;
        a restore never falsifies what past versions contained).
        Returns the new current version number."""
        entry, schema = self._snapshot_entry(table, version)
        snap = self._snapshot_frame(table, entry, schema)
        self.write_curated(
            table,
            snap,
            mode="overwrite",
            partition_cols=[c for c in entry["partition_cols"] if c in snap.columns],
        )
        return self.snapshot_history(table)[-1]["version"]

    def _scratch_dir(self, name: str) -> str:
        return os.path.join(self.zones.root, "_scratch", f"{name}_{uuid.uuid4().hex[:8]}")

    def clone_table(
        self, src_table: str, dst_table: str, version: int | None = None
    ) -> str:
        """SHALLOW CLONE (Delta ``CREATE TABLE ... SHALLOW CLONE``
        parity on plain parquet): register ``dst_table`` over hard
        links to the source snapshot's data files — zero bytes copied,
        one inode per file. The dev/test-branch primitive: experiment
        on a full-size table for the cost of its metadata.

        Divergence is free and safe in both directions because parquet
        parts are immutable: appends to the clone land new files in its
        own location; an overwrite of the clone retires only the
        clone's own links (the source keeps its own), and vice versa.
        The clone links each file from where it is now, live or
        retired. The clone starts its own snapshot/schema journal at
        v1. Returns the clone's location.
        """
        entry, schema = self._snapshot_entry(src_table, version)
        snap = self._snapshot_frame(src_table, entry, schema)  # validates materialization
        dst_loc = self.zones.curated(dst_table)
        if os.path.exists(dst_loc) and os.listdir(dst_loc):
            raise ValueError(f"clone destination not empty: {dst_loc}")
        linked = []
        for root, rels in self._locate(src_table, entry).items():
            for rel in rels:
                dst = os.path.join(dst_loc, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                try:
                    os.link(os.path.join(root, rel), dst)
                except OSError:
                    shutil.copy2(os.path.join(root, rel), dst)  # cross-device fallback
                linked.append(f"file://{dst}")
        pcols = entry.get("partition_cols") or []
        qdst = self.qualified(dst_table)
        self._create_table(qdst, snap.schema, pcols, {}, location=dst_loc)
        if pcols:
            self.recover_partitions(dst_table)
        self._journal_snapshot(
            dst_table, linked, (dst_loc, pcols), "clone", None, self.snapshot_history(dst_table)
        )
        return dst_loc

    def _create_table(
        self,
        qtable: str,
        schema,
        partition_cols: Sequence[str],
        props: dict[str, str],
        location: str | None = None,
    ) -> None:
        """``CREATE TABLE`` with ``schema``'s columns (those in
        ``partition_cols`` as partition columns, in that order), the
        given table properties, and an external ``location`` if one is
        given (else a managed table)."""

        def cols(fields) -> str:
            return ", ".join(f"{quote(f.name)} {ddl_type(f.dataType)}" for f in fields)

        by_name = {f.name: f for f in schema.fields}
        ddl = (
            f"CREATE TABLE {qtable} "
            f"({cols(f for f in schema.fields if f.name not in partition_cols)}) "
            f"USING {self.table_format}"
        )
        if partition_cols:
            ddl += f" PARTITIONED BY ({cols(by_name[c] for c in partition_cols)})"
        if location:
            ddl += f" LOCATION '{location}'"
        if props:
            ddl += " TBLPROPERTIES (" + ", ".join(
                f"'{k}' = '{v.replace(chr(39), chr(39) * 2)}'" for k, v in props.items()
            ) + ")"
        self.spark.sql(ddl)

    def _evolve_schema(self, qtable: str, df: DataFrame) -> DataFrame:
        """K8 add-column evolution: new df columns → ALTER TABLE ADD
        COLUMNS; missing df columns → filled null, so the append is
        positionally safe (the unionByName discipline of SURVEY §2.6 U1).
        One projection, aligned to the table schema read once (again
        only after an ADD COLUMNS, which lands before the partition
        columns)."""
        target = self.spark.table(qtable).schema
        existing = {f.name.lower() for f in target.fields}
        fields = df.schema.fields
        new_fields = [f for f in fields if f.name.lower() not in existing]
        if new_fields:
            col_defs = ", ".join(f"{quote(f.name)} {ddl_type(f.dataType)}" for f in new_fields)
            self.spark.sql(f"ALTER TABLE {qtable} ADD COLUMNS ({col_defs})")
            target = self.spark.table(qtable).schema
        return _aligned(df, [f.name for f in fields], target.fields)

    # ------------------------------------------------------------------
    # §3.3 — staging → curated job (src/glue/staging_to_curated.py)
    def curate(
        self,
        table: str,
        partition_cols: Sequence[str] | None = None,
        mode: str = "append",
        quarantine: bool = False,
    ) -> int:
        """S1 grouped recursive JSON scan → A1 emptiness gate → typed
        chain → K2 schema-evolving partitioned write. Returns the
        table's row count after the write (0, and no write, when
        staging is missing or holds no non-null value). The rows this
        batch wrote are the ``rows_written`` of its `snapshot_history`
        entry.

        The reference's DynamicFrame + groupFiles:'inPartition',
        groupSize:100MB (``staging_to_curated.py:85-95``) maps to
        ``spark.read.json(recursiveFileLookup=true)`` with Spark's
        built-in file bin-packing (``spark.sql.files.maxPartitionBytes``,
        set in session.py); schema inference replaces the DynamicFrame's
        per-record schema.

        ``quarantine=True`` archives unparseable lines to the quarantine
        zone (gzipped text, replayable) instead of silently dropping
        them; the parsed rows curate identically either way. One extra
        pass over the cached parse — use it when staging input is
        untrusted enough that "how many lines did we lose" matters.
        """
        path = self.zones.staging(table)
        if not os.path.exists(path):
            return 0  # empty-input short-circuit, staging_to_curated.py:97-101
        reader = (
            self.spark.read.option("recursiveFileLookup", "true")
            .option("compression", "gzip")
        )
        if quarantine:
            # PERMISSIVE + corrupt-record column: split instead of drop.
            # Spark requires the parsed frame be cached before the
            # corrupt column can be filtered (it is not derivable from
            # the pruned re-parse).
            df = (
                reader.option("mode", "PERMISSIVE")
                .option("columnNameOfCorruptRecord", "_corrupt_record")
                .json(path)
            )
            if "_corrupt_record" in df.columns:
                df = df.cache()
                bad = df.filter(F.col("_corrupt_record").isNotNull()).select(
                    F.col("_corrupt_record").alias("value")
                )
                if bad.limit(1).count() > 0:
                    (
                        bad.write.mode("append")
                        .option("compression", "gzip")
                        .text(os.path.join(self.zones.quarantine(table), uuid.uuid4().hex))
                    )
                df = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
        else:
            # DynamicFrame semantics: unparseable records are skipped,
            # not nulled into the curated zone (a poisoned staging line
            # must not become an all-null curated row).
            df = reader.option("mode", "DROPMALFORMED").json(path)
        df = apply_ingest_policy(df, stringify=False)
        # Emptiness gate with no job of its own (SURVEY §4.1): the
        # policy's NA-drop ("all") keeps only columns holding a non-null
        # value, so an empty or all-null batch has no columns left.
        if not df.columns:
            return 0
        self.write_curated(table, df, mode=mode, partition_cols=partition_cols)
        return self.spark.table(self.qualified(table)).count()

    # ------------------------------------------------------------------
    # §3.2 end-to-end — API fetch → raw archive → ingest to curated
    def ingest_from_api(
        self,
        table: str,
        po_numbers: Iterable[str],
        transport,
        mode: str = "overwrite",
        concurrency: int = 5,
        user: str = "",
        password: str = "",
    ) -> DataFrame:
        """Entry point 2 (``get_po_status``, SURVEY §3.2): fan-out fetch
        the status documents for ``po_numbers`` on executors (S5/T3),
        archive the payload to the raw zone (K4), then run the ingest
        chain into the curated table — the composition of
        ``src/purchase_orders.py:41-88`` minus the Step Functions glue.
        """
        from cbts_datalake_synnex_spark.sources.api_source import fan_out_fetch

        reqs = self._string_frame("po_number", list(po_numbers))
        fetched = fan_out_fetch(
            reqs, transport, concurrency=concurrency, user=user, password=password
        ).cache()  # one fan-out feeds both the raw archive and the ingest
        self.save_to_raw(table, fetched)
        out = self.ingest_records(table, fetched, mode=mode)
        fetched.unpersist()
        return out

    # ------------------------------------------------------------------
    # S3/S4 — SQL + views (the Athena role)
    def sql(self, query: str) -> DataFrame:
        """spark.sql with the engine database as default — the whole of
        Athena (src/purchase_orders.py:23-24) collapses to this.

        Statements Spark SQL refuses on plain parquet keep their Delta
        form: the Delta utility statements match a pattern each, and a
        statement that starts with DELETE, UPDATE, MERGE or ALTER, or
        holds ``AS OF``, dispatches on its parsed plan. Every other
        statement goes to spark.sql untouched. DML returns a one-row
        metrics DataFrame (``affected_rows``), like Delta's output."""
        q = query.strip().rstrip(";")
        out = self._dispatch_sql_utility(q)
        if out is None and _PARSED_SQL.search(q):
            out = self._dispatch_sql_plan(q, self._parse_sql(q))
        if out is not None:
            return out
        self.spark.catalog.setCurrentDatabase(self.database)
        return self.spark.sql(query)

    def _parse_sql(self, q: str):
        """Spark's unresolved logical plan of ``q`` (a JVM object)."""
        return self.spark._jsparkSession.sessionState().sqlParser().parsePlan(q)

    def _dml_table(self, ref: str | Sequence[str]) -> str:
        """Resolve a possibly db-qualified DML table reference (dotted
        text or name parts) to a bare table name in the engine
        database. A statement naming any OTHER database is refused
        instead of being silently rerouted to the engine database's
        same-named table (a wrong-table destructive operation)."""
        parts = ref.split(".") if isinstance(ref, str) else list(ref)
        if len(parts) > 2:
            raise ValueError(f"unsupported table reference in DML: {'.'.join(parts)!r}")
        if len(parts) == 2 and parts[0].lower() != self.database.lower():
            raise ValueError(
                f"DML dispatch targets database {parts[0]!r} but this engine "
                f"manages {self.database!r}; use that database's engine (row-"
                "level DML on parquet is engine-managed, not plain Spark SQL)"
            )
        return parts[-1]

    def _plan_table(self, node) -> str:
        """The engine table a parsed relation names (no alias allowed)."""
        if _jclass(node) not in ("UnresolvedRelation", "UnresolvedTable"):
            raise ValueError(f"unsupported DML target: {node.toString()}")
        return self._dml_table(_scala_list(node.multipartIdentifier()))

    def _dispatch_sql_utility(self, q: str) -> DataFrame | None:
        """Delta utility statements: Spark's grammar has none of them
        (OPTIMIZE does not parse; ``DESCRIBE HISTORY t`` parses as a
        DESCRIBE of a column), so each keeps its one-line pattern."""
        m = re.match(
            r"(?is)^OPTIMIZE\s+([A-Za-z0-9_.]+)"
            r"(?:\s+ZORDER\s+BY\s*\(\s*([A-Za-z0-9_,\s`]+?)\s*\))?$",
            q,
        )
        if m:
            cols = [c.strip().strip("`") for c in m.group(2).split(",")] if m.group(2) else None
            n = self.compact_table(
                self._dml_table(m.group(1)), cluster_by=cols, zorder=bool(cols and len(cols) >= 2)
            )
            return self.spark.createDataFrame([(n,)], "n_files bigint")
        m = re.match(
            r"(?is)^VACUUM\s+([A-Za-z0-9_.]+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?$", q
        )
        if m:
            keep = int(m.group(2)) if m.group(2) else 2
            n = self.vacuum_snapshots(self._dml_table(m.group(1)), keep_last=keep)
            return self.spark.createDataFrame([(n,)], "versions_reclaimed bigint")
        m = re.match(r"(?is)^DESCRIBE\s+HISTORY\s+([A-Za-z0-9_.]+)$", q)
        if m:
            hist = [
                (h["version"], h["at"], len(h["files"]), ",".join(h.get("partition_cols") or []),
                 h["operation"], h["rows_written"])
                for h in self.snapshot_history(self._dml_table(m.group(1)))
            ]
            return self.spark.createDataFrame(
                hist,
                "version int, at string, n_files int, partition_cols string, "
                "operation string, rows_written bigint",
            )
        m = re.match(
            r"(?is)^RESTORE\s+TABLE\s+([A-Za-z0-9_.]+)\s+TO\s+"
            r"(VERSION|TIMESTAMP)\s+AS\s+OF\s+('[^']*'|\d+)$",
            q,
        )
        if m:
            table = self._dml_table(m.group(1))
            kind, spec = m.group(2).upper(), m.group(3).strip("'")
            version = int(spec) if kind == "VERSION" else self.version_at(table, spec)
            n = self.restore_snapshot(table, version)
            return self.spark.createDataFrame([(n,)], "new_version bigint")
        m = re.match(r"(?is)^DESCRIBE\s+DETAIL\s+([A-Za-z0-9_.]+)$", q)
        if m:
            return self.describe_detail(self._dml_table(m.group(1)))
        m = re.match(
            r"(?is)^CREATE\s+TABLE\s+([A-Za-z0-9_.]+)\s+SHALLOW\s+CLONE\s+"
            r"([A-Za-z0-9_.]+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?$",
            q,
        )
        if m:
            dst, src = self._dml_table(m.group(1)), self._dml_table(m.group(2))
            version = int(m.group(3)) if m.group(3) else None
            self.clone_table(src, dst, version=version)
            n = self.spark.table(self.qualified(dst)).count()
            return self.spark.createDataFrame([(n,)], "cloned_rows bigint")
        return None

    def _dispatch_sql_plan(self, q: str, plan) -> DataFrame | None:
        """Dispatch on the class of ``q``'s parsed ``plan``; conditions
        and SET values are their exact text in ``q`` (`_origin_text`).
        None leaves the statement to spark.sql (ALTER TABLE ADD
        COLUMNS, a query whose ``AS OF`` text is data)."""
        kind = _jclass(plan)
        if kind == "DeleteFromTable":
            n = self.delete_rows(self._plan_table(plan.table()), _origin_text(q, plan.condition()))
            return self.spark.createDataFrame([(n,)], "affected_rows bigint")
        if kind == "UpdateTable":
            where = _option_text(q, plan.condition()) or "true"
            n = self.update_rows(self._plan_table(plan.table()), where, _assignments(q, plan))
            return self.spark.createDataFrame([(n,)], "affected_rows bigint")
        if kind == "MergeIntoTable":
            return self._dispatch_sql_merge(q, plan)
        # DROP/RENAME COLUMN: Spark SQL refuses both on v1 parquet
        # tables; other ALTER forms (ADD COLUMNS, SET TBLPROPERTIES)
        # fall through to spark.sql, which handles them natively
        if kind == "DropColumns":
            cols = [".".join(_scala_list(f.name())) for f in _scala_list(plan.columnsToDrop())]
            if len(cols) != 1:
                raise ValueError("ALTER TABLE DROP COLUMN takes one column")
            n = self.drop_column(self._plan_table(plan.table()), cols[0])
            return self.spark.createDataFrame([(n,)], "n_files bigint")
        if kind == "RenameColumn":
            col = ".".join(_scala_list(plan.column().name()))
            n = self.rename_column(self._plan_table(plan.table()), col, plan.newName())
            return self.spark.createDataFrame([(n,)], "n_files bigint")
        return self._dispatch_sql_time_travel(q, plan)

    def _dispatch_sql_time_travel(self, q: str, plan) -> DataFrame | None:
        """``SELECT ... FROM t VERSION AS OF 3`` / ``FROM t TIMESTAMP
        AS OF '2024-05-17 12:00:00'`` (Delta time-travel SQL): each
        parsed travel relation, in CTEs and subqueries too, becomes a
        temp view over the snapshot read, whose name replaces its span
        of ``q`` (table name through the ``AS OF`` clause); so versions
        of one table can join. None when ``plan`` has no travel."""
        spans = []
        for node in _plan_nodes(plan):
            if _jclass(node) != "RelationTimeTravel":
                continue
            rel = node.relation()
            table = self._plan_table(rel)
            if node.version().isDefined():
                version = int(node.version().get())
            else:
                expr = _origin_text(q, node.timestamp().get())
                ts = self.spark.sql(f"SELECT CAST(({expr}) AS STRING)").first()[0]
                version = self.version_at(table, ts)
            tag = f"__tt_{table}_v{version}"
            self.read_snapshot(table, version).createOrReplaceTempView(tag)
            spans.append((_span(rel)[0], _span(node)[1], tag))
        if not spans:
            return None
        for start, stop, tag in sorted(spans, reverse=True):
            q = f"{q[:start]}{tag}{q[stop:]}"
        self.spark.catalog.setCurrentDatabase(self.database)
        return self.spark.sql(q)

    def _dispatch_sql_merge(self, q: str, plan) -> DataFrame:
        """Delta-form ``MERGE INTO t [AS t] USING src|(subquery) [AS s]
        ON t.k = s.k [AND ...]`` → `merge_rows`, with WHEN MATCHED [AND
        cond] THEN DELETE, WHEN MATCHED THEN UPDATE SET * | SET
        assignments, WHEN NOT MATCHED [AND cond] THEN INSERT *. ON must
        be an equi-key conjunction (the file-prunable MERGE shape).
        Anything else, WHEN NOT MATCHED BY SOURCE included, raises
        ValueError."""
        target, source = plan.targetTable(), plan.sourceTable()
        if _jclass(target) == "SubqueryAlias":
            if target.alias().lower() != "t":
                raise ValueError(f"MERGE target alias must be t: {target.alias()!r}")
            target = target.child()
        table = self._plan_table(target)
        if _jclass(source) == "SubqueryAlias":
            if source.alias().lower() != "s":
                raise ValueError(f"MERGE source alias must be s: {source.alias()!r}")
            source = source.child()
        keys = _merge_keys(q, plan.mergeCondition())
        if _scala_list(plan.notMatchedBySourceActions()):
            raise ValueError("WHEN NOT MATCHED BY SOURCE is not supported")
        upd: Any = None
        dele: Any = None
        ins: Any = False
        for action in _scala_list(plan.matchedActions()):
            kind, cond = _jclass(action), _option_text(q, action.condition())
            if kind == "DeleteAction" and dele is None:
                dele = cond or True
            elif kind == "UpdateStarAction" and upd is None and cond is None:
                upd = "all"
            elif kind == "UpdateAction" and upd is None and cond is None:
                upd = _assignments(q, action, "t")
            else:
                raise ValueError(
                    "WHEN MATCHED supports one [AND cond] DELETE and one "
                    f"unconditional UPDATE: {action.toString()}"
                )
        for action in _scala_list(plan.notMatchedActions()):
            if _jclass(action) != "InsertStarAction" or ins is not False:
                raise ValueError("WHEN NOT MATCHED supports only one INSERT *")
            ins = _option_text(q, action.condition()) or True
        # a relation reads as in a query: temp views first, then this
        # database; a subquery runs through `sql`, time travel included
        start, stop = _span(source)
        text = q[start:stop]
        src = self.sql(f"SELECT * FROM {text}" if _jclass(source) == "UnresolvedRelation" else text)
        # Delta MERGE default: NO schema auto-merge — source columns
        # absent from the target (op codes, condition helpers) are
        # condition-only and never widen the table.
        tcols = {c.lower() for c in self.spark.table(self.qualified(table)).columns}
        exclude = [c for c in src.columns if c.lower() not in tcols]
        res = self.merge_rows(
            table,
            src,
            keys,
            when_matched_update=upd,
            when_matched_delete=dele,
            when_not_matched_insert=ins,
            exclude_cols=exclude,
        )
        return self.spark.createDataFrame(
            [(res["updated"], res["deleted"], res["inserted"])],
            "updated bigint, deleted bigint, inserted bigint",
        )

    def create_view(self, name: str, query: str) -> None:
        # S4 — e.g. v_synnex_po_numbers (src/purchase_orders.py:22)
        self.sql(f"CREATE OR REPLACE VIEW {self.qualified(name)} AS {query}")

    def qualified(self, table: str) -> str:
        return f"{self.database}.{table}"

    # ------------------------------------------------------------------
    # K9 — partition discovery for external (non-managed) tables
    def recover_partitions(self, table: str) -> None:
        # MSCK REPAIR TABLE, staging_to_curated.py:170-171
        self.spark.sql(f"MSCK REPAIR TABLE {self.qualified(table)}")

    # ------------------------------------------------------------------
    # CBO statistics — the engine-internal replacement for the Glue
    # catalog's table stats. At 100 TB the optimizer's join-order and
    # broadcast decisions are only as good as its size/NDV estimates;
    # ANALYZE after each curate batch keeps them honest.
    def analyze_table(self, table: str, columns: Sequence[str] | None = None) -> dict[str, str]:
        """Run ``ANALYZE TABLE`` (optionally per-column NDV/min/max
        histograms) and return the recorded statistics line. Column
        stats feed Catalyst's CBO (join reordering, broadcast
        selection); table stats alone fix size estimates."""
        qtable = self.qualified(table)
        if columns:
            cols = ", ".join(quote(c) for c in columns)
            self.spark.sql(f"ANALYZE TABLE {qtable} COMPUTE STATISTICS FOR COLUMNS {cols}")
        else:
            self.spark.sql(f"ANALYZE TABLE {qtable} COMPUTE STATISTICS")
        rows = self.spark.sql(f"DESCRIBE TABLE EXTENDED {qtable}").collect()
        return {
            r["col_name"]: r["data_type"]
            for r in rows
            if r["col_name"] in ("Statistics", "Table", "Database")
        }

    # ------------------------------------------------------------------
    # Join-size pre-flight (round 11) — the sketch-backed sibling of
    # the scan budget (plans/budget.py): ANALYZE keeps Catalyst's CBO
    # honest, but "how many rows will THIS equi-join emit" needs a
    # frequency profile, not just NDV. A count-min sketch per join
    # column (Cormode & Muthukrishnan 2005 §4.2) answers it from two
    # KB-sized tables — no scan of either side at planning time, the
    # only posture that works when each side is tens of TB.
    def analyze_join_column(
        self,
        table: str,
        column: str,
        depth: int = 4,
        width: int = 1024,
        salt: str = "cms",
    ) -> None:
        """Build (or rebuild) the persisted join-column sketches of
        ``table.column`` over the whole table — the `analyze_table`
        discipline applied to join-size estimation: run after each
        curate batch. It forgets the column's fold ledger and folds, so
        this is `fold_join_column_stats`' full build: ONE scan of the
        column into three KB-sized tables, a depth×width count-min
        sketch ``{table}_cms_{column}`` (how often a key occurs), an HLL
        ``{table}_hll_{column}`` (how many distinct keys) and a KMV
        ``{table}_kmv_{column}`` (how many keys two columns share).
        Later folds merge appended files into this build."""
        self._set_sidecar(_COLUMN_STATS, f"{table}.{column}", None)
        self.fold_join_column_stats(table, column, depth, width, salt)

    def fold_join_column_stats(
        self,
        table: str,
        column: str,
        depth: int = 4,
        width: int = 1024,
        salt: str = "cms",
    ) -> str:
        """Bring the persisted sketches of ``table.column`` up to the
        table's live files; the only writer of the ``{table}_cms_``,
        ``_hll_`` and ``_kmv_{column}`` tables. The column's ledger in
        ``_column_stats.json`` records the files and (depth, width,
        salt) of the last fold, and the appended-files rule
        (`_appended_files`) decides what runs:

        * ``full`` — no ledger entry, a different (depth, width, salt),
          or a recorded file is gone (an overwrite, DML or compaction
          voids mergeability): the three sketches are built over the
          whole table;
        * ``incremental`` — files were only appended: the sketches are
          built over the appended files and merged into the stored
          ones by each sketch's rule — CMS adds counters, HLL takes the
          union (`hll_union_agg`), KMV keeps the k smallest hashes — so
          a nightly curate pays in proportion to the delta, not the
          table;
        * ``noop`` — nothing was appended.

        Values hash as strings (the md5 bucket idiom), so a cross-type
        join estimates correctly iff both sides store the same string
        forms; NULL keys are left out, as they never match in an
        equi-join. Every CMS row carries its (depth, width, salt) and
        every KMV row its (k, salt), so the estimators refuse
        incompatible pairs. HLL answers |A ∪ B| losslessly but |A ∩ B|
        only by inclusion-exclusion, whose error is that of the union;
        KMV's theta rule estimates the intersection directly from the
        hashes below min(θ_a, θ_b) (Dasgupta et al. 2016). The frames
        are KB-sized: each is collected before it overwrites its
        table, which the merge reads."""
        from cbts_datalake_synnex_spark.operators import sketches

        key, spec = f"{table}.{column}", [int(depth), int(width), salt]
        ledger = self._sidecar(_COLUMN_STATS).get(key)
        how, appended, live = self._appended_files(
            table, ledger["files"] if ledger and ledger["spec"] == spec else None
        )
        if how == "noop":
            return how
        qtable = self.qualified(table)
        rows = (
            self.spark.table(qtable)
            if how == "full"
            else self._read_files_as_table_schema(qtable, appended)
        )
        items = rows.filter(F.col(column).isNotNull()).select(
            F.col(column).cast("string").alias("__item")
        )
        cms = sketches.count_min_build(
            items, "__item", depth=int(depth), width=int(width), salt=salt
        )
        hll = items.agg(F.hll_sketch_agg("__item").alias("hll"))
        kmv = sketches.kmv_build(items, "__item", k=256, salt="kmv")
        if how == "incremental":

            def stored(kind: str, *cols: str) -> DataFrame:
                return self.spark.table(self.qualified(f"{table}_{kind}_{column}")).select(*cols)

            cms = (
                stored("cms", "d", "bucket", "cnt")
                .unionByName(cms)
                .groupBy("d", "bucket")
                .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            )
            hll = stored("hll", "hll").unionByName(hll).agg(F.hll_union_agg("hll").alias("hll"))
            kmv = sketches.kmv_merge(stored("kmv", "rank", "h"), kmv, k=256)
        for kind, frame in (
            ("cms", cms.select(
                "d", "bucket", "cnt",
                F.lit(int(depth)).alias("depth"),
                F.lit(int(width)).alias("width"),
                F.lit(salt).alias("salt"),
            )),
            ("hll", hll),
            ("kmv", kmv.select("rank", "h", F.lit(256).alias("k"), F.lit("kmv").alias("salt"))),
        ):
            frame = self.spark.createDataFrame(frame.collect(), frame.schema)
            frame.write.format("parquet").mode("overwrite").saveAsTable(
                self.qualified(f"{table}_{kind}_{column}")
            )
        self._set_sidecar(_COLUMN_STATS, key, {"files": live, "spec": spec})
        return how

    def _appended_files(
        self, table: str, recorded: list[str] | None
    ) -> tuple[str, list[str], list[str]]:
        """The appended-files rule of the incremental tier
        (`fold_join_column_stats`, `create_incremental_view`): compare
        ``table``'s live files (`_live_files`: the snapshot manifest,
        or a listing for a table the engine never journaled) with the
        files ``recorded`` at the last build (``None``: no usable
        build). Returns (how, appended files, live files): ``full``
        when nothing is recorded or a recorded file is gone — the
        stored state then holds rows the table no longer has —,
        ``incremental`` when files were appended, else ``noop``."""
        live = sorted(self._live_files(table))
        seen = set(recorded or ())
        if recorded is None or not seen <= set(live):
            return "full", live, live
        appended = [f for f in live if f not in seen]
        return ("incremental" if appended else "noop"), appended, live

    def _sidecar(self, name: str) -> dict[str, Any]:
        """The JSON sidecar ``name`` under the lake root (``{}`` before
        its first write): `_COLUMN_STATS`, `_MVIEWS` or `_INDEXES`."""
        path = os.path.join(self.zones.root, name)
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f)

    def _set_sidecar(self, name: str, key: str, value: Any) -> None:
        """Set one entry of the sidecar ``name`` (``None`` removes it),
        under the engine's lock so concurrent writers keep each other's
        entries; the file is replaced whole, so a reader never sees a
        partial one. A catalog-only lake may get here before any zone
        write created the root."""
        path = os.path.join(self.zones.root, name)
        with self._sidecar_lock:
            data = self._sidecar(name)
            if value is None:
                data.pop(key, None)
            else:
                data[key] = value
            os.makedirs(self.zones.root, exist_ok=True)
            tmp = f"{path}.{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as f:
                json.dump(data, f, indent=2)
            os.replace(tmp, path)

    def _stat_table(self, table: str, kind: str, column: str) -> DataFrame:
        """The persisted statistic ``{table}_{kind}_{column}``; raises,
        naming the analyze call that builds it, when it is missing."""
        name = self.qualified(f"{table}_{kind}_{column}")
        if not self.spark.catalog.tableExists(name):
            what, analyze = _STAT_KINDS[kind]
            raise ValueError(
                f"no {what} for {table}.{column}; run {analyze}({table!r}, {column!r}) first"
            )
        return self.spark.table(name)

    def estimate_join_keys(self, t1: str, c1: str, t2: str, c2: str) -> dict:
        """Pre-flight distinct-key overlap: from the two persisted HLL
        sketches, |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B) by
        inclusion-exclusion (union = lossless HLL merge — the
        mergeable-summaries property), clamped at 0. Returns
        {"keys_a", "keys_b", "keys_union", "keys_overlap"} — all
        estimates; pair with :func:`estimate_join_size` (CMS) to
        separate "many keys overlap a little" from "few keys with
        huge frequencies". Raises if a sketch is missing."""
        a = self._stat_table(t1, "hll", c1).select(F.col("hll").alias("ha"))
        b = self._stat_table(t2, "hll", c2).select(F.col("hll").alias("hb"))
        row = (
            a.crossJoin(b)
            .select(
                F.hll_sketch_estimate("ha").alias("ka"),
                F.hll_sketch_estimate("hb").alias("kb"),
                F.hll_sketch_estimate(F.hll_union("ha", "hb")).alias("ku"),
            )
            .first()
        )
        ka, kb, ku = int(row["ka"]), int(row["kb"]), int(row["ku"])
        return {
            "keys_a": ka,
            "keys_b": kb,
            "keys_union": ku,
            "keys_overlap": max(0, ka + kb - ku),
        }

    def estimate_key_overlap_kmv(
        self, t1: str, c1: str, t2: str, c2: str
    ) -> DataFrame:
        """Pre-flight distinct-key set operations from the persisted
        KMV sketches — the theta-rule upgrade of
        :func:`estimate_join_keys`: |A ∩ B| comes DIRECTLY from the
        common hashes below min(θ_a, θ_b) (error ∝ the intersection),
        not from HLL inclusion-exclusion (error ∝ the union — which
        swamps small overlaps, exactly the case that decides
        broadcast-vs-shuffle and semi-join pre-filters). Returns a
        ONE-ROW DataFrame (est_keys_a, est_keys_b, est_keys_union,
        est_keys_overlap, n_kept_a, n_kept_b) computed entirely from
        the two ≤k-row sketch tables — neither data table is touched,
        and every value is md5-deterministic (SQL-restatable). Raises
        if a sketch is missing or the two were built with different
        (k, salt)."""
        from cbts_datalake_synnex_spark.operators.sketches import (
            kmv_estimate,
            kmv_intersect_estimate,
            kmv_merge,
        )

        frames, metas = [], []
        for table, column in ((t1, c1), (t2, c2)):
            sk = self._stat_table(table, "kmv", column)
            meta = sk.select("k", "salt").first()
            metas.append((int(meta["k"]), meta["salt"]) if meta else None)
            frames.append(sk.select("rank", "h"))
        if metas[0] and metas[1] and metas[0] != metas[1]:
            raise ValueError(
                f"KMV spec mismatch: {t1}.{c1} has (k,salt)={metas[0]} "
                f"but {t2}.{c2} has {metas[1]}; rebuild one side"
            )
        k = metas[0][0] if metas[0] else 256
        a, b = frames
        ea = kmv_estimate(a, k=k, est_col="est_keys_a").select(
            "est_keys_a", F.col("n_kept").alias("n_kept_a")
        )
        eb = kmv_estimate(b, k=k, est_col="est_keys_b").select(
            "est_keys_b", F.col("n_kept").alias("n_kept_b")
        )
        eu = kmv_estimate(kmv_merge(a, b, k=k), k=k, est_col="est_keys_union").select(
            "est_keys_union"
        )
        ei = kmv_intersect_estimate(a, b, k=k, est_col="est_keys_overlap").select(
            "est_keys_overlap"
        )
        return (
            ea.crossJoin(eb)
            .crossJoin(eu)
            .crossJoin(ei)
            .select(
                "est_keys_a",
                "est_keys_b",
                "est_keys_union",
                "est_keys_overlap",
                "n_kept_a",
                "n_kept_b",
            )
        )

    def estimate_join_size(self, t1: str, c1: str, t2: str, c2: str) -> int:
        """Pre-flight equi-join cardinality: the count-min
        inner-product estimate (one-sided — NEVER an underestimate)
        computed from the two persisted column sketches. Raises if
        either sketch is missing (`analyze_join_column` first) or the
        two were built with different (depth, width, salt) — the
        inner product is only meaningful on aligned bucket grids.
        Cost: one equi-join of two ≤depth×width frames; neither data
        table is touched."""
        from cbts_datalake_synnex_spark.operators import sketches

        frames, metas = [], []
        for table, column in ((t1, c1), (t2, c2)):
            sk = self._stat_table(table, "cms", column)
            meta = sk.select("depth", "width", "salt").first()
            if meta is None:  # empty source column -> empty sketch
                return 0
            frames.append(sk.select("d", "bucket", "cnt"))
            metas.append((int(meta["depth"]), int(meta["width"]), meta["salt"]))
        if metas[0] != metas[1]:
            raise ValueError(
                f"sketch spec mismatch: {t1}.{c1} has (depth,width,salt)="
                f"{metas[0]} but {t2}.{c2} has {metas[1]}; rebuild one side"
            )
        row = sketches.cms_inner_product(
            frames[0], frames[1], depth=metas[0][0]
        ).first()
        return int(row["est_join_size"])

    def analyze_membership(
        self,
        table: str,
        column: str,
        n_bits: int = 1 << 20,
        k: int = 4,
        salt: str = "bloom",
    ) -> None:
        """Persist the Bloom-filter position set for ``table.column``
        — the EXISTENCE leg of the pre-flight tier beside CMS ("how
        often") and HLL ("how many distinct"): run after each curate
        batch; ONE scan, a ≤ n_bits one-int-row table
        ``{table}_bloom_{column}``. The 100 TB role is admission
        pre-checks: "does this incoming batch contain any already-seen
        keys" answered against the KB/MB-sized set with zero false
        negatives, so a negative verdict safely skips the lake-side
        read and only (rare, FPR-bounded) positives pay the real
        check. Values hash as strings (the md5 bucket idiom — the
        `analyze_join_column` cross-type discipline applies); every
        row carries (n_bits, k, salt) so :func:`probe_membership`
        probes on the exact grid the filter was built on. The filter
        is stamped with the table's current snapshot version (its
        entry in ``_column_stats.json``): `_enforce_unique` trusts the
        zero-false-negative contract ONLY while the stamp matches, so
        a non-append mutation (overwrite, merge, restore, sync) that
        changes the key set without folding into the filter degrades
        the fast path to the exact scan instead of admitting
        duplicates (ADVICE r12)."""
        from cbts_datalake_synnex_spark.operators import sketches

        if not 1 <= int(k) <= 4:
            raise ValueError(
                f"k={k}: one 128-bit md5 funds at most 4 slices (1 <= k <= 4)"
            )
        src = self.spark.table(self.qualified(table))
        bits = sketches.bloom_build(
            src, column, n_bits=int(n_bits), k=int(k), salt=salt
        ).select(
            "pos",
            F.lit(int(n_bits)).alias("n_bits"),
            F.lit(int(k)).alias("k"),
            F.lit(salt).alias("salt"),
        )
        bits.write.format("parquet").mode("overwrite").saveAsTable(
            self.qualified(f"{table}_bloom_{column}")
        )
        self._set_sidecar(
            _COLUMN_STATS, f"{table}_bloom_{column}", self._current_snapshot_version(table)
        )

    def probe_membership(
        self, table: str, column: str, probe: DataFrame, probe_col: str
    ) -> DataFrame:
        """Probe the persisted Bloom filter: one ``bloom_member``
        verdict per distinct non-NULL probe key, computed against the
        broadcast position set on the (n_bits, k, salt) grid stored
        with it — ``{table}.{column}`` itself is never read. False
        negatives are impossible (a present key's own build set
        exactly the probed bits); a positive is "maybe — pay the real
        check". Raises if the filter is missing; an EMPTY filter
        (built over an all-NULL/empty column) correctly answers False
        everywhere. Returns (probe_col, bloom_member)."""
        from cbts_datalake_synnex_spark.operators import sketches

        bits = self._stat_table(table, "bloom", column)
        meta = bits.select("n_bits", "k", "salt").first()
        if meta is None:  # empty source column -> nothing is a member
            return (
                probe.filter(F.col(probe_col).isNotNull())
                .select(probe_col)
                .distinct()
                .select(probe_col, F.lit(False).alias("bloom_member"))
            )
        return sketches.bloom_probe(
            bits.select("pos"),
            probe,
            probe_col,
            n_bits=int(meta["n_bits"]),
            k=int(meta["k"]),
            salt=meta["salt"],
        )

    def analyze_column_histogram(
        self, table: str, column: str, n_buckets: int = 32
    ) -> None:
        """Persist an equi-depth histogram for a numeric column — the
        selectivity half of the `analyze_join_column` pre-flight tier
        (round 12): one exact-percentile scan lands ``n_buckets + 1``
        boundaries (6dp-rounded — the cross-engine grid) plus row/NULL
        counts as the KB-sized ``{table}_hist_{column}`` table. The
        classic optimizer-statistics object: answers range-predicate
        selectivity without touching the data again."""
        src = self.spark.table(self.qualified(table))
        fr = [i / int(n_buckets) for i in range(int(n_buckets) + 1)]
        row = src.agg(
            F.transform(
                F.percentile(F.col(column), F.array(*[F.lit(f) for f in fr]), F.lit(1)),
                lambda x: F.round(x, 6),
            ).alias("bounds"),
            F.count(F.col(column)).cast("bigint").alias("n_vals"),
            F.sum(F.col(column).isNull().cast("int")).cast("bigint").alias("n_nulls"),
        ).first()
        self.spark.createDataFrame(
            [(list(row["bounds"] or []), int(row["n_vals"]), int(row["n_nulls"] or 0),
              int(n_buckets))],
            "bounds array<double>, n_vals bigint, n_nulls bigint, n_buckets int",
        ).write.format("parquet").mode("overwrite").saveAsTable(
            self.qualified(f"{table}_hist_{column}")
        )

    def estimate_selectivity(
        self, table: str, column: str, op: str, value: float
    ) -> float:
        """Range-predicate selectivity from the persisted equi-depth
        histogram — ``op`` ∈ {'<=', '<', '>=', '>'} (the < / <= and
        > / >= pairs coincide under continuous interpolation; exact-
        boundary mass is sub-bucket). Each bucket holds exactly 1/n of
        the non-NULL rows BY CONSTRUCTION, so
        ``sel(col <= v) = Σ_i clamp((v − b_{i−1})/(b_i − b_{i−1}), 0, 1)/n``
        — linear interpolation inside the straddled bucket, a closed
        form over the KB boundary list (restated bit-for-bit by the
        registry oracle). Selectivity is of NON-NULL rows (NULL never
        passes a range predicate — the SQL rule). Worst-case error is
        one bucket (1/n) plus intra-bucket non-uniformity; heavy
        duplicate spikes widen it — pair with `skew_profile` when a
        column is spike-dominated. Neither data table is touched."""
        hist = self._stat_table(table, "hist", column)
        if op not in ("<=", "<", ">=", ">"):
            raise ValueError(f"op: {op!r}")
        row = hist.first()
        bounds, n = list(row["bounds"]), int(row["n_buckets"])
        if not bounds or row["n_vals"] == 0:
            return 0.0
        v = float(value)
        acc = 0.0
        for i in range(1, n + 1):
            lo, hi = bounds[i - 1], bounds[i]
            frac = 1.0 if hi == lo and v >= hi else (v - lo) / (hi - lo) if hi > lo else 0.0
            acc += min(1.0, max(0.0, frac))
        le = round(acc / n, 6)
        return le if op in ("<=", "<") else round(1.0 - le, 6)

    def preflight_join(
        self,
        t1: str,
        c1: str,
        t2: str,
        c2: str,
        budget_bytes: int | None = None,
        broadcast_bytes: int = 10 * 1024**2,
        skew_share: float = 0.2,
        round_dp: int = 6,
    ) -> dict:
        """ONE pre-flight report before a big equi-join (VERDICT r11
        #4 — the composition of the three certified legs):

        * **bytes** — `plans.budget.estimate_scan_bytes` per side
          (metadata-only file listing, post partition pruning), plus
          a ``bytes_within_budget`` claim when ``budget_bytes`` set;
        * **cardinality** — `estimate_join_size` (CMS inner product,
          never an underestimate) and `estimate_join_keys` (HLL
          inclusion-exclusion) from the persisted
          `analyze_join_column` sketches;
        * **skew** — a NEW sketch-only hot-key bound: the hottest
          key's frequency is ≤ its bucket count in EVERY depth row,
          so ``min_d(max_b cnt)`` over the persisted CMS is a
          one-sided upper bound on max key frequency — the
          `skew_profile` question answered WITHOUT scanning the data
          (the only posture that works at tens of TB per side).
          Exact row totals come free (each depth row sums the corpus).

        Deterministic recommendation (documented rule, not a
        heuristic black box): ``broadcast_a``/``broadcast_b`` when a
        side's scan bytes fit ``broadcast_bytes`` (smaller side wins,
        ties to b — a broadcast join has no shuffle to skew), else
        ``salt`` when either side's hot-share bound exceeds
        ``skew_share`` (pair with `operators.skew.salted_join`), else
        ``shuffle``. Cost: two KB-sketch reads + two file listings;
        NEITHER data table is touched."""
        from cbts_datalake_synnex_spark.plans import budget as _budget

        report: dict = {}
        sides: dict = {}
        for side, (t, c) in (("a", (t1, c1)), ("b", (t2, c2))):
            stats = (
                self._stat_table(t, "cms", c)
                .groupBy("d")
                .agg(F.sum("cnt").alias("tot"), F.max("cnt").alias("mx"))
                .agg(
                    F.max("tot").cast("bigint").alias("rows"),
                    F.min("mx").cast("bigint").alias("hot"),
                )
                .first()
            )
            rows = int(stats["rows"] or 0)
            hot = int(stats["hot"] or 0)
            nbytes = int(
                _budget.estimate_scan_bytes(self.spark.table(self.qualified(t)))
            )
            sides[side] = (rows, hot, nbytes)
            report[f"rows_{side}"] = rows
            report[f"bytes_{side}"] = nbytes
            report[f"hot_key_bound_{side}"] = hot
            report[f"hot_share_bound_{side}"] = (
                round(hot / rows, round_dp) if rows else 0.0
            )
        report["est_join_rows"] = self.estimate_join_size(t1, c1, t2, c2)
        report.update(self.estimate_join_keys(t1, c1, t2, c2))
        if budget_bytes is not None:
            report["bytes_within_budget"] = (
                report["bytes_a"] + report["bytes_b"] <= int(budget_bytes)
            )
        (rows_a, _hot_a, bytes_a), (rows_b, _hot_b, bytes_b) = (
            sides["a"], sides["b"],
        )
        if min(bytes_a, bytes_b) <= int(broadcast_bytes) and broadcast_bytes > 0:
            small = "a" if bytes_a < bytes_b else "b"
            report["recommendation"] = f"broadcast_{small}"
        elif (
            max(report["hot_share_bound_a"], report["hot_share_bound_b"])
            > float(skew_share)
        ):
            report["recommendation"] = "salt"
        else:
            report["recommendation"] = "shuffle"
        return report

    # ------------------------------------------------------------------
    # Materialized views — the precomputed-result tier Athena-based
    # stacks bolt on with CTAS (the reference's Athena workgroup serves
    # plain views only, src/purchase_orders.py:22). A recurring
    # dashboard query over 100 TB
    # should read a small materialized table refreshed per batch, not
    # re-scan the facts every run.
    def create_materialized_view(
        self,
        name: str,
        query: str,
        partition_cols: Sequence[str] | None = None,
    ) -> None:
        """CTAS + remembered definition. ``refresh_materialized_view``
        recomputes the full query each time. For single-table algebraic
        aggregates prefer ``create_incremental_view``, which merges only
        new source files per refresh."""
        self._set_sidecar(
            _MVIEWS, name, {"query": query, "partition_cols": list(partition_cols or [])}
        )
        self.refresh_materialized_view(name)

    # Incremental MV maintenance — algebraic + sketch aggregates. The
    # merge rule per agg function: how the stored per-group state
    # combines with a partial aggregate over newly-arrived rows. count
    # merges by SUM (a count of counts is wrong); avg is decomposed into
    # hidden sum/count state columns and re-derived after each merge;
    # approx_distinct keeps a DataSketches HLL sketch per group
    # (`hll_sketch_agg` state, `hll_union_agg` merge,
    # `hll_sketch_estimate` finalize) — THE pattern that makes
    # count-distinct incrementally maintainable at 100 TB, where exact
    # distinct state is as big as the data. Exact countDistinct /
    # median stay rejected — their state is not mergeable.
    _ALGEBRAIC_MERGE = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}

    def create_incremental_view(
        self,
        name: str,
        source_table: str,
        group_cols: Sequence[str],
        aggs: Sequence[tuple[str, str, str]],
        partition_cols: Sequence[str] | None = None,
    ) -> None:
        """Incrementally-maintained aggregate over one curated table.

        ``aggs`` is ``[(func, col, alias), ...]`` with func in
        sum/count/min/max/avg/approx_distinct (count accepts col="*";
        approx_distinct maintains a mergeable DataSketches HLL sketch
        per group — the sketch answer to count-distinct, which has no
        mergeable exact state). The view's definition in
        ``_mviews.json`` records the source table's live files at each
        refresh, and a refresh follows the appended-files rule of
        `fold_join_column_stats` (`_appended_files`): the first refresh,
        or one after a recorded file is gone (an overwrite, DML or
        compaction leaves the stored state unmergeable), recomputes from
        the whole table (``full``); files only appended are partially
        aggregated and MERGED into the stored per-group state
        (``incremental``), so the refresh cost scales with the delta,
        not the table; no appended file is a ``noop``. This is the
        Delta/streaming upgrade path of ``create_materialized_view``
        implemented directly on the parquet lake; the reference's Athena tier has no analogue (plain views
        only, src/purchase_orders.py:22).
        """
        for func, _col, _alias in aggs:
            if func not in (*self._ALGEBRAIC_MERGE, "avg", "approx_distinct"):
                raise ValueError(
                    f"non-algebraic aggregate {func!r}: incremental merge "
                    "undefined (use create_materialized_view for full refresh, "
                    "or approx_distinct for the mergeable HLL sketch)"
                )
        self._set_sidecar(_MVIEWS, name, {
            "kind": "incremental",
            "source_table": source_table,
            "group_cols": list(group_cols),
            "aggs": [list(a) for a in aggs],
            "partition_cols": list(partition_cols or []),
        })
        self.refresh_materialized_view(name)

    def refresh_materialized_view(self, name: str) -> str:
        """Refresh ``name``; returns how: ``full`` | ``incremental`` |
        ``noop`` (incremental views with no new source files)."""
        spec = self._sidecar(_MVIEWS)[name]
        if spec.get("kind") == "incremental":
            return self._refresh_incremental(name, spec)
        if spec.get("kind") == "join":
            return self.refresh_join_view(name)
        df = self.spark.sql(spec["query"])
        self.write_curated(
            name, df, mode="overwrite", partition_cols=spec["partition_cols"]
        )
        return "full"

    # -- incremental refresh internals ---------------------------------
    def _iv_state_exprs(self, aggs: Sequence[Sequence[str]], partial: bool) -> list:
        """Aggregate expressions producing the MV's mergeable state.
        partial=True aggregates raw source rows; False re-aggregates
        (merges) state rows, where each state column already holds a
        partial value under its own name."""
        exprs = []
        for func, col, alias in aggs:
            if func == "avg":
                s, c = f"__{alias}_sum", f"__{alias}_cnt"
                if partial:
                    exprs += [F.sum(col).alias(s), F.count(col).alias(c)]
                else:
                    exprs += [F.sum(s).alias(s), F.sum(c).cast("long").alias(c)]
                continue
            if func == "approx_distinct":
                h = f"__{alias}_hll"
                if partial:
                    exprs.append(F.hll_sketch_agg(col).alias(h))
                else:
                    exprs.append(F.hll_union_agg(h).alias(h))
                continue
            merge = self._ALGEBRAIC_MERGE[func]
            if partial:
                src = F.count(F.lit(1)) if (func == "count" and col == "*") else getattr(F, func)(col)
            else:
                src = getattr(F, merge)(alias)
                if func == "count":
                    src = src.cast("long")
            exprs.append(src.alias(alias))
        return exprs

    def _iv_finalize(self, state: DataFrame, aggs: Sequence[Sequence[str]]) -> DataFrame:
        """Derive presentation columns from state (avg = sum/cnt). The
        hidden state columns stay in the stored MV so the next merge can
        use them; readers who want only the aliases select them."""
        for func, _col, alias in aggs:
            if func == "avg":
                state = state.withColumn(
                    alias, F.col(f"__{alias}_sum") / F.col(f"__{alias}_cnt")
                )
            elif func == "approx_distinct":
                state = state.withColumn(
                    alias, F.hll_sketch_estimate(F.col(f"__{alias}_hll"))
                )
        return state

    def _iv_state_cols(self, spec: dict[str, Any]) -> list[str]:
        cols = list(spec["group_cols"])
        for func, _col, alias in spec["aggs"]:
            if func == "avg":
                cols += [f"__{alias}_sum", f"__{alias}_cnt"]
            elif func == "approx_distinct":
                cols.append(f"__{alias}_hll")
            else:
                cols.append(alias)
        return cols

    def _refresh_incremental(self, name: str, spec: dict[str, Any]) -> str:
        how, appended, live = self._appended_files(spec["source_table"], spec.get("files"))
        if how == "noop":
            return how
        qsrc = self.qualified(spec["source_table"])
        group = spec["group_cols"]
        if how == "full":
            state = self.spark.table(qsrc).groupBy(*group).agg(
                *self._iv_state_exprs(spec["aggs"], partial=True)
            )
        else:
            delta = self._read_files_as_table_schema(qsrc, appended)
            partial = delta.groupBy(*group).agg(
                *self._iv_state_exprs(spec["aggs"], partial=True)
            )
            old = self.spark.table(self.qualified(name)).select(*self._iv_state_cols(spec))
            state = (
                old.unionByName(partial)
                .groupBy(*group)
                .agg(*self._iv_state_exprs(spec["aggs"], partial=False))
            )
        # the incremental branch reads the MV it overwrites; `_commit`
        # stages it before touching the MV's files
        self.write_curated(
            name,
            self._iv_finalize(state, spec["aggs"]),
            mode="overwrite",
            partition_cols=spec["partition_cols"],
        )
        self._set_sidecar(_MVIEWS, name, {**spec, "files": live})
        return how

    # -- incrementally-maintained JOIN view (round 12) -----------------
    # The classic delta-join decomposition (Blakeley et al. 1986,
    # 'Efficiently updating materialized views', public): for
    # MV = fact ⋈ dim under a fact change set Δ,
    #   MV' = (MV − Δ⁻ keyed removes) ∪ (Δ⁺ ⋈ dim)
    # — maintenance reads the CHANGE FEED and the MV, never re-joins
    # the full fact side. At 100 TB the full recompute re-shuffles the
    # fact table every refresh; this path's join work is change-sized
    # (Δ ⋈ dim), and the MV-side anti-join is MV-sized IO but zero
    # fact/dim IO. Complements `create_incremental_view` (append-only
    # aggregates): CDF handles deletes and updates too.

    def create_join_view(
        self,
        name: str,
        fact_table: str,
        dim_table: str,
        fact_key: str,
        fact_join_col: str,
        dim_key: str,
        fact_cols: Sequence[str],
        dim_cols: Sequence[str],
    ) -> None:
        """Materialize ``fact ⋈ dim`` (inner, on fact_join_col =
        dim_key) projected to ``fact_cols + dim_cols`` and register it
        for incremental refresh from the fact table's snapshot change
        feed. ``fact_key`` is the ROW-IDENTITY column (must uniquely
        identify fact rows — the `table_changes` contract), distinct
        in role from ``fact_join_col`` (the foreign key into the dim);
        both must appear in ``fact_cols``. The dim side is treated as
        static between refreshes (a dim change requires a full rebuild
        — re-run this method). An UPDATE that moves a row to a
        different dim key maintains correctly: the pre-image remove
        drops the old MV row, the post-image insert re-joins on the
        new key."""
        fact_cols, dim_cols = list(fact_cols), list(dim_cols)
        for c, what in ((fact_key, "fact_key"), (fact_join_col, "fact_join_col")):
            if c not in fact_cols:
                raise ValueError(f"{what} {c!r} must be in fact_cols")
        overlap = set(fact_cols) & set(dim_cols)
        if overlap:
            raise ValueError(f"fact/dim column collision: {sorted(overlap)}")
        history = self.snapshot_history(fact_table)
        if not history:
            raise ValueError(
                f"fact table {fact_table!r} has no snapshot journal; "
                "write it via write_curated first"
            )
        mv = self._join_view_join(
            self.spark.table(self.qualified(fact_table)).select(*fact_cols),
            dim_table,
            fact_join_col,
            dim_key,
            dim_cols,
        )
        self.write_curated(name, mv, mode="overwrite", partition_cols=[])
        self._set_sidecar(_MVIEWS, name, {
            "kind": "join",
            "fact_table": fact_table,
            "dim_table": dim_table,
            "fact_key": fact_key,
            "fact_join_col": fact_join_col,
            "dim_key": dim_key,
            "fact_cols": fact_cols,
            "dim_cols": dim_cols,
            "fact_version": history[-1]["version"],
        })

    def _join_view_join(
        self,
        fact_side: DataFrame,
        dim_table: str,
        fact_join_col: str,
        dim_key: str,
        dim_cols: Sequence[str],
    ) -> DataFrame:
        dim = self.spark.table(self.qualified(dim_table)).select(
            F.col(dim_key).alias("__dk"), *dim_cols
        )
        return fact_side.join(
            dim, F.col(fact_join_col) == F.col("__dk"), "inner"
        ).drop("__dk")

    def refresh_join_view(self, name: str) -> str:
        """Refresh a `create_join_view` MV from the fact change feed;
        returns ``noop`` (fact unchanged) or ``incremental``. The MV's
        previous content is its latest snapshot, read from its live
        files; the overwrite stages the new content before its commit
        retires those files, so the read-modify-overwrite never reads
        a file it has moved."""
        spec = self._sidecar(_MVIEWS)[name]
        if spec.get("kind") != "join":
            raise ValueError(f"{name!r} is not a join view")
        cur = self.snapshot_history(spec["fact_table"])[-1]["version"]
        if cur == spec["fact_version"]:
            return "noop"
        key = spec["fact_key"]
        ch = self.table_changes(
            spec["fact_table"], spec["fact_version"], cur, key_cols=[key]
        ).select(*spec["fact_cols"], "_change_type")
        removes = (
            ch.filter(F.col("_change_type").isin("delete", "update_preimage"))
            .select(key)
            .distinct()
        )
        adds = self._join_view_join(
            ch.filter(
                F.col("_change_type").isin("insert", "update_postimage")
            ).drop("_change_type"),
            spec["dim_table"],
            spec["fact_join_col"],
            spec["dim_key"],
            spec["dim_cols"],
        )
        mv = self.read_snapshot(name)
        new_mv = mv.join(removes, key, "left_anti").unionByName(adds)
        self.write_curated(name, new_mv, mode="overwrite", partition_cols=[])
        self._set_sidecar(_MVIEWS, name, {**spec, "fact_version": cur})
        return "incremental"

    def _table_layout(self, qtable: str) -> tuple[str, list[str]]:
        """Location and partition columns of ``qtable``, read from one
        ``DESCRIBE TABLE EXTENDED``, which runs no Spark job.
        (``Catalog.listColumns`` iterates ``toLocalIterator``: one job
        per partition of a local relation, on every call.)"""
        section, loc, parts = "", None, []
        for r in self.spark.sql(f"DESCRIBE TABLE EXTENDED {qtable}").collect():
            name = r["col_name"]
            if name.startswith("# "):
                if name != "# col_name":  # the column header row of a block
                    section = name
            elif not name:
                section = ""
            elif section == "# Partition Information":
                parts.append(name)
            elif section == "# Detailed Table Information" and name == "Location":
                loc = r["data_type"]
        if loc is None:
            raise ValueError(f"no location for {qtable}")
        return loc, parts

    def _table_location(self, qtable: str) -> str:
        return self._table_layout(qtable)[0]

    # ------------------------------------------------------------------
    # OPTIMIZE-style compaction (SURVEY §7 phase 5): the write-side twin
    # of the reference's read-side small-file grouping (groupSize 100 MB,
    # src/glue/staging_to_curated.py:90-92). Incremental appends leave
    # one file per batch per partition; at 100 TB that decays scan
    # performance (footer/open cost per file) until rewritten.
    def compact_table(
        self,
        table: str,
        target_file_bytes: int = _TARGET_FILE_BYTES,
        cluster_by: Sequence[str] | None = None,
        zorder: bool = False,
    ) -> int:
        """Bin-pack a curated table's small files. Returns the table's
        file count afterwards. Idempotent, like Delta's OPTIMIZE
        (`_bin_pack`): per partition, the files below
        ``target_file_bytes`` on disk pack into bins of at most that
        size, and only bins of two or more files are rewritten, each as
        one file; they are picked from the snapshot manifest and the
        local file sizes, with no Spark job. A table with no such bin
        commits nothing and leaves no new version.
        Commits through `_commit` (stage, move in, journal, retire — a
        crash leaves the old or the new version; single-writer
        assumption, as in the reference's one-state-machine-per-table
        design).

        ``cluster_by`` asks for a layout change, so it rewrites every
        file: it range-partitions + sorts the rewrite on those columns
        into ~``target_file_bytes`` files (OPTIMIZE ... ZORDER's
        single-dimension analogue): each output file then covers a
        narrow min/max band, so later filtered scans skip whole
        files/row-groups on parquet statistics instead of reading
        everything. The highest-leverage layout knob for a 100 TB table
        queried by a selective key.

        ``zorder=True`` (with >=2 ``cluster_by`` columns) interleaves
        the columns on a Z-curve instead of lexicographic order: each
        column is bucketed into ``2**_ZORDER_BITS`` (256) quantile ranks
        (boundaries from ``approxQuantile`` — sample-based, driver-
        bounded; non-numeric columns rank by ``xxhash64`` bucket, which
        clusters equality predicates, not ranges), the per-column ranks
        are bit-interleaved into one Z-value, and the rewrite range-
        partitions + sorts on it. Linear ``cluster_by (a, b)`` leaves
        ``b``'s min/max near-full-width in every file — only ``a``
        filters skip; the Z-curve keeps EVERY clustered column's
        per-file band narrow, so selective filters on any of them skip
        files (Delta ``OPTIMIZE ... ZORDER BY`` parity).
        """
        if not cluster_by:
            return self._bin_pack(table, target_file_bytes)
        df = self.spark.table(self.qualified(table))
        # estimate_scan_bytes handles non-local URIs (s3a/hdfs) via the
        # Hadoop FileSystem API; a local-only getsize would see total=0
        # there and collapse the table into a single file.
        from cbts_datalake_synnex_spark.plans.budget import estimate_scan_bytes

        total = estimate_scan_bytes(df)
        n_files = max(1, -(-total // target_file_bytes))  # ceil
        # ONE write of the data: the clustered rows are staged once and
        # committed by `_commit`, which keeps the table's own partition
        # layout (OPTIMIZE never changes partitioning) and its
        # properties (constraints, generated columns) — the table is
        # never re-created.
        if zorder and len(cluster_by) >= 2:
            zcol = self._zvalue(df, list(cluster_by))
            staged = (
                df.withColumn("__zval", zcol)
                .repartitionByRange(n_files, F.col("__zval"))
                .sortWithinPartitions("__zval")
                .drop("__zval")
            )
        else:
            cols = [F.col(c) for c in cluster_by]
            staged = df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
        # Tighter range-boundary sampling for the clustered write: the
        # default 100 samples/partition estimates n_files boundaries
        # from a few hundred points, so file z-spans (and their min/max
        # bands) wobble run to run. 1000/partition keeps the driver
        # sample bounded (8 KB per input partition) while making file
        # boundaries — i.e. the per-file min/max bands readers skip on —
        # materially tighter at every scale.
        with _conf_override(
            self.spark, "spark.sql.execution.rangeExchange.sampleSizePerPartition", "1000"
        ):
            self._commit(table, None, staged.select(*df.columns), "compact")
        return len(self._live_files(table))

    def compact_partitions(
        self,
        table: str,
        where: str,
        target_file_bytes: int = _TARGET_FILE_BYTES,
    ) -> int:
        """Partition-scoped compaction — Delta ``OPTIMIZE t WHERE
        <partition predicate>`` parity: `compact_table`'s bin-pack
        restricted to the partitions the predicate selects; every other
        partition's files stay byte-identical on disk. At 100 TB this
        is the only compaction a nightly pipeline can afford — you
        bin-pack yesterday's partition, not the decade.

        ``where`` must reference partition columns ONLY (enforced, as
        Delta does): a data-column predicate cannot select whole files,
        and rewriting the files it touches with only its rows would
        DROP the rest. Returns the file count of the selected
        partitions afterwards."""
        qtable = self.qualified(table)
        columns = self.spark.table(qtable).columns
        schema_parts = self._table_layout(qtable)[1]
        if not schema_parts:
            raise ValueError(
                f"{table} is unpartitioned — use compact_table for a full rewrite"
            )
        referenced = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", where)) & set(columns)
        bad = referenced - set(schema_parts)
        if bad:
            raise ValueError(
                f"compact_partitions predicate may reference partition columns "
                f"only; {sorted(bad)} are data columns (a data predicate would "
                f"drop rows)"
            )
        return self._bin_pack(table, target_file_bytes, where)

    def _bin_pack(self, table: str, target_file_bytes: int, where: str | None = None) -> int:
        """The one bin-pack of compaction, Delta OPTIMIZE's rule: per
        partition — with ``where``, per partition that partition
        predicate selects — pack the small files (below
        ``target_file_bytes`` on disk) into bins of at most the target
        (`_first_fit`) and rewrite each bin of two or more files as one
        file (`_binned_commit`). Files at or above the target and
        single-file bins are not read; since any two bins together
        exceed the target, the files a pack writes form single-file
        bins next time, and a compacted table stays as it is. The
        choice comes from the live manifest and local file sizes;
        nothing is committed when no bin qualifies. Returns the live
        file count of those partitions afterwards."""
        qtable = self.qualified(table)
        layout = self._table_layout(qtable)
        _require_local(qtable, layout[0])
        sizes = _sizes_by_dir(self._live_files(table))
        if where is not None:
            chosen = self.spark.table(qtable).filter(where).inputFiles()
            dirs = {os.path.dirname(_local_path(_spark_file(f))) for f in chosen}
            sizes = {d: fs for d, fs in sizes.items() if d in dirs}
        bins = [
            [b for b in _first_fit(small, target_file_bytes) if len(b) >= 2]
            for small in (
                {f: n for f, n in fs.items() if n < target_file_bytes} for fs in sizes.values()
            )
        ]
        picked = [f for dir_bins in bins for b in dir_bins for f in b]
        if picked:
            rows = self._read_files_as_table_schema(qtable, picked, _bin_numbers(bins))
            self._binned_commit(table, picked, rows, "compact", {}, layout)
        return sum(os.path.dirname(_local_path(f)) in sizes for f in self._live_files(table))

    # ------------------------------------------------------------------
    # Write-side CHECK constraints (Delta `ALTER TABLE ... ADD
    # CONSTRAINT name CHECK (expr)` parity). Stored as table properties
    # (`constraint.check.<name>`), enforced on every write_curated
    # batch BEFORE the write: one aggregate pass over the batch (all
    # constraints folded into a single agg — map-side, no shuffle), a
    # violation aborts with per-constraint counts and the table is
    # untouched. NULL passes, as SQL CHECK semantics require. At 100 TB
    # the cost is one extra scan of each INCOMING batch, never of the
    # table — the same bill Delta pays.
    def add_check_constraint(self, table: str, name: str, expr: str) -> None:
        """Register ``CHECK (expr)`` on the table. The existing rows
        must already satisfy it (verified with one scan, as Delta
        does); subsequent `write_curated` batches are rejected if any
        row violates it."""
        qtable = self.qualified(table)
        if not self.spark.catalog.tableExists(qtable):
            raise ValueError(f"no such table: {qtable}")
        ok = F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))
        n_bad = self.spark.table(qtable).filter(~ok).count()
        if n_bad:
            raise ConstraintViolation(
                f"cannot add constraint {name!r}: {n_bad} existing rows violate ({expr})"
            )
        esc = expr.replace("'", "''")
        self.spark.sql(
            f"ALTER TABLE {qtable} SET TBLPROPERTIES ('constraint.check.{name}' = '{esc}')"
        )

    def drop_check_constraint(self, table: str, name: str) -> None:
        qtable = self.qualified(table)
        self.spark.sql(
            f"ALTER TABLE {qtable} UNSET TBLPROPERTIES IF EXISTS ('constraint.check.{name}')"
        )

    # -- UNIQUE constraints (round 12) ---------------------------------
    # The enforcement plain parquet/Delta lacks and DLT expectations
    # approximate: a declared key must stay unique across the whole
    # table. Batch-internal duplicates are one hash agg on the batch.
    # Cross-batch collisions are where 100 TB bites — the naive check
    # re-scans the table per append. The engine composes the round's
    # membership tier instead: when `analyze_membership` has persisted
    # a Bloom filter for the key, batch keys probe it first — an
    # all-negative batch (the steady-state append) SKIPS the table
    # scan entirely (zero false negatives make the skip safe); only
    # FPR-bounded positives pay the exact semi-join. A successful
    # append folds the batch's positions into the stored filter
    # (Bloom OR), keeping the zero-FN contract across batches.

    def add_unique_constraint(self, table: str, name: str, cols) -> None:
        """Register UNIQUE(cols). Existing rows must already be
        unique (one hash agg verifies); later `write_curated` batches
        reject on batch-internal duplicates and, for appends, on
        collisions with existing keys. NULL keys are exempt (SQL
        UNIQUE semantics: NULL compares distinct)."""
        qtable = self.qualified(table)
        if not self.spark.catalog.tableExists(qtable):
            raise ValueError(f"no such table: {qtable}")
        cols = [cols] if isinstance(cols, str) else list(cols)
        dup = (
            self.spark.table(qtable)
            .dropna(subset=cols)
            .groupBy(*cols)
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        if dup:
            raise ConstraintViolation(
                f"cannot add unique constraint {name!r}: {dup} existing "
                f"key groups are duplicated on ({', '.join(cols)})"
            )
        esc = ",".join(cols).replace("'", "''")
        self.spark.sql(
            f"ALTER TABLE {qtable} SET TBLPROPERTIES ('constraint.unique.{name}' = '{esc}')"
        )

    def drop_unique_constraint(self, table: str, name: str) -> None:
        qtable = self.qualified(table)
        self.spark.sql(
            f"ALTER TABLE {qtable} UNSET TBLPROPERTIES IF EXISTS ('constraint.unique.{name}')"
        )

    def unique_constraints(self, table: str) -> dict[str, list[str]]:
        return _unique_specs(self._table_props(table))

    # Bloom-filter freshness: the persisted position set is only folded
    # on write_curated APPENDS (`_refresh_unique_membership`); any other
    # key-set mutation (overwrite, merge/delete/update, restore, sync)
    # would leave it with FALSE NEGATIVES and let `_enforce_unique`
    # admit a duplicate. Every mutation path journals a data snapshot,
    # so the filter's entry in `_COLUMN_STATS`, keyed by the filter
    # table's name, stamps the snapshot version the filter reflects; a
    # mismatch (or missing stamp) disables the fast path — fail-safe to
    # the exact semi-join scan (ADVICE r12).
    def _current_snapshot_version(self, table: str) -> int:
        history = self.snapshot_history(table)
        return int(history[-1]["version"]) if history else 0

    def _enforce_unique(
        self, table: str, df: DataFrame, mode: str, props: dict[str, str]
    ) -> None:
        """Reject the batch if any unique constraint (from the table's
        ``props``) would break. Leaves ``self._last_unique_stats``
        (diagnostic) describing the path taken per constraint."""
        stats: dict[str, dict] = {}
        self._last_unique_stats = stats
        for name, cols in _unique_specs(props).items():
            batch_keys = df.dropna(subset=cols).select(*cols)
            n_dup = (
                batch_keys.groupBy(*cols).count().filter(F.col("count") > 1).count()
            )
            st = {"batch_dup_groups": n_dup, "bloom_screened": False,
                  "bloom_positives": None, "bloom_stale": False,
                  "table_scanned": False}
            stats[name] = st
            if n_dup:
                raise ConstraintViolation(
                    f"unique constraint {name!r} violated: {n_dup} key "
                    f"groups duplicated WITHIN the batch on ({', '.join(cols)})"
                )
            if mode != "append":
                continue  # overwrite replaces the table: batch-internal only
            probe_keys = batch_keys.distinct()
            suspects = probe_keys
            if len(cols) == 1 and self.spark.catalog.tableExists(
                self.qualified(f"{table}_bloom_{cols[0]}")
            ):
                stamp = self._sidecar(_COLUMN_STATS).get(f"{table}_bloom_{cols[0]}")
                if stamp != self._current_snapshot_version(table):
                    # filter predates a non-append mutation: its
                    # zero-FN contract is void — exact scan instead
                    st["bloom_stale"] = True
                else:
                    verdicts = self.probe_membership(table, cols[0], df, cols[0])
                    st["bloom_screened"] = True
                    suspects = verdicts.filter(F.col("bloom_member")).select(*cols)
                    n_pos = suspects.count()
                    st["bloom_positives"] = n_pos
                    if n_pos == 0:
                        continue  # zero FN: no batch key can exist in the table
            st["table_scanned"] = True
            n_hit = (
                self.spark.table(self.qualified(table))
                .dropna(subset=cols)
                .select(*cols)
                .join(F.broadcast(suspects), cols, "left_semi")
                .count()
            )
            if n_hit:
                raise ConstraintViolation(
                    f"unique constraint {name!r} violated: {n_hit} batch "
                    f"rows collide with existing keys on ({', '.join(cols)})"
                )

    def _refresh_unique_membership(
        self, table: str, df: DataFrame, uniques: dict[str, list[str]]
    ) -> None:
        """After a successful append: fold the batch's key positions
        into any persisted membership filter so the zero-FN contract
        survives the append (Bloom OR = position-set union)."""
        from cbts_datalake_synnex_spark.operators import sketches

        for _name, cols in uniques.items():
            if len(cols) != 1:
                continue
            fname = self.qualified(f"{table}_bloom_{cols[0]}")
            if not self.spark.catalog.tableExists(fname):
                continue
            meta = self.spark.table(fname).select("n_bits", "k", "salt").first()
            if meta is None:
                continue
            bits = sketches.bloom_build(
                df, cols[0], n_bits=int(meta["n_bits"]), k=int(meta["k"]),
                salt=meta["salt"],
            ).select(
                "pos",
                F.lit(int(meta["n_bits"])).alias("n_bits"),
                F.lit(int(meta["k"])).alias("k"),
                F.lit(meta["salt"]).alias("salt"),
            )
            bits.write.format("parquet").mode("append").saveAsTable(fname)
            # the filter now reflects the post-append snapshot
            # (journaled just before this call) — re-stamp so the
            # fast path stays live across append chains
            self._set_sidecar(
                _COLUMN_STATS, f"{table}_bloom_{cols[0]}", self._current_snapshot_version(table)
            )

    def _table_props(self, table: str) -> dict[str, str]:
        """Every property of the table, from one ``SHOW TBLPROPERTIES``.
        A write reads them once and hands the dict to each check."""
        qtable = self.qualified(table)
        return {
            r["key"]: r["value"]
            for r in self.spark.sql(f"SHOW TBLPROPERTIES {qtable}").collect()
        }

    def table_constraints(self, table: str) -> dict[str, str]:
        return _prefixed(self._table_props(table), _CHECK)

    def generated_columns(self, table: str) -> dict[str, str]:
        return _prefixed(self._table_props(table), _GENERATED)

    # ------------------------------------------------------------------
    # Generated columns (Delta `GENERATED ALWAYS AS (expr)` parity):
    # the expression lives in table properties; a write batch that
    # omits the column gets it computed (the standard use: derive the
    # partition key from an event timestamp so writers can't mis-
    # partition); a batch that supplies it is verified to match the
    # expression (one agg on the batch — same budget as constraints).
    def add_generated_column(
        self, table: str, name: str, expr: str, dtype: str | None = None
    ) -> None:
        qtable = self.qualified(table)
        if not self.spark.catalog.tableExists(qtable):
            raise ValueError(f"no such table: {qtable}")
        existing = {c.lower() for c in self.spark.table(qtable).columns}
        if name.lower() not in existing:
            if not dtype:
                raise ValueError(
                    f"column {name!r} does not exist — pass dtype to add it"
                )
            self.spark.sql(f"ALTER TABLE {qtable} ADD COLUMNS ({quote(name)} {dtype})")
            # Backfill existing rows so every row satisfies the
            # generation expression from day one (Delta sidesteps this
            # by only allowing generated columns at CREATE time; here
            # the one-off file-pruned UPDATE pays the rewrite instead).
            self.update_rows(table, f"{quote(name)} IS NULL", {name: expr})
        esc = expr.replace("'", "''")
        self.spark.sql(
            f"ALTER TABLE {qtable} SET TBLPROPERTIES ('generated.col.{name}' = '{esc}')"
        )

    @contextmanager
    def _checked(
        self, table: str, df: DataFrame, props: dict[str, str], mode: str | None = None
    ):
        """Yield ``df`` once it satisfies the table's ``props``:
        generated-column values and CHECK constraints in one aggregate
        (per-column / per-constraint counts in the ConstraintViolation),
        then, for a `write_curated` ``mode``, the unique constraints.
        Validation and the commit write are separate jobs over one
        plan, so when there is anything to check the frame is pinned
        first: a non-deterministic plan (rand()/uuid()/a changing
        upstream) cannot pass validation yet persist different,
        violating rows, nor be computed twice. The validation
        aggregate materializes the cache; the write reuses it. A table
        without such properties pays nothing."""
        gens = {n: e for n, e in _prefixed(props, _GENERATED).items() if n in df.columns}
        cons = _prefixed(props, _CHECK)
        uniques = _unique_specs(props) if mode else {}
        if not (gens or cons or uniques):
            yield df
            return
        pinned = df.persist()
        try:
            checks = [f"NOT ({quote(n)} <=> ({e}))" for n, e in gens.items()] + [
                f"NOT coalesce(CAST(({e}) AS BOOLEAN), true)" for e in cons.values()
            ]
            if checks:
                row = pinned.agg(*[F.sum(F.expr(c).cast("int")) for c in checks]).first()
                bad_gens = {n: c for n, c in zip(gens, row[: len(gens)]) if c}
                bad_cons = {n: c for n, c in zip(cons, row[len(gens):]) if c}
                if bad_gens:
                    raise ConstraintViolation(
                        f"write to {table!r} rejected, generated-column mismatches: "
                        + ", ".join(f"{n} != ({gens[n]}): {c} rows" for n, c in bad_gens.items())
                    )
                if bad_cons:
                    raise ConstraintViolation(
                        f"write to {table!r} rejected, CHECK violations: "
                        + ", ".join(f"{n} ({cons[n]}): {c} rows" for n, c in bad_cons.items())
                    )
            if uniques:
                self._enforce_unique(table, pinned, mode, props)
            yield pinned
        finally:
            pinned.unpersist()

    def repartition_table(self, table: str, partition_cols: Sequence[str]) -> int:
        """Partition-scheme evolution: rewrite the table under a new
        Hive partition layout (e.g. ingest-date partitions → query-key
        partitions once access patterns are known). Returns the
        resulting file count.

        The old layout's manifest and partition columns are already in
        the snapshot journal, so time travel reads and
        ``restore_snapshot`` across the evolution reproduce the OLD
        layout exactly. Cost at 100 TB: one full rewrite — the same
        bill any engine pays to re-partition; do it once, off-peak,
        and the new partition pruning pays it back on every query.
        """
        qtable = self.qualified(table)
        if not self.spark.catalog.tableExists(qtable):
            raise ValueError(f"no such table: {qtable}")
        df = self.spark.table(qtable)
        missing = [c for c in partition_cols if c not in df.columns]
        if missing:
            raise ValueError(f"partition columns not in table: {missing}")
        self.write_curated(table, df, mode="overwrite", partition_cols=list(partition_cols))
        return len(self._live_files(table))

    def describe_detail(self, table: str) -> DataFrame:
        """One-row table metadata summary (Delta ``DESCRIBE DETAIL``
        parity; SQL form dispatches here): format, qualified name,
        location, partition columns, file count + total bytes (the
        live manifest and its files' on-disk sizes, as compaction
        reads them — no Spark job), snapshot-journal version count and
        latest commit time."""
        qtable = self.qualified(table)
        if not self.spark.catalog.tableExists(qtable):
            raise ValueError(f"no such table: {qtable}")
        loc, parts = self._table_layout(qtable)
        hist = self.snapshot_history(table)
        files = self._live_files(table, hist)
        size = sum(n for fs in _sizes_by_dir(files).values() for n in fs.values())
        return self.spark.createDataFrame(
            [
                (
                    qtable,
                    self.table_format,
                    loc,
                    ",".join(parts),
                    len(files),
                    size,
                    len(hist),
                    hist[-1]["at"] if hist else None,
                )
            ],
            "name string, format string, location string, partition_columns string, "
            "num_files bigint, size_bytes bigint, num_versions int, last_modified string",
        )

    def vacuum_orphans(self, table: str, dry_run: bool = False) -> int:
        """Remove physical files in the table's location that the LAST
        JOURNALED manifest does not reference — the leftovers of a
        crashed rewrite (Delta VACUUM's orphan-removal half;
        `vacuum_snapshots` is the retention half). A Hive parquet scan
        reads whatever sits in the directory, so a crash artifact
        isn't invisible — it silently ADDS rows; this restores the
        directory to the last committed state — the recovery step of
        a `_commit` cut short at any point. A stray file an earlier
        version names (a commit cut short while retiring) is retired,
        so time travel still reads it; any other is deleted. Also
        sweeps the table's stale scratch dirs (under ``_scratch`` in
        the lake root) left by crashed jobs. Single-writer assumption:
        don't run concurrently with a live rewrite (whose scratch this
        would reap). Returns the number of files removed from the
        table's directory and scratch (counted only, when ``dry_run``).

        Scale caveat — the one maintenance op here that LISTS on the
        driver: ``os.walk`` over the table directory is fine for a
        filesystem lake, but on an object store a 100 TB table's
        listing is a paginated, rate-limited API crawl. There, the
        listing side should become a distributed job (e.g. a
        ``spark.read...select(_metadata.file_path)`` scan the way
        ``table_layout_report`` does, or the store's inventory
        manifest) anti-joined against the journaled manifest; the
        delete fan-out batches through the store's bulk-delete API.
        The journal side reads each manifest once."""
        qtable = self.qualified(table)
        if not self.spark.catalog.tableExists(qtable):
            raise ValueError(f"no such table: {qtable}")
        history = self.snapshot_history(table)
        if not history:
            raise ValueError(f"{qtable} has no journaled snapshot to repair to")
        manifest = {_local_path(f) for f in history[-1]["files"]}
        earlier = {_local_path(f): e["base"] for e in history[:-1] for f in e["files"]}
        loc = _local_path(self._table_location(qtable))
        removed = 0
        for dirpath, _dirs, files in os.walk(loc):
            for fname in files:
                p = os.path.join(dirpath, fname)
                if fname.startswith(("_", ".")) or p in manifest:
                    continue
                removed += 1
                if not dry_run:
                    if p in earlier:
                        self._retire(table, earlier[p], p)
                    else:
                        os.remove(p)
        for d in self._scratch_leftovers(f"{table}_"):
            removed += sum(len(fs) for _, _, fs in os.walk(d))
            if not dry_run:
                shutil.rmtree(d, ignore_errors=True)
        if removed and not dry_run:
            self.spark.catalog.refreshTable(qtable)
        return removed

    # ------------------------------------------------------------------
    # Column-level schema evolution beyond K8's ADD: DROP and RENAME.
    # Delta does both metadata-only via column mapping; plain parquet
    # pays one full rewrite (the repartition_table bill — do it once,
    # off-peak). The snapshot journal records the pre-change files, so
    # time travel still reads the old schema, and the rewrite lands as
    # a NEW version. Both refuse columns the table's CHECK constraints
    # or generated-column expressions reference (Delta refuses too —
    # a dangling expression would poison every later write).
    def _resolve_column(self, qtable: str, column: str) -> str:
        cols = self.spark.table(qtable).columns
        for c in cols:
            if c.lower() == column.lower():
                return c
        raise ValueError(f"no such column {column!r} in {qtable} (has {cols})")

    def _refuse_referenced(self, table: str, column: str, *, skip_generated_self: bool) -> None:
        pat = re.compile(rf"\b{re.escape(column)}\b", re.IGNORECASE)
        for name, expr in self.table_constraints(table).items():
            if pat.search(expr):
                raise ValueError(
                    f"column {column!r} is referenced by CHECK constraint "
                    f"{name!r} ({expr}); drop the constraint first"
                )
        for name, expr in self.generated_columns(table).items():
            if skip_generated_self and name.lower() == column.lower():
                continue  # dropping/renaming the generated column itself
            if pat.search(expr):
                raise ValueError(
                    f"column {column!r} is referenced by generated column "
                    f"{name!r} ({expr}); drop that column first"
                )

    def drop_column(self, table: str, column: str) -> int:
        """``ALTER TABLE t DROP COLUMN c`` on plain parquet (Spark SQL
        refuses it on v1 tables). Returns the resulting file count."""
        qtable = self.qualified(table)
        if not self.spark.catalog.tableExists(qtable):
            raise ValueError(f"no such table: {qtable}")
        column = self._resolve_column(qtable, column)
        parts = self._table_layout(qtable)[1]
        if column in parts:
            raise ValueError(
                f"cannot drop partition column {column!r}; evolve the layout "
                "first (repartition_table)"
            )
        df = self.spark.table(qtable)
        if len(df.columns) <= 1:
            raise ValueError("cannot drop a table's only column")
        self._refuse_referenced(table, column, skip_generated_self=True)
        # a dropped generated column takes its property with it — else
        # write_curated would silently recompute it back into the table
        if column.lower() in {g.lower() for g in self.generated_columns(table)}:
            self.spark.sql(
                f"ALTER TABLE {qtable} UNSET TBLPROPERTIES ('generated.col.{column}')"
            )
        self.write_curated(table, df.drop(column), mode="overwrite", partition_cols=parts)
        return len(self._live_files(table))

    def rename_column(self, table: str, old: str, new: str) -> int:
        """``ALTER TABLE t RENAME COLUMN a TO b`` on plain parquet.
        A generated column may be renamed (its expression property
        moves with it); columns referenced BY an expression may not.
        Returns the resulting file count."""
        qtable = self.qualified(table)
        if not self.spark.catalog.tableExists(qtable):
            raise ValueError(f"no such table: {qtable}")
        old = self._resolve_column(qtable, old)
        existing = {c.lower() for c in self.spark.table(qtable).columns}
        if new.lower() in existing:
            raise ValueError(f"column {new!r} already exists in {qtable}")
        parts = self._table_layout(qtable)[1]
        if old in parts:
            raise ValueError(
                f"cannot rename partition column {old!r}; evolve the layout "
                "first (repartition_table)"
            )
        self._refuse_referenced(table, old, skip_generated_self=True)
        gens = self.generated_columns(table)
        gen_expr = next((e for g, e in gens.items() if g.lower() == old.lower()), None)
        if gen_expr is not None:
            self.spark.sql(
                f"ALTER TABLE {qtable} UNSET TBLPROPERTIES ('generated.col.{old}')"
            )
        renamed = self.spark.table(qtable).withColumnRenamed(old, new)
        if gen_expr is not None:
            esc = gen_expr.replace("'", "''")
            self.spark.sql(
                f"ALTER TABLE {qtable} SET TBLPROPERTIES ('generated.col.{new}' = '{esc}')"
            )
        self.write_curated(table, renamed, mode="overwrite", partition_cols=parts)
        return len(self._live_files(table))

    def table_layout_report(self, table: str, target_file_bytes: int = _TARGET_FILE_BYTES) -> DataFrame:
        """One-row layout-health summary computed FROM THE SCAN ITSELF
        (`_metadata.file_path`/`file_size` — distributed, no driver
        directory listing, so it works identically over 100 TB of
        object-store files): file count, byte totals, size spread, and
        the small-file ratio against ``target_file_bytes``. The number
        to watch is ``small_file_ratio`` — the small-file problem is
        the top operational tax on big tables, and this is the gauge
        that says when ``compact_table`` pays for itself."""
        qtable = self.qualified(table)
        per_file = (
            self.spark.table(qtable)
            .select(
                F.col("_metadata.file_path").alias("f"),
                F.col("_metadata.file_size").alias("sz"),
            )
            .groupBy("f")
            .agg(F.first("sz").alias("bytes"), F.count("*").alias("rows"))
        )
        return per_file.agg(
            F.count("*").alias("n_files"),
            F.sum("bytes").alias("total_bytes"),
            F.sum("rows").alias("total_rows"),
            F.avg("bytes").cast("bigint").alias("avg_file_bytes"),
            F.min("bytes").alias("min_file_bytes"),
            F.max("bytes").alias("max_file_bytes"),
            F.round(
                F.avg((F.col("bytes") < target_file_bytes / 4).cast("double")), 4
            ).alias("small_file_ratio"),
        )

    _ZVALUE_TRAIN_ROWS = 200_000
    _ZORDER_BITS = 8

    def _zvalue(self, df: DataFrame, cols: list[str]) -> F.Column:
        """Z-curve key: per-column quantile rank (``2**_ZORDER_BITS``
        buckets), bit-interleaved. All JVM-side: the only driver work
        is ONE ``approxQuantile`` call covering every numeric column at once
        (one pass, not one scan per column), trained on a deterministic
        xxhash64-mod row sample capped near ``_ZVALUE_TRAIN_ROWS`` (the
        ANN md5-sample discipline — boundary estimation doesn't need
        the full table, and at sf1+ the full-table per-column scans
        were the dominant cost of OPTIMIZE ZORDER). Sampling moves
        boundaries by at most the sampling error, which only shifts a
        sliver of rows one bucket over — layout quality, not
        correctness, and the layout goldens pin that quality. The rank
        assignment is a single higher-order ``aggregate`` over a
        literal boundary array (one array per column — plan size
        O(cols * 2**bits) constants, no per-row Python)."""
        bits = self._ZORDER_BITS
        n_buckets = 1 << bits
        numeric = {
            f.name
            for f in df.schema.fields
            if f.dataType.simpleString()
            in ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")
            or f.dataType.simpleString().startswith("decimal")
        }
        num_cols = [c for c in cols if c in numeric]
        cuts_by_col: dict[str, list[float]] = {}
        if num_cols:
            probs = [i / n_buckets for i in range(1, n_buckets)]
            train = df
            # bounded deterministic sample: one cheap count sizes the
            # hash-mod rate; below the cap the full table trains. The
            # hash covers EVERY column, not just the clustered ones —
            # hashing only a low-cardinality cluster key would sample
            # whole value classes in or out and wreck its boundary
            # estimate.
            n_rows = train.count()
            if n_rows > self._ZVALUE_TRAIN_ROWS:
                mod = max(2, n_rows // self._ZVALUE_TRAIN_ROWS)
                train = train.filter(
                    F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(mod)) == 0
                )
            train = train.select(*num_cols)
            # relativeError 0.001 (was 0.01): with the round-14 single-
            # write compact the quantiles train on the LIVE table, whose
            # partitions are often already clustered by earlier
            # compactions — the GK sketch's merge error is worst on
            # sorted runs, and 1% slack (±2.5 of 256 buckets) visibly
            # degraded per-file rank bands. 0.1% keeps the sketch small
            # (train is capped at _ZVALUE_TRAIN_ROWS rows) and makes the
            # cuts order-insensitive in practice.
            all_cuts = train.stat.approxQuantile(num_cols, probs, 0.001)
            cuts_by_col = dict(zip(num_cols, all_cuts))
        ranks = []
        for c in cols:
            if c in numeric:
                cuts = cuts_by_col[c]
                # dedupe (skewed columns repeat cut values); rank =
                # count of boundaries <= value, via one higher-order
                # aggregate over the literal boundary array
                uniq = sorted(set(float(x) for x in cuts if x is not None))
                if not uniq:
                    ranks.append(F.lit(0))
                    continue
                # rank = |{b : value >= b}| via a BINARY-SEARCH when-tree
                # (O(log B) codegen comparisons per row; the previous
                # linear fold over the boundary array was an interpreted
                # O(B) higher-order function per row and dominated the
                # whole OPTIMIZE ZORDER wall time at sf1 — 8.6 s of a
                # 15 s rewrite for B=255, cols=2). NULL/NaN values take
                # every `otherwise` branch and land on rank 0, exactly
                # like the old fold.
                val = F.col(c).cast("double")

                def _bsearch(lo: int, hi: int) -> F.Column:
                    if lo == hi:
                        return F.lit(lo)
                    mid = (lo + hi) // 2
                    return F.when(
                        val >= F.lit(uniq[mid]), _bsearch(mid + 1, hi)
                    ).otherwise(_bsearch(lo, mid))

                rank = _bsearch(0, len(uniq))
                # re-spread deduped ranks onto the full bucket range so
                # interleaving keeps per-column resolution comparable
                scale = max(1, n_buckets // (len(uniq) + 1))
                rank = (rank * scale) % n_buckets
            else:
                # non-numeric: uniform hash rank — clusters equality
                # predicates (string ranges rarely queried)
                rank = F.pmod(F.xxhash64(F.col(c)), F.lit(n_buckets))
            ranks.append(F.coalesce(rank.cast("bigint"), F.lit(0)))
        ncols = len(ranks)
        z = F.lit(0).cast("bigint")
        for bit in range(bits):
            for j, rank in enumerate(ranks):
                b = F.shiftright(rank, bit).bitwiseAND(F.lit(1))
                z = z + F.shiftleft(b, bit * ncols + j)
        return z

    # ------------------------------------------------------------------
    # Scratch hygiene: every staged rewrite stages under _scratch and
    # cleans up on success; a crashed job can leave orphans behind. At
    # 100 TB orphaned rewrite attempts are real storage money — this is
    # the engine's (trivial) VACUUM.
    def _scratch_leftovers(self, prefix: str = "") -> list[str]:
        base = os.path.join(self.zones.root, "_scratch")
        if not os.path.isdir(base):
            return []
        return [os.path.join(base, d) for d in os.listdir(base) if d.startswith(prefix)]

    def vacuum_scratch(self) -> int:
        """Delete every leftover scratch dir (single-writer assumption —
        nothing references scratch once the owning call returned).
        Returns the number of dirs removed."""
        leftovers = self._scratch_leftovers()
        for d in leftovers:
            shutil.rmtree(d, ignore_errors=True)
        return len(leftovers)

    # ------------------------------------------------------------------
    # Upsert / MERGE — the lakehouse write mode the reference approximates
    # with its overwrite-partition pattern (save_to_datalake mode='overwrite'
    # + partition_cols, src/purchase_orders.py:88): replace the row for a
    # key if present, insert otherwise. First-class here because an
    # incremental PO-status feed is exactly an upsert-by-po_number.
    def merge_upsert(
        self,
        table: str,
        df: DataFrame,
        keys: Sequence[str],
        partition_cols: Sequence[str] | None = None,
    ) -> None:
        """Key-based upsert into a curated table: a matched key's row is
        replaced whole by the batch row, a new key is inserted.

        Runs as `merge_rows`, which rewrites only the files holding
        matched keys (wherever the key lives, so a re-dated key leaves
        no stale row behind) and adds the inserts as new files; every
        other file keeps its inode. Duplicate batch keys raise, as
        Delta's MERGE does. ``partition_cols`` applies only when the
        call creates the table.
        """
        qtable = self.qualified(table)
        if not self.spark.catalog.tableExists(qtable):
            self.write_curated(table, df, mode="overwrite", partition_cols=partition_cols)
            return
        # Align to the table schema (K8 widening; NULL for columns the
        # batch lacks) so the SET map covers every non-key column.
        aligned = self._evolve_schema(qtable, df)
        self.merge_rows(
            table,
            aligned,
            keys,
            when_matched_update={c: f"s.{quote(c)}" for c in aligned.columns if c not in keys},
        )

    # ------------------------------------------------------------------
    # Row-level DML on plain parquet (Delta DELETE/UPDATE parity; the
    # GDPR-erasure / correction primitives a lakehouse needs). Cost
    # model at 100 TB: one predicate scan of the table (predicate
    # pushdown + partition pruning + parquet min/max skipping decide
    # what is actually READ — `compact_table(cluster_by=...)` makes
    # selective predicates skip whole files), then a rewrite of ONLY
    # the files that contain >=1 matching row. Untouched files are
    # neither read twice nor rewritten — verified byte-identical in
    # tests. Delta does the same dance via the transaction log; here
    # the file manifest + snapshot journal stand in (the commit
    # retires the files it replaces instead of deleting them, so time
    # travel across a DELETE keeps working).
    def _fits_broadcast(
        self, df: DataFrame, cap_bytes: int = 64 << 20, cap_rows: int = 200_000
    ) -> bool:
        """Should ``df`` be broadcast? First ask Catalyst's size
        estimate for the optimized plan (real for file scans — sum of
        file sizes — and propagated joins). Python-built local
        relations and post-shuffle plans report the
        ``defaultSizeInBytes`` sentinel (~8 EiB); for those, fall back
        to a bounded early-exit count (``limit(cap+1).count()`` stops
        scanning once the cap is disproven), so the common small CDC
        batch still broadcasts and a large unknown source never does."""
        try:
            size = int(
                str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
            )
        except Exception:
            size = None
        if size is not None and size < (1 << 62):
            return size <= cap_bytes
        try:
            return df.limit(cap_rows + 1).count() <= cap_rows
        except Exception:
            return False

    def _file_pruned_rewrite(self, table: str, condition, rewrite, operation: str) -> int:
        """Rewrite only the data files containing rows matching
        ``condition``, plus small files of the partitions those files
        sit in while each partition's rewrite stays within the target
        size (`_rewrite_set`); every other file keeps its inode.
        ``rewrite(subset, cond, props)`` maps the read files' rows to
        their replacement rows, given the table properties, and keeps
        their `_BIN`; ``operation`` (``delete`` or ``update``) names
        the commit. The replacement is written one file per bin
        (`_binned_commit`), so a touched partition whose files fit the
        target ends as one file. Returns the number of matching rows
        (0 ⇒ no file touched).

        An update runs the same CHECK-constraint and generated-column
        verification as ``write_curated`` on the replacement rows
        before splicing (Delta enforces CHECK on UPDATE/MERGE, not just
        INSERT); a delete skips it — removing rows cannot introduce a
        violation."""
        qtable = self.qualified(table)
        if not self.spark.catalog.tableExists(qtable):
            raise ValueError(f"no such table: {qtable}")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        cond = F.coalesce(cond.cast("boolean"), F.lit(False))  # NULL ⇒ no match
        target = self.spark.table(qtable)
        # Which files hold matching rows, and how many each: the match
        # count comes with the file list, no job of its own. The scan
        # is predicate-pushed; the list is bounded by affected files,
        # so the collect is driver-safe.
        hits = (
            target.filter(cond)
            .groupBy(F.col("_metadata.file_path").alias("f"))
            .count()
            .collect()
        )
        if not hits:
            return 0
        files, bins = self._rewrite_set(table, [_spark_file(r["f"]) for r in hits])
        subset = self._read_files_as_table_schema(qtable, files, bins)
        props = self._table_props(table) if operation == "update" else {}
        replacement = rewrite(subset, cond, props).select(*target.columns, _BIN)
        self._binned_commit(table, files, replacement, operation, props)
        return sum(r["count"] for r in hits)

    def _read_files_as_table_schema(
        self, qtable: str, files: list[str], bins: dict[str, int] | None = None
    ) -> DataFrame:
        """Re-read ONLY the given data files of ``qtable`` with the
        table schema. basePath keeps the Hive partition columns parsed
        from the directory structure; given the schema, Spark neither
        runs a footer-inference job nor infers partition types — the
        catalog knows `processed_month` is the string "01", and an
        inferred int 1 would make a rewrite emit a new
        `processed_month=1` directory the catalog never registers.
        Files written before a K8 ADD COLUMNS read the newer columns as
        null. The one reader of a chosen subset of a table's files:
        DML, MERGE, compaction, incremental views and incremental
        ANALYZE. With ``bins`` (`_bin_numbers`), each row also carries
        its file's bin as `_BIN`, for `_binned_commit`."""
        target = self.spark.table(qtable).schema
        reader = self.spark.read.format(self.table_format).schema(target)
        subset = reader.option("basePath", self._table_location(qtable)).load(files)
        cols = [F.col(quote(f.name)) for f in target.fields]
        if bins is None:
            return subset.select(*cols)
        b = F.lit(0)
        if bins:
            numbers = F.create_map(*[F.lit(x) for kv in bins.items() for x in kv])
            b = F.coalesce(F.try_element_at(numbers, F.col("_metadata.file_name")), b)
        return subset.select(*cols, b.alias(_BIN))

    def _commit(
        self,
        table: str,
        removed_files: list[str] | None,
        replacement: DataFrame,
        operation: str,
        create: tuple[list[str], dict[str, str]] | None = None,
        layout: tuple[str, list[str]] | None = None,
    ) -> int:
        """Replace ``removed_files`` of ``table`` (``None``: every live
        file) with the rows of ``replacement`` — the one commit path of
        every write to a parquet table: `write_curated` appends,
        overwrites and creates (and through them RESTORE, re-partition,
        DROP/RENAME COLUMN, view refreshes and write-audit-publish),
        DELETE/UPDATE/MERGE, compaction and deletion-vector folding.
        Returns the number of rows written, observed on the write
        itself; it and ``operation`` (the caller's name for the commit)
        go into the snapshot entry. A commit that changes neither the
        manifest nor the schema leaves no new version. ``layout`` is
        the table's `_table_layout` when the caller has already read
        it. Steps, in crash order:

        1. stage the replacement under scratch (its plan may read the
           very files being replaced);
        2. with ``create`` — (partition columns, table properties) —
           drop the table's catalog entry if it has one and create it
           afresh from the staged schema (`_create_table`): the path of
           a new table, or of a write that changes its columns or
           partitioning, which a v1 table can only take by being
           re-created;
        3. move the staged files into the table's partition dirs
           (``recover_partitions`` if a new dir appeared);
        4. append the snapshot entry: the previous manifest minus
           ``removed_files`` plus the moved-in files. This is the
           commit point;
        5. retire ``removed_files`` into the table's retention
           directory (`_retire`), where time travel still reads them;
           a table with no journaled version deletes them.

        A crash before step 4 leaves `read_snapshot` on the old
        version, a crash after it on the new one; either way
        `vacuum_orphans` puts the directory back in line with that
        version (until then a directory scan may see rows twice, never
        lose them). Step 2 is the exception: dropping a managed table
        deletes its directory, so step 5 runs before it, and a crash
        between it and step 4 leaves the live table empty;
        `restore_snapshot` brings the old version back from retention.
        Only local (``file:``) locations: any other scheme raises
        before anything is staged."""
        qtable = self.qualified(table)
        if create is None:
            loc, parts = layout = layout or self._table_layout(qtable)
        else:
            loc, parts = self.spark.catalog.getDatabase(self.database).locationUri, create[0]
        _require_local(qtable, loc)
        scratch = self._scratch_dir(table)
        written = Observation()
        writer = replacement.observe(written, F.count(F.lit(1)).alias("n")).write
        writer = writer.format(self.table_format).option("compression", "snappy")
        # A binned rewrite (`_binned_commit`) stages one file per
        # partition and bin, under a hidden `_BIN` directory level that
        # the move below drops.
        binned = _BIN in replacement.columns
        if parts or binned:
            writer = writer.partitionBy(*parts, *([_BIN] if binned else []))
        writer.save(scratch)
        n_written = written.get["n"]
        if not n_written:  # an empty write stages only empty part files: none move in
            shutil.rmtree(scratch, ignore_errors=True)
        history = self.snapshot_history(table)
        live = self._live_files(table, history)
        if removed_files is None:
            removed_files = live
        gone = {_local_path(f) for f in removed_files}

        def retire() -> None:
            for p in gone:
                if os.path.exists(p):
                    if history:
                        self._retire(table, history[-1]["base"], p)
                    else:
                        os.remove(p)

        if create is not None:
            retire()  # the DROP deletes a managed table's directory
            schema = replacement.schema
            self.spark.sql(f"DROP TABLE IF EXISTS {qtable}")
            self._create_table(qtable, schema, parts, create[1])
            loc, parts = layout = self._table_layout(qtable)
        added, new_dirs = [], False
        for dirpath, _dirs, files in os.walk(scratch):
            rel = os.path.relpath(dirpath, scratch)
            if binned:
                rel = os.path.dirname(rel)
            dst_dir = os.path.normpath(os.path.join(_local_path(loc), rel))
            for fname in files:
                if fname.startswith(("_", ".")):
                    continue  # _SUCCESS, checksums
                if not os.path.isdir(dst_dir):
                    # a partition value the catalog has never seen —
                    # registered below (K9)
                    new_dirs = True
                    os.makedirs(dst_dir, exist_ok=True)
                dst = os.path.join(dst_dir, f"dml-{uuid.uuid4().hex[:8]}-{fname}")
                try:
                    os.replace(os.path.join(dirpath, fname), dst)
                except OSError:  # scratch on another filesystem than the table
                    shutil.move(os.path.join(dirpath, fname), dst)
                added.append(f"file://{dst}")
        shutil.rmtree(scratch, ignore_errors=True)
        if new_dirs and parts:
            self.recover_partitions(table)
        kept = [f for f in live if _local_path(f) not in gone]
        self._journal_snapshot(table, kept + added, layout, operation, n_written, history)
        retire()
        self.spark.catalog.refreshTable(qtable)
        return n_written

    def _live_files(self, table: str, history: list[dict[str, Any]] | None = None) -> list[str]:
        """The table's live data files: its last snapshot manifest (of
        ``history``, when the caller has read it), or a listing for a
        table the engine never journaled."""
        history = self.snapshot_history(table) if history is None else history
        if history:
            return history[-1]["files"]
        qtable = self.qualified(table)
        if self.spark.catalog.tableExists(qtable):
            # another session may have written it since the file index
            # was cached
            self.spark.catalog.refreshTable(qtable)
            return [_spark_file(f) for f in self.spark.table(qtable).inputFiles()]
        return []

    def _rewrite_set(self, table: str, matched: list[str]) -> tuple[list[str], dict[str, int]]:
        """The files a DML rewrite reads, and their bins
        (`_bin_numbers`): the ``matched`` files plus, in each partition
        directory they sit in, the live small files of that directory,
        smallest first, while the directory's rewrite stays within the
        target size — Hudi's small-file handling: a partition a DML
        touches ends compact, and the next compaction has nothing to do
        there. The added files hold no matched row, so their rows pass
        the DML unchanged; files of untouched partitions, and those
        beyond the target, keep their inodes. A directory whose matched
        files alone exceed the target takes no neighbour, and its
        matched files pack into bins of at most the target
        (`_first_fit`), one written file each."""
        have = {_local_path(f) for f in matched}
        sizes = _sizes_by_dir(matched)
        rest = (
            f
            for f in self._live_files(table)
            if os.path.dirname(_local_path(f)) in sizes and _local_path(f) not in have
        )
        for d, neighbours in _sizes_by_dir(rest).items():
            room = _TARGET_FILE_BYTES - sum(sizes[d].values())
            for f in sorted(neighbours, key=neighbours.__getitem__):
                if neighbours[f] > room:
                    break
                sizes[d][f] = neighbours[f]
                room -= neighbours[f]
        files = [f for fs in sizes.values() for f in fs]
        return files, _bin_numbers(_first_fit(fs, _TARGET_FILE_BYTES) for fs in sizes.values())

    def _binned_commit(
        self,
        table: str,
        removed_files: list[str],
        replacement: DataFrame,
        operation: str,
        props: dict[str, str],
        layout: tuple[str, list[str]] | None = None,
    ) -> int:
        """`_commit` a rewrite of existing files — DELETE/UPDATE, MERGE,
        compaction — once ``replacement`` passes the table's ``props``
        checks (`_checked`). ``replacement`` carries each row's bin
        (`_BIN`, from `_read_files_as_table_schema`; a MERGE insert is
        bin 0 of its partition). The rows are shuffled by partition and
        bin, and `_commit` writes one file per partition and bin, so
        the output is sized by the on-disk bytes of the files it
        replaces: a bin of small files becomes one file of at most
        about the target, however AQE coalesces the shuffle. ``layout``
        is the table's `_table_layout` when the caller has read it.
        Returns the rows written."""
        layout = layout or self._table_layout(self.qualified(table))
        binned = replacement.repartition(*[F.col(quote(c)) for c in layout[1]], F.col(_BIN))
        with self._checked(table, binned, props) as rows:
            return self._commit(table, removed_files, rows, operation, layout=layout)

    def delete_rows(self, table: str, condition) -> int:
        """``DELETE FROM table WHERE condition`` (SQL semantics: only
        rows where the predicate is TRUE are deleted; NULL keeps the
        row), as a `_file_pruned_rewrite`. Returns the deleted row
        count."""

        def _drop_matches(subset: DataFrame, cond, _props) -> DataFrame:
            return subset.filter(~cond)

        return self._file_pruned_rewrite(table, condition, _drop_matches, "delete")

    def write_audit_publish(
        self, table: str, df: DataFrame, rules: dict[str, Any]
    ) -> dict:
        """Write-audit-publish (round 12 — the Iceberg/Netflix WAP
        discipline): the batch lands in an invisible ``{table}__wap``
        staging table, the expectations suite runs over the STAGED
        data, and only a fully-passing audit publishes it: a
        `write_curated` overwrite of the live table (keeping its
        partition columns; a new table is unpartitioned), so the
        table's CHECK, generated-column and unique constraints apply
        and its properties stay, then the staged table is dropped. A
        failing audit, or a batch the constraints reject
        (ConstraintViolation), leaves the live table BYTE-UNTOUCHED and
        keeps the staged copy for inspection — bad data is never
        visible to readers, which is the entire point of the pattern.
        ``rules`` maps rule name → predicate (Column or SQL string),
        True = row passes (`operators.dq.expectations_report`
        semantics: NULL predicates are violations). Returns
        {"published", "report" (rule rows), "staged_table"}."""
        from cbts_datalake_synnex_spark.operators.dq import expectations_report

        live = self.qualified(table)
        staged = self.qualified(f"{table}__wap")
        self.spark.sql(f"DROP TABLE IF EXISTS {staged}")
        df.write.format("parquet").saveAsTable(staged)
        conds = {
            k: (F.expr(v) if isinstance(v, str) else v) for k, v in rules.items()
        }
        report = expectations_report(self.spark.table(staged), conds).collect()
        published = all(r["passed"] for r in report)
        if published:
            parts = self._table_layout(live)[1] if self.spark.catalog.tableExists(live) else []
            self.write_curated(
                table, self.spark.table(staged), mode="overwrite", partition_cols=parts
            )
            self.spark.sql(f"DROP TABLE {staged}")
        return {
            "published": published,
            "report": report,
            "staged_table": None if published else staged,
        }

    _HP_GRANULARITY_US = {"hour": 3_600_000_000, "day": 86_400_000_000}

    def write_time_partitioned(
        self,
        table: str,
        df: DataFrame,
        ts_col: str,
        granularity: str = "day",
        mode: str = "overwrite",
    ) -> None:
        """HIDDEN time partitioning (round 12 — Iceberg partition-
        transform semantics, `days(ts)`/`hours(ts)`): the engine
        derives the partition column (``__p`` = floor(epoch_us /
        granularity), integer arithmetic — tz-free) and remembers the
        transform in table properties; the user never manages, names,
        or filters on it. `read_time_range` rewrites a plain
        timestamp-range predicate into the matching partition filter,
        so the scan prunes whole partition directories — the Iceberg
        contract Spark's explicit partition columns can't give you
        (a ts predicate alone never prunes a derived column)."""
        step = self._HP_GRANULARITY_US[granularity]
        out = df.withColumn(
            "__p", F.floor(F.unix_micros(F.col(ts_col)) / F.lit(step)).cast("bigint")
        )
        self.write_curated(table, out, mode=mode, partition_cols=["__p"])
        self.spark.sql(
            f"ALTER TABLE {self.qualified(table)} SET TBLPROPERTIES "
            f"('hidden.ts_col' = '{ts_col}', 'hidden.granularity' = '{granularity}')"
        )

    def read_time_range(self, table: str, start_us: int, end_us: int) -> DataFrame:
        """Read rows with ``start_us <= ts < end_us`` through the
        hidden partition transform: the row-level timestamp filter is
        AUGMENTED with the derived ``__p`` range (floor(start/g) ..
        floor((end−1)/g)), which Catalyst turns into partition
        pruning — only matching directories are listed or scanned.
        Returns the user-facing schema (the hidden column dropped)."""
        qtable = self.qualified(table)
        props = {
            r["key"]: r["value"]
            for r in self.spark.sql(f"SHOW TBLPROPERTIES {qtable}").collect()
        }
        ts_col = props.get("hidden.ts_col")
        gran = props.get("hidden.granularity")
        if not ts_col or gran not in self._HP_GRANULARITY_US:
            raise ValueError(
                f"{table} has no hidden time partitioning; write it with "
                f"write_time_partitioned first"
            )
        step = self._HP_GRANULARITY_US[gran]
        lo, hi = int(start_us) // step, (int(end_us) - 1) // step
        us = F.unix_micros(F.col(ts_col))
        return (
            self.spark.table(qtable)
            .filter((F.col("__p") >= lo) & (F.col("__p") <= hi))
            .filter((us >= int(start_us)) & (us < int(end_us)))
            .drop("__p")
        )

    def delete_rows_mor(self, table: str, condition, key_cols: Sequence[str]) -> int:
        """Merge-on-read DELETE (round 12 — Delta deletion-vector /
        Iceberg MoR semantics): record the matching rows' KEYS in the
        ``{table}__dv`` side table instead of rewriting any data file
        — a delete of 10 rows from a 100 TB table writes KB, not the
        table (`delete_rows` is the copy-on-write twin; use it when
        read amplification matters more than write amplification).
        Readers go through `read_mor`; `apply_deletion_vectors`
        eventually folds the vector into a real rewrite. Idempotent:
        keys already recorded are not re-counted or re-appended —
        including NULL key values (null-safe match, ADVICE r12: a
        plain anti-join never matches NULLs, so a NULL-keyed row
        would be re-counted and re-appended every call and never
        filtered by `read_mor`).
        Returns the number of NEWLY deleted rows."""
        qtable = self.qualified(table)
        dv = self.qualified(f"{table}__dv")
        matches = self.spark.table(qtable).filter(condition).select(
            *[F.col(c) for c in key_cols]
        ).distinct()
        if self.spark.catalog.tableExists(dv):
            vec = self.spark.table(dv)
            matches = matches.join(
                vec, _null_safe_key_cond(matches, vec, key_cols), "left_anti"
            )
        n_new = matches.count()
        if n_new:
            matches.write.format("parquet").mode("append").saveAsTable(dv)
        return int(n_new)

    def read_mor(self, table: str) -> DataFrame:
        """Read a table through its deletion vector: base rows
        anti-joined on the ``{table}__dv`` keys (key columns inferred
        from the vector's schema — they ARE its columns). Without a
        vector this is a plain read. One key-join; Catalyst
        broadcasts the (typically KB-sized) vector. Null-safe key
        match, so NULL-keyed deletes apply (ADVICE r12)."""
        qtable = self.qualified(table)
        base = self.spark.table(qtable)
        dv = self.qualified(f"{table}__dv")
        if not self.spark.catalog.tableExists(dv):
            return base
        vec = self.spark.table(dv)
        return base.join(
            vec, _null_safe_key_cond(base, vec, vec.columns), "left_anti"
        )

    def apply_deletion_vectors(self, table: str) -> int:
        """Fold the deletion vector into a physical rewrite (the
        compaction moment — when enough deletes accumulate that read
        amplification outweighs one rewrite): commit `read_mor` in
        place of every live file, drop the vector. Returns the
        surviving row count."""
        dv = self.qualified(f"{table}__dv")
        n = self._commit(table, None, self.read_mor(table), "apply_deletion_vectors")
        self.spark.sql(f"DROP TABLE IF EXISTS {dv}")
        return n

    def update_rows(self, table: str, condition, set_exprs: dict[str, Any]) -> int:
        """``UPDATE table SET col = expr, ... WHERE condition``.
        ``set_exprs`` maps column name → Column or SQL expression
        string (evaluated against the pre-update row, as SQL UPDATE
        does). Returns the updated row count."""
        sets = {
            k: (F.expr(v) if isinstance(v, str) else v) for k, v in set_exprs.items()
        }

        def _apply_sets(subset: DataFrame, cond, props: dict[str, str]) -> DataFrame:
            unknown = [c for c in sets if c not in subset.columns]
            if unknown:
                raise ValueError(f"UPDATE of unknown columns: {unknown}")
            # Generated columns the SET list does not assign are
            # recomputed on the updated rows from the POST-update
            # values (Delta UPDATE semantics — without this, updating a
            # base column would leave the derived column stale and the
            # pre-splice verification would reject the rewrite).
            gens = _prefixed(props, _GENERATED)
            stale = [g for g in gens if g in subset.columns and g not in sets]
            # A SET value takes its column's type, as MERGE's does: an
            # `int` column set to `g * 1.5` stays `int`, and the staged
            # file keeps the table's types.
            out = subset.select(
                *[
                    F.when(cond, sets[f.name].cast(f.dataType))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                    if f.name in sets
                    else F.col(f.name)
                    for f in subset.schema.fields
                ],
                *([cond.alias("__upd")] if stale else []),
            )
            if stale:
                out = out.select(
                    *[
                        F.when(F.col("__upd"), F.expr(gens[c]))
                        .otherwise(F.col(c))
                        .alias(c)
                        if c in stale
                        else F.col(c)
                        for c in subset.columns
                    ]
                )
            return out

        return self._file_pruned_rewrite(table, condition, _apply_sets, "update")

    def sync_to_snapshot(
        self, table: str, snapshot: DataFrame, keys: Sequence[str]
    ) -> dict[str, int]:
        """Make ``table`` row-for-row equal to ``snapshot`` — the
        SQL:2003 full-MERGE / Delta ``WHEN NOT MATCHED BY SOURCE
        DELETE`` role (mirror an upstream system's nightly snapshot),
        executed as CHANGE-SIZED work instead of the naive overwrite:
        `table_diff` classifies keys once (one full-outer key join on
        hashes — the unavoidable compare), then ONE `merge_rows` commit
        applies them: the snapshot rows of inserted/changed keys upsert
        and the vanished keys delete. The diff and that change-sized
        merge source are each pinned with one eager `localCheckpoint`,
        so the merge's file probe and its commit write read them instead
        of each re-running the join; a sync that changes nothing runs
        only the diff. Files holding
        no affected keys keep their inodes — the property a full
        overwrite loses, and at 100 TB the difference between a nightly
        sync that rewrites 0.1% of files and one that rewrites all of
        them. Returns the change counts {"inserted", "changed",
        "deleted"}."""
        from cbts_datalake_synnex_spark.operators.cdc import table_diff

        qtable = self.qualified(table)
        if not self.spark.catalog.tableExists(qtable):
            raise ValueError(f"no such table: {qtable}")
        keys = list(keys)
        # The key-sized diff is pinned by one eager checkpoint, which
        # also fills the change counts (`Observation`); a sync with no
        # change stops there. A checkpoint, not a cache: nothing the
        # merge does to the table (an ALTER, a refresh) can re-run the
        # diff mid-commit.
        obs = Observation()
        diff = (
            table_diff(self.spark.table(qtable), snapshot, keys=keys)
            .withColumnRenamed("change_type", "__change")
            .observe(obs, *[
                F.sum((F.col("__change") == c).cast("long")).alias(c)
                for c in ("inserted", "changed", "deleted")
            ])
            .localCheckpoint(eager=True)
        )
        pinned = [diff]
        try:
            counts = {c: int(n or 0) for c, n in obs.get.items()}
            if any(counts.values()):
                gone = F.col("__change") == "deleted"
                source = (
                    snapshot.join(diff.filter(~gone), keys)
                    .unionByName(diff.filter(gone), allowMissingColumns=True)
                    .localCheckpoint(eager=True)
                )
                pinned.append(source)
                self.merge_rows(
                    table,
                    source,
                    keys,
                    when_matched_delete="s.__change = 'deleted'",
                    when_not_matched_insert="s.__change <> 'deleted'",
                    exclude_cols=["__change"],
                )
        finally:
            # a local checkpoint's blocks outlive the frame: free them
            for frame in pinned:
                frame._jdf.queryExecution().analyzed().rdd().unpersist(False)
        return counts

    def merge_rows(
        self,
        table: str,
        source: DataFrame,
        keys: Sequence[str],
        when_matched_update: dict[str, Any] | str | None = "all",
        when_matched_delete: str | bool | None = None,
        when_not_matched_insert: str | bool = True,
        sequence_col: str | None = None,
        exclude_cols: Sequence[str] = (),
    ) -> dict[str, int]:
        """Row-level ``MERGE INTO table t USING source s ON t.k = s.k``
        (Delta MERGE parity on plain parquet). Clause semantics, in
        Delta's evaluation order:

        - ``when_matched_delete``: ``True`` or a SQL condition over
          ``t.``/``s.``-qualified columns (e.g. ``"s.op = 'D'"``) —
          matched target rows satisfying it are removed.
        - ``when_matched_update``: ``"all"`` (every non-key source data
          column overwrites its same-named target column — UPDATE SET *),
          a ``{target_col: expr}`` dict (exprs may reference ``t.``/
          ``s.``), or ``None`` (matched rows left untouched).
        - ``when_not_matched_insert``: ``True`` or a SQL condition over
          SOURCE columns, bare or ``s.``-qualified; unmatched source
          rows satisfying it are inserted (columns absent from the
          source become NULL).

        ``sequence_col``: CDC ordering — keep only the latest change per
        key (max sequence) before merging. Without it, duplicate source
        keys raise (Delta's "multiple source rows matched" contract).
        ``exclude_cols``: source columns used only in clause conditions
        (op codes, sequence numbers) — never written to the table and
        excluded from K8 schema evolution.

        Scale: the source's keys semi-join the target to find the files
        holding matched keys; ONLY those files rewrite, with small
        files of their partitions while each partition's rewrite stays
        within the target size (`_rewrite_set`; their rows pass the
        join unmatched); every other file keeps its inode. Inserts are
        the source rows whose key the matched files do not hold —
        every source key the table holds lies in them — so the insert
        side never reads the rest of the table. The replacement is
        written one file per bin (`_binned_commit`): a partition
        holding a matched file ends as one file when its rewrite fits
        the target, its inserts included; a partition that only gets
        inserts keeps its files and gains one.
        Whether the source broadcasts is `_fits_broadcast`'s answer from
        Catalyst's size estimate of the source plan: small CDC batches
        broadcast, anything above the threshold (or with an
        unknown/huge estimate) falls through to AQE so a large merge
        source cannot OOM the driver.
        """
        qtable = self.qualified(table)
        if not self.spark.catalog.tableExists(qtable):
            raise ValueError(f"no such table: {qtable}")
        keys = list(keys)
        missing = [k for k in keys if k not in source.columns]
        if missing:
            raise ValueError(f"merge keys missing from source: {missing}")

        # CDC ordering: latest change per key wins; else keys must be
        # unique (SQL MERGE forbids multiple source matches per row).
        dup_keys = None
        if sequence_col is not None:
            source = _latest_per_key(source, keys, sequence_col)
        else:
            dup_keys = source.groupBy(*keys).count().filter("count > 1")
        dup_msg = (
            "duplicate merge keys in source (pass sequence_col for "
            "latest-change-wins CDC semantics)"
        )

        exclude = [c for c in exclude_cols if c in source.columns]
        data_cols = [c for c in source.columns if c not in exclude]
        src_m = source.withColumn("__merge_m", F.lit(True))
        src_keys = source.select(*keys)  # a semi-join needs no unique build keys
        if self._fits_broadcast(source):
            src_m, src_keys = F.broadcast(src_m), F.broadcast(src_keys)
        # One collect answers both questions asked before anything is
        # staged: which files hold matched keys, and (a null path)
        # whether a source key repeats. Both branches feed one
        # `distinct`, which folds every repeated key into a single null
        # row — no `limit` and its single-partition exchange.
        # _metadata is resolvable only on the file-source relation —
        # materialize file_path as a real column BEFORE the semi-join.
        probe = (
            self.spark.table(qtable)
            .select(F.col("_metadata.file_path").alias("f"), *keys)
            .join(src_keys, on=keys, how="left_semi")
            .select("f")
        )
        if dup_keys is not None:
            probe = probe.unionByName(dup_keys.select(F.lit(None).cast("string").alias("f")))
        matched_files = [r[0] for r in probe.distinct().collect()]
        if None in matched_files:
            raise ValueError(dup_msg)
        matched_files = [_spark_file(f) for f in matched_files]
        bins: dict[str, int] = {}
        if matched_files:
            matched_files, bins = self._rewrite_set(table, matched_files)

        # K8: genuinely-new source data columns widen the table first
        # (condition-only columns never do) — after the probe, so a
        # rejected batch leaves the schema as it was.
        fields = self._evolve_schema(qtable, source.select(*data_cols)).schema.fields

        matched = "s.`__merge_m` IS NOT NULL"
        if isinstance(when_matched_delete, str):
            del_f = f"coalesce(CAST(({when_matched_delete}) AS BOOLEAN), false)"
        else:
            del_f = str(bool(when_matched_delete))
        upd_enabled = when_matched_update is not None
        upd_sets: dict[str, Any] = {}
        if when_matched_update == "all":
            tcols = {f.name.lower() for f in fields}
            upd_sets = {
                c: f"s.{quote(c)}" for c in data_cols if c not in keys and c.lower() in tcols
            }
        elif isinstance(when_matched_update, dict):
            upd_sets = dict(when_matched_update)
        elif upd_enabled:
            raise ValueError(f"when_matched_update: {when_matched_update!r}")

        # The counts ride the commit's write: every row of the matched
        # files passes `merged`, every insert passes `inserted`.
        merged, inserted = Observation(), Observation()
        branches = []
        if matched_files:
            sub = self._read_files_as_table_schema(qtable, matched_files, bins)
            on = " AND ".join(f"t.{quote(k)} = s.{quote(k)}" for k in keys)
            joined = (
                sub.alias("t")
                .join(src_m.alias("s"), on=F.expr(on), how="left")
                .observe(
                    merged,
                    F.expr(f"count_if({matched} AND {del_f})").alias("d"),
                    F.expr(f"count_if({matched} AND NOT {del_f})").alias("u"),
                )
            )
            out: list[Any] = []
            for f in fields:
                c, v = f"t.{quote(f.name)}", upd_sets.get(f.name) if upd_enabled else None
                if isinstance(v, str):
                    c = f"IF({matched}, CAST(({v}) AS {ddl_type(f.dataType)}), {c})"
                elif v is not None:  # a caller's Column keeps the Column API
                    c = F.when(F.expr(matched), v.cast(f.dataType)).otherwise(F.col(c))
                out.append(f"{c} AS {quote(f.name)}" if isinstance(c, str) else c.alias(f.name))
            out.append(f"t.{_BIN}")
            branches.append(_select(joined.filter(f"NOT ({matched} AND {del_f})"), out))

        if when_not_matched_insert:
            # Every source key the table holds lies in `matched_files`
            # (the probe found them all), so anti-joining the source
            # against those files' rows is exact — no scan of the
            # rest of the table, and no join at all when none matched.
            ins = source.alias("s")
            if isinstance(when_not_matched_insert, str):
                ins = ins.filter(f"coalesce(CAST(({when_not_matched_insert}) AS BOOLEAN), false)")
            if matched_files:
                ins = ins.join(sub.select(*keys), on=keys, how="left_anti")
            inserts = _aligned(ins, data_cols, fields).withColumn(_BIN, F.lit(0))
            branches.append(inserts.observe(inserted, F.count(F.lit(1)).alias("n")))

        if not branches:
            return {"updated": 0, "deleted": 0, "inserted": 0}
        replacement = branches[0]
        if len(branches) == 2:
            replacement = replacement.unionByName(branches[1])
        # Delta parity: generated columns the merge did not explicitly
        # assign (neither an UPDATE SET target nor a source data
        # column) are recomputed — inserts would otherwise land NULL
        # and updates would go stale; columns the merge DID assign are
        # verified against their generation expression, and CHECK
        # constraints validate the replacement like any write.
        props = self._table_props(table)
        src_lower = {c.lower() for c in data_cols}
        for g, e in _prefixed(props, _GENERATED).items():
            if g not in upd_sets and g.lower() not in src_lower:
                replacement = replacement.withColumn(g, F.expr(e))
        self._binned_commit(table, matched_files, replacement, "merge", props)
        counts = {"updated": 0, "deleted": 0, "inserted": 0}
        if matched_files:
            counts["deleted"] = merged.get["d"]
            if upd_enabled:
                counts["updated"] = merged.get["u"]
        if when_not_matched_insert:
            counts["inserted"] = inserted.get["n"]
        return counts

    def apply_changes(
        self,
        table: str,
        changes: DataFrame,
        keys: Sequence[str],
        op_col: str = "op",
        sequence_col: str | None = None,
        delete_op: str = "D",
        partition_cols: Sequence[str] | None = None,
    ) -> dict[str, int]:
        """Apply a CDC change batch (DLT ``APPLY CHANGES INTO`` parity;
        the write-side twin of the `cdc_*` read queries): rows whose
        ``op_col`` equals ``delete_op`` delete the matched target row,
        every other row upserts. ``sequence_col`` orders changes so the
        latest change per key wins within the batch. The op/sequence
        columns never land in the table.

        A missing target table bootstraps from the batch itself (the
        non-delete survivors after sequence dedup), so a CDC stream's
        first micro-batch needs no separate seeding step —
        ``partition_cols`` applies only to that bootstrap write."""
        exclude = [op_col] + ([sequence_col] if sequence_col else [])
        if not self.spark.catalog.tableExists(self.qualified(table)):
            base = changes if sequence_col is None else _latest_per_key(changes, keys, sequence_col)
            dropped = base.filter(F.col(op_col) != delete_op).drop(*exclude)
            n_ins = self.write_curated(
                table, dropped, mode="overwrite", partition_cols=partition_cols
            )
            # deletes of never-seen keys match nothing: deleted = 0,
            # exactly what merge_rows would have reported
            return {"updated": 0, "deleted": 0, "inserted": n_ins}
        return self.merge_rows(
            table,
            changes,
            keys,
            when_matched_update="all",
            when_matched_delete=f"s.`{op_col}` = '{delete_op}'",
            when_not_matched_insert=f"`{op_col}` <> '{delete_op}'",
            sequence_col=sequence_col,
            exclude_cols=exclude,
        )

    # ------------------------------------------------------------------
    # Persistent indexes. The near-dup admission index is the engine-
    # managed form of the admission gate's `corpus_shingles=` reuse: a
    # continuous-ingest pipeline probes the same corpus every night, so
    # the corpus's shingle index is a set of TABLES — built once, probed
    # per batch, appended per admission — and the nightly run never
    # re-reads or re-tokenizes corpus text (layout and losslessness
    # arguments on `operators/dedup.shingle_index_frames`). The IVF ANN
    # index is its similarity sibling: centroids trained once and
    # postings assigned once and bucketed by cell, so a probe moves only
    # the query batch (the postings side's cogroup clustering
    # requirement is satisfied by the bucket layout, zero exchange) and
    # new vectors append WITHOUT retraining (frozen-centroid assignment;
    # the staleness contract is the standard IVF one — recall drifts as
    # the corpus distribution shifts, rebuild cadence is the operator's
    # knob, and an exhaustive probe stays EXACT no matter how stale the
    # centroids are). Each index's spec — what its build pinned — is
    # one `_INDEXES` sidecar entry, so probes, appends and compactions
    # cannot drift from the build.
    def _index_spec(self, index_name: str, kind: str) -> dict[str, Any]:
        """The spec ``build_{kind}_index`` recorded for ``index_name``."""
        spec = self._sidecar(_INDEXES).get(index_name)
        if spec is None or spec["kind"] != kind:
            raise ValueError(f"no {kind} index '{index_name}': run build_{kind}_index first")
        return spec

    def _write_dedup_index(self, index_name: str, frames, n_buckets: int, mode: str) -> None:
        entries, docs, dfinc = frames
        for suffix, frame in (("entries", entries), ("df", dfinc)):
            write_bucketed(
                self.spark, frame, self.qualified(f"{index_name}_{suffix}"), ["sh"],
                n_buckets, mode=mode,
            )
        docs.write.format("parquet").mode(mode).saveAsTable(self.qualified(f"{index_name}_docs"))

    def build_dedup_index(
        self,
        index_name: str,
        corpus: DataFrame,
        id_col: str,
        text_col: str,
        shingle_size: int = 3,
        n_buckets: int = 32,
    ) -> None:
        """Write the three index tables into the engine's database:
        ``{index_name}_entries`` (sh, doc, n) bucketed+sorted by sh,
        ``{index_name}_docs`` (doc, shs), ``{index_name}_df`` (sh, df)
        bucketed by sh; then record the spec (shingle_size, n_buckets)."""
        from cbts_datalake_synnex_spark.operators.dedup import shingle_index_frames

        frames = shingle_index_frames(corpus, id_col, text_col, shingle_size)
        self._write_dedup_index(index_name, frames, int(n_buckets), "overwrite")
        self._set_sidecar(_INDEXES, index_name, {
            "kind": "dedup", "shingle_size": int(shingle_size), "n_buckets": int(n_buckets),
        })

    def admit_against_dedup_index(
        self,
        index_name: str,
        batch: DataFrame,
        id_col: str,
        text_col: str,
        threshold: float = 0.7,
        max_doc_freq: int | None = None,
    ) -> DataFrame:
        """Probe the persisted index: (id, admitted, blocked_by, jaccard)
        per batch doc. Only the batch is tokenized; the index side of the
        candidate join moves nothing (bucketed scan, or the tiny probe
        prefix broadcasts into it)."""
        from cbts_datalake_synnex_spark.operators.dedup import admission_against_index

        spec = self._index_spec(index_name, "dedup")
        return admission_against_index(
            *(self.spark.table(self.qualified(f"{index_name}_{t}")) for t in ("entries", "docs", "df")),
            batch,
            id_col,
            text_col,
            threshold=threshold,
            shingle_size=spec["shingle_size"],
            max_doc_freq=max_doc_freq,
        )

    def update_dedup_index(
        self,
        index_name: str,
        batch: DataFrame,
        decisions: DataFrame,
        id_col: str,
        text_col: str,
    ) -> None:
        """Append the ADMITTED batch docs' shingles to the index — one
        bucketed append per table, df rows as additive increments (readers
        sum per sh); no corpus rewrite, no re-tokenize of anything but the
        admitted slice. Appends use the spec's bucket count, so the
        bucketed-join property survives every nightly update.

        ``decisions`` is PINNED (localCheckpoint) before the first append:
        its plan reads the very index tables being appended, so a lazy
        frame re-evaluated afterwards would see the batch's own rows in
        the index and block everything as a self-match. Pass the frame
        straight from ``admit_against_dedup_index`` — or an already
        checkpointed one, for which the pin is a no-op read."""
        from cbts_datalake_synnex_spark.operators.dedup import shingle_index_frames

        spec = self._index_spec(index_name, "dedup")
        admitted = batch.join(
            decisions.localCheckpoint().filter(F.col("admitted")).select(id_col), id_col
        )
        frames = shingle_index_frames(admitted, id_col, text_col, spec["shingle_size"])
        self._write_dedup_index(index_name, frames, spec["n_buckets"], "append")

    def compact_dedup_index(self, index_name: str) -> None:
        """Maintenance for the persistent near-dup admission index (the
        index sibling of `lc_snapshot_vacuum`): nightly appends leave
        the ``_df`` table as document-frequency INCREMENT rows (several
        per shingle after many nights) and the ``_entries`` table as one
        small file-set per append. Compaction rewrites both under the
        spec's bucket count (`_compact_index`) — ``_df`` merged to one
        row per shingle (readers sum per sh, so pre-merging is
        semantics-preserving by construction), ``_entries`` rewritten
        as-is into a fresh bucketed+sorted layout (the append file
        fragmentation is the thing being fixed). Probe decisions are
        IDENTICAL before and after — the registry query certifies that
        equality on a live index."""
        n_buckets = self._index_spec(index_name, "dedup")["n_buckets"]
        df_tbl, entries_tbl = f"{index_name}_df", f"{index_name}_entries"
        self._compact_index(n_buckets, [
            (
                df_tbl,
                self.spark.table(self.qualified(df_tbl))
                .groupBy("sh")
                .agg(F.sum("df").cast("bigint").alias("df")),
                "sh",
            ),
            (entries_tbl, self.spark.table(self.qualified(entries_tbl)), "sh"),
        ])

    def _ann_model(self, index_name: str):
        """(spec, centroids by cell, PQ codebooks or ``None``) of an ANN
        index — the KB-sized driver-side state a probe or an append
        assigns and encodes with."""
        spec = self._index_spec(index_name, "ann")
        cells = self.spark.table(self.qualified(f"{index_name}_cells")).orderBy("cell").collect()
        books = None
        if spec["storage"] == "pq":
            # the nested codebook list from its m × n_codes rows
            rows = self.spark.table(self.qualified(f"{index_name}_pq")).orderBy("sub", "code").collect()
            books = [[] for _ in range(rows[-1]["sub"] + 1)]
            for r in rows:
                books[r["sub"]].append(list(r["centroid"]))
        return spec, [list(r["centroid"]) for r in cells], books

    def build_ann_index(
        self,
        index_name: str,
        vectors: DataFrame,
        id_col: str,
        vec_col: str,
        n_cells: int = 16,
        n_assign: int = 1,
        lloyd_iters: int = 8,
        n_buckets: int = 32,
        storage: str = "float",
        pq_m: int = 8,
        pq_codes: int = 16,
    ) -> None:
        """Write ``{index_name}_cells`` (cell, centroid) and the postings
        table ``{index_name}_postings`` bucketed+sorted by cell, then
        record the spec (n_assign, n_buckets, storage).

        ``storage``: ``"float"`` stores raw double vectors — exhaustive
        probes are EXACT (the registry-certified contract); ``"sq8"``
        stores the 0..255 affine grid — 4× smaller postings, probes
        dequantize in the scan projection, ranking follows the
        quantized cosine (recall-gated in tests, NOT exact: keep float
        where the exhaustive-equals-brute-force contract matters);
        ``"pq"`` stores ``pq_m`` small-int codes per vector against a
        trained ``{index_name}_pq`` codebook table — 32×+ postings
        compression at dim=256/m=8 where a trained codebook is
        affordable; probes decode coded centroids from the one-row
        broadcast tensor inside the bucketed scan projection
        (recall-gated in tests; the coarsest/cheapest storage tier)."""
        from cbts_datalake_synnex_spark.operators import similarity

        if storage not in ("float", "sq8", "pq"):
            raise ValueError(f"storage: {storage!r}")
        spark = self.spark
        cents = similarity.train_cells_list(vectors, id_col, vec_col, n_cells, lloyd_iters)
        if cents is None:
            raise ValueError("cannot build an ANN index over an empty corpus")
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)], "cell int, centroid array<double>"
        ).write.format("parquet").mode("overwrite").saveAsTable(
            self.qualified(f"{index_name}_cells")
        )
        postings = similarity.assign_cells(
            vectors, id_col, vec_col,
            similarity._cmat_frame(spark, cents), min(n_assign, len(cents)),
        )
        books = None
        if storage == "pq":
            # non-empty: train_cells_list passed
            books, _ = similarity.train_pq_books(vectors, id_col, vec_col, int(pq_m), int(pq_codes))
            spark.createDataFrame(
                [
                    (j, c, [float(x) for x in cent])
                    for j, book in enumerate(books)
                    for c, cent in enumerate(book)
                ],
                "sub int, code int, centroid array<double>",
            ).write.format("parquet").mode("overwrite").saveAsTable(
                self.qualified(f"{index_name}_pq")
            )
        write_bucketed(
            spark, _stored_postings(postings, storage, books),
            self.qualified(f"{index_name}_postings"), ["cell"], int(n_buckets),
        )
        self._set_sidecar(_INDEXES, index_name, {
            "kind": "ann", "n_assign": int(n_assign), "n_buckets": int(n_buckets),
            "storage": storage,
        })

    def update_ann_index(
        self, index_name: str, vectors: DataFrame, id_col: str, vec_col: str
    ) -> None:
        """Append new vectors' postings under the FROZEN centroid set
        (and, for pq storage, the frozen codebook) — one bucketed
        append, no retrain, no corpus re-read. Appends use the spec's
        bucket count, so the bucketed-probe property survives every
        update.

        Incoming ids already present in the postings table are dropped
        (anti-join on the id column): duplicate postings for the same
        ``cand_id`` would consume slots in the per-cell top-k cut before
        the final dedup runs, silently pushing a legitimate k-th
        neighbor out of an exhaustive probe. Scale shape: the
        corpus-sized postings table is scanned ONCE with the (small,
        distinct-id) incoming batch broadcast against it to find already-
        indexed ids; the resulting overlap set is at most batch-sized, so
        the final anti-join against the batch broadcasts too — the big
        table is never shuffled."""
        from cbts_datalake_synnex_spark.operators import similarity

        spec, cents, books = self._ann_model(index_name)
        postings_tbl = self.qualified(f"{index_name}_postings")
        # Dedup WITHIN the incoming batch first: duplicate ids inside one
        # batch would insert duplicate postings just like ids already
        # indexed, re-creating the per-cell top-k slot-poisoning the
        # existing-id guard prevents. One row per id, deterministic pick
        # (min by vector) so repeated calls stay idempotent. NULL vectors
        # are dropped BEFORE the extreme: Spark struct ordering sorts
        # NULL fields first, so a duplicated id with one NULL-vector row
        # would deterministically keep the NULL and discard the real
        # vector, appending a useless posting.
        vectors = (
            vectors.filter(F.col(vec_col).isNotNull())
            .groupBy(id_col)
            .agg(F.min(F.struct(F.col(vec_col).alias("v"))).alias("__one"))
            .select(F.col(id_col), F.col("__one.v").alias(vec_col))
        )
        incoming_ids = vectors.select(F.col(id_col))
        dup_ids = (
            self.spark.table(postings_tbl)
            .select(F.col("cand_id").alias(id_col))
            .join(F.broadcast(incoming_ids), on=id_col, how="left_semi")
            .distinct()
        )
        fresh = vectors.join(F.broadcast(dup_ids), on=id_col, how="left_anti")
        postings = similarity.assign_cells(
            fresh, id_col, vec_col,
            similarity._cmat_frame(self.spark, cents), min(spec["n_assign"], len(cents)),
        )
        write_bucketed(
            self.spark, _stored_postings(postings, spec["storage"], books),
            postings_tbl, ["cell"], spec["n_buckets"], mode="append",
        )

    def query_ann_index(
        self,
        index_name: str,
        queries: DataFrame,
        id_col: str,
        vec_col: str,
        k: int = 5,
        n_probe: int = 4,
        round_dp: int = 6,
        exclude_self: bool = True,
    ) -> DataFrame:
        """Probe the persisted index: (query_id, cand_id, cosine, rank)
        per query. Only the query batch is assigned and shuffled; the
        postings side reads motionless from its bucketed layout. With
        ``n_probe >= n_cells`` the result is the exact rounded-cosine
        top-k regardless of centroid staleness."""
        from cbts_datalake_synnex_spark.operators import similarity

        spec, cents, books = self._ann_model(index_name)
        return similarity.ann_probe(
            _postings_cv(
                self.spark.table(self.qualified(f"{index_name}_postings")),
                spec["storage"],
                books,
            ),
            cents,
            queries,
            id_col,
            vec_col,
            k=k,
            n_probe=n_probe,
            round_dp=round_dp,
            exclude_self=exclude_self,
        )

    def compact_ann_index(self, index_name: str) -> None:
        """Maintenance for the persistent IVF ANN index — the similarity
        sibling of `compact_dedup_index`: every frozen-centroid append
        (`update_ann_index`) adds a file set to the postings table;
        after many nights the bucketed scan reads many small files per
        bucket. Compaction rewrites the postings ONCE under the spec's
        bucket count (`_compact_index`) — contents identical (probe
        equality is certified by the registry query), file set fresh,
        the bucketed-motionless probe property preserved (the
        post-compaction probe re-runs the zero-exchange plan pin)."""
        n_buckets = self._index_spec(index_name, "ann")["n_buckets"]
        tbl = f"{index_name}_postings"
        self._compact_index(n_buckets, [(tbl, self.spark.table(self.qualified(tbl)), "cell")])

    def _compact_index(self, n_buckets: int, tables) -> None:
        """Rewrite each (table, frame, bucket column) of an index: the
        frame is written to a ``_compact`` twin bucketed+sorted into
        ``n_buckets``, which `_swap_staged_table` then swaps in, so no
        point of the swap has dropped data that isn't fully staged.

        The bucketed writer emits one file per (task, bucket), and
        key-hash repartitioning does NOT align tasks with bucket ids
        (measured), so the rewrite runs as round-robin tasks, one per
        `_TARGET_FILE_BYTES` the frame scans (at least 1): an index
        table up to that size ends with one file per non-empty bucket,
        a larger one with about one file per bucket and task — still a
        collapse from nights × tasks after a year of appends."""
        from cbts_datalake_synnex_spark.plans.budget import estimate_scan_bytes

        for table, frame, bucket_col in tables:
            staged = self.qualified(f"{table}_compact")
            tasks = max(1, -(-estimate_scan_bytes(frame) // _TARGET_FILE_BYTES))  # ceil
            write_bucketed(self.spark, frame.repartition(tasks), staged, [bucket_col], n_buckets)
            _swap_staged_table(self, staged, self.qualified(table))

def _latest_per_key(df: DataFrame, keys: Sequence[str], sequence_col: str) -> DataFrame:
    """CDC ordering: the latest change (max ``sequence_col``) per key."""
    w = Window.partitionBy(*keys).orderBy(F.col(sequence_col).desc())
    return df.withColumn("__seq_rn", F.row_number().over(w)).filter("__seq_rn = 1").drop("__seq_rn")


def _aligned(df: DataFrame, names: Sequence[str], fields) -> DataFrame:
    """``df`` in one projection onto the table ``fields``: each from
    the column of ``names`` that matches it case-insensitively (NULL
    where none does), cast to the field's type."""
    src = {n.lower(): quote(n) for n in names}
    return df.selectExpr(
        *[
            f"CAST({src.get(f.name.lower(), 'NULL')} AS {ddl_type(f.dataType)}) AS {quote(f.name)}"
            for f in fields
        ]
    )


def _select(df: DataFrame, cols: list) -> DataFrame:
    """``selectExpr`` over SQL strings; a ``Column`` among them keeps
    the Column API (every string then becomes an ``F.expr``)."""
    if all(isinstance(c, str) for c in cols):
        return df.selectExpr(*cols)
    return df.select(*[F.expr(c) if isinstance(c, str) else c for c in cols])


def _and_all(conds):
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return out


def _null_safe_key_cond(left: DataFrame, right: DataFrame, cols) -> "F.Column":
    """`<=>`-join condition over ``cols`` — NULL keys match NULL keys
    (plain equi-joins never match NULLs, so an anti-join 'missed'
    every NULL-keyed row; ADVICE r12, MoR deletion vectors)."""
    return _and_all([left[c].eqNullSafe(right[c]) for c in cols])


# Statements `LakeEngine.sql` hands to Spark's parser: DML and ALTER by
# their first keyword, time travel by its clause.
_PARSED_SQL = re.compile(r"(?is)^(?:DELETE|UPDATE|MERGE|ALTER)\b|\bAS\s+OF\b")


def _jclass(node) -> str:
    return node.getClass().getSimpleName()


def _scala_list(seq) -> list:
    it, out = seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def _plan_nodes(plan):
    """``plan`` and every plan below it: children, CTE bodies and
    subquery expressions (`innerChildren`)."""
    stack = [plan]
    while stack:
        node = stack.pop()
        yield node
        stack += _scala_list(node.children()) + _scala_list(node.innerChildren())


def _span(node) -> tuple[int, int]:
    """``[start, stop)`` of the statement text a parsed node was built from."""
    origin = node.origin()
    if not (origin.startIndex().isDefined() and origin.stopIndex().isDefined()):
        raise ValueError(f"no source text for {node.toString()!r}")
    return origin.startIndex().get(), origin.stopIndex().get() + 1


def _origin_text(q: str, expr) -> str:
    """The exact text of ``q`` a parsed expression was built from: the
    union of its nodes' spans, since a predicate node such as
    ``k IN (1, 2)`` spans only ``IN (1, 2)``. The parser hands out one
    shared TRUE and FALSE literal whose span is stale; they are skipped,
    and a bare one reads as its value."""
    spans, stack = [], [expr]
    while stack:
        node = stack.pop()
        stack += _scala_list(node.children())
        if not (_jclass(node) == "Literal" and node.dataType().simpleString() == "boolean"):
            spans.append(_span(node))
    if not spans:
        return expr.toString()
    return q[min(s for s, _ in spans) : max(e for _, e in spans)]


def _option_text(q: str, opt) -> str | None:
    return _origin_text(q, opt.get()) if opt.isDefined() else None


def _assignments(q: str, node, qualifier: str | None = None) -> dict[str, str]:
    """The ``SET col = expr, ...`` of a parsed UPDATE or MERGE clause as
    {column: expression text}; ``qualifier`` may prefix a column."""
    sets = {}
    for a in _scala_list(node.assignments()):
        parts = _scala_list(a.key().nameParts())
        if qualifier and len(parts) == 2 and parts[0].lower() == qualifier:
            parts = parts[1:]
        if len(parts) != 1:
            raise ValueError(f"unsupported SET target: {'.'.join(parts)!r}")
        sets[parts[0]] = _origin_text(q, a.value())
    return sets


def _merge_keys(q: str, cond) -> list[str]:
    """The columns ``k`` of a MERGE ON conjunction of ``t.k = s.k``
    terms (either order, any parentheses)."""
    if _jclass(cond) == "And":
        return _merge_keys(q, cond.left()) + _merge_keys(q, cond.right())
    sides = {}
    if _jclass(cond) == "EqualTo":
        for side in (cond.left(), cond.right()):
            parts = _scala_list(side.nameParts()) if _jclass(side) == "UnresolvedAttribute" else []
            if len(parts) == 2:
                sides[parts[0].lower()] = parts[1]
    if set(sides) != {"t", "s"} or sides["t"] != sides["s"]:
        raise ValueError(
            f"MERGE ON must be an equi-key conjunction (t.k = s.k): {_origin_text(q, cond)!r}"
        )
    return [sides["t"]]


@contextmanager
def _conf_override(spark: SparkSession, key: str, value: str):
    """Set a runtime conf for the duration of one operation, restoring
    the caller's value after (the engine must not leak session-wide
    config changes into a driver-owned session)."""
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def write_bucketed(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    mode: str = "overwrite",
) -> None:
    """Bucketed+sorted table write in ``mode`` (``overwrite`` or
    ``append``) — the co-located-join primitive (SURVEY §4.2 /
    "partitioning & shuffle").

    Hash-bucketing both sides of a recurring join on the join key means
    the join runs with ZERO exchanges: each task reads matching bucket
    files from both tables (and with ``sortBy``, merge-joins without
    re-sorting). At 100 TB this converts the nightly fact-fact join
    from a full 2-sided shuffle into a scan — the single biggest
    shuffle elimination available to a repeated pipeline. The
    reference has no analogue (Athena/Glue-catalog tables aren't
    bucketed); this is the Spark-native upgrade.

    ``n_buckets`` must match across tables meant to co-join; pick
    ≈ total-cores×2 at the target scale so each bucket fits in one
    task's memory.
    """
    df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols).sortBy(
        *bucket_cols
    ).saveAsTable(table)


def _swap_staged_table(engine: "LakeEngine", staged: str, live: str) -> None:
    """Swap a fully-materialized staged table into the live name
    WITHOUT a window where the only complete copy sits under a
    non-live name (ADVICE r10): live renames aside to ``_old``, the
    staged twin renames to live, and only then does ``_old`` drop.
    A crash after step 1 leaves the data complete under ``_old``
    (repair = one RENAME back); after step 2 the live name already
    resolves to the new table and ``_old`` is garbage. Bucket specs
    travel with the table through RENAME. A stale ``_old`` twin from
    a previous crashed swap is dropped up front."""
    spark = engine.spark
    old = f"{live}_old"
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    spark.sql(f"ALTER TABLE {live} RENAME TO {old}")
    spark.sql(f"ALTER TABLE {staged} RENAME TO {live}")
    spark.sql(f"DROP TABLE {old}")


def export_training_shards(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    id_col: str,
    text_col: str,
    n_shards: int = 8,
    salt: str = "sh",
) -> DataFrame:
    """Deterministic sharded training export + MANIFEST (round 12) —
    the artifact a training loader consumes: rows land in
    ``n_shards`` md5-hash shards (partitioning-independent and
    idempotent — the epoch_shuffle discipline, so a re-export lands
    every row in the SAME shard), and the ``{table}_manifest``
    companion records per shard (n_rows, n_tokens, content_sum) —
    row/token accounting for the loader's progress math plus the
    `table_fingerprint` content hash so a consumer can verify a
    shard it fetched without re-reading the export host's copy.

    The manifest is computed from the WRITTEN table's read-back, not
    the input plan — it certifies what landed. One partitioned write
    + one grouped read-back scan; manifest is n_shards rows."""
    from cbts_datalake_synnex_spark.operators.dq import table_fingerprint

    shard = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(int(n_shards)),
    )
    df.withColumn("shard", shard.cast("int")).write.partitionBy(
        "shard"
    ).mode("overwrite").format("parquet").saveAsTable(table)
    back = spark.table(table)
    toks = F.size(F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit("")))
    counts = back.groupBy("shard").agg(
        F.sum(toks).cast("bigint").alias("n_tokens")
    )
    manifest = (
        table_fingerprint(back, [id_col, text_col], ["shard"])
        .join(counts, "shard")
        .select(
            F.col("shard").cast("int"), "n_rows", "n_tokens", "content_sum"
        )
    )
    manifest.write.format("parquet").mode("overwrite").saveAsTable(
        f"{table}_manifest"
    )
    return spark.table(f"{table}_manifest")


def write_sorted(
    spark: SparkSession,
    df: DataFrame,
    table: str,
    sort_col: str,
    n_ranges: int = 32,
) -> None:
    """Range-partitioned SORTED table export (round 10) — the layout
    contract downstream range readers prune on: global sort order
    realized as ``repartitionByRange`` (sampled, balanced boundaries)
    + ``sortWithinPartitions``, so every output file covers a
    [min, max] slice of ``sort_col`` DISJOINT from every other file.
    At 100 TB this is what turns a point/range query on ``sort_col``
    into an O(files-touched) scan — the single-column cousin of the
    Z-order compaction the engine already certifies (`lc_zorder`).

    The export then reads back ONLY per-file (min, max)
    via the ``_metadata`` column (footer-cheap at any scale: the scan
    aggregates to |files| rows) and RAISES if any two files overlap —
    the physical outcome, not the plan, is the pin (sampling-based
    range boundaries make plan-shape assertions weaker than checking
    the files themselves).
    """
    (
        df.repartitionByRange(int(n_ranges), F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.format("parquet")
        .mode("overwrite")
        .saveAsTable(table)
    )
    back = spark.table(table)
    # _metadata resolves only on the file-source relation: bind it
    # into a real column immediately (engine discipline)
    per_file = (
        back.select(
            F.col("_metadata.file_path").alias("__f"), F.col(sort_col).alias("__v")
        )
        .groupBy("__f")
        .agg(F.min("__v").alias("lo"), F.max("__v").alias("hi"))
    )
    w = Window.orderBy("lo", "__f")
    overlaps = (
        per_file.withColumn("__prev_hi", F.lag("hi").over(w))
        .filter(F.col("__prev_hi").isNotNull() & (F.col("__prev_hi") > F.col("lo")))
        .count()
    )
    if overlaps:
        raise RuntimeError(
            f"sorted export produced {overlaps} overlapping file ranges on "
            f"{sort_col} — the disjointness contract is broken"
        )


def _stored_postings(postings: DataFrame, storage: str, books) -> DataFrame:
    """(cell, cand_id, cv) in an ANN index's ``storage`` form:
    ``float`` keeps ``cv``; ``sq8`` stores (zero, scale, qv), the
    per-vector 0..255 affine grid (the `similarity.scalar_quantize`
    arithmetic with the cell column kept), 4× smaller postings IO at
    the documented ~0.98 recall; ``pq`` stores ``codes`` against the
    codebooks ``books``: unit-normalize (norm materialized BEFORE the
    lambda — no CSE inside HOFs), then the shared nearest-centroid
    encoder, m small ints per vector — 32×+ less postings IO than raw
    doubles at dim=256, m=8."""
    from cbts_datalake_synnex_spark.operators import similarity

    v = F.col("cv")
    if storage == "sq8":
        mn, mx = F.array_min(v), F.array_max(v)
        scale = F.when(mx > mn, (mx - mn) / F.lit(255.0)).otherwise(F.lit(1.0))
        return postings.select(
            "cell",
            "cand_id",
            mn.alias("zero"),
            scale.alias("scale"),
            F.transform(v, lambda x: F.round((x - mn) / scale, 0).cast("int")).alias("qv"),
        )
    if storage == "pq":
        norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
        return (
            postings.select(
                "cell", "cand_id", "cv", F.greatest(norm, F.lit(1e-12)).alias("__cn")
            )
            .crossJoin(F.broadcast(similarity.pq_book_df(postings.sparkSession, books)))
            .select(
                "cell",
                "cand_id",
                similarity.pq_encode_codes(
                    F.transform(v, lambda x: x.cast("double") / F.col("__cn")),
                    len(books[0][0]),
                ).alias("codes"),
            )
        )
    return postings.select("cell", "cand_id", "cv")


def _postings_cv(postings: DataFrame, storage: str, books) -> DataFrame:
    """Present a postings table as (cell, cand_id, cv) regardless of
    storage form — SQ8 dequantizes as a pure projection over the
    bucketed scan; PQ decodes by concatenating coded centroids of
    ``books`` from the ONE-ROW broadcast codebook tensor (a
    BroadcastNestedLoopJoin preserves the streamed side's bucketed
    distribution, so neither form adds a cell exchange and the
    motionless-probe plan pin still holds)."""
    from cbts_datalake_synnex_spark.operators import similarity

    if storage == "sq8":
        return postings.select(
            "cell",
            "cand_id",
            F.transform(
                F.col("qv"),
                lambda q: F.col("zero") + q.cast("double") * F.col("scale"),
            ).alias("cv"),
        )
    if storage == "pq":
        return postings.crossJoin(
            F.broadcast(similarity.pq_book_df(postings.sparkSession, books))
        ).select(
            "cell",
            "cand_id",
            similarity.pq_decode_cv(F.col("codes")).alias("cv"),
        )
    return postings.select("cell", "cand_id", "cv")

