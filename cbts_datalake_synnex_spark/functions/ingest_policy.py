"""The ingest-policy transform chain (SURVEY §2.3 P3-P8).

The reference normalizes every inbound record batch with pandas before
landing it (``utils.py:40-89`` for the datalake write, ``utils.py:
118-144`` staging, ``utils.py:223-252`` curated):

1. ``pd.json_normalize`` — nested dict → dot-named flat columns
   (``utils.py:49,129,230``)                              → P4
2. drop all-NA columns ("NA columns get to be understood as strings
   until told otherwise", ``utils.py:58-62``)             → P8
3. string-first coercion: ``astype(str)``, fill ``''``, truncate to
   10,000 chars, scrub literal ``'nan'``/``'None'``
   (``utils.py:192-201``)                                 → P5
4. sanitize column names to catalog-safe identifiers
   (``wr.catalog.sanitize_dataframe_columns_names``,
   ``utils.py:68,205``)                                   → P6
5. drop duplicated column names, keep-first
   (``wr.catalog.drop_duplicated_columns``, ``utils.py:69,206``) → P7

Here the whole chain is built from ``df.schema`` in one Python walk
(`_walk`) and issued as ONE projection of SQL expression strings that
runs inside whole-stage codegen — no Python in the per-row path and no
per-column driver round trip. The NA-drop needs the data: its non-null
counts come from one Spark job with no exchange (an ``Observation`` on
a ``noop`` write). Distribution note (SURVEY §7 "what's hard"): the
all-NA drop is a *global* count in Spark, where pandas saw only its
batch; we define batch-global (one count over the whole ingest batch)
as the engine's semantics. The single-step functions below
(`flatten_structs`, `drop_all_null_columns`, ...) are views of the
same walk.

The Glue-side type whitelist (``src/glue/staging_to_curated.py:
158-161``) is ``sanitize_types_for_catalog`` — non-whitelisted Catalyst
types degrade to string before a table write.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_STRING_LEN = 10_000  # utils.py:196 truncation cap

# src/glue/staging_to_curated.py:158-161 — types allowed to reach the
# catalog; anything else degrades to string.
CATALOG_TYPE_WHITELIST = frozenset(
    {
        "int",
        "bigint",
        "integer",
        "boolean",
        "tinyint",
        "smallint",
        "double",
        "float",
        "char",
        "decimal",
        "varchar",
        "string",
        "binary",
        "date",
        "timestamp",
    }
)


def quote(name: str) -> str:
    """``name`` as a SQL identifier: the engine's one quoting of an
    identifier in DDL or an expression string."""
    return "`" + name.replace("`", "``") + "`"


def ddl_type(dt: T.DataType, positional: bool = False) -> str:
    """``dt`` as DDL, struct field names quoted (``simpleString``
    leaves ``a b`` bare); ``positional`` names the fields of nested
    structs ``__f{j}`` (arrays and maps keep their names)."""
    if isinstance(dt, T.StructType):
        names = [f"`__f{j}`" if positional else quote(f.name) for j, f in enumerate(dt.fields)]
        return "STRUCT<" + ", ".join(
            f"{n}: {ddl_type(f.dataType, positional)}" for n, f in zip(names, dt.fields)
        ) + ">"
    if isinstance(dt, T.ArrayType):
        return f"ARRAY<{ddl_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"MAP<{ddl_type(dt.keyType)}, {ddl_type(dt.valueType)}>"
    return dt.simpleString()


def _walk(
    df: DataFrame, flatten: bool = False, sep: str = "_"
) -> tuple[DataFrame, list[tuple[str, str, T.DataType]]]:
    """One walk of ``df.schema``: a positional frame and its leaves as
    (SQL path, output name, type). With ``flatten`` (P4) struct fields
    become ``parent{sep}child`` leaves; arrays stay whole, as
    ``json_normalize`` leaves lists.

    No path names a user-supplied field: Spark resolves names
    case-INsensitively, so records like ``{'A':…,'a':…}`` (legal JSON,
    distinct pandas columns) make ``A`` ambiguous at any level. The
    frame renames the top-level columns ``__c{i}`` (one ``toDF``) and
    casts struct columns to field names ``__f{j}`` (by position)."""
    fields = df.schema.fields
    base = df.toDF(*[f"__c{i}" for i in range(len(fields))])
    leaves: list[tuple[str, str, T.DataType]] = []
    structs = [flatten and isinstance(f.dataType, T.StructType) for f in fields]

    def visit(path: str, name: str, dt: T.DataType) -> None:
        if flatten and isinstance(dt, T.StructType):
            for j, f in enumerate(dt.fields):
                visit(f"{path}.`__f{j}`", f"{name}{sep}{f.name}", f.dataType)
        else:
            leaves.append((path, name, dt))

    for i, f in enumerate(fields):
        visit(f"`__c{i}`", f.name, f.dataType)
    if any(structs):
        base = base.selectExpr(
            *[
                f"CAST(`__c{i}` AS {ddl_type(f.dataType, True)}) AS `__c{i}`" if s else f"`__c{i}`"
                for i, (f, s) in enumerate(zip(fields, structs))
            ]
        )
    return base, leaves


def _project(base: DataFrame, cols: list[tuple[str, str]]) -> DataFrame:
    """The one projection: ``(SQL expression, output name)`` pairs."""
    return base.selectExpr(*[f"{e} AS {quote(n)}" for e, n in cols])


def _non_null(base: DataFrame, leaves: list, na_drop: str) -> list:
    """P8 — the ``leaves`` that survive the NA-drop (``utils.py:57-62``).

    ``na_drop`` pins which semantics (INTENT DECISION, SURVEY §0.1):

    * ``"all"`` (engine default) — drop columns with ZERO non-null
      values. A column that is null for every row of the batch carries
      no information; one stray null should not delete real data.
    * ``"any"`` — the reference's literal behavior
      (``df.isna().any()``, ``utils.py:57-62``): drop columns with AT
      LEAST ONE null. Provided for bug-compatible parity runs.

    The counts come from ONE Spark job with no exchange: an
    ``Observation`` on a ``noop`` write (``agg().collect()`` costs two
    AQE jobs) — at 100 TB a single column-pruned scan."""
    if na_drop not in ("all", "any"):
        raise ValueError(f"na_drop must be 'all' or 'any', got {na_drop!r}")
    if not leaves:
        return leaves
    counts = Observation()
    agg = ", ".join(["count(1)"] + [f"count({p})" for p, _, _ in leaves])
    observed = base.observe(counts, F.expr(f"array({agg})").alias("c"))
    observed.write.format("noop").mode("overwrite").save()
    n, *non_null = counts.get["c"]
    return [leaf for leaf, k in zip(leaves, non_null) if (k > 0 if na_drop == "all" else k == n)]


def _as_string(path: str, dt: T.DataType) -> str:
    """Non-atomic types (arrays/maps left by P4) stringify via
    ``to_json`` so the value survives round-trips; the rest cast."""
    nested = isinstance(dt, (T.ArrayType, T.MapType, T.StructType))
    return f"to_json({path})" if nested else f"CAST({path} AS STRING)"


def _stringify(path: str, dt: T.DataType, max_len: int) -> str:
    """P5 — string-first coercion (``utils.py:192-201``): cast→string,
    nulls and literal 'nan'/'None' → '', truncate to ``max_len``."""
    s = _as_string(path, dt)
    return f"substring(if({s} IN ('nan', 'None', 'NaN'), '', coalesce({s}, '')), 1, {max_len})"


def flatten_structs(df: DataFrame, sep: str = "_") -> DataFrame:
    """P4 — flatten nested structs to ``parent_child`` columns
    (``pd.json_normalize``, ``utils.py:49``) in one projection."""
    base, leaves = _walk(df, flatten=True, sep=sep)
    return _project(base, [(p, n) for p, n, _ in leaves])


def drop_all_null_columns(df: DataFrame, na_drop: str = "all") -> DataFrame:
    """P8 — drop NA columns (see `_non_null` for ``na_drop``)."""
    base, leaves = _walk(df)
    kept = _non_null(base, leaves, na_drop)
    return df if len(kept) == len(leaves) else _project(base, [(p, n) for p, n, _ in kept])


def stringify_columns(df: DataFrame, max_len: int = MAX_STRING_LEN) -> DataFrame:
    """P5 — string-first coercion of every column (see `_stringify`)."""
    base, leaves = _walk(df)
    return _project(base, [(_stringify(p, t, max_len), n) for p, n, t in leaves])


def sanitize_column_names(df: DataFrame) -> DataFrame:
    """P6 — catalog-safe names (``utils.py:68,205``): lowercase,
    non-alphanumerics → ``_``, leading digit prefixed."""
    return df.toDF(*[_sanitize_name(c) for c in df.columns])


def _sanitize_name(name: str) -> str:
    out = re.sub(r"\W", "_", name.strip().lower())
    if out and out[0].isdigit():
        out = "_" + out
    return out or "_"


def drop_duplicate_columns(df: DataFrame) -> DataFrame:
    """P7 — keep-first on duplicated names (``utils.py:69,206``)."""
    if len(set(df.columns)) == len(df.columns):
        return df
    base, leaves = _walk(df)
    first: dict[str, str] = {}
    for p, n, _ in leaves:
        first.setdefault(n, p)
    return _project(base, [(p, n) for n, p in first.items()])


def sanitize_types_for_catalog(df: DataFrame) -> DataFrame:
    """K8's whitelist (``src/glue/staging_to_curated.py:158-161``) —
    degrade non-whitelisted top-level types to string before a table
    write. Decimal keeps its precision (whitelisted as a family). A
    frame whose types are all whitelisted comes back unchanged."""
    base, leaves = _walk(df)
    ok = [t.typeName() in CATALOG_TYPE_WHITELIST | {"long", "short", "byte"} for _, _, t in leaves]
    if all(ok):
        return df
    return _project(base, [(p if k else _as_string(p, t), n) for (p, n, t), k in zip(leaves, ok)])


def apply_ingest_policy(
    df: DataFrame,
    *,
    stringify: bool = True,
    max_len: int = MAX_STRING_LEN,
    na_drop: str = "all",
) -> DataFrame:
    """The full P4→P8→P5→P6→P7 chain in the reference's order
    (``utils.py:40-89``: normalize 49, NA-drop 58-62, astype(str)
    64-66, sanitize 68, dedup-columns 69), as one walk of the schema,
    one Spark job (the NA-drop's counts) and one projection.

    With ``stringify=False`` the chain keeps inferred types (the Glue
    job's mode, ``src/glue/staging_to_curated.py:61-70``) and only
    flattens/sanitizes — the curated path then applies the catalog
    type whitelist instead. ``na_drop``: see `_non_null`. All-null
    leaves drop before keep-first, so a duplicate name whose first
    column is all null keeps the second.
    """
    base, leaves = _walk(df, flatten=True)
    cols: dict[str, str] = {}
    for p, n, t in _non_null(base, leaves, na_drop):
        cols.setdefault(_sanitize_name(n), _stringify(p, t, max_len) if stringify else p)
    return _project(base, [(e, n) for n, e in cols.items()])


def variant_fields(
    df: DataFrame,
    json_col: str,
    fields: dict[str, tuple[str, str]],
    keep: list[str] | None = None,
    variant_out: str | None = None,
) -> DataFrame:
    """Semi-structured ingest on Spark 4 VARIANT (round 12) — the
    modern form of the reference's dynamic-JSON chain
    (``utils.py:40-66`` json_normalize → string-first columns): parse
    each JSON record ONCE into a binary VARIANT and project typed
    fields lazily with ``try_variant_get``, instead of flattening
    every key into a column up front. Missing paths and type
    mismatches yield NULL (the try_ discipline — one poisoned record
    must not fail the batch, the incremental-curate rule).

    ``fields`` maps output column → (JSONPath, Spark type). ``keep``
    carries passthrough columns; ``variant_out`` optionally keeps the
    parsed VARIANT for downstream ad-hoc paths. At 100 TB the win is
    the SHREDDED scan: one parse, column-pruned typed extraction,
    no per-key string re-parse, no schema-explosion of rare keys."""
    v = F.try_parse_json(F.col(json_col))
    cols = [F.col(c) for c in (keep or [])]
    if variant_out:
        cols.append(v.alias(variant_out))
    cols += [
        F.try_variant_get(v, path, typ).alias(out)
        for out, (path, typ) in fields.items()
    ]
    return df.select(*cols)
