"""Sources: CSV/Parquet readers with explicit schemas + ingest normalization.

Design notes (vs reference):
- S1 (reference scripts/extract.py:28): CSV scan with *inferred* schema →
  here: explicit ``StructType`` per table; inference is banned.
- S2 (reference scripts/main.py:41-45): required-file manifest check →
  ``check_manifest`` fails fast before any Spark job is submitted.
- Column tolerance (reference scripts/transform.py:101-111 accepts the
  department name column as either ``name`` or ``department_name``) is
  applied ONCE at ingest by ``normalize_departments`` instead of being
  re-probed inside every operator.

Scale: parquet readers keep Catalyst's predicate pushdown / column
pruning intact (no ``.cache()`` here — callers decide materialization
points). At 100 TB the facts arrive partitioned; readers accept a
directory and let Spark do partition discovery + pruning.

Schema cache: ``read_parquet_table`` infers a path's schema once per
session. Inference (``spark.read.parquet`` without a schema) submits a
footer-reading Spark job on every call; later reads of the same path
pass the remembered ``StructType`` to ``spark.read.schema(...)``, which
submits none. The cache holds metadata only, never rows: per
``SparkSession`` (weakly, so a new session starts empty), one entry per
path of ``(listing fingerprint, parquet type-mapping conf values,
StructType)``. The fingerprint is the sorted recursive local listing as
``(name, size, st_mtime_ns)``; when it or a conf value differs, the
schema is inferred again and the entry replaced. A path that does not
exist locally is read uncached, so Spark raises its own error.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from .schemas import HR_SCHEMAS, TESTDATA_TABLES


class MissingInputError(FileNotFoundError):
    """Raised when a required input file is absent (pre-flight check)."""


def check_manifest(base_dir: str, required: list[str]) -> None:
    """Fail fast if any required input file is missing
    (reference scripts/main.py:41-45, scripts/extract.py:11-17)."""
    missing = [f for f in required if not os.path.exists(os.path.join(base_dir, f))]
    if missing:
        raise MissingInputError(
            f"missing required input files in {base_dir}: {missing}"
        )


def read_csv_table(spark: SparkSession, path: str, table: str) -> DataFrame:
    """CSV scan with the registry schema (no inference). Dates are parsed
    from ISO yyyy-MM-dd via schema-level DateType (SURVEY.md C9)."""
    schema = HR_SCHEMAS[table]
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("dateFormat", "yyyy-MM-dd")
        .csv(path)
    )


# Parquet TIMESTAMP(NANOS) columns (Spark has no nanos timestamp type).
# With spark.sql.legacy.parquet.nanosAsLong=true (set in session.py) they
# arrive as epoch-nanos BIGINT; normalize to TIMESTAMP_NTZ at ingest —
# integer DIV 1000 truncation matches DuckDB's ns→µs truncation, so the
# correctness oracle sees identical instants.
NANOS_TS_COLUMNS: dict[str, list[str]] = {"events": ["ts"]}


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Confs that change the Spark types parquet columns infer to; a cached
# schema is only reused under the values it was inferred with.
_PARQUET_TYPE_CONFS = (_NANOS_AS_LONG,)

# SparkSession -> {path: (fingerprint, conf values, StructType)}
_SCHEMA_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def enable_parquet_nanos_as_long(spark: SparkSession) -> None:
    """Read parquet TIMESTAMP(NANOS) as epoch-nanos BIGINT. A
    runtime-settable SQL conf, so readers stay safe under driver
    sessions not built by session.build_session."""
    try:
        spark.conf.set(_NANOS_AS_LONG, "true")
    except Exception:
        pass


def _listing_fingerprint(path: str) -> tuple:
    """Sorted ``(name, size, st_mtime_ns)`` of a file, or of every file
    under a directory (names relative to it)."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            st = os.stat(full)
            out.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _read_parquet_cached(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    session and unchanged path (see the module docstring)."""
    if not os.path.exists(path):
        return spark.read.parquet(path)
    key = (_listing_fingerprint(path), tuple(spark.conf.get(c) for c in _PARQUET_TYPE_CONFS))
    entries = _SCHEMA_CACHE.setdefault(spark, {})
    hit = entries.get(path)
    if hit is not None and hit[:2] == key:
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    entries[path] = (*key, df.schema)
    return df


def read_parquet_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Parquet scan of one driver-testdata table, with nanos-timestamp
    normalization for the ``events`` stream table."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if table in NANOS_TS_COLUMNS:
        enable_parquet_nanos_as_long(spark)
    df = _read_parquet_cached(spark, os.path.join(sf_dir, f"{table}.parquet"))
    for c in NANOS_TS_COLUMNS.get(table, []):
        if c in df.columns and isinstance(df.schema[c].dataType, T.LongType):
            df = df.withColumn(
                c,
                F.expr(f"CAST(timestamp_micros(CAST({c} DIV 1000 AS BIGINT)) AS TIMESTAMP_NTZ)"),
            )
    return df


def read_json_table(
    spark: SparkSession, path: str, schema, timestamp_cols: list[str] | None = None
) -> DataFrame:
    """JSON-lines scan with an EXPLICIT schema — inference over JSON is
    doubly banned at scale (it costs a full extra pass AND guesses
    types per-file). ``timestamp_cols`` are read as ISO-8601 strings
    and parsed to TIMESTAMP_NTZ via try_cast (JSON has no timestamp
    type): unparseable values become NULL instead of failing the job
    under ANSI mode — PERMISSIVE end to end, matching the reference's
    tolerance. Catch data-quality fallout with the validation suite's
    completeness checks, not mid-scan exceptions."""
    from pyspark.sql import functions as F

    df = spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)
    for c in timestamp_cols or []:
        df = df.withColumn(c, F.expr(f"try_cast({c} AS TIMESTAMP_NTZ)"))
    return df


def read_orc_table(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC scan (columnar sibling of parquet; Spark-native reader with
    the same pushdown/pruning machinery — `PushedFilters` and pruned
    `ReadSchema` appear in the plan exactly as for parquet). An
    explicit ``schema`` pins types when provided; otherwise ORC's own
    file metadata supplies them (no inference pass — ORC is
    self-describing, unlike CSV/JSON)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    fields: list[tuple[str, int, int, str]],
    trim: bool = True,
) -> DataFrame:
    """Fixed-width (positional) flat-file scan — the mainframe/legacy
    export format the CSV/JSON/ORC reader family lacked. ``fields`` is
    ``[(name, start_1_based, length, spark_type), ...]``; each column
    is carved out of the line with ``substring`` and cast via
    ``try_cast`` (unparseable → NULL, PERMISSIVE like the JSON
    reader, never a mid-scan ANSI failure). ``trim`` strips the
    space padding fixed-width encoders emit.

    Scale: ``spark.read.text`` splits the file like any text source
    (one line per row, parallel by HDFS/object-store block); the
    substring/cast work is pure codegen'd projection — no Python, no
    shuffle. Short lines yield NULL columns (substring past the end is
    empty → try_cast NULL), the classic tolerance for ragged tails."""
    from pyspark.sql import functions as F

    df = spark.read.text(path)
    cols = []
    for name, start, length, dtype in fields:
        c = F.substring(F.col("value"), start, length)
        if trim:
            c = F.trim(c)
        c = F.nullif(c, F.lit(""))
        cols.append(c.try_cast(dtype).alias(name))
    return df.select(*cols)


def load_sf_tables(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Load driver testdata tables as a name→DataFrame dict and register
    each as a temp view (so every operator is also reachable via SQL)."""
    out: dict[str, DataFrame] = {}
    for t in tables or TESTDATA_TABLES:
        df = read_parquet_table(spark, sf_dir, t)
        df.createOrReplaceTempView(t)
        out[t] = df
    return out


def normalize_departments(df: DataFrame) -> DataFrame:
    """Ingest-time normalization of the departments table: accept the
    name column as either ``name`` or ``department_name`` and
    canonicalize it to ``department_name`` (operators alias as
    needed). Mirrors the tolerance at reference
    scripts/transform.py:101-111 and scripts/main.py:94-95 without
    re-probing in every operator."""
    cols = df.columns
    if "department_name" in cols:
        return df
    if "name" in cols:
        return df.withColumnRenamed("name", "department_name")
    # Neither present: degrade gracefully with an 'Unknown' constant
    # column (reference scripts/transform.py:109-111).
    from pyspark.sql import functions as F

    return df.withColumn("department_name", F.lit("Unknown"))


def register_views(spark: SparkSession, sf_dir: str, tables=None) -> list[str]:
    """Register the testdata tables as temp views so the engine is
    usable from plain ``spark.sql`` — the SQL front door next to the
    Python registry (same normalized readers, so ``events.ts`` is a
    proper timestamp in SQL too). Missing tables are skipped silently
    (partial datasets stay usable); returns the registered names."""
    registered = []
    for tb in tables or TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{tb}.parquet")
        if not os.path.exists(path):
            continue
        read_parquet_table(spark, sf_dir, tb).createOrReplaceTempView(tb)
        registered.append(tb)
    return registered
