"""Source readers (SURVEY.md §2.1 S1/S2).

``read_csv_exact`` mirrors the reference's ``load_csv_exact``
(etl_sales_analytics.py:46-61) Spark-first:

- read with an explicit schema (no inference for structure; value parsing is
  lenient via ``try_cast``, so a bad value is NULL under any ANSI setting),
- keep ONLY the declared columns, in declared order; columns absent from the
  file come back as typed NULLs,
- missing file → empty DataFrame with the declared schema (reference :48-50),
- optionally stamp a ``_seq`` ingest-order column so the keep-last dedupe
  (reference :183-186, pandas ``keep="last"``) has an ordering to key on.

Scale notes: reading with ``PERMISSIVE`` mode + string-typed raw columns and
casting afterwards keeps cast coercion (bad value → NULL) identical to
``pd.to_numeric(errors="coerce")`` while staying fully JVM-side; the header
line is parsed on the driver, so opening a file fires no Spark job. On a real
cluster the ``_seq`` column from ``monotonically_increasing_id`` encodes
(partition id, row-in-partition); it reproduces file order only for a
single-file ordered read — multi-file sources need an explicit ordering
column (SURVEY.md §7.4 risk 1).
"""

from __future__ import annotations

import csv
import os
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from salesanalytics_etl_spark.schemas import DRIVER_TABLES

SEQ_COL = "_seq"


def read_csv_exact(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    with_seq: bool = False,
) -> DataFrame:
    """Read one local CSV file with schema conformance; missing or
    zero-byte file → empty frame.

    All columns are first read as strings, then ``try_cast`` so unparseable
    values yield NULL instead of failing in any session mode — semantics of
    the reference's to_int/to_decimal/pd.to_datetime coercion
    (etl_sales_analytics.py:161-178).
    """
    header = csv_header(spark, path) if os.path.exists(path) else None
    if header is None:
        df = spark.createDataFrame([], schema)
    else:
        # Binding is positional: with ``header`` on, a CSV read with an
        # explicit schema skips the header line and assigns the schema's
        # fields to the file's columns in order. The schema is therefore
        # the FILE's own header names (all strings, in file order), so
        # position and name agree, and conform_columns then binds the
        # declared fields BY NAME: reordered or missing columns never
        # load values under the wrong field.
        raw_schema = T.StructType([T.StructField(n, T.StringType()) for n in header])
        raw = (
            spark.read.schema(raw_schema)
            .option("header", True)
            .option("mode", "PERMISSIVE")
            .csv(path)
        )
        df = conform_columns(raw, schema)
    if with_seq:
        df = df.withColumn(SEQ_COL, F.monotonically_increasing_id())
    return df


def csv_header(spark: SparkSession, path: str) -> list[str] | None:
    """The column names Spark's CSV header read gives ``path``, parsed on
    the driver; None for a file without a header line.

    Mirrors Spark's defaults: UTF-8 with the BOM stripped, ``"`` quotes
    with ``\\`` escapes, blank lines skipped, an empty name becomes
    ``_c<i>`` and a duplicate name (case-insensitive unless
    ``spark.sql.caseSensitive``) becomes ``<name><i>``.
    """
    with open(path, encoding="utf-8-sig", newline="") as f:
        names = next((r for r in csv.reader(f, escapechar="\\") if r), None)
    if names is None:
        return None
    if spark.conf.get("spark.sql.caseSensitive") == "true":
        folded = names
    else:
        folded = [n.lower() for n in names]
    seen = Counter(f for f in folded if f)
    return [
        f"_c{i}" if not n else f"{n}{i}" if seen[f] > 1 else n
        for i, (n, f) in enumerate(zip(names, folded))
    ]


def conform_columns(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Project to exactly the declared columns/order; missing → typed NULL.

    Mirrors reference etl_sales_analytics.py:53-56 (keep only required
    columns, reorder, fill absent with NA) with casts folded in. The casts
    are ``try_cast``: a value the type cannot hold is NULL whatever
    ``spark.sql.ansi.enabled`` says. Pure projection — Catalyst prunes the
    scan to the referenced columns.
    """
    present = set(df.columns)
    cols = []
    for field in schema.fields:
        if field.name in present:
            cols.append(F.col(field.name).try_cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


# DataFrame handles are immutable lazy plans — reusing one per
# (application, dir, table) lets Spark reuse the resolved file index instead
# of re-listing/re-footering parquet on every query of a 39-query sweep.
# Testdata is immutable, so staleness is not a concern. Keyed on
# applicationId, NOT id(spark): CPython reuses object ids after GC, so an
# id-keyed cache could hand a new session DataFrames bound to a dead
# SparkContext.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_driver_tables(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    """Lazily open the driver's parquet tables (TESTDATA.md).

    Parquet scans get predicate pushdown + column pruning from Catalyst;
    no data caching — each query still plans its own pruned scan off the
    shared handle.
    """
    out: dict[str, DataFrame] = {}
    app_id = spark.sparkContext.applicationId
    for name in tables or DRIVER_TABLES:
        key = (app_id, sf_dir, name)
        if key in _TABLE_CACHE:
            out[name] = _TABLE_CACHE[key]
            continue
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            if name == "events":
                # runtime-settable; needed even when the caller's session
                # wasn't built by session.get_spark (e.g. the driver's own)
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(p)
            if name == "events":
                df = nanos_to_timestamp(df, "ts")
            _TABLE_CACHE[key] = df
            out[name] = df
    return out


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """JSON-lines source with declared schema — the standard container for
    text/training-data corpora. PERMISSIVE mode + explicit schema keeps the
    reference's coerce-don't-crash stance: malformed lines yield NULL
    columns (collected in _corrupt_record when declared) instead of
    failing the scan; no schema inference pass over 100 TB.
    """
    if not os.path.exists(path):
        return spark.createDataFrame([], schema)
    return (
        spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)
    )


def nanos_to_timestamp(df: DataFrame, col: str) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (LTZ) however the parquet
    encoded it:

    - TIMESTAMP(NANOS) read as long (legacy nanosAsLong): truncate to micros
      with exact integer division (DIV, not ``/`` — double loses precision
      above 2^53) — matches how micro-precision engines (DuckDB) read the
      same file.
    - tz-naive ``timestamp[us]`` read as TIMESTAMP_NTZ (Spark 4 infers NTZ
      from parquet isAdjustedToUTC=false): cast to LTZ, which preserves the
      wall-clock fields in the session timezone. Watermarks/windows require
      LTZ event time; NTZ is rejected at analysis.

    No-op when the column is already TIMESTAMP."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_driver_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each driver table as a temp view for the ``spark.sql`` surface."""
    tables = load_driver_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
