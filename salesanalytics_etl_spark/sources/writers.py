"""Sinks (SURVEY.md §2.1 S3/S4).

- ``write_rejects`` — the reject sink: FK-violating rows land in a
  per-source CSV audit directory, only when non-empty (reference
  etl_sales_analytics.py:189-206).
- ``write_table`` — parquet table writer, the Spark-native replacement for
  the reference's staging+MERGE machinery (the upsert itself lives in
  operators/upsert.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with an ``Observation`` that counts its rows during the first
    action over it; read ``obs.get["rows"]`` after that action. The count
    costs no job of its own.
    """
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def write_rejects(df: DataFrame, rejects_dir: str, name: str) -> int:
    """Write rejected rows as headered CSV under ``rejects_dir/name``.

    Returns the reject count. Writes only when non-empty, mirroring the
    reference's ``if not bad.empty`` guard (etl_sales_analytics.py:195,204).
    ``df`` is evaluated exactly once: one CSV write to
    ``rejects_dir/name.__stage__`` whose row count an ``Observation``
    collects. A non-empty stage then replaces ``rejects_dir/name``; an
    empty one is deleted and leaves any earlier ``rejects_dir/name`` as
    it was.
    """
    out = os.path.join(rejects_dir, name)
    stage = out + ".__stage__"
    df, rows = observe_rows(df)
    df.write.mode("overwrite").option("header", True).csv(stage)
    n = rows.get["rows"]
    if n > 0:
        shutil.rmtree(out, ignore_errors=True)
        os.rename(stage, out)
    else:
        shutil.rmtree(stage)
    return n


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """Overwrite-write a managed columnar table (parquet or orc).

    ``partition_by`` is the scale lever: the reference's
    ``IX_Orders_OrderDate`` index (schema_sales_analytics.sql:72) becomes
    date-partitioned files so date-range queries prune partitions. Both
    formats get predicate pushdown + column pruning from Catalyst; orc is
    offered for warehouses standardized on it (Hive heritage).
    """
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported table format: {fmt}")
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.format(fmt).save(path)


def compact_parquet(spark, src: str, dst: str, n_files: int) -> int:
    """Rewrite a parquet directory into ``n_files`` files (small-files
    compaction — streaming sinks and fine-grained ingests accumulate
    per-batch files that degrade scan planning at scale).

    Reads from ``src``, writes to ``dst`` (never in place: Spark cannot
    safely overwrite its own input). Returns the row count.
    """
    df = spark.read.parquet(src)
    df.repartition(n_files).write.mode("overwrite").parquet(dst)
    return spark.read.parquet(dst).count()


def backfill_partitions(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Reprocess-and-replace ONLY the partitions present in ``df``
    (dynamic partition overwrite) — the lakehouse backfill primitive.

    Static overwrite would drop every other partition of the table; the
    dynamic mode rewrites just the touched dates, so a late-data
    reprocess of one day never disturbs the rest of a 100 TB table. The
    session config is set per-write and restored (it's a global knob).
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set(key, prev)
