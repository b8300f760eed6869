"""Sinks (SURVEY.md §2.1 S3/S4).

- ``write_rejects`` — the reject sink: FK-violating rows land in a
  per-source CSV audit directory, only when non-empty (reference
  etl_sales_analytics.py:189-206).
- ``write_table`` — parquet table writer, the Spark-native replacement for
  the reference's staging+MERGE machinery (the upsert itself lives in
  operators/upsert.py).
- ``swap_in`` / ``restore_swap`` — the one directory swap behind every
  whole-directory replace (the ETL's tables, ``merge_upsert_table``, the
  reject sink). Spark cannot overwrite a path its plan reads, so the new
  state is written to the stage ``<dst>.__swap_staging__`` and renamed
  into place; the previous ``dst`` waits in the aside copy
  ``<dst>.__swap_old__`` between the two renames. Recovery rule
  (``restore_swap``): with ``dst`` missing, a stage holding ``_SUCCESS``
  is promoted, else the aside copy is restored; with ``dst`` present, a
  leftover aside copy is dropped; an incomplete stage is never touched.
  (``streaming/agg_maintenance.py`` keeps its own ``.compact``/``.old``
  log swap: its reads run beside a live compactor, so its read-side
  recovery only restores and never deletes or promotes a ``.compact``.)
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

STAGE = ".__swap_staging__"
ASIDE = ".__swap_old__"


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
    ``df`` is evaluated exactly once: one CSV write to the stage of
    ``rejects_dir/name`` whose row count an ``Observation`` collects. A
    non-empty stage is then swapped in (:func:`swap_in`); an empty one is
    deleted and leaves any earlier ``rejects_dir/name`` as it was.
    """
    out = os.path.join(rejects_dir, name)
    df, rows = observe_rows(df)
    df.write.mode("overwrite").option("header", True).csv(out + STAGE)
    n = rows.get["rows"]
    if n > 0:
        swap_in(out)
    else:
        shutil.rmtree(out + STAGE)
    return n


def swap_in(dst: str) -> None:
    """Replace ``dst`` with its complete stage ``dst + STAGE``: rename
    ``dst`` aside, rename the stage to ``dst``, drop the aside copy (a
    leftover one is dropped first: the stage supersedes it). A crash
    between the renames leaves ``dst`` missing beside the aside copy and
    the complete stage; :func:`restore_swap` repairs it.
    """
    aside = dst + ASIDE
    shutil.rmtree(aside, ignore_errors=True)
    if os.path.exists(dst):
        os.rename(dst, aside)
    os.rename(dst + STAGE, dst)
    shutil.rmtree(aside, ignore_errors=True)


def restore_swap(dst: str) -> bool:
    """Repair what a crashed :func:`swap_in` left at ``dst``. With ``dst``
    missing, a stage holding ``_SUCCESS`` is promoted (it is the newer,
    complete state), else the aside copy is restored; with ``dst``
    present, a leftover aside copy is dropped. An incomplete stage is
    never touched. Idempotent; returns True when ``dst`` was missing and
    is back.
    """
    stage, aside = dst + STAGE, dst + ASIDE
    restored = False
    if not os.path.exists(dst):
        if os.path.exists(os.path.join(stage, "_SUCCESS")):
            os.rename(stage, dst)
            restored = True
        elif os.path.exists(aside):
            os.rename(aside, dst)
            restored = True
    if os.path.exists(dst):
        shutil.rmtree(aside, ignore_errors=True)
    return restored


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
    mode is a write option, so the session conf is never touched.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )
