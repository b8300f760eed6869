"""End-to-end ETL pipeline — the reference's dataflow (SURVEY.md §2.13),
Spark-first.

``main()`` in the reference (etl_sales_analytics.py:302-330) composes:
CSV scan+conform+trim → coercing casts → drop-null-keys → keep-last dedupe
→ FK validation with reject sinks (orders BEFORE details — cascade order,
:198→:201) → stage → MERGE upsert → counts.

Here the staging tables disappear (they exist only to feed SQL Server's
MERGE); the upsert is the anti-join+union rewrite over the parquet target.
Error stance preserved: coerce, don't crash — bad values → NULL, bad rows →
reject files, missing files → empty frames.

Scale: each input is parsed, trimmed and deduped exactly once per run.
Every cleaned table is materialized with ``localCheckpoint()`` and its row
count observed in that same job, so the empty-parent guards read a number
instead of firing jobs; ``orders_ok`` (parent of the detail FK and input of
the orders MERGE) is checkpointed too. Every downstream action (reject
writes, staged parquet writes) therefore starts from the materialized rows,
and keep, reject and merge all see the same ``_seq``-ordered dedupe.
Reject counts, and the final counts when ``target_dir`` is set, are
observed on their writes instead of counted by a separate job.

The actions run in three waves; the actions of one wave do not depend on
each other and run concurrently, each on its own thread in the caller's
job group: (1) the four read → clean → checkpoint chains; (2) the
``orders_ok`` checkpoint and the ``orders`` reject write; (3) the
``order_details`` reject write and the four staged parquet writes (the
four final counts without ``target_dir``). Most of these jobs are one
task, so on a multi-core driver they overlap instead of queueing. Table
directories are swapped only after every write of wave 3 has succeeded:
a failed batch swaps no table and leaves no stage behind. The swapped
tables are re-read with the schemas they were written with, so no read
fires a schema-inference job.

The swap is ``sources.writers.swap_in``, the same one
``merge_upsert_table`` and the reject sink use, and a crash mid-swap is
repaired by its one rule (``restore_swap``, run over ``target_dir`` by
``recover_interrupted_swap`` before any write): a missing table gets its
complete stage, else its aside copy back; an incomplete stage is never
promoted.

Only this driver materializes: ``fk_split*`` and ``merge_upsert`` stay
lazy because queries compose them into their own plans. Catalyst pushes
the null-key filters into the scan, the dedupe is the only wide op per
table, and FK validation broadcasts parent key sets (dims ≪ facts at
100 TB).
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from salesanalytics_etl_spark.operators.cleaning import (
    dedupe_keep_last,
    drop_null_keys,
    trim_strings,
)
from salesanalytics_etl_spark.operators.integrity import fk_split, fk_split_composite
from salesanalytics_etl_spark.operators.upsert import merge_upsert
from salesanalytics_etl_spark.schemas import (
    DEDUPE_KEYS,
    PRIMARY_KEYS,
    REFERENCE_SCHEMAS,
)
from salesanalytics_etl_spark.sources.readers import read_csv_exact
from salesanalytics_etl_spark.sources.writers import (
    ASIDE,
    STAGE,
    observe_rows,
    restore_swap,
    swap_in,
    write_rejects,
)


@dataclass
class PipelineResult:
    tables: dict[str, DataFrame]
    reject_counts: dict[str, int] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)


def clean_table(raw: DataFrame, name: str) -> DataFrame:
    """trim → drop-null-keys → keep-last dedupe (reference :171-186)."""
    df = trim_strings(raw)
    df = drop_null_keys(df, PRIMARY_KEYS[name])
    return dedupe_keep_last(df, DEDUPE_KEYS[name])


def recover_interrupted_swap(target_dir: str) -> list[str]:
    """Run :func:`restore_swap` on every table of ``target_dir`` that has
    a stage or aside copy beside it, so a crash mid-swap never leaves a
    table invisible.

    Public and idempotent — a caller restarting an incremental run must
    invoke this (or ``run_pipeline`` with the same ``target_dir``, which
    calls it first) BEFORE reading prior state from ``target_dir``;
    recovery inside the write loop alone would be too late for a caller
    whose ``spark.read.parquet`` of the missing table path fails first.
    Returns the table names restored.
    """
    if not os.path.isdir(target_dir):
        return []
    bases = {
        entry[: -len(suffix)]
        for entry in os.listdir(target_dir)
        for suffix in (STAGE, ASIDE)
        if entry.endswith(suffix)
    }
    return [b for b in sorted(bases) if restore_swap(os.path.join(target_dir, b))]


def _concurrently(spark: SparkSession, *thunks: Callable[[], Any]) -> list[Any]:
    """Call every thunk on a thread of its own; return their results in
    order once all have finished, or raise the first failure then.

    Each thread starts with its own copy of the caller's Spark local
    properties, so its jobs run in the caller's job group, and a
    ``setJobGroup`` inside one thunk cannot retarget its siblings.
    """
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
    return [f.result() for f in futures]


def run_pipeline(
    spark: SparkSession,
    data_dir: str,
    target_dir: str | None = None,
    rejects_dir: str | None = None,
    existing: dict[str, DataFrame] | None = None,
) -> PipelineResult:
    """Run the full ETL over ``data_dir/{customers,products,orders,
    order_details}.csv``; upsert into ``existing`` state (or fresh).

    Spark actions that do not depend on each other run concurrently, in
    three waves: (1) the four read → clean → checkpoint chains; (2) the
    ``orders_ok`` checkpoint and the ``orders`` reject write; (3) the
    ``order_details`` reject write and the four staged table writes (the
    four final counts without ``target_dir``). With ``target_dir``, no
    table directory is swapped until every write of wave 3 has succeeded
    (a failed batch leaves all four tables as they were), and the four
    swapped tables are then re-read with the schemas they were written
    with.

    Returns final table states + reject/row counts (the reference's
    [COUNT]/[WARN] reporting, :295-299).
    """
    rejects_dir = rejects_dir or os.path.join(data_dir, "rejects")

    # Wave 1: parse, trim and dedupe each input once; the empty-parent
    # guards below read the observed row counts.
    def clean_once(name: str, schema: T.StructType) -> tuple[DataFrame, int]:
        raw = read_csv_exact(
            spark, os.path.join(data_dir, f"{name}.csv"), schema, with_seq=True
        )
        df, rows = observe_rows(clean_table(raw, name))
        df = df.localCheckpoint()
        return df, rows.get["rows"]

    cleaned = _concurrently(
        spark, *(partial(clean_once, *item) for item in REFERENCE_SCHEMAS.items())
    )
    clean = {name: df for name, (df, _) in zip(REFERENCE_SCHEMAS, cleaned)}
    n_clean = {name: rows for name, (_, rows) in zip(REFERENCE_SCHEMAS, cleaned)}
    customers, products = clean["customers"], clean["products"]
    orders, details = clean["orders"], clean["order_details"]

    reject_counts: dict[str, int] = {}

    # Reference guard (etl_sales_analytics.py:196-199): FK validation is
    # SKIPPED when the parent frame is empty/missing — children pass
    # through, zero rejects. Without this, the anti-join against an empty
    # key set would reject every child row (and cascade to an empty
    # warehouse on a missing customers.csv).

    # FK: orders→customers first (cascade order, reference :198)
    if n_clean["customers"] == 0:
        orders_ok, orders_bad = orders, orders.limit(0)
        keep_ok = lambda: orders_ok
    else:
        orders_ok, orders_bad = fk_split(orders, customers, "CustomerID")
        # parent of the detail FK and input of the orders MERGE: join once
        keep_ok = orders_ok.localCheckpoint
    # Wave 2: the checkpoint and the orders reject write.
    orders_ok, reject_counts["orders"] = _concurrently(
        spark, keep_ok, partial(write_rejects, orders_bad, rejects_dir, "orders")
    )

    # FK: details→{post-filter orders, products}, conjunctive (reference :200-207).
    # The skip guard tests the PRE-filter parent: the reference's guard is
    # about a missing/empty parent FILE. A batch whose orders all failed
    # their own FK has a non-empty file — details must validate against
    # the (empty) post-filter set and be rejected as orphans, not pass
    # through unvalidated.
    detail_edges = []
    if n_clean["orders"] > 0:
        detail_edges.append((orders_ok, "OrderID", "OrderID"))
    if n_clean["products"] > 0:
        detail_edges.append((products, "ProductID", "ProductID"))
    if detail_edges:
        details_ok, details_bad = fk_split_composite(details, detail_edges)
    else:
        details_ok, details_bad = details, details.limit(0)

    validated = {
        "customers": customers,
        "products": products,
        "orders": orders_ok,
        "order_details": details_ok,
    }

    # MERGE upsert into target state (M1); idempotent by construction.
    final: dict[str, DataFrame] = {}
    for name, incoming in validated.items():
        target = (existing or {}).get(name)
        final[name] = merge_upsert(target, incoming, DEDUPE_KEYS[name])

    reject_details = partial(write_rejects, details_bad, rejects_dir, "order_details")
    if not target_dir:
        # Wave 3 without a target: the details rejects and the counts.
        reject_counts["order_details"], *n_final = _concurrently(
            spark, reject_details, *(df.count for df in final.values())
        )
        counts = dict(zip(final, n_final))
        return PipelineResult(tables=final, reject_counts=reject_counts, counts=counts)

    # Stage-and-swap: on an incremental run, `existing` tables were read
    # from these very paths, and Spark rejects overwriting a path its own
    # plan is reading ("Cannot overwrite a path that is also being read
    # from"). Write beside, then swap directories.
    #
    # Crash recovery BEFORE writing (see recover_interrupted_swap): an
    # interrupted swap never silently loses a table. Callers restarting an
    # incremental run should call it themselves before reading prior state.
    recover_interrupted_swap(target_dir)
    paths = {name: os.path.join(target_dir, name) for name in final}

    def stage(name: str) -> int:
        out = paths[name] + STAGE
        shutil.rmtree(out, ignore_errors=True)
        df, rows = observe_rows(final[name])
        df.write.mode("overwrite").parquet(out)
        return rows.get["rows"]

    # Wave 3: the details rejects and every staged write. A failure swaps
    # nothing and drops every stage, so no later recovery promotes one.
    try:
        reject_counts["order_details"], *n_final = _concurrently(
            spark, reject_details, *(partial(stage, name) for name in final)
        )
    except BaseException:
        for dst in paths.values():
            shutil.rmtree(dst + STAGE, ignore_errors=True)
        raise
    for dst in paths.values():
        swap_in(dst)
    counts = dict(zip(final, n_final))
    tables = {
        name: spark.read.schema(final[name].schema).parquet(dst)
        for name, dst in paths.items()
    }
    return PipelineResult(tables=tables, reject_counts=reject_counts, counts=counts)
