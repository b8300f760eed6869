"""The three workloads: ``reports``, ``etl_upsert`` and ``text_audit``.

Each is a closed loop in one Spark application: one operation at a time,
the next sent only when the previous one has returned. ``warm`` runs in
set-up; ``measure`` runs the timed operations and checks every output
outside the timed interval.
"""

from __future__ import annotations

import json
import random
import re
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import types as T

from check import frame_hash

# q01-q17: the reference's 14 reporting queries, its 2 views and the
# keep-last / FK-violation checks.
REPORT_QUERIES = tuple(range(1, 18))
# The dedup / similarity / winnow audit family, in its canonical order.
# Two pairs share a session memo (q25 -> q109, q34 -> q112), so whichever of
# a pair runs first pays the build.
TEXT_QUERIES = (25, 109, 26, 202, 34, 112)
# Row counts for the queries without a DuckDB oracle, on the measured tables.
PINNED_ROWS = {"q25_minhash_neardup": 25, "q34_ann_cosine_ivf": 50}
ETL_BATCHES = 2
# Nominal seconds of one reports pass, one etl_upsert cycle and one
# text_audit pass on 4 cores.
# ``--seconds`` is turned into a whole number of passes or cycles with
# them, so every run of a workload does the same work.
REPORT_PASS_S = 6.5
ETL_CYCLE_S = 14.0
TEXT_PASS_S = 10.0

INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


@dataclass
class Result:
    """What one measured interval produced."""

    latencies: list[float] = field(default_factory=list)  # op_p50_s basis
    busy_s: float = 0.0  # sum of operation wall times
    ops: int = 0
    rows: int = 0
    failed: list[str] = field(default_factory=list)


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    seconds: float
    data_dir: Path  # the measured tables
    work_dir: Path  # scratch space this run may write
    etl_dir: Path | None = None  # etl inputs for this seed
    oracle: dict = field(default_factory=dict)


def select_queries(numbers) -> dict:
    from salesanalytics_etl_spark.plans.registry import all_queries

    wanted = set(numbers)
    return {
        n: fn for n, fn in all_queries().items()
        if int(re.match(r"q(\d+)_", n).group(1)) in wanted
    }


def run_query(ctx: Context, name: str, fn, res: Result | None,
              data_dir: Path | None = None) -> None:
    """One query: build the DataFrame, fetch it through Arrow, check it
    (unless ``res`` is None: a warm-up run)."""
    tr = ctx.tracer
    with tr.operation(name):
        t0 = time.perf_counter()
        with tr.span("build"):
            df = fn(ctx.spark, str(data_dir or ctx.data_dir))
        if tr.enabled:
            with tr.span("plan"):
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        with tr.span("action"):
            pdf = df.toPandas()
        wall = time.perf_counter() - t0
    if res is None:
        return
    integral = {f.name for f in df.schema.fields if isinstance(f.dataType, INTEGRAL)}
    want = ctx.oracle.get(name)
    if want is not None:
        ok = want["rows"] == len(pdf) and want["hash"] == frame_hash(pdf, integral)
    else:
        ok = PINNED_ROWS[name] == len(pdf)
    res.latencies.append(wall)
    res.busy_s += wall
    res.ops += 1
    res.rows += len(pdf)
    if not ok:
        res.failed.append(f"{name}: wrong result ({len(pdf)} rows)")
    tr.record(name, wall_s=wall, rows=len(pdf), correct=ok,
              catalyst=tr.catalyst_phases(df) if tr.enabled else None)


def guarded(res: Result, name: str, call) -> None:
    """Run operations; an exception counts as one failed operation, and
    its time as busy time so a failing loop still ends."""
    t0 = time.perf_counter()
    try:
        call()
    except Exception as ex:  # one broken operation must not end the run
        res.ops += 1
        res.busy_s += time.perf_counter() - t0
        res.failed.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")


# --- reports -------------------------------------------------------------------


class Reports:
    """q01-q17 in passes over one session; the seed shuffles each pass."""

    name = "reports"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.queries = select_queries(REPORT_QUERIES)

    def warm(self) -> None:
        for name in sorted(self.queries):
            run_query(self.ctx, name, self.queries[name], None)

    def measure(self) -> Result:
        res, rng = Result(), random.Random(self.ctx.seed)
        for _ in range(max(1, round(self.ctx.seconds / REPORT_PASS_S))):
            order = sorted(self.queries)
            rng.shuffle(order)
            for name in order:
                guarded(res, name, lambda n=name: run_query(self.ctx, n, self.queries[n], res))
        return res


# --- text_audit ----------------------------------------------------------------


class TextAudit:
    """Passes of the audit family in seed order, each over its own copy of
    the tables: every session memo and table cache keys on the path, so
    each pass starts with cold memos, as in a fresh application."""

    name = "text_audit"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.queries = select_queries(TEXT_QUERIES)

    def _pass(self, tag: str, order: list[str], res: Result | None) -> None:
        tables = self.ctx.work_dir / f"tables-{tag}"
        shutil.copytree(self.ctx.data_dir, tables)
        for name in order:
            if res is None:
                run_query(self.ctx, name, self.queries[name], None, tables)
            else:
                guarded(res, name, lambda n=name: run_query(
                    self.ctx, n, self.queries[n], res, tables))

    def warm(self) -> None:
        # One pass first: JIT, codegen and the Python workers warm up (cold
        # code swung the pass by 20% from run to run).
        self._pass("warm", sorted(self.queries), None)

    def measure(self) -> Result:
        res, rng = Result(), random.Random(self.ctx.seed)
        for i in range(max(1, round(self.ctx.seconds / TEXT_PASS_S))):
            order = sorted(self.queries)
            rng.shuffle(order)
            self._pass(str(i), order, res)
        return res


# --- etl_upsert ----------------------------------------------------------------


class EtlUpsert:
    """The reference ETL: a full load into an empty target, then the
    incremental batches upserted into it; repeated in whole cycles."""

    name = "etl_upsert"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.expected = json.loads((ctx.etl_dir / "expected.json").read_text())

    def _run(self, i: int, target: Path, existing, res: Result | None):
        from salesanalytics_etl_spark.etl.pipeline import run_pipeline

        ctx, tr = self.ctx, self.ctx.tracer
        batch = ctx.etl_dir / f"batch_{i:02d}"
        rejects = ctx.work_dir / "rejects" / f"{target.name}-{i:02d}"
        name = "load" if i == 0 else f"batch_{i:02d}"
        with tr.operation(name):
            t0 = time.perf_counter()
            with tr.span("run_pipeline"):
                out = run_pipeline(ctx.spark, str(batch), target_dir=str(target),
                                   rejects_dir=str(rejects), existing=existing)
            wall = time.perf_counter() - t0
        if res is None:
            return out
        want = self.expected[i]
        ok = out.counts == want["counts"] and out.reject_counts == want["rejects"]
        res.ops += 1
        res.busy_s += wall
        res.rows += want["rows"]
        if i > 0:  # op_p50_s is the median incremental batch
            res.latencies.append(wall)
        if not ok:
            res.failed.append(f"{name}: counts {out.counts} rejects {out.reject_counts}")
        if tr.enabled:
            written = sum(f.stat().st_size for f in target.rglob("*.parquet"))
            tr.record(name, wall_s=wall, rows=want["rows"], correct=ok,
                      csv_bytes=want["csv_bytes"], target_bytes=written)
        return out

    def _cycle(self, tag: str, res: Result | None, n_batches: int) -> None:
        target = self.ctx.work_dir / f"target-{tag}"
        shutil.rmtree(target, ignore_errors=True)
        out = None
        for i in range(n_batches + 1):
            out = self._run(i, target, out.tables if out else None, res)
        shutil.rmtree(target, ignore_errors=True)
        shutil.rmtree(self.ctx.work_dir / "rejects", ignore_errors=True)

    def warm(self) -> None:
        self._cycle("warm", None, 0)

    def measure(self) -> Result:
        res = Result()
        for cycle in range(max(1, round(self.ctx.seconds / ETL_CYCLE_S))):
            # a failed run ends its cycle: the next batch has no target
            guarded(res, f"cycle {cycle}",
                    lambda c=cycle: self._cycle(f"c{c}", res, ETL_BATCHES))
        return res


WORKLOADS = {w.name: w for w in (Reports, EtlUpsert, TextAudit)}
