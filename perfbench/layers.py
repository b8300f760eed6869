"""Per-layer metrics, summed per run from the traced operations.

Span names map to the package's layers:

* ``build`` -> ``plans`` (the query callable, eager jobs included);
* ``plan`` -> ``catalyst`` (``executedPlan``), whose phase times come from
  the query's ``QueryExecution.tracker()``;
* ``action`` -> ``fetch`` (Arrow ``toPandas``);
* ``run_pipeline`` -> ``etl``; ``read_csv_exact``, ``write_rejects`` and
  ``DataFrameWriter.parquet`` -> ``sources``; ``fk_split*`` and
  ``merge_upsert`` -> ``operators``;
* the jobs of every span -> ``exec``.

Times are self times: a span's duration minus its children's. Every metric
is printed on every workload; one whose layer a workload never reaches
reads 0.
"""

from __future__ import annotations

from spans import EXEC_FIELDS

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("plans.build_s", "s", "lower"),
    ("plans.eager_jobs", "count", "lower"),
    ("plans.eager_job_share", "ratio", "lower"),
    ("catalyst.analysis_s", "s", "lower"),
    ("catalyst.optimization_s", "s", "lower"),
    ("catalyst.planning_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_run_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.input_bytes", "bytes", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"),
    ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.spill_bytes", "bytes", "lower"),
    ("exec.failed_tasks", "count", "lower"),
    ("fetch.action_s", "s", "lower"),
    ("fetch.rows", "count", "higher"),
    ("sources.read_csv_s", "s", "lower"),
    ("sources.write_rejects_s", "s", "lower"),
    ("sources.parquet_write_s", "s", "lower"),
    ("sources.reject_rows", "count", "higher"),
    ("operators.fk_split_s", "s", "lower"),
    ("operators.merge_upsert_s", "s", "lower"),
    ("etl.self_s", "s", "lower"),
    ("etl.eager_jobs", "count", "lower"),
    ("etl.write_amplification", "ratio", "lower"),
    ("trace.op_wall_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]

# span name -> per-layer self-time metric
SELF_TIME = {
    "build": "plans.build_s",
    "action": "fetch.action_s",
    "run_pipeline": "etl.self_s",
    "read_csv_exact": "sources.read_csv_s",
    "write_rejects": "sources.write_rejects_s",
    "parquet": "sources.parquet_write_s",
    "fk_split": "operators.fk_split_s",
    "fk_split_composite": "operators.fk_split_s",
    "merge_upsert": "operators.merge_upsert_s",
}


def summarize(ops: list[dict], session_start_s: float, overhead_s: float) -> dict[str, float]:
    """Sum the traced operations' spans into the per-layer metrics."""
    m = dict.fromkeys((name for name, _, _ in PER_LAYER), 0)
    m["session.start_s"] = session_start_s
    m["trace.overhead_s"] = overhead_s
    csv_bytes = target_bytes = 0
    for op in ops:
        m["trace.op_wall_s"] += op["wall_s"]
        csv_bytes += op.get("csv_bytes", 0)
        target_bytes += op.get("target_bytes", 0)
        if op.get("catalyst"):
            for phase, secs in op["catalyst"].items():
                m[f"catalyst.{phase}_s"] += secs
        if "csv_bytes" not in op:
            m["fetch.rows"] += op["rows"]
        for s in op["spans"]:
            if s["name"] in SELF_TIME:
                m[SELF_TIME[s["name"]]] += s["self_s"]
            for f in EXEC_FIELDS:
                m[f"exec.{f}"] += s[f]
            if s["name"] == "build":
                m["plans.eager_jobs"] += s["jobs"]
            elif s["name"] == "run_pipeline":
                m["etl.eager_jobs"] += s["jobs"]
            elif s["name"] == "write_rejects":
                m["sources.reject_rows"] += s.get("rows", 0)
    if m["exec.jobs"]:
        m["plans.eager_job_share"] = m["plans.eager_jobs"] / m["exec.jobs"]
    if csv_bytes:
        m["etl.write_amplification"] = target_bytes / csv_bytes
    return m
