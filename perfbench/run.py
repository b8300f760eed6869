"""Benchmark entry point.

    python3 perfbench/run.py --workload {etl_upsert,text_audit,reports}
        --seed N --seconds S --trace {0,1}

``BENCHMARK.json`` lists ``etl_upsert`` and ``text_audit``; ``reports``
runs the same way by hand.

Run from the root of a checkout. The run reads the tables under
``perfbench/data`` and builds its inputs from the seed (cached under
``perfbench/.cache`` and built in a child process, so neither their time
nor their memory is measured), starts one Spark
application on ``local[<usable cores>]``, warms it, measures the workload
for about ``S`` seconds of operation time, checks every output, and prints
one JSON object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same workload with spans around
each layer's public calls and reports the per-layer metrics, writing the
per-operation records to ``perfbench/.cache/traces/``.

Every file the run reads or writes is inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"
# A copy of the repository's sf0.01 test data: the measured tables.
DATA_DIR = HERE / "data" / "sf0.01"
ORACLE_CACHE = CACHE / "oracle-sf0.01.json"
TMP = CACHE / "tmp"

END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_p50_s", "s"),
    ("rows_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]


def process_age_s() -> float:
    """Seconds since this process started, from /proc (outside the
    program: includes interpreter and import time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_spark(app: str):
    from salesanalytics_etl_spark.session import get_spark

    # A fixed heap keeps peak RSS independent of the host's free memory.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    # The launcher JVM that spark-submit runs first writes no /tmp files.
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}"
    return get_spark(
        app_name=app,
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(TMP),
            "spark.sql.warehouse.dir": str(CACHE / "warehouse"),
            "spark.driver.defaultJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}",
        },
    )


def stop_spark(spark) -> None:
    """Stop the application and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def trace_etl_calls(tracer) -> None:
    """Wrap the public functions ``run_pipeline`` reaches in spans."""
    from pyspark.sql.readwriter import DataFrameWriter

    import salesanalytics_etl_spark.etl.pipeline as pipeline

    def wrap(owner, attr, name, rows=False):
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if rows:
                    s.attrs["rows"] = out
            return out

        setattr(owner, attr, traced)

    for attr in ("read_csv_exact", "fk_split", "fk_split_composite", "merge_upsert"):
        wrap(pipeline, attr, attr)
    wrap(pipeline, "write_rejects", "write_rejects", rows=True)
    wrap(DataFrameWriter, "parquet", "parquet")


def etl_dir(seed: int) -> Path:
    return CACHE / "etl-v2" / f"seed-{seed}"


def oracle_sql(workload: str) -> dict[str, str]:
    """The DuckDB oracle of every query of a query workload."""
    from salesanalytics_etl_spark.plans.registry import all_oracles
    from workloads import REPORT_QUERIES, TEXT_QUERIES, select_queries

    wanted = select_queries(REPORT_QUERIES if workload == "reports" else TEXT_QUERIES)
    return {n: s for n, s in all_oracles().items() if n in wanted}


def inputs_ready(workload: str, seed: int) -> bool:
    from check import missing_answers

    if workload == "etl_upsert":
        return etl_dir(seed).exists()
    return not missing_answers(oracle_sql(workload), ORACLE_CACHE)


def prepare(workload: str, seed: int) -> None:
    """Build and cache the run's inputs: the ETL CSVs of the seed, or the
    oracle answers of the workload's queries."""
    import datagen
    from check import oracle_answers
    from workloads import ETL_BATCHES

    if workload == "etl_upsert":
        datagen.write_etl_inputs(DATA_DIR, etl_dir(seed), seed, ETL_BATCHES)
    else:
        oracle_answers(oracle_sql(workload), DATA_DIR, ORACLE_CACHE)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only build and cache the inputs, then exit")
    args = ap.parse_args(argv)

    missing = [p for p in ("salesanalytics_etl_spark/__init__.py", "tests/oracle_diff.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not in a checkout of the package: {missing} missing",
              file=sys.stderr)
        return 2

    # Temporary files of this process, the JVM and the Python workers stay
    # in the checkout; the package and the benchmark's modules are
    # importable by the Python workers too.
    TMP.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(TMP)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [str(ROOT), str(HERE)]

    import layers
    import stats
    from check import oracle_answers
    from spans import Tracer
    from workloads import WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.prepare:
        prepare(args.workload, args.seed)
        return 0

    # --- inputs (cached, untimed) ---
    # Built in a child process, so the memory that generation and the
    # DuckDB oracle take never shows in this process's peak RSS.
    t_gen = time.perf_counter()
    if not inputs_ready(args.workload, args.seed):
        subprocess.run(
            [sys.executable, __file__, "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", "0", "--prepare"],
            check=True, timeout=600,
        )
    etl_inputs, oracle = None, {}
    if args.workload == "etl_upsert":
        etl_inputs = etl_dir(args.seed)
    else:
        oracle = oracle_answers(oracle_sql(args.workload), DATA_DIR, ORACLE_CACHE)
    gen_s = time.perf_counter() - t_gen

    # --- set-up: session up, warmed, ready ---
    t0 = time.perf_counter()
    spark = start_spark(f"perfbench-{args.workload}")
    session_start_s = time.perf_counter() - t0
    work = CACHE / "work" / str(os.getpid())
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Context(spark, tracer, args.seed, args.seconds, DATA_DIR, work,
                      etl_inputs, oracle)
        if args.trace and args.workload == "etl_upsert":
            trace_etl_calls(tracer)
        workload = WORKLOADS[args.workload](ctx)
        workload.warm()
        setup_s = process_age_s() - gen_s

        res = workload.measure()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
        rss = {"python": vm_hwm_mb("self"), "jvm": vm_hwm_mb(jvm_pid)}
        peak_rss_mb = sum(rss.values())
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for failure in res.failed:
        print(f"perfbench FAILED {failure}", file=sys.stderr)
    lat = res.latencies
    if not lat:
        print("perfbench: no operation completed; nothing to report", file=sys.stderr)
        return 1
    tail = stats.highest_percentile(lat)
    print(
        f"perfbench {args.workload} seed={args.seed}: {res.ops} ops, "
        f"{len(lat)} latency samples, p50={stats.median(lat):.3f}s"
        + (f", p{tail[0]}={tail[1]:.3f}s" if tail else "")
        + f", busy={res.busy_s:.1f}s, setup={setup_s:.2f}s, inputs={gen_s:.1f}s"
        + f", peak rss python={rss['python']:.0f}MB jvm={rss['jvm']:.0f}MB"
        + f"\nperfbench latencies: {[round(x, 3) for x in lat]}",
        file=sys.stderr,
    )

    if args.trace:
        path = CACHE / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
        tracer.dump(path)
        print(f"perfbench trace: {path}", file=sys.stderr)
        values = layers.summarize(tracer.ops, session_start_s, tracer.overhead_s)
        metrics = {n: {"value": values[n], "unit": u} for n, u, _ in layers.PER_LAYER}
    else:
        values = {
            "setup_s": setup_s,
            "ops_per_s": res.ops / res.busy_s,
            "op_p50_s": stats.median(lat),
            "rows_per_s": res.rows / res.busy_s,
            "peak_rss_mb": peak_rss_mb,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({
        "correct": not res.failed,
        "attempted": res.ops,
        "failed": len(res.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
