"""Round-closing gate runner: one command, the full closing discipline.

    python -m tools.close_round [--skip-bench] [--skip-tests]

Runs, in order, and fails loudly on the first red:
0. the full pytest suite (unless --skip-tests), its pass/skip/fail
   counts + duration embedded in the artifact;
1. full-surface sweep under a DEFAULT session (no ansi/timeZone pins —
   Spark 4 defaults ANSI ON; the driver builds its own session, so the
   surface must not depend on `get_spark`'s pins) at sf0.01, entry
   smoke included;
2. the exchange-sensitive sf0.1 gate (`tools/exchange_gate.py` — the
   volume where range-exchange boundary sampling is real; this caught
   q156's double-division median pick in r11 after the sf0.01 gate
   certified it green);
3. `bench.py` (unless --skip-bench), asserting the JSON line parses.

Each step is a fresh subprocess so session pins can't leak between
steps, and each step's full output still streams to the console.

On success it WRITES ``CLOSE_r{N}.json`` — a machine-written closing
artifact (sweep counts, discovered exchange-gate list, bench line,
LEAKCHECK echo) so the next round's judge audits a recorded result
instead of re-deriving every claim from a prose round note (r11
verdict item 5). This exists because the closing steps were previously
a checklist in a round note — and checklists drift (r10's roll list
missed an entry; r11 made the list mechanical, this makes the RUN
mechanical and its RESULT durable).
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

_ANSI_SWEEP = r"""
import json
import sys
sys.path.insert(0, %(repo)r)
sys.path.insert(0, %(repo)r + "/tests")
import __spark_entry__ as e
from pyspark.sql import SparkSession
from strict_gate import strict_compare

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "16")
         .config("spark.ui.enabled", "false").getOrCreate())
assert spark.conf.get("spark.sql.ansi.enabled") == "true", "expected ANSI-on default"
assert len(e.entry(spark).collect()) > 0, "entry smoke: 0 rows"
qs, os_ = e.queries(), e.oracle_sql()
n_green = n_no_oracle = 0
reds = []
for name, fn in qs.items():
    sql = os_.get(name)
    try:
        if sql is None:
            fn(spark, "/root/testdata/sf0.01").count()
            n_no_oracle += 1
            continue
        probs = strict_compare(fn(spark, "/root/testdata/sf0.01"), sql,
                               "/root/testdata/sf0.01")
    except Exception as ex:
        probs = [repr(ex)[:300]]
    if probs:
        reds.append(name)
        print("RED", name, probs, flush=True)
    else:
        n_green += 1
print("ANSI sweep:", "ALL GREEN" if not reds else f"{len(reds)} RED")
print("SWEEP_JSON " + json.dumps({
    "green": n_green, "no_oracle": n_no_oracle, "red": len(reds),
    "red_names": reds, "entry_smoke": "green"}))
sys.exit(1 if reds else 0)
"""


def _current_round() -> int:
    """Shared with bench.py (r12 ADVICE: two divergent round-inference
    helpers meant a round stamping CORRECTNESS without BENCH would
    mislabel the BENCH_LOCAL slot)."""
    from bench import current_round

    return current_round(_REPO)


def _run_capture(argv: list[str], label: str, env: dict | None = None) -> str:
    """Run a step, stream its output, return stdout; exit loudly on red."""
    print(f"==> {label}", flush=True)
    out = subprocess.run(argv, cwd=_REPO, capture_output=True, text=True,
                         env=env)
    sys.stdout.write(out.stdout)
    sys.stderr.write(out.stderr[-2000:])
    if out.returncode != 0:
        raise SystemExit(f"close_round: {label} FAILED (rc={out.returncode})")
    return out.stdout


def _recheck_floors(names: list[str], n_runs: int = 3) -> dict[str, float]:
    """Interleaved re-measure of flagged queries in one fresh session
    (the same SF dir bench ran, so floors are comparable); returns
    {query: floor_seconds}.
    """
    import os
    import time

    import __spark_entry__ as entry
    from salesanalytics_etl_spark.session import get_spark

    spark = get_spark(app_name="close_recheck")
    qs = entry.queries()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out: dict[str, float] = {}
    for name in names:
        fn = qs.get(name)
        if fn is None:
            continue
        fn(spark, sf_dir).toPandas()  # warm JIT/footers
        runs = []
        for _ in range(n_runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).toPandas()
            runs.append(time.perf_counter() - t0)
        out[name] = round(min(runs), 3)
        print(
            f"recheck {name}: floor {out[name]}s"
            f" (runs {[round(r, 2) for r in runs]})"
        )
    return out


def main() -> None:
    skip_bench = "--skip-bench" in sys.argv
    skip_tests = "--skip-tests" in sys.argv
    artifact: dict = {"round": _current_round()}

    if not skip_tests:
        # The full suite IS part of the closing discipline (r12 verdict
        # item 5: the round note claimed suite counts the artifact never
        # carried) — run it first so a red test fails the close before
        # the multi-minute sweep/bench steps. SPARK_GRAFT_SLOW_TESTS=1:
        # the close runs the FULL profile including the ~20 slowest
        # e2e/restart-parity tests that the default (driver-window)
        # profile skips — see tests/conftest.py (r17, verdict item 2).
        import os as _os

        t_out = _run_capture(
            [sys.executable, "-m", "pytest", "tests/", "-q"],
            "pytest tests/ (full suite incl. slow profile)",
            env={**_os.environ, "SPARK_GRAFT_SLOW_TESTS": "1"},
        )
        m = re.search(
            r"(?:(\d+) failed, )?(\d+) passed(?:, (\d+) skipped)?"
            r".* in ([0-9.]+)s",
            t_out,
        )
        artifact["pytest"] = {
            "failed": int(m.group(1) or 0) if m else None,
            "passed": int(m.group(2)) if m else None,
            "skipped": int(m.group(3) or 0) if m else None,
            "seconds": float(m.group(4)) if m else None,
        }

    sweep_out = _run_capture(
        [sys.executable, "-c", _ANSI_SWEEP % {"repo": _REPO}],
        "full-surface DEFAULT-session (ANSI-on) sweep @ sf0.01",
    )
    for line in sweep_out.splitlines():
        if line.startswith("SWEEP_JSON "):
            artifact["sweep_sf001"] = json.loads(line[len("SWEEP_JSON "):])

    gate_out = _run_capture(
        [sys.executable, "-m", "tools.exchange_gate", "/root/testdata/sf0.1"],
        "exchange-sensitive strict gate @ sf0.1",
    )
    m = re.search(r"exchange-sensitive queries \((\d+),[^)]*\): (.+)", gate_out)
    artifact["exchange_gate_sf01"] = {
        "n_queries": int(m.group(1)) if m else None,
        "names": m.group(2).split() if m else [],
        "green": sum(1 for ln in gate_out.splitlines()
                     if ln.startswith("GREEN ")),
        "red": sum(1 for ln in gate_out.splitlines()
                   if ln.startswith("RED ")),
    }

    if not skip_bench:
        bench_out = _run_capture([sys.executable, "bench.py"], "bench @ sf0.1")
        line = bench_out.strip().splitlines()[-1]
        parsed = json.loads(line)  # raises on malformed line
        print(
            f"bench: value={parsed['value']} value_min={parsed['value_min']} "
            f"len={len(line)}"
        )
        from bench import local_bench_path

        local = local_bench_path()
        artifact["bench_sf01"] = {
            "driver_line": parsed,
            "line_len": len(line),
            "untrimmed_file": local.name if local.exists() else None,
        }

    # floor-vs-floor report (non-fatal: a "regression" here is a
    # review-me signal, settled by the recheck below, not a gate — the
    # artifact records it either way)
    fd = subprocess.run(
        [sys.executable, "-m", "tools.floor_diff"],
        cwd=_REPO,
        capture_output=True,
        text=True,
    )
    sys.stdout.write(fd.stdout)
    artifact["floor_diff"] = {
        "rc": fd.returncode,
        "lines": fd.stdout.strip().splitlines()[-12:],
    }
    flagged = re.findall(r"^REGRESSED (q\w+):", fd.stdout, re.M)
    if flagged:
        # Cross-process floor comparisons flap with bench order and
        # machine load (r13: two flagged rows re-measured at/below their
        # prior floors) — re-time every flagged query interleaved in ONE
        # warm session, the only comparison the verify notes trust, and
        # record both numbers so the artifact itself settles
        # noise-vs-regression.
        artifact["floor_diff"]["recheck"] = _recheck_floors(flagged)

    # The echo embeds whatever LEAKCHECK.json is on disk AT CLOSE TIME,
    # which is the PREVIOUS round's file (the driver writes this round's
    # after the close) — the key says so and the file's own round rides
    # along, so the artifact audits standalone (r12 verdict item 5).
    leak = Path(_REPO) / "LEAKCHECK.json"
    if leak.exists():
        try:
            data = json.loads(leak.read_text())
            artifact["leakcheck_prev_round_echo"] = {
                "round_of_file": data.get("round"),
                "note": "LEAKCHECK.json as on disk at close time — the "
                "driver writes the closing round's file AFTER the close",
                "content": data,
            }
        except ValueError:
            artifact["leakcheck_prev_round_echo"] = "unparseable"

    out_path = Path(_REPO) / f"CLOSE_r{artifact['round']:02d}.json"
    out_path.write_text(json.dumps(artifact, indent=1) + "\n")
    print(f"close_round: ALL GATES GREEN -> {out_path.name}")


if __name__ == "__main__":
    main()
