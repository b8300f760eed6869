"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/sweep.py --workload text_audit --seeds 1-10 [--out runs.jsonl]

Runs ``perfbench/run.py`` once per seed, one after another, with the
``run_seconds`` of ``BENCHMARK.json``. Prints, per metric, the median and
the inter-quartile distance as a share of the median (the spread a
metric's bound must cover). ``--out`` appends each run's result line.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--out", type=Path)
    args = ap.parse_args(argv)
    run_seconds = json.loads((HERE.parent / "BENCHMARK.json").read_text())["run_seconds"]

    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(run_seconds), "--trace", "0"],
            capture_output=True, text=True, timeout=600, check=False,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed,
                                    "wall_s": wall, **result}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {wall:.0f}s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']}", file=sys.stderr)

    for name, vs in values.items():
        med = stats.median(vs)
        spread = stats.spread(vs) if len(vs) >= 2 and med else float("nan")
        print(f"{args.workload:>10} {name:<26} median {med:<14.6g} spread {spread:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
