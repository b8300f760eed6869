"""Round-over-round per-query floor comparison from the untrimmed bench
files — the analysis the driver's budget-trimmed stdout line cannot
support (r11 lost 16 queries' floors to the tail budget; r12 started
persisting `BENCH_LOCAL_r{N}.json`).

    python -m tools.floor_diff [N_PREV N_CUR] [--threshold-pct=30 | --threshold-pct 30]

With no round arguments, compares the two newest BENCH_LOCAL files.
Prints one line per materially-regressed query (both the absolute and
relative delta filters must trip — small queries jitter in absolute
terms, big ones in relative terms), then a summary with the shared-query
totals. Exit code 1 when any regression crosses the threshold, so a
closing script can gate on it.

The FLOOR (two-pass min) is the regression signal — sweep numbers carry
neighbor effects (GC, JIT order, page cache) that two opposite-order
passes mostly cancel (bench.py's contract since r4's false-alarm 8×
"q08 regression").
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

_REPO = Path(__file__).resolve().parent.parent

ABS_FLOOR_SECONDS = 0.3  # ignore sub-0.3s absolute jitter


def _local_files() -> dict[int, Path]:
    out = {}
    for p in _REPO.glob("BENCH_LOCAL_r*.json"):
        m = re.fullmatch(r"BENCH_LOCAL_r(\d+)\.json", p.name)
        if m:
            out[int(m.group(1))] = p
    return out


def parse_args(argv: list[str]) -> tuple[list[str], float]:
    """Positional round numbers + threshold pct, accepting BOTH
    ``--threshold-pct=NN`` and ``--threshold-pct NN`` (r12 ADVICE: the
    documented space form fell into the positional args and either
    IndexError'd or was misread as a round number)."""
    args: list[str] = []
    pct = 30.0
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--threshold-pct"):
            if "=" in a:
                pct = float(a.split("=", 1)[1])
            else:
                if i + 1 >= len(argv):
                    raise SystemExit(
                        "--threshold-pct needs a value "
                        "(--threshold-pct=NN or --threshold-pct NN)"
                    )
                pct = float(argv[i + 1])
                i += 1
        elif a.startswith("--"):
            raise SystemExit(f"unknown option {a!r}")
        else:
            args.append(a)
        i += 1
    return args, pct


def main() -> int:
    args, pct = parse_args(sys.argv[1:])
    files = _local_files()
    if args:
        prev_n, cur_n = int(args[0]), int(args[1])
    else:
        rounds = sorted(files)
        if len(rounds) < 2:
            print(
                f"floor_diff: need two BENCH_LOCAL files, have {len(rounds)}"
                " — nothing to compare (first round with untrimmed data)"
            )
            return 0
        prev_n, cur_n = rounds[-2], rounds[-1]
    prev_doc = json.loads(files[prev_n].read_text())
    cur_doc = json.loads(files[cur_n].read_text())
    prev, cur = prev_doc["floors"], cur_doc["floors"]
    shared = sorted(set(prev) & set(cur))
    regressions = []  # (delta, query, prev_val, cur_val)
    for q in shared:
        p, c = prev[q], cur[q]
        d = c - p
        if d > ABS_FLOOR_SECONDS and d > p * pct / 100.0:
            regressions.append((d, q, p, c))
    for d, q, p, c in sorted(regressions, reverse=True):
        print(
            f"REGRESSED {q}: {p:.2f}s -> {c:.2f}s "
            f"(+{d:.2f}s, +{d / p * 100:.0f}%)"
        )
    tot_prev = sum(prev[q] for q in shared)
    tot_cur = sum(cur[q] for q in shared)
    print(
        f"floor_diff r{prev_n}->r{cur_n}: {len(shared)} shared queries, "
        f"floor total {tot_prev:.1f}s -> {tot_cur:.1f}s "
        f"({tot_cur / tot_prev:.2f}x), {len(regressions)} regressed "
        f"(> {ABS_FLOOR_SECONDS}s and > {pct:.0f}%)"
    )
    new = sorted(set(cur) - set(prev))
    if new:
        print(
            f"new queries ({len(new)}): "
            + " ".join(f"{q.split('_', 1)[0]}={cur[q]:.2f}s" for q in new)
        )
    return 1 if regressions else 0


if __name__ == "__main__":
    raise SystemExit(main())
