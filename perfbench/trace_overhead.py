"""Tracing overhead: run one workload and seed untraced, traced, traced
and untraced (the order cancels a steady drift in host speed), and
compare the mean walls of the phases both kinds of run share (ingest,
spark_query, serve; a traced run adds shard, update and compaction
after them).

    python3 perfbench/trace_overhead.py --workload zipf --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def phase_walls(args: argparse.Namespace, trace: int) -> dict[str, float]:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    for line in p.stderr.splitlines():
        if line.startswith("[perfbench] phases "):
            return json.loads(line.split("phases ", 1)[1])
    raise RuntimeError("run printed no phase walls")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    runs = {0: [], 1: []}
    for trace in (0, 1, 1, 0):
        runs[trace].append(phase_walls(args, trace))
    plain, traced = (
        {k: sum(r[k] for r in runs[t]) / len(runs[t]) for k in runs[t][0]} for t in (0, 1)
    )
    for k in plain:
        print(f"{k:12s} untraced {plain[k]:7.2f}s  traced {traced[k]:7.2f}s  "
              f"{traced[k] / plain[k] - 1:+.1%}")
    a, b = sum(plain.values()), sum(traced.values())
    print(f"{'total':12s} untraced {a:7.2f}s  traced {b:7.2f}s  {b / a - 1:+.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
