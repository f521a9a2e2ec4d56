"""Engine benchmark: one seeded engine lifecycle per run.

    python3 perfbench/run.py --workload zipf --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each run starts a local[nproc] Spark
session, then ingests a synthetic corpus, queries it through Spark and
serves it from the persisted index; a traced run goes on to serve it
from two shards, apply an update cycle and compact. ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer ones (README.md
lists both). The
last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from perfbench import host, streams  # noqa: E402
from perfbench.lifecycle import FULL, SMOKE, Lifecycle  # noqa: E402

TIME_LIMIT_S = 170  # the run must exit within 180 s


def _interrupt(signum, _frame):
    raise TimeoutError(f"benchmark run interrupted by signal {signum}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=streams.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny scale, for self-tests")
    args = ap.parse_args(argv)
    if not (REPO / "golr_loader_spark" / "__init__.py").is_file():
        print(f"engine sources not found under {REPO}", file=sys.stderr)
        return 2
    base = REPO / ".perfbench"
    base.mkdir(exist_ok=True)
    workdir = tempfile.mkdtemp(prefix="run-", dir=base)
    signal.signal(signal.SIGALRM, _interrupt)
    signal.signal(signal.SIGTERM, _interrupt)
    signal.alarm(TIME_LIMIT_S)
    try:
        conf = host.prepare(str(REPO), workdir, bool(args.trace))
        result = Lifecycle(
            args.workload, args.seed, args.seconds, bool(args.trace), workdir,
            out_dir=str(base), scale=SMOKE if args.smoke else FULL,
            spark_conf=conf, cores=os.cpu_count() or 1,
        ).run()
    finally:
        signal.alarm(0)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
