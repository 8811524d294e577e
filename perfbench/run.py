"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,incremental,query,convert} \\
        --seed N --seconds S --trace {0,1}

Run from a source checkout of argo_spark. Prints progress on stderr and,
as the last line of stdout, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, the per-layer ones with
``--trace 1``. Exits non-zero, printing no result, when the argo_spark
sources are missing or the run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("build", "incremental", "query", "convert")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input size multiplier; the benchmark's own tests shrink the inputs
    p.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "argo_spark", "__init__.py")):
        print(f"perfbench: no argo_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import run

    result = run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), args.scale)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
