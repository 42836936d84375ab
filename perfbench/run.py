"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload interactive_reads --seed 1 \
        --seconds 16 --trace 0

Run from the root of a source checkout. ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
Exits 2 without a result when the program under test is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import __spark_entry__  # noqa: F401
        import graphlite_spark  # noqa: F401
        import tools.oracle_check  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program under test is missing: {e}",
              file=sys.stderr)
        return 2

    from perfbench.harness import Harness
    from perfbench.suites import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(sorted(WORKLOADS))}")

    h = Harness(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = WORKLOADS[args.workload](h)
    finally:
        h.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
