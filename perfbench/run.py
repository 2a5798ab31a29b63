"""Benchmark entry point.

    python3 perfbench/run.py --workload dp_keyed --seed 1 --seconds 30 --trace 0

Run from the root of a checkout: the library is imported from there
(and from nowhere else). The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Workloads, metrics and the layer map are described in
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from harness import ROOT, HERE, Run, prepare_env


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["dp_keyed", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "confidential_storm_spark")):
        print(f"library package confidential_storm_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    prepare_env(run.work)
    import keyed
    import registry

    workload = {"dp_keyed": keyed, "registry": registry}[args.workload]
    try:
        out = workload.traced(run) if run.trace else workload.timed(run)
    finally:
        run.close()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
