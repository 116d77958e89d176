"""Benchmark of the spark-linkage record-linkage engine.

    python3 perfbench/run.py --workload {batch,stream} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a source checkout: the engine package
(``ai_data_matching_spark/``) is imported from the directory above this
one, and everything the run writes goes to ``.perfbench_runs/`` there and
is deleted on exit. Prints one ``name value unit`` line per metric and, as
the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the ``end_to_end`` metrics of BENCHMARK.json, ``--trace 1`` its
``per_layer`` ones from a traced run. Workloads, sizes and metric
meanings: README.md here.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SPEC = os.path.join(ROOT, "BENCHMARK.json")


def metric_units(trace: bool) -> dict[str, str]:
    """The metrics a run prints, name → unit, from BENCHMARK.json:
    ``end_to_end`` untraced, ``per_layer`` traced."""
    with open(SPEC) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["batch", "stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument(
        "--pages", type=int, default=0, help="corpus size override (smoke tests)"
    )
    p.add_argument(
        "--inject-wrong",
        action="store_true",
        help="flip one page's cluster label before each check (harness test)",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(SPEC) or not os.path.isdir(
        os.path.join(ROOT, "ai_data_matching_spark")
    ):
        print(
            f"perfbench: {ROOT} lacks BENCHMARK.json or the "
            "ai_data_matching_spark package; run from a source checkout",
            file=sys.stderr,
        )
        return 2
    # a terminated run still stops Spark and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from harness import Host
    from workloads import WORKLOADS

    host = Host(
        os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{os.getpid()}")
    )
    try:
        out = WORKLOADS[args.workload](
            host, args.seed, args.seconds, bool(args.trace), args
        )
    finally:
        host.close()

    ops = out["ops"]
    attempted = sum(r.get("n_ops", 1) for r in ops)
    failed = sum(r.get("n_ops", 1) for r in ops if not r.get("ok"))
    units = metric_units(bool(args.trace))
    unknown = set(out["metrics"]) - set(units) - set(metric_units(not args.trace))
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    absent = [name for name in units if name not in out["metrics"]]
    if absent:
        print(
            f"perfbench: not run by this workload: {' '.join(absent)}",
            file=sys.stderr,
        )
    metrics = {
        name: {"value": float(out["metrics"].get(name, 0.0)), "unit": unit}
        for name, unit in units.items()
    }
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
