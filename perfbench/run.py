"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload crawl_deep --seed 1 --seconds 5 --trace 0

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``,
``--trace 1`` the per-layer ones (0 where a layer has no work in the
workload).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    # Spark's Python workers import the program from the checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import cord19_crawler_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import crawl, queries
    from perfbench.common import Work

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    module = crawl if args.workload in crawl.WORKLOADS else queries
    work = Work(ROOT, f"{args.workload}-{args.seed}")
    try:
        attempted, failed, errors, measured = module.run(
            work, args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        work.remove()
    for err in errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    unknown = set(measured) - set(units)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    if not args.trace and set(measured) != set(units):
        raise RuntimeError(f"end-to-end metrics not measured: {sorted(set(units) - set(measured))}")
    metrics = {}
    for name, unit in units.items():
        value, got_unit = measured.get(name, (0.0, unit))
        if got_unit != unit:
            raise RuntimeError(f"{name}: unit {got_unit} != {unit} in BENCHMARK.json")
        metrics[name] = {"value": value, "unit": unit}
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
