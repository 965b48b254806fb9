#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; with ``--trace 0`` the metrics
are the ``end_to_end`` metrics of BENCHMARK.json, with ``--trace 1`` its
``per_layer`` metrics (0 where a layer is not on the workload's path).
A detail line (corpus sizes, effective Spark conf, host facts, sample
counts, per-query or per-rung figures) is printed just before it.
Exits non-zero without a result line when the run cannot be made or the
program fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# The benchmark's own package, wherever this file sits; the program is
# imported from the working directory (see common.apply_program_env).
BENCH_HOME = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_HOME)

from perfbench.common import (  # noqa: E402
    CheckoutError,
    apply_program_env,
    become_subreaper,
    check_checkout,
    host_facts,
    stop_descendants,
)
from perfbench.sweep import SweepWorkload  # noqa: E402

SWEEPS = {
    "sweep-sf0.1": SweepWorkload(
        "sweep-sf0.1",
        0.1,
        (
            "q01_pricing_summary",  # scan + aggregate
            "q18_large_volume",  # joins + semi-join, the largest shuffle
            "events_user_funnel",  # two Python/Arrow stages, a builder job
            "events_sessionization",  # a ~95k-row result: delivery
        ),
    ),
}
SERVE = "serve-sf0.1"


def load_spec() -> dict:
    with open(os.path.join(BENCH_HOME, "BENCHMARK.json")) as f:
        return json.load(f)


def shape(metrics: dict, declared: list[dict], fill_missing: bool) -> dict:
    """Exactly the declared metrics, in declared order, with their units."""
    out = {}
    for m in declared:
        name = m["name"]
        if name not in metrics:
            if not fill_missing:
                raise KeyError(f"workload did not measure {name}")
            metrics[name] = (0, m["unit"])
        value, unit = metrics[name]
        if unit != m["unit"]:
            raise ValueError(f"{name}: measured in {unit}, declared in {m['unit']}")
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*SWEEPS, SERVE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        check_checkout()
    except CheckoutError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    spec = load_spec()
    apply_program_env()
    become_subreaper()
    try:
        if args.workload in SWEEPS:
            from perfbench import sweep

            result = sweep.run(SWEEPS[args.workload], args.seed, args.seconds, bool(args.trace))
        else:
            from perfbench import serve

            result = serve.run(args.seed, args.seconds, bool(args.trace))
    finally:
        stop_descendants()
    detail = result.pop("detail")
    detail["host"] = host_facts()
    detail["workload"] = args.workload
    end_to_end = shape(result["metrics"], spec["end_to_end"], fill_missing=False)
    # wall-clock and memory figures measured beside the end-to-end ones
    beside = {k: v for k, v in result["metrics"].items() if k not in end_to_end}
    detail["beside"] = {k: v for k, (v, _) in beside.items()}
    layers = result.pop("layers")
    if args.trace:
        # the end-to-end figures of a traced run, for the overhead
        detail["end_to_end"] = {k: v["value"] for k, v in end_to_end.items()}
        result["metrics"] = shape({**layers, **beside}, spec["per_layer"], fill_missing=True)
    else:
        result["metrics"] = end_to_end
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
