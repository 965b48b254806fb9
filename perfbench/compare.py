#!/usr/bin/env python3
"""Paired comparison of two checkouts with this benchmark.

    python3 perfbench/compare.py --parent DIR --change DIR \\
        [--workload NAME ...] [--pairs 10] [--first-seed 1000] [--held-out SEED]

    python3 perfbench/compare.py --overhead DIR [--workload NAME ...] [--pairs 3]

The first form runs this benchmark's code against both checkouts with
identical settings, in alternating pairs (parent first in even pairs,
change first in odd ones), one seed per pair. For every workload and
end-to-end metric it prints each side's median and quartiles, the pairs
won, and the verdict:

- ``gain``: at least 10 pairs, the change wins at least 9/10 of them and
  the medians are further apart than the parent's interquartile distance;
- ``regression``: the change's median is worse than the parent's by more
  than the metric's bound in BENCHMARK.json;
- ``unresolved``: no regression shown, but the parent's own spread is
  wider than the bound;
- ``no regression`` otherwise.

``--held-out SEED`` adds one pair on a seed kept out of the pairs, shown
apart so a claim can be checked on an input not used while the change
was written.

The second form runs one checkout untraced and traced in alternation and
prints the tracing overhead: traced minus untraced, per end-to-end
metric, as medians over the pairs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import stats  # noqa: E402

RUN_TIMEOUT_S = 900


def load_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One benchmark run with this benchmark's code in ``checkout``;
    returns the result line, with the detail line under ``detail``."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(
            f"{workload} seed {seed} in {checkout}: exit {p.returncode}\n{p.stderr[-2000:]}"
        )
    result = json.loads(lines[-1])
    result["detail"] = json.loads(lines[-2])["detail"]
    if not result["correct"]:
        raise RuntimeError(f"{workload} seed {seed} in {checkout}: outputs incorrect")
    return result


def values(result: dict) -> dict[str, float]:
    return {k: v["value"] for k, v in result["metrics"].items()}


def fmt(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def compare(args, spec: dict) -> int:
    metrics = spec["end_to_end"]
    for workload in args.workload:
        readings: list[tuple[dict, dict]] = []
        for i in range(args.pairs):
            seed = args.first_seed + i
            sides = [("parent", args.parent), ("change", args.change)]
            if i % 2:
                sides.reverse()
            got = {}
            for name, checkout in sides:
                got[name] = values(run_once(checkout, workload, seed, spec["run_seconds"], 0))
                print(f"{workload} pair {i + 1}/{args.pairs} seed {seed} {name} done", file=sys.stderr)
            readings.append((got["parent"], got["change"]))
        print(f"\n== {workload}: {args.pairs} pairs, seeds {args.first_seed}..{args.first_seed + args.pairs - 1}")
        print(f"{'metric':<18} {'parent median [q1, q3]':<30} {'change median [q1, q3]':<30} {'won':>5}  verdict")
        for m in metrics:
            pairs = [(p[m["name"]], c[m["name"]]) for p, c in readings]
            v = stats.paired_verdict(pairs, m["better"], m["bound"])
            print(
                f"{m['name']:<18} {fmt(v.parent):<30} {fmt(v.change):<30} "
                f"{v.wins:>2}/{len(pairs):<2}  {v.label}"
            )
        if args.held_out is not None:
            p = values(run_once(args.parent, workload, args.held_out, spec["run_seconds"], 0))
            c = values(run_once(args.change, workload, args.held_out, spec["run_seconds"], 0))
            print(f"-- held-out seed {args.held_out}")
            for m in metrics:
                sign = 1 if m["better"] == "lower" else -1
                better = sign * (p[m["name"]] - c[m["name"]]) > 0
                print(f"{m['name']:<18} parent {p[m['name']]:.4g}  change {c[m['name']]:.4g}  {'change better' if better else 'change not better'}")
    return 0


def overhead(args, spec: dict) -> int:
    for workload in args.workload:
        untraced: list[dict] = []
        traced: list[dict] = []
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = (0, 1) if i % 2 == 0 else (1, 0)
            for t in order:
                r = run_once(args.overhead, workload, seed, spec["run_seconds"], t)
                (traced if t else untraced).append(r["detail"]["end_to_end"] if t else values(r))
        print(f"\n== {workload}: tracing overhead over {args.pairs} pairs (traced - untraced, medians)")
        for m in spec["end_to_end"]:
            n = m["name"]
            diff = stats.median([t[n] - u[n] for t, u in zip(traced, untraced)])
            base = stats.median([u[n] for u in untraced])
            print(f"{n:<18} {diff:+.4g} {m['unit']} ({diff / base:+.1%} of {base:.4g})")
    return 0


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    p = argparse.ArgumentParser(prog="perfbench/compare.py", description=__doc__.split("\n\n")[0])
    p.add_argument("--parent")
    p.add_argument("--change")
    p.add_argument("--overhead", metavar="DIR", help="measure tracing overhead in one checkout")
    p.add_argument("--workload", action="append", choices=names)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1000)
    p.add_argument("--held-out", type=int)
    args = p.parse_args(argv)
    args.workload = args.workload or names
    if args.overhead:
        return overhead(args, spec)
    if not (args.parent and args.change):
        p.error("give --parent and --change, or --overhead")
    if args.pairs < stats.MIN_PAIRS:
        print(f"compare: fewer than {stats.MIN_PAIRS} pairs cannot show a gain", file=sys.stderr)
    return compare(args, spec)


if __name__ == "__main__":
    raise SystemExit(main())
