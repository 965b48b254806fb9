#!/usr/bin/env python
"""Round-14/15 optimization measurement harness.

Per query (names as args; all bench queries otherwise):

- steady-state wall time via the bench's own Arrow materialization
  (median of N runs, clearCache+GC between runs — bench.py parity), and
- the guide §1.4 noop-sink time (computes every column, discards the
  result) so the computation is isolated from result delivery, and
- the ``explain("formatted")`` physical plan, written to
  ``plans/<dir>/<query>_<tag>.txt`` when ``--plans TAG`` is given
  (--plans-dir, default r15).

Prints one JSON line per query to stdout; merges into
``OPT_MEASURE.json`` keyed by query so before/after pairs accumulate.

Usage:
  python tools/opt_measure.py [--sf DIR] [--runs N] [--plans TAG] [--label LABEL] [query ...]
"""

# NOTE: no `from __future__ import annotations` — PEP 563 stringized
# hints break pandas_udf's type-hint inference for the warm-up UDF
# (PySparkNotImplementedError: Unsupported signature '(s: pd.Series)').
import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def median(xs):
    xs = sorted(xs)
    return xs[(len(xs) - 1) // 2]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--plans", default=None, help="write plans/<dir>/<q>_<TAG>.txt")
    ap.add_argument("--plans-dir", default="r15")
    ap.add_argument("--label", default=None, help="label for OPT_MEASURE.json entries")
    ap.add_argument("--no-noop", action="store_true")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import pandas as pd  # noqa: F401

    from bench import make_materializer
    from datafusion_dft_spark.registry import all_queries
    from datafusion_dft_spark.session import get_spark, tune_runtime_conf, default_parallelism

    spark = get_spark(app_name="opt-measure")
    tune_runtime_conf(spark, args.sf)
    specs = {n: s for n, s in all_queries().items() if s.bench}
    names = args.queries or list(specs)
    for n in names:
        if n not in specs:
            print(f"unknown query {n}", file=sys.stderr)
            return 2

    # same process warm-up as bench.py
    from pyspark.sql import functions as F

    specs["q01_pricing_summary"].build(spark, args.sf).collect()

    @F.pandas_udf("long")
    def _warm_udf(s: pd.Series) -> pd.Series:
        return s

    (
        spark.range(default_parallelism() * 4)
        .repartition(default_parallelism())
        .select(_warm_udf("id"))
        .collect()
    )

    out = {}
    plans_dir = os.path.join(REPO, "plans", args.plans_dir)
    if args.plans:
        os.makedirs(plans_dir, exist_ok=True)
    for name in names:
        spec = specs[name]
        spark.sparkContext.setJobDescription(f"opt14:{name}")
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        df = spec.build(spark, args.sf)
        run = make_materializer(name, df)
        cold = time.perf_counter() - t0
        arrow_samples = []
        for _ in range(args.runs):
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            run()
            arrow_samples.append(time.perf_counter() - t0)
        noop_samples = []
        if not args.no_noop:
            for _ in range(args.runs):
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                noop_samples.append(time.perf_counter() - t0)
        rec = {
            "arrow_med": round(median(arrow_samples), 4),
            "arrow_min": round(min(arrow_samples), 4),
            "noop_med": round(median(noop_samples), 4) if noop_samples else None,
            "noop_min": round(min(noop_samples), 4) if noop_samples else None,
            "cold": round(cold, 4),
            "sf": args.sf,
            "runs": args.runs,
        }
        if args.plans:
            from datafusion_dft_spark.plans.explain import formatted_plan

            plan = formatted_plan(df)
            with open(os.path.join(plans_dir, f"{name}_{args.plans}.txt"), "w") as f:
                f.write(plan)
            rec["plan"] = f"plans/{args.plans_dir}/{name}_{args.plans}.txt"
        out[name] = rec
        print(json.dumps({name: rec}, separators=(",", ":")), flush=True)
        spark.sparkContext.setJobDescription(None)

    # merge into OPT_MEASURE.json
    path = os.path.join(REPO, "OPT_MEASURE.json")
    try:
        with open(path) as f:
            merged = json.load(f)
        if not isinstance(merged, dict):
            merged = {}
    except (OSError, ValueError):
        merged = {}
    label = args.label or (args.plans or "run")
    for name, rec in out.items():
        merged.setdefault(name, {})[label] = rec
    with open(path, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
