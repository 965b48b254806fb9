#!/usr/bin/env python
"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR.

Reference analog: dft's ``--bench`` mode
(crates/datafusion-app/src/local.rs:366-504) which times each query over
N iterations. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Methodology (round-3 overhead work):

- **Arrow materialization** (round 6; collect() in rounds 3-5) — every
  result fully materializes to the driver as Arrow batches
  (``df.toArrow()``, the same engine-native delivery path the
  FlightSQL server streams), falling back to ``collect()`` for plans
  Arrow can't carry. Like collect(), this is immune to the
  count()-pruning hazard the earlier noop sink guarded against; unlike
  collect(), it doesn't bill per-row Python ``Row`` construction to
  the query — the DuckDB proxy's ``fetchall()`` materializes at the C
  level, so row-loop materialization made every high-output query
  (events_sessionization returns ~1M rows at sf1) look ~3x slower
  than the engine actually ran it.
- **Plan once, execute n times** — each query's DataFrame is built
  once; run 1 pays Catalyst analysis/optimization/codegen (reported in
  ``queries_cold``), runs 2..n measure steady-state execution
  (``queries`` = per-query min, ``value`` = their sum). At sf0.1 the
  driver-side planning floor is 150-450 ms/query while execution is
  36-108 ms; separating the two makes deltas signal instead of noise.
  DuckDB-proxy comparisons should use the steady-state number (DuckDB's
  planner costs ~1 ms; Spark's rich optimizer amortizes over 100 TB of
  execution, not over a 10 MB test file).
- **Input-sized parallelism** — ``tune_runtime_conf`` sizes shuffle
  partitions and scan splits from the input bytes (the same rule a real
  deployment applies, just evaluated at sf0.1).
- **Honest caches** — spark.catalog.clearCache() runs before EVERY
  timed run, so sketch operators' internal .cache() intermediates are
  recomputed each run instead of turning the steady-state number into
  a cache-hit measurement, and bench numbers include the real scan.
- **Host-noise canary** (round 10; BASELINE.md protocol) — a FROZEN
  workload (scan + filter + hash agg over lineitem, never edited
  round-over-round) runs before and after the suite; its medians ship
  as ``control_sec_pre``/``control_sec_post`` in the JSON line. The
  canary's code being constant makes it a pure host measurement: if
  control inflates vs the recorded band, the round's totals are
  contaminated by contention, not by the repo's code (the r9 headline
  was exactly this — 2.91 s recorded vs 2.34 s quiet, bisected only
  after a day; the canary makes that bisect automatic).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pandas as pd  # noqa: F401  (module-level: pandas_udf hints resolve here)


def make_materializer(name: str, df):
    """Pick the result-materialization method ONCE per plan.

    The cold run probes ``df.toArrow()`` (the engine-native delivery
    path); only if the plan's schema can't ride Arrow does the query
    fall back to ``collect()`` for every run — noted on stderr so the
    fallback is visible. Steady-state samples never catch: a genuine
    execution error surfaces instead of silently double-executing the
    query inside a timed window.
    """
    try:
        df.toArrow()
        return df.toArrow
    except Exception as e:
        # Only Arrow-CAPABILITY gaps (schema types Arrow collection can't
        # carry) may fall back; a genuine execution failure must propagate
        # to the per-query handler — otherwise a query that
        # deterministically fails under Arrow gets billed a cold time
        # containing one full failed execution, and a real engine error
        # masquerades as "arrow unavailable".
        from pyspark.errors import (
            PySparkNotImplementedError,
            PySparkTypeError,
            PySparkValueError,
        )

        msg = str(e).lower()
        capability_gap = isinstance(
            e, (PySparkNotImplementedError, PySparkTypeError, PySparkValueError)
        ) or ("arrow" in msg and ("unsupported" in msg or "not supported" in msg))
        if not capability_gap:
            raise
        print(
            f"bench: {name}: arrow materialization unavailable "
            f"({type(e).__name__}); timing collect()",
            file=sys.stderr,
        )
        df.collect()
        return df.collect


# The r10-pinned quiet band for the frozen canary on this container
# (BASELINE.md bench governance; measured round 10, sf0.1 local[32]).
# DO NOT retune this to make a round look quiet — re-pin only from a
# demonstrably quiet window and record the re-pin in BASELINE.md.
QUIET_BAND = (0.024, 0.030)


def classify_band(pre: float, post: float) -> dict:
    """Machine-adjudicated host-noise classification (BASELINE.md
    governance, codified round 12 per the r11 verdict). Returns fields
    to merge into every bench/receipt JSON line:

    - ``contended``    — pre/post canaries disagree >1.3×: contention
      arrived mid-run; per-query medians unreliable toward the later
      reading.
    - ``in-band``      — both canaries inside the pinned quiet band
      (≤1.3× its top, ≥0.7× its bottom): cross-round ABSOLUTE
      comparisons are valid; quiet re-records allowed.
    - ``shifted-band`` — canaries agree with each other but sit
      outside the quiet band (the r11 observation: host infrastructure
      itself shifted): same-session RATIOS remain valid, cross-round
      absolutes carry the band-to-band factor.
    """
    lo, hi = QUIET_BAND
    ratio = max(pre, post) / max(min(pre, post), 1e-9)
    if ratio > 1.3:
        band = "contended"
    elif lo * 0.7 <= pre <= hi * 1.3 and lo * 0.7 <= post <= hi * 1.3:
        band = "in-band"
    else:
        band = "shifted-band"
    return {
        "band": band,
        "band_quiet_ref": [lo, hi],
        "band_pre_post_ratio": round(ratio, 3),
    }


# Band quality ordering for the BENCH_DETAIL overwrite guard: lower is
# better. in-band records are the cross-round currency; a shifted-band
# or contended run must not clobber one (r12: the driver's bench run
# overwrote the builder's committed best-stamped record in the working
# tree — the governance rule now lives in the file writer itself).
_BAND_RANK = {"in-band": 0, "shifted-band": 1, "contended": 2}


def should_replace_detail(existing, new, force: bool = False) -> bool:
    """Stamp-aware overwrite decision for ``BENCH_DETAIL.json``.

    Returns True when the new record may replace the existing one:
    always under ``force``; when no (parseable, band-stamped) record
    exists; or when the new run's band class is at least as good as
    the existing record's. Refuses (False) only when the committed
    record carries a strictly BETTER stamp — replacing an in-band
    record with a shifted-band or contended one destroys the only
    cross-round absolute reference (BASELINE.md bench governance).
    Equal stamps replace: latest-wins keeps the record tracking the
    current code.

    A record measured at a DIFFERENT scale factor never replaces,
    regardless of stamps (r14, the proxy-merge sf guard applied here):
    ``BENCH_DETAIL.json`` is the driver's sf0.1 record, and an ad-hoc
    sf1 rehearsal run with an equal band class would otherwise clobber
    it; cross-sf runs land in the sidecar instead.
    """
    if force or not isinstance(existing, dict):
        return True
    if (
        existing.get("sf") is not None
        and new.get("sf") is not None
        and existing.get("sf") != new.get("sf")
    ):
        return False
    old = _BAND_RANK.get(existing.get("band"))
    new_rank = _BAND_RANK.get(new.get("band"))
    if old is None:
        return True  # unstamped legacy record — anything beats it
    if new_rank is None:
        return False  # stamped record never yields to an unstamped run
    return new_rank <= old


def control_canary_sec(spark, sf_dir: str, runs: int = 5) -> float:
    """Median wall time of the FROZEN host-noise control workload.

    DO NOT EDIT this workload (BASELINE.md bench protocol): its
    round-over-round stability is the point. One lineitem scan with a
    pushed filter, a 2-key hash aggregate, Arrow materialization —
    touches scan + shuffle + agg + the Arrow boundary, the same cost
    classes as the suite, with zero dependence on repo code.
    """
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # Untimed warm-up until CONVERGENCE, not a fixed count (r14; the
    # r10 protocol used exactly two — the first paying Catalyst
    # analysis/codegen, the second most of the JIT). Measured round 14:
    # in a fresh process the first in-process canary reading keeps
    # decaying for several more executions while C2 finishes tiering
    # the Arrow-collection path (successive medians on a quiet host:
    # 0.079, 0.064, 0.069, 0.059, 0.044 s — while the post canary of
    # the same session read 0.048-0.072 s), so a fixed-2 warm-up
    # inflated every PRE reading 2-4x and stamped quiet sessions
    # "contended". The workload itself stays FROZEN — warm-up repeats
    # it untimed, under the same clearCache+GC per-sample protocol as
    # the timed loop, until the best-so-far reading stops improving
    # (no new minimum for 3 consecutive executions — single samples
    # bounce, so a consecutive-pair test exits while still hot; cap 30
    # executions ≈ 10-20 s). An already-warm POST canary sets its
    # minimum immediately and exits after ~4 executions, so the post
    # path is unchanged in practice.
    best = float("inf")
    since_best = 0
    for _ in range(30):
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        df.toArrow()
        cur = time.perf_counter() - t0
        if cur < best:
            best = cur
            since_best = 0
        else:
            since_best += 1
            if since_best >= 3:
                break
    samples = []
    for _ in range(runs):
        spark.catalog.clearCache()
        # same per-sample protocol as the suite (see the loop in main):
        # without the explicit GC the PRE canary keeps absorbing the
        # collection debt of whatever ran before it
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        df.toArrow()
        samples.append(time.perf_counter() - t0)
    samples.sort()
    return round(samples[(len(samples) - 1) // 2], 4)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from datafusion_dft_spark.registry import all_queries
    from datafusion_dft_spark.session import get_spark, tune_runtime_conf

    spark = get_spark(app_name="datafusion-dft-spark-bench")
    tune_runtime_conf(spark, sf_dir)
    specs = {n: s for n, s in all_queries().items() if s.bench}

    # Warm the JVM/codegen paths once so per-query numbers measure the
    # query, not session startup.
    warm = specs.get("q01_pricing_summary") or next(iter(specs.values()))
    warm.build(spark, sf_dir).collect()
    # Spawn the Python UDF workers up front: the first pandas-UDF stage
    # otherwise pays ~10 s forking one worker per core, billed to
    # whichever query happens to run first.
    from pyspark.sql import functions as F

    from datafusion_dft_spark.session import default_parallelism

    @F.pandas_udf("long")
    def _warm_udf(s: pd.Series) -> pd.Series:
        return s

    (
        spark.range(default_parallelism() * 4)
        .repartition(default_parallelism())
        .select(_warm_udf("id"))
        .collect()
    )

    from datafusion_dft_spark.operators import similarity as _sim

    runs = max(2, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    control_pre = control_canary_sec(spark, sf_dir)
    times: dict[str, float] = {}  # per-query MEDIAN of the steady runs
    mins: dict[str, float] = {}
    maxs: dict[str, float] = {}
    cold: dict[str, float] = {}
    cold_build: dict[str, float] = {}  # warm-JVM fresh-build, index-backed only
    for name, spec in specs.items():
        try:
            pre_index_keys = set(_sim._DUP_PAIR_CACHE)
            spark.catalog.clearCache()
            # ContextCleaner frees shuffle files / broadcast blocks only
            # when the JVM GCs; 50 queries accumulate enough half-dead
            # references that sporadic full GCs land inside later timed
            # runs (measured: text_quality_langid 0.27 s -> 2.5 s in the
            # unlucky invocations). One explicit GC per query moves that
            # cost outside the timing windows.
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            df = spec.build(spark, sf_dir)
            run = make_materializer(name, df)  # probe executes once = the cold run
            cold[name] = round(time.perf_counter() - t0, 4)
            samples: list[float] = []
            for _ in range(runs - 1):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                run()
                samples.append(time.perf_counter() - t0)
            samples.sort()
            # Median (lower of the middle pair), not min: builder-vs-
            # driver runs of round 5 differed 1.5x on per-query minima
            # from scheduler jitter alone; the median is what should be
            # compared round-over-round.
            times[name] = round(samples[(len(samples) - 1) // 2], 4)
            mins[name] = round(samples[0], 4)
            maxs[name] = round(samples[-1], 4)
            # Index-backed queries (their plan embeds a built LSH index
            # from _DUP_PAIR_CACHE) report build-once/probe-many medians
            # above — legitimate, but round-over-round deltas could be
            # flattered by cache behavior. Evict the index this query
            # built and time ONE warm-JVM fresh build+execution, reported
            # separately as cold_build.
            new_index_keys = set(_sim._DUP_PAIR_CACHE) - pre_index_keys
            if new_index_keys:
                with _sim._DUP_PAIR_CACHE_LOCK:
                    for k in new_index_keys:
                        _, old_bc = _sim._DUP_PAIR_CACHE.pop(k, (None, None))
                        if old_bc is not None:
                            try:
                                old_bc.unpersist()
                            except Exception:
                                pass
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                make_materializer(name, spec.build(spark, sf_dir))
                cold_build[name] = round(time.perf_counter() - t0, 4)
        except Exception as e:  # a failing query shouldn't kill the whole bench
            times[name] = -1.0
            mins[name] = -1.0
            maxs[name] = -1.0
            cold[name] = -1.0
            print(f"bench: {name} FAILED: {e}", file=sys.stderr)

    control_post = control_canary_sec(spark, sf_dir)
    total = round(sum(v for v in times.values() if v >= 0), 4)
    total_min = round(sum(v for v in mins.values() if v >= 0), 4)
    total_max = round(sum(v for v in maxs.values() if v >= 0), 4)
    total_cold = round(sum(v for v in cold.values() if v >= 0), 4)
    # The driver captures only a bounded tail of stdout, and round 3/4
    # lost the headline number twice to an oversized line. The final
    # line stays compact (totals + per-query steady-state medians, no
    # spaces); per-query min/max/cold and metadata go to
    # BENCH_DETAIL.json.
    detail = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "stat": "median",
        "queries": times,
        "queries_min": mins,
        "queries_max": maxs,
        "sf": sf,
        "runs": runs,
        "total_min_sec": total_min,
        "total_max_sec": total_max,
        "cold_total_sec": total_cold,
        "queries_cold": cold,
        "queries_cold_build": cold_build,
        "control_sec_pre": control_pre,
        "control_sec_post": control_post,
        **classify_band(control_pre, control_post),
    }
    # Stamp-aware write (r12 verdict #2): a worse-stamped run must not
    # clobber the committed best-stamped record. Refused runs land in a
    # sidecar so the measurement is never lost, just not promoted.
    # Override with --force or SPARK_GRAFT_BENCH_FORCE=1.
    force = "--force" in sys.argv[1:] or os.environ.get("SPARK_GRAFT_BENCH_FORCE") == "1"
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    detail_path = os.path.join(repo_dir, "BENCH_DETAIL.json")
    try:
        existing = None
        if os.path.exists(detail_path):
            try:
                with open(detail_path) as f:
                    existing = json.load(f)
            except (OSError, ValueError):
                existing = None  # unreadable record — replace it
        target = detail_path
        if not should_replace_detail(existing, detail, force=force):
            target = os.path.join(repo_dir, "BENCH_DETAIL_LAST_RUN.json")
            print(
                f"bench: refusing to overwrite {existing.get('band')} "
                f"BENCH_DETAIL.json with a {detail['band']} run; detail "
                f"written to {os.path.basename(target)} (use --force or "
                "SPARK_GRAFT_BENCH_FORCE=1 to override)",
                file=sys.stderr,
            )
        with open(target, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    except OSError as e:
        print(f"bench: BENCH_DETAIL.json not written: {e}", file=sys.stderr)
    line = {
        "metric": "total_query_wall_sec",
        "value": total,
        "unit": "sec",
        "stat": "median",
        "queries": times,
        "sf": sf,
        "runs": runs,
        "total_min_sec": total_min,
        "total_max_sec": total_max,
        "cold_total_sec": total_cold,
        "control_sec_pre": control_pre,
        "control_sec_post": control_post,
        **classify_band(control_pre, control_post),
    }
    if cold_build:
        # tiny (index-backed queries only) — safe for the compact line
        line["queries_cold_build"] = cold_build
    print(json.dumps(line, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
