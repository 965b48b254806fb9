#!/usr/bin/env python
"""Per-query DuckDB-proxy timing: Spark steady-state vs the oracle SQL.

The performance bar for this repo (BASELINE.md, held since round 3) is
the DuckDB oracle running the SAME logical query on the SAME parquet —
the only single-node engine available for a like-for-like proxy. This
tool measures both sides under one protocol and writes PROXY.md:

- Spark side: per-query steady-state (median of ``runs`` re-collects of
  a once-built DataFrame, clearCache + JVM GC between runs — exactly
  bench.py's protocol).
- DuckDB side: same statistic for the registry's ``oracle`` SQL over
  views on the same parquet files, fresh connection, one warm-up run.

Interpretation guardrails baked into the report:
- Queries whose oracle is a deliberately EXHAUSTIVE reformulation
  (sketch ground truths: per-nibble SimHash extraction, all-pairs
  Jaccard, full md5 LSH replay in SQL) are marked ``oracle=ground
  truth`` — the proxy there bounds correctness cost, not a fair race,
  and DuckDB usually loses by orders of magnitude.
- A 20 ms floor suppresses scheduler-noise ratios on sub-50 ms queries.

Usage: python tools/proxy_compare.py [sf_dir] [runs] [query_name ...]
(naming queries measures just that CHUNK and merges it into
PROXY_DETAIL.json; PROXY.md re-renders from the merged state — run
chunks in fresh processes to bound DuckDB-buffer/JVM-heap growth)
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Oracles that are exhaustive ground-truth reformulations of sketch /
# index operators rather than equivalent plans (see each query's doc).
GROUND_TRUTH_ORACLES = {
    "dedup_simhash",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "dedup_clusters",
    "ann_pruned_topk",
    "pipeline_clean_corpus",
    "text_quality_langid",
}

FLOOR_SEC = 0.020
# Below this Spark-side absolute, a >2x ratio is dominated by the fixed
# multi-stage job-scheduling floor (~10-30 ms per stage on local[32]) —
# a constant that amortizes to nothing at real scale, where DuckDB's
# ~1 ms planner cannot run the query at all. Reported separately.
SCHED_FLOOR_SEC = 0.100

# Standing justifications for queries that legitimately trail the
# single-node proxy; rendered into the table so regeneration keeps them.
NOTES = {
    "asof_join_purchase_view": "measured decomposition (r7, sf0.1): the two filtered scans + union ALONE (no shuffle, no window) median 0.060s — already 1.6x DuckDB's ENTIRE native-ASOF runtime — and the single user_id shuffle + in-partition sort window adds ~0.065s; a single-scan specialization still measures 0.092s (>2x). The gap is the fixed per-job floor at 100k rows, not the formulation — linear, skew-safe, same shape at 100 TB",
    "multimodal_features": "r7: mapInArrow (pandas conversion skipped both ways); measured boundary floor: an IDENTITY mapInArrow stage over just doc_id == the full byte-feature query, so the Python-stage launch round trip IS the entire cost. r9: the img_* columns are a REAL header decode (planted spec-valid PNG/JPEG parsed back from magic bytes in the same Arrow stage); measured split at sf0.1/50k docs, single-stage count() medians: identity boundary 0.519s, +byte features 0.458s, +features+decode 0.526s — the decode adds <=0.07s per 50k images (<=1.4us/image, vectorized PNG path + header-bounded JPEG walk), within run noise of the boundary floor, which remains the dominant cost. r10: the same single stage also carries the WAV/FLAC audio header decode (vectorized fixed-offset gathers) and the MP4 box walk (O(#boxes) per row) — linear in-stage work, no new Python boundary",
    "events_sessionization": "one user_id shuffle + two same-sort windows + agg; DuckDB pays the same sorts and the ratio oscillates around 1-2x with page-cache state — plan is minimal for gap sessionization",
    "dedup_embedding_cosine": "since r11 runs SIX formulations method-tagged in one query (bounded, unbounded 100 TB path, batch-vs-corpus incremental, SemDeDup semantic, cogrouped incremental SemDeDup, Lloyd-refined semantic) for differential coverage — the spark time is six full dedup passes vs one oracle join pair-set",
    "cross_join_regions": "deliberate two-variant suite (cartesian product + lateral-style correlated variant) over the 5x25-row dims — a 125-row output whose Spark cost is 2-3 stacked per-job floors (scan+broadcast+union jobs), the same fixed constant BENCH_WINDOW_RANK_ADJUDICATION.json prices at 0.12-0.19s with zero join machinery; DuckDB's ~1ms planner wins any sub-200-row race by definition",
    "salted_aggregate_skew": "runs the SALTED two-stage aggregate (salt round trip: explode to (key,salt) partials, then merge) plus the skew-diagnostic variant — deliberately one more exchange than the plain agg the oracle states, because demonstrating the 100 TB skew pattern is the query's point; the extra stage is another fixed job floor on a ~10MB input",
    "window_rank_suite": "code untouched since r9 (git-verified); plan is one hash-partitioned window sort. r14 FLOOR DECOMPOSITION (BENCH_WINDOW_RANK_ADJUDICATION.json, the asof pattern): the customer scan + the same hashpartition(c_nationkey) exchange + a trivial 25-row aggregate with ZERO window machinery measures 0.12-0.19s in-session — 53-100x DuckDB's equivalent agg and 3-5x DuckDB's ENTIRE suite — while all 8 analytic functions over 3 window definitions add only 0.01-0.10s (floor share 0.53-0.96 of the suite across two sessions). The >2x ratio is the fixed per-job floor on a 15k-row input / 125-row output, amortizing at scale, not the window plan. History: 1.9x at the r10 quiet band (under the bar); 2.4x in the r12 same-minute re-adjudication",
}


DETAIL_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "PROXY_DETAIL.json",
)


class ProtocolMismatch(Exception):
    """Existing PROXY_DETAIL.json was measured under a different protocol."""


def load_detail(path: str, sf_dir: str, runs: int) -> dict:
    """Load the chunk-merge state, guarding shape and protocol.

    r13 ADVICE: (a) a parseable file missing the merge keys resets to
    fresh state instead of KeyError-ing away the just-measured chunk;
    (b) rows measured at a different sf_dir or runs count must NOT
    merge silently — PROXY.md's header claims one protocol for all
    rows — so a mismatch raises ProtocolMismatch for the caller to
    surface.
    """
    fresh: dict = {"sf_dir": sf_dir, "runs": runs, "rows": {}, "sessions": []}
    if not os.path.exists(path):
        return fresh
    try:
        with open(path) as f:
            loaded = json.load(f)
    except (OSError, ValueError):
        return fresh
    if not (isinstance(loaded, dict) and isinstance(loaded.get("rows"), dict)
            and isinstance(loaded.get("sessions"), list)):
        return fresh
    if loaded.get("sf_dir") != sf_dir or loaded.get("runs") != runs:
        raise ProtocolMismatch(
            f"{path} was measured at sf_dir={loaded.get('sf_dir')!r} "
            f"runs={loaded.get('runs')!r}; this run is sf_dir={sf_dir!r} "
            f"runs={runs!r}. Delete the file (or match the recorded "
            "protocol) first."
        )
    return loaded


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    # `runs` = number of TIMED steady-state samples per side (a warm-up
    # execution precedes them and is never timed).
    runs = max(1, int(sys.argv[2]) if len(sys.argv) > 2 else 4)
    # Optional query names after sf_dir/runs restrict this invocation to
    # a CHUNK; rows merge into PROXY_DETAIL.json and PROXY.md re-renders
    # from the merged state. Chunking exists because a 50-query × 2-side
    # measurement in ONE process accumulates tens of GB of DuckDB buffer
    # pool + JVM heap and ends in GC thrash that reads like a host storm
    # (r12 logged every full-run attempt as stormed; r13 reproduced the
    # stall and watched loadavg collapse the moment the process died).
    # Per-chunk fresh processes bound the blast radius.
    only = set(sys.argv[3:])

    # Validate the merge target BEFORE spending minutes measuring — a
    # protocol mismatch must refuse up front, not discard a measured
    # chunk at write time.
    try:
        detail = load_detail(DETAIL_PATH, sf_dir, runs)
    except ProtocolMismatch as e:
        print(f"REFUSING merge: {e}", file=sys.stderr)
        return 2

    from datafusion_dft_spark.registry import all_queries
    from datafusion_dft_spark.session import get_spark, tune_runtime_conf

    spark = get_spark(app_name="proxy-compare")
    tune_runtime_conf(spark, sf_dir)

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")

    specs = {n: s for n, s in all_queries().items() if s.bench}
    if only:
        unknown = only - set(specs)
        if unknown:
            print(f"unknown queries: {sorted(unknown)}", file=sys.stderr)
            return 2
        specs = {n: s for n, s in specs.items() if n in only}
    # Warm Spark codegen + Python workers once (bench.py protocol).
    next(iter(specs.values())).build(spark, sf_dir).collect()

    # Arrow-first materialization, shared with bench.py so both
    # harnesses measure result delivery identically (DuckDB's fetchall()
    # materializes at the C level; per-row python Row construction would
    # bill a delivery overhead to the engine on high-output queries).
    from bench import make_materializer

    rows = []
    for name, spec in sorted(specs.items()):
        df = spec.build(spark, sf_dir)
        run = make_materializer(name, df)  # probe executes once (warm-up)
        # r14: warm to JIT CONVERGENCE, not a single execution: C2 keeps
        # tiering a plan's generated code for tens of executions, so a
        # fresh-process chunk read 2-3x the long-warm bench median on
        # sub-100 ms plans (window_rank_suite 0.17-0.35 s here vs
        # 0.06-0.08 s steady in bench.py, whose process is warm from 50
        # prior queries) while large plans were unaffected. Repeat the
        # run untimed under the timed loop's clearCache+GC protocol
        # until the best-so-far stops improving for 2 consecutive
        # executions (cap 10). The DuckDB side gets the same loop below
        # — it has no tiered JIT, so it converges immediately and the
        # ratio is not biased.
        best = float("inf")
        since_best = 0
        for _ in range(10):
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            run()
            cur = time.perf_counter() - t0
            if cur < best:
                best, since_best = cur, 0
            else:
                since_best += 1
                if since_best >= 2:
                    break
        s_samples = []
        for _ in range(runs):
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            run()
            s_samples.append(time.perf_counter() - t0)
        s_med = statistics.median(s_samples)

        d_med = None
        d_fail = None  # 'timeout' | 'error: ...' when the oracle side dies
        if spec.oracle:
            # Watchdog (r13): the exhaustive ground-truth oracles are
            # quadratic by design, and dedup_simhash's currently storms
            # this host (15 CPU-min of SYSTEM time inside a 4-min wall
            # window, reproduced with a faulthandler dump pinned at the
            # DuckDB warm-up fetchall — the r12 "every proxy attempt
            # stormed" blocker). GT rows are a correctness bound, not a
            # race; a capped oracle records as '-' with the cap noted
            # rather than stalling the whole chunk.
            budget = float(os.environ.get("PROXY_ORACLE_TIMEOUT", "120"))
            deadline = time.monotonic() + budget
            import threading

            # Gate the interrupt on `running`: a Timer firing between
            # fetchall returning and timer.cancel() would leave a
            # pending interrupt that aborts the NEXT query's oracle at
            # ~0s and mislabel it (r13 ADVICE).
            running = threading.Event()
            running.set()

            def _interrupt() -> None:
                if running.is_set():
                    con.interrupt()

            timer = threading.Timer(budget, _interrupt)
            timer.start()
            try:
                # Symmetric convergence warm-up (see the Spark side
                # above): bounded by half the oracle budget so a
                # deliberately expensive ground-truth oracle still
                # reaches its timed samples inside the watchdog.
                best_d = float("inf")
                since_best_d = 0
                for _ in range(10):
                    t0 = time.perf_counter()
                    con.sql(spec.oracle).fetchall()
                    cur = time.perf_counter() - t0
                    if cur < best_d:
                        best_d, since_best_d = cur, 0
                    else:
                        since_best_d += 1
                        if since_best_d >= 2:
                            break
                    if time.monotonic() > deadline - budget / 2:
                        break
                d_samples = []
                for _ in range(runs):
                    if time.monotonic() > deadline:
                        raise TimeoutError(f"oracle budget {budget}s exhausted")
                    t0 = time.perf_counter()
                    con.sql(spec.oracle).fetchall()
                    d_samples.append(time.perf_counter() - t0)
                d_med = statistics.median(d_samples)
            except Exception as e:  # dialect issue / cap — report, don't die
                # Distinguish the cap from a genuine oracle error so
                # PROXY.md renders the true reason (r13 ADVICE): an
                # interrupt-family exception or our own TimeoutError is
                # the watchdog; anything else is a dialect/runtime bug.
                if isinstance(e, TimeoutError) or "interrupt" in type(e).__name__.lower():
                    d_fail = "timeout"
                else:
                    d_fail = f"error: {type(e).__name__}: {e}"[:200]
                print(f"{name}: duckdb FAILED ({d_fail}): {e}", file=sys.stderr)
            finally:
                running.clear()
                timer.cancel()
        rows.append((name, s_med, d_med, d_fail))
        print(f"{name}: spark={s_med:.4f} duckdb={'-' if d_med is None else f'{d_med:.4f}'}")

    # Merge this chunk into PROXY_DETAIL.json; PROXY.md renders from the
    # merged state so chunked runs assemble one report.
    # Re-load for the merge: another chunk may have finished while this
    # one measured (the protocol was already validated up front; a file
    # that changed protocol mid-run raises here — measured rows are in
    # the console log).
    detail = load_detail(DETAIL_PATH, sf_dir, runs)
    detail["sessions"].append({"ran": sorted(r[0] for r in rows)})
    for name, s_med, d_med, d_fail in rows:
        detail["rows"][name] = {
            "spark_sec": round(s_med, 4),
            "duckdb_sec": None if d_med is None else round(d_med, 4),
            # protocol marker: this row was measured under the r14
            # converged (vs single-execution) warm-up on both sides
            "warmup": "converged",
            **({"oracle_fail": d_fail} if d_fail else {}),
        }
    with open(DETAIL_PATH, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = m.group(1).rstrip(".") if m else "?"
    flagged = []
    lines = [
        "# PROXY — per-query Spark steady-state vs DuckDB oracle",
        "",
        f"Protocol: sf{sf}, median of {runs} steady runs per side"
        " (Spark: re-collect of a once-built plan with clearCache+GC between"
        " runs; DuckDB: same statement on views over the same parquet,"
        " one warm-up). Generated by tools/proxy_compare.py — re-run it"
        " after performance work. Since r13 the run is CHUNKED (query names"
        " as extra args merge into PROXY_DETAIL.json and this file"
        " re-renders from the merged state): one 50×2-side process"
        " accumulates enough DuckDB buffer pool + JVM heap to end in GC"
        " thrash.",
        "",
        "`gt` marks oracles that are exhaustive ground-truth reformulations"
        " of sketch/index operators (not equivalent plans): the proxy there"
        " is a correctness bound, not a race. Ratios below the 20 ms floor"
        " are scheduler noise, reported but not flagged.",
        "",
        "| query | spark s | duckdb s | ratio | note |",
        "|---|---|---|---|---|",
    ]
    floor_flags = []
    for name in sorted(detail["rows"]):
        r = detail["rows"][name]
        s_med, d_med = r["spark_sec"], r["duckdb_sec"]
        if d_med is None:
            # Render the recorded failure reason, not an inference from
            # GT membership (r13 ADVICE): a dialect/runtime oracle error
            # must not be dressed up as a documented timeout.
            fail = r.get("oracle_fail")
            if fail == "timeout":
                why = (
                    ("gt; " if name in GROUND_TRUTH_ORACLES else "")
                    + "oracle exceeded the per-chunk cap (PROXY_ORACLE_TIMEOUT)"
                    + (" — the exhaustive reformulation is the bound, Spark"
                       " side stands" if name in GROUND_TRUTH_ORACLES else "")
                )
            elif fail:
                why = f"ORACLE FAILED ({fail}) — investigate, not a timeout"
            else:
                why = "no oracle run"
            lines.append(
                f"| {name} | {s_med:.4f} | - | - | {why} |"
            )
            continue
        ratio = s_med / d_med if d_med > 0 else float("inf")
        parts = []
        if name in GROUND_TRUTH_ORACLES:
            parts.append("gt")
        elif s_med > FLOOR_SEC and ratio > 2.0:
            if s_med < SCHED_FLOOR_SEC:
                parts.append(">2x, sched-floor")
                floor_flags.append((name, s_med, d_med, ratio))
            else:
                parts.append("**>2x**")
                flagged.append((name, s_med, d_med, ratio))
        if name in NOTES:
            parts.append(NOTES[name])
        lines.append(
            f"| {name} | {s_med:.4f} | {d_med:.4f} | {ratio:.2f} |"
            f" {'; '.join(parts)} |"
        )
    lines.append("")
    if flagged:
        lines.append("## Flagged (>2x, Spark side above the scheduling floor)")
        lines.append("")
        for name, s_med, d_med, ratio in flagged:
            note = NOTES.get(name, "")
            lines.append(
                f"- `{name}`: {s_med:.3f}s vs {d_med:.3f}s ({ratio:.1f}x)"
                + (f" — {note}" if note else "")
            )
    else:
        lines.append(
            "No fair-race query above the 100 ms scheduling floor exceeds 2x the proxy."
        )
    if floor_flags:
        lines.append("")
        lines.append(
            f"{len(floor_flags)} sub-100 ms queries show >2x ratios"
            " (constant per-job scheduling cost against DuckDB's ~1 ms"
            " planner on ~10 MB inputs; the gap is a fixed overhead, not a"
            " plan defect — each amortizes to parity or better at scale,"
            " see BENCH_SF1.json)."
        )
    lines.append("")

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PROXY.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out} ({len(flagged)} flagged)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
