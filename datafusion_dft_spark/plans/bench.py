"""Per-phase benchmark harness.

Reference: dft's ``--bench`` / ``--analyze`` modes time parse /
logical-plan / physical-plan / execute per iteration and report
min/max/mean/median per phase plus row-count consistency
(crates/datafusion-app/src/local.rs:366-555,
local_benchmarks.rs:112-186). Spark doesn't expose logical-vs-physical
planning boundaries as cleanly; the mapping here (documented deviation,
SURVEY.md §7 "hard parts"):

- ``plan``    — ``spark.sql(...)``: parsing + analysis
- ``physical``— forcing ``queryExecution.executedPlan``: optimization +
                physical planning (+ AQE prep)
- ``execute`` — running the plan to completion (count-free noop write)
- ``total``   — sum of the above

``fresh_execution`` re-runs an already built DataFrame's plan as a new
execution; FlightSQL's DoGet and the ``bench.py`` samples both use it.
"""

from __future__ import annotations

import csv
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

PHASES = ("plan", "physical", "execute", "total")


@dataclass
class BenchResult:
    query: str
    runs: int
    concurrency_mode: str
    phase_times: dict[str, list[float]] = field(default_factory=dict)
    row_counts: list[int] = field(default_factory=list)

    def summary(self) -> dict[str, dict[str, float]]:
        out: dict[str, dict[str, float]] = {}
        total_mean = statistics.mean(self.phase_times["total"]) if self.phase_times else 0.0
        for phase in PHASES:
            ts = self.phase_times.get(phase, [])
            if not ts:
                continue
            mean = statistics.mean(ts)
            out[phase] = {
                "min": min(ts),
                "max": max(ts),
                "mean": mean,
                "median": statistics.median(ts),
                "pct_of_total": (100.0 * mean / total_mean) if total_mean else 0.0,
            }
        return out

    def add(self, phases: dict[str, float]) -> None:
        for phase, t in phases.items():
            self.phase_times.setdefault(phase, []).append(t)

    @property
    def rows_consistent(self) -> bool:
        return len(set(self.row_counts)) <= 1


def fresh_execution(df):
    """A new QueryExecution of ``df``'s plan, so every delivery runs every
    stage: reusing ``df``'s own would let a prepared statement's second
    fetch skip its scan stage and serve shuffle output from before the
    files changed. The plan taken is ``commandExecuted``, not
    ``logical``: a command (INSERT, CREATE ...) already ran when the
    statement was planned and is held there as its result rows, so it
    is not run again."""
    from pyspark.sql import DataFrame

    spark = df.sparkSession
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        df._jdf.sparkSession(), df._jdf.queryExecution().commandExecuted()
    )
    return DataFrame(jdf, spark)


def _timed_run(spark: SparkSession, sql: str):
    """One fresh execution of ``sql``: ``(df, {phase: seconds})``. The
    execute phase runs the FULL plan to a noop sink — timing ``count()``
    would let Catalyst prune the select list and understate queries
    whose cost is there."""
    t0 = time.perf_counter()
    df = spark.sql(sql)
    t1 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()  # force physical planning
    t2 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    return df, {"plan": t1 - t0, "physical": t2 - t1, "execute": t3 - t2, "total": t3 - t0}


def run_bench(
    spark: SparkSession,
    sql: str,
    iterations: int = 10,
    run_before: str | None = None,
) -> BenchResult:
    """Serial benchmark of one SQL statement (reference default: 10 runs).

    The row count for the result-validation column is taken once,
    untimed.
    """
    res = BenchResult(query=sql, runs=iterations, concurrency_mode="serial")
    if run_before:
        spark.sql(run_before).write.format("noop").mode("overwrite").save()
    res.row_counts = [spark.sql(sql).count()]  # validation only, untimed
    for _ in range(iterations):
        res.add(_timed_run(spark, sql)[1])
    return res


def run_bench_concurrent(
    spark: SparkSession,
    sql: str,
    iterations: int = 10,
    run_before: str | None = None,
) -> BenchResult:
    """Concurrent benchmark: min(iterations, cores) queries in flight.

    Reference: ``--bench --concurrent`` runs iterations with parallelism
    min(iterations, num_cpus) (local.rs:422-426); cores here are the
    session's ``default_parallelism()``. Spark's scheduler multiplexes
    the concurrent jobs across executor threads (FAIR/FIFO pools) —
    exactly the contention profile a multi-user deployment sees.
    """
    from concurrent.futures import ThreadPoolExecutor

    from ..session import default_parallelism

    workers = min(iterations, default_parallelism())
    res = BenchResult(query=sql, runs=iterations, concurrency_mode=f"concurrent[{workers}]")
    if run_before:
        spark.sql(run_before).write.format("noop").mode("overwrite").save()

    res.row_counts = [spark.sql(sql).count()]  # validation only, untimed
    with ThreadPoolExecutor(max_workers=workers) as pool:
        for _, phases in pool.map(lambda _: _timed_run(spark, sql), range(iterations)):
            res.add(phases)
    return res


def save_csv(results: list[BenchResult], path: str, append: bool = False) -> None:
    """CSV export mirroring local_benchmarks.rs:145-166's column layout."""
    header = ["query", "runs", "concurrency_mode"]
    for phase in PHASES:
        for stat in ("min", "max", "mean", "median", "pct_of_total"):
            header.append(f"{phase}_{stat}")
    mode = "a" if append else "w"
    with open(path, mode, newline="") as f:
        w = csv.writer(f)
        if not append:
            w.writerow(header)
        for r in results:
            s = r.summary()
            row: list = [r.query.replace("\n", " ").strip(), r.runs, r.concurrency_mode]
            for phase in PHASES:
                st = s.get(phase, {})
                row.extend(
                    round(st.get(k, 0.0), 6)
                    for k in ("min", "max", "mean", "median", "pct_of_total")
                )
            w.writerow(row)


def format_report(res: BenchResult) -> str:
    lines = [
        f"Benchmark: {res.query.strip()[:80]}",
        f"runs={res.runs} mode={res.concurrency_mode} rows_consistent={res.rows_consistent}",
        f"{'phase':<10}{'min':>10}{'max':>10}{'mean':>10}{'median':>10}{'%total':>9}",
    ]
    for phase, st in res.summary().items():
        lines.append(
            f"{phase:<10}{st['min']*1e3:>9.2f}m{st['max']*1e3:>9.2f}m"
            f"{st['mean']*1e3:>9.2f}m{st['median']*1e3:>9.2f}m{st['pct_of_total']:>8.1f}%"
        )
    return "\n".join(lines)


def analyze(spark: SparkSession, sql: str) -> dict[str, object]:
    """--analyze mode: one run + plan summary (stats.rs analog). The row
    count is taken untimed, after the timed run."""
    df, phases = _timed_run(spark, sql)
    return {
        "rows": df.count(),
        "plan_sec": phases["plan"],
        "physical_sec": phases["physical"],
        "execute_sec": phases["execute"],
        "physical_plan": df._jdf.queryExecution().executedPlan().toString(),
        "explain_formatted": df._sc is not None
        and df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        ),
    }
