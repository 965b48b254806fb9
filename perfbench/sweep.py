"""Query-sweep workload: fresh-execution timing of registry queries.

One run:

1. Set the program up ``SETUPS`` times, each in a new JVM
   (``get_spark``, which launches it, ``tune_runtime_conf`` and a
   warm-up query); the first set-up runs while the inputs are
   generated. ``setup_s`` is the median.
2. First pass, per query: ``QuerySpec.build`` (its eager Spark jobs in
   their own job group), then the first execution delivered through
   ``toArrow``. Its digest must match the DuckDB oracle.
   ``first_result_s`` sums build + first execution over the queries.
3. Timed window: whole rounds over the queries until ``seconds`` have
   passed (at least ``MIN_ROUNDS``). Each sample is a *fresh* QueryExecution of the once-built
   logical plan, in its own job group, after ``clearCache``; it
   re-analyses, re-optimises, re-plans and re-runs every stage. After
   the listener bus drains, the sample's completed stages and shuffle
   bytes are compared with the query's reference execution; fewer means
   it reused an earlier execution's output and the run is incorrect.
   Every sample's digest must equal the first execution's. A traced
   run reads its per-layer figures from the samples' plans after the
   window has closed.
"""

from __future__ import annotations

import itertools
import os
import re
import sys
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from . import stats
from .common import (
    Corpus,
    RssSampler,
    Tracer,
    digest_arrow,
    ensure_corpus,
    oracle_digests,
)

SETUPS = 3
# A floor for hosts so slow that the window holds fewer rounds; at this
# commit's speed ``seconds`` alone sets the number of rounds.
MIN_ROUNDS = 3


@dataclass(frozen=True)
class SweepWorkload:
    name: str
    sf: float
    queries: tuple[str, ...]  # registry names, in run order


@dataclass
class ExecCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_rows: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    last_job_end_ms: int = 0

    def stage_counts(self) -> stats.StageCounts:
        return stats.StageCounts(self.stages, self.shuffle_write_bytes)


@dataclass
class QueryResult:
    name: str
    build_s: float = 0.0
    build_jobs: int = 0
    first_s: float = 0.0
    first: ExecCounts = field(default_factory=ExecCounts)
    reference: stats.StageCounts | None = None  # what every sample must at least run
    digest: str = ""
    oracle_ok: bool = False
    samples: list[float] = field(default_factory=list)
    sample_ok: list[bool] = field(default_factory=list)
    reused: list[int] = field(default_factory=list)
    layers: list[dict] = field(default_factory=list)  # traced runs only


class StatusReader:
    """Reads a job group's jobs and stages from Spark's status store,
    after the listener bus has drained."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = spark.sparkContext._jsc.sc()

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def counts(self, group: str) -> ExecCounts:
        self.drain()
        store = self.jsc.statusStore()
        out = ExecCounts()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            out.jobs += 1
            end = job.completionTime()
            if end.isDefined():
                out.last_job_end_ms = max(out.last_job_end_ms, end.get().getTime())
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(i))
                except Exception:  # stage never submitted: skipped by AQE
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks()
                out.task_run_s += st.executorRunTime() / 1e3
                out.task_cpu_s += st.executorCpuTime() / 1e9
                out.gc_s += st.jvmGcTime() / 1e3
                out.input_rows += st.inputRecords()
                out.input_bytes += st.inputBytes()
                out.shuffle_write_bytes += st.shuffleWriteBytes()
                out.shuffle_read_bytes += st.shuffleReadBytes()
                out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


CONF_KEYS = (
    "spark.master",
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.local.dir",
)


def effective_conf(spark) -> dict[str, str]:
    """The settings that shape a run, as the live session sees them."""
    static = dict(spark.sparkContext.getConf().getAll())
    return {k: spark.conf.get(k, static.get(k, "(Spark default)")) for k in CONF_KEYS}


def plan_phases(jdf) -> dict[str, float]:
    """Catalyst phase durations of one QueryExecution, in seconds."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def python_rows(jdf) -> int:
    """Rows into Python-eval operators of an executed plan: the sum of
    their children's ``numOutputRows`` SQL metric, or the rows Python
    returned where the child keeps no row count."""
    from datafusion_dft_spark.plans.explain import _PY_EVAL_NODES

    # the node names ``python_eval_node_ids`` counts in the formatted plan
    is_python = re.compile(rf"({_PY_EVAL_NODES})$").search
    total = 0
    todo = [jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls.startswith("Reused"):
            continue
        kids = node.children()
        kid_list = [kids.apply(i) for i in range(kids.size())]
        if is_python(node.nodeName()):
            rows = 0
            for k in kid_list:
                m = k.metrics().get("numOutputRows")
                if m.isDefined():
                    rows += m.get().value()
            if rows == 0:
                m = node.metrics().get("pythonNumRowsReceived")
                if m.isDefined():
                    rows = m.get().value()
            total += rows
        todo.extend(kid_list)
    return total


class SweepRun:
    def __init__(self, seconds: float, trace: bool):
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.setups: list[float] = []
        self.session_start: list[float] = []
        self.session_tune: list[float] = []
        self.results: dict[str, QueryResult] = {}
        self.spark = None
        self.conf: dict[str, str] = {}

    # -------------------------------------------------------- set-up

    def _setup_once(self, inputs: Future) -> None:
        from datafusion_dft_spark.registry import all_queries
        from datafusion_dft_spark.session import get_spark, tune_runtime_conf

        t0 = time.perf_counter()
        spark = get_spark(  # launches the JVM
            app_name="perfbench",
            conf={"spark.ui.showConsoleProgress": "false"},
        )
        t1 = time.perf_counter()
        # The first set-up runs while the inputs are generated; waiting
        # for them is not set-up time.
        corpus = inputs.result()[0]
        t0 += time.perf_counter() - t1
        t1 = time.perf_counter()
        tune_runtime_conf(spark, corpus.path)
        t2 = time.perf_counter()
        # Warm-up: one untimed TPC-H Q6 pays first-job class loading and
        # codegen. Python workers start inside the first query that needs
        # them, billed to its first result as a one-shot user would pay.
        all_queries()["q06_forecast_revenue"].build(spark, corpus.path).toArrow()
        t3 = time.perf_counter()
        self.session_start.append(t1 - t0)
        self.session_tune.append(t2 - t1)
        self.setups.append(t3 - t0)
        self.spark = spark

    def setup(self, inputs: Future) -> None:
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
                stop_jvm()
            self._setup_once(inputs)
        self.conf = effective_conf(self.spark)

    # ------------------------------------------------------- queries

    def _fresh(self, df):
        """A new QueryExecution of ``df``'s logical plan."""
        from pyspark.sql import DataFrame

        jvm = self.spark._jvm
        jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            df._jdf.sparkSession(), df._jdf.queryExecution().logical()
        )
        return DataFrame(jdf, self.spark)

    @staticmethod
    def _layers(fdf, counts: ExecCounts, ret_ms: int, rows: int, nbytes: int) -> dict:
        from datafusion_dft_spark.plans.explain import python_eval_node_ids

        return {
            **{f"plan.{k}_s": v for k, v in plan_phases(fdf._jdf).items()},
            "exec": counts,
            "deliver.s": max(0.0, (ret_ms - counts.last_job_end_ms) / 1e3),
            "deliver.rows": rows,
            "deliver.bytes": nbytes,
            "operators.python_stages": len(python_eval_node_ids(fdf)),
            "operators.python_rows": python_rows(fdf._jdf),
        }

    def first_pass(self, corpus: Corpus, names: list[str], oracle: dict[str, str]) -> None:
        from datafusion_dft_spark.registry import all_queries

        specs = all_queries()
        sc = self.spark.sparkContext
        reader = StatusReader(self.spark)
        self.dfs = {}
        for name in names:
            r = QueryResult(name)
            with self.tracer.span("queries.build", rid=f"first-{name}"):
                sc.setJobGroup(f"build-{name}", name)
                t0 = time.perf_counter()
                df = specs[name].build(self.spark, corpus.path)
                r.build_s = time.perf_counter() - t0
            with self.tracer.span("first.exec", rid=f"first-{name}"):
                sc.setJobGroup(f"first-{name}", name)
                t0 = time.perf_counter()
                table = df.toArrow()
                r.first_s = time.perf_counter() - t0
            sc.setJobGroup("", "")
            r.build_jobs = reader.counts(f"build-{name}").jobs
            r.first = reader.counts(f"first-{name}")
            # A builder that caches an intermediate has its first execution
            # fill that cache, which a fresh execution after clearCache
            # plans differently; the first fresh sample is then the
            # reference instead.
            cached = "InMemoryRelation" in df._jdf.queryExecution().withCachedData().toString()
            r.reference = None if cached else r.first.stage_counts()
            r.digest = digest_arrow(table)
            r.oracle_ok = r.digest == oracle[name]
            if not r.oracle_ok:
                print(f"perfbench: {name}: result differs from the DuckDB oracle", file=sys.stderr)
            self.results[name] = r
            self.dfs[name] = df

    def timed_window(self) -> None:
        sc = self.spark.sparkContext
        reader = StatusReader(self.spark)
        trace = self.tracer.enabled
        deadline = time.perf_counter() + self.seconds
        order = list(self.dfs.items())
        # Whole rounds over the queries until the window closes, so every
        # query has as many samples and they spread over the window. The
        # first fresh executions run code the JIT has not compiled yet and
        # are the slowest; from three rounds on, a query's median leaves
        # its first sample out.
        pending: list[tuple[QueryResult, object, ExecCounts, int, int, int]] = []
        for i in itertools.count():
            k = i // len(order)
            if i % len(order) == 0 and k >= MIN_ROUNDS and time.perf_counter() >= deadline:
                break
            name, df = order[i % len(order)]
            r = self.results[name]
            self.spark.catalog.clearCache()
            group = f"s{k}-{name}"
            sc.setJobGroup(group, name)
            with self.tracer.span("sample", rid=group):
                t0 = time.perf_counter()
                with self.tracer.span("plan.analysis"):
                    fdf = self._fresh(df)
                with self.tracer.span("exec.deliver"):
                    table = fdf.toArrow()
                t1 = time.perf_counter()
            ret_ms = int(time.time() * 1000)
            sc.setJobGroup("", "")
            wall = t1 - t0
            counts = reader.counts(group)
            if r.reference is None:
                r.reference = counts.stage_counts()
            reused = stats.reused_stages(r.reference, counts.stage_counts())
            ok = digest_arrow(table) == r.digest
            if not ok:
                print(f"perfbench: {name}: sample {k} result differs from the first execution", file=sys.stderr)
            if reused:
                print(
                    f"perfbench: {name}: sample {k} ran {counts.stages} stages / "
                    f"{counts.shuffle_write_bytes} shuffle bytes, reference "
                    f"{r.reference.stages} / {r.reference.shuffle_write_bytes}",
                    file=sys.stderr,
                )
            r.samples.append(wall)
            r.sample_ok.append(ok)
            r.reused.append(reused)
            if trace:
                # plan walks and explain strings wait until the window ends
                pending.append((r, fdf, counts, ret_ms, table.num_rows, table.nbytes))
        for r, *args in pending:
            r.layers.append(self._layers(*args))

    # ------------------------------------------------------- metrics

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        res = list(self.results.values())
        all_samples = [x for r in res for x in r.samples]
        return {
            "setup_s": (stats.median(self.setups), "s"),
            "first_result_s": (sum(r.build_s + r.first_s for r in res), "s"),
            "sweep_s": (sum(stats.median(r.samples) for r in res), "s"),
            "op_ms.geomean": (stats.geomean([stats.median(r.samples) for r in res]) * 1e3, "ms"),
            "max_rate_ops": (len(all_samples) / sum(all_samples), "1/s"),
        }

    def per_layer(self) -> dict[str, tuple[float, str]]:
        from datafusion_dft_spark.session import default_parallelism

        res = list(self.results.values())

        def total(key: str) -> float:
            """Sum over queries of the per-query median of a layer figure."""
            return sum(stats.median([l[key] for l in r.layers]) for r in res)

        def total_exec(key: str) -> float:
            return sum(stats.median([getattr(l["exec"], key) for l in r.layers]) for r in res)

        walls = sum(stats.median(r.samples) for r in res)
        out: dict[str, tuple[float, str]] = {
            "session.start_s": (stats.median(self.session_start), "s"),
            "session.tune_s": (stats.median(self.session_tune), "s"),
            "queries.build_s": (sum(r.build_s for r in res), "s"),
            "queries.build_jobs": (sum(r.build_jobs for r in res), "count"),
        }
        for k in ("plan.analysis_s", "plan.optimization_s", "plan.planning_s", "deliver.s"):
            out[k] = (total(k), "s")
        for k, unit in EXEC_FIELDS:
            out[f"exec.{k}"] = (total_exec(k), unit)
        out["exec.stages_reused"] = (sum(sum(r.reused) for r in res), "count")
        out["exec.core_util"] = (
            out["exec.task_run_s"][0] / (walls * default_parallelism()) if walls else 0.0,
            "ratio",
        )
        out["operators.python_stages"] = (total("operators.python_stages"), "count")
        out["operators.python_rows"] = (total("operators.python_rows"), "count")
        rows = total("deliver.rows")
        out["deliver.rows"] = (rows, "count")
        out["deliver.bytes"] = (total("deliver.bytes"), "bytes")
        out["deliver.rows_examined_per_row"] = (out["exec.input_rows"][0] / rows if rows else 0.0, "ratio")
        # Spans inside the timed samples, times what one span costs here.
        n_spans = sum(1 for s in self.tracer.spans if s["name"] in ("sample", "plan.analysis", "exec.deliver"))
        out["trace.overhead_est_ms"] = (n_spans * Tracer.span_cost_s() * 1e3, "ms")
        return out


EXEC_FIELDS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
    ("input_rows", "count"), ("input_bytes", "bytes"),
    ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)


def stop_jvm() -> None:
    """End the py4j gateway JVM now rather than at interpreter exit: it
    exits when its standard input closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(workload: SweepWorkload, seed: int, seconds: float, trace: bool) -> dict:
    from datafusion_dft_spark.registry import all_queries

    names = list(workload.queries)
    unknown = set(names) - set(all_queries())
    if unknown:
        raise ValueError(f"workload {workload.name}: no such queries {sorted(unknown)}")

    def make_inputs():
        corpus = ensure_corpus(workload.sf, seed)
        return corpus, oracle_digests(corpus, names)

    sweep = SweepRun(seconds, trace)
    phases: dict[str, float] = {}
    with ThreadPoolExecutor(max_workers=1) as pool, RssSampler([os.getpid()]) as rss:
        inputs = pool.submit(make_inputs)
        try:
            t0 = time.perf_counter()
            sweep.setup(inputs)
            corpus, oracle = inputs.result()
            t1 = time.perf_counter()
            sweep.first_pass(corpus, names, oracle)
            t2 = time.perf_counter()
            sweep.timed_window()
            t3 = time.perf_counter()
            phases.update(inputs_and_setup=t1 - t0, first=t2 - t1, window=t3 - t2)
        finally:
            t5 = time.perf_counter()
            if sweep.spark is not None:
                sweep.spark.stop()
            stop_jvm()
            phases["teardown"] = time.perf_counter() - t5
    res = list(sweep.results.values())
    attempted = sum(1 + len(r.samples) for r in res)
    failed = sum((not r.oracle_ok) + r.sample_ok.count(False) for r in res)
    reused = sum(sum(r.reused) for r in res)
    metrics = sweep.end_to_end()
    metrics["peak_rss_mb"] = (rss.peak_mb, "MB")
    return {
        "correct": failed == 0 and reused == 0,
        "attempted": attempted,
        "failed": failed + reused,
        "metrics": metrics,
        "layers": sweep.per_layer() if trace else None,
        "detail": {
            "corpus": {"sf": workload.sf, "seed": seed, "tables": corpus.stats()},
            "conf": sweep.conf,
            "setups_s": sweep.setups,
            "phases_s": phases,
            "samples": sum(len(r.samples) for r in res),
            "tail": stats.tail(x for r in res for x in r.samples),
            "stages_reused": reused,
            "queries": {
                r.name: {
                    "build_s": r.build_s,
                    "build_jobs": r.build_jobs,
                    "first_s": r.first_s,
                    "first_stages": r.first.stages,
                    "reference_stages": r.reference.stages if r.reference else None,
                    "samples_s": r.samples,
                    "oracle_ok": r.oracle_ok,
                }
                for r in res
            },
        },
    }
