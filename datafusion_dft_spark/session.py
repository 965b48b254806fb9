"""SparkSession construction with config passthrough.

Reference analog: ``crates/datafusion-app/src/extensions/builder.rs:99-103``
(user TOML settings -> SessionConfig) and ``src/main.rs:31-45`` (runtime
setup). Here: a builder with scale-aware defaults (AQE on, skew-join
handling, Arrow transfer) plus an arbitrary ``conf`` dict passthrough.
"""

from __future__ import annotations

import logging
import os
import threading
from typing import TYPE_CHECKING, Mapping

from pyspark.sql import SparkSession

if TYPE_CHECKING:
    from .catalog import Tables
    from .config import AppConfig, UdfConfig
    from .observability import Observability

_LOG = logging.getLogger(__name__)
_WARNED_NO_RDD_PROBE = False

# Defaults chosen for local[N] testing but written for cluster scale:
# AQE re-plans shuffles at runtime (coalesces small partitions, splits
# skewed ones, switches sort-merge joins to broadcast when a side turns
# out small) — the same decisions hold on a 1000-executor cluster.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE's coalescing floor. With parallelismFirst (default true) the
    # floor only bites on SMALL intermediate relations — the stock 1 MB
    # floor coalesces a ~2 MB exchange into 1-2 tasks, serializing the
    # downstream stage (the simhash verify ran as ONE python task and
    # took this host's per-vCPU degradation at full blast radius —
    # measured 2.9 s vs 0.38 s with the floor at 64k, same code, same
    # minute; SCALE.md round 12). At 100 TB every real exchange is GBs
    # and the floor is irrelevant; on any cluster a tiny relation
    # fanning back out to task width is the right call before a heavy
    # per-partition stage.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Spark 4.1 reads parquet `timestamp[us] isAdjustedToUTC=false` as
    # TIMESTAMP_NTZ by default, which breaks every event-time expression
    # that requires TIMESTAMP (unix_micros, watermarks, time-range join
    # predicates). Session TZ is pinned UTC above, so forcing the classic
    # inference changes no values — only the type.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}

# Conf keys that are safe to (re)set on a live session.
_RUNTIME_CONF: tuple[str, ...] = (
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


class AppContext:
    """The application state of one SparkSession (reference: the
    ``ExecutionContext`` every frontend shares, src/execution.rs:67-82):
    the lazy ``catalog.Tables`` per corpus directory, the config-UDF
    signatures, the ``register_db`` (catalog, schema) -> root pairs,
    whether information_schema.routines is current, and the request
    logs by view name: ``requests`` is the one both servers record to.

    ``AppContext.of(spark)`` is the only lookup. The context is an
    attribute of the session object, so it lives and dies with it.
    """

    _ATTR = "_dft_app_context"
    _LOCK = threading.Lock()

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: dict[str, Tables] = {}
        self.udfs: dict[str, UdfConfig] = {}
        self.catalog_schemas: dict[tuple[str, str], str] = {}
        self.routines_fresh = False
        self.request_logs: dict[str, Observability] = {}

    @classmethod
    def of(cls, spark: SparkSession) -> AppContext:
        """This session's context, created on first use: query builders
        are also called with a bare session (``__spark_entry__``,
        ``perfbench/sweep.py``)."""
        ctx = getattr(spark, cls._ATTR, None)
        if ctx is None:
            with cls._LOCK:
                ctx = getattr(spark, cls._ATTR, None)
                if ctx is None:
                    ctx = cls(spark)
                    setattr(spark, cls._ATTR, ctx)
        return ctx

    def requests_log(self, db_path: str | None) -> Observability:
        """The session's ``requests`` log, created by the first server
        built on it (with that server's ``db_path``). Servers call this
        while they are built, never on a request thread."""
        with self._LOCK:
            log = self.request_logs.get("requests")
            if log is None:
                from .observability import Observability

                log = Observability(self.spark, persist_path=db_path)
            return log


def default_parallelism() -> int:
    """Cores to plan for: ``SPARK_GRAFT_CPUS`` when set (a deployment
    override), else the cores this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


def get_spark(
    master: str | None = None,
    app_name: str = "datafusion-dft-spark",
    conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``conf`` is an arbitrary passthrough, mirroring the reference's
    "any DataFusion setting goes into SessionConfig" behavior.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    merged = dict(_DEFAULT_CONF)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # DataFusion-dialect function names (strpos, date_bin, ...) resolve
    # on every app-built session; see functions/compat.py
    from .functions.compat import register_compat_functions

    register_compat_functions(spark)
    return spark


def app_session(
    config: AppConfig,
    app_name: str,
    *,
    master: str | None = None,
    register: str | None = None,
    run_ddl: bool,
) -> SparkSession:
    """The one session bootstrap of the CLI, REPL, HTTP and FlightSQL
    frontends (reference: the ``ExecutionContext`` builder,
    extensions/builder.rs:99-103). In order: engine settings, the
    ``[[udf]]`` blocks, ``[execution.object_store]``, the config
    ``ddl_path`` when ``run_ddl``, then the corpus views under
    ``register``.

    ``get_spark`` and ``catalog.register_views`` are resolved when this
    runs, so a wrapper installed on either module sees the call.
    """
    from . import catalog
    from .functions.udf_registry import register_udfs
    from .sources.object_store import register_object_stores
    from .sql import execute_ddl_file

    spark = get_spark(master, app_name, conf=config.execution.settings)
    register_udfs(spark, config.udfs)
    if config.execution.object_store:
        register_object_stores(spark, config.execution.object_store)
    if run_ddl and config.execution.ddl_path:
        execute_ddl_file(spark, config.execution.ddl_path)
    if register:
        catalog.register_views(spark, register)
    return spark


def ensure_min_parallelism(df, min_parts: int | None = None):
    """Repartition ONLY when the plan has fewer partitions than the
    session's parallelism — the narrow-scan guard for heavy Python
    stages (round 12).

    Locally the test parquet is one row group per table, so every scan
    stage is a SINGLE task; round-12 diagnosis (SCALE.md, dedup_simhash
    adjudication) showed single-task Python stages take this host's
    periodic per-vCPU degradation at full blast radius (identical
    kernels 25-80× slower sporadically), while 32-way stages cap the
    hit at one task's slice. On a real multi-split scan the probe
    reads >= parallelism and the guard adds NOTHING — the declared
    plan keeps its shuffle count at 100 TB.

    Probe semantics (round 13, Connect-safe):

    - Classic sessions probe ``df.rdd.getNumPartitions()`` (the exact
      physical partition count; forces physical planning — cheap, and
      Catalyst caches the result for the subsequent action).
    - **Spark Connect sessions have no RDD handle** — there the guard
      deliberately SKIPS (returns ``df`` unchanged) and logs a
      one-time warning. That is the right call, not a gap: Connect
      fronts a real multi-executor cluster where scans split by
      ``maxPartitionBytes`` and the single-vCPU host pathology this
      guard mitigates does not exist; an unconditional repartition
      there would ADD a shuffle to every heavy stage.
    - Any other probe failure is a genuine analysis error in ``df``
      (missing column, bad plan): it PROPAGATES so the stack points at
      the caller instead of deferring to a later action.
    """
    target = min_parts or default_parallelism()
    try:
        n = df.rdd.getNumPartitions()
    except (AttributeError, NotImplementedError) as e:
        # Connect sessions raise before any plan analysis happens
        # (no .rdd attribute / unsupported API) — skip loudly, once.
        global _WARNED_NO_RDD_PROBE
        if not _WARNED_NO_RDD_PROBE:
            _WARNED_NO_RDD_PROBE = True
            _LOG.warning(
                "ensure_min_parallelism: session exposes no RDD handle "
                "(Spark Connect?); narrow-scan guard skipped (%s). This "
                "guard is a local-mode mitigation — on a cluster the "
                "declared plan is already correct.",
                e,
            )
        return df
    if n < target:
        return df.repartition(target)
    return df


def tune_runtime_conf(spark: SparkSession, sf_dir: str) -> SparkSession:
    """Size shuffle/scan parallelism from the actual input bytes.

    The static default (shuffle partitions = cpus) is tuned for data
    that fills the machine; on small inputs a reduce task that gets
    only a sliver of data costs more in scheduling than it gains in
    parallelism. So the partition count follows the data: target ~4 MB
    of input per shuffle partition, clamped to [8, 4096] (a real
    cluster raises the cap with executor count; AQE still coalesces or
    splits at runtime from there), and scan splits give each core about
    two splits of the input.
    """
    total = _input_bytes(spark, sf_dir)
    if not total:
        return spark
    parts = max(8, min(4096, total // (4 << 20)))
    split = max(1 << 20, min(128 << 20, total // (2 * default_parallelism())))
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    return spark


def _input_bytes(spark: SparkSession, sf_dir: str) -> int:
    """Total bytes of ``*.parquet`` directly under ``sf_dir``.

    Lists through the Hadoop FileSystem the scan itself will use, for
    plain local paths and any URI scheme alike (``s3a://``, ``hdfs://``,
    ``file://``, incl. the hf:// mapping from sources.object_store).
    Returns 0 when nothing matches — the caller keeps static defaults.
    A store that cannot be listed (missing connector, unreachable
    bucket) raises an ``OSError`` naming ``sf_dir``.
    """
    from py4j.protocol import Py4JJavaError

    jvm = spark._jvm
    pattern = jvm.org.apache.hadoop.fs.Path(sf_dir.rstrip("/") + "/*.parquet")
    try:
        fs = pattern.getFileSystem(spark._jsc.hadoopConfiguration())
        statuses = fs.globStatus(pattern)
    except Py4JJavaError as e:
        raise OSError(
            f"cannot list input files under {sf_dir!r}: "
            f"{e.java_exception.toString()}"
        ) from e
    return sum(s.getLen() for s in statuses) if statuses else 0


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally built session.

    The verification driver hands us its own SparkSession; pin the conf
    that affects result correctness (UTC timestamps) and plan quality
    (AQE) without assuming we own the session.
    """
    for key in _RUNTIME_CONF:
        try:
            spark.conf.set(key, _DEFAULT_CONF[key])
        except Exception:
            pass  # static conf on this build — keep going
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        if n > 4 * default_parallelism():
            spark.conf.set("spark.sql.shuffle.partitions", str(default_parallelism()))
    except Exception:  # the driver owns this session; a conf it refuses stays as it set it
        pass
    return spark
