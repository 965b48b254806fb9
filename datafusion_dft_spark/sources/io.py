"""Readers and writers with format inference.

Reference analogs:
- reading: format sniffed from file extension when registering tables
  (src/db.rs:37-52) — parquet / csv / ndjson (+ arrow);
- writing: the CLI's ``-o out.{csv,json,parquet}`` suffix-inferred
  ``AnyWriter`` (src/cli/mod.rs:780-806) and SQL ``COPY (query) TO
  'file'`` (tests/cli_cases/basic.rs:350-365).

Scale note: writers go through ``df.write`` (distributed, one file per
partition). ``single_file=True`` coalesces to one partition for
CLI-sized exports — correct for tool output, wrong for bulk data, so
it is opt-in.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# COPY OPTIONS vocabulary, owned here by the writer: DataFusion key ->
# (Spark writer option, formats it applies to). sql._parse_copy_options
# derives its key map from this table, and write_any validates
# applicability from it — one table, no drift between "known key" and
# "applies to this format".
COPY_OPTIONS: dict[str, tuple[str, frozenset[str]]] = {
    "compression": ("compression", frozenset({"parquet", "csv", "json", "orc"})),
    "delimiter": ("sep", frozenset({"csv"})),
    "has_header": ("header", frozenset({"csv"})),
    "quote": ("quote", frozenset({"csv"})),
    "escape": ("escape", frozenset({"csv"})),
    "null_value": ("nullValue", frozenset({"csv"})),
    "date_format": ("dateFormat", frozenset({"csv", "json"})),
    "timestamp_format": ("timestampFormat", frozenset({"csv", "json"})),
}
_OPTION_FORMATS: dict[str, frozenset[str]] = {
    spark_name: formats for spark_name, formats in COPY_OPTIONS.values()
}

READ_FORMATS = {
    ".parquet": "parquet",
    ".csv": "csv",
    ".json": "json",
    ".ndjson": "json",
    ".jsonl": "json",
    ".arrow": "arrow",
    ".vortex": "vortex",
    # Beyond-reference (the reference sniffs parquet/csv/ndjson/arrow,
    # src/db.rs:37-52): ORC is native to Spark's JVM datasources and
    # common in Hive-era lakes a 100 TB ingest reads from — predicate
    # pushdown and column pruning work like parquet's.
    ".orc": "orc",
}


def infer_format(path: str) -> str:
    ext = os.path.splitext(path)[1].lower()
    fmt = READ_FORMATS.get(ext)
    if fmt is None:
        raise ValueError(f"cannot infer storage format from suffix: {path!r}")
    return fmt


def read_any(spark: SparkSession, path: str, fmt: str | None = None) -> DataFrame:
    fmt = fmt or infer_format(path)
    reader = spark.read
    if fmt == "csv":
        reader = reader.option("header", "true").option("inferSchema", "true")
    if fmt == "arrow":
        return read_arrow(spark, path)
    if fmt == "vortex":
        return read_vortex(spark, path)
    return reader.format(fmt).load(path)


def read_arrow(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Arrow IPC reader (no bundled JVM datasource).

    Reads through the Spark 4 Python DataSource
    (``sources/arrow_datasource.py``): one input partition per file,
    executors yield ``RecordBatch`` objects straight into Spark's Arrow
    ingestion (no pandas hop). A failed registration raises.
    """
    from .arrow_datasource import FORMAT_NAME, register_arrow_datasource

    register_arrow_datasource(spark)
    return spark.read.format(FORMAT_NAME).load(path)


def _require_vortex():
    """Import gate for the optional vortex-python package.

    Reference reads/writes Vortex natively via its registered
    FileFormatFactory (extensions/vortex.rs:36-44). No Spark/JVM
    Vortex datasource exists anywhere, so this engine goes through
    Vortex's own Arrow surface when the public ``vortex-data`` python
    package is importable — same honest-gate pattern as the Delta
    reader (jars when present, else pure-Python) and the multimodal
    codec stubs.
    """
    try:
        import vortex  # type: ignore

        return vortex
    except ImportError as e:
        raise NotImplementedError(
            "Vortex support requires the 'vortex-data' python package "
            "(no Spark/JVM Vortex datasource exists); install it or "
            "convert the data to parquet. Ref: extensions/vortex.rs:36-44."
        ) from e


def _vortex_file_to_arrow(path: str):
    """One file -> pyarrow Table via vortex-python, API-surface tolerant."""
    vortex = _require_vortex()
    f = vortex.open(path) if hasattr(vortex, "open") else vortex.io.read_path(path)
    for attr in ("to_arrow_table", "to_arrow", "read_all"):
        if hasattr(f, attr):
            out = getattr(f, attr)()
            import pyarrow as pa

            return out if isinstance(out, pa.Table) else pa.table(out)
    raise NotImplementedError(
        f"unrecognized vortex-python API on {type(f).__name__}; "
        "expected to_arrow_table/to_arrow/read_all"
    )


def _vortex_write_table(table, path: str) -> None:
    """One pyarrow Table -> one Vortex file, writer-API tolerant."""
    vortex = _require_vortex()
    for attr in ("write", "write_path"):
        writer_fn = getattr(getattr(vortex, "io", vortex), attr, None) or getattr(
            vortex, attr, None
        )
        if writer_fn:
            writer_fn(table, path)
            return
    raise NotImplementedError("unrecognized vortex-python writer API")


def read_vortex(spark: SparkSession, path: str) -> DataFrame:
    """Distributed Vortex scan through the package's Arrow surface.

    Reads through the Spark 4 Python DataSource
    (``sources/vortex_datasource.py``); registering it raises the
    actionable NotImplementedError when vortex-python is absent.
    """
    from .vortex_datasource import FORMAT_NAME, register_vortex_datasource

    register_vortex_datasource(spark)
    return spark.read.format(FORMAT_NAME).load(path)


def write_any(
    df: DataFrame,
    path: str,
    fmt: str | None = None,
    mode: str = "overwrite",
    single_file: bool = False,
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> str:
    """Write ``df`` to ``path`` in the suffix-inferred format.

    ``partition_by`` produces a hive-layout directory tree
    (``col=value/``) — the COPY ... PARTITIONED BY path; incompatible
    with ``single_file`` and the arrow/vortex writers. Arrow/vortex
    targets WITH a ``.arrow``/``.vortex`` suffix (or single_file=True)
    keep the reference's one-file export contract (driver-side via
    ``df.toArrow()``); every other target is a directory of DISTRIBUTED
    part files written through the format's Python DataSource, whose
    registration errors propagate.
    ``options`` are Spark writer options (COPY OPTIONS, already mapped
    by ``sql._parse_copy_options``) layered over the csv header
    default; they apply to the Spark writer formats only (the
    arrow/vortex writers take none).
    """
    fmt = fmt or infer_format(path)
    if options and fmt in ("arrow", "vortex"):
        raise ValueError(f"COPY OPTIONS are not supported for {fmt}")
    if options:
        # Spark writers IGNORE options foreign to their format (parquet
        # drops sep= silently) — enforce applicability here so a
        # delimiter on a parquet export fails loudly instead of being
        # dropped (the same contract as unknown-key rejection).
        for opt in options:
            allowed = _OPTION_FORMATS.get(opt, frozenset())
            if fmt not in allowed:
                raise ValueError(
                    f"COPY OPTIONS: {opt!r} does not apply to {fmt} "
                    f"(valid for: {', '.join(sorted(allowed)) or 'no format'})"
                )
    if partition_by:
        if single_file:
            raise ValueError("partition_by and single_file are mutually exclusive")
        if fmt in ("arrow", "vortex"):
            raise ValueError(f"partitioned writes are not supported for {fmt}")
        writer = df.write.mode(mode).partitionBy(*partition_by)
        if fmt == "csv":
            writer = writer.option("header", "true")
        if options:
            writer = writer.options(**options)
        writer.format(fmt).save(path)
        return path
    out = df.coalesce(1) if single_file else df
    writer = out.write.mode(mode)
    if fmt == "csv":
        writer = writer.option("header", "true")
    if options:
        writer = writer.options(**options)
    if fmt == "arrow":
        from .arrow_datasource import FORMAT_NAME, register_arrow_datasource

        if not single_file and not path.endswith(".arrow"):
            # Directory target → DISTRIBUTED part-file write through the
            # Python DataSource (each task serializes its own partition;
            # nothing is collected to the driver).
            register_arrow_datasource(df.sparkSession)
            df.write.format(FORMAT_NAME).mode(mode).save(path)
            return path
        # Single-file contract ('COPY ... TO file.arrow', CLI -o): the
        # result must land in ONE file, so it funnels through the driver
        # — via toArrow() (Spark's own Arrow batches; type-faithful,
        # unlike the old toPandas() hop that mangled decimals).
        import pyarrow.ipc as ipc

        table = df.toArrow()
        with ipc.new_file(path, table.schema) as w:
            w.write_table(table)
        return path
    if fmt == "vortex":
        # src/cli/mod.rs:780-806 AnyWriter::Vortex analog, behind the gate.
        from .vortex_datasource import FORMAT_NAME as _VORTEX_FMT
        from .vortex_datasource import register_vortex_datasource

        if not single_file and not path.endswith(".vortex"):
            # Directory target → distributed part-file write (mirrors
            # the arrowipc DataSource path above).
            register_vortex_datasource(df.sparkSession)
            df.write.format(_VORTEX_FMT).mode(mode).save(path)
            return path
        _require_vortex()  # actionable gate before any execution
        _vortex_write_table(df.toArrow(), path)
        return path
    writer.format(fmt).save(path)
    return path


def copy_to(
    spark: SparkSession,
    query: str,
    path: str,
    fmt: str | None = None,
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> int:
    """SQL-level export: ``COPY (query) TO 'file'`` equivalent.

    Returns the number of rows exported (DataFusion's COPY result).
    Partitioned exports write a directory tree; unpartitioned ones a
    single file, matching the reference's file-target semantics.

    The count comes from an ``Observation`` riding the write itself —
    ONE execution, and the reported count is exactly the rows the write
    saw (a separate ``count()`` would double the cost and could diverge
    from the written rows on non-deterministic sources; DataFusion's
    COPY likewise derives its count from the write).
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = spark.sql(query)
    obs = Observation()
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    write_any(
        df,
        path,
        fmt=fmt,
        single_file=not partition_by,
        partition_by=partition_by,
        options=options,
    )
    return int(obs.get["rows"])
