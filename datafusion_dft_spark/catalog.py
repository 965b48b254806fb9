"""Table registration & directory-catalog bootstrap.

Reference analog: ``src/db.rs:37-150`` — dft walks a
``{catalog}/{schema}/{table}/`` directory tree, sniffs the storage
format from file extensions, and registers each leaf directory as a
table. Here the same idea is expressed through ``spark.read`` +
temp views / ``spark.catalog``.
"""

from __future__ import annotations

import os
from collections.abc import Mapping
from pathlib import Path
from typing import Iterator

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import AppContext

# The driver's synthetic corpus (TESTDATA.md): TPC-H-ish star schema
# plus events / documents / embeddings for the pipeline operators.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Format sniffing by extension — src/db.rs:37-52 analog.
_EXT_FORMAT = {
    ".parquet": "parquet",
    ".csv": "csv",
    ".json": "json",
    ".ndjson": "json",
    ".jsonl": "json",
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table, normalizing physical quirks.

    The ``events`` table is written with TIMESTAMP(NANOS) — Spark's
    vectorized reader rejects that type, so it is read under
    ``spark.sql.legacy.parquet.nanosAsLong`` and converted back to a
    microsecond timestamp with integer division (the corpus values are
    µs-precision, so the conversion is lossless).
    """
    path = table_path(sf_dir, name)
    if name == "events":
        # Set-and-restore: leaking the legacy flag would silently turn
        # every later nanos-timestamp parquet read session-wide into longs.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(path)
            df.schema  # force analysis while the flag is active
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            # Spark 4.1 infers naive parquet timestamps as TIMESTAMP_NTZ by
            # default; event-time operators (unix_micros, watermarks,
            # stream-stream time-range predicates) require TIMESTAMP. The
            # session TZ is pinned UTC, so the cast is value-preserving.
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df
    return spark.read.parquet(path)


class Tables(Mapping):
    """Lazy table map: reads (and caches) a DataFrame on first access.

    Laziness matters: a query touching only ``lineitem`` should not pay
    schema inference for nine other files — and at cluster scale, should
    not even list their objects.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._cache:
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]

    def __iter__(self) -> Iterator[str]:
        return iter(t for t in TABLES if os.path.exists(table_path(self._sf_dir, t)))

    def __len__(self) -> int:
        return sum(1 for _ in self)


def load_tables(spark: SparkSession, sf_dir: str) -> Tables:
    """Lazy map over the corpus tables under ``sf_dir``, one per session
    and directory: repeated query builds reuse the already-analyzed
    DataFrames instead of re-listing files and re-reading parquet
    footers on every call (~50-100ms per table otherwise)."""
    tables = AppContext.of(spark).tables
    if sf_dir not in tables:
        tables.setdefault(sf_dir, Tables(spark, sf_dir))
    return tables[sf_dir]


def register_views(spark: SparkSession, sf_dir: str) -> Tables:
    """Register the corpus as temp views so SQL-form queries can run.

    Idempotent (createOrReplaceTempView), so every SQL query builder can
    call it defensively.
    """
    tables = load_tables(spark, sf_dir)
    for name in tables:
        tables[name].createOrReplaceTempView(name)
    return tables


def sniff_format(table_dir: Path) -> str | None:
    """Pick the storage format of a table directory from its file extensions."""
    for f in sorted(table_dir.rglob("*")):
        if f.is_file():
            fmt = _EXT_FORMAT.get(f.suffix.lower())
            if fmt:
                return fmt
    return None


def register_db(spark: SparkSession, root: str) -> list[str]:
    """dft-style directory database: ``{root}/{catalog}/{schema}/{table}/``.

    Each table directory is registered as a temp view named
    ``{schema}.{table}`` is not expressible for temp views, so we use
    the Spark-native equivalent: ``CREATE DATABASE {schema}`` plus an
    external table pointing at the directory. A table directory Spark
    cannot read as its sniffed format raises an error naming it.
    Returns the list of fully qualified names registered.

    Reference parity: src/db.rs:54-150 (three-level catalog from
    directory layout, format sniffed per table dir). Each (catalog,
    schema) pair is recorded on the session's ``AppContext``, keyed by
    root so a re-scan replaces them, for sql.py
    ``_rewrite_catalog_prefixes``.
    """
    rootp = Path(root)
    registered: list[str] = []
    if not rootp.is_dir():
        return registered
    canon = str(rootp.resolve())
    pairs = AppContext.of(spark).catalog_schemas
    for pair in [p for p, r in pairs.items() if r == canon]:
        del pairs[pair]
    for catalog_dir in sorted(p for p in rootp.iterdir() if p.is_dir()):
        for schema_dir in sorted(p for p in catalog_dir.iterdir() if p.is_dir()):
            schema = schema_dir.name
            pairs[(catalog_dir.name, schema)] = canon
            for table_dir in sorted(p for p in schema_dir.iterdir() if p.is_dir()):
                fmt = sniff_format(table_dir)
                if fmt is None:
                    continue
                table = table_dir.name
                try:
                    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{schema}`")
                    spark.sql(f"DROP TABLE IF EXISTS `{schema}`.`{table}`")
                    spark.catalog.createTable(
                        f"`{schema}`.`{table}`",
                        path=str(table_dir),
                        source=fmt,
                        **({"header": "true", "inferSchema": "true"} if fmt == "csv" else {}),
                    )
                except (PySparkException, Py4JJavaError) as e:
                    first_line = str(e).split("\n")[0]
                    raise ValueError(
                        f"cannot register {table_dir} as {fmt} table {schema}.{table}: {first_line}"
                    ) from e
                registered.append(f"{schema}.{table}")
    return registered
