"""information_schema emulation over spark.catalog.

Reference: dft enables DataFusion's information_schema
(extensions/builder.rs:82,100-102) and asserts tables/views/columns/
df_settings/schemata/routines/parameters contents (src/db.rs:186-198).
Spark exposes the same facts through ``spark.catalog`` (+ the session
conf and the UDF-registry signatures); the SQL layer rewrites
``information_schema.X`` to these ``__info_X`` temp views, refreshed
at query time.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..session import AppContext
from .udf_registry import ALLOWED_TYPES

_TABLES_SCHEMA = T.StructType(
    [
        T.StructField("table_catalog", T.StringType()),
        T.StructField("table_schema", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("table_type", T.StringType()),
    ]
)

_COLUMNS_SCHEMA = T.StructType(
    [
        T.StructField("table_catalog", T.StringType()),
        T.StructField("table_schema", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("column_name", T.StringType()),
        T.StructField("ordinal_position", T.LongType()),
        T.StructField("data_type", T.StringType()),
        T.StructField("is_nullable", T.StringType()),
    ]
)

_SCHEMATA_SCHEMA = T.StructType(
    [
        T.StructField("catalog_name", T.StringType()),
        T.StructField("schema_name", T.StringType()),
    ]
)

# DataFusion's information_schema.routines / .parameters column sets
# (public information_schema.rs; the reference asserts both views exist,
# src/db.rs:195-196).
_ROUTINES_SCHEMA = T.StructType(
    [
        T.StructField("specific_catalog", T.StringType()),
        T.StructField("specific_schema", T.StringType()),
        T.StructField("specific_name", T.StringType()),
        T.StructField("routine_catalog", T.StringType()),
        T.StructField("routine_schema", T.StringType()),
        T.StructField("routine_name", T.StringType()),
        T.StructField("routine_type", T.StringType()),
        T.StructField("is_deterministic", T.BooleanType()),
        T.StructField("data_type", T.StringType()),
        T.StructField("function_type", T.StringType()),
        T.StructField("description", T.StringType()),
    ]
)

_PARAMETERS_SCHEMA = T.StructType(
    [
        T.StructField("specific_catalog", T.StringType()),
        T.StructField("specific_schema", T.StringType()),
        T.StructField("specific_name", T.StringType()),
        T.StructField("ordinal_position", T.LongType()),
        T.StructField("parameter_mode", T.StringType()),
        T.StructField("parameter_name", T.StringType()),
        T.StructField("data_type", T.StringType()),
        T.StructField("parameter_default", T.StringType()),
        T.StructField("is_variadic", T.BooleanType()),
    ]
)

_SETTINGS_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("value", T.StringType()),
    ]
)

# The views this emulation itself serves, advertised under the
# information_schema schema exactly like the reference's SHOW TABLES
# output (src/db.rs:186-198).
_INFO_VIEWS = ("tables", "views", "columns", "df_settings", "schemata", "routines", "parameters")

# Window built-ins Spark registers as ordinary functions; DataFusion
# tags them WINDOW in routines.function_type.
_WINDOW_FNS = frozenset(
    {"rank", "dense_rank", "percent_rank", "cume_dist", "ntile", "row_number", "lag", "lead", "nth_value"}
)


def _function_type(name: str, class_name: str) -> str:
    if name in _WINDOW_FNS:
        return "WINDOW"
    if ".aggregate." in class_name:
        return "AGGREGATE"
    if ".generator." in class_name or name in ("explode", "posexplode", "inline", "stack"):
        return "TABLE"
    return "SCALAR"


def _refresh_routines(spark: SparkSession, catalog: str) -> None:
    """Build routines + parameters over spark.catalog.listFunctions().

    listFunctions() walks ~400 builtins through py4j (~2 s), so the views
    are rebuilt only when the session's ``AppContext.routines_fresh`` is
    cleared: by ``udf_registry.register_udf`` and by CREATE/DROP FUNCTION
    statements (``sql.prepare_statement``).

    Parameter rows exist only for config-registered UDFs: their
    signatures are declared in TOML (the reference's WASM-UDF config),
    while Spark's catalog does not expose builtin JVM signatures — an
    honest gap, documented here rather than fabricated.
    """
    ctx = AppContext.of(spark)
    if ctx.routines_fresh:
        return
    udfs = ctx.udfs
    routines = []
    parameters = []
    for fn in spark.catalog.listFunctions():
        cfg = udfs.get(fn.name)
        data_type = str(ALLOWED_TYPES[cfg.return_type].simpleString()).upper() if cfg else None
        routines.append(
            (
                catalog,
                "public",
                fn.name,
                catalog,
                "public",
                fn.name,
                "FUNCTION",
                True,  # deterministic-by-default, udfs-wasm/src/lib.rs:95
                data_type,
                _function_type(fn.name, fn.className or ""),
                fn.description,
            )
        )
        if cfg:
            for i, t in enumerate(cfg.input_types):
                parameters.append(
                    (
                        catalog,
                        "public",
                        fn.name,
                        i + 1,
                        "IN",
                        f"arg{i + 1}",
                        str(ALLOWED_TYPES[t].simpleString()).upper(),
                        None,
                        False,
                    )
                )
    spark.createDataFrame(routines, _ROUTINES_SCHEMA).createOrReplaceTempView("__info_routines")
    spark.createDataFrame(parameters or [], _PARAMETERS_SCHEMA).createOrReplaceTempView(
        "__info_parameters"
    )
    ctx.routines_fresh = True


def _quote_ident(part: str) -> str:
    return "`" + part.replace("`", "``") + "`"


def _column_rows(spark: SparkSession, catalog: str, schema: str, table: str, qualified: str):
    """information_schema.columns rows for one table, from the schema
    the session resolves for it (no per-table ``listColumns``). A table
    that does not resolve raises a ``ValueError`` naming it."""
    try:
        fields = spark.table(qualified).schema.fields
    except AnalysisException as e:
        first_line = str(e).split("\n")[0]
        raise ValueError(
            f"information_schema: cannot read columns of {qualified}: {first_line}"
        ) from e
    return [
        (catalog, schema, table, f.name, i + 1, f.dataType.simpleString(),
         "YES" if f.nullable else "NO")
        for i, f in enumerate(fields)
    ]


def refresh_information_schema(spark: SparkSession) -> None:
    catalog = spark.catalog.currentCatalog()
    tables = []
    columns = []
    for db in spark.catalog.listDatabases():
        tables_in_db = spark.catalog.listTables(db.name)
        for t in tables_in_db:
            if t.tableType == "TEMPORARY" and not t.namespace:
                # listTables(db) repeats session temp views under EVERY
                # database; they are catalogued once below instead.
                continue
            ttype = "VIEW" if t.tableType in ("TEMPORARY", "VIEW") else "BASE TABLE"
            schema = t.namespace[0] if t.namespace else db.name
            tables.append((t.catalog or catalog, schema, t.name, ttype))
            qualified = ".".join(_quote_ident(p) for p in [*(t.namespace or []), t.name])
            columns += _column_rows(spark, t.catalog or catalog, schema, t.name, qualified)
    # Session temp views live outside databases — catalogued exactly once
    # under the "session" schema (with their columns), regardless of how
    # many databases exist or whether a db table shares the name.
    for t in spark.catalog.listTables():
        if t.tableType == "TEMPORARY" and not t.namespace:
            if t.name.startswith(("__info_", "__pq_meta_")):
                # the emulation's own backing views are implementation
                # detail; information_schema surfaces below instead.
                continue
            tables.append((catalog, "session", t.name, "VIEW"))
            columns += _column_rows(spark, catalog, "session", t.name, _quote_ident(t.name))
    # Advertise the information_schema views themselves, matching the
    # reference's SHOW TABLES content (src/db.rs:186-198).
    for name in _INFO_VIEWS:
        tables.append((catalog, "information_schema", name, "VIEW"))
    schemata = [(catalog, db.name) for db in spark.catalog.listDatabases()]
    schemata.append((catalog, "information_schema"))

    spark.createDataFrame(tables, _TABLES_SCHEMA).createOrReplaceTempView("__info_tables")
    spark.createDataFrame(columns, _COLUMNS_SCHEMA).createOrReplaceTempView("__info_columns")
    spark.createDataFrame(
        [t for t in tables if t[3] == "VIEW"], _TABLES_SCHEMA
    ).createOrReplaceTempView("__info_views")
    spark.createDataFrame(schemata, _SCHEMATA_SCHEMA).createOrReplaceTempView(
        "__info_schemata"
    )
    # df_settings: the session's runtime conf as a relation (DataFusion's
    # information_schema.df_settings analog over Spark conf).
    settings = sorted(spark.sparkContext.getConf().getAll())
    seen = {k for k, _ in settings}
    for k in (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.session.timeZone",
        "spark.sql.files.maxPartitionBytes",
    ):
        if k not in seen:
            settings.append((k, spark.conf.get(k)))
    spark.createDataFrame(settings, _SETTINGS_SCHEMA).createOrReplaceTempView(
        "__info_df_settings"
    )
    _refresh_routines(spark, catalog)
