"""datafusion_dft_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of ``datafusion-contrib/datafusion-dft`` (reference
checkout at /root/reference, studied for *what* to compute only) in
idiomatic PySpark: DataFrame/SQL plans optimized by Catalyst, scaled
via partitioning/broadcast/AQE, with Pandas-UDF escapes only where
built-ins can't express the semantics.

Layout:
    session     — SparkSession factory + runtime conf (extensions/builder.rs analog)
    catalog     — table registration, directory-catalog bootstrap (src/db.rs analog)
    registry    — QuerySpec registry binding Spark builders to DuckDB oracle SQL
    queries/    — operator inventory from SURVEY.md §2 (TPC-H-adapted + analytics)
    operators/  — reusable large-scale operators (dedup, similarity, text, multimodal)
    sources/    — readers/writers with format sniffing (src/cli/mod.rs AnyWriter analog)
    functions/  — parquet_metadata table function
    plans/      — bench/analyze harness (crates/datafusion-app/src/local.rs analog)
    streaming/  — Structured Streaming variants (beyond-reference)
"""

__version__ = "0.1.0"
