"""Function extensions: parquet metadata, information_schema."""
