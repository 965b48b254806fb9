"""Config-driven UDF registry — the reference's WASM-UDF surface on Python.

Reference mapping (SURVEY.md §2.10):
- WASM ``Row`` mode (per-row scalar calls, type whitelist
  Int32/Int64/Float32/Float64 — crates/datafusion-udfs-wasm/src/native/
  row.rs:50-100) → per-row Python UDF (``F.udf``), same four-type
  whitelist enforced with the same strictness;
- WASM ``ArrowIpc`` mode (whole columns shipped as Arrow IPC —
  arrow/ipc.rs:140-320) → ``pandas_udf`` (Arrow-batched, the identical
  transport concept);
- registration from config at session build
  (crates/datafusion-app/src/config.rs:256-269, local.rs:106-112).

UDFs register as deterministic (reference volatility=Immutable,
udfs-wasm/src/lib.rs:95).
"""

from __future__ import annotations

import importlib
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import UdfConfig
from ..session import AppContext

# The reference's exact supported-type whitelist (native/row.rs:50-77).
ALLOWED_TYPES: dict[str, T.DataType] = {
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
}


class UdfTypeError(ValueError):
    """Mirrors the reference's unsupported-type registration error."""


def _resolve(function_path: str) -> Callable:
    mod, _, name = function_path.partition(":")
    if not name:
        raise ValueError(f"udf function must be 'module:callable', got {function_path!r}")
    return getattr(importlib.import_module(mod), name)


def register_udf(spark: SparkSession, cfg: UdfConfig) -> None:
    """Register one config UDF and record its signature on the session's
    ``AppContext``: config UDFs are the only functions whose parameter
    types are knowable (Spark's catalog does not expose builtin JVM
    signatures), and information_schema.routines/parameters report them
    (reference asserts both views: src/db.rs:195-196)."""
    for t in [*cfg.input_types, cfg.return_type]:
        if t not in ALLOWED_TYPES:
            raise UdfTypeError(
                f"unsupported UDF type {t!r} for {cfg.name!r}; "
                f"supported: {sorted(ALLOWED_TYPES)}"
            )
    fn = _resolve(cfg.function)
    ret = ALLOWED_TYPES[cfg.return_type]
    if cfg.mode == "row":
        spark.udf.register(cfg.name, F.udf(fn, ret))
    elif cfg.mode == "arrow":
        spark.udf.register(cfg.name, F.pandas_udf(fn, ret))
    else:
        raise ValueError(f"unknown UDF mode {cfg.mode!r} (expected 'row' or 'arrow')")
    ctx = AppContext.of(spark)
    ctx.udfs[cfg.name] = cfg
    ctx.routines_fresh = False


def register_udfs(spark: SparkSession, udfs: list[UdfConfig]) -> list[str]:
    for cfg in udfs:
        register_udf(spark, cfg)
    return [u.name for u in udfs]
