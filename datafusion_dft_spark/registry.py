"""Query registry: the single source of truth for the operator inventory.

Every operator/query from SURVEY.md §2 (plus the beyond-reference
pipeline operators) registers a :class:`QuerySpec` here. The driver
contract (``__spark_entry__.py``), the pytest differential harness and
``bench.py`` all iterate this registry, so an operator is "done" exactly
when its spec exists and its oracle passes.
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

BuildFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: BuildFn
    oracle: str | None  # DuckDB SQL over views region/nation/.../embeddings; None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = True  # include in bench.py timing loop


_REGISTRY: dict[str, QuerySpec] = {}

# Modules that register queries on import.
_QUERY_MODULES = (
    "datafusion_dft_spark.queries.tpch",
    "datafusion_dft_spark.queries.analytics",
    "datafusion_dft_spark.queries.events",
    "datafusion_dft_spark.queries.text",
    "datafusion_dft_spark.queries.sampling",
    "datafusion_dft_spark.queries.dedup",
    "datafusion_dft_spark.queries.similarity",
    "datafusion_dft_spark.queries.multimodal",
    "datafusion_dft_spark.queries.lifecycle",
    "datafusion_dft_spark.queries.joins_ext",
    "datafusion_dft_spark.queries.windows_ext",
    "datafusion_dft_spark.queries.pipeline",
)


def query(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = True,
) -> Callable[[BuildFn], BuildFn]:
    """Decorator registering a query builder under ``name``."""

    def deco(fn: BuildFn) -> BuildFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name=name, build=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tuple(tags), bench=bench
        )
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    """Import all query modules and return the registry (name-sorted).

    A module that fails to import raises: skipping it would silently
    drop its queries from the registry.
    """
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    return dict(sorted(_REGISTRY.items()))
