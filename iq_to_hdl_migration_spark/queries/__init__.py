"""Query registry: every implemented operator from SURVEY.md §2 is a
named entry with a Spark callable and (where SQL-expressible) a DuckDB
oracle SQL string. `__spark_entry__.py`, tests/ and bench.py all feed
from this single registry.
"""

from __future__ import annotations

import importlib

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# Modules that populate REGISTRY on import.
_QUERY_MODULES = [
    "relational",
    "relational_ext",
    "relational_ext2",
    "analytic_ext",
    "skew_queries",
    "catalog_ops",
    "dedup_queries",
    "text_queries",
    "similarity_queries",
    "events_queries",
    "temporal_queries",
    "sequence_queries",
    "cooccurrence_queries",
    "curation_queries",
    "supplychain_queries",
    "corpus_queries",
    "mlprep_queries",
    "sketch_queries",
    "snapshot_queries",
    "streaming_queries",
    "ddl_queries",
    "multimodal_queries",
    "schema_queries",
    "planning_queries",
    "validation_queries",
]


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None          # ANSI SQL for DuckDB over the same tables
    doc: str = ""               # SURVEY §2 row / reference file:line
    bench: bool = False         # include in bench.py headline set
    # Largest scale factor at which the oracle comparison is exact.
    # None = exact at any sf. Queries whose oracle relies on a sketch
    # degrading to exact below a row-count threshold (e.g.
    # approx_percentile below its accuracy) set this so a correctness
    # run at a bigger sf skips the equality check instead of
    # false-failing on documented approximation error.
    oracle_max_sf: float | None = None


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = "",
             bench: bool = False, oracle_max_sf: float | None = None):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to the
    registry. A name already registered raises: a second definition
    would otherwise silently replace the first, oracle included."""
    if name in REGISTRY:
        raise ValueError(f"query {name!r} is already registered")

    def wrap(fn):
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle,
                                   doc=doc, bench=bench,
                                   oracle_max_sf=oracle_max_sf)
        return fn
    return wrap


def load_all(strict: bool = True) -> dict[str, QuerySpec]:
    """Import all query modules (populates REGISTRY) and return it.

    Always strict: a module that fails to import raises instead of
    silently dropping its queries. `strict` is ignored; it stays only
    because perfbench/run.py and perfbench/make_digests.py still pass it.
    """
    for mod in _QUERY_MODULES:
        importlib.import_module(f"{__name__}.{mod}")
    return REGISTRY
