"""Operator library.

Each module exposes ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
and ``ORACLES: dict[str, str]`` (ANSI SQL for DuckDB over the same parquet
tables). ``all_queries()`` / ``all_oracles()`` merge every module — this is
what ``__spark_entry__.py`` re-exports to the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from . import asof, corpus, dedup, events, graph, multimodal, relational, similarity, text, tpch

    from ..engine import entry_queries as sparql_queries
    from ..streaming import entry as streaming_entry

    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in (relational, tpch, events, asof, text, corpus, dedup, similarity, multimodal, graph, streaming_entry, sparql_queries):
        merged.update(mod.QUERIES)
    return merged


def all_oracles() -> dict[str, str]:
    from . import asof, corpus, dedup, events, graph, multimodal, relational, similarity, text, tpch

    from ..engine import entry_queries as sparql_queries
    from ..streaming import entry as streaming_entry

    merged: dict[str, str] = {}
    for mod in (relational, tpch, events, asof, text, corpus, dedup, similarity, multimodal, graph, streaming_entry, sparql_queries):
        merged.update(mod.ORACLES)
    return merged
