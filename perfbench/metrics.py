"""Every metric the benchmark prints: name -> (unit, better[, bound]).
BENCHMARK.json lists the same names; a test keeps the two equal."""

from __future__ import annotations

from workloads import BATCH_ENTRIES

#: end-to-end metrics (untraced runs): unit, direction, and the share of
#: the parent's median by which a change may worsen them
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "latency_geomean_ms": ("ms", "lower", 0.25),
    "throughput_ops": ("1/s", "higher", 0.25),
}

#: per-layer metrics (traced runs). Set-up layers are totals for the run;
#: the rest are means per operation of the traced window.
PER_LAYER = {
    #: driver plus JVM high-water mark; the JVM's heap growth makes it
    #: vary by about 20% between runs, too much for an end-to-end bound
    "process.peak_rss_mb": ("MB", "lower"),
    "session.start_s": ("s", "lower"),
    "tpch_graph.materialize_s": ("s", "lower"),
    "compiler.stats_s": ("s", "lower"),
    "parser.parse_ms": ("ms", "lower"),
    "compiler.compile_ms": ("ms", "lower"),
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "api.sql_calls": ("count", "higher"),
    "api.plan_cache_hit_ratio": ("ratio", "higher"),
    "api.compile_wait_ms": ("ms", "lower"),
    "paths.closure_ms": ("ms", "lower"),
    "paths.closure_calls": ("count", "lower"),
    "paths.jobs": ("count", "lower"),
    "json_result.serialize_ms": ("ms", "lower"),
    "json_result.jobs_per_request": ("count", "lower"),
    "json_result.response_bytes": ("bytes", "lower"),
    "server.overhead_ms": ("ms", "lower"),
    "spark.exec_ms": ("ms", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.scheduler_delay_ms": ("ms", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "spark.python_boundary_nodes": ("count", "lower"),
    "tables.table_calls": ("count", "lower"),
    "tables.table_ms": ("ms", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.action_s": ("s", "lower"),
    **{f"operators.{name}_s": ("s", "lower") for name in BATCH_ENTRIES},
    "ingest.write_s": ("s", "lower"),
    "ingest.query_s": ("s", "lower"),
    "ingest.statements": ("count", "higher"),
    "ingest.bytes_written": ("bytes", "lower"),
    "ingest.rows_per_s": ("1/s", "higher"),
    "trace.ops": ("count", "higher"),
    "trace.spans": ("count", "lower"),
    "trace.overhead_latency_geomean_ms": ("ms", "lower"),
    "trace.overhead_throughput_ops": ("1/s", "higher"),
}


def result(values: dict[str, float], traced: bool) -> dict:
    """The ``metrics`` object of the result line, in declaration order."""
    table = PER_LAYER if traced else END_TO_END
    missing = table.keys() - values.keys()
    if missing:
        raise KeyError(f"metrics not computed: {sorted(missing)}")
    return {name: {"value": values[name], "unit": spec[0]} for name, spec in table.items()}
