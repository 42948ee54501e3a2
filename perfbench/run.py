"""Repository benchmark: SPARQL serving and batch analytics with Wikidata
ingest, timed end to end, with a traced layer split.

    python3 perfbench/run.py --workload sparql_serving --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (metrics.py and BENCHMARK.json list both). The line before
it describes the run: machine, settings, sample counts, per-shape
medians and every failed operation.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import harness  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402
from workloads import BATCH_ENTRIES, WORKLOADS, Context, Op, oracle_connection  # noqa: E402

#: where traced runs leave their span dump, relative to the repository root
OUT_DIR = ".perfbench_out"
#: scratch space for generated inputs and Spark's files, removed at exit
WORK_DIR = ".perfbench_work"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def end_to_end(ops: list[Op], setup_s: float) -> dict[str, float]:
    """Latency over every operation of a window, as the geometric mean: a
    window holds a fixed mix of very different operations, one to three of
    each kind, and over five seeds the mean of their logarithms spread
    half as much as their median did. Throughput counts the correct
    operations per second, from the window's start to the last reply."""
    t0 = min(op.start for op in ops)
    t1 = max(op.end for op in ops)
    good = sum(1 for op in ops if op.error is None)
    return {
        "setup_s": setup_s,
        "latency_geomean_ms": geomean([op.ms for op in ops]),
        "throughput_ops": good / (t1 - t0),
    }


def per_layer(tracer, jobs, ops: list[Op], overhead: dict[str, float], rss_mb: float) -> dict[str, float]:
    out = {
        "process.peak_rss_mb": rss_mb,
        "session.start_s": sum(s.dur for s in tracer.spans if s.name == "session.start"),
    }
    out.update(tracing.layer_metrics(tracer, jobs, [op.rid for op in ops], {op.rid: op.ms for op in ops}))
    out["json_result.response_bytes"] = sum(op.extra.get("bytes", 0) for op in ops) / max(1, len(ops))
    entries = [op for op in ops if "entry" in op.extra]
    k = max(1, len(entries))
    out["operators.build_s"] = sum(op.extra["build_s"] for op in entries) / k
    out["operators.action_s"] = sum(op.extra["action_s"] for op in entries) / k
    for name in BATCH_ENTRIES:
        times = [op.ms / 1000.0 for op in entries if op.extra["entry"] == name]
        out[f"operators.{name}_s"] = statistics.median(times) if times else 0.0
    cycles = [op for op in ops if "ingest" in op.extra and op.error is None]
    m = max(1, len(cycles))
    for key in ("write_s", "query_s", "statements", "bytes_written"):
        out[f"ingest.{key}"] = sum(op.extra.get(key, 0) for op in cycles) / m
    out["ingest.rows_per_s"] = out["ingest.statements"] / out["ingest.write_s"] if cycles else 0.0
    out["trace.overhead_latency_geomean_ms"] = overhead["latency_geomean_ms"]
    out["trace.overhead_throughput_ops"] = overhead["throughput_ops"]
    return out


def describe(ops: list[Op]) -> dict:
    """Sample count, median, the highest percentile with ten samples above
    it (if any), and the median per query shape or registry entry."""
    lat = [op.ms for op in ops]
    tail = harness.tail_percentile(lat)
    kinds: dict[str, list[float]] = {}
    for op in ops:
        kind = op.extra.get("shape") or op.extra.get("entry") or "wikidata_ingest"
        kinds.setdefault(kind, []).append(op.ms)
    return {
        "samples": len(ops),
        "p50_ms": round(statistics.median(lat), 3),
        "geomean_ms": round(geomean(lat), 3),
        "tail": None if tail is None else {"percentile": tail, "ms": round(harness.percentile(lat, tail), 3)},
        "p50_ms_by_kind": {k: round(statistics.median(v), 1) for k, v in sorted(kinds.items())},
    }


def run(args: argparse.Namespace) -> int:
    root = os.getcwd()
    sys.path.insert(1, root)
    try:
        from graphdb_wikidata_spark import session
    except ImportError as e:
        print(f"perfbench: the program is not importable from {root}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(root, WORK_DIR, f"{args.workload}-{os.getpid()}")
    mach = harness.machine()
    settings = harness.fit_environment(work, mach)
    try:
        return measure(args, root, work, mach, settings, session)
    finally:
        harness.remove_work(work)


def measure(args, root: str, work: str, mach: dict, settings: dict, session) -> int:
    gen_start = time.perf_counter()
    sf_dir = os.path.join(work, "tables")
    gen.write_tables(gen.tpch_tables(args.seed), sf_dir)
    dump_path = os.path.join(work, "dump.json")
    dump_expected = gen.wikidata_dump(args.seed, dump_path)
    gen_s = time.perf_counter() - gen_start

    tracer = tracing.Tracer(enabled=bool(args.trace))
    extra_conf = {}
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        from graphdb_wikidata_spark.operators import all_queries

        all_queries()  # import every operator module before wrapping
        tracing.install(tracer)
        os.makedirs(log_dir)
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        }

    spark = None
    con = oracle_connection(sf_dir)
    try:
        with tracer.span("session.start"):
            spark = session.get_spark(extra_conf=extra_conf)
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Context(spark, sf_dir, dump_path, dump_expected, work, args.seed, tracer, con)
        wl = WORKLOADS[args.workload]()
        warm_up = wl.setup(ctx)
        setup_s = time.perf_counter() - PROCESS_START - gen_s

        ops = wl.window(ctx, args.seconds, "r")
        untraced: list[Op] = []
        if args.trace:
            # the traced window is the first after set-up, as in untraced
            # runs; an untraced window follows in the same process, and
            # the difference is the tracing overhead
            tracer.enabled = False
            untraced = wl.window(ctx, args.seconds, "u")
        checked = warm_up + ops + untraced
        wl.check(ctx, checked)
        rss = harness.peak_rss_mb()
        versions = {"spark": spark.version, "java": harness.java_version()}
        wl.teardown(ctx)
    finally:
        con.close()
        if spark is not None:
            harness.stop_spark(spark)

    e2e = end_to_end(ops, setup_s)
    failed = [op for op in checked if op.error is not None]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "machine": mach,
        "versions": versions,
        "settings": {k: settings[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        "calibration_s": round(harness.calibration_probe(), 4),
        "input_generation_s": round(gen_s, 3),
        "peak_rss_mb": round(rss, 1),
        "window": describe(ops),
        "failures": [f"{op.rid}: {op.error}" for op in failed],
    }
    if args.trace:
        base = end_to_end(untraced, setup_s)
        overhead = {k: e2e[k] - base[k] for k in ("latency_geomean_ms", "throughput_ops")}
        values = per_layer(tracer, tracing.read_event_log(log_dir), ops, overhead, rss)
        os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
        span_file = os.path.join(root, OUT_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(span_file)
        report["untraced_window"] = describe(untraced)
        report["spans_file"] = os.path.relpath(span_file, root)
    else:
        values = e2e
    print("perfbench: " + json.dumps(report))
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(checked),
                "failed": len(failed),
                "metrics": metrics.result(values, bool(args.trace)),
            }
        )
    )
    return 0


def main(argv=None) -> int:
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
