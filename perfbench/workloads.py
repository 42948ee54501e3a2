"""The workloads. Each one has a set-up (timed as part of ``setup_s``)
that returns its warm-up operations, a measured window, and a correctness
check that runs after the window, outside the timed region, on the
warm-up and window operations alike.

An operation is one HTTP request (``sparql_serving``), or one registry
entry call plus its full materialization or one dump-to-queries ingest
cycle (``batch_analytics``). Every operation gets a request id.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import duckdb

import gen
import serve
import sparql


@dataclass
class Op:
    rid: str
    start: float
    end: float
    error: str | None = None
    #: per-operation figures for the traced run (client latency, bytes...)
    extra: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Context:
    spark: object
    sf_dir: str
    dump_path: str
    dump_expected: dict
    work: str
    seed: int
    #: a disabled Tracer, with no wrappers installed, in untraced runs
    tracer: object
    #: DuckDB connection with a view per base table, for the oracles
    con: object


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in gen.SIZES.keys() | {"region", "nation"}:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, name + '.parquet')}')"
        )
    return con


# ---------------------------------------------------------------------------
# SPARQL over HTTP
# ---------------------------------------------------------------------------


class SparqlServing:
    """Closed-loop HTTP clients over the statements graph of the base
    tables. Set-up warms the plan cache with the repeated texts."""

    #: closed-loop clients, never more than the machine's cores
    clients = min(2, len(os.sched_getaffinity(0)))
    #: a window holds at least this many blocks, three samples of each
    #: kind. With a time limit alone, a slow run stopped a block earlier
    #: than a fast one and missed the warmest block (2 of 10 runs at 12 s
    #: and at 14 s); over ten seeds, two blocks spread 13 % (latency) and
    #: 16 % (throughput) between runs, three blocks 6 % and 10 %
    min_blocks = 3

    def setup(self, ctx: Context) -> list[Op]:
        from graphdb_wikidata_spark.engine import tpch_graph
        from graphdb_wikidata_spark.engine.api import GraphEngine

        self.engine = GraphEngine(ctx.spark, tpch_graph.materialized_statements(ctx.spark, ctx.sf_dir)).warm()
        self.srv, self.thread = serve.serve(self.engine, ctx.tracer if ctx.tracer.installed else None)
        self.port = self.srv.server_address[1]
        self._source = iter(sparql.serving_requests(ctx.seed))
        return _ops(serve.send_all(self.port, sparql.hot_requests(ctx.seed), self.clients))

    def window(self, ctx: Context, seconds: float, prefix: str) -> list[Op]:
        return _ops(
            serve.closed_loop(
                self.port, self._source, self.clients, seconds, prefix, sparql.BLOCK, self.min_blocks * sparql.BLOCK
            )
        )

    def check(self, ctx: Context, ops: list[Op]) -> None:
        for op in ops:
            s = op.extra.pop("sample")
            if op.error is None:
                err = sparql.check_response(s.body, s.req, ctx.con)
                op.error = err and f"{s.req.shape}: {err} [{s.req.text}]"

    def teardown(self, ctx: Context) -> None:
        serve.shutdown(self.srv, self.thread)


def _ops(samples: list[serve.Sample]) -> list[Op]:
    ops = []
    for s in samples:
        err = s.error or (None if s.status == 200 else f"HTTP {s.status}: {s.body[:200]}")
        ops.append(Op(s.rid, s.start, s.end, err, {"shape": s.req.shape, "bytes": len(s.body), "sample": s}))
    return ops


# ---------------------------------------------------------------------------
# batch: registry entries and a Wikidata ingest cycle
# ---------------------------------------------------------------------------

#: operator-registry entries: relational and TPC-H entries built on
#: tables.table(), events, the LLM-pipeline text and vector entries, and
#: iterative kernels
BATCH_ENTRIES = (
    "tpch_q1_agg",
    "tpch_q3_topk",
    "join_multiway",
    "window_rank",
    "events_sessionize",
    "events_asof_join",
    "text_stats",
    "dedup_minhash_lsh",
    "embedding_lsh_buckets",
    "graph_pagerank_chain",
    "dedup_clusters",
    "bpe_train_merges",
)
#: the pass's one write operation
INGEST_OP = "wikidata_ingest"

INGEST_QUERIES = {
    "p31": "SELECT ?s ?o WHERE { ?s wdt:P31 ?o . }",
    "qualified": (
        f"SELECT ?s ?v ?q WHERE {{ ?s p:P{gen.QUALIFIED_P} ?st . "
        f"?st ps:P{gen.QUALIFIED_P} ?v . ?st pq:P{gen.QUALIFIER_P} ?q . }}"
    ),
    "labels": (
        "SELECT ?s ?sLabel WHERE { ?s wdt:P31 ?o . "
        'SERVICE wikibase:label { bd:serviceParam wikibase:language "fr,en". } }'
    ),
}


def _norm_value(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return int(v) if v.is_integer() else v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    return v


def result_digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns sorted by name, values
    normalized, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    normed = sorted(repr(tuple(_norm_value(r[i]) for i in order)) for r in rows)
    return hashlib.sha256("\n".join(normed).encode()).hexdigest()


class BatchAnalytics:
    """One in-process caller. Each pass runs every registry entry plus one
    ingest cycle, in a seeded order."""

    def setup(self, ctx: Context) -> list[Op]:
        from graphdb_wikidata_spark.engine import tpch_graph
        from graphdb_wikidata_spark.operators import all_oracles, all_queries

        registry, oracles = all_queries(), all_oracles()
        self.entries = {n: registry[n] for n in BATCH_ENTRIES}
        self.oracles = {n: oracles[n] for n in BATCH_ENTRIES}
        # graph_pagerank_chain reads its edges off the statements graph:
        # build it here, as a deployment has it before any job runs
        tpch_graph.materialized_statements(ctx.spark, ctx.sf_dir).count()
        self.frames: dict[str, object] = {}
        self.ingested: dict[str, tuple[str, dict[str, str]]] = {}
        # one ingest cycle before the window: the dump's JSON decoding is
        # the pass's longest first-use cost, and its time varied by half
        # between runs when the pass paid it
        return [self._ingest(ctx, INGEST_OP, "warm")]

    def window(self, ctx: Context, seconds: float, prefix: str) -> list[Op]:
        """Whole passes until ``seconds`` have passed (at least one)."""
        ops: list[Op] = []
        t0 = time.perf_counter()
        n = 0
        while n == 0 or time.perf_counter() - t0 < seconds:
            order = [*self.entries, INGEST_OP]
            random.Random(f"{ctx.seed}-{prefix}-{n}").shuffle(order)
            for name in order:
                rid = f"{prefix}{n}-{name}"
                run = self._ingest if name == INGEST_OP else self._entry
                ops.append(run(ctx, name, rid))
            n += 1
        return ops

    def _entry(self, ctx: Context, name: str, rid: str) -> Op:
        """The entry's callable (eager kernels do their work here) plus a
        full materialization of every column."""
        tracer = ctx.tracer
        start = time.perf_counter()
        try:
            with tracer.request(rid, ctx.spark.sparkContext):
                with tracer.span("operators.build"):
                    df = self.entries[name](ctx.spark, ctx.sf_dir)
                built = time.perf_counter()
                tracer.record_plan(df)
                with tracer.span("operators.action"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - a failed entry is a failed operation
            return Op(rid, start, time.perf_counter(), f"{name}: {type(e).__name__}: {e}")
        end = time.perf_counter()
        self.frames.setdefault(name, df)
        return Op(rid, start, end, None, {"entry": name, "build_s": built - start, "action_s": end - built})

    def _ingest(self, ctx: Context, name: str, rid: str) -> Op:
        """Dump -> statements parquet -> engine over it -> three queries."""
        from graphdb_wikidata_spark import ingest
        from graphdb_wikidata_spark.engine.api import GraphEngine

        tracer = ctx.tracer
        out = os.path.join(ctx.work, "ingest", rid)
        start = time.perf_counter()
        bodies: dict[str, str] = {}
        try:
            with tracer.request(rid, ctx.spark.sparkContext):
                with tracer.span("ingest.write"):
                    ingest.write_statements(ingest.load_dump(ctx.spark, ctx.dump_path), out)
                written = time.perf_counter()
                with tracer.span("ingest.query"):
                    engine = GraphEngine.from_parquet(ctx.spark, out)
                    for query, text in INGEST_QUERIES.items():
                        bodies[query] = engine.sql_json(text)
        except Exception as e:  # noqa: BLE001 - a failed cycle is a failed operation
            return Op(rid, start, time.perf_counter(), f"{name}: {type(e).__name__}: {e}")
        end = time.perf_counter()
        self.ingested[rid] = (out, bodies)
        return Op(rid, start, end, None, {"ingest": True, "write_s": written - start, "query_s": end - written})

    def check(self, ctx: Context, ops: list[Op]) -> None:
        verdict: dict[str, str | None] = {}
        for name, df in self.frames.items():
            try:
                got = result_digest(df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # noqa: BLE001 - reported as the entry's failure
                verdict[name] = f"{name}: collect failed: {type(e).__name__}: {e}"
                continue
            cur = ctx.con.execute(self.oracles[name])
            want = result_digest([d[0] for d in cur.description], cur.fetchall())
            verdict[name] = None if got == want else f"{name}: result hash differs from its oracle"
        for op in ops:
            if op.error is not None:
                continue
            if "ingest" in op.extra:
                op.error = self._check_ingest(ctx, op)
            else:
                op.error = verdict.get(op.extra["entry"])

    def _check_ingest(self, ctx: Context, op: Op) -> str | None:
        """Counts and query results against the values the generator
        recorded while writing the dump."""
        out, bodies = self.ingested.pop(op.rid)
        want = ctx.dump_expected
        expected = {
            "p31": want["p31"],
            "qualified": want["qualified"],
            "labels": sorted((s, want["labels"][s]) for s, _ in want["p31"]),
        }
        n = ctx.spark.read.parquet(out).count()
        op.extra["statements"] = n
        op.extra["bytes_written"] = _du(out)
        shutil.rmtree(out, ignore_errors=True)
        errors = []
        if n != want["statements"]:
            errors.append(f"{n} statements written, the generator made {want['statements']}")
        for query, body in bodies.items():
            _, rows = sparql.response_rows(body)
            if sorted(rows) != expected[query]:
                errors.append(f"{query}: {len(rows)} rows differ from the generator's {len(expected[query])}")
        return f"{INGEST_OP}: " + "; ".join(errors) if errors else None

    def teardown(self, ctx: Context) -> None:
        self.frames.clear()
        for out, _ in self.ingested.values():
            shutil.rmtree(out, ignore_errors=True)


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


WORKLOADS = {
    "sparql_serving": SparqlServing,
    "batch_analytics": BatchAnalytics,
}
