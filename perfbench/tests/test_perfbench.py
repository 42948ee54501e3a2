"""The benchmark's own tests. They need no Spark session:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random

import duckdb
import pytest

import gen
import harness
import metrics
import run
import sparql
import tracing
import workloads
from workloads import Op

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- the generator is deterministic for a seed ------------------------------


def test_tables_are_a_function_of_the_seed():
    a, b, c = gen.tpch_tables(7), gen.tpch_tables(7), gen.tpch_tables(8)
    assert a.keys() == b.keys()
    assert all(a[name].equals(b[name]) for name in a)
    assert not a["orders"].equals(c["orders"])


def test_dump_is_a_function_of_the_seed(tmp_path):
    paths = [tmp_path / f"{n}.json" for n in "abc"]
    expected = [gen.wikidata_dump(seed, str(p)) for seed, p in zip((7, 7, 8), paths)]
    assert paths[0].read_bytes() == paths[1].read_bytes()
    assert expected[0] == expected[1]
    assert paths[0].read_bytes() != paths[2].read_bytes()


def test_dump_expected_counts_match_the_file(tmp_path):
    """The expected statement count is recomputed from the file itself:
    one row per label, description, alias, claim and qualifier snak."""
    path = tmp_path / "dump.json"
    expected = gen.wikidata_dump(3, str(path))
    lines = path.read_text().splitlines()
    assert lines[0] == "[" and lines[-1] == "]"
    n = 0
    for line in lines[1:-1]:
        ent = json.loads(line.rstrip(","))
        n += len(ent.get("labels", {})) + len(ent.get("descriptions", {}))
        n += sum(len(v) for v in ent.get("aliases", {}).values())
        for claims in ent["claims"].values():
            for claim in claims:
                n += 1 + sum(len(s) for s in claim.get("qualifiers", {}).values())
    assert n == expected["statements"]
    assert any("$" in c["id"] for line in lines[1:-1] for cs in json.loads(line.rstrip(","))["claims"].values() for c in cs)


def test_serving_stream_is_seeded_and_cold_texts_are_distinct():
    a, b = sparql.serving_requests(5), sparql.serving_requests(5)
    assert a == b
    assert a != sparql.serving_requests(6)
    hot = {r.text for r in sparql.hot_requests(5)}
    cold = [r.text for r in a if r.text not in hot]
    assert len(cold) == len(set(cold)) == len(a) // 2
    assert {r.shape for r in a} == {f(random.Random(0)).shape for f in sparql.COLD_SHAPES} | {
        r.shape for r in sparql.hot_requests(5)
    }


# -- the oracle check rejects a mutated binding -----------------------------


def _json_from_oracle(con, req) -> dict:
    """A SPARQL-JSON body rendering the oracle's own rows, the way the
    server renders terms of these shapes."""
    cur = con.execute(req.oracle)
    names = [d[0] for d in cur.description]

    def cell(v):
        if isinstance(v, int) and v >= sparql.C:
            return {"type": "uri", "value": f"{sparql.WD}{v}"}
        if isinstance(v, float):
            return {"type": "literal", "value": repr(v), "datatype": "http://www.w3.org/2001/XMLSchema#double"}
        return {"type": "literal", "value": str(v)}

    rows = [{n: cell(v) for n, v in zip(names, row) if v is not None} for row in cur.fetchall()]
    return {"head": {"vars": names}, "results": {"bindings": rows}}


@pytest.fixture(scope="module")
def con(tmp_path_factory):
    sf = tmp_path_factory.mktemp("tables")
    gen.write_tables(gen.tpch_tables(1), str(sf))
    c = workloads.oracle_connection(str(sf))
    yield c
    c.close()


def test_oracle_accepts_matching_bindings_in_any_order(con):
    req = next(r for r in sparql.cold_requests(1, 12) if r.shape == "optional")
    body = _json_from_oracle(con, req)
    assert body["results"]["bindings"], "the probe request should have rows"
    body["results"]["bindings"].reverse()
    assert sparql.check_response(json.dumps(body), req, con) is None


@pytest.mark.parametrize("mutation", ["value", "drop", "duplicate"])
def test_oracle_rejects_a_mutated_binding(con, mutation):
    req = next(r for r in sparql.cold_requests(1, 12) if r.shape == "cust_orders")
    body = _json_from_oracle(con, req)
    rows = body["results"]["bindings"]
    assert rows
    if mutation == "value":
        rows[0]["o"]["value"] = f"{sparql.WD}{sparql.O + 999_999}"
    elif mutation == "drop":
        rows.pop()
    else:
        rows.append(dict(rows[0]))
    assert sparql.check_response(json.dumps(body), req, con) is not None


def test_ordered_results_must_keep_their_order(con):
    req = next(r for r in sparql.hot_requests(1) if r.ordered)
    body = _json_from_oracle(con, req)
    assert sparql.check_response(json.dumps(body), req, con) is None
    body["results"]["bindings"].reverse()
    assert sparql.check_response(json.dumps(body), req, con) is not None


def test_batch_digest_ignores_row_and_column_order_only():
    rows = [(1, "a", 2.5), (2, "b", None)]
    base = workloads.result_digest(["x", "y", "z"], rows)
    swapped = [(r[2], r[0], r[1]) for r in reversed(rows)]
    assert workloads.result_digest(["z", "x", "y"], swapped) == base
    assert workloads.result_digest(["x", "y", "z"], [(1, "a", 2.5), (2, "c", None)]) != base


# -- the reported percentile has at least 10 samples above it ---------------


@pytest.mark.parametrize("n", [5, 19, 20, 40, 199, 200, 1000])
def test_tail_percentile_has_ten_samples_above(n):
    rng = random.Random(n)
    values = [rng.expovariate(1.0) for _ in range(n)]
    q = harness.tail_percentile(values)
    if q is None:
        assert n < 20
        return
    cut = harness.percentile(values, q)
    assert sum(1 for v in values if v > cut) >= 10
    # and it is the highest such percentile on offer
    higher = [p for p in (99, 95, 90, 75, 50) if p > q]
    assert all(sum(1 for v in values if v > harness.percentile(values, p)) < 10 for p in higher)


def test_percentile_nearest_rank():
    assert harness.percentile([3, 1, 2, 4], 50) == 2
    assert harness.percentile([3, 1, 2, 4], 100) == 4


# -- every metric name printed matches BENCHMARK.json -----------------------


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def test_benchmark_json_lists_the_metrics_and_workloads():
    bench = _benchmark_json()
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert {
        m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]
    } == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == metrics.PER_LAYER


def _ops() -> list[Op]:
    ops = [Op(f"r{i}", i * 1.0, i * 1.0 + 0.5, None, {"shape": "label", "bytes": 10}) for i in range(4)]
    ops.append(Op("r4-x", 5.0, 6.0, None, {"entry": workloads.BATCH_ENTRIES[0], "build_s": 0.4, "action_s": 0.6}))
    ops.append(Op("r5-y", 6.0, 9.0, "mismatch", {"ingest": True, "write_s": 2.0, "query_s": 1.0}))
    return ops


def test_printed_end_to_end_names_match_benchmark_json():
    names = {m["name"] for m in _benchmark_json()["end_to_end"]}
    printed = metrics.result(run.end_to_end(_ops(), 12.0), traced=False)
    assert set(printed) == names
    assert all(v["value"] > 0 for v in printed.values())


def test_printed_per_layer_names_match_benchmark_json():
    names = {m["name"] for m in _benchmark_json()["per_layer"]}
    tracer = tracing.Tracer()
    with tracer.request("r0"):
        with tracer.span("api.sql"):
            pass
    values = run.per_layer(tracer, [], _ops(), {"latency_geomean_ms": 1.0, "throughput_ops": -0.1}, 900.0)
    assert set(metrics.result(values, traced=True)) == names


def test_incomplete_metrics_are_refused():
    with pytest.raises(KeyError):
        metrics.result({"setup_s": 1.0}, traced=False)


# -- tracing ----------------------------------------------------------------


def test_self_time_subtracts_child_spans():
    spans = [
        tracing.Span("parent", 0.0, 1.0),
        tracing.Span("a", 0.1, 0.4, parent=0),
        tracing.Span("b", 0.3, 0.6, parent=0),  # overlaps a: counted once
        tracing.Span("c", 0.9, 1.5, parent=0),  # runs past the parent's end
    ]
    children = {0: [1, 2, 3]}
    assert tracing.self_ms(spans, 0, children) == pytest.approx(1000.0 * (1.0 - 0.5 - 0.1))


def test_spans_nest_per_thread_and_carry_the_request_id():
    tracer = tracing.Tracer()
    with tracer.request("q1"):
        with tracer.span("outer"):
            with tracer.span("inner"):
                pass
    names = {s.name: s for s in tracer.spans}
    assert names["inner"].parent == tracer.spans.index(names["outer"])
    assert {s.rid for s in tracer.spans} == {"q1"}


def test_disabled_tracer_records_nothing():
    tracer = tracing.Tracer(enabled=False)

    class Owner:
        @staticmethod
        def f(x):
            return x + 1

    assert not tracer.installed
    tracer.wrap(Owner, "f", "owner.f")
    assert tracer.installed
    assert Owner.f(1) == 2
    assert tracer.spans == []
    tracer.enabled = True
    assert Owner.f(1) == 2
    assert [s.name for s in tracer.spans] == ["owner.f"]
    tracer.uninstall()
    assert not tracer.installed
    assert Owner.f.__name__ == "f" and not hasattr(Owner.f, "__wrapped__")


def test_event_log_reduction(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.job.tags": "r1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1100, "Getting Result Time": 0},
         "Task Metrics": {"Executor Deserialize Time": 10, "Executor Run Time": 60, "Result Serialization Time": 5,
                          "JVM GC Time": 7, "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 9}}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1200},
    ]
    sub = tmp_path / "eventlog_v2_app"
    sub.mkdir()
    (sub / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n{truncated")
    (job,) = tracing.read_event_log(str(tmp_path))
    assert job.tags == {"r1"} and job.complete - job.submit == 200
    assert (job.ran_stages, job.tasks, job.scheduler_delay_ms, job.gc_ms) == (1, 1, 25, 7)
    assert (job.shuffle_read_bytes, job.shuffle_write_bytes, job.spill_bytes) == (3, 9, 7)


def test_oracle_connection_has_every_table(con):
    tables = {r[0] for r in con.execute("SELECT table_name FROM information_schema.tables").fetchall()}
    assert tables >= set(gen.SIZES) | {"region", "nation"}
    assert isinstance(con, duckdb.DuckDBPyConnection)
