"""SPARQL request sets, each text paired with its DuckDB oracle, and the
comparison of a SPARQL-JSON response against that oracle.

Entity ids follow the statements graph built from the base tables:
customer 1_000_000 + key, order 2_000_000 + key, nation 3_000_000 + key.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

from gen import N_NATIONS, PRIORITIES, SIZES

C, O, N = 1_000_000, 2_000_000, 3_000_000
WD = "http://www.wikidata.org/entity/Q"
#: bounded-start path queries start at most this far up the nation
#: chain (wdt:P8 links nation k to k - 1); the closure needs one Spark
#: round per step, so the depth bounds their cost
PATH_MAX_START = 2


@dataclass(frozen=True)
class Request:
    shape: str
    text: str
    oracle: str
    #: ORDER BY queries compare bindings as a sequence, others as a bag
    ordered: bool = False


def _cust_orders(r: random.Random) -> Request:
    ck = r.randrange(SIZES["customer"])
    return Request(
        "cust_orders",
        f"SELECT ?o ?price WHERE {{ ?o wdt:P1 wd:Q{C + ck} . ?o wdt:P4 ?price . }}",
        f"SELECT {O} + o_orderkey AS o, o_totalprice AS price FROM orders WHERE o_custkey = {ck}",
    )


def _order_star(r: random.Random) -> Request:
    ok = r.randrange(SIZES["orders"])
    return Request(
        "order_star",
        f"SELECT ?status ?prio ?price ?c WHERE {{ wd:Q{O + ok} wdt:P5 ?status ; "
        f"wdt:P6 ?prio ; wdt:P4 ?price ; wdt:P1 ?c . }}",
        f"SELECT o_orderstatus AS status, o_orderpriority AS prio, o_totalprice AS price, "
        f"{C} + o_custkey AS c FROM orders WHERE o_orderkey = {ok}",
    )


def _optional(r: random.Random) -> Request:
    nk, prio = r.randrange(N_NATIONS), r.choice(PRIORITIES)
    return Request(
        "optional",
        f"SELECT ?c ?o WHERE {{ ?c wdt:P2 wd:Q{N + nk} . "
        f'OPTIONAL {{ ?o wdt:P1 ?c . ?o wdt:P6 "{prio}" . }} }}',
        f"SELECT {C} + c_custkey AS c, {O} + o_orderkey AS o FROM customer "
        f"LEFT JOIN orders ON o_custkey = c_custkey AND o_orderpriority = '{prio}' "
        f"WHERE c_nationkey = {nk}",
    )


def _exists(r: random.Random) -> Request:
    nk, prio = r.randrange(N_NATIONS), r.choice(PRIORITIES)
    return Request(
        "filter_exists",
        f"SELECT ?c WHERE {{ ?c wdt:P2 wd:Q{N + nk} . "
        f'FILTER EXISTS {{ ?o wdt:P1 ?c . ?o wdt:P6 "{prio}" . }} }}',
        f"SELECT {C} + c_custkey AS c FROM customer WHERE c_nationkey = {nk} AND EXISTS "
        f"(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '{prio}')",
    )


def _label(r: random.Random) -> Request:
    # label edges are term predicates: a customer's only literal object
    ck = r.randrange(SIZES["customer"])
    return Request(
        "label",
        f"SELECT ?l WHERE {{ wd:Q{C + ck} ?p ?l . FILTER(isLiteral(?l)) }}",
        f"SELECT c_name AS l FROM customer WHERE c_custkey = {ck}",
    )


def _path(r: random.Random) -> Request:
    k = r.randint(1, PATH_MAX_START)
    skip = r.randrange(k)
    # the LIMIT is above the closure size: it changes the text, never
    # the answer
    limit = r.randint(N_NATIONS, 100_000)
    return Request(
        "bounded_path",
        f"SELECT ?dst WHERE {{ wd:Q{N + k} wdt:P8+ ?dst . "
        f"FILTER(?dst != wd:Q{N + skip}) }} LIMIT {limit}",
        f"SELECT {N} + n_nationkey AS dst FROM nation "
        f"WHERE n_nationkey < {k} AND n_nationkey <> {skip}",
    )


COLD_SHAPES = (_cust_orders, _order_star, _optional, _exists, _label, _path)


def cold_requests(seed: int, n: int) -> list[Request]:
    """``n`` distinct texts: each block of six holds every shape once, in
    a seeded order, with seeded constants."""
    r = random.Random(seed)
    seen: set[str] = set()
    out: list[Request] = []
    while len(out) < n:
        block = list(COLD_SHAPES)
        r.shuffle(block)
        for make in block:
            req = make(r)
            for _ in range(10_000):
                if req.text not in seen:
                    break
                req = make(r)
            else:
                raise ValueError(f"fewer than {n} distinct texts")
            seen.add(req.text)
            out.append(req)
    return out[:n]


def hot_requests(seed: int) -> list[Request]:
    """The fixed analytic set, modelled on the SPARQL headline entries."""
    r = random.Random(seed)
    nk_bgp, nk_label = r.randrange(N_NATIONS), r.randrange(N_NATIONS)
    return [
        Request(
            "tpch_q1",
            "SELECT ?rf ?ls (COUNT(?l) AS ?cnt) (SUM(?qty) AS ?sum_qty) "
            "(SUM(?ep) AS ?sum_base) (SUM(?ep * (1 - ?disc)) AS ?sum_disc) WHERE { "
            "?l wdt:P24 ?rf . ?l wdt:P25 ?ls . ?l wdt:P21 ?qty . ?l wdt:P22 ?ep . "
            "?l wdt:P23 ?disc . } GROUP BY ?rf ?ls",
            "SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS cnt, "
            "sum(l_quantity) AS sum_qty, sum(l_extendedprice) AS sum_base, "
            "sum(l_extendedprice * (1 - l_discount)) AS sum_disc "
            "FROM lineitem GROUP BY l_returnflag, l_linestatus",
        ),
        Request(
            "agg_suite",
            "SELECT ?n (COUNT(?o) AS ?cnt) (MIN(?price) AS ?minp) (MAX(?price) AS ?maxp) "
            "(SUM(?price) AS ?sump) WHERE { ?o wdt:P1 ?c . ?c wdt:P2 ?n . "
            "?o wdt:P4 ?price . } GROUP BY ?n",
            f"SELECT {N} + c_nationkey AS n, count(*) AS cnt, min(o_totalprice) AS minp, "
            "max(o_totalprice) AS maxp, sum(o_totalprice) AS sump "
            "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_nationkey",
        ),
        Request(
            "nation_bgp",
            f"SELECT ?o ?c WHERE {{ ?o wdt:P1 ?c . ?c wdt:P2 wd:Q{N + nk_bgp} . }}",
            f"SELECT {O} + o_orderkey AS o, {C} + o_custkey AS c FROM orders "
            f"JOIN customer ON o_custkey = c_custkey WHERE c_nationkey = {nk_bgp}",
        ),
        Request(
            "label_service",
            f"SELECT ?c ?cLabel WHERE {{ ?c wdt:P2 wd:Q{N + nk_label} . "
            'SERVICE wikibase:label { bd:serviceParam wikibase:language "de,en". } }',
            f"SELECT {C} + c_custkey AS c, c_name AS cLabel FROM customer "
            f"WHERE c_nationkey = {nk_label}",
        ),
        Request(
            "order_limit",
            "SELECT ?o ?price WHERE { ?o wdt:P4 ?price . } ORDER BY DESC(?price) ?o LIMIT 10",
            f"SELECT {O} + o_orderkey AS o, o_totalprice AS price FROM orders "
            "ORDER BY price DESC, o LIMIT 10",
            ordered=True,
        ),
        Request(
            "full_path",
            "SELECT ?src ?dst WHERE { ?src wdt:P8+ ?dst . }",
            f"SELECT {N} + a.n_nationkey AS src, {N} + b.n_nationkey AS dst "
            "FROM nation a JOIN nation b ON b.n_nationkey < a.n_nationkey",
        ),
    ]


def serving_requests(seed: int, blocks: int = 40) -> list[Request]:
    """The serving stream: blocks of one distinct text per point shape
    (plan-cache misses) and the six repeated analytic texts (hits after
    their first use), in a seeded order within each block."""
    r = random.Random(seed)
    cold, hot = cold_requests(seed, len(COLD_SHAPES) * blocks), hot_requests(seed)
    out: list[Request] = []
    for b in range(blocks):
        block = cold[b * len(COLD_SHAPES) : (b + 1) * len(COLD_SHAPES)] + hot
        r.shuffle(block)
        out += block
    return out


#: requests per block of the serving stream
BLOCK = len(COLD_SHAPES) + len(hot_requests(0))


# ---------------------------------------------------------------------------
# comparison
# ---------------------------------------------------------------------------


def _norm(v):
    """One value on either side, in a form both sides agree on: entity
    IRIs and integers as int, other numbers rounded to 4 places (sums are
    accumulated in a different order by the two engines), else str."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return int(v) if v.is_integer() else round(v, 4)
    if isinstance(v, str) and v.startswith(WD) and v[len(WD):].isdigit():
        return int(v[len(WD):])
    return str(v)


def _binding_value(cell: dict | None):
    if cell is None:
        return None
    value = cell["value"]
    if cell["type"] == "literal" and cell.get("datatype", "").endswith(
        ("#integer", "#double", "#decimal")
    ):
        return _norm(float(value))
    return _norm(value)


def response_rows(body: str) -> tuple[list[str], list[tuple]]:
    """SPARQL-JSON text -> (variables, rows of normalized values)."""
    doc = json.loads(body)
    names = doc["head"]["vars"]
    rows = [
        tuple(_binding_value(b.get(v)) for v in names)
        for b in doc["results"]["bindings"]
    ]
    return names, rows


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return names, [tuple(_norm(v) for v in row) for row in cur.fetchall()]


def check_response(body: str, req: Request, con) -> str | None:
    """None when the response matches the oracle, else why it does not."""
    try:
        got_vars, got = response_rows(body)
    except (ValueError, KeyError) as e:
        return f"unparsable response: {e}"
    want_vars, want = oracle_rows(con, req.oracle)
    if sorted(got_vars) != sorted(want_vars):
        return f"variables {got_vars} != oracle columns {want_vars}"
    order = [got_vars.index(v) for v in want_vars]
    got = [tuple(row[i] for i in order) for row in got]
    if not req.ordered:
        got, want = sorted(got, key=repr), sorted(want, key=repr)
    if got != want:
        diff = next((g, w) for g, w in zip(got + [None] * len(want), want + [None] * len(got)) if g != w)
        return f"{len(got)} rows vs oracle {len(want)}; first difference {diff[0]!r} != {diff[1]!r}"
    return None
