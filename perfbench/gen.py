"""Seeded input generation: the TPC-H-shaped base tables and a synthetic
Wikidata entity-JSON dump.

Everything here is a pure function of the seed. The program under test
only ever sees the files these functions write; the expected values the
ingest checks use are computed here, from the generator's own records,
never from engine output.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table. About TPC-H sf0.002: the SPARQL and batch costs of
#: this engine are dominated by per-query fixed work (compile, Catalyst,
#: job scheduling), not by data volume, and every benchmark run pays the
#: statements-graph build, so the base tables are kept small.
SIZES = {
    "customer": 300,
    "orders": 3000,
    "lineitem": 12000,
    "part": 200,
    "supplier": 20,
    "events": 2000,
    "documents": 300,
    "embeddings": 300,
}
N_NATIONS = 25
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed: int) -> dict[str, pa.Table]:
    """The ten base tables (TESTDATA.md layout, same column names and
    arrow types as the repository's test-data parquet)."""
    rng = np.random.default_rng(seed)
    n_c, n_o, n_l = SIZES["customer"], SIZES["orders"], SIZES["lineitem"]
    n_p, n_s = SIZES["part"], SIZES["supplier"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(N_NATIONS)],
            "n_regionkey": pa.array([k % 5 for k in range(N_NATIONS)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_c), pa.int64()),
            "c_name": [f"Customer#{k:09d}" for k in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": rng.choice(SEGMENTS, n_c),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_s), pa.int64()),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }
    )
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_p), pa.int64()),
            "p_name": [
                f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_p)
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_p
            ),
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(n_p) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n_o) * _DAY_US),
            "o_orderpriority": rng.choice(PRIORITIES, n_o),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_l),
            "l_linestatus": rng.choice(["F", "O"], n_l),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(0, 2500, n_l) * _DAY_US),
        }
    )
    n_e = SIZES["events"]
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(n_e), pa.int64()),
            "ts": _ts(
                _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_e))
            ),
            "user_id": pa.array(rng.integers(0, 150, n_e), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_e),
            "value": np.round(rng.exponential(50.0, n_e) + 0.01, 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_e)],
        }
    )
    n_d = SIZES["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 90)))) for _ in range(n_d)
    ]
    # a few exact and near duplicates so the dedup entries have clusters
    for i in range(0, n_d - 1, 25):
        texts[i + 1] = texts[i] if i % 50 == 0 else texts[i] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_d), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_d),
            "source": [f"src{k}" for k in rng.integers(0, 20, n_d)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    n_v = SIZES["embeddings"]
    vecs = rng.normal(0.0, 0.12, (n_v, EMBED_DIM)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_v), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_v), pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Wikidata dump
# ---------------------------------------------------------------------------

DUMP_ITEMS = 400
DUMP_LANGS = ("en", "de", "fr")
#: (property, datatype) of the one-per-item claims, one for each datatype
#: the ingest snak decoder handles
CLAIM_DATATYPES = (
    (31, "wikibase-item"),
    (1647, "wikibase-property"),
    (5137, "wikibase-lexeme"),
    (5972, "wikibase-sense"),
    (5830, "wikibase-form"),
    (1545, "string"),
    (214, "external-id"),
    (18, "commonsMedia"),
    (856, "url"),
    (2534, "math"),
    (6883, "musical-notation"),
    (4150, "tabular-data"),
    (3896, "geo-shape"),
    (625, "globe-coordinate"),
    (2067, "quantity"),
    (569, "time"),
    (1476, "monolingualtext"),
)
#: the qualified claim property, its qualifier, and the class ids P31 uses
QUALIFIED_P, QUALIFIER_P = 39, 580
CLASSES = (5, 515, 6256, 11424)
RANKS = ("normal", "preferred", "deprecated")


def _snak(pid: int, dt: str, value, vtype: str) -> dict:
    return {
        "snaktype": "value",
        "property": f"P{pid}",
        "datatype": dt,
        "datavalue": {"value": value, "type": vtype},
    }


def _value(dt: str, rng: np.random.Generator, qid: int):
    """A datavalue for one datatype (Wikidata JSON shapes)."""
    if dt == "wikibase-item":
        return {"entity-type": "item", "id": f"Q{CLASSES[qid % len(CLASSES)]}"}, "wikibase-entityid"
    if dt == "wikibase-property":
        return {"entity-type": "property", "id": f"P{int(rng.integers(1, 900))}"}, "wikibase-entityid"
    if dt == "wikibase-lexeme":
        return {"entity-type": "lexeme", "id": "L1"}, "wikibase-entityid"
    if dt == "wikibase-sense":
        return {"entity-type": "sense", "id": "L1-S1"}, "wikibase-entityid"
    if dt == "wikibase-form":
        return {"entity-type": "form", "id": "L1-F1"}, "wikibase-entityid"
    if dt == "globe-coordinate":
        return {
            "latitude": round(float(rng.uniform(-80, 80)), 4),
            "longitude": round(float(rng.uniform(-170, 170)), 4),
            "altitude": None,
            "precision": 0.0001,
            "globe": "http://www.wikidata.org/entity/Q2",
        }, "globecoordinate"
    if dt == "quantity":
        return {
            "amount": f"+{int(rng.integers(1, 10_000))}",
            "unit": "http://www.wikidata.org/entity/Q11573",
        }, "quantity"
    if dt == "time":
        year = int(rng.integers(1800, 2020))
        return {
            "time": f"+{year}-{int(rng.integers(1, 13)):02d}-{int(rng.integers(1, 29)):02d}T00:00:00Z",
            "timezone": 0,
            "before": 0,
            "after": 0,
            "precision": 11,
            "calendarmodel": "http://www.wikidata.org/entity/Q1985727",
        }, "time"
    if dt == "monolingualtext":
        return {"text": f"title {qid}", "language": "en"}, "monolingualtext"
    return f"{dt}-{qid}-{int(rng.integers(0, 1_000_000))}", "string"


def wikidata_dump(seed: int, path: str) -> dict:
    """Write a dump (one entity per line between '[' and ']', trailing
    commas) and return the expected ingest results:

    - ``statements``: rows ``load_dump`` should produce (one per label,
      description, alias, claim and qualifier snak);
    - ``p31``: sorted (item id, class id) pairs — the ``wdt:P31`` BGP;
    - ``qualified``: sorted (item id, value id, qualifier year) — the
      ``p:``/``ps:``/``pq:`` join over the qualified claims;
    - ``labels``: {item id: label} under language preference fr, en.
    """
    rng = np.random.default_rng(seed + 7919)
    lines = ["["]
    n_stmt = 0
    p31, qualified, labels = [], [], {}
    for i in range(DUMP_ITEMS):
        qid = 100 + i * 3 + int(rng.integers(0, 3))
        langs = [lg for lg in DUMP_LANGS if lg == "en" or rng.random() < 0.5]
        ent_labels = {lg: {"language": lg, "value": f"item {qid} {lg}"} for lg in langs}
        descs = {lg: {"language": lg, "value": f"desc {qid} {lg}"} for lg in langs[:2]}
        aliases = {
            "en": [
                {"language": "en", "value": f"alias {qid} {k}"}
                for k in range(int(rng.integers(0, 3)))
            ]
        }
        n_stmt += len(ent_labels) + len(descs) + len(aliases["en"])
        labels[qid] = ent_labels.get("fr", ent_labels["en"])["value"]
        claims: dict[str, list] = {}
        for k, (pid, dt) in enumerate(CLAIM_DATATYPES):
            value, vtype = _value(dt, rng, qid)
            claims[f"P{pid}"] = [
                {
                    "mainsnak": _snak(pid, dt, value, vtype),
                    "type": "statement",
                    "id": f"Q{qid}${seed:x}-{i:04x}-{k:02x}",
                    "rank": RANKS[(i + k) % 3],
                }
            ]
            n_stmt += 1
            if pid == 31:
                p31.append((qid, CLASSES[qid % len(CLASSES)]))
        if i % 4 == 0:
            value_id = CLASSES[(qid + 1) % len(CLASSES)]
            quals = {
                f"P{QUALIFIER_P}": [
                    _snak(QUALIFIER_P, "string", f"y{1900 + i % 100}", "string")
                ]
            }
            claims[f"P{QUALIFIED_P}"] = [
                {
                    "mainsnak": _snak(
                        QUALIFIED_P,
                        "wikibase-item",
                        {"entity-type": "item", "id": f"Q{value_id}"},
                        "wikibase-entityid",
                    ),
                    "type": "statement",
                    "id": f"Q{qid}${seed:x}-{i:04x}-qq",
                    "rank": "preferred",
                    "qualifiers": quals,
                }
            ]
            n_stmt += 2
            qualified.append((qid, value_id, f"y{1900 + i % 100}"))
        entity = {
            "type": "item",
            "id": f"Q{qid}",
            "labels": ent_labels,
            "descriptions": descs,
            "aliases": aliases,
            "claims": claims,
        }
        lines.append(json.dumps(entity, ensure_ascii=False) + ",")
    # one lexeme: lemmas/forms/senses are outside the item schema the
    # ingest reads, so only its claim becomes a statement
    lexeme = {
        "type": "lexeme",
        "id": "L1",
        "lemmas": {"en": {"language": "en", "value": "run"}},
        "lexicalCategory": "Q24905",
        "language": "Q1860",
        "forms": [{"id": "L1-F1", "representations": {"en": {"language": "en", "value": "ran"}}}],
        "senses": [{"id": "L1-S1", "glosses": {"en": {"language": "en", "value": "to move"}}}],
        "claims": {
            "P5137": [
                {
                    "mainsnak": _snak(5137, "wikibase-item", {"entity-type": "item", "id": "Q5"}, "wikibase-entityid"),
                    "type": "statement",
                    "id": "L1$lexeme-claim",
                    "rank": "normal",
                }
            ]
        },
    }
    n_stmt += 1
    lines.append(json.dumps(lexeme))
    lines.append("]")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    return {
        "statements": n_stmt,
        "p31": sorted(p31),
        "qualified": sorted(qualified),
        "labels": labels,
    }
