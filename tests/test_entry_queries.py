"""Every queries() entry must hash-match its oracle_sql() entry —
the local mirror of the driver's t2 correctness gate (sf0.001 for
speed; the driver runs sf0.01)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert rows is not None
    assert len(df.columns) > 0


def test_every_query_has_oracle_or_is_flagged():
    missing = [k for k in QUERIES if k not in ORACLES]
    # every entry now carries a DuckDB oracle (round 4 closed the last
    # holdout, media_feature_hist, with scalar floor-rounded columns);
    # any future oracle-less entry must be added here EXPLICITLY with
    # its justification, never by default
    allowed: set[str] = set()
    assert set(missing) <= allowed, f"queries without oracles: {missing}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, name):
    df = QUERIES[name](spark, SF_SMOKE)
    # the canonicalizer sorts rows with pandas, which dies on a
    # list/struct/map column
    nonscalar = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType))
    ]
    assert not nonscalar, f"{name}: canonicalizer-unsafe columns {nonscalar}"
    if name not in ORACLES:
        assert df.count() >= 0
        return
    ok, msg = compare(df, ORACLES[name], SF_SMOKE)
    assert ok, f"{name}: {msg}"
