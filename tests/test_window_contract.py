"""Oracle dtype guards: the harness must stay as dtype-sensitive as a
hash of the canonicalized result, and no oracle may project a type
pandas renders differently from Spark."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_no_oracle_projects_hugeint_or_decimal():
    """VERDICT r04 task 1: DuckDB types `sum(BIGINT)` as HUGEINT, which
    pandas renders as float64 while Spark emits int64 — the driver's
    dtype-sensitive hash then fails on identical values (the r04
    `corpus_mix_budget` red row). Guard every oracle's *output* types:
    HUGEINT and DECIMAL must be cast (::BIGINT / ::DOUBLE) in the
    oracle's outer SELECT."""
    from graphdb_wikidata_spark.operators import all_oracles
    from tests.oracle_harness import oracle_connection

    con = oracle_connection(SF)
    bad = {}
    for name, sql in all_oracles().items():
        try:
            types = [str(t) for t in con.sql(sql).types]
        except Exception:
            continue  # execution errors are the driver sim's job
        hits = [t for t in types if "HUGEINT" in t or "DECIMAL" in t]
        if hits:
            bad[name] = hits
    con.close()
    assert not bad, f"oracles projecting dtype-hazard types: {bad}"


def test_dtype_kind_mismatch_fails_compare(spark):
    """The harness must mirror the driver's dtype sensitivity: identical
    values as int64 (Spark) vs float64 (oracle) must FAIL."""
    from tests.oracle_harness import compare

    df = spark.createDataFrame([(1, 10), (2, 20)], "k int, v bigint")
    ok, msg = compare(df, "SELECT 1 AS k, 10.0 AS v UNION ALL SELECT 2, 20.0", SF)
    assert not ok and "dtype-kind" in msg, (ok, msg)
    ok, msg = compare(
        df, "SELECT 1 AS k, 10::BIGINT AS v UNION ALL SELECT 2, 20::BIGINT", SF
    )
    assert ok, msg
