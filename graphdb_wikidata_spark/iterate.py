"""One iterate-to-fixpoint loop for the graph and property-path kernels.

A round is a Pregelix superstep: one DataFrame update of the state (a
join plus a group-by) and one Spark action, the state's
``localCheckpoint()``. The checkpoint cuts the lineage, so plans stay
flat however many rounds run, and ``observe()`` computes the
convergence measure inside that same job. The loop stops on the first
round whose measure equals the previous round's, so callers pick one
that is unchanged exactly at the fixpoint: the row count of a state that
only grows (a BFS whose frontier came back empty), the sum of labels
that only fall. Diameter is data, not a constant: the round bound of a
loop run to its fixpoint is a runaway guard, and hitting it raises
rather than return a partial answer. Only a caller bounded in depth by
definition (``bounded=True``) gets the state it reached.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

#: the round that produced each row (0 for the seed)
ROUND = "__round"
#: flat dedup key of a row (see keyed)
KEY = "__key"
#: round bound of a loop run to its fixpoint: a guard against runaway
#: input, far above any diameter these kernels meet
RUNAWAY_ROUNDS = 4096


def checkpoint(df: DataFrame, measure: Column) -> tuple[DataFrame, object]:
    """``df`` materialized with its lineage cut, plus ``measure`` (an
    aggregate over its rows) computed in the same job: one Spark action."""
    obs = Observation()
    out = df.observe(obs, measure.alias("m")).localCheckpoint()
    return out, obs.get["m"]


def keyed(df: DataFrame, *cols: str) -> DataFrame:
    """``df`` plus ``KEY``, its ``cols`` serialized to one flat string.
    Dedup runs on it because node columns may be term structs, which as
    keys trip a Catalyst binding bug (see Compiler._keyed_join); a flat
    string also hashes cheaper."""
    return df.withColumn(KEY, F.to_json(F.struct(*cols)))


def iterate(
    seed: DataFrame,
    update: Callable[[DataFrame, DataFrame], DataFrame],
    measure: Column,
    max_rounds: int = RUNAWAY_ROUNDS,
    bounded: bool = False,
    name: str = "iteration",
) -> DataFrame:
    """Apply ``update`` from ``seed`` until ``measure`` stops changing.

    ``update(state, frontier)`` builds the next state from the current
    one and its frontier, the rows the previous round produced. The loop
    stamps the round number on the rows the update produced: all of
    them if it drops ``ROUND``, else those where it left ``ROUND`` null.
    So every row of the returned state carries the round that produced
    it (0 for the seed; in a BFS, the hop distance)."""
    state, prev = checkpoint(seed.withColumn(ROUND, F.lit(0)), measure)
    for r in range(1, max_rounds + 1):
        nxt = update(state, state.filter(F.col(ROUND) == r - 1))
        stamp = F.coalesce(F.col(ROUND), F.lit(r)) if ROUND in nxt.columns else F.lit(r)
        state, m = checkpoint(nxt.withColumn(ROUND, stamp), measure)
        if m == prev:
            return state
        prev = m
    if bounded:
        return state
    raise RuntimeError(
        f"{name} did not converge within {max_rounds} rounds"
        " — raise max_rounds if the graph really is this deep"
    )


def expand(
    seed: DataFrame,
    edges: DataFrame,
    src: str,
    dst: str,
    keys: Sequence[str] = (),
    max_rounds: int = RUNAWAY_ROUNDS,
    bounded: bool = False,
    name: str = "BFS",
) -> DataFrame:
    """Frontier BFS over ``edges`` from ``seed``; returns the distinct
    ``(dst, *keys)`` rows reached, ``ROUND`` holding each one's hop
    distance (0 for the seed rows).

    ``seed`` has columns ``dst`` and ``keys``. ``edges`` has ``src``,
    ``dst`` and those ``keys`` a hop must match (the graph key of a
    GRAPH ?g closure); the other keys ride along on the frontier (the
    source of a multi-source BFS), so one loop covers every group. Each
    round joins the frontier to the edges and merges what it reached
    into the visited rows; the row count is the measure, so the loop
    stops on the first round that reaches nothing new."""
    cols = [dst, *keys]
    on = [src, *[k for k in keys if k in edges.columns]]

    def hop(state: DataFrame, frontier: DataFrame) -> DataFrame:
        reached = (
            frontier.select(F.col(dst).alias(src), *keys)
            .join(edges, on=on)
            .select(*cols)
        )
        # one aggregate dedups the hop against itself and the visited
        # rows; min() keeps a visited row's round, new rows get null
        return (
            state.unionByName(keyed(reached, *cols), allowMissingColumns=True)
            .groupBy(KEY)
            .agg(*[F.first(c).alias(c) for c in cols], F.min(ROUND).alias(ROUND))
        )

    start = keyed(seed.select(*cols), *cols).dropDuplicates([KEY])
    reached = iterate(start, hop, F.count(F.lit(1)), max_rounds, bounded, name)
    return reached.drop(KEY)
