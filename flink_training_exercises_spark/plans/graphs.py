"""Derived weighted edge list over the driver's ``events`` table
(FIXTURES.md §3 shape: src, dst, weight) plus the unrolled-SQL PageRank
oracle.

Every vertex is guaranteed >= 1 out-edge (each user emits edges) and the dst
offset 1 + event_id % 19 is never 0 mod 20, so src != dst; with thousands of
events all 20 vertices also have in-edges -- satisfying the reference's
PageRank precondition (PageRankWithEdgeWeights.java:38-41). Parallel edges
are pre-summed (same PageRank semantics, one row per edge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.graph import (
    PAGERANK_DAMPING,
    PAGERANK_ITERATIONS,
    PPR_SEED_MOD,
    RANK_SCALE,
    TEMPORAL_REACH_ROUNDS,
    TEMPORAL_REACH_SEED_MOD,
)
from .rides import load_events

EDGES_SQL = """
SELECT src, dst, SUM(w) AS weight FROM (
  SELECT 'v' || CAST(user_id % 20 AS STRING) AS src,
         'v' || CAST((user_id + 1 + event_id % 19) % 20 AS STRING) AS dst,
         CAST(1 + event_id % 10 AS BIGINT) AS w
  FROM {events}
) GROUP BY src, dst
"""


def edges_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(EDGES_SQL, events=load_events(spark, sf_dir))


def pagerank_oracle() -> str:
    """Exact-mode PageRank unrolled as chained CTEs (DuckDB has recursive
    CTEs, but a fixed-iteration unroll is portable and trivially correct)."""
    d100 = int(round(PAGERANK_DAMPING * 100))
    base = (100 - d100) * (RANK_SCALE // 100)
    edges = EDGES_SQL.format(events="events")
    parts = [
        f"WITH edges AS ({edges})",
        "verts AS (SELECT DISTINCT vertex FROM "
        "(SELECT src AS vertex FROM edges UNION ALL SELECT dst FROM edges))",
        "trans AS (SELECT e.src, e.dst, e.weight AS w, o.out_sum FROM edges e "
        "JOIN (SELECT src, SUM(weight) AS out_sum FROM edges GROUP BY src) o USING (src))",
        f"r0 AS (SELECT vertex, CAST({RANK_SCALE} AS BIGINT) AS r FROM verts)",
    ]
    for i in range(PAGERANK_ITERATIONS):
        parts.append(
            f"r{i + 1} AS (SELECT v.vertex, "
            f"CAST({base} + ({d100} * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r "
            "FROM verts v LEFT JOIN ("
            "SELECT t.dst AS vertex, SUM((p.r * t.w) // t.out_sum) AS s "
            f"FROM trans t JOIN r{i} p ON t.src = p.vertex GROUP BY t.dst"
            ") c USING (vertex))"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT vertex, CAST(r AS DOUBLE) / {RANK_SCALE:e} AS rank FROM r{PAGERANK_ITERATIONS}"
    )


def ppr_oracle() -> str:
    """Personalized-PageRank twin of :func:`pagerank_oracle`: identical
    unrolled integer recurrence, teleport mass confined to the md5 seed
    set (operators/graph.personalized_pagerank, gated since round 8)."""
    from ..functions.hashing import md5_long_sql

    d100 = int(round(PAGERANK_DAMPING * 100))
    base = (100 - d100) * (RANK_SCALE // 100)
    edges = EDGES_SQL.format(events="events")
    seed = f"CAST({md5_long_sql('CAST(vertex AS VARCHAR)')} % {PPR_SEED_MOD} = 0 AS BIGINT)"
    parts = [
        f"WITH edges AS ({edges})",
        "vraw AS (SELECT DISTINCT vertex FROM "
        "(SELECT src AS vertex FROM edges UNION ALL SELECT dst FROM edges))",
        f"verts AS (SELECT vertex, {seed} AS seed FROM vraw)",
        "trans AS (SELECT e.src, e.dst, e.weight AS w, o.out_sum FROM edges e "
        "JOIN (SELECT src, SUM(weight) AS out_sum FROM edges GROUP BY src) o USING (src))",
        f"r0 AS (SELECT vertex, CAST(seed * {RANK_SCALE} AS BIGINT) AS r FROM verts)",
    ]
    for i in range(PAGERANK_ITERATIONS):
        parts.append(
            f"r{i + 1} AS (SELECT v.vertex, "
            f"CAST(v.seed * {base} + ({d100} * COALESCE(c.s, 0)) // 100 AS BIGINT) AS r "
            "FROM verts v LEFT JOIN ("
            "SELECT t.dst AS vertex, SUM((p.r * t.w) // t.out_sum) AS s "
            f"FROM trans t JOIN r{i} p ON t.src = p.vertex GROUP BY t.dst"
            ") c USING (vertex))"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT vertex, CAST(r AS DOUBLE) / {RANK_SCALE:e} AS rank FROM r{PAGERANK_ITERATIONS}"
    )

# Timed edge list for the TEMPORAL graph family: one edge per event with
# its epoch-ms timestamp (not pre-summed -- time-respecting algorithms
# need every temporal copy). DuckDB spelling; the Spark side builds the
# same frame in DataFrame code (timed_edges_view) because the engines
# spell ts -> epoch-ms differently (session-TZ rule).
TIMED_EDGES_SQL = """
SELECT 'v' || CAST(user_id % 20 AS STRING) AS src,
       'v' || CAST((user_id + 1 + event_id % 19) % 20 AS STRING) AS dst,
       CAST(epoch_ms(ts) AS BIGINT) AS t
FROM {events}
"""


def timed_edges_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.time import epoch_ms
    from ..sources import load_table

    ev = load_table(spark, "events", sf_dir)
    return ev.select(
        F.concat(F.lit("v"), (F.col("user_id") % 20).cast("string")).alias("src"),
        F.concat(
            F.lit("v"),
            ((F.col("user_id") + 1 + F.col("event_id") % 19) % 20).cast("string"),
        ).alias("dst"),
        epoch_ms("ts").alias("t"),
    )


def temporal_reachability_oracle() -> str:
    """DuckDB twin of :func:`~..operators.graph.temporal_reachability`:
    exactly ``rounds`` earliest-arrival relaxations unrolled as
    materialized CTEs (the sssp/pagerank unroll contract -- relaxation is
    monotone, so rounds past convergence are identity on both sides)."""
    from ..functions.hashing import md5_long_sql

    seed = f"{md5_long_sql('vertex')} % {TEMPORAL_REACH_SEED_MOD} = 0"
    edges = TIMED_EDGES_SQL.format(events="events")
    parts = [
        # src != dst mirrors the Spark side's self-loop drop -- the
        # events-derived formula can never produce one, but both sides
        # are generic and must agree on any edge source
        f"WITH e AS MATERIALIZED (SELECT * FROM ({edges}) WHERE src != dst)",
        "verts AS (SELECT DISTINCT vertex FROM "
        "(SELECT src AS vertex FROM e UNION ALL SELECT dst FROM e))",
        "r0 AS (SELECT vertex, CAST(0 AS BIGINT) AS arrival_ms "
        f"FROM verts WHERE {seed})",
    ]
    for i in range(TEMPORAL_REACH_ROUNDS):
        parts.append(
            f"r{i + 1} AS MATERIALIZED (SELECT vertex, "
            "CAST(min(arrival_ms) AS BIGINT) AS arrival_ms FROM ("
            f"SELECT vertex, arrival_ms FROM r{i} "
            "UNION ALL "
            "SELECT e.dst AS vertex, min(e.t) AS arrival_ms "
            f"FROM r{i} a JOIN e ON e.src = a.vertex AND e.t >= a.arrival_ms "
            "GROUP BY e.dst"
            ") GROUP BY vertex)"
        )
    return ",\n".join(parts) + f"\nSELECT vertex, arrival_ms FROM r{TEMPORAL_REACH_ROUNDS}"


# Truss-audit edge list: the 20-vertex EDGES_SQL graph saturates to a
# CLIQUE at any real SF (every edge support 18 -- truss peeling would be
# pure identity), so the truss gets its own derivation with VARIED
# supports at saturation: a 60-vertex modular candidate generator
# md5-THINNED to ~30% of pairs. The thinning is the load-bearing part --
# a saturated modular graph is regular, but an md5-thinned one is a
# deterministic pseudo-random G(60, 0.3) with irregular triangle
# supports (measured min 1 / median 6 / max 14 at sf0.01), so peeling
# actually cascades (182 -> 26 edges over 4 rounds at sf0.001). Spelled
# per-engine (md5 text differs); equality is attested by the
# differential itself, the TIMED_EDGES precedent.
TRUSS_EDGES_SQL_DUCK_TEMPLATE = """
SELECT a AS src, b AS dst FROM (
  SELECT DISTINCT 'v' || CAST(least(u, v) AS VARCHAR) AS a,
                  'v' || CAST(greatest(u, v) AS VARCHAR) AS b
  FROM (SELECT user_id % 60 AS u, (user_id + 1 + event_id % 59) % 60 AS v
        FROM {events})
  WHERE u != v
) WHERE ({thin}) % 10 < 3
"""


def truss_edges_sql() -> str:
    from ..functions.hashing import md5_long_sql

    return TRUSS_EDGES_SQL_DUCK_TEMPLATE.format(
        events="events", thin=md5_long_sql("a || ':' || b")
    )


def truss_edges_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..functions.hashing import md5_long
    from ..sources import load_table

    ev = load_table(spark, "events", sf_dir)
    u = F.col("user_id") % 60
    v = (F.col("user_id") + 1 + F.col("event_id") % 59) % 60
    cand = (
        ev.select(u.alias("u"), v.alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.concat(F.lit("v"), F.least("u", "v").cast("string")).alias("a"),
            F.concat(F.lit("v"), F.greatest("u", "v").cast("string")).alias("b"),
        )
        .distinct()
    )
    return cand.where(
        md5_long(F.concat(F.col("a"), F.lit(":"), F.col("b"))) % 10 < 3
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"))
