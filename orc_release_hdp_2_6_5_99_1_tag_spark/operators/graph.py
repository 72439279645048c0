"""Distributed graph analytics over the event co-presence graph.

The reference engine's query surface stops at relational + recursive
(g3's pointer-doubling hierarchy); a training-data pipeline additionally
needs *graph-shaped* corpus diagnostics — link-graph quality signals
(PageRank over a domain/citation graph is a standard pretraining quality
prior, cf. the public Common Crawl ranking literature) and community
density measures (triangle counting / clustering coefficients detect
botnet-like mutual-link farms). Both are implemented here Spark-first
over a graph DERIVED from the driver's data: two users are linked when
they co-occur in the same (event_type, hour, 10-minute-slot) activity
bucket — a deterministic, data-driven edge set whose per-bucket size is
bounded by concurrent-activity width, not corpus size.

Scale notes (100 TB):
- Edge derivation is distinct-bucket-membership (one shuffle on the
  bucket key) then a per-bucket self-join — quadratic only within a
  bucket, whose width is bounded by real-world concurrency per 10-minute
  slot, then a distinct on the pair (one more shuffle). No corpus-wide
  cross product at any point.
- Triangle counting uses DEGREE ORIENTATION (each undirected edge is
  directed from its (degree, id)-smaller endpoint): per-node out-degree
  is bounded by O(sqrt(|E|)) on any graph (the classic compact-forward
  bound), so the wedge join cannot blow up on a hub vertex the way
  naive id-ordering does. Three shuffled equi-joins total, no BNLJ on
  corpus-scale state (the final single-row assemblage crossJoins 1-row
  aggregates only).
- PageRank runs a FIXED-POINT iteration in exact integer arithmetic
  (micro-rank units scaled by 1e9) so the result is bit-identical on
  any partitioning / any engine — float PageRank sums are
  partition-order dependent and can never hash-match a second engine.
  Each round is one shuffled join + one aggregation over a
  `localCheckpoint`ed rank table (g3's linearization rule: without the
  cut the lineage doubles per round).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table

# ---------------------------------------------------------------------------
# shared: the co-presence edge set
# ---------------------------------------------------------------------------

_EDGES_CTE = """
b AS (
  SELECT DISTINCT user_id AS u, event_type AS et,
         date_trunc('hour', ts) AS h,
         CAST(minute(ts) // 10 AS INT) AS m
  FROM events
),
und AS (
  SELECT DISTINCT a.u AS x, c.u AS y
  FROM b a JOIN b c ON a.et = c.et AND a.h = c.h AND a.m = c.m AND a.u < c.u
)
"""


def _copresence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected distinct edges (x < y): users co-present in the same
    (event_type, hour, 10-minute-slot) bucket. One shuffle to distinct
    the bucket membership, one bucket-keyed self-join (bounded by
    per-bucket concurrency), one distinct on the pair."""
    e = load_table(spark, sf_dir, "events")
    b = e.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("et"),
        F.date_trunc("hour", F.col("ts")).alias("h"),
        F.expr("CAST(minute(ts) DIV 10 AS INT)").alias("m"),
    ).distinct()
    c = b.select(
        F.col("u").alias("u2"), F.col("et").alias("et2"),
        F.col("h").alias("h2"), F.col("m").alias("m2"),
    )
    return (
        b.join(
            c,
            (F.col("et") == F.col("et2"))
            & (F.col("h") == F.col("h2"))
            & (F.col("m") == F.col("m2"))
            & (F.col("u") < F.col("u2")),
        )
        .select(F.col("u").alias("x"), F.col("u2").alias("y"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# g4: triangle count + global clustering coefficient
# ---------------------------------------------------------------------------


def g4_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count and global clustering coefficient of the
    co-presence graph — the density diagnostic that separates organic
    social structure from link-farm cliques.

    Spark-first: degree-oriented wedge enumeration. Every undirected
    edge is directed from its (degree, id)-smaller endpoint, which (a)
    gives each triangle exactly ONE wedge whose closing edge exists in
    the oriented set, and (b) bounds every node's out-degree by
    O(sqrt(|E|)) regardless of hub skew — the property that keeps the
    wedge self-join from exploding on a celebrity vertex at 100 TB.
    Three shuffled equi-joins (degree, orientation, wedge+closure); the
    edge set and oriented set are localCheckpointed because four plan
    branches reuse them (g3's linearization rule). The final row is a
    crossJoin of 1-row aggregates (model-sized, the documented
    acceptable BNLJ shape). Wedge total = sum C(deg,2) in exact integer
    arithmetic; coefficient = 3*triangles/wedges rounded once.
    """
    und = _copresence_edges(spark, sf_dir).localCheckpoint(eager=True)
    deg = (
        und.select(F.col("x").alias("u"))
        .unionAll(und.select(F.col("y").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("dg"))
    ).localCheckpoint(eager=True)
    dx = deg.select(F.col("u").alias("x"), F.col("dg").alias("dgx"))
    dy = deg.select(F.col("u").alias("y"), F.col("dg").alias("dgy"))
    with_deg = und.join(dx, "x").join(dy, "y")
    # orient from (deg, id)-smaller endpoint; carry the head's key for
    # the wedge ordering below
    e_or = with_deg.select(
        F.when(
            (F.col("dgx") < F.col("dgy"))
            | ((F.col("dgx") == F.col("dgy")) & (F.col("x") < F.col("y"))),
            F.struct(F.col("x").alias("s"), F.col("y").alias("d"), F.col("dgy").alias("dd")),
        )
        .otherwise(
            F.struct(F.col("y").alias("s"), F.col("x").alias("d"), F.col("dgx").alias("dd"))
        )
        .alias("o")
    ).select("o.s", "o.d", "o.dd").localCheckpoint(eager=True)
    w1 = e_or.select("s", F.col("d").alias("b"), F.col("dd").alias("db"))
    w2 = e_or.select("s", F.col("d").alias("c"), F.col("dd").alias("dc"))
    wedges = w1.join(w2, "s").filter(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    closing = e_or.select(F.col("s").alias("b"), F.col("d").alias("c"))
    tri = wedges.join(closing, ["b", "c"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("sum(dg * (dg - 1)) DIV 2").alias("n_wedges"),
        F.expr("sum(dg) DIV 2").alias("n_edges"),
    )
    return stats.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(F.col("n_wedges") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            )
        )
        .alias("clustering_coeff"),
    )


G4_ORACLE = f"""
WITH {_EDGES_CTE},
deg AS (
  SELECT u, COUNT(*) AS dg
  FROM (SELECT x AS u FROM und UNION ALL SELECT y FROM und)
  GROUP BY u
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM und e1 JOIN und e2 ON e1.y = e2.x JOIN und e3
    ON e3.x = e1.x AND e3.y = e2.y
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT CAST(SUM(dg) // 2 AS BIGINT) FROM deg) AS n_edges,
       (SELECT CAST(SUM(dg * (dg - 1)) // 2 AS BIGINT) FROM deg) AS n_wedges,
       (SELECT n_triangles FROM tri) AS n_triangles,
       CASE WHEN (SELECT SUM(dg * (dg - 1)) // 2 FROM deg) = 0 THEN 0.0
            ELSE ROUND(3.0 * (SELECT n_triangles FROM tri)
                       / (SELECT SUM(dg * (dg - 1)) // 2 FROM deg), 6)
       END AS clustering_coeff
"""


# ---------------------------------------------------------------------------
# g5: integer-exact PageRank, fixed iterations
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000  # micro-rank units: total mass ~ 1e9
_PR_ITERS = 5
_PR_TOP = 15


def g5_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 5 iterations) over the
    co-presence graph, in EXACT integer arithmetic: ranks live in
    micro-units of 1e9 total mass; per-edge contribution is
    rank DIV out_degree and the damped update is
    base + (85 * inflow) DIV 100 — every operation is integer, so the
    result is independent of partitioning and reproducible bit-for-bit
    in a second engine (float PageRank never is: the inflow sum order
    varies with the shuffle). Dropped remainders (the DIV truncations)
    are the documented mass leak; both engines leak identically.

    Spark-first: the directed edge list and degree table are built once
    and localCheckpointed; each iteration is ONE shuffled join
    (ranks ⋈ edges on src) + ONE aggregation (sum by dst) + a left
    join back to the node universe, localCheckpointed per round so the
    plan stays linear in iterations (g3's rule). At 100 TB this is the
    canonical Pregel-as-DataFrame loop: edge partitioning by src key,
    map-side partial sums on dst.
    """
    und = _copresence_edges(spark, sf_dir)
    edges = (
        und.select(F.col("x").alias("s"), F.col("y").alias("d"))
        .unionAll(und.select(F.col("y").alias("s"), F.col("x").alias("d")))
        .localCheckpoint(eager=True)
    )
    deg = (
        edges.groupBy(F.col("s").alias("u"))
        .agg(F.count(F.lit(1)).alias("od"))
        .localCheckpoint(eager=True)
    )
    n = deg.count()
    base = (15 * (_PR_SCALE // n)) // 100
    ranks = deg.select("u", F.lit(_PR_SCALE // n).cast("bigint").alias("r"))
    for _ in range(_PR_ITERS):
        ranks = ranks.localCheckpoint(eager=True)
        contrib = (
            ranks.join(deg, "u")
            .select("u", F.expr("r DIV od").alias("c"))
            .join(edges, F.col("u") == F.col("s"))
            .groupBy("d")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            deg.join(contrib, deg["u"] == contrib["d"], "left")
            .select(
                "u",
                (
                    F.lit(base)
                    + F.expr("85 * coalesce(inflow, 0) DIV 100")
                ).cast("bigint").alias("r"),
            )
        )
    return (
        ranks.join(deg, "u")
        .select(F.col("u").alias("user_id"), F.col("r").alias("rank_micro"), F.col("od").alias("out_deg"))
        .orderBy(F.col("rank_micro").desc(), F.col("user_id"))
        .limit(_PR_TOP)
    )


def _pr_oracle() -> str:
    iters = []
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        iters.append(f"""
r{i} AS (
  SELECT deg.u,
         CAST((SELECT bs FROM consts)
              + (85 * COALESCE(s.t, 0)) // 100 AS BIGINT) AS r
  FROM deg LEFT JOIN (
    SELECT e.d AS u, SUM(rp.r // dg.od) AS t
    FROM {prev} rp JOIN deg dg ON rp.u = dg.u JOIN e ON e.s = rp.u
    GROUP BY e.d
  ) s ON s.u = deg.u
)""")
        prev = f"r{i}"
    return f"""
WITH {_EDGES_CTE},
e AS (SELECT x AS s, y AS d FROM und UNION ALL SELECT y, x FROM und),
deg AS (SELECT s AS u, COUNT(*) AS od FROM e GROUP BY s),
consts AS (
  SELECT CAST({_PR_SCALE} // COUNT(*) AS BIGINT) AS r0v,
         CAST((15 * ({_PR_SCALE} // COUNT(*))) // 100 AS BIGINT) AS bs
  FROM deg
),
r0 AS (SELECT u, (SELECT r0v FROM consts) AS r FROM deg),
{",".join(iters)}
SELECT {prev}.u AS user_id, {prev}.r AS rank_micro, deg.od AS out_deg
FROM {prev} JOIN deg ON deg.u = {prev}.u
ORDER BY rank_micro DESC, user_id
LIMIT {_PR_TOP}
"""


G5_ORACLE = _pr_oracle()
