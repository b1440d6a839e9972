"""Graph-algorithm queries: PageRank over the customer-supplier
purchase graph.

Companion to the connected-components clustering in queries/dedup.py —
together they cover the two iterative-graph shapes a training-data
pipeline actually runs (dedup clustering, importance/centrality
weighting for source selection).  The DuckDB oracle unrolls the fixed
iteration count as chained CTEs (no WITH RECURSIVE aggregation, which
ANSI forbids), exercising exactly the same integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_umami_spark.registry import probe, register, register_sql
from datafusion_umami_spark.tables import table

_ITER = 4


def _oracle_pagerank() -> str:
    parts = [
        """
    WITH e0 AS (
      SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst
          FROM e0),
    nodes AS (SELECT DISTINCT src AS node FROM e),
    deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM e GROUP BY src),
    p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes)"""
    ]
    for k in range(1, _ITER + 1):
        parts.append(f""",
    c{k} AS (
      SELECT e.dst AS node, SUM(p.pr // d.outdeg) AS mass
      FROM e JOIN p{k - 1} p ON e.src = p.node
             JOIN deg d ON e.src = d.node
      GROUP BY e.dst),
    p{k} AS (
      SELECT n.node,
             CAST(150000 + (850000 * COALESCE(c.mass, 0)) // 1000000
                  AS BIGINT) AS pr
      FROM nodes n LEFT JOIN c{k} c ON n.node = c.node)""")
    parts.append(f"""
    SELECT node, pr FROM p{_ITER} ORDER BY pr DESC, node LIMIT 50""")
    return "".join(parts)


@register(
    "graph_pagerank_purchases",
    oracle=_oracle_pagerank(),
    tags=("graph", "pagerank", "iterative", "llm-pipeline"),
    bench=True,
)
def graph_pagerank_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank on the bipartite customer↔supplier purchase graph
    (customers and suppliers mapped to disjoint even/odd node ids,
    edges made bidirectional so no node dangles), 4 fixed iterations
    of exact micro-unit integer arithmetic — see operators/pagerank.py.
    Top-50 nodes by rank; ties break on node id."""
    from datafusion_umami_spark.operators.pagerank import pagerank

    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    e0 = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    bidir = e0.unionAll(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # bidir is duplicate-free BY CONSTRUCTION, as pagerank() requires —
    # e0 is distinct and the reversed arm cannot collide with it (src
    # ids are even, dst ids odd, so no edge equals any reversal).
    pr = pagerank(bidir, iterations=_ITER)
    return (
        pr.select(F.col("node").cast("long"), F.col("pr").cast("long"))
        .orderBy(F.desc("pr"), "node")
        .limit(50)
    )


# --- exact triangle counting ----------------------------------------------
# Count triangles in the co-purchase graph (suppliers connected when a
# common part links them).  The oriented-edge formulation — every edge
# stored once, the triangle found by joining two oriented edges and
# closing with a third — is the standard distributed-triangle plan:
# each triangle is produced EXACTLY once, no post-hoc dedup, and the
# heavy join is an equi-join on a vertex key.  Edges are oriented by
# DEGREE (low-degree endpoint first, id tiebreak), not id: the two-hop
# wedge generation fans out only from each edge's LOWER-degree endpoint,
# so a skewed hub of degree d produces O(sum of its neighbors' small
# degrees) wedges instead of O(d^2) — the bound that keeps the plan
# alive on power-law co-purchase graphs at 100 TB.  The SQL template is
# shared verbatim by Spark and DuckDB (and by the skewed-graph stress
# test, tests/test_stress.py).


def oriented_edges_sql(pairs_rel: str) -> str:
    """Degree-orient the undirected edge relation `pairs_rel` (one row
    per edge, u < v): low (degree, id) endpoint first — u < v already,
    so on a degree tie the id order is preserved and no flip is
    needed.  `deg` is |V|-sized; fine to reference twice."""
    return f"""
    WITH deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT u AS node FROM {pairs_rel}
            UNION ALL SELECT v AS node FROM {pairs_rel}) t
      GROUP BY node)
    SELECT CASE WHEN dv.d < du.d THEN p.v ELSE p.u END AS u,
           CASE WHEN dv.d < du.d THEN p.u ELSE p.v END AS v
    FROM {pairs_rel} p
      JOIN deg du ON p.u = du.node
      JOIN deg dv ON p.v = dv.node"""


def triangle_close_sql(oriented_rel: str, pairs_rel: str) -> str:
    """Close triangles over the oriented edge relation: two out-edge
    hops joined by the closing third edge — pure equi-joins.  Subquery
    form (no WITH) so it composes after an outer WITH clause."""
    return f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM {pairs_rel}) AS BIGINT) AS n_edges
    FROM (
      SELECT e1.u AS x, e1.v AS y, e2.v AS z
      FROM {oriented_rel} e1
        JOIN {oriented_rel} e2 ON e1.v = e2.u
        JOIN {oriented_rel} e3 ON e3.u = e1.u AND e3.v = e2.v) tri
    """


def triangle_count_sql(pairs_cte: str) -> str:
    """Single-statement composition of the two stages over a `pairs`
    CTE body — the engine-portable ANSI text used by the DuckDB oracle
    and the skewed-graph stress test.  NOTE: executing this text on
    Spark inlines the CTE chain multiplicatively (pairs ran 32×); the
    registered Spark query materializes each stage instead."""
    return f"""
    WITH pairs AS ({pairs_cte}),
    oriented AS ({oriented_edges_sql("pairs")})
    {triangle_close_sql("oriented", "pairs")}
    """


_COPURCHASE_PAIRS = """
      -- high-quantity RECENT co-purchases only: keeps the graph sparse
      -- (the unfenced version is complete on this synthetic data, which
      -- would make every triangle count trivially C(n,3)).  r14
      -- discrimination fix (probe-found): the qty>45 fence alone still
      -- left the 10-supplier sf0.001 graph COMPLETE — the triangle
      -- closure never rejected a wedge locally; adding the 1998+
      -- ship-date fence puts every branch in play at every proof SF
      -- (excluded-pairs/open-wedges 1/7, 2898/15882, 472278/466265 at
      -- sf0.001/0.01/0.1)
      SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      WHERE a.l_quantity > 45 AND b.l_quantity > 45
        AND a.l_shipdate >= DATE '1998-01-01'
        AND b.l_shipdate >= DATE '1998-01-01'"""


@register(
    "graph_triangle_count",
    oracle=triangle_count_sql(_COPURCHASE_PAIRS),
    tags=("graph", "triangles", "self-join"),
    discrimination=probe(
        edges=f"SELECT COUNT(*) FROM ({_COPURCHASE_PAIRS}) p",
        qty_fence_excluded_pairs=f"""SELECT COUNT(*) FROM (
            SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
            FROM lineitem a JOIN lineitem b
              ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey) q
            WHERE NOT EXISTS (SELECT 1 FROM ({_COPURCHASE_PAIRS}) p
                              WHERE p.u = q.u AND p.v = q.v)""",
        triangles=f"""WITH pairs AS ({_COPURCHASE_PAIRS})
            SELECT COUNT(*) FROM pairs e1
            JOIN pairs e2 ON e2.u = e1.v
            JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v""",
        open_wedges_not_closed=f"""WITH pairs AS ({_COPURCHASE_PAIRS})
            SELECT COUNT(*) FROM pairs e1
            JOIN pairs e2 ON e2.u = e1.v
            WHERE NOT EXISTS (SELECT 1 FROM pairs e3
                              WHERE e3.u = e1.u AND e3.v = e2.v)""",
    ),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented triangle count with per-stage materialization:
    the edge set (DISTINCT co-purchase pairs, ≪ lineitem) and the
    oriented edges are each checkpointed ONCE, so the fact table is
    scanned exactly twice (the self-join arms) instead of the 32 scans
    the inlined single-statement SQL produced — the multiplicative-CTE
    countermeasure (operators/materialize.py)."""
    from datafusion_umami_spark.operators.materialize import materialize_view
    from datafusion_umami_spark.tables import register_views

    register_views(spark, sf_dir)
    materialize_view("tri_pairs", spark.sql(_COPURCHASE_PAIRS), "tri_pairs_m")
    materialize_view(
        "tri_oriented",
        spark.sql(oriented_edges_sql("tri_pairs_m")),
        "tri_oriented_m",
    )
    return spark.sql(triangle_close_sql("tri_oriented_m", "tri_pairs_m"))
