"""Recursive-hierarchy queries flattened with the pointer-jumping
operator (operators/hierarchy.py) in O(log depth) self-join rounds —
the scale path next to the native WITH RECURSIVE form
(plans/relational.py::sql_recursive_hierarchy), whose level-per-round
execution costs O(depth) rounds on both engines.

The forest is a deterministic function of p_partkey (part_forest), so
DuckDB can rebuild the identical structure and walk it with a real
recursive CTE — the oracle here is genuinely a different ALGORITHM
(sequential depth-first recursion) validating the distributed
log-rounds flattening, not a restatement of the same plan.

Oracle discipline: depths/counts/products are integer-exact end to end;
the only doubles are final ROUND()ed averages of exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.hierarchy import part_forest, pointer_jump, transitive_closure
from ..session import session_memo
from ..sources import load_table
from .registry import query

def _forest_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Units walk of the part forest: feeds graph_hierarchy_depths (units
    projected away) and graph_bom_rollup, which each re-ran the multi-round
    join loop."""

    def build() -> DataFrame:
        part = load_table(spark, sf_dir, "part")
        edges, roots = part_forest(spark, part)
        return pointer_jump(edges, roots, units="q")

    return session_memo(spark, "forest_walk", sf_dir, build)


def _forest_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the part forest: feeds graph_hierarchy_closure
    and graph_subtree_sizes."""

    def build() -> DataFrame:
        part = load_table(spark, sf_dir, "part")
        edges, _roots = part_forest(spark, part)
        return transitive_closure(edges.drop("q"))

    return session_memo(spark, "forest_closure", sf_dir, build)


# Shared DuckDB CTEs: rebuild the same forest and walk it recursively.
_WALK_CTE = """
WITH RECURSIVE child AS (
  SELECT p_partkey AS node,
         GREATEST(CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 15))
                       AS BIGINT) % p_partkey,
                  (SELECT MIN(p_partkey) FROM part)) AS par,
         1 + CAST(('0x' || substr(md5('q:' || CAST(p_partkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS q
  FROM part WHERE p_partkey >= 8
), walk AS (
  SELECT p_partkey AS node, p_partkey AS root, 0 AS depth,
         CAST(1 AS BIGINT) AS units
  FROM part WHERE p_partkey < 8
  UNION ALL
  SELECT c.node, w.root, w.depth + 1, w.units * c.q
  FROM child c JOIN walk w ON c.par = w.node
)
"""


@query(
    "graph_hierarchy_depths",
    oracle=_WALK_CTE
    + """
    SELECT root,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MAX(depth) AS INT) AS max_depth,
           CAST(SUM(depth) AS BIGINT) AS sum_depth,
           ROUND(CAST(SUM(depth) AS DOUBLE) / COUNT(*), 6) AS avg_depth
    FROM walk GROUP BY root ORDER BY root
    """,
)
def graph_hierarchy_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHY FLATTEN — every node's root and depth in a synthetic
    part forest, by pointer jumping: ceil(log2 D) shuffled self-joins
    instead of the D join rounds a recursive CTE's level-by-level
    execution needs. The oracle walks the identical
    forest with DuckDB's WITH RECURSIVE — a sequential algorithm
    cross-checking the distributed one. 100 TB: each round is one
    equi-join on the ancestor pointer; a 2e11-node random recursive
    tree (expected depth ≈ 71) converges in 7 rounds."""
    walk = _forest_walk(spark, sf_dir)
    return (
        walk.groupBy("root")
        .agg(
            F.count("*").alias("n_nodes"),
            F.max("depth").cast("int").alias("max_depth"),
            F.sum("depth").cast("bigint").alias("sum_depth"),
            F.round(
                F.sum("depth").cast("double") / F.count("*"), 6
            ).alias("avg_depth"),
        )
        .orderBy("root")
    )


@query(
    "graph_bom_rollup",
    oracle=_WALK_CTE
    + """
    , leaves AS (
      SELECT node FROM walk WHERE node NOT IN (SELECT par FROM child)
    )
    SELECT w.root,
           CAST(COUNT(*) AS BIGINT) AS n_leaves,
           CAST(SUM(w.units) AS BIGINT) AS total_units,
           CAST(MAX(w.units) AS BIGINT) AS max_path_units
    FROM walk w JOIN leaves l ON w.node = l.node
    GROUP BY w.root ORDER BY w.root
    """,
)
def graph_bom_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOM EXPLOSION ROLLUP — total leaf units per assembly root, where
    each edge carries a multiplicity q ∈ {1,2} and a leaf contributes
    the PRODUCT of q along its path to the root (the classic "how many
    of component X does one unit of product Y need" aggregating
    recursion). Pointer jumping carries the multiplicative path
    aggregate through the same log-rounds doubling as depth; leaves are
    the anti-join of nodes against distinct parents. Products stay in
    LongType (q ≤ 2, depth ≤ ~60 at any realistic scale — the operator
    docstring records the decimal(38,0) upgrade path)."""
    part = load_table(spark, sf_dir, "part")
    edges, _roots = part_forest(spark, part)
    walk = _forest_walk(spark, sf_dir)
    leaves = walk.join(
        edges.select(F.col("par").alias("p_node")).distinct(),
        walk["node"] == F.col("p_node"),
        "left_anti",
    )
    return (
        leaves.groupBy("root")
        .agg(
            F.count("*").alias("n_leaves"),
            F.sum("units").cast("bigint").alias("total_units"),
            F.max("units").cast("bigint").alias("max_path_units"),
        )
        .orderBy("root")
    )


@query(
    "graph_hierarchy_closure",
    oracle="""
    WITH RECURSIVE child AS (
      SELECT p_partkey AS node,
             GREATEST(CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 15))
                           AS BIGINT) % p_partkey,
                      (SELECT MIN(p_partkey) FROM part)) AS par
      FROM part WHERE p_partkey >= 8
    ), anc AS (
      SELECT node, par AS anc, 1 AS dist FROM child
      UNION ALL
      SELECT a.node, c.par, a.dist + 1
      FROM anc a JOIN child c ON c.node = a.anc
    )
    SELECT node, anc, CAST(dist AS INT) AS dist FROM anc
    """,
)
def graph_hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANCESTOR TRANSITIVE CLOSURE — every (node, ancestor, distance)
    pair of the part forest, the materialized path table that makes
    "all descendants of X" / "rollup to any level" one equi-join at
    read time. Built by relational doubling (operators/hierarchy.py::
    transitive_closure): ceil(log2 D) self-joins with a distinct per
    round, versus the recursive oracle's one-level-per-iteration walk —
    the distributed and the sequential algorithm must agree pair for
    pair. Output is Σ depth rows (~5.5 per node on this hash-shaped
    forest), linear in nodes."""
    closure = _forest_closure(spark, sf_dir)
    return closure.select("node", "anc", F.col("dist").cast("int").alias("dist"))


@query(
    "graph_subtree_sizes",
    oracle="""
    WITH RECURSIVE child AS (
      SELECT p_partkey AS node,
             GREATEST(CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 15))
                           AS BIGINT) % p_partkey,
                      (SELECT MIN(p_partkey) FROM part)) AS par
      FROM part WHERE p_partkey >= 8
    ), anc AS (
      SELECT node, par AS anc, 1 AS dist FROM child
      UNION ALL
      SELECT a.node, c.par, a.dist + 1
      FROM anc a JOIN child c ON c.node = a.anc
    )
    SELECT anc AS node,
           CAST(COUNT(*) AS BIGINT) AS n_descendants,
           CAST(MAX(dist) AS INT) AS subtree_height,
           CAST(SUM(dist) AS BIGINT) AS sum_dist
    FROM anc GROUP BY anc
    HAVING COUNT(*) >= 10
    """,
)
def graph_subtree_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBTREE ROLLUP — per ancestor, how many descendants it has and how
    deep its subtree reaches (the org-chart "span of control" / category
    "catalog size" aggregate): one groupBy over the doubling-built
    transitive closure, restricted to nodes with ≥ 10 descendants so the
    graded row set stays the interesting internal nodes. This is the
    read-side payoff of materializing the closure: ANY ancestor-scoped
    aggregate becomes a plain keyed groupBy instead of a recursive
    traversal per question."""
    closure = _forest_closure(spark, sf_dir)
    return (
        closure.groupBy(F.col("anc").alias("node"))
        .agg(
            F.count("*").cast("bigint").alias("n_descendants"),
            F.max("dist").cast("int").alias("subtree_height"),
            F.sum("dist").cast("bigint").alias("sum_dist"),
        )
        .where(F.col("n_descendants") >= 10)
    )
