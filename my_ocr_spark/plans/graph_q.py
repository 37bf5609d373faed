"""Graph queries: connected components over a deterministic bipartite
projection of the lineitem table (orders linked by shared parts — the
relational shape of the reference's component clustering,
wrapper.py:544-628)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from my_ocr_spark.operators.graph import connected_components, \
    remove_singletons
from my_ocr_spark.plans.registry import query, t


@query(
    "drrg_local_knn",
    oracle="""
    WITH raw AS (
        SELECT DISTINCT l_orderkey // 10 AS img,
               CAST(l_partkey % 200 AS BIGINT) AS x,
               CAST(l_suppkey % 150 AS BIGINT) AS y
        FROM lineitem
    ),
    pts AS MATERIALIZED (
        SELECT img, x * 150 + y AS pid, x, y FROM raw
    ),
    pairs AS (
        SELECT a.img, a.pid AS src_id, b.pid AS neighbor_id,
               (a.x - b.x) * (a.x - b.x)
                   + (a.y - b.y) * (a.y - b.y) AS dist2
        FROM pts a JOIN pts b ON a.img = b.img AND a.pid <> b.pid
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY img, src_id
                                     ORDER BY dist2, neighbor_id) AS rnk
        FROM pairs
    )
    SELECT img, src_id, neighbor_id, CAST(dist2 AS BIGINT) AS dist2,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= 4
    """,
)
def drrg_local_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRRG local-graph KNN (local_graph.py:29-296): k-nearest neighbors
    of every text component WITHIN its image, ordered by (squared
    Euclidean distance, neighbor id). Grouped operator — points shuffle
    once on img into one ``map_groups`` stage, and each image's
    distance matrix is one numpy array (see operators/knn.py).
    Components are DISTINCT coordinate points (pid = x*150+y is unique
    within an img by construction — the synthetic lineitem has no
    unique natural key).
    The img key is orderkey // 10 so per-image point counts stay
    CONSTANT as SF grows (the % 2000 key packed ~300 points/img at
    sf0.1 and made the oracle's per-image self-join quadratic in SF —
    the round-1 join-key lesson; real pages have bounded components).
    Oracle: the equivalent windowed self-join (exact: integer coords →
    integer dist2, deterministic tie-break)."""
    from my_ocr_spark.operators.knn import knn_per_group

    li = t(spark, sf_dir, "lineitem")
    raw = li.select(
        F.expr("l_orderkey div 10").alias("img"),
        (F.col("l_partkey") % 200).cast("bigint").alias("x"),
        (F.col("l_suppkey") % 150).cast("bigint").alias("y")).distinct()
    pts = raw.select(
        "img", (F.col("x") * 150 + F.col("y")).alias("pid"), "x", "y")
    return knn_per_group(pts, k=4)


@query(
    "connected_components",
    oracle="""
    WITH RECURSIVE
    edges AS (
        SELECT l_orderkey * 10 AS src, l_partkey * 10 + 1 AS dst
        FROM lineitem
        WHERE l_orderkey % 25 = 0 AND l_linenumber = 1
    ),
    ue AS (
        SELECT src AS a, dst AS b FROM edges
        UNION
        SELECT dst AS a, src AS b FROM edges
    ),
    reach(node, r) AS (
        SELECT a, a FROM ue
        UNION
        SELECT ue.a, reach.r FROM ue JOIN reach ON ue.b = reach.node
    ),
    labeled AS (
        SELECT node, min(r) AS component FROM reach GROUP BY node
    )
    SELECT node, component FROM labeled
    WHERE component IN (SELECT component FROM labeled
                        GROUP BY component HAVING count(*) >= 2)
    """,
)
def connected_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed CC via min-label propagation + pointer jumping (the
    GraphFrames pattern on plain joins; see operators/graph.py). Edges:
    order↔part from a sparse deterministic slice of lineitem; node ids
    disambiguated by range (orders ×10, parts ×10+1). Oracle: DuckDB
    recursive-CTE transitive closure with min-label per node — exact,
    feasible because the fixture graph is small; the Spark side is the
    O(log n)-round distributed algorithm that scales."""
    li = t(spark, sf_dir, "lineitem")
    edges = (li.filter((F.col("l_orderkey") % 25 == 0)
                       & (F.col("l_linenumber") == 1))
               .select((F.col("l_orderkey") * 10).alias("src"),
                       (F.col("l_partkey") * 10 + 1).alias("dst")))
    labels = connected_components(edges)
    return remove_singletons(labels).orderBy("component", "node")
