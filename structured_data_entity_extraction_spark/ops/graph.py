"""KG analytics over the constructed node/edge tables: PageRank.

The reference stops at extracting field records (`extractorAvaluos.py:
933-956`); once those records become node/edge tables (the north-rule
output), ranking entities by link structure is the first analytics a
KG consumer runs. This is the standard power-iteration PageRank
(Page et al., 1999) expressed as a fixed-iteration DataFrame loop --
fixed because a convergence test is a per-round driver action AND
makes the result depend on float noise; a pinned iteration count is
deterministic and oracle-able (the DuckDB twin unrolls the same
iterations as chained CTEs).

Scale design (the pregel-shaped part):

- Each iteration is ONE join (edges x ranks, on src) + ONE aggregation
  (contributions by dst). The edge frame is hash-repartitioned on src
  once and persisted, so every iteration's join re-shuffles only the
  |V|-sized rank frame, never the |E|-sized edge frame; the
  contribution aggregation does map-side partial aggregation on dst
  for free.
- Lineage is CUT (eager ``localCheckpoint``) on the edge/node frames
  at entry and on every iteration's rank frame -- the same discipline
  cc.py uses, each released once nothing reads it. Persist alone is
  not enough: the logical plan of iteration k still embeds the full
  upstream subtree (here: the whole KG pipeline) once per join that
  references it, so analysis cost -- and driver heap for the plan
  trees -- grows linearly with iterations and blows up when the input
  plan is itself large (observed: OOM at 5 iterations over the
  composed build_kg plan).
- Dangling nodes (no out-edges) redistribute their mass uniformly
  (the textbook formulation). That costs one driver-side scalar
  aggregate per iteration over the persisted |V|-sized rank frame --
  bounded, never over the edge stream.
- Ranks are float64 all the way; consumers that hash-compare across
  engines should round (the driver query rounds to 6 dp, the shared
  determinism contract the IVF-PQ ADC scan also uses).

Hub skew (a node with huge in-degree) concentrates one dst group; the
aggregation's map-side combine collapses per-partition contributions
first, so the reduce-side group sees at most one row per map
partition -- the same reason the exact-dedup groupBy tolerates hot
sha keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .cache import release_checkpoint

__all__ = ["pagerank", "triangle_count"]


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration power-method PageRank over a directed edge list.

    Returns (node, rank) with sum(rank) == 1 (up to float noise): the
    mass of dangling nodes is redistributed uniformly each round.
    Duplicate edges are collapsed first (unweighted semantics);
    self-loops count like any other edge.
    """
    spark = edges.sparkSession
    # eager localCheckpoint: materializes AND truncates lineage, so the
    # per-iteration plans reference a leaf, not the caller's upstream
    # pipeline (see module docstring)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        release_checkpoint(e, nodes)
        return spark.createDataFrame([], "node string, rank double")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("_od"))
    # edges carry their source's out-degree and are partitioned on src
    # ONCE; every iteration's join then exchanges only the rank frame
    ee = e.join(deg, "src").repartition("src").localCheckpoint()
    # the dangling-node SET is loop-invariant -- materialize it once so
    # each round pays one semi-join + scalar agg, not a recomputed deg
    # aggregation plus an anti-join
    dangling_nodes = nodes.join(
        deg.withColumnRenamed("src", "node"), "node", "left_anti"
    ).localCheckpoint()
    release_checkpoint(e)

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank")).localCheckpoint()
    base = (1.0 - damping) / n
    for _ in range(iterations):
        # mass parked on nodes with no out-edges, redistributed
        # uniformly: a scalar agg on the checkpointed |V|-sized frame
        row = ranks.join(dangling_nodes, "node", "left_semi").agg(F.sum("rank")).first()
        dm = row[0] or 0.0
        contrib = (
            ee.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("_od")).alias("_contrib"))
        )
        nxt = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(base + damping * dm / n)
                    + F.lit(damping) * F.coalesce("_contrib", F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()  # cut lineage: O(1)-deep plan per round
        )
        release_checkpoint(ranks)
        ranks = nxt
    release_checkpoint(nodes, ee, dangling_nodes)
    return ranks


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an undirected simple graph.

    Degree-ordered wedge counting (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW'11): orient every
    canonical edge from the lower-ranked endpoint to the higher, where
    rank = (degree, node) lexicographic. Every node's ORIENTED
    out-degree is then O(sqrt(m)) regardless of its real degree, so
    the wedge self-join -- the quadratic step -- is bounded per node:
    a 10^7-degree hub in a plain neighbor self-join would emit 10^14
    wedge rows from one key; oriented, it emits at most m. Wedges are
    closed against the oriented edge set (equi-join, no theta join),
    and each triangle credits all three corners.

    Self-loops are dropped; duplicate/reversed edges collapse to one
    canonical (low, high) edge. All joins/aggs key on node ids --
    AQE skew-join handles residual hot keys.
    """
    both = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    e = (
        both.select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .distinct()
        .localCheckpoint()  # consumed 4x below; cut the caller's lineage
    )
    deg = (
        e.select(F.col("lo").alias("node"))
        .unionByName(e.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    # rank structs make the (degree, node) lexicographic order a single
    # comparable column (node cast to string inside the struct so the
    # tie-break is total for any id type)
    rk = deg.select(
        "node",
        F.struct(F.col("_deg"), F.col("node").cast("string").alias("n")).alias("_rk"),
    )
    oriented = (
        e.join(rk.withColumnRenamed("node", "lo").withColumnRenamed("_rk", "_rklo"), "lo")
        .join(rk.withColumnRenamed("node", "hi").withColumnRenamed("_rk", "_rkhi"), "hi")
        .select(
            F.when(F.col("_rklo") < F.col("_rkhi"), F.col("lo"))
            .otherwise(F.col("hi"))
            .alias("u"),
            F.when(F.col("_rklo") < F.col("_rkhi"), F.col("hi"))
            .otherwise(F.col("lo"))
            .alias("v"),
            F.when(F.col("_rklo") < F.col("_rkhi"), F.col("_rkhi"))
            .otherwise(F.col("_rklo"))
            .alias("_rkv"),
        )
        .localCheckpoint()
    )
    # wedges u->(v, w) with rank(v) < rank(w): both legs leave u, so the
    # self-join keys on u and the inequality bounds each apex to
    # C(out_deg, 2) = O(m) total by the orientation bound
    a, b = oriented.alias("wa"), oriented.alias("wb")
    wedges = a.join(b, on=(F.col("wa.u") == F.col("wb.u")) & (F.col("wa._rkv") < F.col("wb._rkv"))).select(
        F.col("wa.u").alias("apex"), F.col("wa.v").alias("x"), F.col("wb.v").alias("y")
    )
    closures = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    tris = wedges.join(closures, ["x", "y"])
    corners = (
        tris.select(F.col("apex").alias("node"))
        .unionByName(tris.select(F.col("x").alias("node")))
        .unionByName(tris.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    # nodes in no triangle report 0, so the output covers the graph
    return (
        deg.select("node")
        .join(corners, "node", "left")
        .select("node", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"))
    )
