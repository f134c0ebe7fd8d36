"""Triangle counting with degree-ordered orientation.

Closed triads are the graph-quality signal KG audits use (clustering
coefficient inputs, motif profiling of the emitted links) — the
reference profiles its graph with flat counts only
(summarize_benchmarks.py:6-26).

The scale discipline is the orientation: direct every undirected edge
from the endpoint that is SMALLER in the (degree, id) total order to
the larger one. Each triangle then has exactly one wedge vertex whose
two oriented out-edges form it, so (a) no triangle is double-counted
and (b) the wedge join fans out per vertex by its ORIENTED out-degree,
which is O(√|E|) for any graph — a hub of degree 10^6 contributes
almost no wedges because nearly all its edges point INTO it. Without
orientation the same hub contributes 10^12 wedge pairs; this is the
difference between a plan that survives 100 TB and one that dies on
the first power-law vertex.

Plan: two degree aggregates (partial+final), one self-join on the
wedge vertex, one semi-join back against the oriented edge set, one
explode + count. All equi-joins on ids — no cartesian anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation counts.

    ``edges``: undirected edge list (either or both directions; dups and
    self-loops are dropped). Returns (node, n_triangles) for every node
    in at least one triangle; each triangle credits all three corners.
    """
    # canonical undirected, dedup, no self-loops
    # und feeds three consumers and o feeds three more — localCheckpoint
    # both so each is computed ONCE instead of re-deriving the whole
    # upstream lineage per self-reference (a 6× input re-scan otherwise)
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
        .localCheckpoint()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select("b"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_db"))
    # orient by (degree, id): lower -> higher
    o = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("_da") < F.col("_db"))
                | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint()
    )
    e1 = o.select(F.col("u").alias("w0"), F.col("v").alias("w1"))
    e2 = o.select(F.col("u").alias("w0"), F.col("v").alias("w2"))
    wedges = e1.join(e2, "w0").where(F.col("w1") < F.col("w2"))
    # a wedge (w0; w1, w2) closes iff the oriented edge w1->w2 or w2->w1
    # exists; orientation makes exactly one direction possible, and
    # w1 < w2 dedups the unordered wedge pair, so check both via the
    # canonical (least, greatest) form of the oriented set
    o_canon = o.select(
        F.least("u", "v").alias("w1"), F.greatest("u", "v").alias("w2")
    )
    tri = wedges.join(o_canon, ["w1", "w2"], "left_semi")
    corners = (
        tri.select(F.col("w0").alias("node"))
        .union(tri.select("w1"))
        .union(tri.select("w2"))
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


def clustering_coefficients(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node over the undirected simple
    graph: lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), 0 when deg < 2 — the
    per-entity closure signal on top of :func:`triangle_counts` (how
    clique-like each entity's neighborhood is; a standard KG-quality
    audit column). Output: (node, deg, n_triangles, lcc) for every node
    with at least one edge. Adds only one degree aggregate and one
    |V|-sized join to the triangle plan."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select("b"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    tri = triangle_counts(und, src="a", dst="b")
    d = F.col("deg").cast("double")
    return deg.join(tri, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        F.when(
            F.col("deg") >= 2,
            2.0 * F.coalesce(F.col("n_triangles"), F.lit(0)) / (d * (d - 1.0)),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )
