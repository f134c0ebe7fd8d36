"""Whole-graph profile: the one-row audit of an emitted KG's shape.

The reference's graph audit is summarize_benchmarks.py:6-26 — flat
entity/triple counts per output file. A constructed KG additionally
needs the degree-shape numbers that drive engine decisions (is the
degree distribution power-law enough to need skew salting? how dense is
the graph the downstream joins will fan out over?).

Plan shape: one canonicalizing dedup, one degree aggregate, one global
aggregate — two shuffles total, output is a single row. The degree
percentiles use exact ``percentile`` so the DuckDB oracle matches
hash-exactly. Its buffer holds one count per distinct degree, which is
bounded by the maximum degree, not by the node count, so the exact form
stays cheap at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def graph_profile(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One-row shape profile of the undirected simple graph of ``edges``.

    Columns: n_nodes, n_edges, min_deg, max_deg, avg_deg (4 dp),
    p50_deg, p90_deg, p99_deg (doubles). Duplicate edges (either
    orientation) and self-loops are dropped first, so the profile
    describes the simple graph the other graph operators (triangles,
    k-core, pagerank) run on.
    """
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
    return deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("deg") / 2).cast("long").alias("n_edges"),
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
        F.round(F.avg("deg"), 4).alias("avg_deg"),
        F.percentile("deg", F.lit(0.5)).cast("double").alias("p50_deg"),
        F.percentile("deg", F.lit(0.9)).cast("double").alias("p90_deg"),
        F.percentile("deg", F.lit(0.99)).cast("double").alias("p99_deg"),
    )
