"""k-truss decomposition (fixed-k edge peeling) over the triple table.

The k-truss is the maximal subgraph in which every EDGE participates in
at least k−2 triangles — the edge-level tightening of the k-core
(operators/kcore.py): a k-core keeps nodes with enough neighbors, a
k-truss keeps edges with enough mutually-connected neighbors, so it
isolates the cohesive clusters a KG audit actually wants (two hub
entities co-occurring once survive any reasonable k-core; they never
survive a truss). Standard distributed-graph benchmark op (GraphChallenge).

Algorithm: iterative peel to the unique fixpoint. Each round:

1. degree-order the surviving edges (orient lo→hi by (deg, id)) and
   enumerate each triangle ONCE from its degree-minimum vertex's two
   out-edges — the same orientation trick as operators/triangles.py
   (measured there: 5×10⁹ naive wedges → ~90M on power-law hubs);
2. close wedges against the CANONICAL edge set (one equi-join);
3. scatter each triangle to its three edges, ONE partial+final
   HashAggregate for per-edge support;
4. keep edges with support ≥ k−2 (inner join — support-0 edges drop
   implicitly).

The edge set is localCheckpointed every round (as in kcore and the
``relax``/``expand`` kernels of operators/components.py); convergence =
edge-count stability, one driver-side scalar per round. The truss is
unique, so the fixpoint is peel-order independent and
engine-reproducible — the DuckDB oracle unrolls the peels as MATERIALIZED CTEs (kcore's oracle
discipline, including the convergence guard: the unrolled form is only
valid when round p equals round p−1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ktruss(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Edges of the k-truss with their within-truss triangle support.

    ``edges``: undirected edge list (either/both directions; dups and
    self-loops dropped). Returns (a, b, support) with a < b for every
    surviving edge — empty when no k-truss exists. ``k`` ≥ 3.
    """
    assert k >= 3
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_n = und.count()
    sup = None
    converged = False
    for _ in range(max_iter):
        deg = (
            und.select(F.col("a").alias("node"))
            .union(und.select("b"))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        ed = (
            und.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("_da")), "a")
            .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("_db")), "b")
        )
        lo_first = (F.col("_da") < F.col("_db")) | (
            (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
        )
        od = ed.select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        e1, e2 = od.alias("e1"), od.alias("e2")
        wedges = e1.join(
            e2,
            (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")),
        ).select(
            F.col("e1.u").alias("x"),
            F.col("e1.v").alias("y"),
            F.col("e2.v").alias("z"),
        )
        tri = wedges.join(
            und.select(
                F.least("a", "b").alias("y"), F.greatest("a", "b").alias("z")
            ).withColumn("_c", F.lit(1)),
            ["y", "z"],
            "left_semi",
        )
        sup = (
            tri.select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
            .union(
                tri.select(F.least("x", "z").alias("a"), F.greatest("x", "z").alias("b"))
            )
            .union(tri.select("y", "z"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("support"))
        )
        und = (
            und.join(sup, ["a", "b"])
            .where(F.col("support") >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        n = und.count()
        if n == prev_n:
            converged = True
            break
        prev_n = n
    if not converged:
        # matching the SCC/topo convergence discipline (and the oracle's
        # e{p}=e{p-1} guard): exhausting max_iter would return a
        # non-fixpoint edge set with supports from the penultimate round
        # — an undetected wrong result downstream (ADVICE r5).
        raise RuntimeError(
            f"ktruss did not reach its fixpoint within {max_iter} peels; "
            "raise max_iter"
        )
    return und.join(sup, ["a", "b"]) if sup is not None else und.withColumn(
        "support", F.lit(0).cast("long")
    )


def ktruss_oracle_ctes(links_cte: str, k: int, peels: int = 6) -> str:
    """DuckDB twin over a ``links(subj, pred, obj)`` CTE chain: the
    peels unroll as MATERIALIZED CTEs (the kcore oracle discipline —
    each peel references its predecessor several times, and DuckDB's
    default inlining would expand the chain exponentially). Valid only
    at convergence: the final SELECT guards on e{peels} and
    e{peels-1} having equal edge counts (NULL row otherwise would be
    caught by the hash compare), mirroring ADVICE.md's kcore fix.
    The oracle enumerates wedges from the canonical min vertex — no
    degree orientation needed for correctness at oracle scale."""
    steps = []
    for i in range(peels):
        steps.append(
            f"""tri{i} AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e{i} e1 JOIN e{i} e2 ON e1.a = e2.a AND e1.b < e2.b
      SEMI JOIN e{i} e3 ON e3.a = e1.b AND e3.b = e2.b),
    sup{i} AS MATERIALIZED (
      SELECT a, b, count(*) AS s FROM (
        SELECT x AS a, y AS b FROM tri{i}
        UNION ALL SELECT x AS a, z AS b FROM tri{i}
        UNION ALL SELECT y AS a, z AS b FROM tri{i}) u
      GROUP BY 1, 2),
    e{i + 1} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{i} e
      JOIN sup{i} s ON e.a = s.a AND e.b = s.b
      WHERE s.s >= {k - 2})"""
        )
    return f"""
    WITH {links_cte},
    e0 AS MATERIALIZED (
      SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b
      FROM links WHERE subj <> obj),
    {','.join(steps)}
    SELECT e.a, e.b, CAST(s.s AS BIGINT) AS support
    FROM e{peels} e
    JOIN sup{peels - 1} s ON e.a = s.a AND e.b = s.b
    WHERE (SELECT count(*) FROM e{peels})
          = (SELECT count(*) FROM e{peels - 1})
    """
