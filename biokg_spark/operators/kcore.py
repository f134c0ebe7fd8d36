"""k-core decomposition (fixed-k peeling) over the emitted triple table.

The k-core is the maximal subgraph in which every node has degree ≥ k —
the standard "dense backbone" audit for a constructed KG (which
entities sit in mutually-corroborating clusters vs. hang off a single
co-occurrence). The reference profiles its compiled graph with flat
counts only (summarize_benchmarks.py:6-26); core membership is the
graph-shaped version of that audit.

Algorithm: iterative peeling to a fixpoint. Each round is ONE degree
aggregate (partial+final on node id) and ONE semi-join of the edge set
against the surviving nodes (both endpoints) — all equi-joins on ids,
no cartesian anywhere. The edge set is localCheckpointed every round and
one ``count()`` both materializes it and detects convergence (edge-count
stability) — the discipline of the iteration kernels ``relax``/``expand``
in operators/components.py. Exhausting ``max_iter`` before the fixpoint
RAISES: a partly peeled edge set is not a k-core.

Scale shape (100 TB): peeling touches only the current edge set, which
shrinks monotonically; the degree aggregate map-side-combines, and the
per-round shuffle is bounded by the surviving |E|. Power-law graphs
converge in a few rounds for small k because low-degree leaves dominate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _degrees(und: DataFrame) -> DataFrame:
    return (
        und.select(F.col("a").alias("node"))
        .union(und.select("b"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Nodes of the k-core with their within-core degree.

    ``edges``: undirected edge list (either or both directions; dups and
    self-loops dropped). Returns (node, core_deg) for every node of the
    k-core — empty when no k-core exists. Deterministic: the k-core is
    unique, so the fixpoint does not depend on peel order.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    n_edges = und.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        keep = _degrees(und).where(F.col("deg") >= k).select("node")
        und = (
            und.join(keep.withColumnRenamed("node", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
            .localCheckpoint(eager=False)
        )
        n_now = und.count()
        if n_now == n_edges:  # fixpoint: every remaining node has deg >= k
            break
        n_edges = n_now
    else:
        if n_edges:  # an empty edge set is a fixpoint whatever the round
            raise RuntimeError(
                f"kcore did not reach its fixpoint within max_iter={max_iter} "
                "peels; raise max_iter"
            )
    return _degrees(und).withColumnRenamed("deg", "core_deg")


def kcore_oracle_ctes(links_cte: str, k: int, peels: int = 8) -> str:
    """ANSI-SQL twin of :func:`kcore` over a ``links`` CTE of
    (subj, pred, obj): the peeling unrolls as chained CTEs e0..e{peels},
    each one degree aggregate + one double-IN filter — term-for-term the
    Spark round. ``peels`` must be ≥ the rounds the input needs to reach
    the fixpoint (extra rounds are no-ops once converged, so
    over-provisioning is safe). Convergence is CHECKED IN-QUERY, not
    assumed: the final select cross-joins a guard CTE that is non-empty
    only when ``e{peels}`` and ``e{peels-1}`` have equal edge counts, so
    an under-provisioned unroll returns ZERO rows and fails the
    rows-match comparison against the Spark fixpoint loudly instead of
    silently diverging on inputs needing more than ``peels`` rounds.

    Every e{i}/d{i} is ``AS MATERIALIZED``: each peel references its
    predecessor five times, so DuckDB's default CTE inlining would
    expand the chain 5^peels-fold before hitting the scan — the SQL twin
    of the Catalyst re-inlining hazard the Spark side avoids with
    localCheckpoint."""
    sql = [links_cte]
    sql.append(
        "e0 AS MATERIALIZED (SELECT DISTINCT least(subj, obj) AS a, "
        "greatest(subj, obj) AS b FROM links WHERE subj <> obj)"
    )
    for i in range(peels):
        sql.append(
            f"d{i} AS MATERIALIZED (SELECT node, count(*) AS deg FROM "
            f"(SELECT a AS node FROM e{i} UNION ALL SELECT b FROM e{i}) "
            f"GROUP BY node)"
        )
        sql.append(f"k{i} AS (SELECT node FROM d{i} WHERE deg >= {k})")
        sql.append(
            f"e{i + 1} AS MATERIALIZED (SELECT a, b FROM e{i} "
            f"WHERE a IN (SELECT node FROM k{i}) "
            f"AND b IN (SELECT node FROM k{i}))"
        )
    sql.append(
        f"converged AS (SELECT 1 AS ok WHERE "
        f"(SELECT count(*) FROM e{peels}) = (SELECT count(*) FROM e{peels - 1}))"
    )
    return (
        "WITH "
        + ",\n".join(sql)
        + f"""
        SELECT node, count(*) AS core_deg FROM
        (SELECT a AS node FROM e{peels} UNION ALL SELECT b FROM e{peels}),
        converged
        GROUP BY node"""
    )
