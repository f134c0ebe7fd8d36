"""PageRank centrality over the emitted triple table (power iteration).

The reference profiles its compiled graph only with flat counts
(summarize_benchmarks.py:6-26); consumers ranking entities (which hub
proteins to inspect, which drugs dominate the evidence) need a
centrality score. This is the standard fixed-iteration power method:

    rank_{t+1}(v) = (1-d)/N + d * Σ_{u→v} rank_t(u) / out_deg(u)

Deterministic (fixed iteration count, no convergence test with
float-order sensitivity), so it is exactly reproducible in any engine —
the registry oracles it against DuckDB by unrolling the iterations as
chained CTEs.

Scale shape (100 TB): per iteration ONE shuffle join (ranks × edges on
src) and ONE partial+final aggregate on dst. The edge table (with
degree attached) is computed once and persisted; ranks are
localCheckpointed every few iterations so the lineage does not grow
linearly with iterations (the fixed-iteration counterpart of the
``relax``/``expand`` kernels in operators/components.py). Node count N
is a single driver-side scalar (one count aggregate), not a collect of
data. Dangling mass is NOT redistributed (simplified variant; for
symmetrized/undirected input every node has out-degree ≥ 1, so nothing
dangles) — documented so the oracle matches term for term.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 3,
) -> DataFrame:
    """Ranks for every node of ``edges`` (directed src→dst rows;
    symmetrize before calling for undirected semantics). Returns
    (id, rank) with exact float64 ranks — round at the consumer."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # lazy local checkpoints (eager=False): the logical plan is truncated
    # at once, but materialization folds into the next real job — the
    # fixed-iteration loop has no driver-side decisions, so the whole run
    # collapses into the n-count job plus ONE final job whose stages
    # compute each checkpointed RDD exactly once (RDD-level cache
    # sharing), instead of one eager job per checkpoint.
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # one persisted (src, dst, deg) table reused every iteration
    ed = e.join(deg, "src").localCheckpoint(eager=False)
    base = (1.0 - damping) / n
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for i in range(iters):
        sums = (
            ed.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("s"))
            .withColumnRenamed("dst", "id")
        )
        ranks = nodes.join(sums, "id", "left").select(
            "id",
            (
                F.lit(base) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def pagerank_oracle_ctes(
    links_cte: str, damping: float = 0.85, iters: int = 10
) -> str:
    """ANSI-SQL twin of :func:`pagerank` over a symmetrized links CTE:
    the fixed iteration count unrolls as chained CTEs r0..r{iters}, each
    one join + one aggregate — term-for-term the Spark recurrence, so
    the value hash matches at 4 dp."""
    d, sql = damping, [links_cte]
    sql.append(
        "e AS (SELECT subj AS src, obj AS dst FROM links "
        "UNION ALL SELECT obj, subj FROM links)"
    )
    sql.append("nodes AS (SELECT DISTINCT src AS id FROM e)")
    sql.append("deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)")
    sql.append("nn AS (SELECT count(*) AS n FROM nodes)")
    sql.append("r0 AS (SELECT id, 1.0/(SELECT n FROM nn) AS rank FROM nodes)")
    for i in range(1, iters + 1):
        sql.append(
            f"r{i} AS (SELECT nodes.id, "
            f"{1.0 - d}/(SELECT n FROM nn) + {d}*coalesce(c.s, 0) AS rank "
            f"FROM nodes LEFT JOIN ("
            f"SELECT e.dst AS id, sum(r{i - 1}.rank/deg.deg) AS s "
            f"FROM e JOIN r{i - 1} ON e.src = r{i - 1}.id "
            f"JOIN deg ON e.src = deg.src GROUP BY e.dst) c "
            f"ON nodes.id = c.id)"
        )
    return (
        "WITH "
        + ",\n".join(sql)
        + f"\nSELECT id AS entity_id, round(rank, 4) AS rank FROM r{iters}"
    )


def hits(
    edges: DataFrame,
    iters: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs/authorities over the DIRECTED edge set (subj→obj keeps
    the orientation the link vocabulary assigns, unlike the symmetrized
    pagerank run where hub ≡ authority). Fixed iteration count with L2
    normalization each half-step — deterministic, so the registry
    oracles it by unrolling the iterations as chained CTEs (see
    :func:`hits_oracle_ctes`).

    Returns (id, hub, auth) for every node, exact float64 — round at
    the consumer. Scale shape: per iteration TWO shuffle joins
    (scores × edges) + partial aggregates; the norm is a single-row
    aggregate broadcast back via crossJoin (never a driver collect).

    Checkpoint placement (measured): the RAW half-step frame is
    localCheckpointed BEFORE normalization, and the normalized scores
    stay a lazy projection over that checkpoint. The norm crossJoin
    references its input twice (the 1-row aggregate + the projection),
    so checkpointing after normalization — the previous layout — still
    re-evaluated each raw subtree twice per half-step and the next
    half-step's join a third time; raw-first placement evaluates every
    subtree exactly once (kg_hits 9.5 → 6.2 s at sf0.1, min-of-3,
    jointly with the lazy-checkpoint materialization below).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    # lazy checkpoints (see pagerank): fixed iteration count, no driver
    # decisions — all 8 iterations execute inside ONE job, each
    # half-step's RDD computed once and cache-shared between its norm
    # aggregate and the next half-step's join
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e = e.localCheckpoint(eager=False)

    def _normalize(raw: DataFrame, col: str) -> DataFrame:
        norm = raw.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_n")
        )
        return raw.crossJoin(norm).select(
            "id", (F.col(col) / F.col("_n")).alias(col)
        )

    h = nodes.withColumn("hub", F.lit(1.0))
    a = None
    for i in range(iters):
        a_raw = (
            nodes.join(
                e.join(h.withColumnRenamed("id", "src"), "src")
                .groupBy("dst")
                .agg(F.sum("hub").alias("auth"))
                .withColumnRenamed("dst", "id"),
                "id",
                "left",
            )
            .select("id", F.coalesce("auth", F.lit(0.0)).alias("auth"))
            .localCheckpoint(eager=False)
        )
        a = _normalize(a_raw, "auth")
        h_raw = (
            nodes.join(
                e.join(a.withColumnRenamed("id", "dst"), "dst")
                .groupBy("src")
                .agg(F.sum("auth").alias("hub"))
                .withColumnRenamed("src", "id"),
                "id",
                "left",
            )
            .select("id", F.coalesce("hub", F.lit(0.0)).alias("hub"))
            .localCheckpoint(eager=False)
        )
        h = _normalize(h_raw, "hub")
    return nodes.join(h, "id", "left").join(a, "id", "left").select(
        "id",
        F.coalesce("hub", F.lit(0.0)).alias("hub"),
        F.coalesce("auth", F.lit(0.0)).alias("auth"),
    )


def hits_oracle_ctes(links_cte: str, iters: int = 8) -> str:
    """ANSI-SQL twin of :func:`hits` over a ``links`` CTE of
    (subj, pred, obj): iterations unroll as chained MATERIALIZED CTEs
    (each score set is referenced more than once — default inlining
    would re-expand the chain exponentially, the DuckDB twin of the
    Catalyst re-inlining hazard)."""
    sql = [links_cte]
    sql.append("e AS MATERIALIZED (SELECT DISTINCT subj AS src, obj AS dst FROM links)")
    sql.append(
        "nodes AS MATERIALIZED (SELECT src AS id FROM e "
        "UNION SELECT dst FROM e)"
    )
    sql.append("h0 AS MATERIALIZED (SELECT id, 1.0 AS hub FROM nodes)")
    for i in range(1, iters + 1):
        sql.append(
            f"a{i}r AS MATERIALIZED (SELECT nodes.id, "
            f"coalesce(s.v, 0) AS auth FROM nodes LEFT JOIN "
            f"(SELECT e.dst AS id, sum(h{i - 1}.hub) AS v FROM e "
            f"JOIN h{i - 1} ON e.src = h{i - 1}.id GROUP BY e.dst) s "
            f"ON nodes.id = s.id)"
        )
        sql.append(
            f"a{i} AS MATERIALIZED (SELECT id, auth / "
            f"(SELECT sqrt(sum(auth * auth)) FROM a{i}r) AS auth FROM a{i}r)"
        )
        sql.append(
            f"h{i}r AS MATERIALIZED (SELECT nodes.id, "
            f"coalesce(s.v, 0) AS hub FROM nodes LEFT JOIN "
            f"(SELECT e.src AS id, sum(a{i}.auth) AS v FROM e "
            f"JOIN a{i} ON e.dst = a{i}.id GROUP BY e.src) s "
            f"ON nodes.id = s.id)"
        )
        sql.append(
            f"h{i} AS MATERIALIZED (SELECT id, hub / "
            f"(SELECT sqrt(sum(hub * hub)) FROM h{i}r) AS hub FROM h{i}r)"
        )
    return (
        "WITH "
        + ",\n".join(sql)
        + f"""
        SELECT nodes.id AS entity_id,
               round(coalesce(h{iters}.hub, 0), 4) AS hub,
               round(coalesce(a{iters}.auth, 0), 4) AS auth
        FROM nodes
        LEFT JOIN h{iters} ON nodes.id = h{iters}.id
        LEFT JOIN a{iters} ON nodes.id = a{iters}.id"""
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    checkpoint_every: int = 3,
) -> DataFrame:
    """Personalized PageRank: restart mass concentrated on ``seeds``.

    rank_{t+1}(v) = (1-d)*p(v) + d * Σ_{u→v} rank_t(u)/out_deg(u),
    p(v) = 1/|S| for seed nodes, 0 otherwise; rank_0 = p. The relevance
    field "how much does a random walk restarting at the query entities
    visit v" — the GraphRAG retrieval-ranking primitive (BFS distances,
    operators/traversal.py, give the HOP field; PPR gives the soft,
    multiplicity-weighted one). Same fixed-iteration determinism and
    the same per-iteration shape as :func:`pagerank` (ONE shuffle join
    ranks × edges on src, ONE partial+final aggregate on dst, ranks
    localCheckpointed every few iterations); the seed indicator is
    computed once via a broadcast-sized left semi structure (seeds are
    a query, not the corpus). Nodes the walk cannot reach keep rank 0
    and ARE emitted (the oracle must see the full node universe).

    Reference: n/a — graph-analytics mandate over the constructed KG;
    cf. Page et al. 1999 §6 personalized vectors.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # lazy checkpoints (see pagerank): only the seed count reaches the
    # driver; everything else folds into the final job
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    s = seeds.select(F.col(id_col).alias("id")).distinct()
    n_seeds = s.count()
    p = nodes.join(F.broadcast(s.withColumn("_p", F.lit(1.0 / n_seeds))),
                   "id", "left").select(
        "id", F.coalesce(F.col("_p"), F.lit(0.0)).alias("p")
    ).localCheckpoint(eager=False)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "src").localCheckpoint(eager=False)
    ranks = p.select("id", F.col("p").alias("rank"))
    for i in range(iters):
        sums = (
            ed.join(ranks.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("s"))
            .withColumnRenamed("dst", "id")
        )
        ranks = p.join(sums, "id", "left").select(
            "id",
            "p",
            (
                (1.0 - damping) * F.col("p")
                + damping * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("id", "rank")


def ppr_oracle_ctes(
    edges_cte: str, seeds_cte: str, damping: float = 0.85, iters: int = 10
) -> str:
    """ANSI-SQL twin of :func:`personalized_pagerank`. ``edges_cte``
    must define ``e(src, dst)`` (pre-symmetrized if undirected) and
    ``seeds_cte`` must define ``seeds(id)``; iterations unroll as
    chained CTEs r0..r{iters}. Emits (entity_id, rank) at 6 dp."""
    d, sql = damping, [edges_cte, seeds_cte]
    sql.append("nodes AS (SELECT DISTINCT src AS id FROM e "
               "UNION SELECT DISTINCT dst FROM e)")
    sql.append("ns AS (SELECT count(*) AS n FROM (SELECT DISTINCT id FROM seeds))")
    sql.append(
        "p AS (SELECT nodes.id, CASE WHEN seeds.id IS NOT NULL "
        "THEN 1.0/(SELECT n FROM ns) ELSE 0.0 END AS p "
        "FROM nodes LEFT JOIN (SELECT DISTINCT id FROM seeds) seeds "
        "ON nodes.id = seeds.id)"
    )
    sql.append("deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)")
    sql.append("r0 AS (SELECT id, p AS rank FROM p)")
    for i in range(1, iters + 1):
        sql.append(
            f"r{i} AS (SELECT p.id, "
            f"{1.0 - d}*p.p + {d}*coalesce(c.s, 0) AS rank "
            f"FROM p LEFT JOIN ("
            f"SELECT e.dst AS id, sum(r{i - 1}.rank/deg.deg) AS s "
            f"FROM e JOIN r{i - 1} ON e.src = r{i - 1}.id "
            f"JOIN deg ON e.src = deg.src GROUP BY e.dst) c "
            f"ON p.id = c.id)"
        )
    return (
        "WITH "
        + ",\n".join(sql)
        + f"\nSELECT id AS entity_id, round(rank, 6) AS rank FROM r{iters}"
    )
