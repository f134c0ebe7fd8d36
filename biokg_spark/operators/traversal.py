"""Multi-source BFS distances over the emitted triple table.

Hop-distance from a seed set is the standard KG traversal primitive
behind "context within k hops of the query entities" (GraphRAG-style
retrieval), curriculum radius selection for GNN training, and
reachability audits of a constructed graph. The reference profiles its
compiled graph with flat counts only (summarize_benchmarks.py:6-26);
this is the traversal-shaped audit of the same artifact — ego_network
(operators/walks.py) gives one entity's bounded neighborhood, BFS gives
the corpus-wide distance field from a seed SET.

Algorithm: frontier-expansion BFS. Round h joins the current frontier
against the edge list (an equi-join on the node id), anti-joins the
already-visited set, and labels the survivors dist=h. BFS visits every
node first at its minimum distance, so no min-aggregate is needed —
the anti-join IS the min. The loops run on the two iteration kernels
of operators/components.py: the BFS family and betweenness' forward
pass on :func:`expand` (frontier expansion), weighted distances on
:func:`relax` (min relaxation). The kernels checkpoint every round
and answer convergence with one ``count()`` per round. Termination:
the frontier empties or ``max_hops`` is reached.

Scale shape (100 TB): each round is ONE shuffle of the frontier against
the edge list partitioned by src — with the edge table bucketed by src
the probe co-locates and the shuffle moves only the frontier, which is
bounded by the node set, not the corpus. The visited set grows
monotonically but never exceeds |V|; the anti-join against it
broadcasts while small and shuffles on id once it is not. A hub on the
frontier fans out to its full adjacency exactly once (first visit),
so power-law degree costs one round's explode, never a per-round one.

Determinism: distances are unique (min over hop counts), so output is
engine-exact with a recursive-CTE oracle — no tie-breaking anywhere.

Reference: n/a for the traversal itself — graph-analytics mandate over
the constructed KG (links file form: compile_biokg.py:139-169).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biokg_spark.operators.components import expand, relax


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """Hop distance from ANY seed to every node within ``max_hops``.

    ``edges``: directed edge list (symmetrize before calling for
    undirected semantics). ``seeds``: one-column DataFrame of start
    nodes (``id_col``). Returns (id, dist) with dist = the minimum
    number of hops from the nearest seed, 0 for the seeds themselves;
    nodes farther than ``max_hops`` (or unreachable) are absent.
    """
    assert max_hops >= 0
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    dist = (
        seeds.select(F.col(id_col).alias("id"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=False)
    )

    def step(frontier: DataFrame, h: int) -> DataFrame:
        return (
            frontier.join(e, frontier["id"] == e["_s"])
            .select(F.col("_d").alias("id"), F.lit(h).alias("dist"))
            .distinct()
        )

    return expand(dist, ["id"], step, max_hops)


def bfs_oracle_sql(
    edges_cte: str,
    seeds_cte: str,
    max_hops: int = 4,
) -> str:
    """Recursive-CTE twin of :func:`bfs_distances`.

    ``edges_cte`` must define ``e(src, dst)`` and ``seeds_cte`` must
    define ``seeds(id)``; the caller supplies both inside one WITH
    chain. The recursive UNION deduplicates full (id, dist) rows, so
    the recursion is bounded by max_hops even on cyclic graphs; the
    final min-aggregate collapses a node reached at several depths to
    its first (= minimum) one, exactly BFS's first-visit contract.
    Integer-only arithmetic — the comparison is engine-exact.
    """
    return f"""WITH RECURSIVE {edges_cte},
    {seeds_cte},
    bfs (id, dist) AS (
      SELECT id, 0 FROM seeds
      UNION
      SELECT e.dst, b.dist + 1
      FROM bfs b JOIN e ON b.id = e.src
      WHERE b.dist < {max_hops}
    )
    SELECT id AS entity_id, CAST(min(dist) AS INT) AS dist
    FROM bfs GROUP BY id"""


def bfs_distances_per_seed(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """Per-seed hop distances: (seed, id, dist) for every seed→node
    pair within ``max_hops``.

    The same frontier-expansion/anti-join algorithm as
    :func:`bfs_distances` with the state keyed on (seed, node) instead
    of node — the fields from different seeds expand in the SAME
    per-round join (one shuffle per round for ALL seeds, not one BFS
    per seed), which is what makes a sampled-seed centrality estimate
    affordable: |seeds| is a sample-size knob, not a job multiplier.
    State size is bounded by |seeds| × |V|.
    """
    assert max_hops >= 0
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    dist = (
        seeds.select(F.col(id_col).alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("id"), F.lit(0).alias("dist"))
        .localCheckpoint(eager=False)
    )

    def step(frontier: DataFrame, h: int) -> DataFrame:
        return (
            frontier.join(e, frontier["id"] == e["_s"])
            .select("seed", F.col("_d").alias("id"), F.lit(h).alias("dist"))
            .distinct()
        )

    return expand(dist, ["seed", "id"], step, max_hops)


def harmonic_centrality_sampled(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    decimals: int = 4,
) -> DataFrame:
    """Sampled harmonic centrality: h(v) = Σ_{s ∈ seeds, d(s,v) > 0}
    1 / d(s,v), distances truncated at ``max_hops``.

    Exact harmonic centrality needs all-pairs distances — quadratic and
    off the table at any scale; the standard estimator (Boldi & Vigna
    2014, "Axioms for centrality"; Eppstein–Wang sampling) sums over a
    seed SAMPLE and scales by |V|/|seeds| — the scaling is a constant,
    so this returns the raw truncated sum, the engine-exact quantity
    the oracle can reproduce (no float scaling to disagree on beyond
    the final rounding). Nodes no sampled seed reaches in ``max_hops``
    are absent; a seed contributes nothing to itself (d = 0).

    One frontier-expansion pass for all seeds
    (:func:`bfs_distances_per_seed`) + ONE partial+final HashAggregate
    on the node id.

    Reference: n/a — graph-analytics mandate over the constructed KG
    (the centrality family next to pagerank/HITS/k-core/clustering).
    """
    d = bfs_distances_per_seed(edges, seeds, max_hops, src, dst, id_col)
    return (
        d.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.round(F.sum(F.lit(1.0) / F.col("dist")), decimals).alias("harmonic"),
            F.count(F.lit(1)).alias("n_seeds_reaching"),
        )
    )


def harmonic_oracle_sql(
    edges_cte: str,
    seeds_cte: str,
    max_hops: int = 4,
    decimals: int = 4,
) -> str:
    """Recursive-CTE twin of :func:`harmonic_centrality_sampled` —
    the :func:`bfs_oracle_sql` recursion keyed on (seed, id), then the
    same 1/dist sum. Emits (entity_id, harmonic, n_seeds_reaching)."""
    return f"""WITH RECURSIVE {edges_cte},
    {seeds_cte},
    bfs (seed, id, dist) AS (
      SELECT id, id, 0 FROM seeds
      UNION
      SELECT b.seed, e.dst, b.dist + 1
      FROM bfs b JOIN e ON b.id = e.src
      WHERE b.dist < {max_hops}
    ),
    md AS (SELECT seed, id, min(dist) AS dist FROM bfs GROUP BY seed, id)
    SELECT id AS entity_id,
           round(sum(1.0 / dist), {decimals}) AS harmonic,
           count(*) AS n_seeds_reaching
    FROM md WHERE dist > 0 GROUP BY id"""


def betweenness_sampled(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    decimals: int = 4,
) -> DataFrame:
    """Sampled, distance-bounded betweenness centrality (Brandes).

    The dependency-accumulation algorithm (Brandes 2001) restricted to
    a seed SAMPLE of sources (Brandes & Pich 2007 — exact betweenness
    is all-pairs, quadratic, off the table) and to shortest paths of
    length ≤ ``max_hops`` (bounded-distance betweenness — the same
    truncation the harmonic estimator uses). Returns the raw
    dependency sum δ(v) = Σ_{s ∈ seeds} Σ_{t} σ_st(v)/σ_st — the
    estimator's |V|/|seeds| scaling is a constant the consumer applies.
    Directed semantics (pass a symmetrized edge list for undirected;
    each unordered pair then counts twice, consistently in both
    engines).

    Forward pass: the (seed, node)-keyed frontier expansion of
    :func:`bfs_distances_per_seed` with one extra aggregate — σ(s,v)
    arrives as the SUM of predecessor σ over the same equi-join (BFS
    visits v exactly at its min distance, so the partial sums are
    complete when v first enters the state; no min-aggregate needed).
    Backward pass: level-synchronous dependency accumulation — level L
    nodes receive δ from level L+1 via ONE join of the shortest-path
    DAG slice against the previous level's δ plus ONE HashAggregate,
    ``max_hops`` rounds total for ALL seeds together. Everything is
    keyed (seed, node): |seeds| scales state, never job count. The
    backward rounds localCheckpoint each level's δ.
    """
    assert max_hops >= 1
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    state = (
        seeds.select(F.col(id_col).alias("seed"))
        .distinct()
        .select(
            "seed",
            F.col("seed").alias("id"),
            F.lit(0).alias("dist"),
            F.lit(1).cast("long").alias("sigma"),
        )
        .localCheckpoint(eager=False)
    )

    def step(frontier: DataFrame, h: int) -> DataFrame:
        return (
            frontier.join(e, frontier["id"] == e["_s"])
            .groupBy("seed", F.col("_d").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
            .select("seed", "id", F.lit(h).alias("dist"), "sigma")
        )

    state = expand(state, ["seed", "id"], step, max_hops)
    # shortest-path DAG slice: edge (v, w) is on a shortest path for
    # `seed` iff dist_w = dist_v + 1 (both reached)
    dv = state.select(
        F.col("seed"),
        F.col("id").alias("_v"),
        F.col("dist").alias("_dv"),
        F.col("sigma").alias("_sv"),
    )
    dw = state.select(
        F.col("seed"),
        F.col("id").alias("_w"),
        F.col("dist").alias("_dw"),
        F.col("sigma").alias("_sw"),
    )
    dag = (
        e.join(dv, e["_s"] == dv["_v"])
        .join(
            dw,
            (dv["seed"] == dw["seed"])
            & (e["_d"] == dw["_w"])
            & (dw["_dw"] == dv["_dv"] + 1),
        )
        .select(dv["seed"], "_v", "_dv", "_sv", "_w", "_dw", "_sw")
        .localCheckpoint(eager=False)
    )
    # backward: δ at the deepest level is 0; walk levels down
    spark_zero = F.lit(0.0)
    delta_prev = None  # δ of level L+1 nodes: (seed, id, delta)
    acc = None  # all (seed, v, delta) for dist_v >= 1
    for lev in range(max_hops - 1, -1, -1):
        slice_l = dag.where(F.col("_dv") == lev)
        if delta_prev is not None:
            slice_l = slice_l.join(
                delta_prev.select(
                    "seed", F.col("id").alias("_w"), F.col("delta").alias("_dl")
                ),
                ["seed", "_w"],
                "left",
            )
        else:
            slice_l = slice_l.withColumn("_dl", spark_zero)
        dlev = (
            slice_l.groupBy("seed", F.col("_v").alias("id"))
            .agg(
                F.sum(
                    (F.col("_sv") / F.col("_sw"))
                    * (F.lit(1.0) + F.coalesce(F.col("_dl"), spark_zero))
                ).alias("delta")
            )
            .localCheckpoint(eager=False)
        )
        delta_prev = dlev
        if lev >= 1:  # level-0 nodes are the seeds themselves — excluded
            acc = dlev if acc is None else acc.union(dlev)
    if acc is None:
        return state.sparkSession.createDataFrame(
            [], f"{id_col} string, betweenness double, n_seeds long"
        )
    return (
        acc.groupBy(F.col("id").alias(id_col))
        .agg(
            F.round(F.sum("delta"), decimals).alias("betweenness"),
            F.countDistinct("seed").alias("n_seeds"),
        )
    )


def betweenness_oracle_sql(
    edges_cte: str,
    seeds_cte: str,
    max_hops: int = 4,
    decimals: int = 4,
) -> str:
    """Unrolled DuckDB twin of :func:`betweenness_sampled`.

    Forward σ via walk enumeration: a UNION ALL recursion emits one row
    per walk of length ≤ max_hops; σ(s,v) = count of walks whose length
    equals the min (shortest walks are exactly the shortest paths).
    Backward δ as one chained CTE per level, deepest first — the same
    level-synchronous accumulation the Spark side runs.

    ``max_hops`` must be ≥ 2: at 1 there are no interior vertices, so
    the level-CTE block and the final UNION ALL would be empty and the
    template would emit invalid SQL (dangling comma) — assert rather
    than generate garbage (ADVICE r5).
    """
    assert max_hops >= 2, "betweenness_oracle_sql needs max_hops >= 2"
    lvl_ctes = []
    prev = None
    for lev in range(max_hops - 1, 0, -1):
        join_prev = (
            f"LEFT JOIN {prev} dp ON dp.seed = dag.seed AND dp.id = dag.w"
            if prev
            else "LEFT JOIN (SELECT NULL AS seed, NULL AS id, NULL AS delta) dp ON FALSE"
        )
        lvl_ctes.append(
            f"""d{lev} AS (
      SELECT dag.seed, dag.v AS id,
             sum((dag.sv * 1.0 / dag.sw) * (1 + coalesce(dp.delta, 0))) AS delta
      FROM dag {join_prev}
      WHERE dag.dv = {lev}
      GROUP BY dag.seed, dag.v)"""
        )
        prev = f"d{lev}"
    union = " UNION ALL ".join(
        f"SELECT seed, id, delta FROM d{lev}" for lev in range(max_hops - 1, 0, -1)
    )
    lvl_block = ",\n    ".join(lvl_ctes)
    return f"""WITH RECURSIVE {edges_cte},
    {seeds_cte},
    walks (seed, id, len) AS (
      SELECT id, id, 0 FROM seeds
      UNION ALL
      SELECT w.seed, e.dst, w.len + 1
      FROM walks w JOIN e ON w.id = e.src
      WHERE w.len < {max_hops}
    ),
    md AS (SELECT seed, id, min(len) AS dist FROM walks GROUP BY seed, id),
    sig AS (
      SELECT w.seed, w.id, m.dist, count(*) AS sigma
      FROM walks w JOIN md m ON w.seed = m.seed AND w.id = m.id AND w.len = m.dist
      GROUP BY w.seed, w.id, m.dist),
    dag AS (
      SELECT sv.seed, sv.id AS v, sv.dist AS dv, sv.sigma AS sv,
             sw.id AS w, sw.sigma AS sw
      FROM e JOIN sig sv ON e.src = sv.id
             JOIN sig sw ON sw.seed = sv.seed AND e.dst = sw.id
                        AND sw.dist = sv.dist + 1),
    {lvl_block},
    alld AS ({union})
    SELECT id AS entity_id, round(sum(delta), {decimals}) AS betweenness,
           count(DISTINCT seed) AS n_seeds
    FROM alld GROUP BY id"""


def weighted_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    id_col: str = "id",
    decimals: int = 4,
) -> DataFrame:
    """Bounded multi-source Bellman-Ford: min-cost distance from the
    seed SET over non-negative edge weights, restricted to paths of at
    most ``max_rounds`` edges.

    The weighted sibling of :func:`bfs_distances` (hop counts assume
    unit cost; edge support/affinity weights don't). Classic
    distributed relaxation: each round joins the current distance
    field against the edge list, takes the per-node MIN of (dist +
    weight) against the standing field, and stops early when no node
    improves. The hop bound makes the result well-defined as "min cost
    over ≤ k-edge paths" — the same truncation contract as
    harmonic/betweenness, and what gives the walk-enumeration oracle a
    finite twin.

    Scale shape: one equi-join (field × edges, shuffled on the node
    id — co-located when the edge table is bucketed by src) + one
    partial+final HashAggregate per round; the field never exceeds
    |V|. The rounds are :func:`relax` with ``min``; reaching the hop
    bound is the contract, not an error. Negative weights are rejected:
    with a hop bound the algorithm would still terminate, but
    "shortest" loses its meaning on negative cycles and the oracle's
    walk min diverges.
    """
    assert max_rounds >= 0
    e = edges.select(
        F.col(src).alias("_s"),
        F.col(dst).alias("_d"),
        F.col(weight).cast("double").alias("_w"),
    )
    if not e.where(F.col("_w") < 0).isEmpty():
        raise ValueError("weighted_distances requires non-negative weights")
    seeds = seeds.select(F.col(id_col).alias("id"), F.lit(0.0).alias("dist"))
    dist = relax(
        seeds.distinct(), e, "id", "dist", F.col("dist") + F.col("_w"), F.min,
        max_rounds,
    )[0]
    return dist.select(
        F.col("id").alias(id_col), F.round("dist", decimals).alias("dist")
    )


def weighted_distances_oracle_sql(
    edges_cte: str,
    seeds_cte: str,
    max_rounds: int = 4,
    decimals: int = 4,
) -> str:
    """Walk-enumeration DuckDB twin of :func:`weighted_distances`:
    a UNION ALL recursion carries the accumulated cost per walk of
    ≤ max_rounds edges; the field is the per-node min. ``edges_cte``
    must define e(src, dst, weight)."""
    return f"""WITH RECURSIVE {edges_cte},
    {seeds_cte},
    walks (id, cost, len) AS (
      SELECT id, CAST(0 AS DOUBLE), 0 FROM seeds
      UNION ALL
      SELECT e.dst, w.cost + e.weight, w.len + 1
      FROM walks w JOIN e ON w.id = e.src
      WHERE w.len < {max_rounds}
    )
    SELECT id AS entity_id, round(min(cost), {decimals}) AS dist
    FROM walks GROUP BY id"""
