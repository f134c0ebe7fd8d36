"""Deterministic random-walk corpus export (DeepWalk/node2vec-p=q=1).

KG-embedding trainers consume random-walk node sequences as their
"sentences". The reference stops at TSV triple dumps
(build_benchmarks.py); this operator generates the walk corpus itself,
distributed and REPRODUCIBLE: the next hop from node ``u`` at step
``t`` of walk ``(start, w)`` is the out-neighbor whose dense rank
equals ``md5(start|w|t|u) % out_degree(u)`` — no RNG state, identical
output on every run and every engine that has md5 (the DuckDB oracle
unrolls the same arithmetic per step).

Shape at 100 TB edges: the neighbor table is ranked ONCE (one window
over src), then each of the ``length`` steps is two equi-joins —
frontier×degree on the node, then (node, rank)×ranked-edges — i.e.
``2·length`` shuffles total, no fan-out beyond one row per live walk,
no driver state. Dead ends (nodes with no out-edges) end their walk
early; with a symmetrized edge set every non-isolated node has
out-degree >= 1 so walks run to full length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dense_neighbor_ranks(e: DataFrame) -> DataFrame:
    """(_s, _d, _r): a deterministic dense rank 0..deg-1 per source.

    ONE window over ``_s`` ordered by ``_d``. A Window exchange is NOT
    split by AQE (OSS Spark AQE splits skewed join/agg partitions only),
    so a 10^8-degree hub is one straggler task — fine up to ~10^7-degree
    hubs (measured at 10^4, SCALE.md), and the form the DuckDB oracle
    mirrors.
    """
    return e.withColumn(
        "_r",
        F.row_number().over(Window.partitionBy("_s").orderBy("_d"))
        - F.lit(1),
    )


def random_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    num_walks: int = 2,
    length: int = 3,
) -> DataFrame:
    """Rows ``(start, walk_ix, step, node)`` for deterministic walks.

    ``edges`` must be distinct directed pairs. Every distinct source
    node starts ``num_walks`` walks; step 0 is the start node itself
    and steps 1..length follow the md5-derived neighbor choice.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).distinct()
    # ranked/deg are referenced once per step; materialize them so the
    # neighbor-rank window and degree aggregate run once, not ``length``
    # times (no cross-branch CSE in Catalyst). The toDF re-alias gives
    # each frame fresh attribute ids: both inherit e's ``_s`` otherwise,
    # and joining them into the same step plan is then ambiguous.
    ranked = (
        _dense_neighbor_ranks(e)
        .localCheckpoint(eager=False)
        .toDF("_s", "_d", "_r")
    )
    deg = (
        e.groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .localCheckpoint(eager=False)
        .toDF("_s", "_deg")
    )

    frontier = (
        e.select(F.col("_s").alias("start"))
        .distinct()
        .withColumn(
            "walk_ix", F.explode(F.sequence(F.lit(0), F.lit(num_walks - 1)))
        )
        .withColumn("node", F.col("start"))
    )
    out = frontier.withColumn("step", F.lit(0)).select(
        "start", "walk_ix", "step", "node"
    )

    for t in range(1, length + 1):
        key = F.concat_ws(
            "|",
            F.col("start"),
            F.col("walk_ix").cast("string"),
            F.lit(str(t)),
            F.col("node"),
        )
        h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
        frontier = (
            frontier.join(deg, frontier["node"] == deg["_s"])
            .withColumn("_pick", (h % F.col("_deg")).cast("int"))
            .join(
                ranked,
                (F.col("node") == ranked["_s"]) & (F.col("_pick") == ranked["_r"]),
            )
            .select("start", "walk_ix", F.col("_d").alias("node"))
            # step t's frontier is referenced by every later step AND by
            # the output union; without the checkpoint the join chain
            # re-evaluates from step 0 once per union branch — O(length²)
            # joins for O(length) useful work.
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(
            frontier.withColumn("step", F.lit(t)).select(
                "start", "walk_ix", "step", "node"
            )
        )
    return out


def walk_oracle_ctes(
    links_cte: str, num_walks: int = 2, length: int = 3
) -> str:
    """DuckDB twin: same walks via per-step unrolled CTEs.

    ``links_cte`` must end with a ``links(subj, pred, obj)`` relation;
    the edge set is the symmetrized distinct pair set, matching the
    Spark query's derivation.
    """
    steps = []
    prev = "w0"
    unions = ["SELECT start, walk_ix, step, node FROM w0"]
    for t in range(1, length + 1):
        cur = f"w{t}"
        steps.append(
            f"""{cur} AS (
      SELECT f.start, f.walk_ix, {t} AS step, r._d AS node
      FROM {prev} f
      JOIN deg d ON f.node = d._s
      JOIN ranked r ON r._s = f.node
       AND r._r = CAST(('0x' || substr(md5(f.start || '|' ||
                    CAST(f.walk_ix AS VARCHAR) || '|{t}|' || f.node),
                    1, 8))::BIGINT % d._deg AS INT))"""
        )
        unions.append(f"SELECT start, walk_ix, step, node FROM {cur}")
        prev = cur
    return f"""
    WITH {links_cte},
    e AS (SELECT DISTINCT subj AS _s, obj AS _d FROM links
          UNION SELECT obj, subj FROM links),
    ranked AS (SELECT _s, _d,
                      CAST(row_number() OVER (PARTITION BY _s ORDER BY _d) - 1
                           AS INT) AS _r
               FROM e),
    deg AS (SELECT _s, count(*) AS _deg FROM e GROUP BY _s),
    w0 AS (SELECT _s AS start, CAST(t.walk_ix AS INT) AS walk_ix,
                  0 AS step, _s AS node
           FROM (SELECT DISTINCT _s FROM e)
           CROSS JOIN (SELECT unnest(range({num_walks})) AS walk_ix) t),
    {','.join(steps)}
    {' UNION ALL '.join(unions)}
    """


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """(center, context, distance, n) skip-gram training pairs from a
    walk corpus — the word2vec-style consumption of :func:`random_walks`
    (walks are the "sentences", nodes the "words").

    Self-join on the walk identity with ``1 <= Δstep <= window``; both
    directions emitted (skip-gram context is symmetric), then one
    global (center, context, distance) count. At scale the join key
    (start, walk_ix) is high-cardinality and uniform (one group per
    walk, group size = walk length), so the self-join is a well-shaped
    shuffle — never quadratic in the graph.
    """
    a = walks.select(
        F.col("start"), F.col("walk_ix"),
        F.col("step").alias("_sa"), F.col("node").alias("center"),
    )
    b = walks.select(
        F.col("start"), F.col("walk_ix"),
        F.col("step").alias("_sb"), F.col("node").alias("context"),
    )
    d = F.col("_sb") - F.col("_sa")
    fwd = (
        a.join(b, ["start", "walk_ix"])
        .where((d >= 1) & (d <= window))
        .select("center", "context", d.alias("distance"))
    )
    both = fwd.unionByName(
        fwd.select(
            F.col("context").alias("center"),
            F.col("center").alias("context"),
            "distance",
        )
    )
    return both.groupBy("center", "context", "distance").agg(
        F.count(F.lit(1)).alias("n")
    )


def sample_neighbors(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    seed: str = "0",
) -> DataFrame:
    """GraphSAGE-style fan-out capping: at most ``k`` neighbors per
    node, chosen DETERMINISTICALLY — neighbors ranked by
    ``md5(seed|src|dst)`` and the top ``k`` kept. GNN minibatch
    pipelines need this exact cap (a 10^6-degree hub would otherwise
    dominate every batch); the md5 rank makes epochs reproducible and
    lets ``seed`` vary the sample between epochs without RNG state.

    One window shuffle on src. A Window exchange is one task per source
    node — AQE does NOT split it (it splits skewed join/agg partitions
    only) — so a pathological hub is a straggler task; fine to
    ~10^7-degree hubs.
    """
    h = F.md5(F.concat_ws("|", F.lit(seed), F.col(src), F.col(dst)))
    e = edges.select(src, dst).distinct()
    w = Window.partitionBy(src).orderBy(h.asc(), F.col(dst).asc())
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(src, dst)
    )


def node2vec_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    num_walks: int = 2,
    length: int = 3,
    p: float = 1.0,
    q: float = 1.0,
    cap_k: int | None = None,
) -> DataFrame:
    """Second-order (node2vec p/q) biased walks — the composed recipe
    SCALE.md points consumers at, shipped as an operator.

    Per-step cost is the reason this is SEPARATE from ``random_walks``:
    the bias weight of candidate ``x`` from node ``u`` with previous
    node ``t`` depends on whether ``x`` neighbors ``t``, so each step
    must (a) fan the frontier out to ALL of u's neighbors (deg(u) rows
    per walk, vs exactly 1 for the uniform walker) and (b) probe
    (t, x) edge membership — one extra equi-join per step. ``cap_k``
    bounds both: the walk runs over the ``sample_neighbors``-capped
    graph, making the per-step fan-out ≤ cap_k rows/walk and the probe
    set proportional. At 10^12 edges run it capped (GNN practice caps
    fan-out anyway); uncapped is exact node2vec but hub-quadratic.

    Determinism: step 1 is the uniform md5-rank pick of
    ``random_walks``; steps ≥ 2 pick by cumulative-weight inversion —
    weights 1/p (return to t), 1 (x neighbors t), 1/q (distance-2),
    threshold ``(md5(start|w|t|step|u) % 2^20)/2^20 × total``, first
    candidate (ordered by id) whose running sum exceeds it. No RNG
    state; reruns are byte-identical (pinned against a row-at-a-time
    Python twin in tests).
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).distinct()
    if cap_k is not None:
        e = sample_neighbors(e, cap_k, src="_s", dst="_d").select("_s", "_d")
    # e is referenced twice per step (candidate fan-out + adjacency
    # probe) plus by ranked/deg; materialize the distinct edge set once
    # so its shuffle does not re-run per reference (no cross-branch CSE).
    e = e.localCheckpoint(eager=False)
    ranked = _dense_neighbor_ranks(e)
    deg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_deg"))

    frontier = (
        e.select(F.col("_s").alias("start"))
        .distinct()
        .withColumn(
            "walk_ix", F.explode(F.sequence(F.lit(0), F.lit(num_walks - 1)))
        )
        .withColumn("node", F.col("start"))
    )
    out = frontier.withColumn("step", F.lit(0)).select(
        "start", "walk_ix", "step", "node"
    )
    if length < 1:
        return out

    # step 1: uniform (no previous node yet) — identical arithmetic to
    # random_walks so the two corpora share their first hop
    key1 = F.concat_ws(
        "|", F.col("start"), F.col("walk_ix").cast("string"), F.lit("1"),
        F.col("node"),
    )
    h1 = F.conv(F.substring(F.md5(key1), 1, 8), 16, 10).cast("long")
    frontier = (
        frontier.join(deg, frontier["node"] == deg["_s"])
        .withColumn("_pick", (h1 % F.col("_deg")).cast("int"))
        .join(
            ranked,
            (F.col("node") == ranked["_s"]) & (F.col("_pick") == ranked["_r"]),
        )
        .select(
            "start", "walk_ix",
            F.col("node").alias("prev"), F.col("_d").alias("node"),
        )
        # per-step frontier checkpoint: see random_walks — the union of
        # steps otherwise re-evaluates the whole chain per branch.
        .localCheckpoint(eager=False)
    )
    out = out.unionByName(
        frontier.withColumn("step", F.lit(1)).select(
            "start", "walk_ix", "step", "node"
        )
    )

    nbr = e  # (_s, _d): candidate expansion side
    probe = e.select(
        F.col("_s").alias("_pt"), F.col("_d").alias("_px"), F.lit(1).alias("_adj")
    )
    for t in range(2, length + 1):
        cands = (
            frontier.join(nbr, frontier["node"] == nbr["_s"])
            .select("start", "walk_ix", "prev", "node", F.col("_d").alias("cand"))
            # (prev, cand) adjacency probe — the one extra join/step
            .join(
                probe,
                (F.col("prev") == F.col("_pt")) & (F.col("cand") == F.col("_px")),
                "left",
            )
            .withColumn(
                "_w",
                F.when(F.col("cand") == F.col("prev"), F.lit(1.0 / p))
                .when(F.col("_adj").isNotNull(), F.lit(1.0))
                .otherwise(F.lit(1.0 / q)),
            )
        )
        grp = Window.partitionBy("start", "walk_ix")
        cum = (
            Window.partitionBy("start", "walk_ix")
            .orderBy("cand")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        keyt = F.concat_ws(
            "|", F.col("start"), F.col("walk_ix").cast("string"),
            F.lit(str(t)), F.col("node"), F.col("prev"),
        )
        u01 = (
            F.conv(F.substring(F.md5(keyt), 1, 8), 16, 10).cast("long")
            % F.lit(1 << 20)
        ).cast("double") / F.lit(float(1 << 20))
        picked = (
            cands.withColumn("_cum", F.sum("_w").over(cum))
            .withColumn("_tot", F.sum("_w").over(grp))
            .withColumn("_thr", u01 * F.col("_tot"))
            .where(
                (F.col("_cum") > F.col("_thr"))
                & (F.col("_cum") - F.col("_w") <= F.col("_thr"))
            )
        )
        frontier = picked.select(
            "start", "walk_ix",
            F.col("node").alias("prev"), F.col("cand").alias("node"),
        ).localCheckpoint(eager=False)
        out = out.unionByName(
            frontier.withColumn("step", F.lit(t)).select(
                "start", "walk_ix", "step", "node"
            )
        )
    return out


def node2vec_oracle_ctes(
    links_cte: str,
    num_walks: int = 2,
    length: int = 3,
    p: float = 2.0,
    q: float = 4.0,
) -> str:
    """DuckDB twin of :func:`node2vec_walks` (uncapped form): per-step
    unrolled CTEs doing the identical candidate expansion, adjacency
    probe, weight CASE, cumulative-sum inversion, and md5 threshold.
    Exact value parity requires ``1/p`` and ``1/q`` to be exactly
    representable doubles (powers of two) so float summation order
    cannot differ between engines — the registry query pins p=2, q=4.
    """
    inv_p, inv_q = 1.0 / p, 1.0 / q
    steps = []
    unions = [
        "SELECT start, walk_ix, 0 AS step, node FROM w0",
        "SELECT start, walk_ix, 1 AS step, node FROM f1",
    ]
    prev = "f1"
    for t in range(2, length + 1):
        cur = f"f{t}"
        steps.append(
            f"""c{t} AS (
      SELECT f.start, f.walk_ix, f.prev, f.node, n._d AS cand,
             CASE WHEN n._d = f.prev THEN {inv_p!r}
                  WHEN a._adj IS NOT NULL THEN 1.0
                  ELSE {inv_q!r} END AS w
      FROM {prev} f
      JOIN e n ON n._s = f.node
      LEFT JOIN (SELECT _s AS _pt, _d AS _px, 1 AS _adj FROM e) a
        ON a._pt = f.prev AND a._px = n._d),
    s{t} AS (
      SELECT *,
             sum(w) OVER (PARTITION BY start, walk_ix ORDER BY cand
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             (CAST(('0x' || substr(md5(start || '|' ||
                      CAST(walk_ix AS VARCHAR) || '|{t}|' || node || '|' ||
                      prev), 1, 8))::BIGINT % 1048576 AS DOUBLE)
              / 1048576.0)
             * sum(w) OVER (PARTITION BY start, walk_ix) AS thr
      FROM c{t}),
    {cur} AS (
      SELECT start, walk_ix, node AS prev, cand AS node
      FROM s{t} WHERE cum > thr AND cum - w <= thr)"""
        )
        unions.append(f"SELECT start, walk_ix, {t} AS step, node FROM {cur}")
        prev = cur
    step_sql = ",\n    " + ",\n    ".join(steps) if steps else ""
    return f"""
    WITH {links_cte},
    e AS (SELECT DISTINCT subj AS _s, obj AS _d FROM links
          UNION SELECT obj, subj FROM links),
    ranked AS (SELECT _s, _d,
                      CAST(row_number() OVER (PARTITION BY _s ORDER BY _d) - 1
                           AS INT) AS _r
               FROM e),
    deg AS (SELECT _s, count(*) AS _deg FROM e GROUP BY _s),
    w0 AS (SELECT _s AS start, CAST(t.walk_ix AS INT) AS walk_ix,
                  0 AS step, _s AS node
           FROM (SELECT DISTINCT _s FROM e)
           CROSS JOIN (SELECT unnest(range({num_walks})) AS walk_ix) t),
    f1 AS (
      SELECT f.start, f.walk_ix, f.node AS prev, r._d AS node
      FROM w0 f
      JOIN deg d ON f.node = d._s
      JOIN ranked r ON r._s = f.node
       AND r._r = CAST(('0x' || substr(md5(f.start || '|' ||
                    CAST(f.walk_ix AS VARCHAR) || '|1|' || f.node),
                    1, 8))::BIGINT % d._deg AS INT)){step_sql}
    {' UNION ALL '.join(unions)}
    """


def ego_network(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Edges of the ``hops``-hop ego network around a seed node set —
    the subgraph export behind GNN sampling, KG debugging, and
    entity-centric review. ``seeds`` must have a ``node`` column.

    Frontier expansion: ``hops`` semi-joins grow the reachable node
    set (each is one shuffle keyed on the node id; the seed side stays
    small until the neighborhood genuinely grows), then one final
    semi-join keeps edges with BOTH endpoints inside the ball (the
    induced subgraph, matching the standard ego-net definition).
    Returns distinct (src, dst, min_hop_src) rows where min_hop_src is
    the hop distance of the edge's source from the seed set.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).distinct()
    ball = seeds.select(F.col("node").alias("id"), F.lit(0).alias("hop"))
    for t in range(1, hops + 1):
        nxt = (
            e.join(ball.withColumnRenamed("id", "_s").drop("hop"), "_s")
            .select(F.col("_d").alias("id"))
            .distinct()
            .withColumn("hop", F.lit(t))
        )
        ball = (
            ball.unionByName(nxt)
            .groupBy("id")
            .agg(F.min("hop").alias("hop"))
        )
    return (
        e.join(
            ball.select(F.col("id").alias("_s"), F.col("hop").alias("min_hop_src")),
            "_s",
        )
        .join(ball.select(F.col("id").alias("_d")), "_d")
        .select(
            F.col("_s").alias(src), F.col("_d").alias(dst), "min_hop_src"
        )
    )
