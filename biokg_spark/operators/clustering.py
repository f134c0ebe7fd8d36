"""Deterministic distributed k-means over embedding columns.

Semantic organization of a training corpus: cluster document embeddings
to balance topics, stratify mixtures, pick semantic-dedup candidates,
or build IVF-style coarse quantizers (``operators/similarity.py`` fits
its quantizer by sampling; this is the full Lloyd's iteration as a
first-class operator).

Determinism contract — the usual k-means nondeterminism sources are
all removed so runs, partitionings, and ENGINES agree exactly:

* init: the first ``k`` points in id order (no RNG seed to disagree on);
* assignment: argmin of the squared L2 distance in fixed-point
  micro-units (``floor(d * 1e6 + 0.5)`` as LONG — the same float ops
  evaluate identically in every engine, unlike ``round()``, whose
  half-way semantics differ between engines), ties broken by lowest
  cluster id (a struct-min over (dist_u6, cluster));
* update: the QUANTIZED-INTEGER mean — each component is floored to
  integer micro-units (``floor(x * 1e6)`` as LONG) before summation,
  so the per-cluster sum is an exact integer that no addition order
  can perturb (float sums are order-dependent; long sums are not),
  then divided back out in two IEEE correctly-rounded double divisions.
  The ~1e-6 quantization bias is irrelevant to clustering quality and
  is the price of bit-identical centroids everywhere.

Scale shape: centroids are k x d doubles — the ONLY thing that ever
reaches the driver (one k*d-row aggregate collect per iteration, the
same bounded pattern as MLlib's KMeans). Assignment is a pure Column
expression against ONE centroid-matrix literal under ONE lambda over
its rows (no join, no shuffle), so the plan and the driver calls that
build it stay the same size at any k and d; the update is one
posexplode + one map-side-partial HashAggregate on (cluster, dim) —
k*d groups. Nothing is quadratic in points; iteration count bounds the
job count.

Reference: n/a — training-data-pipeline mandate (embedding clustering);
Lloyd's algorithm per MacQueen/Lloyd, quantized for engine parity.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_QUANT = 1_000_000.0
# argmin over (dist_u6, cluster) structs of the sequential double sum of
# squared differences, floor(d * quant + 0.5) as BIGINT
_ASSIGN_SQL = """array_min(transform(
    from_json('{matrix}', 'array<struct<cluster:int,v:array<double>>>'),
    c -> struct(
        floor(aggregate(zip_with(v, c.v, (a, b) -> (a - b) * (a - b)),
                        0D, (acc, x) -> acc + x) * {quant}D + 0.5D) AS dist_u6,
        c.cluster AS cluster)))"""
# (cluster, bucket) join keys per pair-stage task in semantic_dedup, so
# clusters of unequal size still hash out evenly over the tasks
_KEYS_PER_TASK = 4


def _assign(pts: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """Add each point's nearest centroid (``cluster``) and its fixed-point
    squared L2 distance (``dist_u6``); ties go to the lowest cluster id.

    The k x d centroids (cluster id -> vector) enter as ONE JSON string,
    which the optimizer folds into one ``array<struct<cluster, v>>``
    literal (JSON carries each double's shortest round-trip repr, so the
    values arrive exact), and one lambda runs over its rows: the plan is
    the same size at every k and d. The expression is one SQL string, so
    building it is one py4j call; ``F.lit`` of a list or numpy array
    makes one per element, and the Column form of the same lambdas about
    250."""
    matrix = json.dumps([{"cluster": ci, "v": c} for ci, c in cents.items()])
    best = F.expr(_ASSIGN_SQL.format(matrix=matrix, quant=_QUANT))
    return pts.withColumns({"cluster": best["cluster"], "dist_u6": best["dist_u6"]})


def kmeans_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iterations: int = 2,
) -> DataFrame:
    """Run ``iterations`` Lloyd's rounds; return the final assignment.

    Output: (id_col, cluster int, dist_u6 long) — the squared L2
    distance to the final centroid in fixed-point micro-units. A cluster
    emptied by an assignment round drops out of later rounds, and every
    surviving cluster keeps its id, as the oracle does; duplicate points
    among the first ``k`` ids empty one (both copies join the lowest id).
    Fewer than ``k`` points make as many clusters as there are points,
    as the oracle does; an empty input gives an empty frame. Every
    vector must have the init rows' dimension: ragged init rows raise.
    """
    pts, cents = _lloyd(emb, id_col, vec_col, k, iterations)
    out = _assign(pts, cents).select(id_col, "cluster", "dist_u6")
    pts.unpersist()
    return out


def _lloyd(
    emb: DataFrame, id_col: str, vec_col: str, k: int, iterations: int
) -> tuple[DataFrame, dict[int, list[float]]]:
    """Lloyd's rounds of :func:`kmeans_assign`: the cached ``(id_col, v)``
    points (``v`` the double-cast vector) and the final centroids by
    cluster id, emptied clusters dropped. The caller unpersists the
    points."""
    pts = emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).cache()
    cents = dict(enumerate(list(r.v) for r in pts.orderBy(id_col).limit(k).collect()))
    dims = sorted({len(c) for c in cents.values()})
    if len(dims) > 1:
        pts.unpersist()
        raise ValueError(
            f"k-means needs equal-dimension vectors in {vec_col!r}: the first"
            f" {len(cents)} rows by {id_col} have lengths {dims}"
        )
    for _ in range(iterations):
        assigned = _assign(pts, cents)
        upd = (
            assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(
                F.sum(F.floor(F.col("x") * F.lit(_QUANT)).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in upd:
            by_cluster.setdefault(r.cluster, {})[r.dim] = float(r.s) / r.n / _QUANT
        cents = {
            ci: [by_dim[d] for d in range(len(by_dim))]
            for ci, by_dim in by_cluster.items()
        }
    return pts, cents


def kmeans_oracle_ctes(
    k: int = 4,
    iterations: int = 2,
    source_sql: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[str, str]:
    """CTE body of the :func:`kmeans_assign` DuckDB twin, for composition.

    Returns ``(ctes, final)`` where ``ctes`` defines ``pts({id_col},
    v double[])`` plus the unrolled iterations, and ``final`` names the
    CTE holding the final ``({id_col}, cluster, dist_u6)`` assignment.
    :func:`kmeans_oracle_sql` wraps this; :func:`semantic_dedup`'s oracle
    composes it with the pair stage.
    """

    def assign(i: int, cent: str) -> str:
        return (
            f"d{i} AS (SELECT p.{id_col}, c.cluster,"
            f" CAST(floor(list_sum(list_transform(generate_series(1, len(p.v)),"
            f" j -> (p.v[j] - c.v[j]) * (p.v[j] - c.v[j])))"
            f" * 1000000.0 + 0.5) AS BIGINT) AS dist_u6"
            f" FROM pts p CROSS JOIN {cent} c),\n"
            f"a{i} AS (SELECT {id_col}, cluster, dist_u6 FROM"
            f" (SELECT *, row_number() OVER (PARTITION BY {id_col}"
            f" ORDER BY dist_u6, cluster) AS rn FROM d{i}) WHERE rn = 1)"
        )

    parts = [
        f"pts AS (SELECT {id_col},"
        f" list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS v"
        f" FROM {source_sql})",
        f"c0 AS (SELECT row_number() OVER (ORDER BY {id_col}) - 1 AS cluster, v"
        f" FROM (SELECT {id_col}, v FROM pts ORDER BY {id_col} LIMIT {k}))",
    ]
    for i in range(iterations):
        parts.append(assign(i, f"c{i}"))
        parts.append(
            f"u{i} AS (SELECT a.cluster, dd.dim,"
            f" sum(CAST(floor(p.v[dd.dim] * 1000000.0) AS BIGINT)) AS s,"
            f" count(*) AS n"
            f" FROM pts p JOIN a{i} a ON p.{id_col} = a.{id_col},"
            f" unnest(generate_series(1, len(p.v))) AS dd(dim)"
            f" GROUP BY a.cluster, dd.dim)"
        )
        parts.append(
            f"c{i + 1} AS (SELECT cluster,"
            f" list(CAST(s AS DOUBLE) / n / 1000000.0 ORDER BY dim) AS v"
            f" FROM u{i} GROUP BY cluster)"
        )
    parts.append(assign(iterations, f"c{iterations}"))
    return ",\n".join(parts), f"a{iterations}"


def kmeans_oracle_sql(
    k: int = 4,
    iterations: int = 2,
    source_sql: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Generate the unrolled DuckDB twin of :func:`kmeans_assign`.

    Per iteration: a cross join of points x k centroids (k rows — the
    oracle may do what the operator must not), the same fixed-point
    argmin row_number, and the same quantized-integer mean. The generated-SQL
    pattern of functions/cascade.py / operators/bpe.py.
    """
    ctes, final = kmeans_oracle_ctes(k, iterations, source_sql, id_col, vec_col)
    return f"WITH {ctes}\nSELECT {id_col}, cluster, dist_u6 FROM {final}"


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    iterations: int = 2,
    threshold: float = 0.999,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """SemDeDup: k-means blocking + within-cluster cosine near-dup drop.

    The semantic-deduplication stage of a web-scale curation pipeline
    (cf. Abbas et al. 2023, SemDeDup): cluster document embeddings with
    the deterministic :func:`kmeans_assign`, compare pairs only WITHIN a
    cluster, and for every pair with cosine ≥ ``threshold`` drop the
    endpoint CLOSER to its centroid (SemDeDup keeps the member farthest
    from the centroid — the most "representative of the cluster edge");
    dist ties drop the greater id, so the keep set is engine-exact.

    Output: one row per input point — (id_col, cluster, keep boolean);
    keep = the point lost no above-threshold pair.

    Scale shape: candidate generation is a self-equi-join on the cluster
    id — never a cross join — and SemDeDup's own contract bounds the
    quadratic term by scaling k with the corpus (k ≈ n/expected-cluster-
    size, constant cluster sizes at any corpus scale; the paper uses
    50k clusters for LAION). ``max_cluster_size`` is the degenerate-hot-
    cluster guard (the embedding_near_dup_pairs ``max_bucket_size``
    idiom): clusters above the cap skip the pair stage (their members
    all keep) rather than detonate the join. The k-means stage itself
    never touches the driver beyond k×d centroid rows per iteration.

    The pair stage: the final assignment is materialized once, holding
    each point's double vector, its L2 norm
    (:func:`similarity.with_norm`), cluster and dist_u6, so a candidate
    pair pays only the dot product. The cluster id alone has k values,
    too few to spread a quadratic stage, so each b-side point gets a
    hash bucket ``_g`` and the a side explodes over all buckets: the
    join key (cluster, _g) has k × n_buckets values, several per task,
    and every (x, y) pair still meets exactly once, via y's bucket.
    Both sides are hash-spread on that key to a pinned
    :func:`similarity.fanout` width. AQE would otherwise size the
    partitions by input bytes and pack the whole pair stage of a small
    input, whose work grows with the square of the cluster sizes, into
    one task.

    Reference: n/a — training-data-pipeline mandate (semantic dedup);
    cosine/rounding contract shared with operators/similarity.py so the
    DuckDB twin (queries.py::corpus_semantic_dedup) is value-exact.
    """
    from biokg_spark.operators.similarity import cosine_normed, fanout, with_norm
    from biokg_spark.operators.skew import drop_hot_keys

    pts, cents = _lloyd(emb, id_col, vec_col, k, iterations)
    assign = with_norm(_assign(pts, cents), "v", "_norm").localCheckpoint(
        eager=True
    )
    pts.unpersist()
    paired = drop_hot_keys(assign, ["cluster"], max_cluster_size)
    width = fanout(emb.sparkSession, assign)
    n_buckets = -(-_KEYS_PER_TASK * width // k)
    a = paired.select(
        "cluster",
        F.col(id_col).alias("_ida"),
        F.col("v").alias("_va"),
        F.col("_norm").alias("_na"),
        F.col("dist_u6").alias("_da"),
        F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))).alias("_g"),
    ).repartition(width, "cluster", "_g")
    b = paired.select(
        "cluster",
        F.col(id_col).alias("_idb"),
        F.col("v").alias("_vb"),
        F.col("_norm").alias("_nb"),
        F.col("dist_u6").alias("_db"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets)).cast("int").alias("_g"),
    ).repartition(width, "cluster", "_g")
    losers = (
        a.join(b, ["cluster", "_g"])
        .where(F.col("_ida") < F.col("_idb"))
        .where(
            cosine_normed(F.col("_va"), F.col("_na"), F.col("_vb"), F.col("_nb"))
            >= threshold
        )
        .select(
            F.when(F.col("_da") < F.col("_db"), F.col("_ida"))
            .when(F.col("_db") < F.col("_da"), F.col("_idb"))
            .otherwise(F.greatest("_ida", "_idb"))
            .alias(id_col)
        )
        .distinct()
        .withColumn("_lost", F.lit(True))
    )
    return assign.join(losers, id_col, "left").select(
        id_col,
        "cluster",
        F.coalesce(~F.col("_lost"), F.lit(True)).alias("keep"),
    )


def semantic_dedup_oracle_sql(
    k: int = 4,
    iterations: int = 2,
    source_sql: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.999,
) -> str:
    """DuckDB twin of :func:`semantic_dedup` (composes
    :func:`kmeans_oracle_ctes` with the within-cluster pair stage; same
    4-dp cosine contract as queries.py::_COS_SQL, over the kmeans CTEs'
    pre-cast double vectors)."""
    ctes, final = kmeans_oracle_ctes(k, iterations, source_sql, id_col, vec_col)
    return f"""WITH {ctes},
    pp AS (SELECT p.{id_col}, p.v, a.cluster, a.dist_u6
           FROM pts p JOIN {final} a USING ({id_col})),
    pr AS (SELECT x.{id_col} AS id_a, y.{id_col} AS id_b,
                  x.dist_u6 AS da, y.dist_u6 AS db,
                  round(
                    list_sum(list_transform(generate_series(1, len(x.v)),
                             i -> x.v[i] * y.v[i]))
                    / (sqrt(list_sum(list_transform(x.v, t -> t * t)))
                     * sqrt(list_sum(list_transform(y.v, t -> t * t)))),
                  4) AS sim
           FROM pp x JOIN pp y
             ON x.cluster = y.cluster AND x.{id_col} < y.{id_col}),
    losers AS (SELECT DISTINCT
                 CASE WHEN da < db THEN id_a
                      WHEN db < da THEN id_b
                      ELSE greatest(id_a, id_b) END AS {id_col}
               FROM pr WHERE sim >= {threshold})
    SELECT a.{id_col}, a.cluster, (l.{id_col} IS NULL) AS keep
    FROM {final} a LEFT JOIN losers l USING ({id_col})"""
