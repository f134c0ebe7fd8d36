"""Similarity search over embedding columns (array<float>).

Not present in the reference (its linking is exact-ID based); required by
the training-data-pipeline mandate. Two top-k families:

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The query side is small by construction, so Catalyst broadcast-joins it
  and the big side streams through one pass (no shuffle until the per-query
  top-k aggregate).
- ``lsh_bucketed_topk``: hash family — sign-bucket the space on the
  first ``sign_bits`` dimensions (a fixed, data-independent hyperplane
  family), then search only within the query's bucket. At 100 TB the
  bucket column becomes the table's partition key so a query prunes
  ~2^sign_bits of the data at the scan.

All arithmetic is float→double cast then sequential sum, with similarity
rounded to 4 dp and ties broken on id — deterministic and reproducible in
the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column, b: Column, decimals: int = 4) -> Column:
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), decimals)


def with_norm(df: DataFrame, vec_col: str, norm_col: str) -> DataFrame:
    """``df`` with ``vec_col`` cast to array<double> and its L2 norm added
    as ``norm_col``: the per-vector half of :func:`cosine_similarity`,
    done once per row before a pair join instead of twice per pair.
    Pairs then score with :func:`cosine_normed`."""
    return df.withColumn(
        vec_col, F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ).withColumn(norm_col, _norm(F.col(vec_col)))


def cosine_normed(
    va: Column, na: Column, vb: Column, nb: Column, decimals: int = 4
) -> Column:
    """:func:`cosine_similarity` over two :func:`with_norm` projections.
    The same double operations run in the same order, so the result is
    bit-identical to scoring the raw vectors."""
    return F.round(_dot(va, vb) / (na * nb), decimals)


def fanout(spark: SparkSession, df: DataFrame | None = None) -> int:
    """Partition width for compute-heavy stages over few-partition inputs.

    The session's default parallelism (scale-adaptive, not a constant),
    and never less than ``df``'s own partition count, so a wide input is
    not narrowed. Pass a scan or a checkpoint: counting the partitions of
    a plan with a shuffle would run that shuffle.

    Small tables arrive as ONE parquet split, and AQE sizes post-shuffle
    partitions by input bytes, so work that grows faster than the input
    (MinHash hashing per exploded shingle, quadratic pair joins) would
    run on one task whatever the cluster width. An explicit
    ``repartition(fanout(...), keys)`` is never coalesced by AQE.
    """
    width = spark.sparkContext.defaultParallelism
    if df is not None:
        width = max(width, df.rdd.getNumPartitions())
    return width


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact brute-force top-k by cosine: (q_id, c_id, sim, rank).

    ``queries`` is expected to be small (it is broadcast); the corpus is
    scanned once. Self-matches (same id) are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.join(F.broadcast(q), F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "sim", "rank")
    )


def sign_bucket(vec: Column, sign_bits: int = 4) -> Column:
    """Data-independent LSH bucket: concatenated sign bits of the first
    ``sign_bits`` components ('1' if > 0 else '0')."""
    return F.concat_ws(
        "",
        *[
            (F.element_at(vec, i + 1) > 0).cast("int").cast("string")
            for i in range(sign_bits)
        ],
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    sign_bits: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.

    Recall < 1 by design; the win is that the join key (bucket) prunes the
    corpus scan by ~2^sign_bits. Output schema matches ``cosine_topk``.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        sign_bucket(F.col(vec_col), sign_bits).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        sign_bucket(F.col(vec_col), sign_bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .where(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "sim", "rank")
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_id: str = "q_id",
    id_col: str = "c_id",
    decimals: int = 4,
) -> DataFrame:
    """Recall@k harness for any ANN tier: per query, the fraction of
    the EXACT top-k the approximate tier returned — the similarity-
    family sibling of the dedup blocking scorecard (the number that
    tunes ``sign_bits`` before a 10^12-row run).

    Both inputs are (query_id, id_col, ...) top-k frames (tiny:
    |queries| × k rows); the harness is one semi-join + two
    HashAggregates on that frame — corpus-size-independent, like the
    RRF fuser. Queries the approximate tier missed entirely still
    emit a row (recall 0.0).
    """
    ex = exact.select(query_id, id_col)
    hits = ex.join(
        approx.select(query_id, id_col), [query_id, id_col], "left_semi"
    )
    n_ex = ex.groupBy(query_id).agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hits.groupBy(query_id).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_ex.join(n_hit, query_id, "left")
        .select(
            query_id,
            "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact"), decimals
            ).alias("recall"),
        )
    )
