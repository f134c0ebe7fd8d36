"""Data-mixture upsampling: temperature-style source reweighting.

A pretraining corpus is rarely trained at its natural source
proportions: small, high-quality sources (reference text, books, code
docs) are repeated for several epochs while the dominant crawl slice
runs at or under one epoch (the mixture tables of GPT-3 §2.2 and
LLaMA §2; The Pile weights its 22 components the same way). The
standard scheme samples source ``s`` with probability proportional to
``p_s ** alpha`` with ``alpha < 1`` flattening the natural
distribution.

This operator materializes that as deterministic per-document epoch
replication at ``alpha = 1/2``: the per-source repeat factor is

    e_s = min(scale * sqrt(C / c_s), max_epochs)

with ``c_s`` the source's total weight (chars/tokens), ``C`` the corpus
total — i.e. ``e_s`` is proportional to ``p_s ** (-1/2)``, the alpha=1/2
temperature weight expressed as epochs relative to one natural pass.
``scale < 1`` pushes the dominant source below one epoch (a crawl
downsample); ``max_epochs`` caps how often a tiny source may repeat.
Every document in source ``s`` is emitted ``floor(e_s)`` times, plus
one extra copy kept iff an md5 threshold on ``(doc_id, copy)`` falls
under ``frac(e_s)`` — no RNG, so the SAME physical copies materialize
on every run, engine, and partitioning (the determinism contract of
``functions/text.py::split_assign``).

Engine-exactness: the factor math uses ONLY IEEE-754 correctly-rounded
operations (integer sum, /, sqrt, *, -, floor) on exact integer inputs,
so the JVM and DuckDB produce bit-identical doubles and the oracle
compares exactly. ``pow()`` is NOT correctly rounded by either engine,
which is why alpha is fixed at 1/2 (sqrt IS correctly rounded per
IEEE 754 §5.4.1) rather than a free parameter.

Scale shape (100 TB): one map-side-combinable groupBy over the source
key (a handful of groups -> partial+final HashAggregate), a window-sum
over that tiny factor dim for the corpus total (single-partition on
~10 rows, never on the corpus), a broadcast equi-join of the factor dim
back onto the corpus, and a per-row sequence-explode bounded by
``max_epochs`` — the corpus itself is never shuffled and no driver
loop or collect is involved.

Reference: n/a — training-data-pipeline mandate (mixture weighting);
cf. GPT-3 / LLaMA / The Pile mixture tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_HASH_SPAN = 4294967296.0  # 2**32: span of the 8-hex-char md5 prefix


def mixture_epoch_factors(
    docs: DataFrame,
    source_col: str = "source",
    weight_col: str = "n_chars",
    max_epochs: float = 4.0,
    scale: float = 1.0,
) -> DataFrame:
    """Per-source epoch factors e_s = min(scale*sqrt(C/c_s), max_epochs).

    Returns one row per source: (source_col, c_s, c_total,
    epoch_factor). The window-sum for the corpus total runs over the
    already-aggregated per-source rows (a handful), not the corpus.
    """
    counts = docs.groupBy(source_col).agg(
        F.sum(F.col(weight_col).cast("long")).alias("c_s")
    )
    total = F.sum("c_s").over(Window.partitionBy())
    e = F.least(
        F.lit(float(scale))
        * F.sqrt(F.col("c_total").cast("double") / F.col("c_s").cast("double")),
        F.lit(float(max_epochs)),
    )
    return counts.withColumn("c_total", total).withColumn("epoch_factor", e)


def upsample_mixture(
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    weight_col: str = "n_chars",
    max_epochs: float = 4.0,
    scale: float = 1.0,
) -> DataFrame:
    """Materialize the mixture as replicated (id, source, copy) rows.

    copy = 0..floor(e_s)-1 are unconditional; copy = floor(e_s) is kept
    iff the md5 threshold on (id, copy) falls under frac(e_s), so the
    expected copy count per doc is exactly e_s. ``epoch_bp`` reports the
    factor as integer basis points (floor(e*10000)) to keep the output
    hash-comparable without float formatting.
    """
    per = mixture_epoch_factors(
        docs, source_col, weight_col, max_epochs=max_epochs, scale=scale
    ).select(
        source_col,
        "epoch_factor",
        F.floor("epoch_factor").cast("int").alias("n_full"),
        (F.col("epoch_factor") - F.floor("epoch_factor")).alias("frac"),
    )
    keep_hash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit("#"),
                    F.col("copy").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        docs.select(id_col, source_col)
        .join(F.broadcast(per), source_col)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("n_full"))))
        .where(
            (F.col("copy") < F.col("n_full"))
            | (keep_hash < F.col("frac") * F.lit(_HASH_SPAN))
        )
        .select(
            id_col,
            source_col,
            "copy",
            F.floor(F.col("epoch_factor") * 10000).cast("int").alias("epoch_bp"),
        )
    )


def budget_select(
    docs: DataFrame,
    rank_col: str,
    id_col: str,
    tokens_col: str,
    budget: int,
    n_buckets: int = 1000,
) -> DataFrame:
    """Greedy token-budget subset selection by rank, without a global
    single-partition window.

    "Take the best documents until the token budget is spent" needs a
    GLOBAL running sum over (rank desc, id) order. The naive
    ``Window.orderBy(...)`` with no partition key moves the entire
    corpus into ONE task — correct at test scale, a guaranteed straggler
    at 100 TB. This implements the distributed two-phase prefix sum
    instead:

      1. value-range bucket on the rank itself (``floor(rank*B)`` — no
         sort, no shuffle beyond the aggregate),
      2. per-bucket token totals (tiny: B rows) -> each bucket's global
         starting offset via a window over that TINY table,
      3. within-bucket running sum (window partitioned BY BUCKET, so
         every task sees one bucket's rows, ~1/B of the corpus),
      4. global prefix = bucket offset + within-bucket prefix.

    Buckets align with the sort order because the bucket key is a
    monotone function of the leading sort key; ties inside a bucket are
    broken by id, and identical rank values always land in the same
    bucket so the order is total and engine-reproducible. A doc is
    selected while the prefix BEFORE it is under ``budget`` (the
    boundary doc that straddles the budget is kept — chunking decides
    its fate downstream, cf. operators/packing.py).

    Returns (id_col, rank_col, tokens_col, running_before, selected).
    """
    b = F.floor(F.col(rank_col) * n_buckets).cast("long")
    ranked = docs.select(
        F.col(id_col),
        F.col(rank_col),
        F.col(tokens_col).cast("long").alias("_tok"),
        b.alias("_bucket"),
    )
    totals = ranked.groupBy("_bucket").agg(F.sum("_tok").alias("_bucket_tok"))
    # offset = tokens in all STRICTLY HIGHER buckets (rank sorts desc)
    w_off = (
        Window.orderBy(F.col("_bucket").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "_offset", F.coalesce(F.sum("_bucket_tok").over(w_off), F.lit(0))
    ).select("_bucket", "_offset")
    w_in = (
        Window.partitionBy("_bucket")
        .orderBy(F.col(rank_col).desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranked.join(F.broadcast(offsets), "_bucket")
        .withColumn(
            "running_before",
            F.col("_offset") + F.coalesce(F.sum("_tok").over(w_in), F.lit(0)),
        )
        .select(
            id_col,
            rank_col,
            F.col("_tok").alias(tokens_col),
            "running_before",
            (F.col("running_before") < budget).alias("selected"),
        )
    )


def dsir_importance(
    docs: DataFrame,
    target: "F.Column",
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    width: int = 2,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR) scores.

    The hashed-n-gram importance-weighting scheme of Xie et al. 2023
    ("Data Selection for Language Models via Importance Resampling"):
    estimate a bag-of-hashed-n-grams unigram model for the TARGET slice
    (the distribution you want more of — curated reference text) and
    for the RAW corpus, then score every document by its mean
    per-feature log-likelihood ratio ln(p_target / p_raw). High scores
    = raw documents that look like the target domain; downstream
    selection keeps the top slice (by threshold or via
    :func:`budget_select` on the score).

    Variant notes (pinned so the oracle is exact):
    - features are DISTINCT word ``width``-shingles per document (set
      semantics — the same shingle family as operators/dedup.py, so one
      feature extractor serves dedup, overlap triage, and selection);
    - the feature space is md5-hashed into ``buckets`` buckets
      (``conv(substr(md5(sh),1,7),16,10) % buckets`` — a 28-bit prefix,
      engine-portable, collision-folding exactly as DSIR prescribes);
    - both models are add-one smoothed over the bucket vocabulary:
      p(b) = (n_b + 1) / (N + buckets);
    - a document's score is the MEAN log-ratio over its features
      (length normalization, as in the paper's per-token form),
      rounded to 4 dp for cross-engine comparison.

    Returns (id_col, n_feats, dsir_score), one row per document
    (documents with no features are absent — empty text still yields
    the single empty-string shingle, so in practice every row scores).

    Scale shape (100 TB): the shingle explode is the big intermediate;
    it feeds ONE map-side-partial HashAggregate on the bucket key that
    collapses the corpus to ``buckets`` rows (long buffers: two counts).
    The grand totals are a window over that TINY table, the log-ratio
    dim (buckets rows) broadcasts back onto the exploded features, and
    the per-doc mean is a second partial+final HashAggregate on the doc
    id. No all-pairs stage, no driver-side model state — the "model"
    IS the broadcast dim. The target indicator rides the explode as a
    boolean column, so target and raw counts come out of the same
    aggregate (one pass, not two scans of the corpus).

    Reference: n/a — training-data-pipeline mandate (quality-targeted
    selection); cf. Xie et al. 2023 (DSIR), which this re-expresses as
    two hash aggregates and a broadcast join.
    """
    from biokg_spark.operators.dedup import shingles

    assert buckets >= 2
    feats = docs.select(
        F.col(id_col),
        target.cast("boolean").alias("_is_t"),
        F.explode(shingles(text_col, width)).alias("_sh"),
    ).select(
        id_col,
        "_is_t",
        (
            F.conv(F.substring(F.md5(F.col("_sh")), 1, 7), 16, 10).cast("long")
            % buckets
        ).alias("_bucket"),
    )
    per_bucket = feats.groupBy("_bucket").agg(
        F.count(F.lit(1)).alias("_n_raw"),
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("_n_t"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    lr = per_bucket.select(
        "_bucket",
        (
            F.log((F.col("_n_t") + 1.0) / (F.sum("_n_t").over(w_all) + buckets))
            - F.log((F.col("_n_raw") + 1.0) / (F.sum("_n_raw").over(w_all) + buckets))
        ).alias("_lr"),
    )
    return (
        feats.join(F.broadcast(lr), "_bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("_lr") / F.count(F.lit(1)), 4).alias("dsir_score"),
        )
        .select(id_col, "n_feats", "dsir_score")
    )
