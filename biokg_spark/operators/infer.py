"""Metapath link inference: 2-hop path composition over the triple table.

The reference tags rows it derives (rather than reads) with the
provenance qualifier ``INFERRED`` (parsers.py:2084-2086, 2214, 2271) but
never performs the derivation step itself — consumers of its compiled
graph do (e.g. drug-repurposing candidates from DPI ∘ PROTEIN_DISEASE
paths). This operator makes that step first-class: compose two link
predicates through a shared mid entity, count the distinct supporting
paths per inferred pair, and anti-join away pairs the graph already
asserts directly.

Scale shape (100 TB): the input is the DEDUPED links table — orders of
magnitude smaller than the mention stream it came from — and the join
key is the mid entity. Hub mids (a protein touched by thousands of
drugs AND diseases) make the path fan-out quadratic per hub; the
aggregation to (subj, obj, n_paths) collapses that volume again, and
partial aggregation combines map-side within the join's output
partitions, so the only genuine hazard is a single pathological hub key
— exactly what AQE skew-split handles for a shuffle join (both sides
are fact-sized, so no broadcast). ``max_mid_degree`` optionally drops
hubs wholesale first (two cheap degree aggregates), the same
``skew.drop_hot_keys`` guard as dedup.py's ``max_doc_freq``/
``max_bucket_size``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from biokg_spark.operators.skew import drop_hot_keys


def node_jaccard(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_neighbor_degree: int | None = None,
    min_shared: int = 1,
) -> DataFrame:
    """Node-pair similarity by shared neighbors (Jaccard over adjacency
    sets) — the graph-side alias/duplicate-entity signal: two IDs that
    connect to largely the same neighborhood are canonicalization
    candidates (the structural complement to the string-side
    MinHash/LSH in operators/canonicalize.py).

    jaccard(a,b) = |N(a) ∩ N(b)| / (|N(a)| + |N(b)| − |N(a) ∩ N(b)|)

    ``edges``: directed rows; pass both directions for undirected
    semantics. Candidate pairs come from an INVERTED INDEX on the
    neighbor (self-equi-join on nb with a < b) — never all-pairs; a
    neighbor of degree k contributes k(k−1)/2 pairs, so
    ``max_neighbor_degree`` drops hub neighbors wholesale before the
    join (``skew.drop_hot_keys``: one degree aggregate + semi-join), the
    same guard as dedup.py's ``max_doc_freq``. Degrees in the
    DENOMINATOR are the full (unguarded) neighborhood sizes, so with the
    guard active the score is a conservative UNDERestimate (shared hub
    neighbors aren't counted but still inflate the union) — the right
    bias for an alias CANDIDATE filter. ``min_shared`` prunes pairs below an intersection
    floor before the degree joins. Intersection counts collapse
    map-side (partial agg) and the degree joins run against the
    |V|-sized count table (AQE broadcasts it when dim-sized).
    """
    adj = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("nb")
    ).dropDuplicates()
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    adj = drop_hot_keys(adj, ["nb"], max_neighbor_degree)
    left = adj.select(F.col("node").alias("a"), "nb")
    right = adj.select(F.col("node").alias("b"), "nb")
    shared = (
        left.join(right, "nb")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_db"))
    return (
        shared.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "n_shared",
            (
                F.col("n_shared")
                / (F.col("_da") + F.col("_db") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


def metapath_infer(
    links: DataFrame,
    first_pred: str,
    second_pred: str,
    out_pred: str,
    exclude_direct: bool = True,
    max_mid_degree: int | None = None,
    flag_novel: bool = False,
) -> DataFrame:
    """Infer ``(s, out_pred, o)`` from ``(s, first_pred, m)`` ∘
    ``(m, second_pred, o)`` with ``n_paths`` = distinct supporting mids.

    ``links``: (subj, pred, obj) triple table (deduped).
    ``exclude_direct``: drop inferred pairs already asserted under ANY
    predicate between s and o (left_anti on the endpoint pair) — the
    candidate set should be novel edges only. The check compares in
    STORED orientation: composition of directed predicates yields pairs
    in the vocabulary's subject-first order, which is how direct edges
    are stored; if the inferred pair's predicate family is undirected,
    canonicalize (least, greatest) before relying on the exclusion.
    ``flag_novel``: keep all inferred pairs and add ``is_novel`` (int
    0/1) instead of dropping asserted ones (overrides exclude_direct) —
    the ranking-consumer form, where direct edges are training
    positives rather than noise.
    ``max_mid_degree``: if set, mids whose degree on either leg exceeds
    the cap are excluded from path composition (hub guard).
    """
    a = links.where(F.col("pred") == first_pred).select(
        F.col("subj").alias("s"), F.col("obj").alias("m")
    )
    b = links.where(F.col("pred") == second_pred).select(
        F.col("subj").alias("m"), F.col("obj").alias("o")
    )
    a = drop_hot_keys(a, ["m"], max_mid_degree)
    b = drop_hot_keys(b, ["m"], max_mid_degree)
    paths = a.join(b, "m").where(F.col("s") != F.col("o"))
    inferred = paths.groupBy("s", "o").agg(
        F.countDistinct("m").alias("n_paths")
    )
    extra: list[str] = []
    direct = links.select(F.col("subj").alias("s"), F.col("obj").alias("o"))
    if flag_novel:
        hit = direct.distinct().withColumn("_direct", F.lit(1))
        inferred = inferred.join(hit, ["s", "o"], "left").withColumn(
            "is_novel", F.when(F.col("_direct").isNull(), 1).otherwise(0)
        )
        extra = ["is_novel"]
    elif exclude_direct:
        inferred = inferred.join(direct, ["s", "o"], "left_anti")
    return inferred.select(
        F.col("s").alias("subj"),
        F.lit(out_pred).alias("pred"),
        F.col("o").alias("obj"),
        "n_paths",
        *extra,
    )


def linkpred_auc(
    scored: DataFrame,
    positives: DataFrame,
    exclude: DataFrame | None = None,
    score_col: str = "jaccard",
    a: str = "a",
    b: str = "b",
    decimals: int = 4,
) -> DataFrame:
    """Mann-Whitney AUC of a scored pair frame against held-out
    positive pairs — the link-prediction evaluation harness (third of
    the eval family: dedup blocking scorecard, ANN recall, this).

    AUC = P(random positive outranks random negative), ties at 0.5 —
    computed WITHOUT a global rank over the candidate frame: one
    HashAggregate collapses candidates to the (rounded-score,
    n_pos, n_neg) distribution, a cumulative window runs over that
    TINY distinct-score frame (its single-partition sort is behind an
    aggregate — the auditor-sanctioned shape), and one final 1-row
    aggregate evaluates Σ pos·(neg_below + ½·neg_tied) / (P·N).
    ``exclude`` (e.g. training edges) is anti-joined out first;
    positives the scorer never produced are NOT counted (this is
    candidate-based evaluation — the standard caveat, documented at
    the call site). Always emits exactly one row; AUC is NULL when
    either class is empty.
    """
    cand = scored.select(
        F.col(a), F.col(b), F.round(F.col(score_col), 6).alias("_s")
    )
    if exclude is not None:
        cand = cand.join(exclude.select(a, b), [a, b], "left_anti")
    lab = cand.join(
        positives.select(a, b).withColumn("_p", F.lit(1)), [a, b], "left"
    ).select("_s", F.coalesce(F.col("_p"), F.lit(0)).alias("_p"))
    dist = lab.groupBy("_s").agg(
        F.sum("_p").alias("pos"),
        (F.count(F.lit(1)) - F.sum("_p")).alias("neg"),
    )
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    cum = dist.select(
        "pos", "neg", F.coalesce(F.sum("neg").over(w), F.lit(0)).alias("below")
    )
    return cum.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.round(
            F.when(
                (F.sum("pos") > 0) & (F.sum("neg") > 0),
                F.sum(F.col("pos") * (F.col("below") + 0.5 * F.col("neg")))
                / (F.sum("pos") * F.sum("neg")),
            ),
            decimals,
        ).alias("auc"),
    )
