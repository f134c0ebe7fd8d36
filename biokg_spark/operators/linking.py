"""Candidate entity-link scoring (north star: "candidate entity-link
scoring" between mention detection and canonicalization).

A surface like the reference's ambiguous dictionary tokens can denote
several entities (the scanner's static priority is the reference's
first-match-wins tie-break, parsers.py:976). This operator scores EVERY
candidate in context and links the argmax:

    score = w_ctx · (# unambiguous same-type mentions in the same turn)
          + w_prior · prior(entity)
          - w_prio · lexicon priority      (static tie-break, last resort)

All pieces are joins against broadcast dims plus one per-turn aggregate —
no UDFs, no per-row Python. At 10^12 turns the heavy join (candidates ×
per-turn type counts) is keyed on (conv_id, turn_idx), the same
co-located key as every other per-turn op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from biokg_spark.operators.mentions import normalize_surface


def candidate_links(
    mentions: DataFrame,
    lexicon: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    priors: DataFrame | None = None,
    w_ctx: float = 1.0,
    w_prior: float = 0.1,
    w_prio: float = 0.01,
) -> DataFrame:
    """Resolve each mention to its best-scoring candidate entity.

    ``mentions``: keys + surface (one row per mention occurrence), the
    surface in ``scan_mentions``' normalized form. ``lexicon``: (surface,
    entity_id, entity_type, priority) — several rows per ambiguous
    surface; its surfaces are normalized the same way before the join.
    ``priors``: optional (entity_id, prior) dim, default 0. Output: keys +
    surface + entity_id + entity_type + score, one row per mention
    (argmax; ties break on priority then id).
    """
    keys_l = list(keys)
    lexicon = lexicon.select(
        normalize_surface(F.col("surface")).alias("surface"),
        "entity_id",
        "entity_type",
        "priority",
    )
    lex = F.broadcast(lexicon)
    cands = mentions.select(*keys_l, "surface").join(lex, "surface")

    # context = unambiguous mentions only (surfaces with exactly one
    # candidate entity), counted per turn and type
    n_cands = lexicon.groupBy("surface").agg(
        F.countDistinct("entity_id").alias("_nc")
    )
    unambig_surfaces = F.broadcast(n_cands.where(F.col("_nc") == 1).select("surface"))
    ctx_counts = (
        mentions.select(*keys_l, "surface")
        .join(unambig_surfaces, "surface", "left_semi")
        .join(lex, "surface")
        .groupBy(*keys_l, F.col("entity_type").alias("_ctx_type"))
        .agg(F.count(F.lit(1)).alias("_ctx_n"))
    )

    scored = (
        cands.join(
            ctx_counts,
            [cands[k] == ctx_counts[k] for k in keys_l]
            + [cands.entity_type == ctx_counts._ctx_type],
            "left",
        )
        .select(
            *[cands[k] for k in keys_l],
            cands.surface,
            cands.entity_id,
            cands.entity_type,
            cands.priority,
            F.coalesce(ctx_counts._ctx_n, F.lit(0)).alias("_ctx"),
        )
    )
    if priors is not None:
        scored = scored.join(
            F.broadcast(priors.select("entity_id", "prior")), "entity_id", "left"
        ).withColumn("prior", F.coalesce("prior", F.lit(0.0)))
    else:
        scored = scored.withColumn("prior", F.lit(0.0))
    score = (
        F.lit(w_ctx) * F.col("_ctx")
        + F.lit(w_prior) * F.col("prior")
        - F.lit(w_prio) * F.col("priority")
    )
    w = Window.partitionBy(*keys_l, "surface").orderBy(
        F.desc("_score"), F.asc("priority"), F.asc("entity_id")
    )
    return (
        scored.withColumn("_score", score)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            *keys_l, "surface", "entity_id", "entity_type",
            F.round("_score", 4).alias("score"),
        )
    )
