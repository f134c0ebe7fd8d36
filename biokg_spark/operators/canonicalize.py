"""MinHash/LSH entity canonicalization (north-star replacement for the
reference's hand-curated cross-source ID mapping tables).

The reference resolves alternate-namespace IDs through curated lookup
tables — the bundled ``chemical_drugbank.txt.gz`` and the ``biodblinker``
linkers (reference: compile_biokg.py:1-9, :345-346; parsers.py:1827-1876).
Here the same mapping is DERIVED: alternate surface forms are matched to
canonical lexicon surfaces by character-shingle MinHash + LSH banding,
then scored with exact Jaccard and resolved best-match-wins. No curated
table required; precision is controlled by the Jaccard threshold.

Scale shape: signatures are one explode + one aggregate per side; banding
turns all-pairs into an equi-join on (band_idx, band_key); the exact
Jaccard runs only on banded candidates via ``array_intersect`` on the
(small, per-surface) shingle arrays. When one side is a small dim the
optimizer broadcasts the banded buckets; when both sides are huge the
band join shuffles — with AQE skew splitting for hot buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def char_shingles(col: Column | str, width: int = 3) -> Column:
    """Character n-grams of the lowercased string (distinct, keeps a short
    string whole)."""
    c_expr = F.lower(F.trim(F.col(col) if isinstance(col, str) else col))

    # bind the normalized string to a lambda variable (see
    # operators/dedup.py::shingles): capturing it in the per-position
    # lambda re-normalizes per gram — O(n²); harmless on short surface
    # strings but wrong by idiom, and lexicons run to 10^7 rows
    def build(c: Column) -> Column:
        n = F.length(c)
        grams = F.transform(
            F.sequence(F.lit(1), n - width + 1),
            lambda i: c.substr(i, F.lit(width)),
        )
        return F.array_distinct(
            F.when(n >= width, grams).otherwise(F.array(c))
        )

    return F.element_at(F.transform(F.array(c_expr), build), 1)


def _signatures(
    df: DataFrame, surface_col: str, num_hashes: int, width: int, bands: int
) -> DataFrame:
    """(surface, shingles, band_idx, band_key): the LSH bands of each
    distinct surface (the MinHash kernel and banding of operators/dedup.py,
    grouped by (surface, shingles) so the exact Jaccard can reuse the
    shingle array)."""
    from biokg_spark.operators.dedup import _lsh_bands, _min_hashes

    keys = ["surface", "shingles"]
    base = df.select(F.col(surface_col).alias("surface")).dropDuplicates()
    with_sh = base.withColumn("shingles", char_shingles("surface", width))
    sh = with_sh.select(*keys, F.explode("shingles").alias("sh"))
    sigs = _min_hashes(sh, keys, num_hashes, None).select(
        *keys, F.array(*[F.col(f"_h{s}") for s in range(num_hashes)]).alias("sig")
    )
    return _lsh_bands(sigs, keys, num_hashes, bands)


def fuzzy_canonicalize(
    alt: DataFrame,
    canonical: DataFrame,
    alt_surface: str = "surface",
    canon_surface: str = "surface",
    num_hashes: int = 12,
    bands: int = 6,
    width: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Best canonical match per alternate surface.

    ``alt``: rows with an alternate surface form; ``canonical``: rows with
    (surface, entity_id, entity_type). Output: one row per alt surface
    that cleared ``threshold`` — (alt_surface, entity_id, entity_type,
    jaccard). Ties break on (higher jaccard, entity_id) deterministically.
    """
    a_sig = _signatures(alt, alt_surface, num_hashes, width, bands)
    c_base = canonical.select(
        F.col(canon_surface).alias("surface"), "entity_id", "entity_type"
    ).dropDuplicates()
    c_sig = _signatures(
        c_base, "surface", num_hashes, width, bands
    ).withColumnRenamed("surface", "c_surface").withColumnRenamed(
        "shingles", "c_shingles"
    )
    cand = (
        a_sig.join(c_sig, ["band_idx", "band_key"])
        .select("surface", "shingles", "c_surface", "c_shingles")
        .dropDuplicates(["surface", "c_surface"])
    )
    inter = F.size(F.array_intersect("shingles", "c_shingles"))
    union = F.size("shingles") + F.size("c_shingles") - inter
    scored = cand.select(
        "surface",
        "c_surface",
        F.round(inter / union, 4).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)
    w = Window.partitionBy("surface").orderBy(F.desc("jaccard"), F.asc("c_surface"))
    best = scored.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") == 1)
    return (
        best.join(c_base, best.c_surface == c_base.surface, "inner")
        .select(
            best["surface"].alias("alt_surface"),
            "entity_id",
            "entity_type",
            "jaccard",
        )
    )


def derive_id_mapping_lsh(
    lexicon: DataFrame, threshold: float = 0.5, **kw
) -> DataFrame:
    """Derive (src_id, dst_id) from a lexicon's surface forms alone.

    Priority-0 rows are canonical; higher-priority rows are alternate
    forms whose entity_id lives in an ALT namespace. The LSH match of alt
    surface → canonical surface yields the mapping the reference keeps as
    a curated file. Same output schema as the curated ``id_mapping`` dim.
    """
    canon = lexicon.where(F.col("priority") == 0).select(
        "surface", "entity_id", "entity_type"
    )
    # a higher-priority row whose surface EXACTLY equals a canonical
    # surface is an ambiguous dictionary token (scanner resolves those by
    # priority, reference: parsers.py:976), not an alternate form — only
    # genuinely variant surfaces are canonicalization candidates
    alts = (
        lexicon.where(F.col("priority") > 0)
        .join(canon.select("surface"), "surface", "left_anti")
        .select("surface", F.col("entity_id").alias("src_id"))
    )
    matched = fuzzy_canonicalize(
        alts.select("surface"), canon, threshold=threshold, **kw
    )
    joined = alts.join(matched, alts.surface == matched.alt_surface).select(
        "src_id", F.col("entity_id").alias("dst_id"), "jaccard"
    )
    # The mapping must be FUNCTIONAL in src_id: two alternate surfaces
    # sharing one src_id can LSH-match different canonical surfaces, and a
    # multi-valued mapping would silently duplicate every downstream
    # mention of that entity through the link stage's left join. Resolve
    # deterministically to the best match (highest jaccard, then smallest
    # dst_id).
    w = Window.partitionBy("src_id").orderBy(F.desc("jaccard"), F.asc("dst_id"))
    return (
        joined.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("src_id", "dst_id")
    )
