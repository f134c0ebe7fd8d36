"""Deduplication operators for document-scale corpora.

The reference's dedup is exact set-dedup only (``SetWriter``,
parsers.py:783-832; accumulate-into-set, compile_biokg.py:186-195). A
100 TB training-data pipeline also needs near-dup detection; implemented
here as MinHash+LSH banding, SimHash fingerprints, and n-gram Jaccard —
each a pure DataFrame composition (no UDFs).

Hashing is md5-based on purpose: md5 is bit-identical in Spark and DuckDB,
so every operator here has an exact SQL oracle. MinHash signatures are the
per-seed minimum of the first 60 bits of ``md5(seed || '|' || shingle)``
as a LONG — a uniform order-preserving hash family, engine-portable
(DuckDB: ``('0x' || substr(md5(x),1,15))::BIGINT``), and long-buffered so
the signature aggregate plans as HashAggregate (see ``_seed_hash``).

Scale notes: the shingle explode is the big intermediate (docs × shingles);
it shuffles once into the per-doc signature aggregate (map-side partial
min). LSH banding turns the quadratic all-pairs problem into a groupBy on
(band_idx, band_key) — the candidate join is an equi-join Catalyst can
plan with AQE skew splitting if one bucket goes hot (boilerplate-heavy
corpora do this; the salting helper in operators/skew.py applies).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from biokg_spark.operators.skew import drop_hot_keys


def shingles(col: Column | str, width: int = 3) -> Column:
    """w-word shingles of normalized text (array<string>, distinct).

    Tokens = whitespace split of lower(trim(text)); if a document has
    fewer than ``width`` tokens, the whole token string is one shingle.

    The token split is bound to a lambda VARIABLE via the single-element
    ``transform(array(split(...)), toks -> ...)`` wrapper (the idiom
    functions/text.py:224-236 already uses): referencing the raw split
    expression inside the per-position ``transform`` lambda re-inlines
    it, so Spark re-splits the WHOLE text once per shingle position —
    O(n²) in document length. Invisible on ~500-byte docs; on 40 KB
    concatenated conversations it was 276 s vs 2.7 s for the identical
    output at sf0.1 (the real bottleneck behind round 4's 258.7 s
    transcript_near_dup headline).
    """
    c = F.col(col) if isinstance(col, str) else col
    toks_expr = F.split(F.lower(F.trim(c)), "\\s+")

    def build(toks: Column) -> Column:
        n = F.size(toks)
        full = F.transform(
            F.sequence(F.lit(1), n - width + 1),
            lambda i: F.array_join(F.slice(toks, i, width), " "),
        )
        short = F.array(F.array_join(toks, " "))
        return F.array_distinct(F.when(n >= width, full).otherwise(short))

    return F.element_at(F.transform(F.array(toks_expr), build), 1)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized-content fingerprint; survivor = min id.

    Returns (id_col, fingerprint, dup_count): one row per distinct
    content, the kept document plus how many rows collapsed into it.
    """
    from biokg_spark.functions.text import doc_fingerprint

    return (
        df.select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select(id_col, "fingerprint", "dup_count")
    )


def _seed_hash(seed: int, sh: Column) -> Column:
    """One member of the MinHash hash family, as a LONG: the first 15 hex
    chars of ``md5(seed || '|' || sh)`` converted to a 60-bit long.

    md5 is the only family on purpose: it is bit-identical in DuckDB as
    ``('0x' || substr(md5(x),1,15))::BIGINT``, so every signature, band
    and candidate pair downstream stays oracle-checked. Numeric ordering
    of a fixed-width hex prefix equals its lexicographic ordering, so
    min-aggregation semantics are unchanged from the old hex-string form.

    Returning LONG (not a 32-char string) matters for the PLAN, not
    just the shuffle width: min/max over a STRING buffer is not
    supported by HashAggregate, so Catalyst fell back to
    Sort+SortAggregate — the full exploded-shingle table was sorted
    before partial AND final aggregation (measured: transcript_near_dup
    258.7 s at sf0.1, 25x its siblings). LONG buffers are
    UnsafeRow-mutable, so the k per-seed minimums plan as a single
    map-side-partial HashAggregate."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(str(seed)), F.lit("|"), sh)), 1, 15),
        16,
        10,
    ).cast("long")


def _min_hashes(
    sh: DataFrame, keys: list[str], num_hashes: int, shingle_partitions: int | None
) -> DataFrame:
    """The MinHash kernel: ``keys + _h0.._h{k-1}`` from an exploded
    ``(keys…, sh)`` frame, the k per-seed minimums as k aggregate
    expressions of ONE map-side-partial HashAggregate (long buffers, see
    ``_seed_hash``).

    ``shingle_partitions``: hash repartition of the exploded rows BEFORE
    the aggregate. The k per-shingle hashes are evaluated in the
    partial-aggregate stage, which without this runs at the parallelism
    of the INPUT rows — fine for a document corpus (rows >> cores),
    pathological for few-but-huge rows (whole conversations concatenated
    to one row each, or one row set per corpus slice: a handful of tasks
    while each row explodes to ~10^4-10^5 shingles; part of the 258.7 s
    -> 13.9 s transcript_near_dup fix at sf0.1, jointly with the
    shingles() lambda-binding fix above). The added exchange moves RAW
    shingles — cheap next to the k hash evaluations it parallelizes —
    and the partial min still reduces each partition to (#keys x k)
    longs before the final shuffle. Set it when the key count is within
    ~100x of the core count; leave None when input parallelism already
    exceeds the cluster.
    """
    if shingle_partitions is not None:
        # deterministic hash repartition, NOT round-robin: keyless
        # repartition(n) first local-sorts its input so task retries
        # reproduce the same row placement (spark.sql.execution.
        # sortBeforeRepartition) — a full sort of the exploded shingle
        # table bought nothing here because the downstream min/count
        # aggregates are order-free. A deterministic key with ~32x more
        # distinct values than partitions spreads evenly (guide §2.5)
        # and is retry-safe by construction.
        sh = sh.repartition(
            shingle_partitions,
            F.pmod(
                F.xxhash64(*[F.col(k) for k in keys], F.col("sh")),
                F.lit(shingle_partitions * 32),
            ),
        )
    aggs = [
        F.min(_seed_hash(s, F.col("sh"))).alias(f"_h{s}") for s in range(num_hashes)
    ]
    return sh.groupBy(*keys).agg(*aggs)


def _lsh_bands(
    sigs: DataFrame, keys: list[str], num_hashes: int, bands: int
) -> DataFrame:
    """LSH banding of a ``(keys…, sig)`` frame: one ``(keys…, band_idx,
    band_key)`` row per band, band_key = md5 of the band's
    ``num_hashes // bands`` signature values joined by ``|``."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws(
                    "|", *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return sigs.select(*keys, F.explode(F.array(*band_cols)).alias("band")).select(
        *keys, "band.band_idx", "band.band_key"
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 8, width: int = 3,
    shingle_partitions: int | None = None,
) -> DataFrame:
    """Per-doc MinHash signature: (id, sig array of length k).

    One explode + one groupBy (``_min_hashes``); ``shingle_partitions``
    fans the per-shingle hash work out when the corpus is few-but-huge
    rows.
    """
    sh = df.select(
        F.col(id_col), F.explode(shingles(text_col, width)).alias("sh")
    )
    sigs = _min_hashes(sh, [id_col], num_hashes, shingle_partitions)
    return sigs.select(
        id_col, F.array(*[F.col(f"_h{s}") for s in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    width: int = 3,
    max_bucket_size: int | None = None,
    shingle_partitions: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band of their signature → candidate
    pairs (id_a < id_b, distinct).

    ``shingle_partitions`` is forwarded to ``minhash_signatures`` (fan
    the per-shingle hash work out when the corpus is few-but-huge rows).

    ``max_bucket_size``: hot-bucket guard. A band bucket holding n docs
    expands to n²/2 candidate rows BEFORE the distinct — on a
    boilerplate-heavy corpus (the normal web-scale case) one degenerate
    bucket goes quadratic. Buckets above the cap are dropped wholesale:
    their members are boilerplate-identical in that band and still pair
    up through their other (more selective) bands, and at the cap the
    within-bucket join cost is bounded by bands·cap per row.
    """
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, width, shingle_partitions
    )
    bucketed = _lsh_bands(sigs, [id_col], num_hashes, bands)
    # Materialize the (doc x bands) bucket table ONCE: the plan below
    # references it up to three times (hot-bucket count, both sides of
    # the candidate self-join), and Catalyst does no cross-branch CSE —
    # without this the shingle explode + k-hash signature aggregate (the
    # query's dominant cost) executed once PER REFERENCE (measured 3x at
    # sf0.1). The checkpointed frame is |docs|·bands small rows; the
    # expensive signature stage above it runs exactly once per call.
    bucketed = drop_hot_keys(
        bucketed.localCheckpoint(eager=True), ["band_idx", "band_key"], max_bucket_size
    )
    a = bucketed.alias("a")
    b2 = bucketed.alias("b")
    return (
        a.join(
            b2,
            (F.col(f"a.band_idx") == F.col(f"b.band_idx"))
            & (F.col(f"a.band_key") == F.col(f"b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def _shingle_overlaps(
    df: DataFrame, text_col: str, id_col: str, width: int, max_doc_freq: int | None
) -> tuple[DataFrame, DataFrame]:
    """The inverted-index core of the n-gram pair operators:
    ``(inter, sizes)`` with ``inter`` = (id_a, id_b, n_inter) for every
    pair id_a < id_b sharing at least one shingle and ``sizes`` =
    (id_col, n_sh) per document.

    Pairs are generated only through shared shingles (self-equi-join on
    the shingle), never a cross join — documents with no shingle in
    common are never materialized as a pair. ``max_doc_freq``:
    hot-shingle guard (``drop_hot_keys``). A shingle occurring in d docs
    contributes d²/2 rows to the join; shingles above the cutoff carry
    no discriminative signal (standard stopword treatment in near-dup
    mining) and are dropped BEFORE the self-join, from the sizes and the
    intersections alike. Ids must be unique: ``shingles()`` is distinct
    per row, so a shingle's row count is then its document frequency.
    """
    # the exploded (id, shingle) frame is referenced by the df-guard, the
    # per-doc sizes, and BOTH sides of the inverted-index self-join;
    # materialize it once (no cross-branch CSE) so the tokenize+shingle
    # explode runs one time instead of up to four.
    sh = df.select(
        F.col(id_col), F.explode(shingles(text_col, width)).alias("sh")
    ).localCheckpoint(eager=True)
    sh = drop_hot_keys(sh, ["sh"], max_doc_freq)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return inter, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold.

    Inverted-index plan (``_shingle_overlaps``): pairs exist only through
    shared shingles, and ``max_doc_freq`` drops boilerplate shingles
    before the self-join (jaccard is then computed over the surviving
    shingle sets). Output: (id_a, id_b, jaccard) rounded to 4 dp for
    cross-engine comparison. Ids must be unique.
    """
    inter, sizes = _shingle_overlaps(df, text_col, id_col, width, max_doc_freq)
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT ≥ threshold: |A∩B| / |A| per
    ordered candidate pair — the truncation detector Jaccard misses.
    A tail-truncated copy of a long document (the bot-session case)
    shares nearly all of ITS shingles with the original, so its
    containment is ~1 while Jaccard (normalized by the UNION) can sit
    far below any near-dup threshold. Emits (id_a, id_b, n_a,
    n_inter, containment) for each direction of a pair that clears
    the threshold: containment of id_a's shingle set in id_b's.

    Same inverted-index plan as :func:`ngram_jaccard_pairs`
    (``_shingle_overlaps``); |A∩B| is symmetric, so each unordered
    pair's intersection is counted once and then emitted in both
    directions before the single sizes join. Ids must be unique.
    """
    inter, sizes = _shingle_overlaps(df, text_col, id_col, width, None)
    both = inter.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("x"), F.col("id_b").alias("y")),
                F.struct(F.col("id_b").alias("x"), F.col("id_a").alias("y")),
            )
        ).alias("p"),
        "n_inter",
    ).select(F.col("p.x").alias("id_a"), F.col("p.y").alias("id_b"), "n_inter")
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    # threshold on the RAW ratio, matching the DuckDB oracle's WHERE
    # (n_inter/n_a >= t); the emitted containment column stays 4-dp
    # rounded. Filtering on the rounded value kept pairs whose raw
    # ratio sat in [t - 0.00005, t) — a latent cross-engine boundary
    # mismatch (ADVICE r5, medium).
    return (
        both.join(sz_a, "id_a")
        .where(F.col("n_inter") * F.lit(1.0) / F.col("n_a") >= threshold)
        .withColumn(
            "containment",
            F.round(F.col("n_inter") * F.lit(1.0) / F.col("n_a"), 4),
        )
        .select("id_a", "id_b", "n_a", "n_inter", "containment")
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash selection).

    The standard rolling-hash fingerprint scheme (Schleimer/Wilkerson/
    Aiken winnowing): hash every character k-gram of the normalized text,
    slide a window of ``window`` consecutive hashes, keep each window's
    minimum — a position-robust fingerprint subset ~1/window the size of
    the full hash stream, guaranteed to share fingerprints with any
    document overlapping by ≥ k+window-1 characters. All array-side
    Column expressions (no UDF); hashes are md5-prefixed so the DuckDB
    oracle is exact. Output: one row per (id, fingerprint), distinct.
    """
    c_expr = F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", " ")

    # the normalized text binds to a lambda variable (transform-over-array
    # wrapper, see shingles()): referencing the regexp_replace expression
    # inside the per-position lambda would re-normalize the WHOLE text
    # once per gram position — O(n²) in document length
    def build(c: Column) -> Column:
        n = F.length(c)
        return F.transform(
            F.sequence(F.lit(1), F.greatest(n - k + 1, F.lit(1))),
            lambda i: F.substring(F.md5(c.substr(i, F.lit(k))), 1, 8),
        )

    grams = F.element_at(F.transform(F.array(c_expr), build), 1)
    # materialize the gram array as a column so the window pass doesn't
    # inline (and recompute) the md5 stream per window position
    with_g = df.select(F.col(id_col), grams.alias("_g"))
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_g") - window + 1, F.lit(1))),
        lambda i: F.array_min(F.slice(F.col("_g"), i, window)),
    )
    return (
        with_g.select(
            F.col(id_col), F.explode(F.array_distinct(mins)).alias("fingerprint")
        )
        .dropDuplicates()
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.999,
    sign_bits: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-LSH bucketing.

    ``max_bucket_size`` guards against a degenerate hot bucket (e.g. a
    corpus dominated by near-zero vectors): buckets above the cap are
    dropped before the self-join, bounding the per-bucket pair expansion.

    Candidates are generated only within a sign bucket (identical/near-
    identical vectors share one), so the all-pairs problem becomes a
    self-equi-join on the bucket key — never a cross join. At 100 TB the
    bucket is the table's partition key and each bucket joins co-located.
    Output: (id_a, id_b, sim) with id_a < id_b and sim ≥ threshold.

    Scale shape: the per-vector half of the cosine (the double cast and
    the L2 norm, :func:`similarity.with_norm`) runs once per row before
    the join, so each candidate pair pays only the dot product. The pair
    work grows with the square of the bucket sizes while AQE sizes
    partitions by input bytes, which packs a small table's whole
    quadratic stage into one task. So the bucket frame is hash-spread by
    id to a pinned :func:`similarity.fanout` width before it is
    materialized; the join streams those partitions on every core. The
    trailing rebalance lets AQE coalesce the output back by its own
    bytes (one file for a small pair set).
    """
    from biokg_spark.operators.similarity import (
        cosine_normed,
        fanout,
        sign_bucket,
        with_norm,
    )

    # b is referenced by the hot-bucket guard and both join sides;
    # materialize once so the bucket computation + scan runs one time.
    b = (
        with_norm(
            df.select(
                F.col(id_col),
                F.col(vec_col),
                sign_bucket(F.col(vec_col), sign_bits).alias("bucket"),
            ),
            vec_col,
            "_norm",
        )
        .repartition(fanout(df.sparkSession, df), id_col)
        .localCheckpoint(eager=True)
    )
    b = drop_hot_keys(b, ["bucket"], max_bucket_size)
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"c.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"c.{id_col}").alias("id_b"),
            cosine_normed(
                F.col(f"a.{vec_col}"), F.col("a._norm"),
                F.col(f"c.{vec_col}"), F.col("c._norm"),
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
        .hint("rebalance")
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint per document (bit-string column ``simhash``).

    Bit i of a token's hash = 1 iff hex nibble i of md5(token) ≥ 8; the
    document bit is the sign of the sum of (±1) votes over its distinct
    tokens. Returned as a '0'/'1' string so oracle comparison is textual.
    """
    assert 1 <= bits <= 32
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), "\\s+"))
        ).alias("tok"),
    )
    # bind md5(tok) to a lambda variable so it is hashed ONCE per token,
    # not once per bit position (transform-over-array wrapper, see
    # shingles())
    def bit_votes(h: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.lit(bits)),
            lambda i: F.when(
                F.substring(h, i, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"),
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )

    votes = toks.select(
        F.col(id_col),
        F.posexplode(
            F.element_at(
                F.transform(F.array(F.md5(F.col("tok"))), bit_votes), 1
            )
        ).alias("bit_pos", "vote"),
    )
    per_bit = votes.groupBy(id_col, "bit_pos").agg(F.sum("vote").alias("v"))
    return (
        per_bit.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("bit_pos"), (F.col("v") >= 0).cast("int").alias("b"))
                        )
                    ),
                    lambda s: s["b"].cast("string"),
                ),
                "",
            ).alias("simhash")
        )
        .select(id_col, "simhash")
    )


def chunk_dup_stats(
    df: DataFrame, text_col: str, id_col: str, chunk_tokens: int = 8
) -> DataFrame:
    """Chunk-level exact-substring duplication stats per document.

    The practical Spark analog of suffix-array substring dedup (Lee et
    al., "Deduplicating Training Data Makes Language Models Better"):
    split each document into NON-overlapping ``chunk_tokens``-token
    chunks (last chunk may be short), md5 each chunk, count every chunk
    hash corpus-wide, and report per document how many of its chunks
    also occur elsewhere (or repeat within the document). Returns
    (id_col, n_chunks, n_dup_chunks) — a chunk is "dup" when its hash
    has corpus-wide occurrence count > 1.

    Scale shape: one explode (docs × n/k chunks — k× smaller than a
    shingle explode), one map-side-partial groupBy on the chunk hash,
    and one equi-join back; no all-pairs stage anywhere. Downstream
    filtering (drop docs with n_dup_chunks / n_chunks above a threshold)
    is a cheap post-filter on this output.
    """
    assert chunk_tokens >= 1
    k = chunk_tokens
    toks_expr = F.split(F.lower(F.trim(F.col(text_col))), "\\s+")

    # non-overlapping chunk j covers tokens [j*k+1, j*k+k] (1-based);
    # floor((n-1)/k) is the last chunk index, so a short tail chunk is
    # kept rather than dropped (dropping it would hide tail duplication).
    # The split binds to a lambda variable (transform-over-array wrapper,
    # see shingles()) so it is NOT re-evaluated per chunk position.
    def build(toks: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.floor((F.size(toks) - 1) / k).cast("int")),
            lambda j: F.md5(F.array_join(F.slice(toks, j * k + 1, k), " ")),
        )

    chunks = F.element_at(F.transform(F.array(toks_expr), build), 1)
    # exploded feeds both the corpus-wide count and the join back;
    # materialize once so the chunk explode + md5 runs one time.
    exploded = df.select(
        F.col(id_col), F.explode(chunks).alias("chunk_hash")
    ).localCheckpoint(eager=True)
    counts = exploded.groupBy("chunk_hash").agg(F.count(F.lit(1)).alias("occ"))
    return (
        exploded.join(counts, "chunk_hash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count(F.when(F.col("occ") > 1, F.lit(1))).alias("n_dup_chunks"),
        )
        .select(id_col, "n_chunks", "n_dup_chunks")
    )


def line_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n",
    max_doc_freq: int = 2,
) -> DataFrame:
    """Corpus-level boilerplate LINE removal (the CCNet/RefinedWeb
    pass): a line occurring in more than ``max_doc_freq`` distinct
    documents is boilerplate (headers, footers, cookie banners,
    subscribe prompts) and is dropped from EVERY document; document
    text is reassembled from the surviving lines in original order.

    Returns (id_col, text, n_lines, n_kept). Documents whose every line
    was boilerplate survive with empty text (the keep/drop decision
    belongs to corpus_filter, not here).

    Scale shape: one posexplode (docs × lines), one distinct-count
    aggregate on the line string (map-side partial; the line is the
    GROUP KEY, so this hash-aggregates — only agg BUFFERS are
    type-restricted), one anti-join back, and one per-doc reassembly
    aggregate. The hot side of the anti-join is the (tiny) boilerplate
    line set — broadcast. No all-pairs stage, no driver materialization.
    """
    lines = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line")
    )
    hot = (
        lines.groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .where(F.col("_df") > max_doc_freq)
        .select("line")
    )
    kept_flag = lines.join(F.broadcast(hot), "line", "left_anti").select(
        id_col, "pos", "line"
    )
    ordered = F.array_sort(F.collect_list(F.struct("pos", "line")))
    return (
        lines.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .join(
            kept_flag.groupBy(id_col).agg(
                F.array_join(
                    F.transform(ordered, lambda s: s["line"]), sep
                ).alias("text"),
                F.count(F.lit(1)).alias("n_kept"),
            ),
            id_col,
            "left",
        )
        .select(
            id_col,
            F.coalesce("text", F.lit("")).alias("text"),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
    )


def slice_overlap(
    df: DataFrame,
    slice_col: str,
    text_col: str,
    num_hashes: int = 32,
    width: int = 3,
    shingle_partitions: int | None = None,
) -> DataFrame:
    """MinHash Jaccard estimate BETWEEN corpus slices (not documents).

    Answers "how much does source A's shingle set overlap source B's?"
    — the corpus-level view behind dedup budgeting, crawl-snapshot
    overlap, and cross-source contamination triage. Treats each slice
    (source, snapshot, language, ...) as ONE shingle set, computes the
    k-seed MinHash signature per slice, and reports the fraction of
    agreeing seeds per slice pair — the classic single-row estimator
    E[match_rate] = Jaccard(A, B), stderr ~ 1/sqrt(k).

    Returns (slice_a, slice_b, n_match, n_seeds, jaccard_bp) for every
    unordered slice pair (slice_a < slice_b); jaccard_bp is the estimate
    in integer basis points (floor(n_match*10000/k)) so the output
    hash-compares across engines without float formatting.

    Scale shape: ONE shingle explode + ONE map-side-partial
    HashAggregate on the slice key collapses the entire corpus to
    (#slices x k) longs; the pairwise compare is an equi-join ON SEED of
    that tiny table with itself (broadcast; never a cross join of the
    corpus, never all-pairs of documents). The final aggregate is
    (#slices^2 x k) rows — driver-safe for hundreds of slices. Same
    ``shingle_partitions`` fan-out as :func:`minhash_signatures`
    (repartition the exploded shingles when slices are few but huge,
    which is exactly this operator's shape at 100 TB).
    """
    sh = df.select(
        F.col(slice_col).alias("slice"), F.explode(shingles(text_col, width)).alias("sh")
    )
    sigs = _min_hashes(sh, ["slice"], num_hashes, shingle_partitions)
    seeded = F.array(
        *[
            F.struct(F.lit(s).alias("seed"), F.col(f"_h{s}").alias("mh"))
            for s in range(num_hashes)
        ]
    )
    long_form = sigs.select("slice", F.explode(seeded).alias("x")).select(
        "slice", F.col("x.seed").alias("seed"), F.col("x.mh").alias("mh")
    )
    # both sides of the pairwise seed-join read this (#slices x k)-row
    # frame; materialize it once so the corpus-wide shingle explode +
    # signature aggregate above does not run twice (no cross-branch CSE).
    long_form = long_form.localCheckpoint(eager=True)
    a = long_form.select(
        F.col("slice").alias("slice_a"), "seed", F.col("mh").alias("mh_a")
    )
    b = long_form.select(
        F.col("slice").alias("slice_b"), "seed", F.col("mh").alias("mh_b")
    )
    return (
        a.join(F.broadcast(b), "seed")
        .where(F.col("slice_a") < F.col("slice_b"))
        .groupBy("slice_a", "slice_b")
        .agg(
            F.sum(
                F.when(F.col("mh_a") == F.col("mh_b"), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_match"),
            F.count(F.lit(1)).alias("n_seeds"),
        )
        .withColumn(
            "jaccard_bp",
            F.floor(F.col("n_match") * 10000.0 / F.col("n_seeds")).cast("int"),
        )
    )


def delta_dedup(
    corpus: DataFrame,
    delta: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Incremental batch dedup: a new shard against the existing corpus.

    The steady-state form of exact dedup in a growing pipeline: the
    corpus is already deduplicated (its fingerprint INDEX is a
    maintained artifact), and each incoming shard must drop (a) docs
    whose content already exists in the corpus and (b) duplicates
    within the shard itself (survivor = min id). Returns one row per
    delta doc: (id_col, fingerprint, status) with status in
    ('dup_corpus', 'dup_delta', 'keep') — corpus membership outranks
    within-shard duplication so re-ingesting an already-kept doc is
    always 'dup_corpus'.

    Scale shape: fingerprints are md5 of normalized content (pure
    Column); the corpus side reduces to its DISTINCT fingerprint index
    (at 100 TB this is the precomputed/bucketed index, not a rescan),
    the within-shard survivor election is one map-side-partial
    HashAggregate on the shard only, and both joins are fp equi-joins —
    with the delta a small increment AQE broadcasts it; with both huge,
    bucketing the index by fingerprint co-locates the probe. No state
    on the driver, rerun-idempotent (same shard -> same statuses).
    """
    from biokg_spark.functions.text import doc_fingerprint

    idx = (
        corpus.select(doc_fingerprint(text_col).alias("fingerprint"))
        .distinct()
        .withColumn("_in_corpus", F.lit(True))
    )
    d = delta.select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
    surv = d.groupBy("fingerprint").agg(F.min(id_col).alias("_keep_id"))
    return (
        d.join(idx, "fingerprint", "left")
        .join(surv, "fingerprint")
        .select(
            id_col,
            "fingerprint",
            F.when(F.col("_in_corpus").isNotNull(), F.lit("dup_corpus"))
            .when(F.col(id_col) != F.col("_keep_id"), F.lit("dup_delta"))
            .otherwise(F.lit("keep"))
            .alias("status"),
        )
    )


def positional_grams(col: Column | str, width: int) -> Column:
    """Overlapping token k-grams WITH their 0-based start position:
    ``array<struct<pos:int, gram:string>>``.

    The positional sibling of ``shingles()`` (which is distinct and
    position-free, fine for MinHash but useless for span removal). Same
    two plan disciplines: the token split is bound to a lambda variable
    via the single-element ``transform(array(...))`` wrapper so it is
    evaluated once per document, not once per position (O(n²) hazard,
    see shingles()), and documents shorter than ``width`` produce an
    empty array so ``sequence()`` never sees a descending range.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks_expr = F.split(F.lower(F.trim(c)), "\\s+")

    def build(toks: Column) -> Column:
        n = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), n - width + 1),
            lambda i: F.struct(
                (i - 1).cast("int").alias("pos"),
                F.array_join(F.slice(toks, i, width), " ").alias("gram"),
            ),
        )
        return F.when(n >= width, grams).otherwise(
            F.array().cast("array<struct<pos:int,gram:string>>")
        )

    return F.element_at(F.transform(F.array(toks_expr), build), 1)


def dup_span_intervals(
    df: DataFrame,
    text_col: str,
    id_col: str,
    width: int = 8,
    min_occ: int = 2,
) -> DataFrame:
    """Exact-substring duplicate SPANS: per-document removal intervals.

    The interval-producing form of substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    token k-gram occurring ≥ ``min_occ`` times corpus-wide marks its
    positions as duplicated; overlapping/adjacent marked windows are
    merged into maximal per-document intervals ``[span_start,
    span_end)`` in token coordinates, ready for span excision. The
    reference has no substring dedup at all (its dedup is whole-record
    set-dedup, parsers.py:783-832); ``chunk_dup_stats`` tallies
    non-overlapping chunk duplication, this one produces the actual
    cut list.

    Plan shape at 100 TB: one explode to positional grams (the big
    intermediate, ~n_tokens rows per doc), ONE HashAggregate on a
    64-bit gram key (md5-prefix packed to LONG — numeric buffer, never
    SortAggregate), one equi-join back on that key (AQE-splittable if a
    boilerplate gram goes hot; count ≥ min_occ keeps the dup side
    small), then one window per doc_id for the interval merge — the
    classic max(end)-so-far / gap-flag / running-sum grouping, a single
    sort within each doc partition. Nothing is all-pairs; the join key
    is uniform by construction (hash).
    """
    grams = df.select(
        F.col(id_col),
        F.explode(positional_grams(text_col, width)).alias("g"),
    ).select(
        id_col,
        F.col("g.pos").alias("pos"),
        # 60-bit md5 prefix as LONG: engine-portable (DuckDB
        # ('0x'||substr(md5(x),1,15))::BIGINT) and a compact numeric
        # shuffle/group key
        F.conv(F.substring(F.md5(F.col("g.gram")), 1, 15), 16, 10)
        .cast("long")
        .alias("gh"),
    )
    hot = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= min_occ)
        .select("gh")
    )
    marked = grams.join(hot, "gh").select(id_col, "pos")
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = marked.select(
        id_col,
        "pos",
        F.max(F.col("pos") + width).over(w_prev).alias("_prev_end"),
    ).select(
        id_col,
        "pos",
        F.when(
            F.col("_prev_end").isNull() | (F.col("pos") > F.col("_prev_end")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_new_grp"),
    )
    return (
        flagged.withColumn("_grp", F.sum("_new_grp").over(w_run))
        .groupBy(id_col, "_grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + width).cast("long").alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .drop("_grp")
    )


def excise_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Apply a duplicate-span cut list: rewrite each document with the
    tokens inside any ``[span_start, span_end)`` interval removed.

    The second half of substring dedup (Lee et al. 2022):
    ``dup_span_intervals`` produces the intervals, this excises them.
    Returns ``(id_col, clean_text, n_kept, n_removed)`` where
    ``clean_text`` is the whitespace-normalized (lower/trim) surviving
    token sequence in original order — the form downstream tokenization
    consumes. Documents with no spans pass through with n_removed = 0.

    Plan shape at 100 TB: the interval list aggregates to ≤ a handful
    of structs per doc (intervals are MERGED maximal spans, bounded by
    n_tokens/width), joins back on the doc id, and the excision is a
    single pure-Column pass: positional transform → filter-by-coverage
    → array_join. No explode, no window — map-side work after one
    equi-join on the id. The per-element coverage probe references
    only the joined interval-array ATTRIBUTE (not a computed
    expression), so nothing re-inlines (see shingles()).
    """
    iv = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("_iv")
    )
    joined = df.join(iv, id_col, "left").select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), "\\s+").alias("_toks"),
        F.coalesce(
            F.col("_iv"), F.array().cast("array<struct<s:bigint,e:bigint>>")
        ).alias("_ivs"),
    )
    pos = F.transform(
        F.col("_toks"), lambda t, i: F.struct(i.alias("i"), t.alias("t"))
    )
    kept = F.filter(
        pos,
        lambda st: ~F.exists(
            F.col("_ivs"),
            lambda v: (st["i"] >= v["s"]) & (st["i"] < v["e"]),
        ),
    )

    # let-bind `kept` via the single-element transform wrapper and emit
    # ONE packed struct, unpacked in a separate Project: referencing the
    # filter chain from three sibling output columns re-inlines it three
    # times (measured — the shingles()/cascade.py hazard), and
    # CollapseProject keeps the two Projects apart because the packed
    # expression is non-cheap and multiply referenced.
    def pack(k: Column) -> Column:
        return F.struct(
            F.array_join(F.transform(k, lambda st: st["t"]), " ").alias(
                "clean_text"
            ),
            F.size(k).cast("long").alias("n_kept"),
        )

    packed = joined.select(
        F.col(id_col),
        F.element_at(F.transform(F.array(kept), pack), 1).alias("_o"),
        F.size("_toks").cast("long").alias("_n"),
    )
    return packed.select(
        id_col,
        F.col("_o.clean_text").alias("clean_text"),
        F.col("_o.n_kept").alias("n_kept"),
        (F.col("_n") - F.col("_o.n_kept")).alias("n_removed"),
    )


def blocking_metrics(
    df: DataFrame,
    candidates: DataFrame,
    truth_pairs: DataFrame,
    id_col: str,
) -> DataFrame:
    """Blocking-quality scorecard for a candidate-pair generator:
    pair completeness and reduction ratio (the two standard
    entity-resolution blocking metrics, Christen 2012).

    - ``pair_completeness`` = |candidates ∩ truth| / |truth| — recall
      of the blocking scheme against known duplicate pairs;
    - ``reduction_ratio`` = 1 − |candidates| / C(n, 2) — how much of
      the all-pairs quadratic the scheme avoided.

    Both candidate and truth frames carry (id_a, id_b) with id_a <
    id_b (the convention every pair generator in this module emits).
    ONE output row — the numbers that decide MinHash band counts,
    bucket caps, and SimHash radii before a 10^12-row run. Everything
    reduces map-side: two counts, one broadcast-able semi-join for the
    intersection, one scalar n from the corpus.
    """
    # each frame feeds two of the counts below; materialize once so the
    # candidate generator / truth join runs once, not per count.
    candidates = candidates.localCheckpoint(eager=True)
    truth_pairs = truth_pairs.localCheckpoint(eager=True)
    n = df.select(F.col(id_col)).distinct().count()
    total_pairs = n * (n - 1) // 2
    n_cand = candidates.count()
    n_truth = truth_pairs.count()
    n_hit = candidates.join(truth_pairs, ["id_a", "id_b"], "left_semi").count()
    spark = df.sparkSession
    from biokg_spark.functions.dims import local_df

    return local_df(
        spark,
        [
            (
                n,
                total_pairs,
                n_cand,
                n_truth,
                n_hit,
                round(n_hit / n_truth, 4) if n_truth else None,
                round(1.0 - n_cand / total_pairs, 4) if total_pairs else None,
            )
        ],
        "n_docs long, total_pairs long, n_candidates long, n_truth long,"
        " n_matched long, pair_completeness double, reduction_ratio double",
    )
