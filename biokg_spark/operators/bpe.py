"""BPE merge-table training: learn tokenizer merges from the corpus.

The missing half of tokenization: ``functions/text.py`` APPLIES a
BPE-ish tokenizer; this operator LEARNS the merge table from corpus
statistics — the training step of BPE (Sennrich et al. 2016; the
algorithm behind GPT-2/RoBERTa vocabularies and SentencePiece's BPE
mode). Each round counts adjacent token pairs corpus-wide, picks the
most frequent pair (ties broken lexicographically, so training is
deterministic), fuses it into a single token everywhere, and repeats.

Token-fusion contract (engine-portable by construction): the working
text is the space-joined token stream wrapped in sentinel spaces
(`` a b c ``); fusing pair (a, b) is TWO literal (non-regex)
``replace`` passes of ``' a b '`` -> ``' a~b '``. A single
left-to-right non-overlapping pass misses every second occurrence in a
run (``a a a a``: the first match consumes the shared space), and the
second pass catches those — the classic SQL idiom. The double-pass IS
the contract: it fuses the same NUMBER of occurrences as a token-level
greedy scan, but in an odd-length self-pair run (``a a a a a``) it may
leave a different position unfused (the middle token instead of the
last). What matters for parity is that both Spark's ``F.replace`` and
DuckDB's ``replace`` are literal left-to-right non-overlapping, so the
two engines apply the IDENTICAL rule and the oracle reproduces
training byte-for-byte (``bpe_oracle_sql`` generates the unrolled SQL
twin level by level, the generated-oracle pattern of
functions/cascade.py).

Scale shape: BPE training is INHERENTLY sequential in the merge rank —
merge k+1's counts depend on merge k being applied — so the driver
loop is the algorithm, not an accident: each round is one corpus-wide
pair explode + one map-side-partial HashAggregate + a single-ROW
collect (the argmax pair; ~40 bytes/round crosses the driver). The
corpus itself is never collected and never shuffled (the pair count
aggregates map-side; the fusion is a pure Column rewrite). Cache the
working frame between rounds; n_merges bounds the job count. Real
tokenizer trainings also cut corpus cost by pre-aggregating to
(word, count) — expose ``docs`` as that aggregate and the same code
trains on word frequencies.

Reference: n/a — training-data-pipeline mandate (tokenizer training).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def bpe_train(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str,
    n_merges: int,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; return the ranked merge table.

    Output: (merge_rank int, pair string, merged string, n long) —
    merge ``merge_rank`` fused ``pair`` (space-separated) into ``merged`` when its
    corpus count was ``n``. Stops early (fewer rows) if no adjacent
    pair remains.
    """
    work = docs.select(
        F.concat(
            F.lit(" "),
            F.array_join(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), " "),
            F.lit(" "),
        ).alias("t")
    ).cache()
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        toks = F.split(F.trim(F.col("t")), " ")
        pairs = work.select(
            F.explode(
                F.when(
                    F.size(toks) >= 2,
                    F.zip_with(
                        F.slice(toks, 1, F.size(toks) - 1),
                        F.slice(toks, 2, F.size(toks) - 1),
                        lambda a, b: F.concat(a, F.lit(" "), b),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("pair")
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        pair, n = top[0].pair, top[0].n
        merged = pair.replace(" ", "~")
        merges.append((rank, pair, merged, n))
        fused = F.replace(
            F.replace(F.col("t"), F.lit(f" {pair} "), F.lit(f" {merged} ")),
            F.lit(f" {pair} "),
            F.lit(f" {merged} "),
        )
        nxt = work.select(fused.alias("t")).cache()
        nxt.count()  # materialize before unpersisting the previous round
        work.unpersist()
        work = nxt
    work.unpersist()
    from biokg_spark.functions.dims import local_df

    return local_df(
        spark, merges, "merge_rank int, pair string, merged string, n long"
    )


def bpe_oracle_sql(n_merges: int, source_sql: str = "documents") -> str:
    """Generate the unrolled DuckDB twin of :func:`bpe_train`.

    One CTE level per merge: pair counts, deterministic argmax
    (ORDER BY n DESC, pair ASC LIMIT 1), double-replace fusion. The
    final SELECT unions the per-level argmax rows into the same
    (merge_rank, pair, merged, n) table bpe_train returns.
    """
    parts = [
        "s0 AS (SELECT ' ' || array_to_string(string_split(lower(trim(text)),"
        f" ' '), ' ') || ' ' AS t FROM {source_sql})"
    ]
    for i in range(n_merges):
        parts.append(
            f"tok{i} AS (SELECT string_split(trim(t), ' ') AS ts FROM s{i})"
        )
        parts.append(
            f"pr{i} AS (SELECT ts[j] || ' ' || ts[j+1] AS pair, count(*) AS n"
            f" FROM tok{i}, unnest(generate_series(1, len(ts) - 1)) AS u_{i}(j)"
            f" WHERE len(ts) >= 2 GROUP BY pair)"
        )
        parts.append(
            f"top{i} AS (SELECT {i} AS merge_rank, pair,"
            f" replace(pair, ' ', '~') AS merged, n"
            f" FROM pr{i} ORDER BY n DESC, pair ASC LIMIT 1)"
        )
        parts.append(
            f"s{i + 1} AS (SELECT replace(replace(t,"
            f" ' ' || (SELECT pair FROM top{i}) || ' ',"
            f" ' ' || (SELECT merged FROM top{i}) || ' '),"
            f" ' ' || (SELECT pair FROM top{i}) || ' ',"
            f" ' ' || (SELECT merged FROM top{i}) || ' ') AS t FROM s{i})"
        )
    union = " UNION ALL ".join(
        f"SELECT merge_rank, pair, merged, n FROM top{i}" for i in range(n_merges)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Apply a learned merge table to the corpus (tokenizer INFERENCE).

    ``merges`` is :func:`bpe_train`'s output — the tokenizer MODEL, a
    vocab-sized table: collecting it to the driver and compiling it
    into a chained literal-replace Column is the broadcast-the-model
    pattern (like the classifier's 257-row weight dim), not a
    driver-side data loop. Each rank applies the IDENTICAL double-pass
    fusion contract as training, so encoding the training corpus
    reproduces training's final working frame byte-for-byte (pinned in
    tests). Output per doc: whitespace token count, encoded token
    count, and an md5 fingerprint of the encoded stream.

    Scale shape: the compiled chain is 2×n_merges literal (non-regex)
    replaces — a single narrow whole-stage-codegen pass over the
    corpus, zero shuffles. Catalyst handles hundreds of merges; a
    production 50k-merge vocabulary would outgrow codegen, and no caller
    runs one. The final working string feeds three output columns,
    so it is let-bound (packed struct + separate unpack Project) —
    otherwise the whole replace chain re-inlines per reference.
    """
    rows = sorted(merges.collect(), key=lambda r: r.merge_rank)
    t: Column = F.concat(
        F.lit(" "),
        F.array_join(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), " "),
        F.lit(" "),
    )
    n_ws = F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    for r in rows:
        t = F.replace(
            F.replace(t, F.lit(f" {r.pair} "), F.lit(f" {r.merged} ")),
            F.lit(f" {r.pair} "),
            F.lit(f" {r.merged} "),
        )

    def pack(enc: Column) -> Column:
        return F.struct(
            F.size(F.split(enc, " ")).cast("long").alias("n_bpe"),
            F.md5(enc).alias("enc_fp"),
        )

    packed = docs.select(
        F.col(id_col),
        n_ws.cast("long").alias("n_ws"),
        F.element_at(F.transform(F.array(F.trim(t)), pack), 1).alias("_o"),
    )
    return packed.select(
        id_col,
        "n_ws",
        F.col("_o.n_bpe").alias("n_bpe"),
        F.col("_o.enc_fp").alias("enc_fp"),
    )


def bpe_encode_oracle_sql(n_merges: int, source_sql: str = "documents") -> str:
    """Unrolled DuckDB twin of train-then-encode over the same corpus:
    the training CTE chain of :func:`bpe_oracle_sql` with doc_id (and
    the whitespace token count) carried through the working frames; the
    final working frame IS the encoded corpus."""
    parts = [
        "s0 AS (SELECT doc_id,"
        " len(string_split(lower(trim(text)), ' ')) AS n_ws,"
        " ' ' || array_to_string(string_split(lower(trim(text)),"
        f" ' '), ' ') || ' ' AS t FROM {source_sql})"
    ]
    for i in range(n_merges):
        parts.append(
            f"tok{i} AS (SELECT string_split(trim(t), ' ') AS ts FROM s{i})"
        )
        parts.append(
            f"pr{i} AS (SELECT ts[j] || ' ' || ts[j+1] AS pair, count(*) AS n"
            f" FROM tok{i}, unnest(generate_series(1, len(ts) - 1)) AS u_{i}(j)"
            f" WHERE len(ts) >= 2 GROUP BY pair)"
        )
        parts.append(
            f"top{i} AS (SELECT pair, replace(pair, ' ', '~') AS merged"
            f" FROM pr{i} ORDER BY n DESC, pair ASC LIMIT 1)"
        )
        parts.append(
            f"s{i + 1} AS (SELECT doc_id, n_ws, replace(replace(t,"
            f" ' ' || (SELECT pair FROM top{i}) || ' ',"
            f" ' ' || (SELECT merged FROM top{i}) || ' '),"
            f" ' ' || (SELECT pair FROM top{i}) || ' ',"
            f" ' ' || (SELECT merged FROM top{i}) || ' ') AS t FROM s{i})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT doc_id, CAST(n_ws AS BIGINT) AS n_ws,"
        f" CAST(len(string_split(trim(t), ' ')) AS BIGINT) AS n_bpe,"
        f" md5(trim(t)) AS enc_fp FROM s{n_merges}"
    )
