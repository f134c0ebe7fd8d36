"""Sequence packing: shard + concat-and-chunk documents for LLM training.

After dedup/filter/split, a training pipeline materializes the corpus as
fixed-length token blocks: documents are deterministically sharded,
concatenated within each shard in a stable order, and the concatenated
token stream is cut into ``chunk_len``-token blocks (the GPT-style
pack-then-split; a document may straddle a block boundary, which is the
accepted trade for zero padding waste).

Determinism contract (matches functions/text.py::split_assign): the
shard comes from the first 8 hex chars of
``md5(doc_id)`` — no RNG, engine-portable, stable under dataset growth
within a shard-count; the within-shard order is (doc_id) so re-runs
byte-match.

Scale shape: ONE window shuffle on the shard key (the cumulative token
sum), everything else pure Column. Shards bound the window partition
size — at 10^12 documents pick n_shards so each shard's token stream
fits a task comfortably; skew is impossible because md5 is uniform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_documents(
    docs: DataFrame,
    n_shards: int,
    chunk_len: int,
    doc_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Assign every document a (shard, start_offset, first/last chunk).

    Output columns: doc_col, n_tokens, shard, start_offset (tokens
    before this doc in its shard's stream), chunk_id (block containing
    the doc's first token), end_chunk_id (block containing its last) —
    a doc with chunk_id != end_chunk_id straddles block boundaries.
    Empty documents (0 tokens) sit at their offset with
    end_chunk_id = chunk_id.
    """
    shard = (
        F.conv(F.substring(F.md5(F.col(doc_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % n_shards
    ).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(doc_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        docs.select(
            F.col(doc_col),
            F.col(tokens_col).cast("long").alias("n_tokens"),
            shard.alias("shard"),
        )
        .withColumn(
            "start_offset",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)),
        )
        .withColumn("chunk_id", (F.col("start_offset") / chunk_len).cast("int"))
        .withColumn(
            "end_chunk_id",
            (
                F.greatest(
                    F.col("start_offset"),
                    F.col("start_offset") + F.col("n_tokens") - 1,
                )
                / chunk_len
            ).cast("int"),
        )
    )
    return out


def chunk_windows(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Overlapping token windows per document — the RAG/retrieval-prep
    counterpart of :func:`pack_documents` (which packs ACROSS documents;
    this slices WITHIN them, preserving document boundaries).

    One row per (doc, window): ``(id_col, chunk_ix, start_tok,
    n_tokens, chunk_text)``. Windows start at token 1, 1+stride,
    1+2·stride, …; the last window may be short. Blank documents yield
    no rows.

    Pure Column work (split → sequence → slice → explode): map-only at
    any corpus size, no shuffle at all — the explode fan-out is
    ceil(tokens/stride) rows per doc, bounded and uniform.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), "\\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(stride))
    win = docs.where(F.trim(F.col(text_col)) != "").select(
        F.col(id_col),
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_ix", "start_tok"),
    )
    piece = F.slice(F.col("_toks"), F.col("start_tok"), width)
    return win.select(
        id_col,
        "chunk_ix",
        "start_tok",
        F.size(piece).alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )
