"""Dictionary mention detection over text columns.

This is the Spark-native analog of the reference's per-record extraction
functions — the stanza/text scanners that pull entity identifiers out of
free text (reference: biokg/processing/parsers.py:193-372 ``__parse_txt_entry``,
parsers.py:927-977 ``__extract_side_effects``). The reference walks strings
one record at a time in pure Python; here both sides are tokenized into
word sequences and matched by an equi-join, entirely in the JVM.

Matching semantics (shared with the DuckDB oracle SQL in
``__spark_entry__.py``):
- case-insensitive, word-boundary anchored: text and surfaces are both
  lowercased and split on runs of non-word characters (anything outside
  ``[A-Za-z0-9_]``), and a surface matches a contiguous run of text
  tokens;
- at a given start token the LONGEST surface wins;
- a surface mapping to several entities resolves to the lowest
  ``priority`` — the first-match-wins rule of the reference's ordered
  regex cascade (reference: parsers.py:976 ``break`` after first hit).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from biokg_spark.functions.dims import local_df

_SPLIT_PATTERN = "[^A-Za-z0-9_]+"
_SPLIT_RX = re.compile(_SPLIT_PATTERN)


def _tokens(col: Column) -> Column:
    return F.filter(F.split(F.lower(col), _SPLIT_PATTERN), lambda x: x != "")


def normalize_surface(col: Column) -> Column:
    """A surface in the form ``scan_mentions`` emits and matches on: its
    lowercased word tokens joined by single spaces."""
    return F.concat_ws(" ", _tokens(col))


def _resolved_lexicon(lexicon: list) -> list[tuple[str, str, str]]:
    """The list-lexicon tie-break in Python: per normalized surface, the
    entity with the least ``(priority, entity_id, entity_type)``."""
    best: dict[str, tuple] = {}
    for surface, entity_id, entity_type, priority in lexicon:
        g = " ".join(t for t in _SPLIT_RX.split(surface.lower()) if t)
        cand = (priority, entity_id, entity_type)
        if g and (g not in best or cand < best[g]):
            best[g] = cand
    return [(g, eid, etype) for g, (_p, eid, etype) in best.items()]


def scan_mentions(
    df: DataFrame,
    lexicon: DataFrame | list,
    text_col: str = "text",
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    max_surface_tokens: int | None = None,
) -> DataFrame:
    """Scan ``df[text_col]`` for lexicon surfaces → mention rows
    ``keys + (surface, entity_id, entity_type)``, one per occurrence.

    ``lexicon`` is ``(surface, entity_id, entity_type, priority)`` rows,
    either as a DataFrame or as a plain list of tuples:

    - a list (a dim that already lives in the driver) is tie-broken in
      Python and ships as a literal ``local_df``: no job fires while the
      scan is built;
    - a DataFrame stays distributed: surfaces are tokenized and tie-broken
      by a row_number window on the lexicon side (dim-sized, never the
      corpus), and the longest surface M comes from ONE scalar
      ``(max n, count)`` aggregate unless ``max_surface_tokens`` is
      passed. The lexicon rows never reach the driver, which is what a
      10^7..10^8-row derived lexicon needs.

    The text side depends on M:

    - M == 1 (every curated lexicon here): explode the text tokens and
      equi-join them against the lexicon. After the tie-break a position
      matches at most one surface, so no longest-at-start step is needed;
    - M > 1: emit positioned word n-grams for n = 1..M (tokens x M rows,
      linear in corpus size), equi-join on the n-gram string, then keep
      the longest match per (keys, start) with a row_number window over
      the MATCHED set, which is sparse against the n-gram explode.

    The corpus side is never the broadcast side: Catalyst sizes an
    exploded scan by its parquet bytes, which undercounts the fan-out by
    ~tokens x M and flips the build side (measured: 12 s vs 1.5 s at
    sf0.1 with a 147-surface lexicon). A lexicon of known size up to 2M
    rows is broadcast explicitly; one of unknown or larger size pins a
    shuffle-hash join (AQE still handles skew at runtime).

    Multi-token surfaces match as word SEQUENCES: any run of non-word
    characters in the text matches any other ("heat-shock protein"
    matches the surface "heat shock protein"). ``surface`` in the output
    is the normalized form (``normalize_surface``).
    """
    keys_l = list(keys)
    lex_count = None
    if isinstance(lexicon, list):
        rows = _resolved_lexicon(lexicon)
        lex_j = local_df(
            df.sparkSession, rows, "g string, entity_id string, entity_type string"
        )
        lex_count = len(rows)
        if max_surface_tokens is None:
            max_surface_tokens = max((g.count(" ") + 1 for g, _, _ in rows), default=1)
    else:
        lex_toks = lexicon.select(
            _tokens(F.col("surface")).alias("_toks"),
            "entity_id",
            "entity_type",
            "priority",
        ).where(F.size("_toks") > 0)
        if max_surface_tokens is None:
            # one scalar aggregate — the only driver-visible values. It
            # runs below the tie-break window, so it shuffles nothing but
            # partial aggregates; its count bounds the resolved rows
            stats = lex_toks.agg(
                F.max(F.size("_toks")).alias("m"), F.count(F.lit(1)).alias("c")
            ).first()
            max_surface_tokens = stats["m"] or 1
            lex_count = stats["c"]
        # priority tie-break per normalized surface: row_number window, NOT
        # min(struct(...)) — min/max over a struct-of-string buffer is not
        # HashAggregate-able and plans as Sort+SortAggregate (two sorts)
        w_lex = Window.partitionBy("g").orderBy("priority", "entity_id", "entity_type")
        lex_j = (
            lex_toks.select(
                F.concat_ws(" ", "_toks").alias("g"),
                "priority",
                "entity_id",
                "entity_type",
            )
            .withColumn("_rk", F.row_number().over(w_lex))
            .where(F.col("_rk") == 1)
            .select("g", "entity_id", "entity_type")
        )

    if max_surface_tokens == 1:
        # split + explode + a row filter, all codegen'd: the higher-order
        # filter in _tokens is CodegenFallback, interpreted per corpus row
        words = df.select(
            *keys_l,
            F.explode(F.split(F.lower(F.col(text_col)), _SPLIT_PATTERN)).alias("g"),
        ).where(F.col("g") != "")
    else:
        gram_t = "array<struct<pos:int,n:int,g:string>>"

        def _grams_of(n: int):
            # closure, NOT a defaulted lambda parameter: pyspark dispatches
            # on lambda arity, so `lambda i, n=n:` would receive (element,
            # index) and silently bind n to the 0-based index
            return F.transform(
                F.sequence(F.lit(1), F.size("_toks") - n + 1),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.lit(n).alias("n"),
                    F.concat_ws(" ", F.slice("_toks", i, n)).alias("g"),
                ),
            )

        grams = [
            F.when(F.size("_toks") >= n, _grams_of(n)).otherwise(
                F.array().cast(gram_t)
            )
            # sequence(1, size-n+1) runs DESCENDING when size < n (negative
            # inferred step) — the when() guard above is load-bearing
            for n in range(1, max_surface_tokens + 1)
        ]
        # _toks materialized in its own select BELOW the explode: the gram
        # arrays are the generator argument (computed once per row), but the
        # token split itself must not be re-inlined per exploded element
        # (catalyst explode co-location hazard, SCALE.md)
        words = (
            df.select(*keys_l, _tokens(F.col(text_col)).alias("_toks"))
            .select(*keys_l, F.explode(F.concat(*grams)).alias("ng"))
            .select(*keys_l, "ng.pos", "ng.n", "ng.g")
        )

    # g determines n (token count is spaces+1), so the join key is g alone
    if lex_count is not None and lex_count <= 2_000_000:
        hits = words.join(F.broadcast(lex_j), "g")
    else:
        hits = words.hint("shuffle_hash").join(lex_j, "g")
    if max_surface_tokens > 1:
        # longest-at-start: n alone decides the winner at a (row, pos) —
        # the gram text there is unique per n, and g is unique in lex_j
        w_best = Window.partitionBy(*keys_l, "pos").orderBy(F.desc("n"))
        hits = hits.withColumn("_rk", F.row_number().over(w_best)).where(
            F.col("_rk") == 1
        )
    return hits.select(
        *keys_l, F.col("g").alias("surface"), "entity_id", "entity_type"
    )
