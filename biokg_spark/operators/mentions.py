"""Dictionary mention detection over text columns.

This is the Spark-native analog of the reference's per-record extraction
functions — the stanza/text scanners that pull entity identifiers out of
free text (reference: biokg/processing/parsers.py:193-372 ``__parse_txt_entry``,
parsers.py:927-977 ``__extract_side_effects``). The reference walks strings
one record at a time in pure Python; here the lexicon is broadcast once,
an automaton/compiled regex is built once per executor, and text flows
through ``mapInPandas`` in Arrow record batches.

Matching semantics (shared by every scan kernel, and by the DuckDB oracle SQL
in ``__spark_entry__.py``):
- case-insensitive, word-boundary anchored (a surface matches only when
  not flanked by ``[A-Za-z0-9_]``);
- at a given start offset the LONGEST surface wins;
- a surface mapping to several entities resolves to the lowest
  ``priority`` — the first-match-wins rule of the reference's ordered
  regex cascade (reference: parsers.py:976 ``break`` after first hit).
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from biokg_spark.functions.dims import local_df
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

_WORD = re.compile(r"[A-Za-z0-9_]")
_TOKEN_RX = re.compile(r"[A-Za-z0-9_]+")


class _Entry(NamedTuple):
    surface: str
    entity_id: str
    entity_type: str


class AhoCorasick:
    """Minimal Aho-Corasick automaton (dict transitions, BFS fail links).

    Pure-Python fallback for very large lexicons where a single regex
    alternation becomes unwieldy. Returns (start, surface) pairs for every
    dictionary hit; boundary/longest filtering happens in the scanner.
    """

    def __init__(self, surfaces: list[str]):
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[str]] = [[]]
        self.fail: list[int] = [0]
        for s in surfaces:
            node = 0
            for ch in s:
                nxt = self.goto[node].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[node][ch] = nxt
                node = nxt
            self.out[node].append(s)
        # BFS fail links
        from collections import deque

        q = deque()
        for child in self.goto[0].values():
            q.append(child)
        while q:
            node = q.popleft()
            for ch, child in self.goto[node].items():
                q.append(child)
                f = self.fail[node]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[child] = self.goto[f].get(ch, 0)
                if self.fail[child] == child:
                    self.fail[child] = 0
                self.out[child].extend(self.out[self.fail[child]])

    def matches(self, text: str) -> Iterator[tuple[int, str]]:
        node = 0
        for i, ch in enumerate(text):
            while node and ch not in self.goto[node]:
                node = self.fail[node]
            node = self.goto[node].get(ch, 0)
            for surf in self.out[node]:
                yield i - len(surf) + 1, surf


class MentionScanner:
    """Serializable scanner shipped to executors inside the pandas UDF.

    The lexicon rides along as plain tuples (small dim by design — the
    reference's lexicons are curated files of 10^2..10^5 names); the
    automaton/regex is compiled lazily once per executor process.
    """

    def __init__(self, lexicon: list[tuple[str, str, str, int]], backend: str = "regex"):
        if backend not in ("regex", "ac", "dict", "auto"):
            raise ValueError(f"unknown backend {backend!r}")
        self.backend = backend
        # priority resolution: lowest priority wins per surface
        best: dict[str, tuple[int, str, str]] = {}
        for surface, entity_id, entity_type, priority in lexicon:
            s = surface.lower()
            cur = best.get(s)
            cand = (priority, entity_id, entity_type)
            if cur is None or cand < cur:
                best[s] = cand
        self.surface_map: dict[str, _Entry] = {
            s: _Entry(s, eid, etype) for s, (_p, eid, etype) in best.items()
        }
        self._single_token = not any(_SPLIT_RX.search(s) for s in self.surface_map)
        if self.backend == "auto":
            # single-token lexicons: token dict-lookup (C-level tokenizer +
            # O(1) hash probes) beats the per-char Python automaton ~5-10x;
            # multi-token surfaces need the automaton
            self.backend = "dict" if self._single_token else "ac"
        if self.backend == "dict" and not self._single_token:
            raise ValueError(
                "backend='dict' requires single-token surfaces; use 'ac'"
            )
        self._rx: re.Pattern | None = None
        self._ac: AhoCorasick | None = None

    # -- lazy per-executor compilation ------------------------------------
    def _regex(self) -> re.Pattern:
        if self._rx is None:
            # longest-first alternation => Python re picks the longest
            # surface at a given start (leftmost alternative that matches)
            alts = sorted(self.surface_map, key=len, reverse=True)
            pat = r"(?<![A-Za-z0-9_])(?:%s)(?![A-Za-z0-9_])" % "|".join(
                re.escape(a) for a in alts
            )
            self._rx = re.compile(pat, re.IGNORECASE)
        return self._rx

    def _automaton(self) -> AhoCorasick:
        if self._ac is None:
            self._ac = AhoCorasick(list(self.surface_map))
        return self._ac

    # -- scanning ----------------------------------------------------------
    def scan_text(self, text: str) -> list[tuple[int, _Entry]]:
        if not text:
            return []
        if self.backend == "dict":
            # tokenizer runs in C; per-token work is one dict probe. Word
            # boundaries are the tokenizer's by construction.
            smap = self.surface_map
            return [
                (m.start(), smap[w])
                for m in _TOKEN_RX.finditer(text.lower())
                if (w := m.group(0)) in smap
            ]
        if self.backend == "regex":
            out = []
            for m in self._regex().finditer(text):
                out.append((m.start(), self.surface_map[m.group(0).lower()]))
            return out
        # AC backend: all hits, then boundary check + longest-at-start
        low = text.lower()
        by_start: dict[int, str] = {}
        for start, surf in self._automaton().matches(low):
            end = start + len(surf)
            if start > 0 and _WORD.match(low[start - 1]):
                continue
            if end < len(low) and _WORD.match(low[end]):
                continue
            prev = by_start.get(start)
            if prev is None or len(surf) > len(prev):
                by_start[start] = surf
        return [(s, self.surface_map[surf]) for s, surf in sorted(by_start.items())]

    def scan_frame(self, pdf: pd.DataFrame, text_col: str, keys: list[str]) -> pd.DataFrame:
        """Batch scan: the whole Arrow batch is scanned as ONE string.

        Texts are joined on ``\\x00`` (never a word character, never in a
        surface), so word-boundary semantics are preserved and no match
        can span rows; hits map back to their row by bisecting the row
        offset table. This replaces len(batch) Python scan calls with one
        — the per-row interpreter overhead is the hot-path tax at 10^12
        turns.
        """
        import bisect

        # Lowercase BEFORE building offsets: the scan backends match on
        # lower(blob), and Unicode lowercasing can change string length
        # ('İ' U+0130 → 'i̇', 1→2 chars) — offsets built on the original
        # texts would shift every match after such a char and attribute
        # matches near row boundaries to the wrong row. span_start is
        # therefore an offset into the LOWERCASED text (identical for
        # ASCII). lower() is idempotent, so the backends' own lowering
        # is a no-op on this blob.
        texts = ["" if t is None else t.lower() for t in pdf[text_col].tolist()]
        if not texts:
            return pd.DataFrame(
                columns=list(keys) + ["surface", "entity_id", "entity_type", "span_start"]
            )
        offsets = [0]
        for t in texts:
            offsets.append(offsets[-1] + len(t) + 1)  # +1 for the separator
        blob = "\x00".join(texts)
        key_vals = list(pdf[list(keys)].itertuples(index=False, name=None))
        rows: list[tuple] = []
        for start, e in self.scan_text(blob):
            row_i = bisect.bisect_right(offsets, start) - 1
            rows.append(
                key_vals[row_i]
                + (e.surface, e.entity_id, e.entity_type, start - offsets[row_i])
            )
        cols = list(keys) + ["surface", "entity_id", "entity_type", "span_start"]
        return pd.DataFrame(rows, columns=cols)


def scan_mentions_sql(
    df: DataFrame,
    lexicon: DataFrame | list,
    text_col: str = "text",
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """JVM-only mention scan for single-token lexicons (no Python at all).

    For surfaces without internal word-breaks, the regex scanner's
    word-boundary semantics (``(?<!\\w)surface(?!\\w)``, case-insensitive,
    longest-at-start, priority tie-break) reduce EXACTLY to token
    equality: tokenize on non-word characters, explode, broadcast-join the
    (priority-resolved) lexicon. The whole plan is whole-stage-codegen'd —
    at 10^12 turns this is the hot path and it never leaves the JVM.
    ``span_start`` is NULL on this backend (character offsets are a
    regex/AC extra that nothing downstream consumes).

    ``lexicon`` may be a DataFrame (collected driver-side, one job) or a
    plain list of (surface, entity_id, entity_type, priority) tuples —
    callers whose lexicon already lives in the driver (module-literal
    dims) pass the list and skip the collect job entirely.

    Raises if the lexicon contains multi-token surfaces — those need
    ``scan_mentions`` (automaton kernel) or ``scan_mentions_join``.
    """
    if isinstance(lexicon, list):
        lex_rows = list(lexicon)
    else:
        lex_rows = [
            (r["surface"], r["entity_id"], r["entity_type"], r["priority"])
            for r in lexicon.select(
                "surface", "entity_id", "entity_type", "priority"
            ).collect()
        ]
    resolved = MentionScanner(lex_rows).surface_map  # priority pre-resolved
    if any(_SPLIT_RX.search(s) for s in resolved):
        raise ValueError(
            "scan_mentions_sql requires single-token surfaces; "
            "use scan_mentions or scan_mentions_join for multi-word lexicons"
        )
    spark = df.sparkSession
    lex_df = F.broadcast(
        local_df(
            spark,
            [(s, e.entity_id, e.entity_type) for s, e in resolved.items()],
            "surface string, entity_id string, entity_type string",
        )
    )
    keys_l = list(keys)
    toks = F.split(F.lower(F.col(text_col)), _SPLIT_PATTERN)
    hits = (
        df.select(*keys_l, F.explode(toks).alias("_w"))
        .where(F.col("_w") != "")
    )
    joined = hits.join(lex_df, hits._w == lex_df.surface)
    # span_start is a regex/AC-backend extra (character offsets have no
    # token-join equivalent); NULL here — nothing downstream consumes it
    return joined.select(
        *keys_l,
        "surface",
        "entity_id",
        "entity_type",
        F.lit(None).cast("int").alias("span_start"),
    )


_SPLIT_PATTERN = "[^A-Za-z0-9_]+"
_SPLIT_RX = re.compile(_SPLIT_PATTERN)


def scan_mentions_join(
    df: DataFrame,
    lexicon: DataFrame,
    text_col: str = "text",
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    max_surface_tokens: int | None = None,
) -> DataFrame:
    """Lexicon-JOIN mention scan: multi-token surfaces, ZERO driver
    materialization of the lexicon (r3 verdict item 6).

    The other scans collect the lexicon driver-side before
    broadcasting — correct for curated dims (measured to 10^6 surfaces,
    SCALE.md) but impossible at a 10^7..10^8-row derived lexicon. This
    scan keeps the lexicon distributed end-to-end:

    1. lexicon side: normalize each surface to its word-token sequence
       (lowercased, split on non-word runs) and resolve the priority
       tie-break per normalized surface with a row_number window over
       (priority, entity_id, entity_type) — dim-side sort only;
    2. text side: emit positioned word n-grams for n = 1..M (M = max
       surface token count — either passed, or ONE scalar aggregate on
       the lexicon; never a row collect). Cost is tokens x M rows,
       linear in corpus size;
    3. equi-join on the n-gram string — Catalyst picks broadcast-hash
       when the lexicon fits under the threshold and shuffle-hash/SMJ
       beyond it, which is exactly the scale behavior wanted;
    4. longest-at-start: per (keys, pos) keep the max token count via a
       row_number window over the MATCHED set (sparse vs the n-gram
       explode) — one shuffle + one sort, vs the former
       max(struct(...)) aggregate whose struct buffer forced
       Sort+SortAggregate (two sorts).

    Semantics vs the automaton: word-SEQUENCE granularity. Tokenizing
    both sides means any non-word separator run matches any other
    ("heat-shock protein" text matches surface "heat shock protein");
    the automaton matches the literal surface bytes only. For lexicons
    whose surfaces are single-space-separated and word-boundary-clean —
    every curated lexicon here — the two are identical (pinned by
    parity test). ``surface`` in the output is the NORMALIZED form;
    ``span_start`` is NULL (offsets are a regex/AC extra).
    """
    keys_l = list(keys)
    norm = F.filter(
        F.split(F.lower(F.col("surface")), _SPLIT_PATTERN), lambda x: x != ""
    )
    # priority tie-break per normalized surface: row_number window, NOT
    # min(struct(...)) — min/max over a struct-of-string buffer is not
    # HashAggregate-able and planned as Sort+SortAggregate (two sorts of
    # the input); the window is one shuffle + one sort, and it runs on
    # the LEXICON side (dim-sized), never the corpus
    w_lex = Window.partitionBy("g", "n").orderBy(
        "priority", "entity_id", "entity_type"
    )
    lex_norm = (
        lexicon.select(
            norm.alias("_toks"), "entity_id", "entity_type", "priority"
        )
        .where(F.size("_toks") > 0)
        .select(
            F.concat_ws(" ", "_toks").alias("g"),
            F.size("_toks").alias("n"),
            "priority",
            "entity_id",
            "entity_type",
        )
        .withColumn("_rk", F.row_number().over(w_lex))
        .where(F.col("_rk") == 1)
        .select("g", "n", "entity_id", "entity_type")
    )
    lex_count = None
    if max_surface_tokens is None:
        # one scalar aggregate — the only driver-visible values; the
        # lexicon ROWS never leave the executors
        stats = lex_norm.agg(
            F.max("n").alias("m"), F.count(F.lit(1)).alias("c")
        ).first()
        max_surface_tokens = stats["m"] or 1
        lex_count = stats["c"]

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
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), _SPLIT_PATTERN), lambda x: x != ""
    )
    # _toks materialized in its own select BELOW the explode: the gram
    # arrays are the generator argument (computed once per row), but the
    # token split itself must not be re-inlined per exploded element
    # (catalyst explode co-location hazard, SCALE.md)
    ng = (
        df.select(*keys_l, toks.alias("_toks"))
        .select(*keys_l, F.explode(F.concat(*grams)).alias("ng"))
        .select(*keys_l, "ng.pos", "ng.n", "ng.g")
    )
    # g determines n (token count is spaces+1), so the join key is g alone.
    # Strategy: the corpus n-gram side must NEVER be the broadcast side —
    # Catalyst's size estimate for an exploded scan is the parquet bytes,
    # which undercounts the fan-out by ~tokens x M and flips the build
    # side (measured: 12 s vs 1.5 s at sf0.1 with a 147-surface lexicon).
    # When the lexicon is known dim-sized, broadcast IT explicitly; when
    # its size is unknown or huge, pin a shuffle join (AQE still handles
    # skew at runtime).
    lex_j = lex_norm.drop("n")
    if lex_count is not None and lex_count <= 2_000_000:
        hits = ng.join(F.broadcast(lex_j), "g")
    else:
        hits = ng.hint("shuffle_hash").join(lex_j, "g")
    # longest-at-start: per (keys, pos) keep the longest matched gram.
    # n alone determines the winner — the gram text at a given (row,
    # pos, n) is unique and g is unique in lex_j after the tie-break —
    # so the ordering needs no string columns; they ride along. A
    # row_number window (ONE shuffle + ONE sort of the matched set,
    # which is sparse relative to the n-gram explode) replaces the old
    # max(struct(n, g, ...)): struct buffers are not HashAggregate-able
    # and that aggregate planned as Sort+SortAggregate — the matched set
    # sorted twice (map-side partial and final).
    w_best = Window.partitionBy(*keys_l, "pos").orderBy(F.desc("n"))
    best = (
        hits.withColumn("_rk", F.row_number().over(w_best))
        .where(F.col("_rk") == 1)
        .select(
            *keys_l,
            F.col("g").alias("surface"),
            "entity_id",
            "entity_type",
            F.lit(None).cast("int").alias("span_start"),
        )
    )
    return best


def scan_mentions(
    df: DataFrame,
    lexicon: DataFrame,
    text_col: str = "text",
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Scan ``df[text_col]`` for lexicon surfaces → mention rows.

    Output: ``keys + (surface, entity_id, entity_type, span_start)``.

    The kernel follows from the lexicon (measured on 750k 40-word turns,
    local[8]):
    - single-token surfaces: ``'dict'`` — C-level tokenizer + hash probe
      per token, lexicon-size independent (4.4 s; 12.7 µs/text at a
      20k-surface lexicon vs 33.6 µs for the automaton);
    - otherwise ``'ac'``: Aho-Corasick automaton built once per executor
      — linear in text length regardless of lexicon size, handles
      multi-word surfaces (6.0 s at 147 surfaces).

    The JVM-only scans are separate entry points: ``scan_mentions_sql``
    (single-token, no Python in the plan) and ``scan_mentions_join``
    (multi-token, the lexicon never leaves the executors).

    Every Arrow batch is scanned as one concatenated string (`\\x00`
    separators preserve boundary semantics); hits map back to rows by
    offset bisection — no per-row Python call overhead.

    The lexicon ships to executors as a TorrentBroadcast (one copy per
    executor, bittorrent-style distribution), NOT in the UDF closure —
    closure capture re-serializes the entry list into every task binary,
    which bloats scheduling at 10^6+-surface lexicons. The scanner object
    itself is rebuilt once per executor process from the broadcast value
    and cached (automaton/dict construction is one-time per executor).
    """
    lex_rows = [
        (r["surface"], r["entity_id"], r["entity_type"], r["priority"])
        for r in lexicon.select("surface", "entity_id", "entity_type", "priority").collect()
    ]
    # driver-side construction picks the kernel from the lexicon
    scanner = MentionScanner(lex_rows, backend="auto")
    bc = df.sparkSession.sparkContext.broadcast(lex_rows)
    resolved_backend = scanner.backend
    import hashlib

    # full-content fingerprint: ~100 ms driver-side at 10^6 surfaces, and
    # it can never serve a stale scanner for a different lexicon
    h = hashlib.md5()
    for row in lex_rows:
        h.update(repr(row).encode())
    lex_key = h.hexdigest() + "|" + resolved_backend
    key_fields = [df.schema[k] for k in keys]
    schema = StructType(
        key_fields
        + [
            StructField("surface", StringType()),
            StructField("entity_id", StringType()),
            StructField("entity_type", StringType()),
            StructField("span_start", IntegerType()),
        ]
    )
    keys_l = list(keys)
    sel = df.select(*keys_l, text_col)

    def scan_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        local = _executor_scanner(bc, resolved_backend, lex_key)
        for pdf in batches:
            out = local.scan_frame(pdf, text_col, keys_l)
            if len(out):
                yield out

    return sel.mapInPandas(scan_batches, schema=schema)


# Per-executor-process scanner cache: the automaton / token dict builds
# once per (lexicon fingerprint, backend) per python worker, not once per
# task. Keyed by a driver-computed content fingerprint — worker-side
# Broadcast objects expose no stable id across tasks.
_SCANNER_CACHE: dict[str, MentionScanner] = {}


def _executor_scanner(bc, backend: str, key: str) -> MentionScanner:
    s = _SCANNER_CACHE.get(key)
    if s is None:
        s = MentionScanner(bc.value, backend=backend)
        _SCANNER_CACHE[key] = s
    return s
