"""Column-level text functions — all JVM-side built-ins (no UDFs).

``sanitize_text`` mirrors the reference's identifier normalization
(reference: parsers.py:116-131 ``sanatize_text`` maps ``[^a-zA-Z0-9]→_``;
parsers.py:134-135 lowercases and joins on ``_``). The rest are the
text-analysis primitives a 100 TB training-data pipeline needs: token
counting, n-gram-free language ID, quality scoring, content
fingerprinting. Each is a pure Column expression so it rides whole-stage
codegen and pushes through Catalyst untouched.

Every function here has an exact ANSI-SQL twin used as the DuckDB oracle
in ``__spark_entry__.py`` — keep the two in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny English stopword list shared by lang_id and quality_score. Fixed and
# duplicated verbatim in the oracle SQL — do not reorder casually.
STOPWORDS = [
    "the", "a", "of", "to", "and", "in", "that", "it", "is", "was",
    "for", "on", "are", "as", "with", "be", "this", "have", "from", "or",
]


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def sanitize_text(col: Column | str) -> Column:
    """Identifier-safe form: non-alphanumerics → ``_`` (reference F5)."""
    return F.regexp_replace(_c(col), "[^a-zA-Z0-9]", "_")


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed, lowercased text (array<string>)."""
    return F.split(F.lower(F.trim(_c(col))), "\\s+")


def token_count(col: Column | str) -> Column:
    """Number of whitespace-delimited tokens; 0 for empty/blank text."""
    t = F.trim(_c(col))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, "\\s+")))


# BPE-ish pre-tokenization pattern (GPT-2-style word/number/punct splits,
# ASCII-simplified so Spark's Java regex and DuckDB's RE2 agree exactly):
# letter runs, digit runs, and single non-alphanumeric non-space marks.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def bpe_token_count(col: Column | str) -> Column:
    """Token count under the BPE-ish pre-tokenizer (0 for empty text)."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_PATTERN), 0))


def _stopword_hits(col: Column | str) -> Column:
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    return F.size(F.filter(tokens(col), lambda w: F.array_contains(stop_arr, w)))


def lang_id(col: Column | str, threshold: float = 0.10) -> Column:
    """Heuristic language ID: 'en' when the stopword ratio clears the
    threshold, else 'xx'. (The container has no langid library; this is
    the deterministic n-gram-free stand-in, exact-oracled in SQL.)"""
    n = token_count(col)
    ratio = _stopword_hits(col) / F.greatest(n, F.lit(1))
    return F.when((n > 0) & (ratio >= F.lit(threshold)), F.lit("en")).otherwise(
        F.lit("xx")
    )


# Characteristic character-trigram profiles (tiny, illustrative — a real
# deployment ships fastText/CLD3-style profiles; the mechanism is what
# matters: pure Column ops, no UDF, exact SQL twin).
NGRAM_PROFILES: dict[str, list[str]] = {
    "en": [" th", "the", "he ", "nd ", " an", "ing", " of", "ion"],
    "de": ["der", "ein", "sch", "ich", "und", "die", "cht", "gen"],
    "fr": ["les", " le", "de ", "ent", "que", "ais", "eur", "our"],
}


def lang_id_ngram(col: Column | str, min_hits: int = 1) -> Column:
    """Character-n-gram language ID: count each profile's characteristic
    trigrams present in the text, argmax wins (ties broken by profile
    order), 'xx' when no profile reaches ``min_hits``."""
    c = F.lower(_c(col))
    scores = {
        lang: sum(
            (F.instr(c, g) > 0).cast("int")
            for g in grams
        )
        for lang, grams in NGRAM_PROFILES.items()
    }
    best_lang = F.lit("xx")
    best_score = F.lit(0)
    # iterate in reverse so earlier profiles win ties
    for lang in reversed(list(scores)):
        s = scores[lang]
        take = (s >= F.lit(min_hits)) & (s >= best_score)
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(take, s).otherwise(best_score)
    return best_lang


def quality_score(col: Column | str) -> Column:
    """Composite quality in [0,1]: length band + stopword presence +
    alpha ratio. Deterministic, rounded to 4 dp for cross-engine hashing."""
    c = _c(col)
    n = token_count(col)
    len_ok = F.when((n >= 5) & (n <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ratio = _stopword_hits(col) / F.greatest(n, F.lit(1))
    alpha = F.length(F.regexp_replace(c, "[^a-zA-Z]", "")) / F.greatest(
        F.length(c), F.lit(1)
    )
    score = 0.4 * len_ok + 0.3 * F.least(stop_ratio * 5, F.lit(1.0)) + 0.3 * alpha
    return F.round(score, 4)


def split_assign(col: Column | str, fractions: dict[str, float]) -> Column:
    """Label each row 'train'/'val'/… deterministically by content hash.

    The split primitive every training-data pipeline needs: assignment
    depends only on the id value, so it is stable across runs, partitions,
    engines, and dataset growth (unlike ``randomSplit``, which reshuffles
    whenever the input changes). Implementation is engine-portable by
    construction: the first 4 hex chars of md5 compare LEXICOGRAPHICALLY
    like the number they encode, so thresholds are hex-string literals any
    SQL engine evaluates identically (granularity 1/65536). ``fractions``
    maps label → share (sum ≤ 1; remainder labeled NULL)."""
    h = F.substring(F.md5(_c(col).cast("string")), 1, 4)
    expr = F.lit(None).cast("string")
    acc = 0.0
    for label, frac in fractions.items():
        lo, acc = acc, acc + frac * 65536
        # clamp to 'ffff' so a cumulative 1.0 stays a 4-char hex compare
        # (the single 'ffff' hash value lands in the NULL remainder)
        lo_hex = format(min(int(lo), 65535), "04x")
        hi_hex = format(min(int(acc), 65535), "04x")
        expr = F.when((h >= lo_hex) & (h < hi_hex), F.lit(label)).otherwise(expr)
    return expr


def doc_fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text (lowercased,
    whitespace collapsed) — the exact-dedup key. md5 is bit-identical in
    Spark and DuckDB, so the oracle compares directly."""
    norm = F.regexp_replace(F.lower(F.trim(_c(col))), "\\s+", " ")
    return F.md5(norm)


def distinct_token_count(col: Column | str) -> Column:
    """Number of DISTINCT whitespace tokens (vocabulary size per row).
    Together with ``token_count`` this gives the type/token ratio —
    the classic Gopher-style repetition signal. 0 for empty/blank text
    (``split('')`` yields ``['']``, which would otherwise count as one
    token and make the type/token pair inconsistent: 1 distinct over 0
    total)."""
    t = F.trim(_c(col))
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.array_distinct(tokens(col)))
    )


def trigram_dup_count(col: Column | str) -> Column:
    """How many of the row's word trigrams are repeats of an earlier
    trigram in the SAME row (Gopher's duplicate-n-gram repetition
    filter, n=3). 0 for texts under three tokens. The n-2 trigram array
    is row-local, never exploded.

    Both the token array and the trigram array are LET-BOUND via
    ``transform()`` over a singleton array: referencing the ``split()``
    expression from inside the per-trigram lambda re-inlines it
    (Catalyst), re-running the split for every ``element_at`` — O(n²)
    splits per row, measured as a single-core multi-minute stall on
    5k documents of ~500 tokens. Lambda variables bind exactly once.
    Same hazard family as functions/cascade.py ddi_effects_column."""

    def over_trigrams(tri: Column) -> Column:
        return F.size(tri) - F.size(F.array_distinct(tri))

    def over_tokens(t: Column) -> Column:
        n = F.size(t)
        # sequence(1, n-2) would run DESCENDING for n < 3 (Spark infers
        # a negative step), so the short-text case is guarded explicitly
        tri = F.when(
            n >= 3,
            F.transform(
                F.sequence(F.lit(1), n - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(t, i),
                    F.element_at(t, i + 1),
                    F.element_at(t, i + 2),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.element_at(F.transform(F.array(tri), over_trigrams), 1)

    return F.element_at(F.transform(F.array(tokens(col)), over_tokens), 1)


# PII patterns, ASCII-simplified so Spark's Java regex and DuckDB's RE2
# agree exactly (same discipline as BPE_PATTERN). ORDER MATTERS and is
# part of the contract: email first (its local part can contain digit
# runs), then the digit-shaped ids from most to least specific — the
# generic phone pattern would otherwise eat SSN/IP substrings.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>"),
    ("ipv4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+?[0-9][0-9\\- ]{7,14}[0-9]", "<PHONE>"),
]


def pii_scrub(col: Column | str) -> Column:
    """Text with emails / SSNs / IPv4s / phone-shaped digit runs replaced
    by typed placeholder tokens — the standard pre-training scrub pass.
    A chain of 4 ``regexp_replace`` Column expressions (whole-stage
    codegen, no UDF); the same four patterns applied in the same order
    are the exact DuckDB oracle (``regexp_replace(..., 'g')``)."""
    out = _c(col)
    for _name, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(col: Column | str) -> list[Column]:
    """Per-type PII match counts (BEFORE scrubbing), aliased
    ``n_<type>`` — the audit-side twin of :func:`pii_scrub` (report how
    much was found, don't just silently rewrite). Counts use the same
    sequential-masking discipline as the scrub so a phone never
    double-counts an SSN's digits: each type is counted on the text
    with all EARLIER types already scrubbed."""
    cols = []
    masked = _c(col)
    for name, pat, repl in PII_PATTERNS:
        cols.append(
            F.size(F.regexp_extract_all(masked, F.lit(pat), 0)).alias(f"n_{name}")
        )
        masked = F.regexp_replace(masked, pat, repl)
    return cols
