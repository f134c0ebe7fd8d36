from __future__ import annotations

from collections import Counter

import pytest

from biokg_spark.operators.mentions import (
    AhoCorasick,
    MentionScanner,
    scan_mentions,
    scan_mentions_join,
    scan_mentions_sql,
)

LEX = [
    ("aspirin", "DB001", "DRUG", 0),
    ("aspirin complex", "DB002", "DRUG", 0),  # longer surface wins
    ("tp53", "P001", "PROTEIN", 0),
    ("ambig", "P999", "PROTEIN", 1),
    ("ambig", "DB999", "DRUG", 0),  # lower priority wins
]


MULTISET_COLS = ["conv_id", "turn_idx", "surface", "entity_id", "entity_type"]


def _multiset(df):
    """(keys, surface, entity) multiset of a Spark mention frame."""
    return Counter(tuple(r) for r in df.select(*MULTISET_COLS).collect())


def _kernel_multiset(lexicon, backend, pdf):
    """The same multiset from one MentionScanner kernel run on pandas."""
    out = MentionScanner(_lex_rows(lexicon), backend=backend).scan_frame(
        pdf, "text", ["conv_id", "turn_idx"]
    )
    return Counter(
        (c, int(t), s, e, ty) for c, t, s, e, ty in out[MULTISET_COLS].itertuples(
            index=False, name=None
        )
    )


def _lex_rows(lexicon):
    return [
        (r.surface, r.entity_id, r.entity_type, r.priority)
        for r in lexicon.select(
            "surface", "entity_id", "entity_type", "priority"
        ).collect()
    ]


@pytest.mark.parametrize("backend", ["regex", "ac"])
class TestScanner:
    def test_word_boundaries(self, backend):
        s = MentionScanner(LEX, backend=backend)
        assert [e.entity_id for _, e in s.scan_text("take aspirin daily")] == ["DB001"]
        # substring inside a word must not match
        assert s.scan_text("aspirinx and xaspirin") == []
        assert [e.entity_id for _, e in s.scan_text("aspirin, twice")] == ["DB001"]

    def test_longest_match_wins(self, backend):
        s = MentionScanner(LEX, backend=backend)
        got = [e.entity_id for _, e in s.scan_text("use aspirin complex now")]
        assert got == ["DB002"]

    def test_priority_tiebreak(self, backend):
        s = MentionScanner(LEX, backend=backend)
        got = [e.entity_id for _, e in s.scan_text("ambig here")]
        assert got == ["DB999"]

    def test_case_insensitive(self, backend):
        s = MentionScanner(LEX, backend=backend)
        assert [e.entity_id for _, e in s.scan_text("TP53 and Aspirin")] == [
            "P001",
            "DB001",
        ]

    def test_empty_and_none(self, backend):
        s = MentionScanner(LEX, backend=backend)
        assert s.scan_text("") == []
        assert s.scan_text(None) == []


def test_backend_parity():
    texts = [
        "aspirin complex with tp53 and ambig",
        "no hits at all",
        "ASPIRIN tp53 aspirin",
        "",
    ]
    rx = MentionScanner(LEX, backend="regex")
    ac = MentionScanner(LEX, backend="ac")
    for t in texts:
        assert rx.scan_text(t) == ac.scan_text(t), t


def test_aho_corasick_finds_all_overlapping():
    a = AhoCorasick(["he", "she", "his", "hers"])
    got = sorted(a.matches("ushers"))
    assert got == [(1, "she"), (2, "he"), (2, "hers")]


def test_scan_mentions_dataframe(spark):
    df = spark.createDataFrame(
        [("c1", 0, "aspirin and tp53"), ("c1", 1, "nothing"), ("c2", 0, "TP53 TP53")],
        "conv_id string, turn_idx int, text string",
    )
    lex = spark.createDataFrame(
        LEX, "surface string, entity_id string, entity_type string, priority int"
    )
    out = scan_mentions(df, lex).collect()
    got = {(r.conv_id, r.turn_idx, r.entity_id) for r in out}
    assert got == {("c1", 0, "DB001"), ("c1", 0, "P001"), ("c2", 0, "P001")}
    # two occurrences in c2 turn 0 → two rows with distinct spans
    assert len([r for r in out if r.conv_id == "c2"]) == 2


def test_sql_backend_parity_with_regex(spark):
    """The pure-JVM tokenize-and-join scan must agree with the regex and
    dict kernels and with ``scan_mentions`` on (keys, surface, entity)
    multisets for single-token lexicons (span_start is a kernel extra)."""
    from biokg_spark.datagen import entity_lexicon, transcripts

    tx = transcripts(spark, n_conversations=30)
    lex = entity_lexicon(spark)
    pdf = tx.toPandas()

    sql = _multiset(scan_mentions_sql(tx, lex))
    assert sql == _kernel_multiset(lex, "regex", pdf)
    assert sql == _kernel_multiset(lex, "dict", pdf)
    assert sql == _multiset(scan_mentions(tx, lex))


def test_sql_backend_rejects_multiword(spark):
    lex = spark.createDataFrame(
        [("two words", "E1", "T", 0)],
        "surface string, entity_id string, entity_type string, priority int",
    )
    df = spark.createDataFrame([("c", 0, "x two words y")],
                               "conv_id string, turn_idx int, text string")
    with pytest.raises(ValueError, match="single-token"):
        scan_mentions_sql(df, lex)


def test_unicode_length_changing_lowercase_offsets(spark):
    """'İ' (U+0130) lowercases to TWO chars ('i' + combining dot); offsets
    must be computed on the SAME lowered string the kernels scan, or
    every match after such a char shifts and row attribution near batch
    boundaries breaks silently."""
    lex = spark.createDataFrame(
        [("tp53", "P001", "PROTEIN", 0)],
        "surface string, entity_id string, entity_type string, priority int",
    )
    df = spark.createDataFrame(
        [
            ("c0", 0, "İİİİİİİİİİ before tp53 here"),   # 10 length-changing chars
            ("c0", 1, "plain ascii tp53 row"),
            ("c0", 2, "İstanbul İİİ tp53 and tp53 again"),
        ],
        "conv_id string, turn_idx int, text string",
    ).coalesce(1)  # one Arrow batch -> all rows share one blob
    pdf = df.toPandas()  # the kernels scan one frame as one blob too
    runs = {
        backend: list(
            MentionScanner(_lex_rows(lex), backend=backend)
            .scan_frame(pdf, "text", ["conv_id", "turn_idx"])
            .itertuples(index=False)
        )
        for backend in ("dict", "ac", "regex")
    }
    runs["scan_mentions"] = scan_mentions(df, lex).collect()
    for name, rows in runs.items():
        got = sorted((int(r.turn_idx), r.surface) for r in rows)
        assert got == [(0, "tp53"), (1, "tp53"), (2, "tp53"), (2, "tp53")], name
        # span_start indexes into the LOWERCASED text
        for r in rows:
            low = {0: "İİİİİİİİİİ before tp53 here",
                   1: "plain ascii tp53 row",
                   2: "İstanbul İİİ tp53 and tp53 again"}[int(r.turn_idx)].lower()
            assert low[r.span_start : r.span_start + 4] == "tp53", name


def test_lexicon_broadcast_executor_cache(spark):
    """Two scans with the same lexicon content reuse one executor-side
    scanner build (fingerprint-keyed cache); a different lexicon misses."""
    from biokg_spark.operators import mentions as M

    lex = spark.createDataFrame(
        [("tp53", "P001", "PROTEIN", 0)],
        "surface string, entity_id string, entity_type string, priority int",
    )
    df = spark.createDataFrame([("c", 0, "tp53 x")], "conv_id string, turn_idx int, text string")
    assert scan_mentions(df, lex).count() == 1
    assert scan_mentions(df, lex).count() == 1
    # local mode shares the process: the cache holds exactly one scanner
    # per (lexicon fingerprint, kernel); a single-token lexicon runs 'dict'
    keys = [k for k in M._SCANNER_CACHE if k.endswith("|dict")]
    assert len({k for k in keys}) == len(set(keys))  # sanity


def test_join_backend_parity_single_token(spark):
    """``scan_mentions_join`` agrees with ``scan_mentions`` (the dict
    kernel) on single-token lexicons (the common curated-dim case)."""
    from biokg_spark.datagen import entity_lexicon, transcripts

    tx = transcripts(spark, n_conversations=30)
    lex = entity_lexicon(spark)

    assert _multiset(scan_mentions_join(tx, lex)) == _multiset(scan_mentions(tx, lex))


def test_join_backend_multiword_parity_with_ac(spark):
    """``scan_mentions_join`` reproduces the automaton's multi-token
    semantics — word boundaries, longest-at-start, priority tie-break,
    overlapping hits at different starts — on space-separated surfaces."""
    lex = spark.createDataFrame(
        [
            ("heat shock protein", "P1", "PROTEIN", 0),
            ("heat shock", "P2", "PROTEIN", 0),
            ("shock", "D1", "DISEASE", 0),
            ("protein", "T1", "TERM", 0),
            ("aspirin", "DB1", "DRUG", 0),
            ("aspirin", "DB2", "DRUG", 1),  # loses the tie-break
        ],
        "surface string, entity_id string, entity_type string, priority int",
    )
    df = spark.createDataFrame(
        [
            ("c0", 0, "the Heat Shock Protein binds aspirin"),
            ("c0", 1, "shock without heat"),
            ("c0", 2, "heatshock is one word: no boundary match"),
            ("c0", 3, ""),
        ],
        "conv_id string, turn_idx int, text string",
    )
    got = _multiset(scan_mentions_join(df, lex))
    # multi-token surfaces: scan_mentions runs the automaton ('ac') kernel
    assert got == _multiset(scan_mentions(df, lex))
    assert got == _kernel_multiset(lex, "ac", df.toPandas())
    # and the semantics themselves, pinned: longest wins at pos 0 of turn
    # 0 ("heat shock protein" not "heat shock"), contained surfaces still
    # hit at LATER starts ("shock", "protein"), tie-break picks DB1
    t0 = {(r[2], r[3]) for r in got if r[1] == 0}
    assert t0 == {
        ("heat shock protein", "P1"),
        ("shock", "D1"),
        ("protein", "T1"),
        ("aspirin", "DB1"),
    }
    assert not any(r[1] == 2 for r in got)  # no boundary-less match


def test_join_backend_huge_lexicon_no_driver_materialization(spark):
    """The join backend scans against a 10^7-surface lexicon that is
    never collected to the driver: the lexicon exists only as a JVM-side
    range expression, and matches come back exact."""
    from pyspark.sql import functions as F

    lex = spark.range(10_000_000).select(
        F.concat(F.lit("ent"), F.col("id").cast("string"), F.lit(" protein")).alias(
            "surface"
        ),
        F.concat(F.lit("P"), F.col("id").cast("string")).alias("entity_id"),
        F.lit("PROTEIN").alias("entity_type"),
        F.lit(0).alias("priority"),
    )
    df = spark.createDataFrame(
        [
            ("c0", 0, "binding of ent4217 protein to ent9999999 protein observed"),
            ("c0", 1, "ent123 alone is not a surface; neither is protein10"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    got = {
        (r.turn_idx, r.surface, r.entity_id)
        for r in scan_mentions_join(
            df, lex, max_surface_tokens=2
        ).collect()
    }
    assert got == {
        (0, "ent4217 protein", "P4217"),
        (0, "ent9999999 protein", "P9999999"),
    }
