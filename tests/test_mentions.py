from __future__ import annotations

from collections import Counter

import pytest

from biokg_spark.operators.mentions import scan_mentions

LEX = [
    ("aspirin", "DB001", "DRUG", 0),
    ("aspirin complex", "DB002", "DRUG", 0),  # longer surface wins
    ("tp53", "P001", "PROTEIN", 0),
    ("ambig", "P999", "PROTEIN", 1),
    ("ambig", "DB999", "DRUG", 0),  # lower priority wins
]
LEX_SCHEMA = "surface string, entity_id string, entity_type string, priority int"
TEXT_SCHEMA = "conv_id string, turn_idx int, text string"

MULTISET_COLS = ["conv_id", "turn_idx", "surface", "entity_id", "entity_type"]


def _multiset(df):
    """(keys, surface, entity) multiset of a Spark mention frame."""
    return Counter(tuple(r) for r in df.select(*MULTISET_COLS).collect())


@pytest.mark.parametrize("form", ["list", "frame"])
class TestScanner:
    """The matching semantics, for both lexicon forms: the list (tie-broken
    in Python) and the DataFrame (tie-broken by the lexicon-side window,
    longest surface from the scalar aggregate)."""

    @pytest.fixture()
    def scan(self, spark, form):
        lex = LEX if form == "list" else spark.createDataFrame(LEX, LEX_SCHEMA)

        def run(*texts):
            df = spark.createDataFrame(
                [("c", i, t) for i, t in enumerate(texts)], TEXT_SCHEMA
            )
            got = {i: [] for i in range(len(texts))}
            for r in scan_mentions(df, lex).collect():
                got[r.turn_idx].append(r.entity_id)
            return [sorted(got[i]) for i in range(len(texts))]

        return run

    def test_word_boundaries(self, scan):
        # a surface inside a word must not match
        assert scan("take aspirin daily", "aspirinx and xaspirin", "aspirin, twice") == [
            ["DB001"], [], ["DB001"],
        ]

    def test_longest_match_wins(self, scan):
        assert scan("use aspirin complex now") == [["DB002"]]

    def test_priority_tiebreak(self, scan):
        assert scan("ambig here") == [["DB999"]]

    def test_case_insensitive(self, scan):
        assert scan("TP53 and Aspirin") == [["DB001", "P001"]]

    def test_empty_and_none(self, scan):
        assert scan("", None) == [[], []]


def test_scan_mentions_dataframe(spark):
    df = spark.createDataFrame(
        [("c1", 0, "aspirin and tp53"), ("c1", 1, "nothing"), ("c2", 0, "TP53 TP53")],
        TEXT_SCHEMA,
    )
    lex = spark.createDataFrame(LEX, LEX_SCHEMA)
    scanned = scan_mentions(df, lex)
    assert scanned.columns == MULTISET_COLS
    out = scanned.collect()
    got = {(r.conv_id, r.turn_idx, r.entity_id) for r in out}
    assert got == {("c1", 0, "DB001"), ("c1", 0, "P001"), ("c2", 0, "P001")}
    # two occurrences in c2 turn 0 → two rows
    assert len([r for r in out if r.conv_id == "c2"]) == 2


def test_single_token_path_matches_ngram_path(spark):
    """On a single-token lexicon the token-join path (M derived as 1) and
    the n-gram path with its longest-at-start window (M forced to 2)
    return the same mentions."""
    from biokg_spark.datagen import entity_lexicon, transcripts

    tx = transcripts(spark, n_conversations=30)
    lex = entity_lexicon(spark)
    one = _multiset(scan_mentions(tx, lex))
    assert one and one == _multiset(scan_mentions(tx, lex, max_surface_tokens=2))


def test_unicode_length_changing_lowercase_offsets(spark):
    """'İ' (U+0130) lowercases to TWO chars ('i' + combining dot); the
    scan must still attribute every match to its own row."""
    lex = spark.createDataFrame([("tp53", "P001", "PROTEIN", 0)], LEX_SCHEMA)
    df = spark.createDataFrame(
        [
            ("c0", 0, "İİİİİİİİİİ before tp53 here"),   # 10 length-changing chars
            ("c0", 1, "plain ascii tp53 row"),
            ("c0", 2, "İstanbul İİİ tp53 and tp53 again"),
        ],
        TEXT_SCHEMA,
    ).coalesce(1)
    got = sorted((r.turn_idx, r.surface) for r in scan_mentions(df, lex).collect())
    assert got == [(0, "tp53"), (1, "tp53"), (2, "tp53"), (2, "tp53")]


def test_multiword_longest_at_start_and_overlap(spark):
    """Multi-token surfaces: word boundaries, longest-at-start, priority
    tie-break, overlapping hits at different starts — and word-SEQUENCE
    matching, so any non-word separator run matches a space."""
    rows = [
        ("heat shock protein", "P1", "PROTEIN", 0),
        ("heat shock", "P2", "PROTEIN", 0),
        ("shock", "D1", "DISEASE", 0),
        ("protein", "T1", "TERM", 0),
        ("aspirin", "DB1", "DRUG", 0),
        ("aspirin", "DB2", "DRUG", 1),  # loses the tie-break
    ]
    df = spark.createDataFrame(
        [
            ("c0", 0, "the Heat Shock Protein binds aspirin"),
            ("c0", 1, "shock without heat"),
            ("c0", 2, "heatshock is one word: no boundary match"),
            ("c0", 3, ""),
            ("c0", 4, "heat-shock  protein"),
        ],
        TEXT_SCHEMA,
    )
    # longest wins at the first start of turn 0 ("heat shock protein",
    # not "heat shock"); contained surfaces still hit at LATER starts
    # ("shock", "protein"); the tie-break picks DB1
    hsp = Counter({
        ("heat shock protein", "P1", "PROTEIN"): 1,
        ("shock", "D1", "DISEASE"): 1,
        ("protein", "T1", "TERM"): 1,
    })
    expect = Counter()
    for t, hits in [
        (0, hsp + Counter({("aspirin", "DB1", "DRUG"): 1})),
        (1, Counter({("shock", "D1", "DISEASE"): 1})),
        (4, hsp),
    ]:
        expect.update({("c0", t, *h): n for h, n in hits.items()})
    assert _multiset(scan_mentions(df, rows)) == expect
    assert _multiset(scan_mentions(df, spark.createDataFrame(rows, LEX_SCHEMA))) == expect


def test_join_backend_huge_lexicon_no_driver_materialization(spark):
    """The scan runs against a 10^7-surface lexicon that is never
    collected to the driver: the lexicon exists only as a JVM-side range
    expression, and matches come back exact."""
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
        TEXT_SCHEMA,
    )
    got = {
        (r.turn_idx, r.surface, r.entity_id)
        for r in scan_mentions(df, lex, max_surface_tokens=2).collect()
    }
    assert got == {
        (0, "ent4217 protein", "P4217"),
        (0, "ent9999999 protein", "P9999999"),
    }
