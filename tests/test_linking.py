import pytest
from pyspark.sql import functions as F

from biokg_spark.operators.linking import candidate_links

LEX = [
    # ambigterm: PROTEIN (prio 0) vs DRUG (prio 1)
    ("ambigterm", "P1", "PROTEIN", 0),
    ("ambigterm", "D1", "DRUG", 1),
    ("protkin2", "P2", "PROTEIN", 0),
    ("protkin3", "P3", "PROTEIN", 0),
    ("druga", "D2", "DRUG", 0),
    ("drugb", "D3", "DRUG", 0),
]


@pytest.fixture()
def lex(spark):
    return spark.createDataFrame(
        LEX, "surface string, entity_id string, entity_type string, priority int"
    )


def _mentions(spark, rows):
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, surface string")


def test_context_disambiguates_by_type(spark, lex):
    m = _mentions(spark, [
        # protein-heavy turn: ambigterm should resolve to the PROTEIN
        ("c0", 0, "ambigterm"), ("c0", 0, "protkin2"), ("c0", 0, "protkin3"),
        # drug-heavy turn: same surface resolves to the DRUG
        ("c0", 1, "ambigterm"), ("c0", 1, "druga"), ("c0", 1, "drugb"),
    ])
    got = {
        (r.conv_id, r.turn_idx, r.surface): r.entity_id
        for r in candidate_links(m, lex).collect()
    }
    assert got[("c0", 0, "ambigterm")] == "P1"
    assert got[("c0", 1, "ambigterm")] == "D1"
    # unambiguous mentions resolve to themselves
    assert got[("c0", 0, "protkin2")] == "P2"


def test_no_context_falls_back_to_priority(spark, lex):
    m = _mentions(spark, [("c1", 0, "ambigterm")])
    got = candidate_links(m, lex).collect()
    assert len(got) == 1 and got[0].entity_id == "P1"  # lower priority wins


def test_priors_break_context_ties(spark, lex):
    m = _mentions(spark, [("c2", 0, "ambigterm")])
    priors = spark.createDataFrame([("D1", 5.0), ("P1", 0.0)], "entity_id string, prior double")
    got = candidate_links(m, lex, priors=priors).collect()
    assert got[0].entity_id == "D1"  # prior outweighs the priority penalty


def test_one_row_per_mention(spark, lex):
    m = _mentions(spark, [
        ("c3", 0, "ambigterm"), ("c3", 0, "protkin2"),
        ("c3", 1, "ambigterm"),
    ])
    out = candidate_links(m, lex)
    assert out.count() == 3
    assert out.groupBy("conv_id", "turn_idx", "surface").count().where(
        F.col("count") > 1
    ).count() == 0


def test_mixed_case_lexicon_surfaces_link(spark):
    """The scan emits normalized (lowercased) surfaces; candidate scoring
    must match them against the lexicon's surfaces normalized the same
    way, or every mention of a surface with an upper-case letter drops."""
    from biokg_spark.operators.mentions import scan_mentions

    lex = spark.createDataFrame(
        [
            ("TP53", "P53", "PROTEIN", 0),
            ("Ambig", "PA", "PROTEIN", 1),
            ("Ambig", "DA", "DRUG", 0),
        ],
        "surface string, entity_id string, entity_type string, priority int",
    )
    df = spark.createDataFrame(
        [("c0", 0, "TP53 binds ambig here")], "conv_id string, turn_idx int, text string"
    )
    m = scan_mentions(df, lex).select("conv_id", "turn_idx", "surface")
    got = {(r.surface, r.entity_id) for r in candidate_links(m, lex).collect()}
    # one unambiguous PROTEIN mention in the turn outweighs the priority
    assert got == {("tp53", "P53"), ("ambig", "PA")}
