"""Full reference DDI side-effect cascade (parsers.py:24-82, :927-977)."""

from biokg_spark.functions.cascade import (
    DDI_SE_PATTERNS,
    ddi_effects_column,
    ddi_side_effects,
)

# (description, expected winning 0-based pattern index, expected effects).
# Expectations hand-derived from the reference algorithm — including the
# shadowing quirks: pattern 11 can never win (identical prefix to 8),
# pattern 13's sentences fall to pattern 2, and pattern 15's CNS sentences
# fall to pattern 14 whose alias map normalizes them.
DDI_TABLE = [
    ("The risk or severity of hypertension can be increased when A is combined with B.",
     0, ["increase_hypertension"]),
    ("The risk or severity of nausea, vomiting, and headache can be increased when A is combined with B.",
     0, ["increase_nausea", "increase_vomiting", "increase_headache"]),
    ("The risk or severity of sedative activities and hypotensive activities can be decreased when A is combined with B.",
     0, ["decrease_sedation", "decrease_hypotension"]),
    ("The risk or severity of hyperkalemic activities can be increased when A is combined with B.",
     0, ["increase_hyperkalemia"]),
    ("A may decrease effectiveness of B as a diagnostic agent.",
     1, ["decrease_effectiveness"]),
    ("The metabolism of A can be decreased when used in combination with B.",
     2, ["decrease_metabolism"]),
    ("The serum concentration of A can be increased when it is combined with B.",
     3, ["increase_serum_concentration"]),
    ("A can cause a decrease in the absorption of B resulting in a reduced serum concentration and potentially a decrease in efficacy.",
     4, ["decrease_serum_concentration"]),
    ("A may decrease the excretion rate of B which could result in a higher serum level.",
     5, ["increase_serum_concentration", "decrease_excretion_rate"]),
    ("A may increase the excretion rate of B which could result in a lower serum level and potentially a reduction in efficacy.",
     6, ["decrease_serum_concentration", "increase_excretion_rate"]),
    ("The bioavailability of A can be decreased when combined with B.",
     7, ["decrease_bioavailability"]),
    ("A can cause an increase in the absorption of B resulting in an increased serum concentration and potentially a worsening of adverse effects.",
     8, ["increase_serum_concentration"]),
    ("The risk of a hypersensitivity reaction to A is increased when it is combined with B.",
     9, ["increase_hypersensitivity_reaction"]),
    # pattern 11 (index 10) is shadowed by index 7 — faithful behavior
    ("The therapeutic efficacy of A can be decreased when combined with B.",
     7, ["decrease_therapeutic_efficacy"]),
    ("The serum concentration of the active metabolites of A can be increased when it is used in combination with B.",
     11, ["increase_serum_concentration"]),
    # pattern 13 (index 12) sentences fall to index 2 — faithful shadowing
    ("The serum concentration of A, an active metabolite of X can be increased when used in combination with B.",
     2, ["increase_serum_concentration"]),
    ("A may increase the cardiotoxic activities of B.",
     13, ["increase_cardiotoxicity"]),
    # pattern 15 (index 14) sentences fall to index 13; alias map normalizes
    ("A may increase the central nervous system depressant (CNS depressant) activities of B.",
     13, ["increase_cns_depression_activities"]),
    ("A may increase the QTc-prolonging activities of B.",
     13, ["increase_qtc_prolongation"]),
    ("A may decrease the neuromuscular blocking activities of B.",
     13, ["decrease_neuromuscular_blockade"]),
]


def test_ddi_cascade_all_patterns_kernel():
    for desc, idx, effects in DDI_TABLE:
        assert ddi_side_effects(desc) == (idx, effects), desc


def test_ddi_cascade_edge_cases():
    assert ddi_side_effects(None) is None
    assert ddi_side_effects("") is None
    assert ddi_side_effects("no ddi sentence here") is None
    # unmapped mode -> no effects (reference raises KeyError here)
    assert ddi_side_effects("A may frobnicate the whatever of B.") is None


def test_ddi_pattern_count_matches_reference():
    assert len(DDI_SE_PATTERNS) == 15


def test_ddi_column_matches_kernel_differentially(spark):
    """The JVM Column form must agree with the row kernel on every table
    case AND on the synthetic transcript corpus (which cycles every
    template)."""
    from biokg_spark.datagen import transcripts

    cases = [d for d, _i, _fx in DDI_TABLE] + [
        "", "plain text", "A may frobnicate the whatever of B.",
    ]
    corpus = [r.text for r in transcripts(spark, n_conversations=80).collect()]
    all_texts = cases + corpus
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(all_texts)], "i long, text string"
    )
    rows = df.select("i", ddi_effects_column("text").alias("r")).collect()
    for row in rows:
        expected = ddi_side_effects(all_texts[row.i])
        got = (row.r.pattern_idx, list(row.r.effects)) if row.r is not None else None
        if expected is None:
            assert got is None, all_texts[row.i]
        else:
            assert got == expected, all_texts[row.i]
