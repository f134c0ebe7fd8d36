import pytest
from pyspark.sql import functions as F

from biokg_spark.pipeline.benchmarks import (
    approved_dpi,
    ddi_by_effect,
    derive_benchmarks,
    expression_direction,
    phosphorylation_benchmark,
    undirected_benchmark,
    EFFICACY_EFFECTS,
    MINERAL_EFFECTS,
)

BENCH_FAMILIES = {
    "ddi_minerals", "ddi_efficacy", "dpi_fda", "dep_fda_exp",
    "phosphorylation", "ppi_benchmark",
}

QUADS = [
    # subj, pred, obj, qual, refs — DDI side-effect quads, subj < obj
    ("DB1", "DRUG_INTERACTION", "DB2", "increase_hypokalemia", ["c0#1"]),
    ("DB1", "DRUG_INTERACTION", "DB3", "decrease_therapeutic_efficacy", ["c0#2"]),
    ("DB2", "DRUG_INTERACTION", "DB3", "increase_hypoglycemia", ["c1#0"]),
    ("DB2", "DRUG_INTERACTION", "DB4", "increase_sedation", ["c1#3"]),
]
LINKS = [
    ("A", "PPI", "B"),
    ("A", "PPI", "C"),
    ("DB1", "DDI", "DB2"),
    ("DB1", "DPI", "P1"),
    ("DB9", "DPI", "P2"),
]
ACTION_QUADS = [
    ("DB1", "DPI", "P1", "increases_expression", None),
    ("DB1", "DPI", "P2", "increases_expression", "123"),
    ("DB1", "DPI", "P2", "decreases_expression", None),  # conflict -> dropped
    ("DB9", "DPI", "P3", "decreases_expression", None),  # not approved
    ("DB1", "DRUG_TARGET", "P4", "inhibitor", "55"),  # not an expression row
]
PHOS_QUADS = [
    ("P1", "PHOSPHORYLATES", "P2", "Y27", "human", "human"),
    ("P1", "PHOSPHORYLATES", "P3", "S15", "human", "mouse"),
    ("P4", "PHOSPHORYLATES", "P2", "T308", "rat", "human"),
]


@pytest.fixture()
def quads(spark):
    return spark.createDataFrame(
        QUADS, "subj string, pred string, obj string, qual string, refs array<string>"
    )


@pytest.fixture()
def links(spark):
    return spark.createDataFrame(LINKS, "subj string, pred string, obj string")


@pytest.fixture()
def action_quads(spark):
    return spark.createDataFrame(
        ACTION_QUADS,
        "subj string, pred string, obj string, action string, refs string",
    )


@pytest.fixture()
def phos_quads(spark):
    return spark.createDataFrame(
        PHOS_QUADS,
        "subj string, pred string, obj string, site string, "
        "kin_organism string, sub_organism string",
    )


def test_ddi_by_effect_minerals(spark, quads):
    """Mineral-term substring filter + GREATER-id-first re-canonicalization
    (reference: build_benchmarks.py:54-61)."""
    got = {(r.subj, r.pred, r.obj) for r in ddi_by_effect(quads, MINERAL_EFFECTS).collect()}
    assert got == {
        ("DB2", "increase_hypokalemia", "DB1"),
        ("DB3", "increase_hypoglycemia", "DB2"),
    }


def test_ddi_by_effect_efficacy(spark, quads):
    got = {(r.subj, r.pred, r.obj) for r in ddi_by_effect(quads, EFFICACY_EFFECTS).collect()}
    assert got == {("DB3", "decrease_therapeutic_efficacy", "DB1")}


def test_approved_dpi(spark, links):
    approved = spark.createDataFrame([("DB1",)], "drug_id string")
    got = {(r.subj, r.pred, r.obj) for r in approved_dpi(links, approved).collect()}
    assert got == {("DB1", "DPI", "P1")}


def test_expression_direction_conflict_exclusion(spark, action_quads):
    approved = spark.createDataFrame([("DB1",)], "drug_id string")
    got = {
        (r.subj, r.pred, r.obj)
        for r in expression_direction(action_quads, approved).collect()
    }
    # (DB1, P2) carries both directions -> excluded entirely; DB9 unapproved
    assert got == {("DB1", "inc_expr", "P1")}


def test_phosphorylation_benchmark(spark, phos_quads):
    got = {
        (r.subj, r.pred, r.obj, r.site)
        for r in phosphorylation_benchmark(phos_quads).collect()
    }
    assert got == {("P1", "phosphorylates", "P2", "Y27")}


def test_undirected_and_derive_all(spark, links, quads, action_quads, phos_quads):
    ppi = undirected_benchmark(links, "PPI")
    assert {(r.subj, r.obj) for r in ppi.collect()} == {("A", "B"), ("A", "C")}
    approved = spark.createDataFrame([("DB1",), ("DB2",)], "drug_id string")
    outputs = {
        "links": links, "quads": quads,
        "action_quads": action_quads, "phos_quads": phos_quads,
    }
    out = derive_benchmarks(outputs, approved)
    assert set(out) == BENCH_FAMILIES
    assert out["ddi_minerals"].count() == 2


def test_pipeline_benchmarks_and_core_export(spark, tmp_path):
    """Full lifecycle parity: run -> derive benchmarks -> export core
    (reference: run_all.py:6-14 four-stage sequence)."""
    from biokg_spark.datagen import entity_lexicon, id_mapping, ontology, transcripts
    from biokg_spark.pipeline import KGPipeline

    pipe = KGPipeline(
        spark, str(tmp_path / "wd"), entity_lexicon(spark),
        id_mapping(spark), ontology(spark),
    )
    out = pipe.run(transcripts(spark, n_conversations=60), run_key="t")
    approved = entity_lexicon(spark).where(
        "entity_type = 'DRUG' AND priority = 0"
    ).select(F.col("entity_id").alias("drug_id"))
    bench = pipe.derive_benchmarks_stage(out, approved, run_key="t")
    assert set(bench) == BENCH_FAMILIES
    assert bench["ppi_benchmark"].count() > 0
    assert bench["phosphorylation"].count() > 0
    # benchmarks are checkpointed: rerun skips
    bench2 = pipe.derive_benchmarks_stage(out, approved, run_key="t")
    assert all(
        pipe.metrics()["bench_" + n]["skipped"] for n in bench2
    )
    # core export round-trips through TSV
    pipe.export_core(out, str(tmp_path / "core"))
    links_back = spark.read.csv(
        str(tmp_path / "core" / "links"), sep="\t",
        schema="subj string, pred string, obj string",
    )
    assert links_back.count() == out["links"].count() + out["metadata"].count()
    quads_back = spark.read.csv(
        str(tmp_path / "core" / "quads"), sep="\t",
        schema="subj string, pred string, obj string, qual string, refs string",
    )
    assert quads_back.where("refs LIKE '%#%'").count() == quads_back.count()
    phos_back = spark.read.csv(
        str(tmp_path / "core" / "phos_quads"), sep="\t",
        schema="subj string, pred string, obj string, site string, "
               "kin_organism string, sub_organism string",
    )
    assert phos_back.count() == out["phos_quads"].count()


def test_benchmarks_rebuild_when_their_inputs_rebuild(spark, tmp_path):
    """Rerunning the same workdir under the same run_key with another
    canonicalizer rebuilds links and the quads, so no benchmark family
    may be served from the first run's checkpoint: each equals what a
    fresh workdir derives."""
    from biokg_spark.datagen import entity_lexicon, id_mapping, ontology, transcripts
    from biokg_spark.pipeline import KGPipeline

    lex, mp, onto = entity_lexicon(spark), id_mapping(spark), ontology(spark)
    tx = transcripts(spark, n_conversations=60)
    approved = lex.where("entity_type = 'DRUG' AND priority = 0").select(
        F.col("entity_id").alias("drug_id")
    )

    def derive(workdir, canonicalizer):
        pipe = KGPipeline(spark, workdir, lex, mp, onto, canonicalizer=canonicalizer)
        bench = pipe.derive_benchmarks_stage(pipe.run(tx, run_key="t"), approved, run_key="t")
        rows = {n: sorted(map(repr, df.collect())) for n, df in bench.items()}
        return rows, {n: pipe.metrics()["bench_" + n]["skipped"] for n in bench}

    derive(str(tmp_path / "wd"), "mapping")
    resumed, skipped = derive(str(tmp_path / "wd"), "lsh")
    fresh, _ = derive(str(tmp_path / "fresh"), "lsh")
    assert skipped == dict.fromkeys(BENCH_FAMILIES, False)
    assert resumed == fresh
