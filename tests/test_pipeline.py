from __future__ import annotations

import ast
import os
from collections import Counter

import pytest

from biokg_spark.datagen import entity_lexicon, id_mapping, ontology, transcripts
from biokg_spark.pipeline import PREDICATE_VOCABULARY, KGPipeline
from biokg_spark.pipeline.kg import VIEWS
from tests.oracle_kg import expected_outputs, precision_recall

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def fixture_inputs(spark):
    tx = transcripts(spark, n_conversations=30).cache()
    lex = entity_lexicon(spark)
    mp = id_mapping(spark)
    onto = ontology(spark)
    return tx, lex, mp, onto


@pytest.fixture(scope="module")
def outputs(spark, fixture_inputs, tmp_path_factory):
    tx, lex, mp, onto = fixture_inputs
    wd = str(tmp_path_factory.mktemp("kgwork"))
    pipe = KGPipeline(spark, wd, lex, mp, onto, buckets=4)
    return pipe.run(tx, run_key="golden"), pipe, wd


def _expected(fixture_inputs):
    tx, lex, mp, onto = fixture_inputs
    rows = [r.asDict() for r in tx.collect()]
    lex_rows = [tuple(r) for r in lex.collect()]
    map_rows = [tuple(r) for r in mp.collect()]
    onto_rows = [tuple(r) for r in onto.collect()]
    return expected_outputs(rows, lex_rows, map_rows, onto_rows)


def test_golden_triples_exact(fixture_inputs, outputs):
    out, _pipe, _wd = outputs
    exp = _expected(fixture_inputs)
    for family, cols in [
        ("links", ("subj", "pred", "obj")),
        ("links_prov", ("subj", "pred", "obj", "n_support", "n_convs",
                        "first_seen", "last_seen")),
        ("metadata", ("subj", "pred", "obj")),
        ("properties", ("subj", "pred", "obj")),
        ("quads", ("subj", "pred", "obj", "qual")),
        ("action_quads", ("subj", "pred", "obj", "action", "refs")),
        ("expr_quads", ("subj", "pred", "obj", "level")),
        ("phos_quads", ("subj", "pred", "obj", "site", "kin_organism", "sub_organism")),
    ]:
        actual = {tuple(r[c] for c in cols) for r in out[family].collect()}
        p, r = precision_recall(actual, exp[family])
        # P/R ≥ 0.95 is the contract; exact match expected at fixture scale
        assert p == 1.0 and r == 1.0, f"{family}: P={p} R={r}"


def test_predicate_vocabulary_closed(outputs):
    out, _pipe, _wd = outputs
    for family in (
        "links", "quads", "action_quads", "expr_quads", "phos_quads",
        "metadata", "properties",
    ):
        preds = {r.pred for r in out[family].select("pred").distinct().collect()}
        assert preds <= set(PREDICATE_VOCABULARY)


def test_per_turn_text_equality_invariant(spark, fixture_inputs, outputs):
    """Per-turn text equality under stable ordering, verified by key-join
    (never positional zip): re-reading the ingested checkpoint and joining
    back on (conv_id, turn_idx) must reproduce every text exactly."""
    tx, *_ = fixture_inputs
    out, _pipe, _wd = outputs
    ing = out["ingest"].select("conv_id", "turn_idx", "text")
    orig = tx.select("conv_id", "turn_idx", "text")
    mismatches = (
        orig.join(ing, ["conv_id", "turn_idx"], "full")
        .where(
            (orig.text != ing.text)
            | orig.text.isNull()
            | ing.text.isNull()
        )
        .count()
    )
    assert mismatches == 0


def test_top_level_pathway_links_refined(fixture_inputs, outputs):
    """COMPLEX×PATHWAY memberships split by the Reactome-style hierarchy:
    pathways with no parent emit MEMBER_OF_TOP_LEVEL_PATHWAY, the rest
    MEMBER_OF_PATHWAY (links_description.txt:163 vs :176). The datagen
    hierarchy leaves pathways 1 and 2 top-level."""
    out, _pipe, _wd = outputs
    rows = [
        (r.subj, r.pred, r.obj)
        for r in out["links"]
        .where("pred IN ('MEMBER_OF_PATHWAY', 'MEMBER_OF_TOP_LEVEL_PATHWAY')")
        .collect()
    ]
    assert rows, "fixture produced no complex-pathway memberships"
    top = {"R-HSA-1", "R-HSA-2"}
    for _s, pred, obj in rows:
        expected = "MEMBER_OF_TOP_LEVEL_PATHWAY" if obj in top else "MEMBER_OF_PATHWAY"
        assert pred == expected, (obj, pred)


def test_export_ppi_by_species(spark, fixture_inputs, outputs, tmp_path):
    """Per-species PPI fan-out (reference write_ppi_by_species,
    compile_biokg.py:215-272): partition directory = species bucket,
    INTERSPECIES for mixed pairs, unmapped endpoints skipped."""
    import glob
    import os

    tx, lex, mp, onto = fixture_inputs
    out, pipe, _wd = outputs
    exp = _expected(fixture_inputs)["ppi_by_species"]

    path = str(tmp_path / "core")
    pipe.export_core(out, path)
    got = set()
    for part_dir in glob.glob(os.path.join(path, "ppi_species", "species_bucket=*")):
        bucket = os.path.basename(part_dir).split("=", 1)[1]
        for f in glob.glob(os.path.join(part_dir, "*.csv")):
            with open(f) as fh:
                for line in fh:
                    s, pred, o = line.rstrip("\n").split("\t")
                    got.add((s, pred, o, bucket))
    assert got == exp and len(got) > 0


def test_resume_skips_all_stages(spark, fixture_inputs, outputs):
    tx, lex, mp, onto = fixture_inputs
    _out, _pipe, wd = outputs
    pipe2 = KGPipeline(spark, wd, lex, mp, onto, buckets=4)
    out2 = pipe2.run(tx, run_key="golden")
    assert all(m["skipped"] for m in pipe2.metrics().values())
    assert out2["links"].count() == _out["links"].count()


def test_changed_key_invalidates(spark, fixture_inputs, outputs):
    tx, lex, mp, onto = fixture_inputs
    _out, _pipe, wd = outputs
    pipe3 = KGPipeline(spark, wd, lex, mp, onto, buckets=4)
    pipe3.run(tx, run_key="other-key")
    assert not pipe3.metrics()["ingest"]["skipped"]


def test_resume_after_adding_ontology_matches_fresh_run(spark, fixture_inputs, tmp_path):
    """A run without an ontology, then one with it, in the same workdir
    under the same run_key: every stage that reads the ontology rebuilds
    (its fingerprint chains the ontology view's), the rest are served,
    and the emitted tables equal a fresh run's."""
    _tx, lex, mp, onto = fixture_inputs
    tx = transcripts(spark, n_conversations=20)
    wd = str(tmp_path / "resumed")
    KGPipeline(spark, wd, lex, mp, buckets=2).run(tx, run_key="onto")
    resumed = KGPipeline(spark, wd, lex, mp, onto, buckets=2)
    got = resumed.run(tx, run_key="onto")
    fresh = KGPipeline(spark, str(tmp_path / "fresh"), lex, mp, onto, buckets=2)
    want = fresh.run(tx, run_key="onto")
    for family in ("metadata", "links", "links_prov", "properties"):
        assert Counter(map(tuple, got[family].collect())) == Counter(
            map(tuple, want[family].collect())
        ), family
    served = {name for name, m in resumed.metrics().items() if m["skipped"]}
    assert served == {
        "ingest", "extracted", "mentions", "turn_sets",
        "phos_quads", "quads", "action_quads", "expr_quads",
    }


@pytest.mark.parametrize("stage_fn", ["_phos_quads", "_turn_sets"])
def test_stage_failure_raises_after_every_stage_settles(
    spark, fixture_inputs, tmp_path, monkeypatch, stage_fn
):
    """A failing stage off the turn_sets chain and one on it both
    surface as that exact error, only after every other stage has settled:
    no Spark job is left running, and an independent stage completed."""
    _tx, lex, mp, onto = fixture_inputs
    err = RuntimeError(f"{stage_fn} failed")

    def fail(self, *args):
        raise err

    monkeypatch.setattr(KGPipeline, stage_fn, fail)
    pipe = KGPipeline(spark, str(tmp_path), lex, mp, onto, buckets=2)
    with pytest.raises(RuntimeError) as info:
        pipe.run(transcripts(spark, n_conversations=2), run_key="fail")
    assert info.value is err
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job ends reach the status store
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    assert os.path.exists(os.path.join(str(tmp_path), "extracted", "_MANIFEST.json"))


def _perfbench_stage_names() -> dict:
    """STAGES, QUAD_FAMILIES, EMIT_STAGES, SCAN_STAGES and STAGE_DEPS as
    perfbench/run.py declares them, read from its source (not imported)."""
    names = {"STAGES", "QUAD_FAMILIES", "EMIT_STAGES", "SCAN_STAGES", "STAGE_DEPS"}
    with open(os.path.join(REPO, "perfbench", "run.py"), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    return {
        node.targets[0].id: ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and isinstance(node.targets[0], ast.Name)
        and node.targets[0].id in names
    }


def test_benchmark_stage_graph_matches_engine():
    """perfbench keeps its own copy of the stage graph for the critical
    path. With each view replaced by the checkpoints it reads (linked ->
    mentions; the ontology view reads none), the engine's declared inputs
    must equal it, and every stage the benchmark names must exist."""
    pipe = KGPipeline.__new__(KGPipeline)  # the table needs no Spark
    pipe.ontology, pipe.buckets = object(), 2
    pipe.disambiguation, pipe.canonicalizer = "priority", "mapping"
    stages = pipe._stages(None, "k")

    def reads(inputs) -> set[str]:
        return {
            c for i in inputs for c in (reads(stages[i][0]) if i in VIEWS else {i})
        }

    engine = {
        name: reads(row[0]) for name, row in stages.items() if name not in VIEWS
    }
    bench = _perfbench_stage_names()
    assert {n: d for n, d in engine.items() if d} == {
        n: set(d) for n, d in bench["STAGE_DEPS"].items()
    }
    for key in ("STAGES", "QUAD_FAMILIES", "EMIT_STAGES", "SCAN_STAGES"):
        assert set(bench[key]) - {"quad_families"} <= set(engine), key


def test_duplicate_turn_key_raises(spark, fixture_inputs, tmp_path):
    _tx, lex, mp, onto = fixture_inputs
    bad = spark.createDataFrame(
        [("c1", 0, "u", "x", None, None), ("c1", 0, "u", "y", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    pipe = KGPipeline(spark, str(tmp_path), lex, mp, onto, buckets=2)
    with pytest.raises(ValueError, match="duplicate"):
        pipe.run(bad, run_key="dup")


def test_unknown_predicate_raises(spark, fixture_inputs, tmp_path):
    """Vocabulary closure is enforced like the reference's fan-out raise
    (compile_biokg.py:969)."""
    _tx, lex, mp, onto = fixture_inputs
    bad_onto = onto.unionByName(
        spark.createDataFrame(
            [("P00001", "PROTEIN", "BOGUS_PRED", "v")],
            "entity_id string, entity_type string, pred string, value string",
        )
    )
    tx_small = transcripts(spark, n_conversations=2)
    pipe = KGPipeline(spark, str(tmp_path), lex, mp, bad_onto, buckets=2)
    with pytest.raises(ValueError, match="Predicate not recognized"):
        pipe.run(tx_small, run_key="bad-vocab")


def test_ontology_memo_ignores_a_reused_id(spark, tmp_path):
    """The ontology memo is keyed on id(): a new ontology at a collected
    one's address must get its own dim, not the stale checkpoint."""
    from biokg_spark.datagen import entity_lexicon, id_mapping

    schema = "entity_id string, entity_type string, pred string, value string"
    old = spark.createDataFrame([("P00001", "PROTEIN", "OLD", "v")], schema)
    new = spark.createDataFrame([("P00002", "PROTEIN", "NEW", "w")], schema)
    pipe = KGPipeline(
        spark, str(tmp_path), entity_lexicon(spark), id_mapping(spark), new
    )
    key = (id(spark), id(new))
    stale = old.localCheckpoint()
    planted = (old, stale)  # as if old had sat at new's address
    KGPipeline._ONTO_CK_MEMO[key] = planted
    try:
        got = pipe._onto()
        assert got is not planted and got is not stale
        assert [tuple(r) for r in got.collect()] == [("P00002", "PROTEIN", "NEW", "w")]
    finally:
        KGPipeline._ONTO_CK_MEMO.pop(key, None)


def test_empty_input_produces_empty_outputs(spark, tmp_path):
    """Zero matching transcripts must flow through every stage and emit
    valid EMPTY tables (resume-readable), not crash on schema inference."""
    from biokg_spark.datagen import entity_lexicon, id_mapping, transcripts

    tx = transcripts(spark, n_conversations=3).where("conv_id = 'no-such-conv'")
    pipe = KGPipeline(
        spark, str(tmp_path / "empty"), entity_lexicon(spark), id_mapping(spark),
        buckets=2,
    )
    out = pipe.run(tx, run_key="empty")
    assert {k: v.count() for k, v in out.items()} == {
        "ingest": 0, "mentions": 0, "linked": 0, "turn_sets": 0,
        "extracted": 0, "links": 0, "links_prov": 0, "quads": 0,
        "action_quads": 0, "expr_quads": 0, "phos_quads": 0, "metadata": 0,
    }
    # resume over the empty checkpoints also works
    pipe2 = KGPipeline(
        spark, str(tmp_path / "empty"), entity_lexicon(spark), id_mapping(spark),
        buckets=2,
    )
    out2 = pipe2.run(tx, run_key="empty")
    assert all(m["skipped"] for m in pipe2.metrics().values())
    assert out2["links"].count() == 0


def test_context_disambiguation_mode(spark, tmp_path):
    """disambiguation='context': the ambiguous surface resolves per turn
    by type context instead of static priority."""
    from datetime import datetime

    from biokg_spark.datagen import entity_lexicon, id_mapping

    rows = [
        # protein-heavy turn -> ambigterm should link to P00001 (PROTEIN)
        ("c0", 0, "user", "ambigterm near protkin2 and protkin3", None,
         datetime(2024, 1, 1)),
        # drug-heavy turn -> ambigterm should link to DB00002 side? no:
        # context counts unambiguous DRUG mentions -> DB00001 wins
        ("c0", 1, "user", "ambigterm with drugamab2 and drugamab3", None,
         datetime(2024, 1, 1)),
    ]
    tx = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    pipe = KGPipeline(
        spark, str(tmp_path / "ctx"), entity_lexicon(spark), id_mapping(spark),
        buckets=2, disambiguation="context",
    )
    out = pipe.run(tx, run_key="ctx")
    got = {
        (r.conv_id, r.turn_idx): r.entity_id
        for r in out["mentions"].where("surface = 'ambigterm'").collect()
    }
    assert got == {("c0", 0): "P00001", ("c0", 1): "DB00001"}

    # priority mode resolves both turns to the static winner (P00001)
    pipe2 = KGPipeline(
        spark, str(tmp_path / "prio"), entity_lexicon(spark), id_mapping(spark),
        buckets=2, disambiguation="priority",
    )
    out2 = pipe2.run(tx, run_key="ctx")
    got2 = {
        (r.conv_id, r.turn_idx): r.entity_id
        for r in out2["mentions"].where("surface = 'ambigterm'").collect()
    }
    assert got2 == {("c0", 0): "P00001", ("c0", 1): "P00001"}
