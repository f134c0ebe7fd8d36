"""The flagship parse→map/link→aggregate→emit KG-construction pipeline.

Reference lifecycle being re-expressed (SURVEY.md §3):
``preprocess_graph`` (parse, main.py:13) → ``compile_graph`` (link/emit,
compile_biokg.py:1175) → ``build_benchmarks`` (derive,
build_benchmarks.py:23) — re-architected as checkpointed DataFrame stages
over a transcript table instead of a single-threaded file walk.

The stage graph is declared once, as the ordered table of
``KGPipeline._stages``: ``name -> (inputs, build, partition_by, own
fingerprint parts)``. ``KGPipeline.run`` runs that table on one thread
pool, each stage starting as soon as its declared inputs are done and
submitting its jobs to Spark's default FIFO scheduler. It keys each
checkpoint on a fingerprint chained from the stage's declared inputs, so
a resumed run rebuilds exactly the stages below whatever changed. Every stage except the two views is a
checkpointed parquet table (plans/checkpoint.py), resumable:

- **ingest** — order/validate transcripts: duplicate (conv_id, turn_idx)
  keys are a hard error; per-turn text equality is checked by key-join
  (never positional zip). Repartitioned on hash(conv_id) so every
  downstream per-conversation op is co-located.
- **extracted** — ONE Arrow-batched pass over the wide text column runs
  every fact extractor the quad families read (``_extract_facts``).
- **mentions** — dictionary scan (operators/mentions.py): text tokens
  equi-joined against the broadcast, priority-resolved lexicon →
  (conv_id, turn_idx, surface, entity, type).
- **linked** (view) — canonicalization: broadcast join against
  id_mapping maps raw ``ALT:`` ids to canonical ids (1:N fan-out
  preserved, reference: parsers.py:1970-1988); unmapped ids pass through
  (already canonical).
- **ontology** (view, only with an ontology dim) — the routed
  properties/metadata taxonomy and the top-level pathway set.
- **turn_sets** — the per-turn entity sets that links and quads share.
- the emitted families (links, links_prov, metadata, properties, quads,
  action_quads, expr_quads, phos_quads):
  - MENTIONS (turn → entity) with provenance refs;
  - typed co-occurrence links per entity-type pair (PPI, DPI, DDI, …)
    with the reference's undirected canonical form (least, greatest)
    for symmetric predicates (compile_biokg.py:192-195);
  - DDI side-effect quads via the FULL 15-pattern ordered regex cascade
    (first-match-wins, reference: parsers.py:24-45 + :927-977) with
    conflict exclusion: a (drug, drug, side-effect) seen with both
    increase_ and decrease_ directions is dropped (reference:
    build_benchmarks.py:101-105);
  - extended action quads (drug, DRUG_TARGET/ENZYME/CARRIER/TRANSPORTER/
    DPI, protein, action, pubmed-refs — reference: parsers.py:904-925);
  - protein-expression quads with LOW/MEDIUM/HIGH enums (reference:
    compile_biokg.py:855-888);
  - organism-qualified 6-column phosphorylation quads (reference:
    parsers.py:2703-2744);
  - the FULL published properties/metadata taxonomy routed off the
    ontology dim (GO/InterPro/SIDER/ATC/TREE/pathway hierarchy +
    per-type metadata — pipeline/taxonomy.py; reference contract:
    properties_description.txt:7-306, meta_description.txt:8-346).
  Closed predicate vocabulary enforced exactly like the reference's
  fan-out writers raise on unknown predicates (compile_biokg.py:969).
  links / properties / metadata are partitioned by predicate, the Spark
  analog of the reference's per-predicate file tree
  (compile_biokg.py:292-305); ``export_core`` adds the per-species PPI
  fan-out export (compile_biokg.py:215-272).
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biokg_spark.functions.dims import local_df
from biokg_spark.operators.mentions import scan_mentions
from biokg_spark.operators.skew import salted_collect_set
from biokg_spark.plans.checkpoint import CheckpointManager, fingerprint

# Typed predicate per unordered entity-type pair; bool = undirected
# (canonical least/greatest form). Vocabulary mirrors the reference's
# links_description.txt naming.
LINK_PREDICATES: dict[tuple[str, str], tuple[str, bool]] = {
    ("PROTEIN", "PROTEIN"): ("PPI", True),
    ("DRUG", "DRUG"): ("DDI", True),
    ("DRUG", "PROTEIN"): ("DPI", False),
    ("DRUG", "DISEASE"): ("DRUG_DISEASE_ASSOCIATION", False),
    ("PROTEIN", "DISEASE"): ("PROTEIN_DISEASE_ASSOCIATION", False),
    # protein→pathway carries its own published name, distinct from the
    # complex membership predicate (links_description.txt:63 vs :163)
    ("PROTEIN", "PATHWAY"): ("PROTEIN_PATHWAY_ASSOCIATION", False),
    ("DRUG", "PATHWAY"): ("DRUG_PATHWAY_ASSOCIATION", False),
    ("DISEASE", "PATHWAY"): ("DISEASE_PATHWAY_ASSOCIATION", False),
    # reference links_description.txt:73-205 — full published
    # link-predicate vocabulary (drug_protein_function rel types live in
    # action_quads). COMPLEX×PATHWAY refines to MEMBER_OF_TOP_LEVEL_PATHWAY
    # (links_description.txt:176) when the pathway has no parent in the
    # hierarchy — see links_from_entity_sets(top_level=...).
    ("PROTEIN", "COMPLEX"): ("MEMBER_OF_COMPLEX", False),
    ("COMPLEX", "PATHWAY"): ("MEMBER_OF_PATHWAY", False),
    ("DISEASE", "GENETIC_DISORDER"): ("DISEASE_GENETIC_DISORDER", False),
    ("PROTEIN", "GENETIC_DISORDER"): ("RELATED_GENETIC_DISORDER", False),
}

# Drug→protein relation cues, ordered (first-match-wins like every cascade
# here). rel_type mirrors the reference's per-section fan-out
# (parsers.py:1143-1152: targets/carriers/transporters/enzymes); the two
# expression-effect cues mirror CTD's INCREASES/DECREASES_EXPRESSION rows
# consumed by build_benchmarks.py:94-106.
ACTION_CUES: list[tuple[str, str, str]] = [
    (r"\binhibits\b", "DRUG_TARGET", "inhibitor"),
    (r"\bactivates\b", "DRUG_TARGET", "activator"),
    (r"\bbinds\b", "DRUG_TARGET", "unknown"),
    (r"\bis metabolized by\b", "DRUG_ENZYME", "substrate"),
    (r"\bis transported by\b", "DRUG_TRANSPORTER", "substrate"),
    (r"\bis carried by\b", "DRUG_CARRIER", "substrate"),
    (r"\bincreases expression of\b", "DPI", "increases_expression"),
    (r"\bdecreases expression of\b", "DPI", "decreases_expression"),
]

# reference PUBMED_ID_CODE (parsers.py:30) with a capture for the id.
PUBMED_RX = r"PubMed=(\d+)"
EXPRESSION_RX = r"\bexpression in (\w+) is (\w+)\b"
PHOS_RX = r"^(\S+) \((\w+)\) phosphorylates (\S+) \((\w+)\) at (\w+)\."

from biokg_spark.pipeline.taxonomy import (  # noqa: E402  (vocab data)
    ALL_METADATA_PREDICATES,
    ALL_PROPERTY_PREDICATES,
    assert_routed,
    route_ontology,
    top_level_pathways,
)

PREDICATE_VOCABULARY = frozenset(
    [p for p, _ in LINK_PREDICATES.values()]
    + [rel for _pat, rel, _act in ACTION_CUES]
    + [
        "MENTIONS",
        "MEMBER_OF_TOP_LEVEL_PATHWAY",
        "DRUG_INTERACTION",
        "PROTEIN_EXPRESSED_IN",
        "PHOSPHORYLATES",
    ]
) | ALL_PROPERTY_PREDICATES | ALL_METADATA_PREDICATES


def cooccurrence_links(
    ents: DataFrame,
    keys: list[str],
    id_col: str = "eid",
    type_col: str = "entity_type",
) -> DataFrame:
    """Typed co-occurrence edges from per-group entity sets.

    ``ents``: one row per (group keys, entity id, entity type); entities
    sharing a group become edges typed by LINK_PREDICATES, with undirected
    predicates stored in canonical (least, greatest) form (reference:
    compile_biokg.py:192-195) and directed predicates oriented by the
    vocabulary's subject type. Output: distinct (subj, pred, obj).

    Physical plan: ONE linear shuffle. The naive fact-fact self-join on the
    group keys shuffles the mention table twice, joins, then shuffles again
    to dedup — three wide stages whose cost at 10^12 turns is dominated by
    re-shuffling the same rows. Instead each group's (small, bounded)
    entity set is collected once and pairs are expanded array-side inside
    the same stage; the final distinct collapses map-side because the
    output key space (entity × entity) is tiny relative to the input.
    """
    per_group = entity_sets(ents, keys, id_col, type_col)
    return links_from_entity_sets(per_group)


def entity_sets(
    ents: DataFrame,
    keys: list[str],
    id_col: str = "eid",
    type_col: str = "entity_type",
) -> DataFrame:
    """Per-group sorted entity set: keys + ``ms`` array<struct<eid,type>>.

    The ONE aggregation both co-occurrence links and effect quads consume
    — sharing it (as a checkpointed stage) removes a duplicate full
    shuffle of the linked-mention table, a reuse no optimizer does across
    jobs."""
    ents = ents.select(
        *keys, F.col(id_col).alias("eid"), F.col(type_col).alias("entity_type")
    )
    return ents.groupBy(*keys).agg(
        F.array_sort(
            F.collect_set(F.struct(F.col("eid"), F.col("entity_type")))
        ).alias("ms")
    )


def links_from_entity_sets(
    per_group: DataFrame,
    top_level: DataFrame | None = None,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Typed distinct (subj, pred, obj) from per-group entity sets.

    ``top_level``: optional one-column (``pathway_id``) dim of top-level
    pathways — COMPLEX×PATHWAY memberships whose pathway is in this set
    emit MEMBER_OF_TOP_LEVEL_PATHWAY instead of MEMBER_OF_PATHWAY
    (reference ships both files, links_description.txt:163 and :176;
    top-level = no parent in the Reactome hierarchy). Broadcast join —
    the set is dim-sized.

    ``carry``: extra per-group columns preserved on every emitted edge
    (provenance consumers: conversation id, timestamp). With carry the
    result is per-occurrence, NOT distinct — each group contributes each
    edge at most once (the entity set is a set), so duplicates across
    rows are exactly the cross-group support an aggregating caller
    (edge_provenance) wants to count; a blanket dropDuplicates here
    would both break that and add a pointless wide shuffle."""
    per_group = per_group.where(F.size("ms") >= 2)
    ms = F.col("ms")
    # ordered pairs (i < j) from the sorted set: a.eid <= b.eid by sort order
    pair_arr = F.flatten(
        F.transform(
            ms,
            lambda a, i: F.transform(
                F.slice(ms, i + F.lit(2), F.size(ms)),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )
    pairs = (
        per_group.select(*carry, F.explode(pair_arr).alias("p"))
        .select(
            *carry,
            F.col("p.a.eid").alias("e1"),
            F.col("p.a.entity_type").alias("t1"),
            F.col("p.b.eid").alias("e2"),
            F.col("p.b.entity_type").alias("t2"),
        )
        .where(F.col("e1") != F.col("e2"))
    )
    # Typing runs as a BROADCAST HASH JOIN against the ~20-row
    # (t1, t2) → (pred, undirected, ab_first) dim instead of a 15-branch
    # CASE chain: referencing the chain from the subj/obj expressions
    # re-inlines it (Catalyst collapses adjacent projections) and the
    # blown-up projection falls out of whole-stage codegen — measured
    # 38.5 s for this stage at 9M turns / local[8]; the join form (pred
    # becomes a join-output attribute, so downstream refs are plain
    # column reads inside codegen) runs the same stage in ~7 s. A
    # transform()-let-bound variant was also tried: 46 s — higher-order
    # functions are interpreted per row, worse than the inlined chain.
    # Same plan-shape hazard family as functions/cascade.py
    # ddi_effects_column.
    dim_rows = []
    for (ta, tb), (pname, und) in LINK_PREDICATES.items():
        dim_rows.append((ta, tb, pname, und, True))
        if ta != tb:
            dim_rows.append((tb, ta, pname, und, False))
    # LocalTableScan literal (functions/dims.py): the broadcast build of
    # this dim is driver-local, no 32-task parallelize job per query
    type_dim = local_df(
        per_group.sparkSession,
        dim_rows,
        "t1 string, t2 string, pred string, und boolean, ab_first boolean",
    )
    typed = pairs.join(F.broadcast(type_dim), ["t1", "t2"])  # untyped pairs drop
    subj = F.when(F.col("und"), F.least("e1", "e2")).otherwise(
        F.when(F.col("ab_first"), F.col("e1")).otherwise(F.col("e2"))
    )
    obj = F.when(F.col("und"), F.greatest("e1", "e2")).otherwise(
        F.when(F.col("ab_first"), F.col("e2")).otherwise(F.col("e1"))
    )
    links = typed.select(
        *carry, subj.alias("subj"), F.col("pred"), obj.alias("obj")
    )
    if top_level is not None:
        # MEMBER_OF_PATHWAY only arises from COMPLEX×PATHWAY (protein
        # memberships carry PROTEIN_PATHWAY_ASSOCIATION), so obj is
        # always the pathway here; the refine is a broadcast left join +
        # conditional rename, BEFORE the distinct so renamed rows dedup.
        tl = F.broadcast(
            top_level.select(
                F.col("pathway_id").alias("_tl_pid"), F.lit(True).alias("_is_top")
            )
        )
        links = (
            links.join(tl, links.obj == tl._tl_pid, "left")
            .withColumn(
                "pred",
                F.when(
                    (F.col("pred") == "MEMBER_OF_PATHWAY") & F.col("_is_top"),
                    F.lit("MEMBER_OF_TOP_LEVEL_PATHWAY"),
                ).otherwise(F.col("pred")),
            )
            .drop("_tl_pid", "_is_top")
        )
    return links if carry else links.dropDuplicates()


def edge_provenance(
    ents: DataFrame,
    keys: list[str],
    ts_col: str,
    conv_col: str = "conv_id",
    id_col: str = "eid",
    type_col: str = "entity_type",
) -> DataFrame:
    """Per-triple provenance: support count, distinct-conversation count,
    and temporal extent of the evidence.

    The reference keeps provenance as comma-joined pubmed-ref qualifiers
    on quads (parsers.py:901, 2153) and drops it for plain links; a KG
    built from timestamped transcripts additionally wants, per emitted
    (subj, pred, obj): how many turns support it, across how many
    conversations, and the first/last time it was observed — the edge
    confidence/recency signal downstream rankers consume.

    ``ents``: one row per (keys, entity, type) mention occurrence, plus a
    ``ts_col`` (constant within a group — a turn has one timestamp) and
    ``conv_col`` (must be in or functionally determined by ``keys``).

    Physical plan at 10^12 turns: the SAME single-shuffle pair expansion
    as cooccurrence_links (entity sets collected per group, pairs
    expanded array-side, typing via broadcast dim join), then ONE
    hash-aggregate on (subj, pred, obj) — count/min/max all combine
    map-side, and count_distinct(conv) is a two-phase partial aggregate;
    the output key space (entity × entity) is tiny, so the final shuffle
    is negligible. No new scale hazard beyond the links stage itself.
    """
    ents = ents.select(
        *keys,
        F.col(conv_col).alias("_conv"),
        F.col(ts_col).alias("_ts"),
        F.col(id_col).alias("eid"),
        F.col(type_col).alias("entity_type"),
    )
    per_group = ents.groupBy(*keys).agg(
        F.array_sort(
            F.collect_set(F.struct(F.col("eid"), F.col("entity_type")))
        ).alias("ms"),
        F.first("_conv").alias("_conv"),
        F.min("_ts").alias("_ts"),
    )
    edges = links_from_entity_sets(per_group, carry=("_conv", "_ts"))
    return edges.groupBy("subj", "pred", "obj").agg(
        F.count(F.lit(1)).alias("n_support"),
        F.countDistinct("_conv").alias("n_convs"),
        F.min("_ts").alias("first_seen"),
        F.max("_ts").alias("last_seen"),
    )


def pmi_links(
    ents: DataFrame,
    keys: list[str],
    n_groups: int,
    id_col: str = "eid",
    type_col: str = "entity_type",
) -> DataFrame:
    """PMI-weighted co-occurrence links: how much more often two
    entities share a turn than chance predicts.

    pmi(a,b) = ln( n_pair * N / (n_a * n_b) ) with N = ``n_groups``
    (total turn count, INCLUDING mention-free turns — the caller knows
    the full transcript size; deriving it from the mention stream would
    silently shrink N and inflate every score).

    The reference emits unweighted links only; association strength is
    the signal a ranking consumer (or an edge-pruning pass at 100 TB,
    where raw co-occurrence is dominated by chance pairings of frequent
    entities) needs on top.

    Scale: pair support comes from the SAME single-shuffle expansion as
    cooccurrence_links; entity counts are a |V|-sized aggregate joined
    on each endpoint (AQE broadcasts it when |V| is dim-sized); one
    partial+final agg per side. Output: subj, pred, obj, n_pair, pmi
    (exact double — round at the consumer).
    """
    occ = ents.select(
        *keys, F.col(id_col).alias("eid"), F.col(type_col).alias("entity_type")
    ).dropDuplicates()
    ent_counts = occ.groupBy("eid").agg(F.count(F.lit(1)).alias("n_ent"))
    per_group = entity_sets(occ, keys)
    pair_counts = (
        links_from_entity_sets(per_group, carry=tuple(keys))
        .groupBy("subj", "pred", "obj")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    ca = ent_counts.select(F.col("eid").alias("subj"), F.col("n_ent").alias("n_a"))
    cb = ent_counts.select(F.col("eid").alias("obj"), F.col("n_ent").alias("n_b"))
    return (
        pair_counts.join(ca, "subj")
        .join(cb, "obj")
        .select(
            "subj",
            "pred",
            "obj",
            "n_pair",
            F.log(
                F.col("n_pair") * F.lit(float(n_groups)) / (F.col("n_a") * F.col("n_b"))
            ).alias("pmi"),
        )
    )


def entity_vocab(ents: DataFrame, id_col: str = "eid") -> DataFrame:
    """Dense integer vocabulary ids for the entity universe, ordered by
    mention frequency (desc) then id — the export KG-embedding trainers
    (TransE-family) consume, which the reference leaves to downstream
    users of its TSVs.

    Scale note: the final row_number runs as a GLOBAL window (single
    partition) — correct here because its input is the already-aggregated
    entity universe (|V| rows, a dim), never the mention stream; the
    heavy lifting is the partial+final count aggregate before it. If |V|
    itself outgrew one partition, the frequency-rank contract would need
    a sort + per-partition offset scheme instead.
    """
    counts = ents.groupBy(F.col(id_col).alias("entity_id")).agg(
        F.count(F.lit(1)).alias("n_mentions")
    )
    w = Window.orderBy(F.desc("n_mentions"), F.asc("entity_id"))
    return counts.select(
        "entity_id",
        "n_mentions",
        (F.row_number().over(w) - 1).cast("int").alias("vocab_id"),
    )


def provenance_occurrences(
    turn_sets: DataFrame,
    ts_dim: DataFrame,
    top_level: DataFrame | None = None,
) -> DataFrame:
    """Per-occurrence typed edges with provenance columns: one row per
    (turn, emitted edge) carrying (subj, pred, obj, conv_id, ts). The
    pre-aggregation of the links_prov family — pairs expand FIRST
    (array-side, carrying only the two key strings), then the narrow
    rows join the (conv_id, turn_idx, ts) dim."""
    edges = links_from_entity_sets(
        turn_sets, top_level=top_level, carry=("conv_id", "turn_idx")
    )
    return edges.join(ts_dim, ["conv_id", "turn_idx"]).select(
        "subj", "pred", "obj", "conv_id", "ts"
    )


def ddi_pair_observations(turn_sets: DataFrame, extracted: DataFrame) -> DataFrame:
    """Per-turn DDI observations: (d1, d2, effect, ref) with canonical
    d1 < d2 from the already-sorted per-turn drug set. The turn-granular
    half of the quads stage."""
    fx = extracted.where(F.col("ddi").isNotNull()).select(
        "conv_id", "turn_idx", F.explode("ddi.effects").alias("effect")
    )
    drugs = F.transform(
        F.filter(F.col("ms"), lambda m: m["entity_type"] == "DRUG"),
        lambda m: m["eid"],
    )
    per_turn = turn_sets.select("conv_id", "turn_idx", drugs.alias("drugs")).where(
        F.size("drugs") >= 2
    )
    da = F.col("drugs")
    pair_arr = F.flatten(
        F.transform(
            da,
            lambda a, i: F.transform(
                F.slice(da, i + F.lit(2), F.size(da)),
                lambda b: F.struct(a.alias("d1"), b.alias("d2")),
            ),
        )
    )
    return (
        per_turn.join(fx, ["conv_id", "turn_idx"])
        .select(
            F.explode(pair_arr).alias("p"),
            "effect",
            F.concat_ws("#", "conv_id", "turn_idx").alias("ref"),
        )
        .select("p.d1", "p.d2", "effect", "ref")
        .where(F.col("d1") != F.col("d2"))
    )


def ddi_quads_from_observations(pairs: DataFrame) -> DataFrame:
    """Aggregate pair observations into DRUG_INTERACTION quads: salted
    refs-set merge per (pair, effect), then the direction-conflict
    exclusion — a (pair, side-effect) seen with both increase_ and
    decrease_ is dropped (reference: build_benchmarks.py:101-105)."""
    refs = salted_collect_set(pairs, ["d1", "d2", "effect"], "ref", out_col="refs")
    base_se = F.regexp_replace("effect", "^(increase|decrease)_", "")
    per_se = refs.select(
        "d1", "d2", "effect", "refs", base_se.alias("se")
    ).groupBy("d1", "d2", "se").agg(
        F.collect_list(F.struct("effect", "refs")).alias("fx")
    )
    consistent = per_se.where(F.size("fx") == 1)
    return consistent.select(
        "d1", "d2", F.explode("fx").alias("x")
    ).select(
        F.col("d1").alias("subj"),
        F.lit("DRUG_INTERACTION").alias("pred"),
        F.col("d2").alias("obj"),
        F.col("x.effect").alias("qual"),
        F.col("x.refs").alias("refs"),
    )


# stages of KGPipeline._stages that are built in place, never checkpointed
VIEWS = ("linked", "ontology")


class KGPipeline:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        lexicon: DataFrame,
        id_mapping: DataFrame | None = None,
        ontology: DataFrame | None = None,
        buckets: int = 32,
        canonicalizer: str = "mapping",
        disambiguation: str = "priority",
    ):
        """``canonicalizer``: 'mapping' uses the curated ``id_mapping`` dim
        (the reference's biodblinker analog, J3); 'lsh' DERIVES the mapping
        from the lexicon's surface forms via MinHash/LSH (north-star
        replacement for the hand-curated tables — no ``id_mapping``
        needed).

        ``disambiguation``: 'priority' resolves ambiguous surfaces at scan
        time by static lexicon priority (the reference's first-match-wins,
        parsers.py:976); 'context' emits surface occurrences and scores
        every candidate entity by per-turn type context
        (operators/linking.py — the north star's candidate entity-link
        scoring stage)."""
        if canonicalizer not in ("mapping", "lsh"):
            raise ValueError(f"unknown canonicalizer {canonicalizer!r}")
        if disambiguation not in ("priority", "context"):
            raise ValueError(f"unknown disambiguation {disambiguation!r}")
        if canonicalizer == "mapping" and id_mapping is None:
            raise ValueError("canonicalizer='mapping' requires id_mapping")
        self.spark = spark
        self.ckpt = CheckpointManager(spark, workdir)
        self.lexicon = lexicon
        self.id_mapping = id_mapping
        self.ontology = ontology
        self.buckets = buckets
        self.canonicalizer = canonicalizer
        self.disambiguation = disambiguation
        self._onto_ck: DataFrame | None = None

    # (session id, ontology plan id) -> (ontology, lineage-truncated
    # dim). Module level so REPEATED pipeline constructions in one
    # session (bench reps, resume runs) don't re-materialize the same
    # dim: the evaluation is codegen-heavy and single-partition — pure
    # serial time that Amdahl charges against every added core. The
    # source is kept beside its checkpoint because an id() is unique only
    # while its object lives: a hit must be the SAME ontology object, not
    # a new one that reuses a collected one's address.
    _ONTO_CK_MEMO: dict[tuple[int, int], tuple[DataFrame, DataFrame]] = {}

    def _onto(self) -> DataFrame:
        """The ontology dim with its lineage truncated (localCheckpoint):
        a dim assembled from a plan of unions re-plans its whole tree in
        EVERY consumer job otherwise — measured 20 s/stage at sf0.01 for
        a dim of a few thousand rows, pure analysis/codegen overhead.
        After truncation every consumer (routing assert, the two family
        splits, the top-level pathway set, the species export) scans a
        tiny cached table. On a real cluster the ontology would be a
        materialized table to begin with; this keeps arbitrary
        caller-supplied plans cheap, and the memo makes the
        materialization once-per-session like a real dim table."""
        if self._onto_ck is None:
            assert self.ontology is not None
            key = (id(self.spark), id(self.ontology))
            memo = KGPipeline._ONTO_CK_MEMO
            if key not in memo or memo[key][0] is not self.ontology:
                if len(memo) > 8:  # old sessions / discarded plans
                    memo.clear()
                memo[key] = (self.ontology, self.ontology.localCheckpoint())
            self._onto_ck = memo[key][1]
        return self._onto_ck

    def _prepare_ontology(self) -> tuple[DataFrame, DataFrame]:
        """Ontology routing (properties/metadata taxonomy + the top-level
        pathway set): ONE declarative pass over the lineage-truncated dim,
        checked against the published per-type vocabularies up front — the
        Spark analog of the reference's per-file fan-out writers raising
        on unknown predicates (compile_biokg.py:969). assert_routed is a
        limit-1 job on a dim table, not a hot-path collect. Built as the
        ``ontology`` view, concurrent with the transcript stages."""
        onto = self._onto()
        routed = route_ontology(onto)
        assert_routed(routed)
        return routed, top_level_pathways(onto)

    # ------------------------------------------------------------------
    def _stages(self, transcripts: DataFrame, run_key: str) -> dict[str, tuple]:
        """The pipeline's stage graph, in declaration order (every input is
        declared before its reader): ``name -> (inputs, build,
        partition_by, *own fingerprint parts)``, where ``build`` takes
        ``{input name: its value}``.

        - ``extracted`` is the ONE pass over the wide text column that all
          four quad families read; it overlaps the mentions scan.
        - ``linked`` and ``ontology`` are views (``VIEWS``): ``linked`` is
          a broadcast dim join over the mentions checkpoint, whose build
          is ~0 against a checkpoint cycle's write+commit+read-back;
          ``ontology`` is the routed, lineage-truncated dim and the
          top-level pathway set.
        - ``phos_quads``, ``metadata`` and ``properties`` read nothing from
          ``turn_sets``, so they overlap the mentions→turn_sets chain.
        - ``links`` is a projection of the ``links_prov`` checkpoint: the
          provenance aggregate's key set IS the distinct links table, and
          a second pair expansion doubled the late-phase CPU (e2e 10.6 s →
          22.7 s at 299k turns)."""
        no_onto = (None, None)
        onto = ("ontology",) if self.ontology is not None else ()
        stages = {
            "ingest": ((), lambda d: self._ingest(transcripts), None,
                       run_key, str(self.buckets)),
            "extracted": (("ingest",), lambda d: self._extract_facts(d["ingest"]),
                          None),
            "mentions": (("ingest",), lambda d: self._mentions(d["ingest"]),
                         None, self.disambiguation),
            "linked": (("mentions",), lambda d: self._link(d["mentions"]),
                       None, self.canonicalizer),
            "ontology": ((), lambda d: self._prepare_ontology(), None, run_key),
            "turn_sets": (("linked",), lambda d: self._turn_sets(d["linked"]),
                          None),
            "phos_quads": (("extracted",), lambda d: self._phos_quads(d["extracted"]),
                           None),
            "metadata": (
                ("linked", *onto),
                lambda d: self._metadata(d["linked"], d.get("ontology", no_onto)[0]),
                ["pred"],
            ),
            "properties": (onto, lambda d: self._properties(d["ontology"][0]),
                           ["pred"]),
            "links_prov": (
                ("turn_sets", "ingest", *onto),
                lambda d: self._links_provenance(
                    d["ingest"], d["turn_sets"], d.get("ontology", no_onto)[1]
                ),
                ["pred"],
            ),
            "links": (("links_prov",),
                      lambda d: d["links_prov"].select("subj", "pred", "obj"),
                      ["pred"]),
            "quads": (("turn_sets", "extracted"),
                      lambda d: self._effect_quads(d["turn_sets"], d["extracted"]),
                      None),
            "action_quads": (("turn_sets", "extracted"),
                             lambda d: self._action_quads(d["turn_sets"], d["extracted"]),
                             ["pred"]),
            "expr_quads": (("turn_sets", "extracted"),
                           lambda d: self._expression_quads(d["turn_sets"], d["extracted"]),
                           None),
        }
        if not onto:
            del stages["ontology"], stages["properties"]
        return stages

    def run(self, transcripts: DataFrame, run_key: str = "default") -> dict[str, DataFrame]:
        """Run ``_stages`` on one thread pool: each stage starts as soon as
        its inputs are done, as its own concurrent Spark jobs. A stage's
        checkpoint is keyed on ``fingerprint(name, *own parts, *input
        fingerprints)``, so changing anything upstream (an ontology added
        on resume included) rebuilds everything below it. Every stage is
        awaited; the first failure in declaration order is raised."""
        stages = self._stages(transcripts, run_key)
        fps: dict[str, str] = {}
        for name, (inputs, _build, _pb, *own) in stages.items():
            fps[name] = fingerprint(name, *own, *(fps[i] for i in inputs))
        futs: dict[str, Future] = {}

        def stage(name: str):
            inputs, build, partition_by, *_own = stages[name]
            d = {i: futs[i].result() for i in inputs}
            if name in VIEWS:
                return build(d)
            # looked up per call, so a wrapper set on the instance sees every stage
            return self.ckpt.run(
                name, fps[name], lambda: build(d), partition_by=partition_by
            )

        with ThreadPoolExecutor(max_workers=len(stages)) as pool:
            for name in stages:
                futs[name] = pool.submit(stage, name)
        failed = [e for f in futs.values() if (e := f.exception()) is not None]
        if failed:
            raise failed[0]
        out = {name: f.result() for name, f in futs.items() if name != "ontology"}
        self._assert_vocabulary(out)
        return out

    # -- stage 1: ingest/order ------------------------------------------
    def _ingest(self, transcripts: DataFrame) -> DataFrame:
        # key-uniqueness gate as ONE aggregation job over just the key
        # columns (column-pruned scan; the groupBy+filter+limit variant
        # costs an extra shuffle stage and a second job)
        stats = transcripts.select(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.struct("conv_id", "turn_idx")).alias("nd"),
        ).first()
        if stats["n"] != stats["nd"]:
            raise ValueError("duplicate (conv_id, turn_idx) keys in transcripts")
        # hash(conv_id) bucketing: all per-conversation work co-located;
        # at cluster scale this is the table's bucket spec, not a shuffle
        # per run.
        return transcripts.repartition(self.buckets, "conv_id")

    # -- stage 2: parse/mention-detect ------------------------------------
    def _mentions(self, ingested: DataFrame) -> DataFrame:
        raw = scan_mentions(
            ingested,
            self.lexicon,
            text_col="text",
            keys=("conv_id", "turn_idx"),
        )
        if self.disambiguation == "priority":
            return raw
        # context mode: the scanner found WHERE surfaces occur; WHICH
        # candidate entity each ambiguous surface denotes is re-decided by
        # per-turn type context (north star: candidate entity-link scoring)
        from biokg_spark.operators.linking import candidate_links

        occurrences = raw.select("conv_id", "turn_idx", "surface")
        resolved = candidate_links(occurrences, self.lexicon)
        return occurrences.join(
            resolved.select("conv_id", "turn_idx", "surface", "entity_id", "entity_type"),
            ["conv_id", "turn_idx", "surface"],
        )

    # -- stage 3: map/link (canonicalization) -----------------------------
    def _link(self, mentions: DataFrame) -> DataFrame:
        if self.canonicalizer == "lsh":
            from biokg_spark.operators.canonicalize import derive_id_mapping_lsh

            raw_mapping = derive_id_mapping_lsh(self.lexicon)
        else:
            raw_mapping = self.id_mapping
        mapping = F.broadcast(
            raw_mapping.select(
                F.col("src_id"), F.col("dst_id").alias("canonical_id")
            )
        )
        return (
            mentions.join(mapping, mentions.entity_id == mapping.src_id, "left")
            .withColumn("canonical_id", F.coalesce("canonical_id", "entity_id"))
            .drop("src_id")
        )

    # -- stage 3b: shared per-turn entity sets -----------------------------
    def _turn_sets(self, linked: DataFrame) -> DataFrame:
        return entity_sets(
            linked.select(
                "conv_id", "turn_idx", F.col("canonical_id").alias("eid"), "entity_type"
            ),
            keys=["conv_id", "turn_idx"],
        )

    # -- stage 4b': provenance-annotated links ---------------------------
    def _links_provenance(
        self,
        ingested: DataFrame,
        turn_sets: DataFrame,
        top_level: DataFrame | None = None,
    ) -> DataFrame:
        """The links vocabulary with per-triple evidence: support count,
        distinct-conversation spread, and first/last observation
        timestamp — the reference's quad-qualifier/pubmed-ref provenance
        (parsers.py:901, 2153) generalized to timestamped transcripts.

        Inputs are both already on disk: the checkpointed turn_sets (the
        shared per-turn aggregation) joined with a column-pruned
        (conv_id, turn_idx, ts) scan of the ingest checkpoint — the wide
        text column is never touched. The pair expansion is the same
        single-shuffle array-side walk as the links stage; the final
        aggregate's key space is the emitted edge vocabulary, so its
        shuffle is negligible (measured: 10M mentions → provenance in
        10 s on local[32], SCALE.md)."""
        # expand pairs FIRST, carrying only the two key strings — joining
        # ts onto the narrow per-occurrence rows shuffles ~|occurrences|
        # small rows instead of the heavy per-turn ms arrays (measured:
        # the ms-array-side join shape cost ~2 s more per run at 299k
        # turns)
        occ = provenance_occurrences(
            turn_sets,
            ingested.select("conv_id", "turn_idx", "ts"),
            top_level=top_level,
        )
        return occ.groupBy("subj", "pred", "obj").agg(
            F.count(F.lit(1)).alias("n_support"),
            F.countDistinct("conv_id").alias("n_convs"),
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
        )

    # -- stage 3c: the SHARED one-pass fact extraction ----------------------
    def _extract_facts(self, ingested: DataFrame) -> DataFrame:
        """One scan of the wide text column computes every extraction the
        quad families need: the 15-pattern DDI cascade, the drug-protein
        action cue + PubMed refs, the expression tissue/level, and the
        phosphorylation statement groups. Output keeps only turns with at
        least one hit and carries no text — the families never touch the
        wide column again.

        The kernel is Arrow-batched CPython regex: on this class of
        allocation-heavy regex work, measured at 9M turns, a Catalyst
        expression chain ran 109.7 s → 42.5 s from 2 to 8 pinned cores
        (2.6×: the JVM form hits an allocation/bandwidth wall) while
        CPython's sre kernel is both ~4× faster per row and scales at 0.97
        — same finding as the mention scanner. The DDI step is
        ``ddi_side_effects``; its JVM twin ``ddi_effects_column`` serves
        the ``ddi_cascade_effects`` registry query."""
        from collections.abc import Iterator

        import pandas as pd
        from pyspark.sql.types import (
            ArrayType,
            IntegerType,
            StringType,
            StructField,
            StructType,
        )

        key_fields = [ingested.schema["conv_id"], ingested.schema["turn_idx"]]
        schema = StructType(
            key_fields
            + [
                StructField(
                    "ddi",
                    StructType(
                        [
                            StructField("pattern_idx", IntegerType()),
                            StructField("effects", ArrayType(StringType())),
                        ]
                    ),
                ),
                StructField("ra", StringType()),
                StructField("ref_string", StringType()),
                StructField("tissue", StringType()),
                StructField("level", StringType()),
                StructField("kin_surface", StringType()),
                StructField("kin_organism", StringType()),
                StructField("sub_surface", StringType()),
                StructField("sub_organism", StringType()),
                StructField("site", StringType()),
            ]
        )

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import re

            from biokg_spark.functions.cascade import ddi_side_effects

            cues = [(re.compile(pat), f"{rel}|{act}") for pat, rel, act in ACTION_CUES]
            pubmed = re.compile(PUBMED_RX)
            expr_rx = re.compile(EXPRESSION_RX)
            phos_rx = re.compile(PHOS_RX)
            cols = [f.name for f in schema.fields]
            for pdf in batches:
                rows = []
                keys = pdf[["conv_id", "turn_idx"]].itertuples(index=False, name=None)
                for kv, t in zip(keys, pdf["text"].tolist()):
                    t = t or ""
                    hit = ddi_side_effects(t)
                    ddi = (
                        {"pattern_idx": hit[0], "effects": hit[1]}
                        if hit is not None
                        else None
                    )
                    ra = next((label for rx, label in cues if rx.search(t)), None)
                    refs = ",".join(pubmed.findall(t)) if "PubMed=" in t else ""
                    em = expr_rx.search(t) if " expression in " in t else None
                    pm = phos_rx.match(t) if " phosphorylates " in t else None
                    if ddi is None and ra is None and em is None and pm is None:
                        continue
                    rows.append(
                        kv
                        + (
                            ddi,
                            ra,
                            refs,
                            em.group(1) if em else "",
                            em.group(2).upper() if em else "",
                            pm.group(1).lower() if pm else "",
                            pm.group(2) if pm else "",
                            pm.group(3).lower() if pm else "",
                            pm.group(4) if pm else "",
                            pm.group(5) if pm else "",
                        )
                    )
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

        return ingested.select("conv_id", "turn_idx", "text").mapInPandas(
            run, schema=schema
        )

    # -- stage 4b: DDI side-effect quads with conflict exclusion -----------
    def _effect_quads(self, turn_sets: DataFrame, extracted: DataFrame) -> DataFrame:
        """DDI side-effect extraction over interaction descriptions via the
        FULL 15-pattern first-match-wins cascade (reference:
        parsers.py:24-45 + :927-977), run by ``ddi_side_effects`` inside
        the Arrow fact extractor (``_extract_facts``); one description can
        yield several effects ('x, and y'-lists, excretion-rate appends).

        Plan notes (10^12-turn discipline): per-turn drug sets derive from
        the SHARED turn_sets aggregation (no second shuffle of the mention
        table); drug pairs expand array-side from the already-sorted
        per-turn set (canonical d1<d2 for free); refs merge with a salted
        two-phase set agg (hot pairs); the conflict rule — a (pair,
        side-effect) seen with both increase_ and decrease_ is dropped
        (reference: build_benchmarks.py:101-105) — is one aggregation over
        the ≤2 direction rows per (pair, se), no extra join."""
        return ddi_quads_from_observations(
            ddi_pair_observations(turn_sets, extracted)
        )

    # -- stage 4c: drug-protein action quads (5/6-column extended form) ----
    def _action_quads(self, turn_sets: DataFrame, extracted: DataFrame) -> DataFrame:
        """Extended quads (subj, rel_type, obj, action, refs) — the
        reference's target/carrier/transporter/enzyme sections with per-row
        actions and PubMed reference lists (parsers.py:904-925 writes
        5/6-column lines; refs joined with ','). The relation cue cascade
        and the reference's PUBMED_ID_CODE regex (parsers.py:30) already
        ran in the shared extraction stage."""
        acts = extracted.where(F.col("ra").isNotNull())
        acts = acts.select(
            "conv_id",
            "turn_idx",
            F.split_part("ra", F.lit("|"), F.lit(1)).alias("pred"),
            F.split_part("ra", F.lit("|"), F.lit(2)).alias("action"),
            F.when(F.col("ref_string") == "", None).otherwise(
                F.col("ref_string")
            ).alias("refs"),
        )
        of_type = lambda t: F.transform(  # noqa: E731
            F.filter(F.col("ms"), lambda m: m["entity_type"] == t),
            lambda m: m["eid"],
        )
        per_turn = turn_sets.select(
            "conv_id",
            "turn_idx",
            of_type("DRUG").alias("drugs"),
            of_type("PROTEIN").alias("prots"),
        ).where((F.size("drugs") > 0) & (F.size("prots") > 0))
        return (
            per_turn.join(acts, ["conv_id", "turn_idx"])
            .select(
                F.explode("drugs").alias("subj"),
                "prots",
                "pred",
                "action",
                "refs",
            )
            .select(
                "subj",
                "pred",
                F.explode("prots").alias("obj"),
                "action",
                "refs",
            )
            .dropDuplicates()
        )

    # -- stage 4e: protein-expression quads ---------------------------------
    def _expression_quads(self, turn_sets: DataFrame, extracted: DataFrame) -> DataFrame:
        """(protein, PROTEIN_EXPRESSED_IN, tissue, LOW|MEDIUM|HIGH) quads —
        the reference's HPA expression levels (compile_biokg.py:855-888
        writes the 4-column level file with upper-cased enums)."""
        ex = extracted.select("conv_id", "turn_idx", "tissue", "level").where(
            F.col("tissue") != ""
        )
        prots = F.transform(
            F.filter(F.col("ms"), lambda m: m["entity_type"] == "PROTEIN"),
            lambda m: m["eid"],
        )
        per_turn = turn_sets.select("conv_id", "turn_idx", prots.alias("prots")).where(
            F.size("prots") > 0
        )
        return (
            per_turn.join(ex, ["conv_id", "turn_idx"])
            .select(
                F.explode("prots").alias("subj"),
                F.lit("PROTEIN_EXPRESSED_IN").alias("pred"),
                F.concat(F.lit("TISSUE:"), "tissue").alias("obj"),
                F.col("level"),
            )
            .where(F.col("level").isin("LOW", "MEDIUM", "HIGH"))
            .dropDuplicates()
        )

    # -- stage 4f: organism-qualified phosphorylation quads -----------------
    def _phos_quads(self, extracted: DataFrame) -> DataFrame:
        """6-column quads (kinase, PHOSPHORYLATES, substrate, site,
        kin_organism, sub_organism) — the reference's phosphosite
        kinase_substrate parse (parsers.py:2703-2744). Direction matters
        (kinase acts on substrate), so subject/object resolve from the
        statement's surface positions through a broadcast lexicon join —
        not from the unordered per-turn entity set."""
        ph = extracted.select(
            "kin_surface", "kin_organism", "sub_surface", "sub_organism", "site"
        ).where(F.col("kin_surface") != "")
        lex = F.broadcast(
            self.lexicon.select(
                F.lower("surface").alias("surface"),
                F.col("entity_id"),
                F.col("entity_type"),
            ).where(F.col("entity_type") == "PROTEIN")
        )
        return (
            ph.join(lex, ph.kin_surface == lex.surface)
            .select(
                F.col("entity_id").alias("subj"),
                "sub_surface",
                "site",
                "kin_organism",
                "sub_organism",
            )
            .join(lex, F.col("sub_surface") == lex.surface)
            .select(
                "subj",
                F.lit("PHOSPHORYLATES").alias("pred"),
                F.col("entity_id").alias("obj"),
                "site",
                "kin_organism",
                "sub_organism",
            )
            .dropDuplicates()
        )

    # -- stage 4c: metadata (MENTIONS provenance + entity metadata) --------
    def _metadata(self, linked: DataFrame, routed: DataFrame | None = None) -> DataFrame:
        """Turn→entity MENTIONS provenance plus the per-entity metadata
        families routed off the ontology dim (NAME/SYNONYM/SPECIES/… —
        reference meta_description.txt:8-346; routing in
        pipeline/taxonomy.py mirrors the per-type metadata writers)."""
        mentions = linked.select(
            F.concat_ws("#", "conv_id", "turn_idx").alias("subj"),
            F.lit("MENTIONS").alias("pred"),
            F.col("canonical_id").alias("obj"),
        )
        if routed is None:
            return mentions.dropDuplicates()
        entity_meta = routed.where(F.col("family") == "metadata").select(
            "subj", "pred", "obj"
        )
        return mentions.unionByName(entity_meta).dropDuplicates()

    # -- stage 4d: ontology properties (full published taxonomy) ----------
    def _properties(self, routed: DataFrame) -> DataFrame:
        """The reference's property files as one partitioned family: GO
        annotations, InterPro classes, SIDER associations, ATC levels,
        MeSH tree prefixes + supergroups, pathway category/hierarchy/GO,
        cell→tissue (properties_description.txt:7-306). Expansion and
        (entity_type, pred) vocabulary routing happened in
        route_ontology; unknown rows already raised at assert_routed —
        the fan-out writer raise (compile_biokg.py:969)."""
        return (
            routed.where(F.col("family") == "properties")
            .select("subj", "pred", "obj")
            .dropDuplicates()
        )

    # -- vocabulary closure (reference: compile_biokg.py:969) -------------
    def _assert_vocabulary(self, outputs: dict[str, DataFrame]) -> None:
        # ONE job for all families instead of one collect per table. For
        # the pred-partitioned tables (links/metadata/properties) the scan
        # is partition-pruned: distinct pred values come from directory
        # names, no data pages are read.
        preds = None
        tagged = []
        for name in (
            "links", "quads", "action_quads", "expr_quads", "phos_quads",
            "metadata", "properties",
        ):
            df = outputs.get(name)
            if df is None:
                continue
            p = df.select(F.col("pred"), F.lit(name).alias("family"))
            preds = p if preds is None else preds.unionByName(p)
            tagged.append(name)
        if preds is None:
            return
        bad = (
            preds.where(~F.col("pred").isin(*PREDICATE_VOCABULARY))
            .select("pred", "family")
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"Predicate not recognized {bad[0]['pred']!r} in {bad[0]['family']}"
            )

    # -- stage 5: derived benchmarks (reference: build_benchmarks.py) ------
    def derive_benchmarks_stage(
        self, outputs: dict[str, DataFrame], approved_drugs: DataFrame,
        run_key: str = "default",
    ) -> dict[str, DataFrame]:
        """Checkpoint the benchmark extractions over the emitted graph
        (reference lifecycle stage 3, SURVEY.md §3.4). Each ``bench_*``
        fingerprint chains those of the ``quads``, ``links``,
        ``action_quads`` and ``phos_quads`` checkpoints this pipeline's
        ``run`` wrote, so a rebuilt family is never served stale.
        ``approved_drugs`` is not a checkpoint: a caller that changes it
        must change ``run_key``."""
        from biokg_spark.pipeline.benchmarks import derive_benchmarks

        derived = derive_benchmarks(outputs, approved_drugs)
        inputs = [
            self.ckpt.results[n].fingerprint
            for n in ("quads", "links", "action_quads", "phos_quads")
        ]
        out = {}
        for name, df in derived.items():
            fp = fingerprint("bench_" + name, run_key, *inputs)
            out[name] = self.ckpt.run("bench_" + name, fp, lambda df=df: df)
        return out

    # -- stage 6: core export (reference: compile_biokg.py:1083-1127 + K5) -
    def export_core(self, outputs: dict[str, DataFrame], path: str) -> None:
        """Reference-compatible core dumps: one TSV directory per family,
        quad refs comma-joined exactly like the reference's on-disk form
        (parsers.py:901); links+metadata concatenated into the core edge
        table the way generate_core_links cats per-predicate files."""
        from biokg_spark.sources.tables import write_tsv

        core_links = outputs["links"].unionByName(
            outputs["metadata"].select("subj", "pred", "obj")
        )
        write_tsv(core_links.select("subj", "pred", "obj"), f"{path}/links")
        quads = outputs["quads"].select(
            "subj", "pred", "obj", "qual",
            F.concat_ws(",", "refs").alias("refs"),
        )
        write_tsv(quads, f"{path}/quads")
        if "action_quads" in outputs:
            write_tsv(
                outputs["action_quads"].select("subj", "pred", "obj", "action", "refs"),
                f"{path}/action_quads",
            )
        if "expr_quads" in outputs:
            write_tsv(
                outputs["expr_quads"].select("subj", "pred", "obj", "level"),
                f"{path}/expr_quads",
            )
        if "phos_quads" in outputs:
            write_tsv(
                outputs["phos_quads"].select(
                    "subj", "pred", "obj", "site", "kin_organism", "sub_organism"
                ),
                f"{path}/phos_quads",
            )
        if "properties" in outputs:
            write_tsv(
                outputs["properties"].select("subj", "pred", "obj"),
                f"{path}/properties",
            )
        if self.ontology is not None:
            self.export_ppi_by_species(outputs, path)

    def export_ppi_by_species(self, outputs: dict[str, DataFrame], path: str) -> None:
        """Per-species PPI fan-out — K4 at pipeline level (reference
        write_ppi_by_species, compile_biokg.py:215-272): each PPI edge
        routes to its species' partition when both endpoints share a
        species, to INTERSPECIES otherwise; edges with an unmapped
        endpoint are skipped (the reference's ``continue``). The species
        map comes from the ontology's SPECIES metadata rows, exactly like
        the reference's get_species_map reads uniprot_metadata
        (compile_biokg.py:203-212). Both joins broadcast (dim-sized map);
        the write partitions by the bucket — one directory per species,
        the analog of one file per species."""
        from biokg_spark.sources.tables import write_tsv

        write_tsv(
            self.ppi_species_buckets(outputs["links"]),
            f"{path}/ppi_species",
            partition_by=["species_bucket"],
        )

    def ppi_species_buckets(self, links: DataFrame) -> DataFrame:
        """(subj, pred, obj, species_bucket) for every species-mapped PPI
        edge — the routing expression behind export_ppi_by_species."""
        species = self._onto().where(F.col("pred") == "SPECIES").select(
            F.col("entity_id").alias("sp_id"), F.col("value").alias("sp")
        )
        ppi = links.where(F.col("pred") == "PPI")
        s_sp = F.broadcast(species.withColumnRenamed("sp", "s_species"))
        o_sp = F.broadcast(species.withColumnRenamed("sp", "o_species"))
        bucket = F.when(
            F.col("s_species") == F.col("o_species"), F.col("s_species")
        ).otherwise(F.lit("INTERSPECIES"))
        return (
            ppi.join(s_sp, ppi.subj == s_sp.sp_id)
            .drop("sp_id")
            .join(o_sp, ppi.obj == o_sp.sp_id)
            .select("subj", "pred", "obj", bucket.alias("species_bucket"))
        )

    # ------------------------------------------------------------------
    def metrics(self) -> dict[str, dict]:
        return self.ckpt.metrics()
