"""Incremental KG construction over a transcript stream.

The reference's only incrementality is md5-skip re-runs (main.py:91-98);
the engine adds true streaming increments: new transcript turns flow
through the SAME Arrow-batched mention scanner as the batch pipeline and
append into the same mentions table layout.

Exactly-once is achieved by making the ``foreachBatch`` sink IDEMPOTENT,
not by trusting the checkpoint alone: foreachBatch is at-least-once (a
crash after the write but before the checkpoint commits replays the
batch), so each micro-batch writes to its own ``batch_id=N`` partition
directory with overwrite semantics — a replayed batch rewrites the same
deterministic content into the same directory instead of appending
duplicates, and partial files from a crashed attempt are replaced. This
is the standard idempotent-sink discipline for foreachBatch parquet
output (a transactional table format gets the same effect natively).

Downstream (links/quads/metadata) stay batch jobs over the growing
mentions table — the reference lifecycle's compile stage re-run on the
incremented input, resumable via the checkpoint manifests as usual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from biokg_spark.operators.mentions import scan_mentions


def incremental_mentions(
    turns_stream: DataFrame,
    lexicon: DataFrame,
    out_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Stream transcript turns → mention rows appended to ``out_path``.

    The scan itself is the batch operator (scan_mentions) applied inside
    ``foreachBatch`` — one code path for batch and streaming. Offsets are
    tracked in ``checkpoint_path``; duplicate-batch replays are absorbed
    by the batch_id-keyed overwrite sink (see module docstring). Readers
    load ``out_path`` with partition discovery; the ``batch_id`` partition
    column is provenance metadata.
    """

    # Layout guard: this sink writes hive-partitioned batch_id=N
    # directories (an earlier layout wrote flat mode('append') files).
    # Mixing the two in one out_path breaks partition discovery and
    # surfaces a batch_id column legacy readers never saw — fail with a
    # migration error instead of silently corrupting the table.
    import os

    if os.path.isdir(out_path):
        legacy = [
            f
            for f in os.listdir(out_path)
            if f.endswith(".parquet") and os.path.isfile(os.path.join(out_path, f))
        ]
        if legacy:
            raise ValueError(
                f"out_path {out_path!r} holds {len(legacy)} flat parquet file(s) "
                "from the pre-partitioned sink layout; the batch_id-keyed "
                "idempotent sink needs a fresh directory (migrate the old "
                "files into batch_id=<n>/ subdirectories or point the "
                "stream at a new out_path)"
            )

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        mentions = scan_mentions(batch_df, lexicon)
        mentions.write.mode("overwrite").parquet(
            f"{out_path}/batch_id={batch_id}"
        )

    return (
        turns_stream.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Incremental downstream recompute: links and quads over a GROWING corpus
# without full re-runs. The reference's only incrementality is md5-skip
# re-runs of whole stages (main.py:91-98); these operators are the true
# streaming analog — each new batch touches only the keys it affects.
# ---------------------------------------------------------------------------


def incremental_links(
    links_old: DataFrame,
    turn_sets_new: DataFrame,
    top_level: DataFrame | None = None,
) -> DataFrame:
    """Merge co-occurrence links from NEW turns into the links table.

    Links are turn-granular and distinct-union-monotone: a turn arrives
    whole (per the ingest key contract), so a new batch can only ADD
    links — merge = union + distinct, no recompute of history. Work is
    proportional to the batch, not the corpus.
    """
    from biokg_spark.pipeline.kg import links_from_entity_sets

    new_links = links_from_entity_sets(turn_sets_new, top_level=top_level)
    return links_old.unionByName(new_links).dropDuplicates()


def incremental_quads(
    quads_old: DataFrame,
    obs_all: DataFrame,
    obs_new: DataFrame,
) -> DataFrame:
    """Keyed upsert of DRUG_INTERACTION quads for the drug pairs a new
    batch touches.

    Quads are NOT monotone: the direction-conflict exclusion
    (build_benchmarks.py:101-105) means one new observation can RETRACT
    an existing quad (a pair/side-effect seen with the opposite
    direction), and the refs list of an existing quad grows. The correct
    incremental unit is the drug pair:

    1. affected pairs = distinct (d1, d2) in the new batch's observations;
    2. recompute quads for those pairs over the FULL observation history
       (semi-join — work ∝ affected pairs' history, not the corpus);
    3. drop the affected pairs' old rows (anti-join) and insert the
       recomputed ones.

    ``obs_all``/``obs_new``: (d1, d2, effect, ref) from
    pipeline.kg.ddi_pair_observations over the grown corpus / the new
    batch. Both joins shuffle on the pair key only.
    """
    from biokg_spark.pipeline.kg import ddi_quads_from_observations

    pairs = obs_new.select("d1", "d2").dropDuplicates()
    affected_obs = obs_all.join(pairs, ["d1", "d2"], "left_semi")
    recomputed = ddi_quads_from_observations(affected_obs)
    kept = quads_old.join(
        pairs,
        (quads_old.subj == pairs.d1) & (quads_old.obj == pairs.d2),
        "left_anti",
    )
    return kept.unionByName(recomputed)


def incremental_provenance_state(
    state_old: DataFrame, occurrences_new: DataFrame
) -> DataFrame:
    """Merge new per-occurrence edges into the provenance STATE table.

    links_prov is an aggregate with a count-DISTINCT (n_convs), which is
    not mergeable from per-batch final aggregates — so the incremental
    unit is one level finer: state is keyed (subj, pred, obj, conv_id)
    with (n_support, first_seen, last_seen), ALL of which merge under
    appends (sum / min / max). The published family then re-aggregates
    state by triple, where n_convs is a plain row count. Work: one
    batch-local aggregate plus one combine over |state| (edge-vocabulary
    × conversations — bounded by distinct evidence keys, far below the
    corpus row count; the turn history itself is never rescanned).

    ``occurrences_new``: pipeline.kg.provenance_occurrences over the new
    batch's turn_sets only.
    """
    batch = occurrences_new.groupBy("subj", "pred", "obj", "conv_id").agg(
        F.count(F.lit(1)).alias("n_support"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )
    return (
        state_old.unionByName(batch)
        .groupBy("subj", "pred", "obj", "conv_id")
        .agg(
            F.sum("n_support").alias("n_support"),
            F.min("first_seen").alias("first_seen"),
            F.max("last_seen").alias("last_seen"),
        )
    )


def provenance_from_state(state: DataFrame) -> DataFrame:
    """Publish the links_prov family from the incremental state table —
    identical schema/semantics to the batch family (test-pinned:
    increment ≡ full recompute)."""
    return state.groupBy("subj", "pred", "obj").agg(
        F.sum("n_support").alias("n_support"),
        F.count(F.lit(1)).alias("n_convs"),
        F.min("first_seen").alias("first_seen"),
        F.max("last_seen").alias("last_seen"),
    )


def incremental_distinct_family(
    family_old: DataFrame, family_new_batch: DataFrame
) -> DataFrame:
    """Merge any distinct-dedup (monotone) output family incrementally.

    action_quads / expr_quads / phos_quads are per-turn extractions with
    a trailing dropDuplicates and no cross-turn aggregation — appends can
    only ADD rows, so the increment is the batch-local family unioned
    with the existing table, distinct. (DDI quads are the one family
    this must NOT be used for — their refs aggregation and conflict rule
    span turns; use incremental_quads.)
    """
    return family_old.unionByName(family_new_batch).dropDuplicates()
