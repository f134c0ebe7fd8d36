"""Connected components over candidate-pair edges (dedup clustering).

Near-dup detection (MinHash/LSH, SimHash, embedding-cosine) yields
candidate PAIRS; deduplication needs CLUSTERS — the transitive closure of
the pair graph — plus a survivor per cluster. GraphFrames is not in this
container, so this is the standard alternating large-star/small-star-style
min-label propagation implemented with plain DataFrame joins:

    label(v) ← min(label(v), min over neighbors(label(u)))

iterated to fixpoint. Each iteration is one shuffle join + one aggregate.
Two materialization rules make iteration viable (the classic iterative-
DataFrame traps at scale):
- the edge set is localCheckpointed ONCE up front — otherwise every
  iteration recomputes the (possibly expensive: LSH banding, shingling)
  pair-generation lineage from scratch;
- every iteration's labels are eagerly localCheckpointed — otherwise the
  plan doubles per round and the convergence-check job recomputes the
  join twice.

The module also holds the two iteration kernels that the SCC,
topological-layer and operators/traversal.py loops run on — :func:`relax`
(monotone min/max relaxation) and :func:`expand` (first-visit frontier
expansion). Both own the lineage-truncation discipline: each round's
rows are lazily localCheckpointed, and ONE ``count()`` per round both
materializes that checkpoint and answers convergence (an ``isEmpty``
probe computes part of the round, then pays a catch-up job).
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def relax(
    state: DataFrame,
    edges: DataFrame,
    key: str,
    val: str,
    step: Column,
    better: Callable[[str], Column],
    max_rounds: int,
) -> tuple[DataFrame, bool]:
    """Monotone relaxation ``val(_d) = better(val(_d), step)`` over
    ``edges`` (``_s``, ``_d`` and whatever ``step`` reads); ``better``
    is ``F.min`` or ``F.max``.

    ``state`` is (key, val) with ONE row per key. Each round proposes
    ``step`` at ``_d`` for every state row joined on ``_s``, unions the
    proposals with the state (which carries its value as ``_old``) and
    runs one ``groupBy(key).agg(better(val), max(_old))``. A key changed
    iff ``_old`` is NULL or differs from the new value, so convergence
    is one ``count()`` on the round's checkpoint, not a second
    self-join. Returns (state, converged): converged means a round
    within ``max_rounds`` changed nothing.
    """
    for _ in range(max_rounds):
        proposed = state.join(edges, F.col(key) == F.col("_s")).select(
            F.col("_d").alias(key), step.alias(val)
        )
        nxt = (
            state.withColumn("_old", F.col(val))
            .unionByName(proposed, allowMissingColumns=True)
            .groupBy(key)
            .agg(better(val).alias(val), F.max("_old").alias("_old"))
            .localCheckpoint(eager=False)
        )
        n_changed = nxt.where(
            F.col("_old").isNull() | (F.col(val) != F.col("_old"))
        ).count()
        state = nxt.drop("_old")
        if n_changed == 0:
            return state, True
    return state, False


def expand(
    state: DataFrame,
    keys: list[str],
    step: Callable[[DataFrame, int], DataFrame],
    max_rounds: int | None,
) -> DataFrame:
    """First-visit frontier expansion of a keyed state.

    The first frontier is ``state`` itself. Round h anti-joins
    ``step(frontier, h)`` (``state``'s columns, in order) on ``keys``
    against ``state``: a key enters on its first visit only, so the
    anti-join IS the minimum-depth rule. The new rows become the next
    frontier; the loop stops when a round adds none or after
    ``max_rounds`` rounds (``None``: until empty). The state is a plain
    union of checkpointed legs — re-checkpointing it would copy the
    whole state every round.
    """
    frontier = state
    rounds = itertools.count(1) if max_rounds is None else range(1, max_rounds + 1)
    for h in rounds:
        nxt = (
            step(frontier, h)
            .join(state.select(*keys), keys, "left_anti")
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        state = state.union(nxt)
        frontier = nxt
    return state


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Label every vertex of the pair graph with its component's min id.

    Output: (id, component). Isolated vertices never appear in ``pairs``
    and so are their own components by definition (callers union them in
    if needed). Converges early when an iteration changes no label.

    Each round combines neighbor-min propagation with a pointer-jumping
    step (component ← label(component)), so label distances roughly halve
    per round: convergence is O(log diameter) rounds, and ``max_iter=20``
    covers chains far beyond anything a near-dup graph produces. If the
    labels still changed on the final round the function RAISES — a
    silently split component yields wrong dedup survivors downstream.
    """
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
    )
    # undirected: keep both directions so propagation flows both ways;
    # materialize ONCE — the upstream pair generation never re-runs
    sym = (
        edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("id"))
        .dropDuplicates()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=False)
    )
    converged = False
    for _i in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("_nbr_min"))
        )
        stepped = labels.join(neighbor_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce("_nbr_min", F.col("component"))
            ).alias("component"),
            F.col("component").alias("_old"),
        )
        # pointer jump: follow one hop through the label table
        # (component is always a vertex id, so the lookup always hits)
        parent = labels.select(
            F.col("id").alias("component"), F.col("component").alias("_p")
        )
        updated = (
            stepped.join(parent, "component", "left")
            .select(
                "id",
                F.least(
                    F.coalesce("_p", F.col("component")), F.col("component")
                ).alias("component"),
                "_old",
            )
            .localCheckpoint(eager=False)
        )
        # full count, not limit(1): ONE job materializes the lazy
        # checkpoint and counts changes (a limit probe would partially
        # compute, then pay the doCheckpoint catch-up job)
        n_changed = (
            updated.where(F.col("component") != F.col("_old")).count()
        )
        labels = updated.drop("_old")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} rounds; "
            "raise max_iter (labels would be silently wrong otherwise)"
        )
    return labels


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster near-dup candidate pairs and pick the survivor (min id).

    Output: (id, survivor, is_survivor) — one row per clustered document;
    downstream keeps ``is_survivor`` rows and drops the rest.
    """
    cc = connected_components(pairs, src, dst)
    return cc.select(
        "id",
        F.col("component").alias("survivor"),
        (F.col("id") == F.col("component")).alias("is_survivor"),
    )


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_peels: int = 20,
    max_prop: int = 30,
) -> DataFrame:
    """SCC of a DIRECTED graph via coloring/FW-BW peeling (Orzan 2004;
    the Slota et al. multistep family) — the directed sibling of
    :func:`connected_components` (min-label propagation alone only
    yields WEAK components).

    Each peel round: (1) forward min-color propagation to fixpoint —
    color(v) = the smallest node id that reaches v in the remaining
    graph; (2) every node that kept its own id is a pivot, and its SCC
    is confirmed by a BACKWARD sweep from the pivot restricted to
    same-color nodes. The restriction is lossless: on any v→pivot path
    with color(v) = pivot, every intermediate node w also has
    color(w) = pivot (a smaller color at w would reach v through w's
    colorer, contradicting color(v)). All pivots of a round peel in the
    SAME joins — like the per-seed BFS, pivot count multiplies state,
    never job count. Peeled nodes leave the graph; repeat.

    Scale shape: every step is an equi-join + min/anti-join aggregate
    on the node id; the forward pass is :func:`relax`, the backward
    sweep :func:`expand`. Rounds: forward fixpoint is O(diameter) per
    peel; the number of peels is bounded by the longest SCC-DAG chain
    condensed onto one pivot per round — power-law graphs peel their
    giant SCC first (the FW-BW observation). RAISES if either bound is
    exhausted with work remaining — a silently split SCC is wrong
    downstream.

    Output: (id_col, scc_id) — scc_id is the smallest member id.
    """
    e_all = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s") != F.col("_d"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    remaining = (
        e_all.select(F.col("_s").alias("id"))
        .union(e_all.select("_d"))
        .union(edges.select(F.col(src).alias("id")))  # keeps self-loop-only nodes
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    assigned = None
    for _ in range(max_peels):
        if remaining.isEmpty():
            break
        e = (
            e_all.join(remaining.select(F.col("id").alias("_s")), "_s", "left_semi")
            .join(remaining.select(F.col("id").alias("_d")), "_d", "left_semi")
            .localCheckpoint(eager=False)
        )
        # forward min-color fixpoint
        color, converged = relax(
            remaining.select("id", F.col("id").alias("color")),
            e, "id", "color", F.col("color"), F.min, max_prop,
        )
        if not converged:
            raise RuntimeError("SCC forward propagation did not converge")
        # backward confirmation from all pivots at once, within color
        memb = color.where(F.col("id") == F.col("color")).select(
            "id", F.col("color").alias("scc_id")
        ).localCheckpoint(eager=False)
        own_color = color.select("id", F.col("color").alias("_c"))

        def back(frontier: DataFrame, _h: int) -> DataFrame:
            return (
                frontier.join(e, frontier["id"] == e["_d"])
                .select(F.col("_s").alias("id"), "scc_id")
                .join(own_color, "id")
                .where(F.col("_c") == F.col("scc_id"))
                .select("id", "scc_id")
                .distinct()
            )

        memb = expand(memb, ["id"], back, None)
        assigned = memb if assigned is None else assigned.union(memb)
        remaining = remaining.join(
            memb.select("id"), "id", "left_anti"
        ).localCheckpoint(eager=False)
    if not remaining.isEmpty():
        raise RuntimeError("SCC peeling exhausted max_peels with nodes left")
    if assigned is None:
        schema = f"{id_col} string, scc_id string"
        return edges.sparkSession.createDataFrame([], schema)
    return assigned.select(F.col("id").alias(id_col), "scc_id").localCheckpoint(
        eager=False
    )


def topo_layers(
    edges: DataFrame,
    scc: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_rounds: int = 50,
) -> DataFrame:
    """Topological layers of the SCC condensation: layer(v) = longest
    path (in condensed edges) ending at v's component — the
    parallel-schedule depth of a directed KG (everything in layer L
    depends only on layers < L), and the follow-through on
    :func:`strongly_connected_components`' "precondition for
    topological processing".

    Condenses via the supplied (or freshly computed) SCC assignment,
    drops intra-component edges, then iterates max-relaxation
    ``layer(dst) = max(layer(dst), layer(src) + 1)`` — one equi-join +
    one max HashAggregate per round, converging in exactly the number
    of layers (the condensation is a DAG by construction, so
    non-convergence within ``max_rounds`` RAISES — it means the SCC
    input was wrong, not a deep graph).

    Output: (id_col, scc_id, layer) — every original node labeled with
    its component's layer.
    """
    if scc is None:
        scc = strongly_connected_components(edges, src=src, dst=dst)
    m = scc.select(F.col(id_col).alias("_n"), "scc_id")
    e_c = (
        edges.select(F.col(src).alias("_es"), F.col(dst).alias("_ed"))
        .join(m.select(F.col("_n").alias("_es"), F.col("scc_id").alias("_cs")), "_es")
        .join(m.select(F.col("_n").alias("_ed"), F.col("scc_id").alias("_cd")), "_ed")
        .where(F.col("_cs") != F.col("_cd"))
        .select(F.col("_cs").alias("_s"), F.col("_cd").alias("_d"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    layer, converged = relax(
        scc.select("scc_id").distinct().select("scc_id", F.lit(0).alias("layer")),
        e_c, "scc_id", "layer", F.col("layer") + 1, F.max, max_rounds,
    )
    if not converged:
        raise RuntimeError(
            "topo_layers did not converge — condensation is not a DAG "
            "(inconsistent SCC input)"
        )
    return scc.join(layer, "scc_id").select(id_col, "scc_id", "layer")
