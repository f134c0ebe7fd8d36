"""In-engine TransE knowledge-graph embedding training.

The engine already exports everything KG-embedding trainers consume —
entity vocab, skip-gram pairs, negative samples (pipeline/kg.py,
operators/walks.py, operators/negatives.py; the reference leaves ALL of
this to downstream consumers, parsers.py writes flat TSVs). This
operator closes the loop the way operators/classifier.py did for
quality filtering: the TRAINING itself runs as DataFrame ops, so a
10^12-triple graph gets embedding epochs without leaving the cluster.

TransE (Bordes et al. 2013): score(s,p,o) = ||h_s + r_p − h_o||_1;
margin-ranking loss vs a corrupted-tail negative; subgradient descent.
Engineered here for EXACT cross-engine reproducibility — every number
in the run is a dyadic rational (k / 2^8), so float addition is exact
and summation-order-free, and the DuckDB oracle matches bit-for-bit
with NO rounding anywhere (a stronger contract than the classifier's
4-dp sigmoid scores):

- init: md5-hash → integer in [−128, 128] → /256 (denominator 2^8);
- L1 distance: subgradients are SIGNS (−1/0/+1 integers);
- update: integer gradient-count / 64 (lr = 2^-6);
- projection: L∞ clip to [−1, 1] via greatest/least (the paper's L2
  re-normalization needs sqrt — not dyadic, and not load-bearing for
  a margin-loss demonstration epoch; documented deviation);
- negative sampling: corrupted tail = vocab[md5(s|p|o) % |E|] — a
  deterministic function of the triple, no RNG state. Self-corruption
  (neg == obj) is a provable no-op (both sign terms cancel), so it
  needs no special-casing.

Scale shape (10^12 triples): embeddings live WIDE internally — one row
per id with d value columns — so each epoch joins the TRIPLE table (not
triple×dim) against the embedding dim four times, keyed by entity id
(AQE-splittable; a hub entity is a hot JOIN key, not a window). That is
d× fewer shuffled rows than the long-form (id, j) joins (guide §2.3),
and the margin activity becomes a per-ROW expression — the per-triple
aggregate and its semi-join disappear outright (guide §2.4). Gradients
are ONE partial+final HashAggregate down to the |E|-sized wide frame;
the update is an |E|-sized left join. Embeddings are localCheckpointed
per epoch (the iterative-plan discipline of pagerank/components); the
PUBLIC output stays the long (kind, id, j, val) table — a stack()
projection over the wide checkpoint — so the oracle contract is
unchanged. The vocab window for negative indexing is the same
|V|-sized global rank as pipeline/kg.py::entity_vocab, with the same
documented bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

INIT_DEN = 256  # init denominator 2^8
LR_DEN = 64  # learning rate 1/64 = 2^-6


def _hash60(value):
    return F.conv(F.substring(F.md5(value), 1, 15), 16, 10).cast("long")


def _init_val(kind, id_col, j_col):
    """Deterministic dyadic init in [−0.5, 0.5]: (md5 % 257 − 128)/256.
    ``kind`` is a literal string or a Column ('E'/'R')."""
    kind_col = F.lit(kind) if isinstance(kind, str) else kind
    h = _hash60(
        F.concat(kind_col, F.lit("|"), id_col, F.lit("|"), j_col.cast("string"))
    )
    return (F.pmod(h, F.lit(INIT_DEN + 1)) - F.lit(INIT_DEN // 2)) / F.lit(
        float(INIT_DEN)
    )


def _stack_long(wide: DataFrame, dim: int) -> DataFrame:
    """(kind, id, v0..v{dim-1}) → the public long form (kind, id, j, val)."""
    stack = "stack({}, {}) as (j, val)".format(
        dim, ", ".join(f"{j}, v{j}" for j in range(dim))
    )
    return wide.select("kind", "id", F.expr(stack))


def _init_wide(ids: DataFrame, dim: int) -> DataFrame:
    """Deterministic dyadic init for a (kind, id) frame, wide form.
    Hash input is identical to the long form's _init_val — 'E|id|j'."""
    return ids.select(
        "kind",
        "id",
        *[
            _init_val(F.col("kind"), F.col("id"), F.lit(j)).alias(f"v{j}")
            for j in range(dim)
        ],
    )


def _trip_with_negatives(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj, neg): corrupted tail = vocab[md5 % |E|],
    checkpointed once (referenced every epoch)."""
    ents = (
        triples.select(F.col("subj").alias("id"))
        .union(triples.select(F.col("obj").alias("id")))
        .distinct()
    )
    vocab = ents.select(
        "id", (F.row_number().over(Window.orderBy("id")) - 1).alias("idx")
    )
    n_ents = vocab.agg(F.count(F.lit(1)).alias("n"))
    return (
        triples.select("subj", "pred", "obj")
        .distinct()
        .crossJoin(n_ents)
        .select(
            "subj",
            "pred",
            "obj",
            F.pmod(
                _hash60(F.concat_ws("|", F.lit("N"), "subj", "pred", "obj")),
                F.col("n"),
            ).alias("_nidx"),
        )
        .join(vocab, F.col("_nidx") == F.col("idx"))
        .select("subj", "pred", "obj", F.col("id").alias("neg"))
        .localCheckpoint(eager=False)
    )


def _emb0_wide(triples: DataFrame, dim: int) -> DataFrame:
    """One (kind, id, v0..v{dim-1}) init table for entities AND
    relations, materialized in ONE eager job (the separate e/r frames
    cost two)."""
    ents = (
        triples.select(F.col("subj").alias("id"))
        .union(triples.select(F.col("obj").alias("id")))
        .distinct()
    )
    ids = ents.select(F.lit("E").alias("kind"), "id").union(
        triples.select(F.col("pred").alias("id"))
        .distinct()
        .select(F.lit("R").alias("kind"), "id")
    )
    return _init_wide(ids, dim).localCheckpoint(eager=True)


def _join_embeddings_wide(
    trip: DataFrame, emb: DataFrame, dim: int
) -> DataFrame:
    """Attach h/r/t/tn vectors to each (subj, pred, obj, neg) row via
    four id-keyed equi-joins of the WIDE embedding table."""
    eW = emb.where(F.col("kind") == "E").drop("kind")
    rW = emb.where(F.col("kind") == "R").drop("kind")

    def side(src: DataFrame, key: str, pref: str) -> DataFrame:
        return src.select(
            F.col("id").alias(key),
            *[F.col(f"v{j}").alias(f"{pref}{j}") for j in range(dim)],
        )

    return (
        trip.join(side(eW, "subj", "_h"), "subj")
        .join(side(rW, "pred", "_r"), "pred")
        .join(side(eW, "obj", "_t"), "obj")
        .join(side(eW, "neg", "_tn"), "neg")
    )


def _sum_terms(terms):
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def transe_train(
    triples: DataFrame,
    dim: int = 4,
    epochs: int = 2,
    margin: float = 1.0,
) -> DataFrame:
    """Train TransE embeddings over ``triples(subj, pred, obj)``.

    Returns the long-form embedding table after ``epochs`` full-batch
    subgradient epochs: (kind 'E'|'R', id, j, val) — entities AND
    relations, every ``val`` an exact dyadic rational (see module
    docstring). Internally the embeddings are WIDE (one row per id,
    d value columns): the four lookup joins shuffle triple rows, not
    triple×dim rows, and the margin test is a per-row expression —
    exactness is unchanged because dyadic addition is order-free, so
    the explicit per-row sum equals the old per-triple aggregate
    bit-for-bit.
    """
    trip = _trip_with_negatives(triples)
    emb = _emb0_wide(triples, dim)
    clip = lambda v: F.greatest(F.lit(-1.0), F.least(F.lit(1.0), v))  # noqa: E731

    for _ in range(epochs):
        joined = _join_embeddings_wide(trip, emb, dim)
        pdiff = [
            F.col(f"_h{j}") + F.col(f"_r{j}") - F.col(f"_t{j}")
            for j in range(dim)
        ]
        ndiff = [
            F.col(f"_h{j}") + F.col(f"_r{j}") - F.col(f"_tn{j}")
            for j in range(dim)
        ]
        dp = _sum_terms([F.abs(p) for p in pdiff])
        dn = _sum_terms([F.abs(n) for n in ndiff])
        # ct: the margin-active triples with per-dim subgradient signs.
        # Referenced by all four gradient legs — ONE checkpoint per epoch
        # (the old long form needed pd + ct checkpoints AND a per-triple
        # aggregate + semi-join to evaluate the margin).
        ct = (
            joined.where(F.lit(margin) + dp - dn > 0)
            .select(
                "subj",
                "pred",
                "obj",
                "neg",
                *[F.signum(pdiff[j]).cast("int").alias(f"sp{j}") for j in range(dim)],
                *[F.signum(ndiff[j]).cast("int").alias(f"sn{j}") for j in range(dim)],
            )
            .localCheckpoint(eager=True)
        )

        def leg(kind: str, key: str, cexprs) -> DataFrame:
            return ct.select(
                F.lit(kind).alias("kind"),
                F.col(key).alias("id"),
                *[cexprs(j).alias(f"c{j}") for j in range(dim)],
            )

        grad = (
            leg("E", "subj", lambda j: -(F.col(f"sp{j}") - F.col(f"sn{j}")))
            .union(leg("E", "obj", lambda j: F.col(f"sp{j}")))
            .union(leg("E", "neg", lambda j: -F.col(f"sn{j}")))
            .union(leg("R", "pred", lambda j: -(F.col(f"sp{j}") - F.col(f"sn{j}"))))
            .groupBy("kind", "id")
            .agg(*[F.sum(f"c{j}").alias(f"g{j}") for j in range(dim)])
        )
        emb = (
            emb.join(grad, ["kind", "id"], "left")
            .select(
                "kind",
                "id",
                *[
                    clip(
                        F.col(f"v{j}")
                        + F.coalesce(f"g{j}", F.lit(0)) / F.lit(float(LR_DEN))
                    ).alias(f"v{j}")
                    for j in range(dim)
                ],
            )
            .localCheckpoint(eager=True)
        )

    return _stack_long(emb, dim)


def transe_eval(
    embeddings: DataFrame,
    train: DataFrame,
    test: DataFrame,
    dim: int = 4,
) -> DataFrame:
    """Filtered-setting link-prediction evaluation of trained TransE
    embeddings (the harness that completes the trainer, as
    linkpred_auc completes Jaccard scoring): for each test triple,
    rank the TRUE tail among all candidate tails by L1 distance and
    report ONE row (n_test, hits_at_1/3/10, mean_rank, mrr).

    Standard KG-eval conventions: test triples whose subject, object,
    or relation never appear in TRAIN are skipped (no embedding to
    score — the "unseen entity" caveat); candidate tails that would
    re-create a TRAIN triple are excluded (the FILTERED setting of
    Bordes et al.); rank ties break by candidate id, so with dyadic
    distances (exact equality comparisons) the ranks are
    engine-exact. hits/mean_rank are integer-derived and bit-exact;
    mrr sums |test| reciprocals and is rounded at 4 dp (the
    classifier-score contract).

    Scale shape: the candidate frame is |test|×|E| rows BEFORE the
    train anti-join — candidate-based evaluation, the documented cost
    class of every published KG eval; sample the test split upstream
    to budget it. The embeddings are pivoted WIDE once (|E| rows, d
    columns) so the three lookup joins shuffle candidate rows, not
    candidate×dim rows, and the distance is a per-row expression (no
    per-candidate aggregate); the true-tail distance is attached with
    ONE window over the partitioning the rank aggregate reuses —
    the candidate frame is built, exchanged and scanned exactly once.
    """
    wide = (
        embeddings.groupBy("kind", "id")
        .agg(
            *[
                F.max(F.when(F.col("j") == j, F.col("val"))).alias(f"v{j}")
                for j in range(dim)
            ]
        )
        .localCheckpoint(eager=True)
    )
    eW = wide.where(F.col("kind") == "E").drop("kind")
    rW = wide.where(F.col("kind") == "R").drop("kind")
    ents = eW.select("id")
    rels = rW.select("id")
    t = (
        test.join(ents.select(F.col("id").alias("subj")), "subj", "left_semi")
        .join(ents.select(F.col("id").alias("obj")), "obj", "left_semi")
        .join(rels.select(F.col("id").alias("pred")), "pred", "left_semi")
        .select("subj", "pred", "obj")
    )
    cand = t.crossJoin(F.broadcast(ents.select(F.col("id").alias("c")))).join(
        train.select("subj", "pred", F.col("obj").alias("c")),
        ["subj", "pred", "c"],
        "left_anti",
    )

    def side(src: DataFrame, key: str, pref: str) -> DataFrame:
        return src.select(
            F.col("id").alias(key),
            *[F.col(f"v{j}").alias(f"{pref}{j}") for j in range(dim)],
        )

    cd = (
        cand.join(side(eW, "subj", "_h"), "subj")
        .join(side(rW, "pred", "_r"), "pred")
        .join(side(eW, "c", "_c"), "c")
        .select(
            "subj",
            "pred",
            "obj",
            "c",
            _sum_terms(
                [
                    F.abs(F.col(f"_h{j}") + F.col(f"_r{j}") - F.col(f"_c{j}"))
                    for j in range(dim)
                ]
            ).alias("d"),
        )
    )
    wnd = Window.partitionBy("subj", "pred", "obj")
    rk = (
        cd.withColumn(
            "dtrue",
            F.max(F.when(F.col("c") == F.col("obj"), F.col("d"))).over(wnd),
        )
        # inner-join semantics of the old true-tail slice: a test triple
        # with no candidate row for its true tail contributes no rank
        .where(F.col("dtrue").isNotNull())
        .groupBy("subj", "pred", "obj")
        .agg(
            (
                F.lit(1)
                + F.count(
                    F.when(
                        (F.col("d") < F.col("dtrue"))
                        | (
                            (F.col("d") == F.col("dtrue"))
                            & (F.col("c") < F.col("obj"))
                        ),
                        F.lit(1),
                    )
                )
            ).alias("rank")
        )
    )
    return rk.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.count(F.when(F.col("rank") <= 1, 1)).cast("long").alias("hits_at_1"),
        F.count(F.when(F.col("rank") <= 3, 1)).cast("long").alias("hits_at_3"),
        F.count(F.when(F.col("rank") <= 10, 1)).cast("long").alias("hits_at_10"),
        (F.sum("rank") * F.lit(1.0) / F.count(F.lit(1))).alias("mean_rank"),
        F.round(
            F.sum(F.lit(1.0) / F.col("rank")) / F.count(F.lit(1)), 4
        ).alias("mrr"),
    )


def transe_oracle_ctes(
    links_cte: str,
    dim: int = 4,
    epochs: int = 2,
    links_name: str = "links",
    final_select: bool = True,
    margin: float = 1.0,
) -> str:
    """DuckDB twin over a ``links(subj, pred, obj)`` CTE chain: the
    identical init, negative indexing, and ``epochs`` unrolled
    subgradient epochs (same discipline as pagerank/LPA/classifier
    oracles). Bit-exact — no rounding in the SELECT.

    ``links_name``: the CTE the trainer reads its triples from
    (e.g. a ``train`` split defined inside ``links_cte``).
    ``final_select=False`` returns just the CTE chain (no WITH, no
    final SELECT) so a composing oracle — transe_eval_oracle — can
    extend it; the trained tables are ``e{epochs}`` / ``r{epochs}``,
    and ``ents``/``dims`` remain in scope."""

    def h60(expr: str) -> str:
        return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"

    def init(kind: str, idc: str) -> str:
        key = f"'{kind}|' || {idc} || '|' || CAST(j AS VARCHAR)"
        return (
            f"(({h60(key)} % {INIT_DEN + 1}) - {INIT_DEN // 2})"
            f" / {float(INIT_DEN)!r}"
        )
    steps = []
    pe, pr = "e0", "r0"
    for t in range(1, epochs + 1):
        steps.append(
            f"""pd{t} AS MATERIALIZED (
      SELECT tr.subj, tr.pred, tr.obj, tr.neg, d.j,
             h.val + r.val - tt.val AS pdiff,
             h.val + r.val - tn.val AS ndiff
      FROM trip tr CROSS JOIN dims d
      JOIN {pe} h ON h.id = tr.subj AND h.j = d.j
      JOIN {pr} r ON r.id = tr.pred AND r.j = d.j
      JOIN {pe} tt ON tt.id = tr.obj AND tt.j = d.j
      JOIN {pe} tn ON tn.id = tr.neg AND tn.j = d.j),
    ct{t} AS MATERIALIZED (
      SELECT p.*, CAST(sign(pdiff) AS INTEGER) AS sp,
             CAST(sign(ndiff) AS INTEGER) AS sn
      FROM pd{t} p SEMI JOIN (
        SELECT subj, pred, obj, neg FROM pd{t}
        GROUP BY 1, 2, 3, 4
        HAVING {margin!r} + sum(abs(pdiff)) - sum(abs(ndiff)) > 0) a
      ON p.subj = a.subj AND p.pred = a.pred
         AND p.obj = a.obj AND p.neg = a.neg),
    ge{t} AS MATERIALIZED (
      SELECT id, j, sum(c) AS g FROM (
        SELECT subj AS id, j, -(sp - sn) AS c FROM ct{t}
        UNION ALL SELECT obj AS id, j, sp AS c FROM ct{t}
        UNION ALL SELECT neg AS id, j, -sn AS c FROM ct{t}) u
      GROUP BY 1, 2),
    gr{t} AS MATERIALIZED (
      SELECT pred AS id, j, sum(-(sp - sn)) AS g FROM ct{t} GROUP BY 1, 2),
    e{t} AS MATERIALIZED (
      SELECT e.id, e.j,
             greatest(-1.0, least(1.0,
               e.val + coalesce(g, 0) / {float(LR_DEN)!r})) AS val
      FROM {pe} e LEFT JOIN ge{t} ON e.id = ge{t}.id AND e.j = ge{t}.j),
    r{t} AS MATERIALIZED (
      SELECT r.id, r.j,
             greatest(-1.0, least(1.0,
               r.val + coalesce(g, 0) / {float(LR_DEN)!r})) AS val
      FROM {pr} r LEFT JOIN gr{t} ON r.id = gr{t}.id AND r.j = gr{t}.j)"""
        )
        pe, pr = f"e{t}", f"r{t}"
    chain = f"""ents AS MATERIALIZED (SELECT DISTINCT id FROM (
      SELECT subj AS id FROM {links_name} UNION SELECT obj FROM {links_name}) u),
    vocab AS MATERIALIZED (SELECT id, row_number() OVER (ORDER BY id) - 1 AS idx
              FROM ents),
    nent AS MATERIALIZED (SELECT count(*) AS n FROM ents),
    dims AS (SELECT unnest(range(0, {dim})) AS j),
    tripidx AS MATERIALIZED (
      SELECT subj, pred, obj,
             {h60("'N|' || subj || '|' || pred || '|' || obj")}
               % (SELECT n FROM nent) AS nidx
      FROM (SELECT DISTINCT subj, pred, obj FROM {links_name}) l),
    trip AS MATERIALIZED (SELECT subj, pred, obj, v.id AS neg
             FROM tripidx JOIN vocab v ON v.idx = nidx),
    e0 AS MATERIALIZED (SELECT id, j, {init('E', 'id')} AS val FROM ents CROSS JOIN dims),
    r0 AS MATERIALIZED (SELECT id, j, {init('R', 'id')} AS val
           FROM (SELECT DISTINCT pred AS id FROM {links_name}) p CROSS JOIN dims),
    {','.join(steps)}"""
    if not final_select:
        return chain
    return f"""
    WITH {links_cte},
    {chain}
    SELECT kind, id, CAST(j AS INTEGER) AS j, val FROM (
      SELECT 'E' AS kind, id, j, val FROM e{epochs}
      UNION ALL SELECT 'R' AS kind, id, j, val FROM r{epochs}) z
    """


def transe_eval_oracle(links_cte: str, dim: int = 4, epochs: int = 2) -> str:
    """DuckDB twin of train-split TransE + :func:`transe_eval`:
    80/20 md5 triple split, training composed from
    :func:`transe_oracle_ctes` (``links_name='train'``), then the
    identical filtered-setting ranking. hits/mean_rank bit-exact;
    mrr at 4 dp."""

    def h60(expr: str) -> str:
        return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"

    chain = transe_oracle_ctes(
        links_cte, dim=dim, epochs=epochs, links_name="train",
        final_select=False,
    )
    return f"""
    WITH {links_cte},
    lsplit AS MATERIALIZED (
      SELECT subj, pred, obj,
             {h60("'S|' || subj || '|' || pred || '|' || obj")} % 5 AS b
      FROM links),
    train AS MATERIALIZED (SELECT subj, pred, obj FROM lsplit WHERE b < 4),
    test0 AS MATERIALIZED (SELECT subj, pred, obj FROM lsplit WHERE b = 4),
    {chain},
    rels AS (SELECT DISTINCT pred AS id FROM train),
    test AS MATERIALIZED (
      SELECT t.subj, t.pred, t.obj FROM test0 t
      SEMI JOIN ents es ON t.subj = es.id
      SEMI JOIN ents eo ON t.obj = eo.id
      SEMI JOIN rels rr ON t.pred = rr.id),
    cand AS MATERIALIZED (
      SELECT t.subj, t.pred, t.obj, e.id AS c
      FROM test t CROSS JOIN ents e
      ANTI JOIN train tr
        ON tr.subj = t.subj AND tr.pred = t.pred AND tr.obj = e.id),
    cd AS MATERIALIZED (
      SELECT cn.subj, cn.pred, cn.obj, cn.c,
             sum(abs(h.val + r.val - cc.val)) AS d
      FROM cand cn CROSS JOIN dims dm
      JOIN e{epochs} h ON h.id = cn.subj AND h.j = dm.j
      JOIN r{epochs} r ON r.id = cn.pred AND r.j = dm.j
      JOIN e{epochs} cc ON cc.id = cn.c AND cc.j = dm.j
      GROUP BY 1, 2, 3, 4),
    td AS MATERIALIZED (
      SELECT subj, pred, obj, d AS dtrue FROM cd WHERE c = obj),
    rk AS MATERIALIZED (
      SELECT t.subj, t.pred, t.obj,
             1 + count(*) FILTER (WHERE cd.d < t.dtrue
                   OR (cd.d = t.dtrue AND cd.c < t.obj)) AS rank
      FROM td t JOIN cd ON cd.subj = t.subj AND cd.pred = t.pred
                        AND cd.obj = t.obj
      GROUP BY 1, 2, 3)
    SELECT CAST(count(*) AS BIGINT) AS n_test,
           CAST(count(*) FILTER (WHERE rank <= 1) AS BIGINT) AS hits_at_1,
           CAST(count(*) FILTER (WHERE rank <= 3) AS BIGINT) AS hits_at_3,
           CAST(count(*) FILTER (WHERE rank <= 10) AS BIGINT) AS hits_at_10,
           sum(rank) * 1.0 / count(*) AS mean_rank,
           round(sum(1.0 / rank) / count(*), 4) AS mrr
    FROM rk
    """


def _quantize(v, den: int = INIT_DEN):
    """Floor-quantize to the 1/den grid — floor is toward −inf in both
    engines, so the result is deterministic AND keeps every embedding a
    dyadic rational with denominator 2^8 forever (see distmult_train)."""
    return F.floor(v * F.lit(float(den))) / F.lit(float(den))


def distmult_train(
    triples: DataFrame,
    dim: int = 4,
    epochs: int = 2,
    margin: float = 1.0,
) -> DataFrame:
    """DistMult KG embeddings (Yang et al. 2015): score(s,p,o) =
    S_j h_j*r_j*t_j - the multiplicative bilinear-diagonal family next
    to TransE's additive one; same margin-ranking loss, corrupted-tail
    negatives, full-batch subgradient epochs, long-form output
    (kind, id, j, val).

    Exactness needs one more trick than TransE: DistMult gradients are
    PRODUCTS of embedding values, so exact dyadic denominators would
    square every epoch (2^8 -> 2^16 -> 2^32 ...) and fall off the
    52-bit float cliff. The fix is QUANTIZED SGD: after each update the
    embedding is floor-quantized back to the 1/2^8 grid, so products
    stay at denominator 2^16, gradient sums stay exactly representable
    (order-free) at any epoch count and corpus size, and the DuckDB
    twin reproduces training bit-for-bit. Same WIDE internal scale
    shape as :func:`transe_train` (four id-keyed joins of the triple
    table, a per-row margin expression, one gradient HashAggregate
    down to |E| rows, localCheckpoint per epoch; public output stays
    the long form).
    """
    trip = _trip_with_negatives(triples)
    emb = _emb0_wide(triples, dim)
    clip = lambda v: F.greatest(F.lit(-1.0), F.least(F.lit(1.0), v))  # noqa: E731
    for _ in range(epochs):
        joined = _join_embeddings_wide(trip, emb, dim)
        sp = _sum_terms(
            [F.col(f"_h{j}") * F.col(f"_r{j}") * F.col(f"_t{j}") for j in range(dim)]
        )
        sn = _sum_terms(
            [F.col(f"_h{j}") * F.col(f"_r{j}") * F.col(f"_tn{j}") for j in range(dim)]
        )
        # margin-active triples keep their raw h/r/t/tn vectors -- the
        # product gradients need the values, unlike TransE's signs
        ct = joined.where(F.lit(margin) - sp + sn > 0).localCheckpoint(eager=True)

        def leg(kind: str, key: str, cexprs) -> DataFrame:
            return ct.select(
                F.lit(kind).alias("kind"),
                F.col(key).alias("id"),
                *[cexprs(j).alias(f"c{j}") for j in range(dim)],
            )

        grad = (
            leg(
                "E",
                "subj",
                lambda j: F.col(f"_r{j}") * F.col(f"_t{j}")
                - F.col(f"_r{j}") * F.col(f"_tn{j}"),
            )
            .union(leg("E", "obj", lambda j: F.col(f"_h{j}") * F.col(f"_r{j}")))
            .union(leg("E", "neg", lambda j: -(F.col(f"_h{j}") * F.col(f"_r{j}"))))
            .union(
                leg(
                    "R",
                    "pred",
                    lambda j: F.col(f"_h{j}") * F.col(f"_t{j}")
                    - F.col(f"_h{j}") * F.col(f"_tn{j}"),
                )
            )
            .groupBy("kind", "id")
            .agg(*[F.sum(f"c{j}").alias(f"g{j}") for j in range(dim)])
        )
        emb = (
            emb.join(grad, ["kind", "id"], "left")
            .select(
                "kind",
                "id",
                *[
                    _quantize(
                        clip(
                            F.col(f"v{j}")
                            + F.coalesce(f"g{j}", F.lit(0.0))
                            / F.lit(float(LR_DEN))
                        )
                    ).alias(f"v{j}")
                    for j in range(dim)
                ],
            )
            .localCheckpoint(eager=True)
        )
    return _stack_long(emb, dim)


def distmult_oracle_ctes(
    links_cte: str, dim: int = 4, epochs: int = 2, margin: float = 1.0
) -> str:
    """DuckDB twin of :func:`distmult_train` — unrolled MATERIALIZED
    epochs with the identical product gradients and floor
    quantization. Bit-exact, no rounding in the SELECT."""

    def h60(expr: str) -> str:
        return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"

    def init(kind: str, idc: str) -> str:
        key = f"'{kind}|' || {idc} || '|' || CAST(j AS VARCHAR)"
        return (
            f"(({h60(key)} % {INIT_DEN + 1}) - {INIT_DEN // 2})"
            f" / {float(INIT_DEN)!r}"
        )

    qz = (
        lambda expr: f"floor(({expr}) * {float(INIT_DEN)!r}) / {float(INIT_DEN)!r}"
    )
    steps = []
    pe, pr = "de0", "dr0"
    for t in range(1, epochs + 1):
        steps.append(
            f"""dpd{t} AS MATERIALIZED (
      SELECT tr.subj, tr.pred, tr.obj, tr.neg, d.j,
             h.val AS hv, r.val AS rv, tt.val AS tv, tn.val AS nv
      FROM dtrip tr CROSS JOIN dims d
      JOIN {pe} h ON h.id = tr.subj AND h.j = d.j
      JOIN {pr} r ON r.id = tr.pred AND r.j = d.j
      JOIN {pe} tt ON tt.id = tr.obj AND tt.j = d.j
      JOIN {pe} tn ON tn.id = tr.neg AND tn.j = d.j),
    dct{t} AS MATERIALIZED (
      SELECT p.* FROM dpd{t} p SEMI JOIN (
        SELECT subj, pred, obj, neg FROM dpd{t}
        GROUP BY 1, 2, 3, 4
        HAVING {margin!r} - sum(hv * rv * tv) + sum(hv * rv * nv) > 0) a
      ON p.subj = a.subj AND p.pred = a.pred
         AND p.obj = a.obj AND p.neg = a.neg),
    dge{t} AS MATERIALIZED (
      SELECT id, j, sum(c) AS g FROM (
        SELECT subj AS id, j, rv * tv - rv * nv AS c FROM dct{t}
        UNION ALL SELECT obj AS id, j, hv * rv AS c FROM dct{t}
        UNION ALL SELECT neg AS id, j, -(hv * rv) AS c FROM dct{t}) u
      GROUP BY 1, 2),
    dgr{t} AS MATERIALIZED (
      SELECT pred AS id, j, sum(hv * tv - hv * nv) AS g FROM dct{t}
      GROUP BY 1, 2),
    de{t} AS MATERIALIZED (
      SELECT e.id, e.j,
             {qz(f"greatest(-1.0, least(1.0, e.val + coalesce(g, 0.0) / {float(LR_DEN)!r}))")} AS val
      FROM {pe} e LEFT JOIN dge{t} ON e.id = dge{t}.id AND e.j = dge{t}.j),
    dr{t} AS MATERIALIZED (
      SELECT r.id, r.j,
             {qz(f"greatest(-1.0, least(1.0, r.val + coalesce(g, 0.0) / {float(LR_DEN)!r}))")} AS val
      FROM {pr} r LEFT JOIN dgr{t} ON r.id = dgr{t}.id AND r.j = dgr{t}.j)"""
        )
        pe, pr = f"de{t}", f"dr{t}"
    return f"""
    WITH {links_cte},
    dents AS MATERIALIZED (SELECT DISTINCT id FROM (
      SELECT subj AS id FROM links UNION SELECT obj FROM links) u),
    dvocab AS MATERIALIZED (
      SELECT id, row_number() OVER (ORDER BY id) - 1 AS idx FROM dents),
    dnent AS MATERIALIZED (SELECT count(*) AS n FROM dents),
    dims AS (SELECT unnest(range(0, {dim})) AS j),
    dtripidx AS MATERIALIZED (
      SELECT subj, pred, obj,
             {h60("'N|' || subj || '|' || pred || '|' || obj")}
               % (SELECT n FROM dnent) AS nidx
      FROM (SELECT DISTINCT subj, pred, obj FROM links) l),
    dtrip AS MATERIALIZED (SELECT subj, pred, obj, v.id AS neg
             FROM dtripidx v2 JOIN dvocab v ON v.idx = v2.nidx),
    de0 AS MATERIALIZED (SELECT id, j, {init('E', 'id')} AS val
           FROM dents CROSS JOIN dims),
    dr0 AS MATERIALIZED (SELECT id, j, {init('R', 'id')} AS val
           FROM (SELECT DISTINCT pred AS id FROM links) p CROSS JOIN dims),
    {','.join(steps)}
    SELECT kind, id, CAST(j AS INTEGER) AS j, val FROM (
      SELECT 'E' AS kind, id, j, val FROM de{epochs}
      UNION ALL SELECT 'R' AS kind, id, j, val FROM dr{epochs}) z
    """
