from __future__ import annotations

import math

from biokg_spark.operators.similarity import cosine_topk, lsh_bucketed_topk

VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [0.5, 0.5, 0.0, 0.0]),
    (4, [-1.0, 0.0, 0.0, 0.0]),
    (5, [0.99, 0.01, 0.0, 0.0]),
]


def _emb(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def _np_cos(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return dot / (na * nb)


def test_cosine_topk_matches_oracle(spark):
    emb = _emb(spark)
    q = emb.where("vec_id = 0")
    got = [(r.c_id, r.rank) for r in cosine_topk(emb, q, k=3).orderBy("rank").collect()]
    sims = sorted(
        ((round(_np_cos(VECS[0][1], v), 4), -i) for i, v in VECS[1:]),
        reverse=True,
    )
    expected = [(-i, rank + 1) for rank, (_s, i) in enumerate(sims[:3])]
    assert got == expected  # 5 (.9999) then 1 (.9939) then 3 (.7071)


def test_hnsw_string_ids(spark):
    """The pair-kernel schema is derived from the input id column type
    (a hardcoded 'long' broke string entity ids). ``embed_ann_hnsw`` runs
    ``cosine_topk``, so string-keyed vectors must rank exactly as the
    same vectors keyed by long ids."""
    expected = [
        (r.c_id, r.rank)
        for r in cosine_topk(_emb(spark), _emb(spark).where("vec_id = 0"), k=3)
        .orderBy("rank")
        .collect()
    ]
    emb = spark.createDataFrame(
        [(f"ent{i}", v) for i, v in VECS], "vec_id string, embedding array<float>"
    )
    q = emb.where("vec_id = 'ent0'")
    got = [
        (r.q_id, r.c_id, r.rank)
        for r in cosine_topk(emb, q, k=3).orderBy("rank").collect()
    ]
    assert got == [("ent0", f"ent{i}", rank) for i, rank in expected]
    assert len(got) == 3


def test_lsh_bucketed_is_subset_of_bruteforce_candidates(spark):
    emb = _emb(spark)
    q = emb.where("vec_id = 0")
    approx = {(r.q_id, r.c_id) for r in lsh_bucketed_topk(emb, q, k=5, sign_bits=1).collect()}
    # bucket '1' on dim1>0: ids 1, 3, 5 share it; 2 and 4 don't
    assert approx == {(0, 5), (0, 1), (0, 3)}


def test_ann_recall_hand_computed(spark):
    from biokg_spark.operators.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (2, 22)],
        "q_id long, c_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 12), (1, 99)],  # q2 missed entirely
        "q_id long, c_id long",
    )
    got = {
        r.q_id: (r.n_exact, r.n_hit, r.recall)
        for r in ann_recall(approx, exact).collect()
    }
    assert got == {1: (3, 2, round(2 / 3, 4)), 2: (3, 0, 0.0)}
