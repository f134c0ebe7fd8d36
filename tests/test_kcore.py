"""k-core peeling semantics (operators/kcore.py)."""

from __future__ import annotations

from itertools import combinations

from biokg_spark.operators.kcore import kcore


def _run(spark, edges, k):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r.node: r.core_deg for r in kcore(df, k=k).collect()}


def _peel_reference(edges, k):
    """Row-at-a-time peeling ground truth."""
    es = {frozenset(e) for e in edges if e[0] != e[1]}
    while True:
        deg: dict[str, int] = {}
        for e in es:
            for n in e:
                deg[n] = deg.get(n, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {e for e in es if all(n in keep for n in e)}
        if nxt == es:
            break
        es = nxt
    deg = {}
    for e in es:
        for n in e:
            deg[n] = deg.get(n, 0) + 1
    return deg


def test_triangle_with_tail(spark):
    # triangle a-b-c is the 2-core; the tail c-d-e peels away
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")]
    assert _run(spark, edges, 2) == {"a": 2, "b": 2, "c": 2}


def test_cascading_peel(spark):
    # removing the leaf drops its neighbor below k next round: the whole
    # path peels to nothing at k=2
    edges = [("a", "b"), ("b", "c"), ("c", "d")]
    assert _run(spark, edges, 2) == {}


def test_kcore_raises_when_max_iter_stops_short(spark):
    # a path peels only its two endpoints per round: two rounds leave
    # n02..n09, which is not a 2-core (a path's 2-core is empty)
    import pytest

    path = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(11)]
    df = spark.createDataFrame(path, "src string, dst string")
    with pytest.raises(RuntimeError, match="max_iter=2"):
        kcore(df, k=2, max_iter=2).collect()
    assert kcore(df, k=2, max_iter=6).count() == 0


def test_k4_is_3core(spark):
    edges = [(u, v) for u, v in combinations("abcd", 2)]
    assert _run(spark, edges, 3) == {n: 3 for n in "abcd"}
    assert _run(spark, edges, 4) == {}


def test_duplicate_and_reversed_edges_ignored(spark):
    edges = [("a", "b"), ("b", "a"), ("a", "b"), ("a", "a"),
             ("b", "c"), ("c", "a")]
    assert _run(spark, edges, 2) == {"a": 2, "b": 2, "c": 2}


def test_random_graphs_vs_reference(spark):
    import random

    for seed in range(4):
        rng = random.Random(100 + seed)
        nodes = [f"v{i}" for i in range(10)]
        edges = [
            (a, b) for a, b in combinations(nodes, 2) if rng.random() < 0.35
        ]
        noisy = [
            (b, a) if rng.random() < 0.5 else (a, b) for a, b in edges
        ] + [e for e in edges if rng.random() < 0.3]
        for k in (2, 3):
            assert _run(spark, noisy, k) == _peel_reference(edges, k), (
                f"seed={seed} k={k}"
            )


def test_oracle_convergence_guard(spark):
    """kcore_oracle_ctes embeds an in-query convergence check: an
    under-provisioned unroll (peels below what the input needs) returns
    ZERO rows instead of a silently-diverged core, so any oracle/Spark
    comparison fails on row count, never on quietly wrong values."""
    import duckdb

    from biokg_spark.operators.kcore import kcore_oracle_ctes

    # a chain a0-a1-...-a9: 2-core is empty, but each peel round only
    # removes the two endpoints, so it needs ~5 rounds to drain; with
    # peels=2 the unroll is NOT converged yet
    edges = [(f"a{i}", "E", f"a{i+1}") for i in range(9)]
    links_cte = "links(subj, pred, obj) AS (VALUES " + ", ".join(
        f"('{s}', '{p}', '{o}')" for s, p, o in edges
    ) + ")"
    con = duckdb.connect()
    short = con.execute(kcore_oracle_ctes(links_cte, k=2, peels=2)).fetchall()
    assert short == []  # guard fired: not converged, loud empty result
    full = con.execute(kcore_oracle_ctes(links_cte, k=2, peels=8)).fetchall()
    assert full == []  # converged: the 2-core of a chain is genuinely empty
    # and on a graph with a real core the converged oracle emits it
    tri = [("x", "E", "y"), ("y", "E", "z"), ("z", "E", "x")] + edges
    links_cte2 = "links(subj, pred, obj) AS (VALUES " + ", ".join(
        f"('{s}', '{p}', '{o}')" for s, p, o in tri
    ) + ")"
    got = dict(con.execute(kcore_oracle_ctes(links_cte2, k=2, peels=8)).fetchall())
    assert got == {"x": 2, "y": 2, "z": 2}


# --- k-truss ----------------------------------------------------------------

CLIQUE4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
           ("c", "d")]
TRI_DEF = [("d", "e"), ("d", "f"), ("e", "f")]


def test_ktruss_peels_to_the_clique(spark):
    from biokg_spark.operators.ktruss import ktruss

    edges = spark.createDataFrame(
        CLIQUE4 + TRI_DEF + [("f", "g")], "src string, dst string"
    )
    # 3-truss: every edge in >=1 triangle -> clique + the def triangle;
    # the pendant f-g drops
    t3 = {(r.a, r.b): r.support for r in ktruss(edges, 3).collect()}
    assert set(t3) == set(CLIQUE4 + TRI_DEF)
    assert t3[("e", "f")] == 1 and t3[("a", "b")] == 2
    # 4-truss: support >= 2 -> only the 4-clique survives
    t4 = {(r.a, r.b): r.support for r in ktruss(edges, 4).collect()}
    assert set(t4) == set(CLIQUE4)
    assert all(s == 2 for s in t4.values())
    # 5-truss: nothing (a 5-truss needs every edge in 3 triangles)
    assert ktruss(edges, 5).count() == 0


def test_ktruss_cascading_peel(spark):
    from biokg_spark.operators.ktruss import ktruss

    # triangle chain: each triangle shares one edge with the next;
    # every edge is in >=1 triangle initially, but a 4-truss peels the
    # whole chain away round by round (no edge ever reaches support 2
    # once its neighbor triangle dies)
    chain = [("a", "b"), ("a", "c"), ("b", "c"),
             ("b", "d"), ("c", "d"),
             ("c", "e"), ("d", "e")]
    edges = spark.createDataFrame(chain, "src string, dst string")
    assert ktruss(edges, 4).count() == 0
    t3 = {(r.a, r.b) for r in ktruss(edges, 3).collect()}
    assert t3 == set(chain)


def test_ktruss_direction_and_dup_insensitive(spark):
    from biokg_spark.operators.ktruss import ktruss

    edges = spark.createDataFrame(
        CLIQUE4 + [(b, a) for a, b in CLIQUE4] + CLIQUE4[:2],
        "src string, dst string",
    )
    t4 = {(r.a, r.b) for r in ktruss(edges, 4).collect()}
    assert t4 == set(CLIQUE4)
