"""Semantics tests for decontamination and random-walk corpus export."""

from __future__ import annotations

from pyspark.sql import functions as F

from biokg_spark.operators.decontam import decontaminate
from biokg_spark.operators.walks import random_walks


def test_decontaminate_flags_overlap(spark):
    bench = spark.createDataFrame(
        [("b1", "the quick brown fox jumps")], "doc_id string, text string"
    )
    docs = spark.createDataFrame(
        [
            # shares "the quick brown" and "quick brown fox" -> 2/3 hit
            ("d1", "the quick brown fox sleeps"),
            # no 3-gram in common
            ("d2", "a completely different sentence here"),
            # full containment -> frac 1.0
            ("d3", "the quick brown fox jumps"),
        ],
        "doc_id string, text string",
    )
    rep = {
        r["doc_id"]: r
        for r in decontaminate(docs, bench, min_frac=0.5).collect()
    }
    assert set(rep) == {"d1", "d3"}  # d2 has zero hits -> no row
    assert rep["d1"]["n_shingles"] == 3 and rep["d1"]["n_hit"] == 2
    assert rep["d1"]["contaminated"] is True  # 0.6667 >= 0.5
    assert rep["d3"]["frac"] == 1.0 and rep["d3"]["contaminated"] is True
    assert rep["d1"]["n_bench_docs"] == 1


def test_decontaminate_threshold(spark):
    bench = spark.createDataFrame(
        [("b1", "alpha beta gamma")], "doc_id string, text string"
    )
    # 1 hit of 4 shingles -> frac 0.25 < 0.9 -> reported but not flagged
    docs = spark.createDataFrame(
        [("d1", "alpha beta gamma delta epsilon zeta")],
        "doc_id string, text string",
    )
    row = decontaminate(docs, bench, min_frac=0.9).collect()[0]
    assert row["n_hit"] == 1 and row["contaminated"] is False


def test_random_walks_deterministic_and_valid(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "b")],
        "src string, dst string",
    )
    w1 = sorted(map(tuple, random_walks(edges, num_walks=2, length=3).collect()))
    w2 = sorted(map(tuple, random_walks(edges, num_walks=2, length=3).collect()))
    assert w1 == w2  # reproducible: no RNG state
    # every source node starts num_walks walks at step 0
    starts = [(s, w) for (s, w, step, n) in w1 if step == 0]
    assert sorted(starts) == [
        ("a", 0), ("a", 1), ("b", 0), ("b", 1), ("c", 0), ("c", 1),
    ]
    # every step-t hop is a real edge from the step-(t-1) node
    eset = {("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "b")}
    pos = {(s, w, step): n for (s, w, step, n) in w1}
    for (s, w, step), n in pos.items():
        if step > 0:
            assert (pos[(s, w, step - 1)], n) in eset


def test_random_walks_dead_end_stops(spark):
    # b has no out-edges: walks from a reach b and stop early
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    rows = random_walks(edges, num_walks=1, length=3).collect()
    got = sorted((r["start"], r["step"], r["node"]) for r in rows)
    assert got == [("a", 0, "a"), ("a", 1, "b")]  # steps 2,3 don't exist


def test_label_propagation_two_cliques(spark):
    from biokg_spark.operators.communities import label_propagation

    # two triangles {a,b,c} and {x,y,z} joined by one bridge c-x
    und = [("a", "b"), ("a", "c"), ("b", "c"),
           ("x", "y"), ("x", "z"), ("y", "z"), ("c", "x")]
    sym = und + [(d, s) for (s, d) in und]
    edges = spark.createDataFrame(sym, "src string, dst string")
    res = {r["id"]: r["community"] for r in
           label_propagation(edges, iters=4).collect()}
    # the two cliques stay distinct communities; the bridge does not
    # merge them (the LABEL of the second clique may leak across the
    # bridge — hand-trace: x adopts 'c' in round 1 — but the partition
    # is what matters)
    assert res["a"] == res["b"] == res["c"]
    assert res["x"] == res["y"] == res["z"]
    assert res["a"] != res["x"]


def test_modularity_two_triangles(spark):
    from biokg_spark.operators.communities import modularity

    # two triangles {a,b,c}/{x,y,z} + bridge c-x, perfect partition:
    # m=7, inner=6, d_c=7 each -> Q = 6/7 - 2*49/(4*49) = 0.357143
    und = [("a", "b"), ("a", "c"), ("b", "c"),
           ("x", "y"), ("x", "z"), ("y", "z"), ("c", "x")]
    edges = spark.createDataFrame(und, "src string, dst string")
    assign = spark.createDataFrame(
        [("a", "A"), ("b", "A"), ("c", "A"), ("x", "X"), ("y", "X"), ("z", "X")],
        "id string, community string",
    )
    row = modularity(edges, assign).collect()[0]
    assert (row["n_communities"], row["m_edges"], row["inner_edges"]) == (2, 7, 6)
    assert row["modularity"] == 0.357143
    # whole graph as ONE community: Q is exactly 0 (1 - (2m)^2/(4m^2))
    one = assign.select("id", F.lit("ALL").alias("community"))
    assert modularity(edges, one).collect()[0]["modularity"] == 0.0


def test_modularity_dedups_and_drops_self_loops(spark):
    from biokg_spark.operators.communities import modularity

    # duplicated edge (both orientations), one self-loop: the canonical
    # simple graph is the same two-triangle fixture
    und = [("a", "b"), ("b", "a"), ("a", "c"), ("b", "c"), ("c", "c"),
           ("x", "y"), ("x", "z"), ("y", "z"), ("c", "x")]
    edges = spark.createDataFrame(und, "src string, dst string")
    assign = spark.createDataFrame(
        [("a", "A"), ("b", "A"), ("c", "A"), ("x", "X"), ("y", "X"), ("z", "X")],
        "id string, community string",
    )
    row = modularity(edges, assign).collect()[0]
    assert (row["m_edges"], row["modularity"]) == (7, 0.357143)


def test_label_propagation_deterministic(spark):
    from biokg_spark.operators.communities import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")],
        "src string, dst string",
    )
    r1 = sorted(map(tuple, label_propagation(edges, iters=3).collect()))
    r2 = sorted(map(tuple, label_propagation(edges, iters=3).collect()))
    assert r1 == r2


def test_skipgram_pairs_window(spark):
    from biokg_spark.operators.walks import skipgram_pairs

    # one walk a->b->c->d, window 2
    walks = spark.createDataFrame(
        [("a", 0, 0, "a"), ("a", 0, 1, "b"), ("a", 0, 2, "c"), ("a", 0, 3, "d")],
        "start string, walk_ix int, step int, node string",
    )
    got = {(r["center"], r["context"], r["distance"]): r["n"]
           for r in skipgram_pairs(walks, window=2).collect()}
    fwd = {("a", "b", 1), ("b", "c", 1), ("c", "d", 1),
           ("a", "c", 2), ("b", "d", 2)}
    expect = fwd | {(c, a, d) for (a, c, d) in fwd}
    assert set(got) == expect
    assert all(n == 1 for n in got.values())
    # distance 3 (a,d) must NOT appear with window=2
    assert ("a", "d", 3) not in got


def test_sample_neighbors_caps_and_seed(spark):
    from biokg_spark.operators.walks import sample_neighbors

    edges = spark.createDataFrame(
        [("hub", f"n{i}") for i in range(10)] + [("solo", "x")],
        "src string, dst string",
    )
    s0 = sample_neighbors(edges, k=3, seed="0").collect()
    per_src = {}
    for r in s0:
        per_src.setdefault(r["src"], set()).add(r["dst"])
    assert len(per_src["hub"]) == 3      # capped
    assert per_src["solo"] == {"x"}      # below cap: kept whole
    # deterministic per seed; a different seed picks a different sample
    s0b = sample_neighbors(edges, k=3, seed="0").collect()
    assert sorted(map(tuple, s0)) == sorted(map(tuple, s0b))
    s1 = {(r["src"], r["dst"]) for r in
          sample_neighbors(edges, k=3, seed="1").collect() if r["src"] == "hub"}
    assert s1 != {("hub", d) for d in per_src["hub"]}


def test_ego_network_hops_and_induced(spark):
    from biokg_spark.operators.walks import ego_network

    # path a->b->c->d->e (symmetrized); seed {a}; 2 hops => ball {a,b,c}
    und = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    sym = und + [(d, s) for (s, d) in und]
    edges = spark.createDataFrame(sym, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")
    rows = ego_network(edges, seeds, hops=2).collect()
    got = {(r["src"], r["dst"]): r["min_hop_src"] for r in rows}
    # induced edges: both endpoints within {a,b,c}; c-d excluded (d outside)
    assert set(got) == {("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")}
    assert got[("a", "b")] == 0 and got[("b", "a")] == 1
    assert got[("b", "c")] == 1 and got[("c", "b")] == 2


def _py_node2vec(edges, num_walks, length, p, q):
    """Row-at-a-time node2vec twin: identical md5 arithmetic and
    cumulative-weight inversion as operators/walks.py::node2vec_walks."""
    import hashlib

    adj: dict[str, list[str]] = {}
    eset = set()
    for s, d in sorted(set(edges)):
        adj.setdefault(s, []).append(d)
        eset.add((s, d))
    rows = []
    for start in sorted(adj):
        for w in range(num_walks):
            node, prev = start, None
            rows.append((start, w, 0, node))
            for t in range(1, length + 1):
                if node not in adj:
                    break
                nbrs = sorted(adj[node])
                if t == 1:
                    h = int(
                        hashlib.md5(f"{start}|{w}|1|{node}".encode()).hexdigest()[:8],
                        16,
                    )
                    nxt = nbrs[h % len(nbrs)]
                else:
                    ws = [
                        (1.0 / p) if c == prev
                        else (1.0 if (prev, c) in eset else 1.0 / q)
                        for c in nbrs
                    ]
                    tot = sum(ws)
                    h = int(
                        hashlib.md5(
                            f"{start}|{w}|{t}|{node}|{prev}".encode()
                        ).hexdigest()[:8],
                        16,
                    )
                    thr = ((h % (1 << 20)) / float(1 << 20)) * tot
                    cum, nxt = 0.0, nbrs[-1]
                    for c, wgt in zip(nbrs, ws):
                        cum += wgt
                        if cum > thr:
                            nxt = c
                            break
                prev, node = node, nxt
                rows.append((start, w, t, node))
    return sorted(rows)


def test_node2vec_matches_python_twin(spark):
    """Spark node2vec == the row-at-a-time twin, byte for byte (p=2,
    q=4: exactly-representable weights, so float summation order cannot
    differ between engines)."""
    from biokg_spark.operators.walks import node2vec_walks

    import random

    rng = random.Random(11)
    nodes = [f"n{i}" for i in range(12)]
    base = {
        (a, b) for a in nodes for b in nodes if a != b and rng.random() < 0.3
    }
    edges = sorted(base | {(b, a) for a, b in base})  # symmetric
    df = spark.createDataFrame(edges, "src string, dst string")
    got = sorted(
        tuple(r) for r in node2vec_walks(
            df, num_walks=2, length=4, p=2.0, q=4.0
        ).collect()
    )
    want = _py_node2vec(edges, num_walks=2, length=4, p=2.0, q=4.0)
    assert got == want
    # p/q actually bias: strongly return-seeking vs return-avoiding
    # corpora must differ on the same graph
    ret = sorted(
        tuple(r) for r in node2vec_walks(
            df, num_walks=2, length=4, p=0.125, q=1.0
        ).collect()
    )
    assert ret != got


def test_node2vec_capped_runs_on_capped_graph(spark):
    """cap_k composes sample_neighbors in: every hop must traverse an
    edge of the CAPPED graph (the per-step fan-out bound)."""
    from biokg_spark.operators.walks import node2vec_walks, sample_neighbors

    edges = [("hub", f"n{i:02d}") for i in range(30)] + [
        (f"n{i:02d}", "hub") for i in range(30)
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    capped = {
        (r["_s"], r["_d"])
        for r in sample_neighbors(df, 5, src="src", dst="dst")
        .selectExpr("src as _s", "dst as _d")
        .collect()
    }
    walks = node2vec_walks(df, num_walks=1, length=3, p=2.0, q=4.0, cap_k=5)
    seq: dict[tuple, dict[int, str]] = {}
    for r in walks.collect():
        seq.setdefault((r.start, r.walk_ix), {})[r.step] = r.node
    hops = 0
    for (s, _w), steps in seq.items():
        for t in range(1, max(steps) + 1):
            assert (steps[t - 1], steps[t]) in capped
            hops += 1
    assert hops > 0
