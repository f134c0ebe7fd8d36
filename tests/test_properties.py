"""Property-based tests (hypothesis).

The mention scan, the dedup pair joins (embedding and n-gram), k-means,
the literal dims, budget selection and the graph fixpoints
(SCC/topological layers, BFS, weighted distances) run on the test
session with few examples, each against a pure-Python reference. The
MinHash shingle fan-out is checked against its own unsplit run.
"""

from __future__ import annotations

import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import Phase, example, given, settings
from hypothesis import strategies as st

# Spark-backed examples take seconds each: run few and report a failing
# example unshrunk, since shrinking would rerun the jobs hundreds of times
SPARK_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    phases=(Phase.explicit, Phase.reuse, Phase.generate),
)


# -- mention scan --------------------------------------------------------

SINGLE_TOKEN_LEXICON = [
    ("alpha", "E1", "T1", 0),
    ("beta", "E2", "T2", 0),
    ("alphabet", "E3", "T3", 0),  # superstring of alpha: one word, no match
    ("gamma", "E4", "T4", 1),
    ("gamma", "E5", "T1", 0),  # wins the tie-break
]
# space-separated multi-token surfaces overlapping the single tokens:
# longest-at-start and contained surfaces at later starts
MIXED_LEXICON = SINGLE_TOKEN_LEXICON + [
    ("alpha beta", "E6", "T2", 0),
    ("alpha beta gamma", "E7", "T3", 0),
    ("beta gamma", "E8", "T1", 2),
    ("beta gamma", "E9", "T2", 1),
]
WORD = st.text(alphabet="abcdefgh", min_size=1, max_size=6)
SCAN_WORD = st.one_of(
    WORD, st.sampled_from(["alpha", "beta", "gamma", "alphabet", "Alpha", "GAMMA"])
)
TEXTS = st.lists(
    st.lists(SCAN_WORD, max_size=12).map(" ".join), min_size=1, max_size=6
)


def _reference_scan(lexicon, text: str) -> list[tuple[str, str]]:
    """Longest-first regex alternation tried at every word start, with
    word boundaries on both sides and the lowest (priority, entity_id,
    entity_type) per surface: (surface, entity_id) per match."""
    best = {}
    for surface, eid, etype, prio in lexicon:
        best[surface] = min(best.get(surface, (prio, eid, etype)), (prio, eid, etype))
    alts = sorted(best, key=len, reverse=True)
    rx = re.compile(
        r"(?:%s)(?![A-Za-z0-9_])" % "|".join(map(re.escape, alts))
    )
    low = text.lower()
    out = []
    for start in range(len(low)):
        if start and re.match(r"[A-Za-z0-9_]", low[start - 1]):
            continue
        if m := rx.match(low, start):
            out.append((m.group(0), best[m.group(0)][1]))
    return out


@settings(SPARK_SETTINGS, max_examples=12)
@given(
    TEXTS,
    st.sampled_from([SINGLE_TOKEN_LEXICON, MIXED_LEXICON]),
    st.booleans(),
)
@example(["alpha beta gamma alphabet", "Beta GAMMA alpha beta"], MIXED_LEXICON, False)
def test_scan_matches_are_word_bounded_and_longest(spark, texts, lexicon, as_frame):
    from biokg_spark.operators.mentions import scan_mentions

    df = spark.createDataFrame(
        [("c", i, t) for i, t in enumerate(texts)],
        "conv_id string, turn_idx int, text string",
    )
    lex = lexicon
    if as_frame:
        lex = spark.createDataFrame(
            lexicon, "surface string, entity_id string, entity_type string, priority int"
        )
    got = Counter(
        (r.turn_idx, r.surface, r.entity_id) for r in scan_mentions(df, lex).collect()
    )
    expect = Counter(
        (i, surface, eid)
        for i, t in enumerate(texts)
        for surface, eid in _reference_scan(lexicon, t)
    )
    assert got == expect


# -- dedup pair joins ----------------------------------------------------

# halves are exact in float32, so the brute force sees the stored values
COMPONENT = st.integers(-4, 4).map(lambda x: x / 2)


@st.composite
def embedding_sets(draw):
    """(vec_id, vector) rows: random vectors, a hot group sharing one
    sign bucket (first four components positive) and mostly one
    k-means cluster, and planted exact and scaled copies."""
    dim = draw(st.integers(4, 6))
    nonzero = st.lists(COMPONENT, min_size=dim, max_size=dim).filter(any)
    vecs = draw(st.lists(nonzero, min_size=6, max_size=16))
    hot = st.lists(st.integers(2, 4).map(float), min_size=dim, max_size=dim)
    vecs += draw(st.lists(hot, max_size=16))
    for i in draw(st.lists(st.integers(0, len(vecs) - 1), max_size=6)):
        vecs.append(list(vecs[i]))
    for i in draw(st.lists(st.integers(0, len(vecs) - 1), max_size=3)):
        vecs.append([2 * x for x in vecs[i]])
    ids = draw(st.permutations(range(len(vecs))))
    return [(3 * i, v) for i, v in zip(ids, vecs)]


def _cosine(a, b) -> float:
    """similarity.cosine_similarity in pure Python: the same sequential
    double sums, then Spark's round (HALF_UP on the decimal string)."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    sim = dot / (math.sqrt(na) * math.sqrt(nb))
    return float(Decimal(repr(sim)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _partitionings(spark, rows):
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df.coalesce(1), df.repartition(7)


def _kmeans(rows, k: int, iterations: int = 2) -> dict:
    """kmeans_assign in pure Python: the first k points by id as init,
    the argmin of floor(d * 1e6 + 0.5) over sequential double sums with
    the lowest cluster winning ties, and quantized-integer means (an
    emptied cluster drops out and the rest keep their ids, the oracle's
    rule). Returns {id: (cluster, dist_u6)}."""
    pts = sorted(rows)
    vec = dict(pts)
    cents = {ci: list(v) for ci, (_, v) in enumerate(pts[:k])}

    def assign():
        out = {}
        for i, v in pts:
            dists = []
            for ci, c in cents.items():
                sq = 0.0
                for a, b in zip(v, c):
                    sq += (a - b) * (a - b)
                dists.append((math.floor(sq * 1_000_000.0 + 0.5), ci))
            dist, ci = min(dists)
            out[i] = (ci, dist)
        return out

    for _ in range(iterations):
        members: dict[int, list] = {}
        for i, (ci, _dist) in assign().items():
            members.setdefault(ci, []).append(vec[i])
        cents = {
            ci: [
                float(sum(math.floor(x * 1_000_000.0) for x in col))
                / len(vs)
                / 1_000_000.0
                for col in zip(*vs)
            ]
            for ci, vs in members.items()
        }
    return assign()


@SPARK_SETTINGS
@given(embedding_sets())
def test_embedding_near_dup_pairs_match_brute_force(spark, rows):
    from biokg_spark.operators.dedup import embedding_near_dup_pairs

    one, seven = (
        sorted(map(tuple, embedding_near_dup_pairs(df, threshold=0.999).collect()))
        for df in _partitionings(spark, rows)
    )
    expect = sorted(
        (x[0], y[0], sim)
        for x in rows
        for y in rows
        if x[0] < y[0]
        and [c > 0 for c in x[1][:4]] == [c > 0 for c in y[1][:4]]
        and (sim := _cosine(x[1], y[1])) >= 0.999
    )
    assert one == seven == expect


@SPARK_SETTINGS
@given(embedding_sets())
def test_semantic_dedup_matches_brute_force(spark, rows):
    from biokg_spark.operators.clustering import semantic_dedup

    one, seven = (
        sorted(map(tuple, semantic_dedup(df, k=3, threshold=0.999).collect()))
        for df in _partitionings(spark, rows)
    )
    assign = _kmeans(rows, 3)
    vec = dict(rows)
    losers = set()
    for a in vec:
        for b in vec:
            (ca, da), (cb, db) = assign[a], assign[b]
            if a < b and ca == cb and _cosine(vec[a], vec[b]) >= 0.999:
                losers.add(a if da < db else b if db < da else max(a, b))
    expect = sorted((i, assign[i][0], i not in losers) for i in vec)
    assert one == seven == expect


@SPARK_SETTINGS
@given(embedding_sets())
# ids 0 and 3 share a point, so the first round empties cluster 1
@example([(0, [1.0, 1.0]), (3, [1.0, 1.0]), (6, [10.0, 10.0]), (9, [3.0, 3.0])])
def test_kmeans_assign_matches_brute_force(spark, rows):
    from biokg_spark.operators.clustering import kmeans_assign

    one, seven = (
        sorted(map(tuple, kmeans_assign(df, k=3).collect()))
        for df in _partitionings(spark, rows)
    )
    expect = sorted((i, ci, dist) for i, (ci, dist) in _kmeans(rows, 3).items())
    assert one == seven == expect


# -- n-gram pair joins ---------------------------------------------------

# single-space joins of a five-word vocabulary: trim/split/lower agree
# between Spark and str.split, and shingles repeat across documents
DOC = st.lists(st.sampled_from("abcde"), min_size=1, max_size=8).map(" ".join)


@st.composite
def doc_sets(draw):
    """(doc_id, text) rows with unique ids, some planted exact copies and
    some planted prefixes (the truncated twins containment exists for)."""
    texts = draw(st.lists(DOC, min_size=2, max_size=8))
    for i in draw(st.lists(st.integers(0, len(texts) - 1), max_size=2)):
        texts.append(texts[i])
    for i in draw(st.lists(st.integers(0, len(texts) - 1), max_size=2)):
        words = texts[i].split(" ")
        texts.append(" ".join(words[: max(1, len(words) // 2)]))
    ids = draw(st.permutations(range(len(texts))))
    return [(5 * i + 1, t) for i, t in zip(ids, texts)]


def _shingle_sets(rows, width: int, max_doc_freq: int | None = None) -> dict:
    """dedup.shingles in pure Python, then the hot-shingle guard: drop
    every shingle held by more than ``max_doc_freq`` documents."""
    sets = {}
    for i, text in rows:
        toks = text.split(" ")
        if len(toks) < width:
            sets[i] = {" ".join(toks)}
        else:
            sets[i] = {" ".join(toks[j : j + width]) for j in range(len(toks) - width + 1)}
    if max_doc_freq is not None:
        df = {}
        for sh in sets.values():
            for x in sh:
                df[x] = df.get(x, 0) + 1
        sets = {i: {x for x in sh if df[x] <= max_doc_freq} for i, sh in sets.items()}
    return sets


def _round4(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


@SPARK_SETTINGS
@given(
    doc_sets(),
    st.sampled_from([2, 3]),
    st.sampled_from([0.2, 0.5, 1.0]),
    st.sampled_from([None, 2, 3]),
)
def test_ngram_jaccard_pairs_match_set_arithmetic(
    spark, rows, width, threshold, max_doc_freq
):
    from biokg_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        map(tuple, ngram_jaccard_pairs(df, "text", "doc_id", width, threshold, max_doc_freq).collect())
    )
    sets = _shingle_sets(rows, width, max_doc_freq)
    expect = sorted(
        (a, b, j)
        for a in sets
        for b in sets
        if a < b
        and (n := len(sets[a] & sets[b]))
        and (j := _round4(n / len(sets[a] | sets[b]))) >= threshold
    )
    assert got == expect


@SPARK_SETTINGS
@given(doc_sets(), st.sampled_from([2, 3]), st.sampled_from([0.5, 0.8, 1.0]))
def test_ngram_containment_pairs_match_set_arithmetic(spark, rows, width, threshold):
    from biokg_spark.operators.dedup import ngram_containment_pairs

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        map(tuple, ngram_containment_pairs(df, "text", "doc_id", width, threshold).collect())
    )
    sets = _shingle_sets(rows, width)
    # both directions of every overlapping pair, each exactly once
    expect = sorted(
        (a, b, len(sets[a]), n, _round4(n * 1.0 / len(sets[a])))
        for a in sets
        for b in sets
        if a != b
        and (n := len(sets[a] & sets[b]))
        and n * 1.0 / len(sets[a]) >= threshold
    )
    assert got == expect


@SPARK_SETTINGS
@given(doc_sets(), st.sampled_from([2, 3]))
def test_minhash_fanout_equals_unsplit_pairs(spark, rows, width):
    """``shingle_partitions`` only spreads the signature work over more
    tasks: the candidate pairs equal the unsplit run's, as a multiset."""
    from biokg_spark.operators.dedup import minhash_lsh_candidates

    df = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(p):
        out = minhash_lsh_candidates(df, "text", "doc_id", width=width, shingle_partitions=p)
        return sorted(map(tuple, out.collect()))

    unsplit = pairs(None)
    for p in (2, 5):
        assert pairs(p) == unsplit, p


# -- literal dims --------------------------------------------------------


@SPARK_SETTINGS
@given(
    st.lists(
        st.tuples(st.text(), st.floats(allow_nan=True, allow_infinity=True)),
        max_size=8,
    )
)
@example([("\\", -0.0), ("it's\x00", float("nan")), ("\\u0041\\'", float("-inf"))])
def test_local_df_round_trips_text_and_floats(spark, rows):
    from biokg_spark.functions.dims import local_df

    got = [tuple(r) for r in local_df(spark, rows, "s string, d double").collect()]
    assert len(got) == len(rows)
    for (s, d), (got_s, got_d) in zip(rows, got):
        assert got_s == s
        if math.isnan(d):
            assert math.isnan(got_d)
        else:
            assert got_d == d
            assert math.copysign(1.0, got_d) == math.copysign(1.0, d)


# -- token-budget selection ----------------------------------------------

# quarter steps force rank ties (and bucket ties at every n_buckets);
# the free floats land anywhere, both kinds reach outside [0, 1]
RANK = st.one_of(
    st.integers(-8, 12).map(lambda x: x / 4),
    st.floats(-2, 3, allow_nan=False, allow_infinity=False),
)


@SPARK_SETTINGS
@given(
    st.lists(st.tuples(RANK, st.sampled_from([0, 0, 1, 7, 40])), min_size=1, max_size=30),
    st.integers(0, 200),
)
@example([(0.5, 10), (0.5, 0), (1.5, 10), (-0.25, 0), (-0.25, 20)], 10)
def test_budget_select_matches_global_running_sum(spark, docs, budget):
    from biokg_spark.operators.mixture import budget_select

    rows = [(i, rank, tok) for i, (rank, tok) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, q double, n_tok long")
    expect, before = {}, 0
    for i, _rank, tok in sorted(rows, key=lambda r: (-r[1], r[0])):
        expect[i] = (before, before < budget)
        before += tok
    for n_buckets in (1, 3, 1000):
        got = {
            r.doc_id: (r.running_before, r.selected)
            for r in budget_select(df, "q", "doc_id", "n_tok", budget, n_buckets).collect()
        }
        assert got == expect, n_buckets


# -- graph fixpoints (relax / expand kernels) ------------------------------

NODES = [f"n{i}" for i in range(8)]
NODE = st.sampled_from(NODES)
WEIGHT = st.sampled_from([0.0, 0.5, 1.0, 2.25, 3.0])  # dyadic: exact sums
GRAPH_SETTINGS = settings(SPARK_SETTINGS, max_examples=4)  # ~5 s per example


def _reach(edges):
    nxt = {}
    for a, b in edges:
        nxt.setdefault(a, set()).add(b)
    nodes = {n for e in edges for n in e}
    reach = {}
    for u in nodes:
        seen, todo = {u}, [u]
        while todo:
            for v in nxt.get(todo.pop(), ()):
                if v not in seen:
                    seen.add(v)
                    todo.append(v)
        reach[u] = seen
    return reach


def _topo_reference(edges):
    """Mutual-reachability SCCs, then longest path over the condensation."""
    reach = _reach(edges)
    scc = {u: min(v for v in reach[u] if u in reach[v]) for u in reach}
    preds = {}
    for a, b in edges:
        if scc[a] != scc[b]:
            preds.setdefault(scc[b], set()).add(scc[a])
    layer = {}

    def depth(c):
        if c not in layer:
            layer[c] = max((depth(p) + 1 for p in preds.get(c, ())), default=0)
        return layer[c]

    return {u: (scc[u], depth(scc[u])) for u in scc}


@GRAPH_SETTINGS
@given(st.lists(st.tuples(NODE, NODE), max_size=14))
@example([("n0", "n1"), ("n1", "n2"), ("n2", "n0"), ("n2", "n4"), ("n3", "n3"),
          ("n3", "n4"), ("n4", "n5"), ("n5", "n6"), ("n1", "n6")])
def test_topo_layers_match_reachability_scc_and_longest_path(spark, edges):
    from biokg_spark.operators.components import topo_layers

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.id: (r.scc_id, r.layer) for r in topo_layers(df).collect()}
    assert got == _topo_reference(edges)


@GRAPH_SETTINGS
@given(
    st.lists(st.tuples(NODE, NODE, WEIGHT), max_size=14),
    st.sets(NODE, min_size=1, max_size=3),
)
@example([("n0", "n1", 3.0), ("n0", "n2", 0.5), ("n2", "n1", 0.5), ("n1", "n1", 0.0),
          ("n1", "n3", 1.0), ("n3", "n0", 2.25)], {"n0"})
def test_distances_match_bfs_and_bounded_bellman_ford(spark, edges, seeds):
    from biokg_spark.operators.traversal import bfs_distances, weighted_distances

    df = spark.createDataFrame(edges, "src string, dst string, weight double")
    seed_df = spark.createDataFrame([(s,) for s in sorted(seeds)], "id string")
    for hops in (0, 1, 3):
        hop, cost = {s: 0 for s in seeds}, {s: 0.0 for s in seeds}
        for h in range(1, hops + 1):
            prev = dict(cost)
            for a, b, w in edges:
                if a in hop and hop[a] == h - 1 and b not in hop:
                    hop[b] = h
                if a in prev and prev[a] + w < cost.get(b, math.inf):
                    cost[b] = prev[a] + w
        got = {r.id: r.dist for r in bfs_distances(df, seed_df, max_hops=hops).collect()}
        assert got == hop, hops
        got = {
            r.id: r.dist
            for r in weighted_distances(df, seed_df, max_rounds=hops).collect()
        }
        assert got == cost, hops
