"""Similarity search over embedding columns (array<float>).

Not present in the reference (its linking is exact-ID based); required by
the training-data-pipeline mandate. All three classic ANN families:

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  The query side is small by construction, so Catalyst broadcast-joins it
  and the big side streams through one pass (no shuffle until the per-query
  top-k aggregate).
- ``lsh_bucketed_topk``: hash family — sign-bucket the space on the
  first ``sign_bits`` dimensions (a fixed, data-independent hyperplane
  family), then search only within the query's bucket. At 100 TB the
  bucket column becomes the table's partition key so a query prunes
  ~2^sign_bits of the data at the scan.
- ``ivf_topk``: partition family — learned k-means coarse quantizer +
  multi-probe; full probe is provably brute force (the oracle config).
- ``hnsw_topk``: graph family — per-cell HNSW indexes built
  executor-side, beam search; full probe + unbounded beam is provably
  brute force (see its docstring).

All arithmetic is float→double cast then sequential sum, with similarity
rounded to 4 dp and ties broken on id — deterministic and reproducible in
the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column, b: Column, decimals: int = 4) -> Column:
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), decimals)


def with_norm(df: DataFrame, vec_col: str, norm_col: str) -> DataFrame:
    """``df`` with ``vec_col`` cast to array<double> and its L2 norm added
    as ``norm_col``: the per-vector half of :func:`cosine_similarity`,
    done once per row before a pair join instead of twice per pair.
    Pairs then score with :func:`cosine_normed`."""
    return df.withColumn(
        vec_col, F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ).withColumn(norm_col, _norm(F.col(vec_col)))


def cosine_normed(
    va: Column, na: Column, vb: Column, nb: Column, decimals: int = 4
) -> Column:
    """:func:`cosine_similarity` over two :func:`with_norm` projections.
    The same double operations run in the same order, so the result is
    bit-identical to scoring the raw vectors."""
    return F.round(_dot(va, vb) / (na * nb), decimals)


def fanout(spark: SparkSession, df: DataFrame | None = None) -> int:
    """Partition width for compute-heavy stages over few-partition inputs.

    The session's default parallelism (scale-adaptive, not a constant),
    and never less than ``df``'s own partition count, so a wide input is
    not narrowed. Pass a scan or a checkpoint: counting the partitions of
    a plan with a shuffle would run that shuffle.

    Small tables arrive as ONE parquet split, and AQE sizes post-shuffle
    partitions by input bytes, so work that grows faster than the input
    (MinHash hashing per exploded shingle, quadratic pair joins) would
    run on one task whatever the cluster width. An explicit
    ``repartition(fanout(...), keys)`` is never coalesced by AQE.
    """
    width = spark.sparkContext.defaultParallelism
    if df is not None:
        width = max(width, df.rdd.getNumPartitions())
    return width


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact brute-force top-k by cosine: (q_id, c_id, sim, rank).

    ``queries`` is expected to be small (it is broadcast); the corpus is
    scanned once. Self-matches (same id) are excluded.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"))
    scored = (
        c.join(F.broadcast(q), F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "sim", "rank")
    )


def sign_bucket(vec: Column, sign_bits: int = 4) -> Column:
    """Data-independent LSH bucket: concatenated sign bits of the first
    ``sign_bits`` components ('1' if > 0 else '0')."""
    return F.concat_ws(
        "",
        *[
            (F.element_at(vec, i + 1) > 0).cast("int").cast("string")
            for i in range(sign_bits)
        ],
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    fit_sample_fraction: float = 1.0,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer + multi-probe.

    Train ``n_cells`` centroids on the corpus (pyspark.ml KMeans — one
    pass per iteration, the model is tiny and broadcast), assign every
    corpus vector to its nearest cell at write time (at 100 TB the cell id
    is the table's partition key), then search each query only in its
    ``n_probe`` nearest cells. Recall grows with n_probe; **n_probe =
    n_cells is EXACTLY brute force regardless of the learned centroids**
    (every corpus vector lives in exactly one probed cell) — the
    correctness invariant the oracle checks. Deterministic via fixed seed.

    ``fit_sample_fraction < 1`` fits the quantizer on a corpus sample —
    at 100 TB you never k-means the full table; a few million sampled
    vectors pin the centroids and only the (cheap, single-pass)
    assignment touches every row.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    dense = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_features"),
    )
    km = KMeans(k=n_cells, seed=seed, featuresCol="_features", predictionCol="_cell")
    fit_input = (
        dense if fit_sample_fraction >= 1.0
        else dense.sample(fraction=fit_sample_fraction, seed=seed)
    )
    model = km.fit(fit_input)
    assigned = model.transform(dense).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec"), "_cell"
    )
    # centroid table (tiny): cell -> centroid array
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    from biokg_spark.functions.dims import local_df

    cent_df = local_df(
        corpus.sparkSession, centroids, "cell int, centroid array<double>"
    )
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    # rank this query's cells by centroid cosine, keep n_probe
    q_cells = (
        q.join(F.broadcast(cent_df))
        .select(
            "q_id",
            "q_vec",
            "cell",
            cosine_similarity(F.col("q_vec"), F.col("centroid"), 6).alias("_csim"),
        )
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("_csim"), F.asc("cell"))
    probes = (
        q_cells.withColumn("_crk", F.row_number().over(wq))
        .where(F.col("_crk") <= n_probe)
        .select("q_id", "q_vec", F.col("cell").alias("_cell"))
    )
    scored = (
        assigned.join(F.broadcast(probes), on="_cell")
        .where(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "sim", "rank")
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    sign_bits: int = 4,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.

    Recall < 1 by design; the win is that the join key (bucket) prunes the
    corpus scan by ~2^sign_bits. Output schema matches ``cosine_topk``.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        sign_bucket(F.col(vec_col), sign_bits).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        sign_bucket(F.col(vec_col), sign_bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .where(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "sim", "rank")
    )


# ---------------------------------------------------------------------------
# Graph-ANN tier: distributed HNSW (r3 verdict item 7)
# ---------------------------------------------------------------------------


class _HNSW:
    """In-process HNSW graph index over one partition's vectors
    (Malkov & Yashunin 2016; hierarchical layers, greedy beam search).

    Pure numpy/stdlib — built executor-side per cell, never shipped.
    Two determinism/exactness properties the distributed wrapper relies
    on:

    - layer assignment is a hash of the element id (not RNG state), so
      the graph is identical however the partition's rows are ordered;
    - every node additionally links to its insertion predecessor at
      layer 0 (a connectivity chain), so the base layer is CONNECTED by
      construction — with an unbounded beam (``ef=None``) the search
      therefore visits every node of the cell, making full-probe +
      unbounded-beam EXACTLY brute force (the oracle configuration,
      IVF's full-probe trick transposed to a graph index).
    """

    def __init__(self, vecs, m: int = 8, ef_construction: int = 32, seed: int = 42):
        import math

        import numpy as np

        self.np = np
        v = np.asarray(vecs, dtype=np.float64)
        norms = np.linalg.norm(v, axis=1)
        norms[norms == 0.0] = 1.0
        self.unit = v / norms[:, None]  # cosine == dot on unit vectors
        self.n = len(v)
        self.m = m
        ml = 1.0 / math.log(max(2, m))
        # deterministic per-element level from a seeded hash
        import hashlib

        def level_of(i: int) -> int:
            h = hashlib.md5(f"{seed}:{i}".encode()).digest()
            u = (int.from_bytes(h[:8], "big") + 1) / float(1 << 64)
            return int(-math.log(u) * ml)

        self.levels = [level_of(i) for i in range(self.n)]
        self.max_level = max(self.levels, default=0)
        # neighbors[layer][node] -> list of node idx
        self.nb: list[dict[int, list[int]]] = [
            {} for _ in range(self.max_level + 1)
        ]
        self.entry = 0 if self.n else None
        for i in range(self.n):
            self._insert(i, ef_construction)

    def _search_layer(self, q, entry: int, layer: int, ef: int | None):
        """Beam search one layer; returns [(sim, idx)] best-first.
        ``ef=None`` = unbounded beam: expands until the frontier is
        empty, i.e. visits the whole connected component."""
        import heapq

        np = self.np
        sim0 = float(np.dot(self.unit[entry], q))
        visited = {entry}
        cand = [(-sim0, entry)]  # min-heap on -sim (best first)
        found = [(sim0, entry)]  # min-heap on sim (worst first, size <= ef)
        while cand:
            negs, c = heapq.heappop(cand)
            if ef is not None and -negs < found[0][0] and len(found) >= ef:
                break
            for nbr in self.nb[layer].get(c, ()):
                if nbr in visited:
                    continue
                visited.add(nbr)
                s = float(np.dot(self.unit[nbr], q))
                if ef is None or len(found) < ef or s > found[0][0]:
                    heapq.heappush(cand, (-s, nbr))
                    heapq.heappush(found, (s, nbr))
                    if ef is not None and len(found) > ef:
                        heapq.heappop(found)
        return sorted(found, reverse=True)

    def _connect(self, layer: int, a: int, b: int) -> None:
        if b not in self.nb[layer].setdefault(a, []):
            self.nb[layer][a].append(b)

    def _insert(self, i: int, ef_c: int) -> None:
        if i == 0:
            return
        q = self.unit[i]
        lvl = self.levels[i]
        ep = self.entry
        # greedy descend through layers above the node's level
        for layer in range(self.max_level, lvl, -1):
            best = self._search_layer(q, ep, layer, 1)
            ep = best[0][1]
        for layer in range(min(lvl, self.max_level), -1, -1):
            found = self._search_layer(q, ep, layer, ef_c)
            for _s, nbr in found[: self.m]:
                self._connect(layer, i, nbr)
                self._connect(layer, nbr, i)
                # prune fat nodes to 2m links (keep nearest)
                if len(self.nb[layer][nbr]) > 2 * self.m:
                    np = self.np
                    sims = [
                        (float(np.dot(self.unit[x], self.unit[nbr])), x)
                        for x in self.nb[layer][nbr]
                    ]
                    sims.sort(reverse=True)
                    self.nb[layer][nbr] = [x for _s2, x in sims[: 2 * self.m]]
            ep = found[0][1]
        # connectivity chain (exactness under ef=None — class docstring)
        self._connect(0, i, i - 1)
        self._connect(0, i - 1, i)
        if self.levels[i] > self.levels[self.entry]:
            self.entry = i

    def search(self, q, ef: int | None):
        """Candidate indices for query vector ``q`` (best-first)."""
        if self.entry is None:
            return []
        import numpy as np

        qv = np.asarray(q, dtype=np.float64)
        nrm = np.linalg.norm(qv)
        qv = qv / (nrm if nrm else 1.0)
        ep = self.entry
        for layer in range(self.max_level, 0, -1):
            ep = self._search_layer(qv, ep, layer, 1)[0][1]
        return [i for _s, i in self._search_layer(qv, ep, 0, ef)]


def hnsw_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    cell_bits: int = 2,
    n_probe: int | None = None,
    ef_search: int | None = None,
    m_links: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Distributed graph-ANN: per-cell HNSW indexes + beam search.

    The corpus is sign-partitioned into ``2^cell_bits`` cells (at 100 TB
    the cell is the table's partition key, same layout as the IVF/LSH
    tiers); each cell's HNSW graph is built EXECUTOR-SIDE inside one
    ``cogroup().applyInPandas`` call — the index never exists on the
    driver and never spans cells. Queries route to their probed cells
    and walk the graph; the kernel emits CANDIDATE PAIRS only, which are
    then scored and ranked by the same Spark cosine expression as every
    other tier (bit-identical sims, DuckDB-reproducible).

    Exactness dial (the oracle configuration): ``n_probe=None`` probes
    every cell and ``ef_search=None`` runs an unbounded beam — which,
    because the base layer is connected by construction (see ``_HNSW``),
    visits every vector: provably brute force, whatever the graph looks
    like. Partial settings (own bucket + ``n_probe-1`` bit-flip
    neighbors, finite beam) give the approximate scale path; recall is
    pinned in tests/test_similarity.py.
    """
    n_cells = 1 << cell_bits
    c = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        F.conv(sign_bucket(F.col(vec_col), cell_bits), 2, 10).cast("int").alias("cell"),
    )
    q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    spark = corpus.sparkSession
    if n_probe is None:
        cells_df = spark.range(n_cells).select(F.col("id").cast("int").alias("cell"))
        probes = q.crossJoin(F.broadcast(cells_df))
    else:
        own = F.conv(sign_bucket(F.col("q_vec"), cell_bits), 2, 10).cast("int")
        probe_cells = F.slice(
            F.array(
                own,
                *[
                    own.bitwiseXOR(F.lit(1 << b)).cast("int")
                    for b in range(cell_bits)
                ],
            ),
            1,
            min(n_probe, cell_bits + 1),
        )
        probes = q.select(
            "q_id", "q_vec", F.explode(probe_cells).alias("cell")
        )

    def kernel(corpus_pdf, probes_pdf):
        import pandas as pd

        if len(corpus_pdf) == 0 or len(probes_pdf) == 0:
            return pd.DataFrame({"q_id": [], "c_id": []})
        ids = corpus_pdf["c_id"].tolist()
        index = _HNSW(
            [list(v) for v in corpus_pdf["c_vec"]], m=m_links, seed=seed
        )
        ef = ef_search if ef_search is None else max(ef_search, k + 1)
        rows = []
        for qid, qvec in zip(probes_pdf["q_id"], probes_pdf["q_vec"]):
            for i in index.search(list(qvec), ef):
                if ids[i] != qid:
                    rows.append((qid, ids[i]))
        return pd.DataFrame(rows, columns=["q_id", "c_id"])

    # derive the pair schema from the actual id column types: hardcoding
    # "long" broke (or silently corrupted via Arrow cast) string entity
    # ids, unlike the other similarity tiers which are id-type generic
    q_id_t = queries.schema[id_col].dataType.simpleString()
    c_id_t = corpus.schema[id_col].dataType.simpleString()
    cands = (
        c.groupBy("cell")
        .cogroup(probes.groupBy("cell"))
        .applyInPandas(kernel, schema=f"q_id {q_id_t}, c_id {c_id_t}")
        .dropDuplicates()
    )
    scored = (
        cands.join(q, "q_id")
        .join(c.select("c_id", "c_vec"), "c_id")
        .select(
            "q_id",
            "c_id",
            cosine_similarity(F.col("q_vec"), F.col("c_vec")).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "c_id", "sim", "rank")
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_id: str = "q_id",
    id_col: str = "c_id",
    decimals: int = 4,
) -> DataFrame:
    """Recall@k harness for any ANN tier: per query, the fraction of
    the EXACT top-k the approximate tier returned — the similarity-
    family sibling of the dedup blocking scorecard (the number that
    tunes sign bits / n_probe / beam width before a 10^12-row run).

    Both inputs are (query_id, id_col, ...) top-k frames (tiny:
    |queries| × k rows); the harness is one semi-join + two
    HashAggregates on that frame — corpus-size-independent, like the
    RRF fuser. Queries the approximate tier missed entirely still
    emit a row (recall 0.0).
    """
    ex = exact.select(query_id, id_col)
    hits = ex.join(
        approx.select(query_id, id_col), [query_id, id_col], "left_semi"
    )
    n_ex = ex.groupBy(query_id).agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hits.groupBy(query_id).agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_ex.join(n_hit, query_id, "left")
        .select(
            query_id,
            "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact"), decimals
            ).alias("recall"),
        )
    )
