"""Deterministic k-means semantics (operators/clustering.py)."""

from __future__ import annotations

import pytest

from biokg_spark.operators.clustering import kmeans_assign


def _blobs(spark):
    # three well-separated 4-d blobs, 5 points each
    rows = []
    for g, base in enumerate([0.0, 10.0, 20.0]):
        for i in range(5):
            vec = [base + 0.1 * i, base, base - 0.1 * i, base + 0.05]
            rows.append((g * 5 + i, [float(x) for x in vec]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_separated_blobs_cluster_together(spark):
    df = _blobs(spark)
    got = {r.vec_id: r.cluster for r in kmeans_assign(df, k=3, iterations=3).collect()}
    assert len(got) == 15
    groups = [{got[g * 5 + i] for i in range(5)} for g in range(3)]
    # each blob is internally consistent and blobs are mutually distinct
    assert all(len(s) == 1 for s in groups)
    assert len({next(iter(s)) for s in groups}) == 3


def test_assignment_partitioning_stable(spark):
    df = _blobs(spark)
    one = sorted(
        (r.vec_id, r.cluster, r.dist_u6)
        for r in kmeans_assign(df, k=3, iterations=2).collect()
    )
    two = sorted(
        (r.vec_id, r.cluster, r.dist_u6)
        for r in kmeans_assign(df.repartition(7), k=3, iterations=2).collect()
    )
    assert one == two


def test_member_closer_to_own_centroid_after_convergence(spark):
    df = _blobs(spark)
    rows = kmeans_assign(df, k=3, iterations=3).collect()
    # converged on separated blobs: intra-blob distance is tiny
    assert all(r.dist_u6 < 1_000_000 for r in rows)  # < 1.0 squared L2


def test_semantic_dedup_drops_centroid_closer_endpoint(spark):
    from biokg_spark.operators.clustering import semantic_dedup

    # one tight blob around [10,10,10,10] plus a far-away singleton so
    # k=2 separates them; within the blob, ids 1 and 2 are parallel
    # (cosine 1.0) but id 1 sits closer to the centroid -> id 1 drops (keep-farthest).
    rows = [
        (1, [10.0, 10.0, 10.0, 10.0]),
        (2, [10.2, 10.2, 10.2, 10.2]),  # parallel to id 1 (cosine 1.0), farther out
        (3, [10.0, 14.0, 6.0, 10.0]),   # same blob, cosine ~0.962 vs 1,2
        (9, [-50.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: (r.cluster, r.keep)
        for r in semantic_dedup(df, k=2, iterations=2, threshold=0.999).collect()
    }
    assert set(got) == {1, 2, 3, 9}
    assert got[1][0] == got[2][0] == got[3][0]
    assert got[9][0] != got[1][0]
    centroid = [
        (10.0 + 10.2 + 10.0) / 3,
        (10.0 + 10.2 + 14.0) / 3,
        (10.0 + 10.2 + 6.0) / 3,
        (10.0 + 10.2 + 10.0) / 3,
    ]
    d1 = sum((a - b) ** 2 for a, b in zip(rows[0][1], centroid))
    d2 = sum((a - b) ** 2 for a, b in zip(rows[1][1], centroid))
    assert d1 < d2  # id 1 is the centroid-closer endpoint
    assert got[1][1] is False and got[2][1] is True
    assert got[3][1] is True and got[9][1] is True


def test_semantic_dedup_exact_copies_tie_break_and_cap(spark):
    from biokg_spark.operators.clustering import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),  # exact copy: dist tie -> greater id drops
        (7, [0.0, 8.0, 0.0, 0.0]),
        (8, [0.0, 0.0, 8.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r.vec_id: r.keep
        for r in semantic_dedup(df, k=3, iterations=2, threshold=0.999).collect()
    }
    assert got == {1: True, 2: False, 7: True, 8: True}
    # max_cluster_size below the dup cluster's size skips its pair stage:
    # everything keeps, every row still emitted
    capped = {
        r.vec_id: r.keep
        for r in semantic_dedup(
            df, k=3, iterations=2, threshold=0.999, max_cluster_size=1
        ).collect()
    }
    assert capped == {1: True, 2: True, 7: True, 8: True}


def test_semantic_dedup_bucket_split_finds_cross_bucket_pairs(spark):
    """The salted pair join (b-side hash bucket, a-side bucket explode)
    must pair points REGARDLESS of which bucket each lands in: a cluster
    spans several buckets, and every near-dup pair must still surface
    exactly once."""
    from biokg_spark.operators.clustering import semantic_dedup

    # 70 points in one tight blob (every pair cosine ~1.0) + 2 far seeds
    # so k=2 init separates; bucket count B = ceil(4 * parallelism/2) > 1.
    rows = [(i, [1.0, 1.0 + i * 1e-9]) for i in range(70)]
    rows += [(100, [-50.0, 40.0]), (101, [-50.0, 41.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["keep"] for r in
           semantic_dedup(df, k=2, iterations=2, threshold=0.999).collect()}
    blob = {i: out[i] for i in range(70)}
    # exactly ONE survivor in the blob: all 70 are mutual near-dups, so
    # a missed cross-bucket pair would leave extra keepers
    assert sum(blob.values()) == 1, blob


def test_semantic_dedup_pair_stage_spreads_over_every_core(
    spark, tmp_path, busiest_stage_tasks
):
    """k clusters are fewer keys than cores and AQE sizes partitions by
    input bytes; the (cluster, bucket) pair stage of a one-file input
    must still run on at least defaultParallelism tasks."""
    from biokg_spark.operators.clustering import semantic_dedup

    rows = [
        (i, [1.0 + (i * 7 + j * 13) % 29 for j in range(16)]) for i in range(600)
    ]
    src = str(tmp_path / "emb")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.parquet(src)
    df = spark.read.parquet(src)
    assert df.rdd.getNumPartitions() == 1
    out = []
    tasks = busiest_stage_tasks(
        lambda: out.extend(semantic_dedup(df, k=2, iterations=2).collect())
    )
    assert tasks >= spark.sparkContext.defaultParallelism
    assert len(out) == 600


def test_fewer_points_than_k_matches_oracle(spark):
    """n < k: as many clusters as points, as the DuckDB twin makes (the
    update used to index the k-th init row past the end)."""
    import duckdb

    from biokg_spark.operators.clustering import kmeans_oracle_sql, semantic_dedup

    rows = [(5, [1.0, 2.0]), (1, [0.0, 0.5]), (9, [3.0, -1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(map(tuple, kmeans_assign(df, k=4).collect()))
    values = ", ".join(f"({i}, {v}::FLOAT[])" for i, v in rows)
    want = duckdb.connect().execute(
        kmeans_oracle_sql(k=4, source_sql=f"(VALUES {values}) t(vec_id, embedding)")
    ).fetchall()
    assert got == sorted(want) == [(1, 0, 0), (5, 1, 0), (9, 2, 0)]
    assert sorted(map(tuple, semantic_dedup(df, k=4).collect())) == [
        (1, 0, True), (5, 1, True), (9, 2, True),
    ]


def test_emptied_cluster_drops_out_as_in_oracle(spark):
    """Ids 0 and 1 share a point, so the first round's assignment sends
    both to cluster 0 and empties cluster 1. The DuckDB twin drops an
    emptied cluster from later rounds while the survivors keep their ids;
    the operator must too (it used to keep cluster 1's stale centroid)."""
    import duckdb

    from biokg_spark.operators.clustering import kmeans_oracle_sql

    rows = [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [10.0, 10.0]), (3, [3.0, 3.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(map(tuple, kmeans_assign(df, k=3).collect()))
    values = ", ".join(f"({i}, {v}::FLOAT[])" for i, v in rows)
    want = duckdb.connect().execute(
        kmeans_oracle_sql(k=3, source_sql=f"(VALUES {values}) t(vec_id, embedding)")
    ).fetchall()
    assert got == sorted(want) == [
        (0, 0, 888889), (1, 0, 888889), (2, 2, 0), (3, 0, 3555556),
    ]


def test_empty_input_gives_empty_frame(spark):
    from biokg_spark.operators.clustering import semantic_dedup

    df = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = kmeans_assign(df, k=3)
    assert out.schema.simpleString() == (
        "struct<vec_id:bigint,cluster:int,dist_u6:bigint>"
    )
    assert out.collect() == []
    dedup = semantic_dedup(df, k=3)
    assert dedup.schema.simpleString() == (
        "struct<vec_id:bigint,cluster:int,keep:boolean>"
    )
    assert dedup.collect() == []


def test_ragged_init_rows_raise(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="equal-dimension"):
        kmeans_assign(df, k=2)


def test_assign_plan_size_does_not_grow_with_k(spark):
    """The centroids enter the plan as one matrix literal under one
    lambda, so the analyzed plan holds as many lambda functions at k=32
    as at k=2 (d=64 both)."""
    rows = [
        (i, [float((i * 7 + j * 13) % 29) / 4 for j in range(64)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def lambdas(k: int) -> int:
        plan = kmeans_assign(df, k=k, iterations=1)._jdf.queryExecution().analyzed()
        return plan.toString().count("lambdafunction")

    assert lambdas(2) == lambdas(32)
