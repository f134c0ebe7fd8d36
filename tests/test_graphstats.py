"""Graph profile semantics (operators/graphstats.py)."""

from __future__ import annotations

from itertools import combinations

from biokg_spark.operators.graphstats import graph_profile


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    return graph_profile(df, **kw).collect()[0]


def test_k4_profile(spark):
    row = _run(spark, [(u, v) for u, v in combinations("abcd", 2)])
    assert (row.n_nodes, row.n_edges) == (4, 6)
    assert (row.min_deg, row.max_deg, row.avg_deg) == (3, 3, 3.0)
    assert row.p50_deg == row.p99_deg == 3.0


def test_star_profile_dedups_and_drops_loops(spark):
    edges = [("h", f"l{i}") for i in range(9)]
    noisy = edges + [(b, a) for a, b in edges] + [("h", "h")]
    row = _run(spark, noisy)
    assert (row.n_nodes, row.n_edges) == (10, 9)
    assert (row.min_deg, row.max_deg) == (1, 9)
    assert row.p50_deg == 1.0  # leaves dominate


def test_path_profile_interpolates_even_count_median(spark):
    # degrees 1, 2, 2, 1: the exact percentile interpolates between the
    # two middle values, as the DuckDB oracle's quantile_cont does
    row = _run(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert (row.n_nodes, row.n_edges) == (4, 3)
    assert (row.min_deg, row.max_deg, row.avg_deg) == (1, 2, 1.5)
    assert row.p50_deg == 1.5
