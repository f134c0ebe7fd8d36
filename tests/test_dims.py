"""functions/dims.py — literal dims as LocalTableScan relations."""

from __future__ import annotations

from biokg_spark.functions.dims import local_df


def test_local_df_types_and_values(spark):
    df = local_df(
        spark,
        [("a'b", 1, 2.5, True, None), ("c", -3, 0.0, False, "x")],
        "s string, i int, d double, b boolean, n string",
    )
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string", "int", "double", "boolean", "string",
    ]
    rows = sorted(map(tuple, df.collect()))
    assert rows == [("a'b", 1, 2.5, True, None), ("c", -3, 0.0, False, "x")]
    # LocalTableScan: no RDD scan job needed to collect
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()


def test_local_df_empty(spark):
    df = local_df(spark, [], "a string, b long")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["a", "b"]


def test_local_df_array_type(spark):
    df = local_df(
        spark, [(0, [1.0, 2.0]), (1, [0.5, -1.5])], "cell int, centroid array<double>"
    )
    rows = {r["cell"]: list(r["centroid"]) for r in df.collect()}
    assert rows == {0: [1.0, 2.0], 1: [0.5, -1.5]}


def test_local_df_matches_createdataframe(spark):
    rows = [("x", 1), ("y", 2)]
    schema = "k string, v int"
    a = sorted(map(tuple, local_df(spark, rows, schema).collect()))
    b = sorted(map(tuple, spark.createDataFrame(rows, schema).collect()))
    assert a == b


def test_local_df_round_trips_escapes_and_special_floats(spark):
    """Backslashes survive Spark SQL's escape processing, and NaN, ±inf
    and -0.0 come back as themselves, not as column names or 0.0."""
    rows = [
        ("a\tb", 1.5),
        ("trailing\\", float("nan")),
        ("it's \\'quoted\\\\", float("inf")),
        ("\\n stays two chars", float("-inf")),
        ("x", -0.0),
    ]
    schema = "s string, d double"
    # NaN != NaN, so compare the rows' reprs
    a = sorted(map(repr, map(tuple, local_df(spark, rows, schema).collect())))
    b = sorted(map(repr, map(tuple, spark.createDataFrame(rows, schema).collect())))
    assert a == b == sorted(map(repr, rows))


def test_scan_mentions_list_equals_dataframe_lexicon(spark):
    """The list lexicon (tie-broken in Python, no job) must produce
    exactly the DataFrame lexicon's rows."""
    from biokg_spark.operators.mentions import scan_mentions

    lex_rows = [("alpha", "E1", "T1", 0), ("beta", "E2", "T2", 0)]
    lex_df = spark.createDataFrame(
        lex_rows, "surface string, entity_id string, entity_type string, priority int"
    )
    docs = spark.createDataFrame(
        [("c1", 0, "Alpha beta gamma"), ("c1", 1, "no hits here"),
         ("c2", 0, "beta-alpha! Beta")],
        "conv_id string, turn_idx int, text string",
    )
    a = sorted(map(tuple, scan_mentions(docs, lex_rows).collect()))
    b = sorted(map(tuple, scan_mentions(docs, lex_df).collect()))
    assert a == b and len(a) == 5
