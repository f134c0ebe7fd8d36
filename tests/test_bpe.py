"""BPE merge-table training semantics (operators/bpe.py)."""

from __future__ import annotations

from biokg_spark.operators.bpe import bpe_train


def _train(spark, texts, n_merges):
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    return [
        (r.merge_rank, r.pair, r.merged, r.n)
        for r in bpe_train(spark, df, "text", n_merges)
        .orderBy("merge_rank")
        .collect()
    ]


def test_most_frequent_pair_wins_and_recurses(spark):
    # "a b" occurs 3x, then the fused token pairs with c twice
    got = _train(spark, ["a b c", "a b c", "a b"], 2)
    assert got[0] == (0, "a b", "a~b", 3)
    assert got[1] == (1, "a~b c", "a~b~c", 2)


def test_overlapping_run_greedy_left_to_right(spark):
    # "a a a a": greedy left-to-right fuses positions (1,2) and (3,4)
    got = _train(spark, ["a a a a"], 2)
    assert got[0] == (0, "a a", "a~a", 3)  # 3 adjacent occurrences counted
    # after fusion the text is "a~a a~a": one occurrence of the new pair
    assert got[1] == (1, "a~a a~a", "a~a~a~a", 1)


def test_tie_breaks_lexicographic(spark):
    got = _train(spark, ["z y", "b a"], 1)
    # both pairs occur once; 'b a' < 'z y'
    assert got[0] == (0, "b a", "b~a", 1)


def test_early_stop_when_no_pairs(spark):
    got = _train(spark, ["solo", "word"], 3)
    # round 0 fuses the only pair-less corpus? no adjacent pairs at all
    assert got == []


def test_odd_self_run_double_pass_contract(spark):
    # 5-token self-run: double-pass fuses (t1,t2) and (t4,t5), leaving the
    # MIDDLE token unfused — same merge count as token-greedy (which would
    # leave the last), different position; the documented contract.
    got = _train(spark, ["a a a a a"], 2)
    assert got[0] == (0, "a a", "a~a", 4)  # 4 adjacent occurrences counted
    # remaining stream is "a~a a a~a": pairs 'a~a a' and 'a a~a' tie at 1,
    # lexicographic tie-break picks 'a a~a'
    assert got[1] == (1, "a a~a", "a~a~a", 1)


def test_bpe_encode_reproduces_training_frame(spark):
    from biokg_spark.operators.bpe import bpe_encode, bpe_train

    rows = [
        (1, "low low low lower lowest"),
        (2, "low lower new new new newer"),
        (3, "a a a a a"),  # odd self-run: the documented double-pass edge
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_train(spark, docs, "text", n_merges=3)
    enc = {r.doc_id: r for r in bpe_encode(docs, merges, "text", "doc_id").collect()}
    assert set(enc) == {1, 2, 3}
    # every doc compresses or stays equal; doc with the top pair shrinks
    assert all(r.n_bpe <= r.n_ws for r in enc.values())
    m = {r.merge_rank: (r.pair, r.merged) for r in merges.collect()}
    assert m[0][0] in {"low low", "a a", "new new"}  # deterministic argmax exists
    # encoded fingerprint differs from raw for a doc containing merges
    assert enc[3].n_bpe < enc[3].n_ws


def test_bpe_encode_empty_merge_table(spark):
    from biokg_spark.operators.bpe import bpe_encode

    docs = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    empty = spark.createDataFrame(
        [], "merge_rank int, pair string, merged string, n long"
    )
    r = bpe_encode(docs, empty, "text", "doc_id").collect()[0]
    assert (r.n_ws, r.n_bpe) == (3, 3)


def test_bpe_encode_null_and_empty_text(spark):
    """Edge semantics of the Column chain, pinned by value: NULL text
    propagates NULL outputs; empty/whitespace-only text counts one
    (empty) whitespace token like Spark's split, and encodes to ''."""
    import hashlib

    from biokg_spark.operators.bpe import bpe_encode, bpe_train

    train = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b c")], "doc_id long, text string"
    )
    merges = bpe_train(spark, train, "text", n_merges=2)
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, ""), (2, "   "), (3, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in bpe_encode(docs, merges, "text", "doc_id").collect()}
    assert set(got) == {0, 1, 2, 3}
    empty_fp = hashlib.md5(b"").hexdigest()
    for i in (1, 2):
        assert (got[i].n_ws, got[i].n_bpe, got[i].enc_fp) == (1, 1, empty_fp), i
    assert (got[3].n_ws, got[3].n_bpe, got[3].enc_fp) == (None, None, None)
    assert got[0].n_ws == 4 and got[0].n_bpe < 4
