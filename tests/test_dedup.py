from __future__ import annotations

from biokg_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over a lazy dog"),  # near dup of 1
    (4, "completely different words entirely here now today friends"),
    (5, "  The   quick brown fox JUMPS over the lazy dog "),  # normalized dup of 1
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark), "text", "doc_id").collect()
    by_id = {r.doc_id: r.dup_count for r in out}
    # 1, 2, 5 collapse (case/whitespace-normalized); survivor is min id
    assert by_id == {1: 3, 3: 1, 4: 1}


def test_minhash_identical_docs_same_signature(spark):
    sigs = {r.doc_id: r.sig for r in minhash_signatures(_docs(spark), "text", "doc_id").collect()}
    assert sigs[1] == sigs[2] == sigs[5]
    assert sigs[1] != sigs[4]


def test_minhash_lsh_candidates(spark):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(_docs(spark), "text", "doc_id").collect()
    }
    # exact dups must bucket together in every band
    assert {(1, 2), (1, 5), (2, 5)} <= pairs
    # the unrelated doc must not pair with anything
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(_docs(spark), "text", "doc_id", threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert 0.3 <= pairs[(1, 3)] < 1.0
    assert (1, 4) not in pairs


def test_simhash_deterministic_and_discriminative(spark):
    fps = {r.doc_id: r.simhash for r in simhash(_docs(spark), "text", "doc_id").collect()}
    assert fps[1] == fps[2] == fps[5]
    assert len(fps[1]) == 16 and set(fps[1]) <= {"0", "1"}
    hamming_14 = sum(a != b for a, b in zip(fps[1], fps[4]))
    hamming_13 = sum(a != b for a, b in zip(fps[1], fps[3]))
    assert hamming_13 <= hamming_14


def test_winnow_fingerprints_overlap_guarantee(spark):
    """Documents sharing a long substring must share >=1 fingerprint;
    disjoint documents share none (overwhelmingly)."""
    from biokg_spark.operators.dedup import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, f"prefix one {shared} suffix alpha"),
            (2, f"other start {shared} different end"),
            (3, "zzz completely unrelated content qqq www"),
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs, "text", "doc_id", k=5, window=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared substring produced no common fingerprint"
    assert not (by_doc[1] & by_doc[3])


def test_lang_id_ngram_profiles(spark):
    from biokg_spark.functions.text import lang_id_ngram

    df = spark.createDataFrame(
        [
            (1, "the thing and the other thing of note"),
            (2, "ich und der einem schnell dichter gen"),
            (3, "les fleurs de la saison que nous aimons"),
            (4, "zzz qqq www"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.lang for r in df.select(
        "doc_id", lang_id_ngram("text").alias("lang")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "xx"}


def test_hot_shingle_guard_bounds_boilerplate_blowup(spark):
    """A boilerplate prefix shared by EVERY doc must not pair everything
    with everything: with the doc-frequency cutoff the boilerplate
    shingles drop out and only genuinely-similar docs pair."""
    from biokg_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "subscribe to our newsletter terms of service apply "
    docs = [(i, boiler + f"unique payload number {i} " + "x" * 5) for i in range(40)]
    docs += [(100, boiler + "identical tail content here"),
             (101, boiler + "identical tail content here")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    unguarded = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5)
    guarded = ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=0.5, max_doc_freq=10
    )
    got = {(r.id_a, r.id_b) for r in guarded.collect()}
    # the true near-dup pair survives; boilerplate-only pairs are gone
    assert (100, 101) in got
    assert all(a >= 100 for a, _b in got), got
    # unguarded finds the same pair but pays the quadratic candidate cost
    assert (100, 101) in {(r.id_a, r.id_b) for r in unguarded.collect()}


def test_hot_bucket_guard_lsh(spark):
    """Identical boilerplate docs all share every band bucket; the cap
    drops those buckets wholesale while distinct content still pairs."""
    from biokg_spark.operators.dedup import minhash_lsh_candidates

    docs = [(i, "exact same boilerplate page content") for i in range(30)]
    docs += [(100, "a very specific rare document body"),
             (101, "a very specific rare document body")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(
            df, "text", "doc_id", max_bucket_size=10
        ).collect()
    }
    assert got == {(100, 101)}


def test_hot_bucket_guard_embedding(spark):
    from biokg_spark.operators.dedup import embedding_near_dup_pairs

    rows = [(i, [0.001 * (1 + i % 2), 0.001, 0.001, 0.001]) for i in range(30)]
    rows += [(100, [-1.0, -2.0, -3.0, -4.0]), (101, [-1.0, -2.0, -3.0, -4.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(
            df, threshold=0.999, max_bucket_size=10
        ).collect()
    }
    assert got == {(100, 101)}


def test_chunk_dup_stats(spark):
    from biokg_spark.operators.dedup import chunk_dup_stats

    # chunk_tokens=3: doc 1 = [a b c][d e f][g], doc 2 shares the "a b c"
    # and "d e f" chunks; doc 3 repeats "a b c" WITHIN itself; doc 4 is
    # unique; doc 5 is shorter than one chunk (single short chunk).
    rows = [
        (1, "a b c d e f g"),
        (2, "a b c d e f"),
        (3, "a b c a b c"),
        (4, "x y z w v u"),
        (5, "p q"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.n_chunks, r.n_dup_chunks)
        for r in chunk_dup_stats(df, "text", "doc_id", chunk_tokens=3).collect()
    }
    assert out[1] == (3, 2)  # "a b c", "d e f" dup; tail "g" unique
    assert out[2] == (2, 2)
    assert out[3] == (2, 2)  # within-doc repeat counts as dup
    assert out[4] == (2, 0)
    assert out[5] == (1, 0)


def test_repetition_columns(spark):
    import pyspark.sql.functions as F

    from biokg_spark.functions.text import (
        distinct_token_count,
        token_count,
        trigram_dup_count,
    )

    rows = [
        (1, "a b c a b c a b c"),  # trigram "a b c" x3 (+ rotations)
        (2, "one two three four"),  # no repeats
        (3, "x y"),                 # under 3 tokens -> 0, not a crash
        (4, ""),                    # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.n, r.d, r.t)
        for r in df.select(
            "doc_id",
            token_count("text").alias("n"),
            distinct_token_count("text").alias("d"),
            trigram_dup_count("text").alias("t"),
        ).collect()
    }
    # 9 tokens, 3 distinct; 7 trigrams but only 3 distinct -> 4 dups
    assert out[1] == (9, 3, 4)
    assert out[2] == (4, 4, 0)
    assert out[3] == (2, 2, 0)
    # empty text: 0 tokens AND 0 distinct tokens (a 1 here would make the
    # type/token ratio 1/0 on empty docs — ADVICE r3)
    assert out[4] == (0, 0, 0)


def test_corpus_filter_reason_ordering(spark):
    """exact_dup wins over every other reason; too_short before
    repetitive; survivor of a dup group is the min doc_id."""
    import os
    import tempfile

    from biokg_spark.queries import REGISTRY

    rows = [
        (1, "the cat sat on mat with dog near bird today fine"),
        (2, "the cat sat on mat with dog near bird today fine"),  # dup of 1
        (3, "tiny short"),                                   # too_short
        (4, "spam spam spam spam spam spam spam the is"),    # repetitive
        (5, "zork blee qux vamp gren plox trid nuvo karn selt"),  # non_english
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {r.doc_id: (r.reason, r.keep)
               for r in REGISTRY["corpus_filter"][0](spark, d).collect()}
    assert out[1] == ("keep", True)
    assert out[2] == ("exact_dup", False)
    assert out[3] == ("too_short", False)
    assert out[4] == ("repetitive", False)
    assert out[5] == ("non_english", False)


def test_line_dedup_drops_boilerplate_keeps_order(spark):
    from biokg_spark.operators.dedup import line_dedup

    boiler = "subscribe now"
    rows = [
        (1, f"{boiler}\nalpha one\nbravo two"),
        (2, f"{boiler}\ncharlie three\ndelta four"),
        (3, f"{boiler}\necho five"),
        (4, boiler),  # all-boilerplate doc survives with empty text
        (5, "unique doc\nwith two lines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in line_dedup(df, "text", "doc_id", max_doc_freq=2).collect()}
    assert got[1].text == "alpha one\nbravo two" and got[1].n_lines == 3
    assert got[2].text == "charlie three\ndelta four" and got[2].n_kept == 2
    assert got[3].text == "echo five"
    assert got[4].text == "" and got[4].n_kept == 0 and got[4].n_lines == 1
    assert got[5].text == "unique doc\nwith two lines" and got[5].n_kept == 2


# ---------------------------------------------------------------------------
# slice_overlap: corpus-slice MinHash Jaccard matrix
# ---------------------------------------------------------------------------


def _slice_docs(spark, slices):
    # slices: {name: [texts]}
    rows, i = [], 0
    for name, texts in slices.items():
        for t in texts:
            rows.append((i, name, t))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_slice_overlap_identical_and_disjoint(spark):
    from biokg_spark.operators.dedup import slice_overlap

    shared = ["alpha beta gamma delta epsilon zeta eta theta"]
    other = ["one two three four five six seven eight nine ten"]
    df = _slice_docs(spark, {"a": shared, "b": shared, "c": other})
    got = {
        (r.slice_a, r.slice_b): (r.n_match, r.n_seeds, r.jaccard_bp)
        for r in slice_overlap(df, "source", "text", num_hashes=16).collect()
    }
    # identical shingle sets: every seed's min agrees
    assert got[("a", "b")] == (16, 16, 10000)
    # disjoint shingle sets: (vanishingly unlikely) hash collisions aside
    assert got[("a", "c")][0] <= 1
    assert got[("b", "c")][0] <= 1
    assert len(got) == 3  # unordered pairs only


def test_slice_overlap_partial_tracks_jaccard(spark):
    from biokg_spark.operators.dedup import slice_overlap

    words = [f"w{i}" for i in range(400)]
    half = " ".join(words[:300])          # shingles from words 0..299
    other_half = " ".join(words[100:400])  # shingles from words 100..399
    df = _slice_docs(spark, {"a": [half], "b": [other_half]})
    (row,) = slice_overlap(df, "source", "text", num_hashes=64).collect()
    # true shingle Jaccard ~ (200-ish shared)/(400-ish union) ~ 0.33;
    # 64 seeds => stderr ~ 0.06, assert a wide band
    est = row.n_match / row.n_seeds
    assert 0.15 < est < 0.55
    assert row.jaccard_bp == int(row.n_match * 10000 / 64)


def test_delta_dedup_statuses(spark):
    from biokg_spark.operators.dedup import delta_dedup

    corpus = spark.createDataFrame(
        [(0, "hello world"), (2, "other text")], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [
            (11, "Hello   WORLD"),   # normalizes to a corpus doc
            (13, "fresh content"),
            (15, "fresh  CONTENT"),  # within-shard dup of 13
            (17, "unique thing"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in delta_dedup(corpus, delta, "text", "doc_id").collect()}
    assert got == {11: "dup_corpus", 13: "keep", 15: "dup_delta", 17: "keep"}


def test_delta_dedup_corpus_outranks_shard(spark):
    from biokg_spark.operators.dedup import delta_dedup

    corpus = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    delta = spark.createDataFrame(
        [(1, "a b c"), (2, "a  b  c")], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in delta_dedup(corpus, delta, "text", "doc_id").collect()}
    # both shard copies exist in the corpus: neither is 'keep' or 'dup_delta'
    assert got == {1: "dup_corpus", 2: "dup_corpus"}


def test_dup_span_intervals_planted(spark):
    from biokg_spark.operators.dedup import dup_span_intervals

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 toks
    rows = [
        # shared phrase at token offset 2 in doc 1, offset 0 in doc 2
        (1, "alpha beta " + shared + " gamma delta epsilon zeta eta"),
        (2, shared + " one two three four five six seven"),
        # no 8-gram shared with anything
        (3, "completely different words that never repeat anywhere else ok"),
        # too short to produce any 8-gram
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id): (r.span_start, r.span_end, r.n_dup_grams)
        for r in dup_span_intervals(df, "text", "doc_id", width=8).collect()
    }
    # shared 10-gram => 3 duplicated 8-gram positions, merged into ONE
    # interval of exactly the shared tokens: doc1 [2, 12), doc2 [0, 10)
    assert got == {1: (2, 12, 3), 2: (0, 10, 3)}


def test_dup_span_intervals_merges_adjacent_and_splits_gaps(spark):
    from biokg_spark.operators.dedup import dup_span_intervals

    a = "a1 a2 a3 a4 a5 a6 a7 a8"       # 8 toks - one gram
    b = "b1 b2 b3 b4 b5 b6 b7 b8"
    rows = [
        # two duplicated grams separated by 20 unique tokens -> 2 spans
        (1, a + " " + " ".join(f"x{i}" for i in range(20)) + " " + b),
        (2, a + " mid " + b),
        # within-doc repetition alone also counts (occ >= 2 corpus-wide)
        (3, a + " " + a),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dup_span_intervals(df, "text", "doc_id", width=8).collect()
    spans = {}
    for r in out:
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for v in spans.values():
        v.sort()
    assert spans[1] == [(0, 8), (28, 36)]
    assert spans[2] == [(0, 8), (9, 17)]
    # doc 3 = "a...a a...a": every 8-window of the 16 tokens repeats
    # (it equals the window 8 positions later or earlier), so the whole
    # doc merges into one interval [0, 16)
    assert spans[3] == [(0, 16)]


def test_excise_spans_planted(spark):
    from biokg_spark.operators.dedup import dup_span_intervals, excise_spans

    rows = [
        (1, "a b c d e f g h i j"),   # shares [0,8) with doc 2
        (2, "a b c d e f g h x y"),
        (3, "u v w totally unique words here now"),  # no spans
        (4, "a b c d e f g h"),       # fully covered -> empty rewrite
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dup_span_intervals(df, "text", "doc_id", width=8)
    out = excise_spans(df, spans, "text", "doc_id")
    got = {r.doc_id: (r.clean_text, r.n_kept, r.n_removed) for r in out.collect()}
    assert got[1] == ("i j", 2, 8)
    assert got[2] == ("x y", 2, 8)
    assert got[3] == ("u v w totally unique words here now", 8, 0)
    assert got[4] == ("", 0, 8)
    # the filter/exists chain must be let-bound: evaluated once, not
    # re-inlined per output column (clean_text/n_kept/n_removed)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE's string repeats the plan under "== Initial Plan =="; count
    # only the final section
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("exists(") == 1


def test_blocking_metrics_hand_computed(spark):
    from biokg_spark.operators.dedup import blocking_metrics

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 6)], "doc_id long, text string"
    )  # n=5 -> C(5,2)=10
    cand = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    truth = spark.createDataFrame(
        [(1, 2), (3, 4)], "id_a long, id_b long"
    )
    r = blocking_metrics(docs, cand, truth, "doc_id").collect()[0]
    assert (r.n_docs, r.total_pairs, r.n_candidates, r.n_truth, r.n_matched) == (
        5, 10, 3, 2, 1,
    )
    assert r.pair_completeness == 0.5   # 1 of 2 truth pairs blocked together
    assert r.reduction_ratio == 0.7     # 1 - 3/10


def test_blocking_metrics_no_truth(spark):
    from biokg_spark.operators.dedup import blocking_metrics

    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    empty = spark.createDataFrame([], "id_a long, id_b long")
    r = blocking_metrics(docs, empty, empty, "doc_id").collect()[0]
    assert r.pair_completeness is None and r.n_matched == 0


def test_containment_catches_truncated_twin_jaccard_misses(spark):
    from biokg_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    full = " ".join(f"w{i}" for i in range(40))
    head = " ".join(f"w{i}" for i in range(10))  # 25% prefix of full
    df = spark.createDataFrame(
        [(1, full), (2, head), (3, "totally different text entirely")],
        "doc_id long, text string",
    )
    cont = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(
            df, "text", "doc_id", width=3, threshold=0.8
        ).collect()
    }
    # the truncated copy's shingles (8 of them) are ALL inside full's 38
    assert cont[(2, 1)] == 1.0
    assert (1, 2) not in cont  # full is NOT contained in its prefix
    jac = ngram_jaccard_pairs(df, "text", "doc_id", width=3, threshold=0.5)
    # Jaccard = 8/38 ~ 0.21: below any near-dup threshold
    assert jac.count() == 0


def test_embedding_pair_stage_spreads_over_every_core(
    spark, tmp_path, busiest_stage_tasks
):
    """A one-file input must not pack the quadratic pair stage into one
    task (AQE sizes partitions by input bytes, not by pair work), and
    the pair output still lands in one parquet file."""
    import glob

    from biokg_spark.operators.dedup import embedding_near_dup_pairs

    # one sign bucket (first four components positive): ~80k candidates
    rows = [
        (i, [1.0 + (i * 7 + j * 13) % 29 for j in range(16)]) for i in range(400)
    ]
    rows += [(1000 + i, rows[i][1]) for i in range(5)]  # planted copies
    src = str(tmp_path / "emb")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(
        1
    ).write.parquet(src)
    df = spark.read.parquet(src)
    assert df.rdd.getNumPartitions() == 1
    out = str(tmp_path / "pairs")
    tasks = busiest_stage_tasks(
        lambda: embedding_near_dup_pairs(df, threshold=0.999).write.parquet(out)
    )
    assert tasks >= spark.sparkContext.defaultParallelism
    assert len(glob.glob(f"{out}/*.parquet")) == 1
    got = {(r.id_a, r.id_b) for r in spark.read.parquet(out).collect()}
    assert {(i, 1000 + i) for i in range(5)} <= got
