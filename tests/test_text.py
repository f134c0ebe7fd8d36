"""Direct unit tests for deterministic split Columns
(functions/text.py) — fractions, determinism, run stability."""

from __future__ import annotations

from pyspark.sql import functions as F

from biokg_spark.functions.text import split_assign


def _docs(spark, n=400):
    rows = [(i, ["en", "zh", "de"][i % 3]) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_split_assign_fractions_and_determinism(spark):
    df = _docs(spark, 1000)
    out = df.select(
        "doc_id", split_assign("doc_id", {"train": 0.8, "val": 0.1}).alias("s")
    )
    counts = {r.s: r.n for r in out.groupBy("s").agg(F.count("*").alias("n")).collect()}
    # hash split is exact in expectation, loose at n=1000
    assert 700 < counts["train"] < 900
    assert 50 < counts["val"] < 160
    assert counts.get(None, 0) + counts["train"] + counts["val"] == 1000
    again = df.select(split_assign("doc_id", {"train": 0.8, "val": 0.1}).alias("s"))
    assert out.select("s").collect() == again.collect()


def test_pii_scrub_types_and_order(spark):
    """Each PII type is replaced by its typed token; the sequential
    masking order means the generic phone pattern never eats an SSN's
    or an IP's digits."""
    from biokg_spark.functions.text import pii_counts, pii_scrub

    rows = [
        (1, "write to a.b+c@example.org or x@y.io now"),
        (2, "ssn 123-45-6789 stays an ssn not a phone"),
        (3, "host 10.0.0.1 is not a phone either"),
        (4, "call +1 555-0142-7788 or 555 123 4567 x"),
        (5, "clean text with numbers 42 and 7 only"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: r
        for r in df.select(
            "id", pii_scrub("text").alias("t"), *pii_counts("text")
        ).collect()
    }
    assert got[1].t == "write to <EMAIL> or <EMAIL> now"
    assert got[1].n_email == 2 and got[1].n_phone == 0
    assert got[2].t == "ssn <SSN> stays an ssn not a phone"
    assert got[2].n_ssn == 1 and got[2].n_phone == 0
    assert got[3].t == "host <IP> is not a phone either"
    assert got[3].n_ipv4 == 1 and got[3].n_phone == 0
    assert got[4].n_phone == 2 and "<PHONE>" in got[4].t
    assert got[5].t == rows[4][1]
    assert (got[5].n_email, got[5].n_ssn, got[5].n_ipv4, got[5].n_phone) == (0, 0, 0, 0)
