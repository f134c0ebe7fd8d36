"""Driver-contract self-check: every queries() entry vs its DuckDB oracle.

Mimics the driver's comparison at sf=0.01: row count, column names, and an
order-insensitive value comparison (columns sorted by name, rows sorted,
floats rounded in the queries themselves).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(SF_DIR, t + '.parquet')}'"
        )
    yield con
    con.close()


def _normalize(df):
    """pandas frame -> sorted list of tuples with floats rounded."""
    df = df[sorted(df.columns)]

    def norm(v):
        if v is None:
            return None
        if isinstance(v, float):
            if math.isnan(v):
                return None
            return round(v, 4)
        return v

    rows = [tuple(norm(v) for v in row) for row in df.itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


QUERY_NAMES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, ddb, name):
    fn = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    sdf = fn(spark, SF_DIR).toPandas()
    assert len(sdf) > 0, f"{name}: empty result"
    if sql is None:
        return  # rows-only check, like the driver's weaker path
    odf = ddb.execute(sql).df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: columns {sorted(sdf.columns)} vs oracle {sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"{name}: rows {len(sdf)} vs oracle {len(odf)}"
    a, b = _normalize(sdf), _normalize(odf)
    mismatch = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
    assert a == b, f"{name}: first mismatches {[(a[i], b[i]) for i in mismatch]}"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == ["subj", "pred", "obj"]


def test_registry_refuses_a_repeated_name():
    """A second ``@q`` under a taken name would silently replace the first
    definition, whose body and oracle would then never run (no Spark)."""
    from biokg_spark.queries import REGISTRY, q

    taken = QUERY_NAMES[0]
    before = REGISTRY[taken]
    with pytest.raises(ValueError, match="defined twice"):
        q(taken, None)
    assert REGISTRY[taken] is before


def test_oracle_sql_matches_recorded_fingerprints():
    """Every ``oracle_sql()`` text hashes to its recorded md5 in
    scripts/oracle_fp_round_start.json, and every recorded query is
    registered (no Spark): factoring the SQL may not change a byte."""
    import hashlib
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "scripts", "oracle_fp_round_start.json")) as fh:
        ref = json.load(fh)
    cur = {
        k: hashlib.md5(v.encode()).hexdigest()
        for k, v in entry_mod.oracle_sql().items()
    }
    assert cur == ref["fp"]
    assert sorted(ref["fp"]) == QUERY_NAMES
    assert len(QUERY_NAMES) == ref["n_queries"] == 147
