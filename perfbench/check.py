"""Output checks: every op's output against an independent oracle.

- Pipeline ops: ``tests/oracle_kg.expected_outputs`` (a pure-Python
  implementation of the same contract) on the same input rows, compared
  order-insensitively on ``links``, ``quads`` and ``links_prov`` as
  ``scripts/single_node_compare.py`` does.
- Query ops: each query's parquet sink against its ``REGISTRY`` oracle SQL
  in DuckDB, normalized as ``tests/test_entry_oracle.py`` does (columns
  sorted by name, rows sorted, floats at 4 dp).
"""

from __future__ import annotations

import decimal
import json
import math
import os

import numpy as np


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    # numbers compare by value: an int column on one side can be a float
    # column on the other (a nullable int read through pandas)
    if isinstance(v, (int, float, np.integer, np.floating, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else round(f, 4)
    return str(v)


def normalize(df) -> dict:
    """pandas frame -> {"columns": sorted names, "rows": sorted rows}."""
    cols = sorted(df.columns)
    rows = [
        [_norm(v) for v in row]
        for row in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return {"columns": cols, "rows": rows}


def query_oracles(sf_dir: str, names: list[str], cache_path: str) -> dict:
    """Normalized DuckDB oracle result per query, read from
    ``cache_path`` when present, else computed and written there."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    import duckdb

    from biokg_spark.queries import REGISTRY

    # DuckDB spills beside the cache file, not into ./.tmp
    con = duckdb.connect(config={"temp_directory": cache_path + ".spill"})
    try:
        for fn in sorted(os.listdir(sf_dir)):
            if fn.endswith(".parquet"):
                path = os.path.join(sf_dir, fn)
                con.execute(f"CREATE VIEW {fn[:-8]} AS SELECT * FROM '{path}'")
        out = {n: normalize(con.execute(REGISTRY[n][1]).df()) for n in names}
    finally:
        con.close()
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, cache_path)
    return out


def check_query_sink(sink_dir: str, expected: dict) -> str | None:
    """None when the sink matches the oracle, else a one-line reason."""
    import pyarrow.parquet as pq

    got = normalize(pq.read_table(sink_dir).to_pandas())
    if got["columns"] != expected["columns"]:
        return f"columns {got['columns']} != oracle {expected['columns']}"
    if len(got["rows"]) != len(expected["rows"]):
        return f"rows {len(got['rows'])} != oracle {len(expected['rows'])}"
    a, b = got["rows"], expected["rows"]
    if a != b:
        i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"first mismatch {a[i]} != oracle {b[i]}"
    return None


def pipeline_oracle(tx, lex, mapping, onto) -> dict[str, set]:
    """Expected ``links``/``quads``/``links_prov`` sets for one input."""
    from tests.oracle_kg import expected_outputs

    rows = [r.asDict() for r in tx.collect()]
    exp = expected_outputs(
        rows,
        [tuple(r) for r in lex.collect()],
        [tuple(r) for r in mapping.collect()],
        [tuple(r) for r in onto.collect()],
    )
    return {k: exp[k] for k in ("links", "quads", "links_prov")}


def check_pipeline(out: dict, expected: dict[str, set]) -> str | None:
    got = {
        "links": {(r.subj, r.pred, r.obj) for r in out["links"].collect()},
        "quads": {(r.subj, r.pred, r.obj, r.qual) for r in out["quads"].collect()},
        "links_prov": {
            (r.subj, r.pred, r.obj, r.n_support, r.n_convs, r.first_seen, r.last_seen)
            for r in out["links_prov"].collect()
        },
    }
    for name, want in expected.items():
        if got[name] != want:
            return (
                f"{name}: {len(got[name] - want)} unexpected, "
                f"{len(want - got[name])} missing of {len(want)}"
            )
    return None
