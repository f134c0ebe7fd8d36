"""Literal dimension tables as LocalTableScan relations.

``spark.createDataFrame(local_list)`` plans as a pickled-RDD scan with
``defaultParallelism`` slices, so every broadcast build, collect, or join
against the dim launches a 32-task job (measured: 0.34 s warm, ~1.5 s on
first use, vs 0.01 s for the VALUES form). A literal ``VALUES`` relation
plans as ``LocalTableScan``: broadcast builds and collects are
driver-local with ZERO tasks, and the rows inline into the plan the same
way on a real cluster (a dim shipped inside the plan, not an RDD).

Literal dims sit under ~20 registry queries (lexicons, contract tables,
templates, retrieval query sets, sketch lookup tables, the link-predicate
type dim under every co-occurrence query), so this removes one
fixed-cost job from each (guide §1.2 step 1: job-count, before config).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float):
        if math.isfinite(v):
            # a D-suffixed double literal: a bare 1.5 parses as a decimal,
            # which drops the sign of -0.0
            return repr(v) + "D"
        # repr gives nan/inf, which Spark SQL parses as column names
        special = "NaN" if math.isnan(v) else ("Infinity" if v > 0 else "-Infinity")
        return f"CAST('{special}' AS DOUBLE)"
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(_sql_lit(x) for x in v) + ")"
    # Spark SQL string literals process backslash escapes: escape the
    # backslash itself first, then double the quote
    return "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'"


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Build a LocalTableScan DataFrame from literal ``rows``.

    ``schema`` is a comma-separated DDL string of ``name type`` pairs;
    types are pinned with explicit CASTs so the result matches the
    ``createDataFrame`` schema it replaces. Nested commas in types
    (``decimal(10,2)``, ``map<...>``) are NOT supported — only simple
    types and ``array<primitive>``.
    """
    parts, depth, cur = [], 0, []
    for ch in schema:
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            continue
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        cur.append(ch)
    parts.append("".join(cur))
    fields = [p.strip().split(None, 1) for p in parts]
    cols = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in fields)
    names = ", ".join(n for n, _t in fields)
    rows = list(rows)
    if not rows:
        # VALUES needs at least one tuple: emit one all-NULL row and
        # filter it out (still a LocalTableScan after optimization)
        nulls = ",".join("NULL" for _ in fields)
        return spark.sql(
            f"SELECT {cols} FROM (VALUES ({nulls})) AS _t({names}) WHERE 1=0"
        )
    vals = ",".join(
        "(" + ",".join(_sql_lit(v) for v in row) + ")" for row in rows
    )
    return spark.sql(f"SELECT {cols} FROM (VALUES {vals}) AS _t({names})")
