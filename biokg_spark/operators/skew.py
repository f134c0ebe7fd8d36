"""Skew-mitigation helpers: explicit key salting for fact-fact joins.

The reference never needed this (single machine, in-memory dicts), but the
north rule calls out skewed high-frequency entities — e.g. a hot entity
appearing in a large fraction of turns makes the mention×candidate join
key pathological. AQE skew-join splitting
(``spark.sql.adaptive.skewJoin.enabled``, on by default in session.py)
handles shuffle skew after the fact; ``salt_join`` prevents it up front by
fanning one hot key into ``n_salts`` synthetic keys and replicating the
smaller side to match. ``drop_hot_keys`` is the other answer, for the
self-joins of the near-duplicate and inference operators: a key too hot
to pair is dropped before the join (block purging).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def drop_hot_keys(df: DataFrame, keys: list[str], cap: int | None) -> DataFrame:
    """Rows of ``df`` whose ``keys`` value has at most ``cap`` rows.

    The block-purging guard in front of a self-join on ``keys``: a key
    with n rows expands to ~n²/2 join rows, so one boilerplate shingle,
    hot LSH bucket or hub node makes the join quadratic. Such keys carry
    no discriminative signal and are dropped wholesale. One count
    aggregate plus a ``left_semi`` join; ``cap=None`` returns ``df``
    unchanged (no plan node added).
    """
    if cap is None:
        return df
    ok = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") <= cap)
        .select(*keys)
    )
    return df.join(ok, keys, "left_semi")


def salt_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Inner/left join ``left⋈right on key`` with salted key distribution.

    The big (skewed) side gets ``salt = pmod(hash(all cols), n)``; the
    small side is exploded ×``n_salts`` so every salted partition finds its
    match. Correct for 1:N joins where ``right`` is the N=1 side per key.
    """
    salted_left = left.withColumn(
        "_salt", F.pmod(F.hash(*left.columns), F.lit(n_salts)).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    salted_right = right.withColumn("_salt", salts)
    out = salted_left.join(salted_right, on=[on, "_salt"], how=how)
    return out.drop("_salt")


def salted_collect_set(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    out_col: str = "values",
    n_salts: int = 32,
) -> DataFrame:
    """Distinct-set aggregation that survives hot keys.

    A plain ``groupBy(keys).agg(collect_set(v))`` funnels every partial set
    of a hot key into ONE reducer whose set grows unbounded (a
    high-frequency entity mentioned in a large share of turns → millions of
    refs on one task). Two phases fix the merge-side skew: phase 1 groups by
    ``(keys, salt(v))`` so each reducer builds at most ``1/n_salts`` of a
    hot key's set; phase 2 merges ``n_salts`` pre-deduped arrays per key.
    Output: one row per key group with a sorted distinct ``out_col`` array.
    """
    partial = (
        df.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(value_col)), F.lit(n_salts)).cast("int")
        )
        .groupBy(*keys, "_salt")
        .agg(F.collect_set(value_col).alias("_part"))
    )
    return partial.groupBy(*keys).agg(
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("_part")))).alias(out_col)
    )


def skew_profile(
    df: DataFrame,
    key_cols: list[str],
    top_k: int = 5,
) -> DataFrame:
    """Key-distribution diagnostic: per candidate join/agg key, the
    heavy hitters and how pathological they are.

    The measurement that DECIDES between this module's mitigations
    (``salt_join`` / ``salted_collect_set``), AQE skew-join, and doing
    nothing: for each column in ``key_cols``, the ``top_k`` most
    frequent values with their absolute count, corpus share, and skew
    factor (count / mean-per-key — 1.0 is perfectly uniform; a key that
    a 1000-executor shuffle would serialize shows up as skew ≈ the
    partition-count it starves). One row per (key_col, rank).

    Shapes per column: ONE partial+final HashAggregate down to the
    distinct-key frame; the rank window plans as TakeOrderedAndProject
    (top_k rows pruned per map partition BEFORE the single reducer —
    the orderBy().limit() shape, never a full-table single-partition
    sort); then the 1-row scalar aggregate broadcast-crosses back onto
    those top_k rows (the BM25/TF-IDF in-plan-scalar pattern — a
    deliberate tiny cross, allowlisted in scripts/audit_plans.py). Key
    values are cast to string so heterogeneous columns union into one
    report.
    """
    from functools import reduce

    from pyspark.sql import Window

    outs = []
    for c in key_cols:
        counts = (
            df.select(F.col(c).cast("string").alias("key"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        scalars = counts.agg(
            F.sum("cnt").cast("double").alias("_total"),
            F.count(F.lit(1)).alias("_n_keys"),
        )
        w = Window.partitionBy(F.lit(1)).orderBy(F.desc("cnt"), F.asc("key"))
        ranked = (
            counts.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
            .crossJoin(F.broadcast(scalars))
        )
        outs.append(
            ranked.select(
                F.lit(c).alias("key_col"),
                "key",
                "cnt",
                F.round(F.col("cnt") / F.col("_total"), 4).alias("share"),
                F.round(
                    F.col("cnt") / (F.col("_total") / F.col("_n_keys")), 4
                ).alias("skew"),
                "rank",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def skew_profile_oracle_sql(
    source_cte: str,
    source_name: str,
    key_cols: list[str],
    top_k: int = 5,
) -> str:
    """ANSI-SQL twin of :func:`skew_profile`. ``source_cte`` defines
    ``{source_name}``; one counts+window block per key column, UNION
    ALL'd. Emits (key_col, key, cnt, share, skew, rank)."""
    blocks = []
    for c in key_cols:
        blocks.append(f"""
    SELECT key_col, key, cnt,
           round(cnt / total, 4) AS share,
           round(cnt / (total / n_keys), 4) AS skew,
           rank
    FROM (
      SELECT '{c}' AS key_col, key, cnt,
             row_number() OVER (ORDER BY cnt DESC, key ASC) AS rank,
             CAST(sum(cnt) OVER () AS DOUBLE) AS total,
             count(*) OVER () AS n_keys
      FROM (SELECT CAST({c} AS VARCHAR) AS key, count(*) AS cnt
            FROM {source_name} GROUP BY {c}))
    WHERE rank <= {top_k}""")
    return f"WITH {source_cte}\n" + "\nUNION ALL\n".join(blocks)
