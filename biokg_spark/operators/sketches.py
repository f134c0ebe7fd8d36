"""Deterministic HyperLogLog distinct-count sketches.

The bounded-memory form of count-distinct for 10^12-row rollups: exact
``count_distinct`` shuffles every distinct value; ``approx_count_distinct``
is bounded but neither engine-portable nor an artifact you can store and
merge. This HLL is both — registers are (key, bucket, max_rho) rows
derived from the SAME md5-prefix hash family the rest of the engine uses
(walks.py:70 idiom), so:

- the register table is MERGEABLE (max per bucket) across shards, days,
  and incremental batches — exact count-distinct can only merge by
  carrying the per-key distinct set; HLL bounds that state at m rows per
  key, which is what survives when the per-key distinct set itself is
  10^9;
- every step is engine-deterministic: the hash is a 60-bit md5 prefix,
  rho comes from the binary-string length (no float log), the register
  sum is an exact INTEGER aggregate (2^(k+1-rho) terms — order-free),
  and the only floats are one fixed-shape scalar expression per key, so
  DuckDB reproduces the estimate bit-for-bit and the registry oracles it.

Estimator: Flajolet-Fuchs-Gandouet-Meunier 2007 (the HyperLogLog paper):
E = alpha_m * m^2 / sum_j 2^(-M_j), with linear counting m*ln(m/V) when
E <= 2.5m and V (empty buckets) > 0. The 60-bit hash makes the paper's
large-range collision correction unnecessary at any realistic scale.

The linear-counting ln is the one place a naive build would call libm —
and Java and DuckDB genuinely disagree there (measured: ln(64/21)
differs in the last ulp between Spark and DuckDB). But the branch's
input is just V, an integer in [1, m-1] — finitely many values — so the
LC estimates are PRECOMPUTED in Python and shipped as a tiny broadcast
dim (not a CASE chain — a measured Catalyst hazard), with the identical
double literals inlined in the oracle SQL. No libm call in either
engine; bit-exact by construction.

Plan shape at 100 TB: ONE map-side-partial HashAggregate collapses the
data to (keys x m) register rows; the estimate is a second tiny
aggregate. Nothing is value-distinct-sized after the first partial —
the whole point vs exact count_distinct, whose partial buffers hold the
distinct set itself.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _lc_table(m: int) -> list[tuple[int, float]]:
    """Linear-counting estimates m*ln(m/V) for every V in [1, m-1],
    precomputed once in Python — the shared source of truth for the
    Spark broadcast dim AND the oracle's inlined literals (shortest
    float repr round-trips to the identical double in both engines)."""
    return [(v, m * math.log(m / v)) for v in range(1, m)]


def _sql_double(x: float) -> str:
    """Shortest repr as a DOUBLE-typed SQL literal: e-suffixed so
    DuckDB parses it directly as DOUBLE (a bare decimal is typed
    DECIMAL, and even ``::DOUBLE`` casts through the decimal, losing
    low bits)."""
    r = repr(float(x))
    return r if "e" in r or "E" in r else r + "e0"


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def _hash60(value: Column) -> Column:
    """60-bit md5-prefix hash as LONG — the engine's portable hash
    family (DuckDB: ``('0x' || substr(md5(x), 1, 15))::BIGINT``)."""
    return F.conv(
        F.substring(F.md5(value.cast("string")), 1, 15), 16, 10
    ).cast("long")


def hll_registers(
    df: DataFrame, keys: list[str], value_col: str, b: int = 6
) -> DataFrame:
    """HLL register table per key: (*keys, bucket, r).

    ``bucket`` = top ``b`` hash bits; ``r`` = 1-based position of the
    first 1-bit in the remaining k = 60-b bits (k+1 when they are all
    zero), computed as ``k + 1 - length(bin(rest))`` — the binary-string
    length IS floor(log2)+1 exactly, no float log. One partial+final
    HashAggregate; max-merge buffers are LONGs, never SortAggregate.
    """
    assert 4 <= b <= 16
    k = 60 - b
    h = _hash60(F.col(value_col))
    bucket = F.shiftright(h, k).alias("bucket")
    rest = h.bitwiseAND(F.lit((1 << k) - 1))
    rho = F.when(rest == 0, F.lit(k + 1)).otherwise(
        F.lit(k + 1) - F.length(F.bin(rest))
    )
    return (
        df.select(*keys, bucket, rho.alias("_rho"))
        .groupBy(*keys, "bucket")
        .agg(F.max("_rho").alias("r"))
    )


def hll_merge(registers: DataFrame, keys: list[str]) -> DataFrame:
    """Merge register tables (shards / days / streaming increments):
    max per (keys, bucket). Union the inputs first; this is the whole
    merge — the property that makes the sketch an incremental artifact."""
    return registers.groupBy(*keys, "bucket").agg(F.max("r").alias("r"))


def hll_estimate(
    registers: DataFrame, keys: list[str], b: int = 6
) -> DataFrame:
    """Distinct-count estimate per key from a register table:
    (*keys, n_buckets, v_zero, est_distinct).

    The register sum is the exact INTEGER Σ 2^(k+1-r) (summation-order
    free; ≤ m·2^k < 2^63), divided down to Σ 2^(-r) by one
    deterministic bigint→double cast, so the estimate is engine-exact.
    Linear counting (m·ln(m/V)) replaces the raw estimate in the small
    range per the HLL paper — via the precomputed broadcast dim, not a
    libm call (see module docstring; Java vs DuckDB ln genuinely
    diverges by a ulp on some arguments).
    """
    m = 1 << b
    k = 60 - b
    per = registers.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_present"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {k + 1} - r)")).alias(
            "_sum_int"
        ),
    )
    spark = registers.sparkSession
    from biokg_spark.functions.dims import local_df

    lc = F.broadcast(
        local_df(spark, _lc_table(m), "_vz int, _lc_est double")
    )
    v = F.lit(m) - F.col("_present")
    per = per.join(lc, v.cast("int") == F.col("_vz"), "left")
    z = F.col("_sum_int") / F.lit(float(1 << (k + 1))) + v
    e_raw = F.lit(_alpha(m) * m * m) / z
    est = F.when((v > 0) & (e_raw <= 2.5 * m), F.col("_lc_est")).otherwise(
        e_raw
    )
    return per.select(
        *keys,
        F.col("_present").cast("long").alias("n_buckets"),
        v.cast("long").alias("v_zero"),
        F.round(est, 4).alias("est_distinct"),
    )


def cm_registers(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min sketch registers per key: (*keys, row, col, cnt) — the
    frequency sibling of the HLL distinct sketch (Cormode-Muthukrishnan
    2005): bounded-memory per-item frequency estimation where the exact
    per-value count table is itself too big to keep (per-shard token
    frequencies, per-day entity mention rates at 10^12 rows).

    Row i hashes the value with seed i (the engine's md5-prefix family)
    into ``width`` columns; the register is the collision-pooled COUNT.
    Estimates read min over the d probed cells — always ≥ the true
    count (one-sided error ≤ e·N/width with prob 1-(1/2)^depth).

    Everything is INTEGER: increments are counts, merge is SUM per
    cell, estimate is MIN — bit-exact across engines and
    summation-order-free by construction (no float anywhere).

    Plan shape: one ×depth explode (a constant fan-out, not data-
    dependent) + ONE map-side-partial HashAggregate down to the
    (keys × depth × width) register table. Nothing downstream is
    data-sized.
    """
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.pmod(
                    _hash60(
                        F.concat(
                            F.lit(str(i)), F.lit("|"), F.col(value_col).cast("string")
                        )
                    ),
                    F.lit(width),
                ).alias("col"),
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(*keys, F.explode(rows).alias("_rc"))
        .select(*keys, F.col("_rc.row").alias("row"), F.col("_rc.col").alias("col"))
        .groupBy(*keys, "row", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_merge(registers: DataFrame, keys: list[str]) -> DataFrame:
    """Merge Count-Min register tables (shards / days / streaming
    increments): SUM per (keys, row, col). Union the inputs first."""
    return registers.groupBy(*keys, "row", "col").agg(
        F.sum("cnt").alias("cnt")
    )


def cm_estimate(
    registers: DataFrame,
    items: DataFrame,
    keys: list[str],
    item_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query the sketch: estimated count per (*keys, item).

    Each item probes its d cells (same hash family as
    :func:`cm_registers` — the two can't drift because both call
    ``_hash60`` with the same seed scheme); the estimate is the MIN
    over probed registers, 0 when a cell is absent (nothing ever
    hashed there). One item×depth explode + one equi-join on the
    register key + one min aggregate — the registers side is the
    bounded sketch, so the join broadcasts at any corpus size.
    """
    probes = items.select(
        *keys,
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        F.pmod(
                            _hash60(
                                F.concat(
                                    F.lit(str(i)),
                                    F.lit("|"),
                                    F.col(item_col).cast("string"),
                                )
                            ),
                            F.lit(width),
                        ).alias("col"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("_rc"),
    ).select(
        *keys, item_col, F.col("_rc.row").alias("row"), F.col("_rc.col").alias("col")
    )
    joined = probes.join(registers, [*keys, "row", "col"], "left")
    return (
        joined.groupBy(*keys, item_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count"))
    )


def cm_oracle_exprs(depth: int = 4, width: int = 256) -> dict[str, str]:
    """DuckDB twins of the Count-Min hash probes, parameterized like
    :func:`hll_oracle_exprs`. 'cells' expects ``{v}`` and yields a
    ``[{'ri': i, 'ci': h_i(v)}, ...]`` list to unnest (the md5-prefix
    hash is non-negative, so plain ``%`` matches Spark's pmod)."""
    # quadruple braces: the struct's literal {…} must survive BOTH the
    # inner .format(i=, w=) here and the caller's .format(v=…)
    cell = (
        "{{{{'ri': {i}, 'ci': ('0x' || substr(md5('{i}|' || "
        "CAST({{v}} AS VARCHAR)), 1, 15))::BIGINT % {w}}}}}"
    )
    cells = ", ".join(cell.format(i=i, w=width) for i in range(depth))
    return {"cells": f"[{cells}]"}


def hll_oracle_exprs(b: int = 6) -> dict[str, str]:
    """The DuckDB twin of each stage as SQL fragments, parameterized
    the same way — kept next to the operator so query oracles and the
    operator can't drift independently.

    Returns {'hash', 'bucket', 'rho', 'sum_term', 'lc_values',
    'estimate'}: 'hash' expects ``{v}`` (the value expression);
    'lc_values' is the precomputed linear-counting VALUES list to bind
    as ``lc(vz, lc_est)``; 'estimate' expects ``{present}`` /
    ``{sum_int}`` / ``{lc_est}`` column names (join lc on
    ``m - present = vz`` first — same literals as the Spark dim, so no
    libm call on either side).
    """
    m = 1 << b
    k = 60 - b
    e_raw = (
        f"({_alpha(m) * m * m!r} / ({{sum_int}} / {float(1 << (k + 1))!r} "
        f"+ ({m} - {{present}})))"
    )
    return {
        "hash": "(('0x' || substr(md5(CAST({v} AS VARCHAR)), 1, 15))::BIGINT)",
        "bucket": f"(h >> {k})",
        "rho": (
            f"(CASE WHEN (h & {(1 << k) - 1}) = 0 THEN {k + 1} "
            f"ELSE {k + 1} - length(bin(h & {(1 << k) - 1})) END)"
        ),
        "sum_term": f"(1::BIGINT << ({k + 1} - r))",
        # scientific notation matters: DuckDB types a bare decimal
        # VALUES literal as DECIMAL (and ::DOUBLE casts THROUGH the
        # decimal, losing bits — measured on 125.54614438550095);
        # an e-suffixed literal is typed DOUBLE directly and parses to
        # the identical bits (caught by tests/test_sketches.py)
        "lc_values": ",".join(
            f"({v}, {_sql_double(e)})" for v, e in _lc_table(m)
        ),
        "estimate": (
            f"(CASE WHEN ({m} - {{present}}) > 0 AND {e_raw} <= {2.5 * m!r} "
            f"THEN {{lc_est}} ELSE {e_raw} END)"
        ),
    }
