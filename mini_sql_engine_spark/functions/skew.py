"""Skew mitigation: salted aggregation and salted joins.

AQE's skew-join splitting (on in `session.py`) handles most runtime
skew; these helpers are for the cases AQE can't fix:

- a groupBy where ONE key holds a large share of all rows (partial
  aggregation already collapses per-partition duplicates, but a single
  reducer still owns the hot key's final state — salting splits the
  hot key across `n_salts` reducers, then re-merges);
- an equi-join against a skewed key distribution where the small side
  fits in memory × n_salts (replicate small side, salt big side —
  every salted partition joins locally).

Salts are deterministic (`pmod(hash(...), n)`) so results are
reproducible and tests can diff salted vs unsalted output exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# aggregate name → (partial expr builder, final expr builder)
_ALGEBRAIC = {
    "sum": (F.sum, F.sum),
    "count": (lambda c: F.count(c), F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted groupBy for algebraic aggregates.

    `aggs` maps output column name → (fn, input column) with fn in
    {sum, count, min, max}. Phase 1 groups by (keys + salt) — the hot
    key spreads over n_salts reducers; phase 2 merges per key. AVG is
    intentionally absent: express it as sum/count to stay algebraic.
    """
    unknown = {fn for fn, _ in aggs.values()} - set(_ALGEBRAIC)
    if unknown:
        raise ValueError(f"non-algebraic aggregates not saltable: {sorted(unknown)}")
    salt = F.pmod(F.hash(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    phase1 = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(
        *[_ALGEBRAIC[fn][0](col).alias(out) for out, (fn, col) in aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[_ALGEBRAIC[fn][1](out).alias(out) for out, (fn, _) in aggs.items()]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the big (skewed) side salted and the small side
    replicated n_salts times, so each hot-key partition joins locally.

    Join key column is kept once (the `on=` name form). The small side
    must tolerate ×n_salts replication — it is exploded BEFORE the
    shuffle, so each replica lands with its salt partition.
    """
    big_s = big.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    )
    small_r = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return big_s.join(small_r, [key, "_salt"], how).drop("_salt")

