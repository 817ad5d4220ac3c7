"""OLAP analytics operators beyond the reference's surface.

The reference caps out at whole-table aggregates (SURVEY.md §2.1
O9–O13, "no GROUP BY anywhere in the spec"); this module covers the
OLAP staples a Spark engine gets from Catalyst: multi-dimensional
aggregation (ROLLUP / CUBE / GROUPING SETS), pivot, statistical
aggregates, scalar expression coverage (string/date/math), subqueries
(scalar / IN / correlated), deterministic hash-sampling, and
approx_count_distinct.

Scale notes (100 TB):
- rollup/cube expand each input row to its grouping-set combinations
  BEFORE the shuffle, but partial aggregation collapses per-partition
  groups first, so shuffle volume is bounded by (groups × partitions),
  not rows × sets;
- pivot with an explicit value list is one groupBy shuffle; never call
  pivot without values at scale (it runs a distinct scan first);
- hash-sampling (md5 % 100 < p) is stateless per row — pushes to the
  scan, no shuffle, reproducible across engines and runs, and stable
  under repartitioning (unlike TABLESAMPLE / rand());
- correlated subqueries decorrelate in Catalyst to joins — the plans
  below all become broadcast or shuffled joins, never per-row lookups;
- approx_count_distinct is the HLL++ sketch: constant memory per
  group vs. the exact count's full key shuffle.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from mini_sql_engine_spark.functions.frames import jvm_rows
from mini_sql_engine_spark.catalog import (
    ensure_min_partitions,
    load_table,
    register_sf_tables,
)
from mini_sql_engine_spark.functions.hashing import md5_long
from mini_sql_engine_spark import oracle_shared
from mini_sql_engine_spark.functions.numeric import NANO as _NANO
from mini_sql_engine_spark.functions.numeric import qsum as _qsum
from mini_sql_engine_spark.functions.ranking import range_prefix

ALL = "(all)"  # marker for super-aggregate rows (testdata is NOT NULL,
# so coalescing grouped NULLs to a marker is unambiguous)

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SAMPLE_PCT = 5  # md5-hash sampling keeps ~5% of rows


def rollup_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (priority, status): hierarchy of subtotals + grand total."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # integer cents: the grand-total row sums the WHOLE orders
            # table — a rounded float sum there is safe at sf0.1 but
            # marginal at 100x (random-walk error approaches the round
            # grid); integer cents are exact in any order at any scale
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("total_cents"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit(ALL)).alias("priority"),
            F.coalesce("o_orderstatus", F.lit(ALL)).alias("status"),
            "n_orders",
            "total_cents",
        )
    )


def cube_returnflag_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (returnflag, linestatus): all 2^2 grouping combinations."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit(ALL)).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit(ALL)).alias("linestatus"),
            "n_lines",
            "sum_qty",
        )
    )


def grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: (type), (user), () — SQL form."""
    register_sf_tables(spark, sf_dir, ("events",))
    return spark.sql(
        f"""
        SELECT coalesce(event_type, '{ALL}') AS event_type,
               coalesce(CAST(user_id AS STRING), '{ALL}') AS user_id,
               COUNT(*) AS n_events,
               -- integer-cents money: per-row fixed point, exact
               -- integer SUM — no float accumulation order anywhere
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM events
        GROUP BY GROUPING SETS ((event_type), (user_id), ())
        """
    )


def pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event counts pivoted to one column per event type.

    Explicit value list → single shuffle, stable schema at any scale."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(t, F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
        )
    )


def stats_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per market segment.

    Fixed-point discipline (SCALE.md): avg/stddev/variance are derived
    from EXACT integer-cent moment sums (s, ss as DECIMAL(38,0) — the
    2-decimal money grid makes cents lossless), then a handful of IEEE
    double ops in an order the DuckDB oracle mirrors token for token.
    The streaming float moments (F.avg/F.stddev_samp over doubles)
    they replace reduce in partial-aggregation order — the last
    order-dependent aggregate class left in an oracle pair. min/max
    are exact order statistics; median of an even group is one IEEE
    midpoint op on exact operands — deterministic in both engines.
    DECIMAL(38,0) headroom: cents² ≤ 1e12, so the n·ss cross term
    stays inside 38 digits to n ≈ 1e25 rows."""
    c = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("decimal(38,0)")
    m = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("_s"),
        F.sum(cents * cents).alias("_ss"),
        F.round(F.median("c_acctbal"), 4).alias("med_bal"),
        F.round(F.min("c_acctbal"), 4).alias("min_bal"),
        F.round(F.max("c_acctbal"), 4).alias("max_bal"),
    )
    n_dec = F.col("n").cast("decimal(38,0)")
    var_c2 = (n_dec * F.col("_ss") - F.col("_s") * F.col("_s")).cast(
        "double"
    ) / (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
    return m.select(
        "c_mktsegment",
        "n",
        F.round(F.col("_s").cast("double") / F.col("n") / 100.0, 4).alias(
            "avg_bal"
        ),
        F.round(F.sqrt(var_c2) / 100.0, 4).alias("sd_bal"),
        F.round(var_c2 / 10000.0, 2).alias("var_bal"),
        "med_bal",
        "min_bal",
        "max_bal",
    )


def corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + covariance per return flag.

    Same fixed-point discipline as stats_by_segment: all five moment
    sums are exact DECIMAL(38,0) integers (quantity is integral,
    price/discount live on the 2-decimal grid → cents), so corr =
    (n·Sqp − Sq·Sp) / (√(n·Sqq − Sq²)·√(n·Spp − Sp²)) is a fixed
    sequence of IEEE ops on identical operands in Spark and DuckDB —
    correlation is scale-invariant, so cents give the same value as
    dollars. covar_samp comes back to dollar units via one /100."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(38,0)")
    p = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    d = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("decimal(38,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(q).alias("_sq"),
        F.sum(p).alias("_sp"),
        F.sum(d).alias("_sd"),
        F.sum(q * q).alias("_sqq"),
        F.sum(p * p).alias("_spp"),
        F.sum(q * p).alias("_sqp"),
        F.sum(q * d).alias("_sqd"),
    )
    n_dec = F.col("n").cast("decimal(38,0)")
    num = (n_dec * F.col("_sqp") - F.col("_sq") * F.col("_sp")).cast("double")
    dq = (n_dec * F.col("_sqq") - F.col("_sq") * F.col("_sq")).cast("double")
    dp = (n_dec * F.col("_spp") - F.col("_sp") * F.col("_sp")).cast("double")
    cnum = (n_dec * F.col("_sqd") - F.col("_sq") * F.col("_sd")).cast("double")
    den_n = F.col("n").cast("double") * (F.col("n") - 1).cast("double")
    return m.select(
        "l_returnflag",
        F.round(num / (F.sqrt(dq) * F.sqrt(dp)), 6).alias("corr_qty_price"),
        F.round(cnum / den_n / 100.0, 6).alias("covar_qty_disc"),
    )


def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String / date / math scalar coverage in one projection —
    the entire category is absent from the reference (SURVEY §2.1)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.month("o_orderdate").cast("long").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("o_day"),
        F.quarter("o_orderdate").cast("long").alias("o_quarter"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.upper(F.substring("o_orderpriority", 3, 20)).alias("prio_name"),
        F.concat_ws("/", "o_orderstatus", "o_orderpriority").alias("status_prio"),
        F.length("o_orderpriority").cast("long").alias("prio_len"),
        F.round(F.abs(F.col("o_totalprice") - 1000.0), 2).alias("abs_diff"),
        F.round(F.sqrt("o_totalprice"), 6).alias("sqrt_price"),
        F.floor(F.col("o_totalprice") / 100).alias("price_bucket"),
        F.when(F.col("o_totalprice") > 1000, "big").otherwise("small").alias("size_tag"),
    )


def hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5% sample of lineitem keyed on (orderkey,
    linenumber) — reproducible across engines, runs, and partitionings."""
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(":", "l_orderkey", "l_linenumber")
    return li.filter(md5_long(key) % 100 < SAMPLE_PCT).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers above the global average balance (scalar subquery)."""
    register_sf_tables(spark, sf_dir, ("customer",))
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
        """
    )


def in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers in nations that have >= 50 customers (IN subquery)."""
    register_sf_tables(spark, sf_dir, ("supplier", "customer"))
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_nationkey IN (SELECT c_nationkey FROM customer
                              GROUP BY c_nationkey HAVING COUNT(*) >= 50)
        """
    )


def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers above their nation's average balance (correlated scalar
    subquery — Catalyst decorrelates to an aggregate + join)."""
    register_sf_tables(spark, sf_dir, ("customer",))
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_nationkey
        FROM customer c
        WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                             WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


def lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top-2 customers via a correlated LATERAL subquery —
    the SQL-standard spelling of top-k-per-group. Catalyst decorrelates
    the LATERAL into a window/join plan, so it costs one shuffle on the
    correlation key, same as the explicit Window top-k
    (rollups.topk_per_group); the point is the FRONTEND: a user can
    write the standard form and still get the scalable plan. Ties are
    broken on c_custkey so the LIMIT boundary is deterministic."""
    register_sf_tables(spark, sf_dir, ("nation", "customer"))
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM nation n,
        LATERAL (SELECT c.c_custkey, c.c_acctbal
                 FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c.c_acctbal DESC, c.c_custkey
                 LIMIT 2) t
        """
    )


def percentiles_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ≡
    DuckDB `quantile_cont`). At 100 TB exact percentiles are a full
    sort per group — switch to `percentile_approx` (t-digest sketch,
    mergeable, one pass) and accept bounded rank error; both are
    exposed here so the trade is visible."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.expr("percentile(c_acctbal, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(c_acctbal, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(c_acctbal, 0.9)"), 6).alias("p90"),
    )


def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt) of part metrics."""
    part = load_table(spark, sf_dir, "part")
    return part.unpivot(
        "p_partkey", ["p_size", "p_retailprice"], "metric", "value"
    )


def conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-style conditional aggregation: count_if / bool_or /
    guarded sums — one scan, no self-joins."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.count_if(F.col("l_returnflag") == "R").alias("n_returned"),
        F.bool_or(F.col("l_quantity") > 49).alias("any_bulk"),
        F.round(
            F.sum(F.when(F.col("l_tax") > 0.04, F.col("l_extendedprice"))), 2
        ).alias("high_tax_revenue"),
    )


def string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: nation list per region. Sorted before
    joining so the result is deterministic under any partitioning."""
    nation = load_table(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias(
                "nations"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


def hll_mergeable_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE cardinality sketches — the pattern that matters at
    100 TB: build a Datasketches HLL per (event_type, day) partial
    (`hll_sketch_agg`), then UNION the partials per event type
    (`hll_union_agg`) and estimate. Unlike a COUNT(DISTINCT) — which
    must reshuffle raw keys to re-aggregate at a coarser grain — the
    daily sketches are tiny, additive, and storable: a dashboard can
    roll up any date range by unioning pre-computed partials without
    touching the fact table again.

    Cross-engine oracle contract: the sketch ESTIMATE itself is
    engine-specific (never emitted), so the output carries only the
    deterministic facts — the exact distinct count, the number of
    daily partials — plus an in-plan ``within_tol`` boolean asserting
    |union-estimate − exact| ≤ 10% · exact (lgK=12 → ~1.6% rse, so the
    10% envelope has >5σ slack). DuckDB recomputes the exact values
    and expects ``true``: a hard hash-matching check of the sketch's
    accuracy without hashing sketch internals."""
    events = load_table(spark, sf_dir, "events")
    # COUPLED CONSTANTS: lgK=12 here and the *10 envelope in the select
    # below (|est − exact| ≤ 10%·exact) are a pair. lgK=12 gives rse
    # ≈ 1.04/sqrt(2^12) ≈ 1.6%, so 10% is a >5σ bound — effectively
    # deterministic. Lowering lgK (or a future scale factor with very
    # small per-type cardinalities) narrows that safety margin and can
    # flip the whole correctness row to FAIL rather than reporting
    # degraded accuracy: revisit the envelope whenever lgK changes.
    _HLL_LGK = 12
    daily = events.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.hll_sketch_agg("user_id", _HLL_LGK).alias("sketch"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("_approx"),
            F.count(F.lit(1)).alias("n_daily_sketches"),
        )
        .join(
            load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("exact_users")),
            "event_type",
        )
        .select(
            "event_type",
            "n_daily_sketches",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                * 10
                <= F.col("exact_users")
            ).alias("within_tol"),
        )
    )


def quantile_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable quantile summaries: per-(event_type, day)
    value-histogram partials — (value, count) pairs, the trivially
    additive summary — merged per event type, then discrete p50/p90/p99
    read off the cumulative counts. Counterpart to hll_mergeable_
    sketches but exactly oracle-able: merging histograms is integer
    addition, and the quantile rule (least value with cum*den >=
    p_num*total) is pure integer comparison, so both engines agree
    bit-for-bit — no sketch internals, no float accumulation.

    100 TB: the partials are the storable artifact — each day's
    histogram is |distinct values|-sized (bounded for discretized
    measures like 2-decimal monetary values), so any date-range rollup
    merges pre-computed partials without rescanning the fact table.
    The merge is one map-side-combined agg; the cumulative pass is a
    keyed window over the (small) merged histogram, never over rows."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    partials = events.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"), "value"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    merged = partials.groupBy("event_type", "value").agg(F.sum("cnt").alias("cnt"))
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = merged.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "total", F.sum("cnt").over(Window.partitionBy("event_type"))
    )
    return cum.groupBy("event_type").agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("value"))).alias("p50"),
        F.min(
            F.when(F.col("cum") * 10 >= F.col("total") * 9, F.col("value"))
        ).alias("p90"),
        F.min(
            F.when(F.col("cum") * 100 >= F.col("total") * 99, F.col("value"))
        ).alias("p99"),
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_distinct_values"),
    )


def approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct-count sketch per event type, checked against the
    exact count IN-PLAN: the sketch estimate (engine-specific, never
    emitted) must land within 10% of the exact count (rsd was requested
    at 2%, so 10% is a >5σ envelope). The output is fully deterministic
    — (event_type, exact_users, within_tol) — so DuckDB hash-matches it
    by recomputing the exact count and expecting ``true``. This keeps a
    hard cross-engine oracle on the operator without pretending two
    engines' HLL registers agree bit-for-bit."""
    events = load_table(spark, sf_dir, "events")
    # COUPLED CONSTANTS: rsd=0.02 and the *10 (10%) envelope below are
    # a pair (>5σ slack). Loosening rsd or shrinking per-type
    # cardinality at a new scale factor erodes the margin and would
    # flip this row to FAIL outright — revisit both together.
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("_approx"),
            F.count_distinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users")) * 10
                <= F.col("exact_users")
            ).alias("within_tol"),
        )
    )


# QSK_K / QSK_TARGETS live in oracle_shared (leaf) so the streaming
# twin can share them without importing this pack on the executors
from mini_sql_engine_spark.oracle_shared import QSK_K, QSK_TARGETS  # noqa: E402

QSK_P = 16  # fixed hash-partition count (part of the error bound)


def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch with a PROVEN rank-error certificate.

    Each of QSK_P hash partitions of lineitem prices (integer cents)
    is compacted to ≤ QSK_K evenly-spaced order statistics carrying
    their local rank GAPS; the merged summary (≤ K·P rows — constant,
    the point of a sketch) answers any quantile by prefix-summed
    weight: est(t) = min value whose merged weight ≥ t. Two exact
    in-plan counts certify the textbook mergeable-summary guarantee
    for every target:

      ok_hi: count(x <= est) >= t                       (slack-free)
      ok_lo: count(x <  est) <  t + floor(n/K) + P      (the bound)

    since each partition's recorded rank understates count(<= v) never
    and overstates count(< v) by at most its max gap ceil(n_p/K), and
    sum_p ceil(n_p/K) <= floor(n/K) + P. The estimate itself is
    sketch-internal (depends on partition boundaries) and never
    emitted; the OUTPUT — (q_ppm, n_rows, slack, ok_hi, ok_lo) — is
    fully deterministic, so DuckDB hash-matches it by recomputing n
    and the bound and expecting true/true (the
    `ext_approx_count_distinct` certificate pattern).

    Scale notes (100 TB): this is the one-pass distributed-quantile
    shape (same family as Spark's approxQuantile/GK): a pure
    per-partition map to K rows, a K·P-row merge, and ONE exact
    counting pass for the certificate (drop it in production — it
    exists to make the sketch falsifiable). Memory per executor is K
    order statistics, independent of partition size."""
    import numpy as np
    import pandas as pd

    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    base = (
        load_table(spark, sf_dir, "lineitem")
        .select(cents.alias("cents"), "l_orderkey")
        .repartition(QSK_P, "l_orderkey")
        .localCheckpoint(eager=False)  # consumed by sketch AND certify
    )

    def summarize(batches):
        vals = [pdf["cents"].to_numpy(np.int64) for pdf in batches]
        v = np.sort(np.concatenate(vals)) if vals else np.empty(0, np.int64)
        n = len(v)
        out = {"val": [], "g": []}
        prev = 0
        for i in range(1, QSK_K + 1):
            r = -(-i * n // QSK_K)  # ceil(i*n/K); r == n at i == K
            if r > prev:
                out["val"].append(int(v[r - 1]))
                out["g"].append(r - prev)
                prev = r
        yield pd.DataFrame(out)

    summ = (
        base.mapInPandas(summarize, "val long, g long")
        .groupBy("val")
        .agg(F.sum("g").alias("g"))
    )
    # bounded-summary window: the merged sketch is <= K*P rows BY
    # CONSTRUCTION (constant in data scale), so the prefix sum runs as
    # a single-partition window over the summary — the same bounded
    # exception range_prefix itself uses for its offset grid
    from pyspark.sql import Window

    w = Window.orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ladder = summ.coalesce(1).select(
        "val", F.sum("g").over(w).alias("cum_g")
    )
    n1 = base.agg(F.count(F.lit(1)).alias("n"))
    targets = jvm_rows(
        spark, [(q,) for q in QSK_TARGETS], "q_ppm long"
    ).crossJoin(F.broadcast(n1))
    targets = targets.select(
        "q_ppm",
        "n",
        F.greatest(
            F.floor(F.col("q_ppm") * F.col("n") / 1_000_000), F.lit(1)
        )
        .cast("long")
        .alias("t"),
    )
    # est(t) = min summary value whose cumulative weight reaches t
    ests = (
        F.broadcast(targets)
        .join(ladder, F.col("cum_g") >= F.col("t"))
        .groupBy("q_ppm", "n", "t")
        .agg(F.min("val").alias("est"))
    )
    # ONE exact pass certifies all targets: 5 broadcast rows × base
    certify = base.crossJoin(F.broadcast(ests)).groupBy(
        "q_ppm", "n", "t"
    ).agg(
        F.sum(F.when(F.col("cents") <= F.col("est"), 1).otherwise(0)).alias(
            "_le"
        ),
        F.sum(F.when(F.col("cents") < F.col("est"), 1).otherwise(0)).alias(
            "_lt"
        ),
    )
    slack = (F.floor(F.col("n") / QSK_K) + QSK_P).cast("long")
    return certify.select(
        "q_ppm",
        F.col("n").alias("n_rows"),
        slack.alias("slack"),
        (F.col("_le") >= F.col("t")).alias("ok_hi"),
        (F.col("_lt") < F.col("t") + slack).alias("ok_lo"),
    )


MAP_SHARE_MIN = 0.04  # drop days below this share of the type's events


def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface, round-tripped entirely JVM-side: per event
    type build a day→count map (`map_from_entries` over the sorted
    entry array — collect_list alone is shuffle-order-nondeterministic),
    `transform_values` to each day's share of the type's events,
    `map_filter` to the days above MAP_SHARE_MIN, and explode the map
    back to (event_type, day, share) rows. The oracle computes the
    same numbers map-free, so the test proves the map operators are
    value-transparent. The (k, v) lambdas here are the INTENDED binary
    higher-order form (cf. the unary-only rule in
    `hashing.minhash_signature`).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    )
    counts = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_type = counts.groupBy("event_type").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("day", "n")))
        ).alias("m"),
        F.sum("n").alias("total"),
    )
    shares = per_type.select(
        "event_type",
        F.map_filter(
            F.transform_values(
                "m", lambda k, v: F.round(v / F.col("total"), 6)
            ),
            lambda k, v: v >= MAP_SHARE_MIN,
        ).alias("m2"),
    )
    return shares.select(
        "event_type", F.explode("m2").alias("day", "share")
    )


ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # last-touch lookback: 7 days


def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample: per-user daily totals with calendar gaps
    generated and forward-filled.

    Each user's active-day range is densified (sequence + explode —
    the distributed replacement for a calendar dimension join), actual
    daily cents land by left join, and missing days carry the last
    observed total forward (`last(..., ignorenulls)` over an unbounded
    preceding frame) with an is_gap marker. This is the resample/LOCF
    operator every per-entity time-series feed needs before windowed
    features. One shuffle on user_id; the generated rows are bounded
    by the span, not the event count. Day rides as a yyyy-MM-dd string
    so both engines hash the identical value."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "day_cents"
        )
    )
    spans = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    alldays = spans.select(
        "user_id",
        F.explode(F.sequence("d0", "d1")).alias("day"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        alldays.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.last("day_cents", ignorenulls=True).over(w).alias("filled_cents"),
            F.col("day_cents").isNull().cast("int").alias("is_gap"),
        )
    )


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent click no older than ATTR_WINDOW_US.

    Carry the latest click's (ts, event_id) forward over the user's
    (ts, event_id)-ordered stream, keep purchase rows, and null the
    credit when the click is outside the lookback. One shuffle on
    user_id, one window, no self-join — the join-free shape that holds
    when a user's history is millions of events. Microsecond integer
    arithmetic end to end (unix_micros / epoch_us), so the minutes-
    since value is exact in both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_click = F.col("event_type") == "click"
    tagged = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts_us",
        F.last(F.when(is_click, F.col("ts_us")), ignorenulls=True)
        .over(w)
        .alias("click_ts_us"),
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("click_event"),
    )
    in_window = F.col("ts_us") - F.col("click_ts_us") <= ATTR_WINDOW_US
    return tagged.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event"),
        F.when(in_window, F.col("click_event")).alias("click_event"),
        F.when(
            in_window,
            F.floor((F.col("ts_us") - F.col("click_ts_us")) / 60_000_000).cast(
                "long"
            ),
        ).alias("mins_since_click"),
    )


PR_SCALE = 1_000_000  # PageRank mass in ppm (integer-exact)
PR_ITERS = 3
PR_D_NUM, PR_D_DEN = 85, 100  # damping 0.85 as a ratio


def pagerank_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph, integer-exact.

    Edges are consecutive-event transitions per user (the event-type
    Markov graph); PR_ITERS power iterations run
    with all mass in integer ppm — floor(d·pr·cnt / out) per edge, so
    every sum is exactly associative and the result is deterministic
    under any partitioning (the kmeans_refine determinism pattern
    applied to graph centrality). Dangling nodes would leak mass by
    construction (documented; none exist in this graph — every type
    transitions onward).

    Scale: the heavy step is building the edge list (one window over
    the user-partitioned event stream + a grouped count — same cost
    class as sessionization); iterations then run on the
    node/edge-count tables, which are type-cardinality-sized. For a
    web-scale graph the same loop shape holds with edges partitioned
    by dst and pr broadcast-joined per iteration."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # reused every iteration
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    out = edges.groupBy("src").agg(F.sum("cnt").alias("out_cnt"))
    base = F.floor(
        F.lit((PR_D_DEN - PR_D_NUM) * PR_SCALE) / (F.lit(PR_D_DEN) * F.col("n_nodes"))
    ).cast("long")
    pr = nodes.crossJoin(F.broadcast(n)).select(
        "node",
        F.floor(F.lit(PR_SCALE) / F.col("n_nodes")).cast("long").alias("pr"),
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(out, "src")
            .join(pr, edges["src"] == pr["node"])
            .groupBy("dst")
            .agg(
                F.sum(
                    F.floor(
                        (F.lit(PR_D_NUM) * F.col("pr") * F.col("cnt"))
                        / (F.lit(PR_D_DEN) * F.col("out_cnt"))
                    ).cast("long")
                ).alias("in_mass")
            )
        )
        pr = (
            nodes.crossJoin(F.broadcast(n))
            .join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (base + F.coalesce("in_mass", F.lit(0))).alias("pr"),
            )
        )
    return pr.select(F.col("node").alias("event_type"), F.col("pr").alias("pr_ppm"))


def supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-concentration (Herfindahl) index per supplier nation:
    HHI_ppm = floor(Σ rev_i² · 1e6 / (Σ rev_i)²) over each nation's
    suppliers' lineitem revenue (whole dollars — keeps the squares
    inside exact integer range; the final ratio is IEEE-identical in
    both engines from the same exact integer inputs). 10000 ppm = a
    perfectly fragmented market; 1e6 = a monopoly supplier."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.floor(
                F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5)) / 100
            )
            .cast("long")
            .alias("rev_usd")
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return rev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("rev_usd").alias("total_usd"),
        F.floor(
            F.sum(F.col("rev_usd") * F.col("rev_usd")).cast("double")
            * 1_000_000
            / (
                F.sum("rev_usd").cast("double")
                * F.sum("rev_usd").cast("double")
            )
        )
        .cast("long")
        .alias("hhi_ppm"),
    )


COVER_WINDOW_US = 5 * 60 * 1_000_000  # each event covers 5 min of activity


def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union-of-intervals covered time per user: every event opens a
    fixed COVER_WINDOW_US activity interval; overlapping intervals are
    merged (gaps-and-islands) and the user's covered wall-clock is the
    sum of merged-island lengths — the classic "billable uptime" /
    "active minutes" metric that naive sum-of-durations double-counts.
    Island detection: a row starts a new island iff its start exceeds
    the running MAX(end) over all earlier rows of the user (running max,
    not lag — an earlier long interval can swallow several later ones).
    Output: (user_id, n_intervals, covered_us), all exact integers.

    Scale notes (100 TB): one hash exchange on user_id feeds both the
    running-max window and the island rollup; rows stay thin
    (user_id, start, end). Per-user state is a single running max —
    no island materializes more than its member rows, no driver
    participation. A sweep line would answer "how many open now"; this
    answers "how long was anything open".
    """
    from pyspark.sql import Window

    iv = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("s")
    ).withColumn("e", F.col("s") + COVER_WINDOW_US)
    wo = Window.partitionBy("user_id").orderBy("s", "e")
    prev_end = F.max("e").over(
        wo.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    islands = flagged.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("len_us")
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("len_us").alias("covered_us"),
    )


KMV_K = 64  # bottom-k sketch size
_MAX60 = float(1 << 60)  # md5_long range, for hash → (0,1) normalization


def kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch per
    event type over daily-active (user, day) keys: keep the K smallest
    distinct hash values; the estimator is (K−1)/u_K where u_K is the
    K-th smallest hash normalized to (0,1). Unlike HLL (rows-only in
    this suite), KMV is fully deterministic from the hash function, so
    the sketch itself is exactly oracle-checkable — the output carries
    the exact count and the signed estimator error side by side.

    Scale notes (100 TB): the sketch is mergeable (union = bottom-K of
    the union), so per-partition bottom-K heaps combine map-side; the
    shuffle is K rows per (group, partition), never data-sized. Here
    the bottom-K is expressed as a rank-≤-K window over the distinct
    thin (type, hash) rows — Spark pushes the rank filter into the
    sort. Distinct-hash semantics (collisions merge) is the sketch's
    own definition, identically on both engines.
    """
    from pyspark.sql import Window

    keys = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.concat_ws(
            ":",
            F.col("user_id").cast("string"),
            F.date_format("ts", "yyyy-MM-dd"),
        ).alias("key"),
    )
    hashed = keys.select(
        "event_type", md5_long(F.col("key"), salt="kmv").alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    bottom = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("k_seen"),
            F.max("h").alias("u_k"),
        )
    )
    exact = hashed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    est = F.when(
        F.col("k_seen") < KMV_K, F.col("k_seen").cast("double")
    ).otherwise(
        F.lit(float(KMV_K - 1)) / (F.col("u_k") / F.lit(_MAX60))
    )
    return (
        exact.join(F.broadcast(bottom), "event_type")
        .select(
            "event_type",
            "n_exact",
            F.round(est, 4).alias("kmv_est"),
            F.round(
                (est - F.col("n_exact")) * 100.0 / F.col("n_exact"), 4
            ).alias("err_pct"),
        )
    )


def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per return flag: clip extended
    prices to the [p1, p99] exact percentile bounds, then compare the
    raw and winsorized means — the standard outlier-robust location
    estimate that, unlike trimming, keeps n constant. All arithmetic
    runs in exact integer cents (bounds integerized by round-half-up)
    so the means are order-of-accumulation-proof on both engines.

    Scale notes (100 TB): two passes over the fact table — a grouped
    exact-percentile pass whose tiny (group, lo, hi) result broadcasts
    back onto the stream, then one map-side-combinable rollup. The
    group key has only 3 values; at real scale swap `percentile` for
    the mergeable t-digest `percentile_approx` (same shape, one pass,
    bounded rank error) as `ext_percentiles` documents.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("pc"),
    )
    bounds = li.groupBy("l_returnflag").agg(
        F.floor(F.expr("percentile(pc, 0.01)") + 0.5)
        .cast("long")
        .alias("lo_c"),
        F.floor(F.expr("percentile(pc, 0.99)") + 0.5)
        .cast("long")
        .alias("hi_c"),
    )
    j = li.join(F.broadcast(bounds), "l_returnflag").withColumn(
        "cl", F.least(F.greatest("pc", "lo_c"), "hi_c")
    )
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.max("lo_c") / 100.0, 2).alias("lo"),
        F.round(F.max("hi_c") / 100.0, 2).alias("hi"),
        F.round(F.sum("pc") / (100.0 * F.count(F.lit(1))), 4).alias(
            "mean_raw"
        ),
        F.round(F.sum("cl") / (100.0 * F.count(F.lit(1))), 4).alias(
            "mean_winsorized"
        ),
    )


AUTOCORR_LAGS = (1, 7)  # day-over-day and week-over-week


def autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation of the daily order-revenue series (lags
    1 and 7 — the day-over-day momentum and weekly seasonality
    gauges). Pearson r is computed from the CLOSED FORM
    (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²)·√(n·Syy − Sy²)) where every S
    is an exact DECIMAL(38,0) sum of integer cents (and cent
    products) — never a float accumulation, so the result is
    bit-identical regardless of partial-agg order. Built-in corr()
    would be one pass but order-dependent in the last ulp; a metrics
    gate needs the reproducible form. Missing calendar days simply
    drop the pair (inner join on day+lag), as documented.

    Scale notes (100 TB): the daily rollup is dates-sized (map-side
    combined); the lagged self-join runs on that tiny series
    (broadcast), and each lag reduces to ONE 5-decimal-sum aggregate
    row. Adding lags adds broadcast joins over the same cached daily
    table, not passes over the fact data.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.to_date("o_orderdate").alias("day"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("rev"))
        .localCheckpoint()  # consumed 2× per lag; cut the re-scan
    )
    dec = "decimal(19,0)"
    outs = []
    for lag in AUTOCORR_LAGS:
        lead = daily.select(
            F.date_add("day", -lag).alias("day"),
            F.col("rev").alias("rev_y"),
        )
        pairs = daily.join(lead, "day").select(
            F.col("rev").cast(dec).alias("x"),
            F.col("rev_y").cast(dec).alias("y"),
        )
        s = pairs.agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        outs.append(
            s.select(
                F.lit(lag).cast("long").alias("lag"),
                F.col("n").cast("long").alias("n_pairs"),
                F.round(
                    (
                        (F.col("n") * F.col("sxy")).cast("double")
                        - (F.col("sx") * F.col("sy")).cast("double")
                    )
                    / (
                        F.sqrt(
                            (F.col("n") * F.col("sxx")).cast("double")
                            - (F.col("sx") * F.col("sx")).cast("double")
                        )
                        * F.sqrt(
                            (F.col("n") * F.col("syy")).cast("double")
                            - (F.col("sy") * F.col("sy")).cast("double")
                        )
                    ),
                    6,
                ).alias("r"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index distinct count: pack user ids into 32-bit chunk
    bitmaps (chunk = id div 32, bit = id mod 32 — 32 not 64 because a
    portable engine pair must avoid the 1<<63 sign-boundary shift,
    which DuckDB rejects as overflow), BIT_OR the masks per
    (event_type, chunk), then SUM(bit_count(mask)) — the roaring-
    bitmap-style exact distinct that replaces a wide `count(distinct)`
    expand with plain integer aggregation. The exact countDistinct
    runs alongside and the output carries both, pinning the bitmap
    path to the truth.

    Scale notes (100 TB): the shuffle after the map-side BIT_OR is
    bounded by groups × ceil(id_space/32) mask rows — for a 10^9-user
    id space that is ~31M longs per group, independent of event count;
    the masks then collapse to one long per group. This is the
    standard bitmap rollup for dense integer key spaces; for sparse or
    non-integer keys, hash to a dense space first (collisions then
    make it a sketch — see `ext_kmv_distinct` for the principled one).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("user_id") / 32).cast("long").alias("chunk"),
        (F.col("user_id") % 32).cast("int").alias("bit"),
    )
    masks = ev.groupBy("event_type", "chunk").agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("mask")
    )
    bitmap = masks.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.bit_count("mask")).alias("n_distinct_bitmap"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_distinct_exact"))
    )
    return bitmap.join(F.broadcast(exact), "event_type")


def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median quantity per return flag: the smallest
    quantity q where the cumulative revenue of rows with quantity ≤ q
    reaches half the group's total (lower weighted median). Entirely
    integer arithmetic — the crossing test is 2·cum ≥ total on exact
    cents, so no midpoint float ever forms. The plain (unweighted)
    median ignores that a 50-unit line carries 50× the money of a
    1-unit line; the weighted one answers "half the revenue sits at or
    below THIS quantity".

    Scale notes (100 TB): pre-aggregate to (group, quantity) cells
    first — the window then runs over ≤|quantity domain| rows per
    group, not fact rows, and the fact-sized work is one map-side-
    combinable rollup. The crossing row is selected with min-over-
    filter, no driver logic.
    """
    from pyspark.sql import Window

    cells = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_returnflag",
            F.col("l_quantity").cast("long").alias("qty"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("l_returnflag", "qty")
        .agg(F.sum("cents").alias("w"))
    )
    wo = Window.partitionBy("l_returnflag").orderBy("qty")
    cum = F.sum("w").over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = F.sum("w").over(Window.partitionBy("l_returnflag"))
    crossed = cells.select(
        "l_returnflag",
        "qty",
        tot.alias("total_cents"),
        (cum * 2 >= tot).alias("crossed"),
    ).filter("crossed")
    return crossed.groupBy("l_returnflag").agg(
        F.min("qty").alias("weighted_median_qty"),
        F.max("total_cents").alias("total_cents"),
    )


CUSUM_TOP = 5  # report the top-|S| candidate changepoint days


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen on the daily revenue series: the
    classic cumulative-sum statistic S_i = Σ_{j≤i}(y_j − ȳ), whose
    extremum marks the most likely single changepoint. Computed
    SCALED BY n — S'_i = n·cum_i − i·total — so the statistic stays
    exact integer arithmetic (no float mean subtraction to accumulate
    error); the reported deviation divides back once at the end.
    Output: the CUSUM_TOP days with the largest |S'|, their mean-
    relative deviation in cents and the sign (+1 level-up / −1
    level-down regime before vs after).

    Scale notes (100 TB): the only fact-sized pass is the daily
    rollup; the ordered window then runs on the dates-sized series
    (thousands of rows at any corpus size), and top-|S| is a
    TakeOrdered, not a sort. Exactness at scale forces the n-scaling:
    n·cum reaches ~10^20 at 100 TB, hence DECIMAL(38,0)/int128, not
    long.
    """
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").cast("decimal(19,0)").alias("rev"))
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("decimal(19,0)").alias("n"),
        F.sum("rev").alias("total"),
    )
    # bounded global window: calendar-days ladder (~thousands of rows)
    wo = Window.orderBy("day")
    scored = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "cum",
            F.sum("rev").over(
                wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "i", F.row_number().over(wo).cast("decimal(19,0)")
        )
        .withColumn(
            "s",
            F.col("n") * F.col("cum") - F.col("i") * F.col("total"),
        )
    )
    return (
        scored.orderBy(F.abs("s").desc(), "day")
        .limit(CUSUM_TOP)
        .select(
            "day",
            F.round(
                F.col("s").cast("double") / F.col("n").cast("double") / 100.0,
                2,
            ).alias("cusum_usd"),
            F.signum(F.col("s").cast("double")).cast("long").alias("sign"),
        )
    )


def audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise audience overlap between event types: Jaccard of
    the daily-active (user, day) key sets for every unordered type
    pair — the segment-overlap matrix behind "do clickers also buy".
    Output: both set sizes, the intersection and the Jaccard (exact
    integer ratio, rounded once at the end).

    Scale notes (100 TB): the self-join runs on DISTINCT thin
    (type, key-hash) rows — the join key is the member, so the shuffle
    is set-sized, not event-sized, and each member contributes at most
    |types|² pair rows (types is small). Per-type sizes broadcast back
    onto the tiny pair table. For hundreds of segments, switch to a
    bottom-k sketch per segment (`ext_kmv_distinct`) — same shape,
    constant-size state per segment.
    """
    keys = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.concat_ws(
            ":",
            F.col("user_id").cast("string"),
            F.date_format("ts", "yyyy-MM-dd"),
        ).alias("key"),
    )
    hashed = keys.select(
        "event_type", md5_long(F.col("key"), salt="kmv").alias("h")
    ).distinct()
    sizes = hashed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    a, b = hashed.alias("a"), hashed.alias("b")
    inter = (
        a.join(b, F.col("a.h") == F.col("b.h"))
        .filter(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_inter",
            F.round(
                F.col("n_inter")
                * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
    )


def sliding_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day, computed with mergeable
    chunk bitmaps instead of 7 overlapping COUNT(DISTINCT) passes:
    each (day, chunk) activity mask is SCATTERED to the 7 windows it
    participates in (a constant ×7 explode), masks BIT_OR-merge per
    (window-day, chunk), and bit_count sums give the exact distinct.
    `distinct users this week` for every day in one relational pass —
    the pre-aggregated daily state is what an incremental/streaming
    materialization would checkpoint.

    Scale notes (100 TB): event-sized work is only the daily mask
    build (map-side combined); the scatter multiplies the already
    tiny (days × active-chunks) state by the window length, never the
    events. Window length W costs ×W state — for W=90 switch to a
    two-level day→week pyramid (OR of 13 weekly masks + edge days).
    A cumulative count (min first-seen day per user) cannot do
    sliding windows; bitmaps can.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        F.floor(F.col("user_id") / 32).cast("long").alias("chunk"),
        (F.col("user_id") % 32).cast("int").alias("bit"),
    )
    masks = ev.groupBy("day", "chunk").agg(
        F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("mask")
    )
    scattered = masks.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
        "chunk",
        "mask",
    ).select(
        F.date_add("day", F.col("off")).alias("day"), "chunk", "mask"
    )
    win = scattered.groupBy("day", "chunk").agg(
        F.expr("bit_or(mask)").alias("m7")
    )
    days = ev.select("day").distinct()
    return (
        win.join(days, "day")
        .groupBy("day")
        .agg(F.sum(F.bit_count("m7")).alias("n_distinct_7d"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_distinct_7d",
        )
    )


EQD_BUCKETS = 10  # equi-depth histogram bucket count


def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equi-height) histogram of extended price — the
    optimizer-statistics histogram that adapts bucket widths to the
    data (a fixed-width histogram wastes buckets on empty ranges and
    crushes the mode into one bin; see `ext_histogram` for that
    primitive). Boundaries are the exact i/B percentiles of integer
    cents; rows are assigned by counting boundaries strictly below
    the value, so boundary ties land deterministically in the lower
    bucket on both engines. Output: per bucket its realized row count
    and [lo, hi] — near-equal counts, data-driven widths.

    Scale notes (100 TB): NO global sort and NO ntile window — the
    B−1 boundary values broadcast as a tiny array and assignment is a
    per-row scan expression, then one (bucket, agg) shuffle of B
    rows. The cumulative ladder over the DISTINCT values (which
    scales with the value domain, ~rows for near-unique prices) runs
    through range_prefix — range-partitioned prefix sums, never one
    task. At real scale compute boundaries with the mergeable
    t-digest (`percentile_approx`) instead of exact percentile; the
    assignment side is unchanged.
    """
    li = ensure_min_partitions(load_table(spark, sf_dir, "lineitem")).select(
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("pc")
    )
    # Boundaries WITHOUT the percentile aggregate: Spark's exact
    # percentile buffers the whole column into one reducer (~10×
    # slower here and memory-bound at scale). Round 10: the previous
    # form aggregated the 583k DISTINCT prices and ran the cumulative
    # ladder over them — but only 18 ORDER STATISTICS are consumed, so
    # rank the rows directly through range_prefix's rank-only fast
    # path (one range exchange, no distinct aggregation, no prefix
    # sums) and pick the rows whose global rank IS a boundary rank.
    # The value at a given rank is independent of how ties in pc are
    # ordered, so a monotonically_increasing_id tiebreak (unique per
    # materialization — the ladder checkpoints internally) satisfies
    # the unique-order contract without affecting the output. Rank
    # math is exact integer rational — lo_rank = (n−1)·i div B,
    # frac = ((n−1)·i mod B)/B — so both engines pick identical order
    # statistics (float (n−1)·q at a divisibility boundary does not).
    ranked = range_prefix(
        li.withColumn("_rid", F.monotonically_increasing_id()),
        ["pc", "_rid"],
        total_rows_col="_n",
    ).select("pc", "rnk")
    n = li.agg(F.count(F.lit(1)).alias("n"))
    ranks = (
        spark.range(1, EQD_BUCKETS)
        .withColumnRenamed("id", "i")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            F.expr(f"(n - 1) * i div {EQD_BUCKETS}").alias("lo_r"),
            (
                ((F.col("n") - 1) * F.col("i") % EQD_BUCKETS)
                / float(EQD_BUCKETS)
            ).alias("frac"),
            F.col("n"),
        )
        .select(
            "i",
            "lo_r",
            "frac",
            F.least(F.col("lo_r") + 1, F.col("n") - 1).alias("hi_r"),
        )
    )
    lo = (
        ranked.join(
            F.broadcast(ranks), F.col("rnk") == F.col("lo_r") + 1
        )
        .select("i", "frac", F.col("pc").alias("v_lo"))
    )
    hi = (
        ranked.join(
            F.broadcast(ranks), F.col("rnk") == F.col("hi_r") + 1
        )
        .select(F.col("i").alias("i2"), F.col("pc").alias("v_hi"))
    )
    blong = lo.join(F.broadcast(hi), F.col("i") == F.col("i2")).select(
        "i",
        F.floor(
            F.col("v_lo")
            + (F.col("v_hi") - F.col("v_lo")) * F.col("frac")
            + 0.5
        )
        .cast("long")
        .alias("b"),
    )
    bounds = blong.agg(
        *[
            F.max(F.when(F.col("i") == k + 1, F.col("b"))).alias(f"b{k}")
            for k in range(EQD_BUCKETS - 1)
        ]
    )
    bucket = sum(
        (F.col("pc") > F.col(f"b{i}")).cast("long")
        for i in range(EQD_BUCKETS - 1)
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "pc")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("pc") / 100.0, 2).alias("lo"),
            F.round(F.max("pc") / 100.0, 2).alias("hi"),
        )
    )


def fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO credit allocation per user: click values accrue a credit
    pool, purchase values consume it first-in-first-out — the classic
    inventory/lot-matching problem, solved relationally by turning
    both sides into CUMULATIVE ranges ([cum−x, cum) per event) and
    joining overlapping intervals; the overlap length IS the
    allocated amount. No loops, no state machine — two windows and a
    range join, all in exact cents. Output per user: allocation
    count, matched cents, and the unmatched remainder on each side.

    Scale notes (100 TB): both windows and the range join partition
    by user_id — one hash exchange each, per-user sequential scans.
    Intra-user skew (a mega-user's quadratic overlap pairs) is
    bounded because FIFO overlaps form a staircase: each click range
    overlaps at most (its span ÷ typical purchase) purchases, so the
    join output is ~linear in events, not quadratic.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")

    def ranged(typ: str, lo: str, hi: str) -> DataFrame:
        side = ev.filter(F.col("event_type") == typ)
        cum = F.sum("cents").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return side.select(
            "user_id",
            (cum - F.col("cents")).alias(lo),
            cum.alias(hi),
        )

    clicks = ranged("click", "cs", "ce")
    buys = ranged("purchase", "ps", "pe")
    alloc = (
        clicks.join(buys, "user_id")
        .filter((F.col("cs") < F.col("pe")) & (F.col("ps") < F.col("ce")))
        .select(
            "user_id",
            (
                F.least("ce", "pe") - F.greatest("cs", "ps")
            ).alias("matched"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_allocs"),
            F.sum("matched").alias("matched_cents"),
        )
    )
    totals = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "click", F.col("cents")).otherwise(
                0
            )
        ).alias("click_cents"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase", F.col("cents")
            ).otherwise(0)
        ).alias("purchase_cents"),
    )
    return (
        totals.join(alloc, "user_id")
        .select(
            "user_id",
            "n_allocs",
            "matched_cents",
            (F.col("click_cents") - F.col("matched_cents")).alias(
                "unused_credit_cents"
            ),
            (F.col("purchase_cents") - F.col("matched_cents")).alias(
                "uncovered_purchase_cents"
            ),
        )
    )


def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test: D = max |F_click(v) −
    F_purchase(v)| over the merged value ladder — the distribution-
    shape test that catches what a mean test can't (same mean,
    different shape). The CDFs are exact integer cumulative counts
    over the distinct-cents ladder; D and its location come from a
    TakeOrdered argmax (ties broken toward the smaller value), and
    the 5% rejection threshold 1.36·√((n_a+n_b)/(n_a·n_b)) rides
    along. max-of-doubles is order-insensitive, so unlike a float SUM
    this is deterministic with no special construction.

    Scale notes (100 TB): one map-side-combined (value, side) rollup,
    then the cumulative counts run through range_prefix (range-
    partitioned prefix sums) — the distinct-value ladder of a
    CONTINUOUS column is ~rows for near-unique values, so a global
    unpartitioned window here would funnel everything through one
    task (round-8 verdict). Argmax is TakeOrdered. Nothing holds more
    than the distinct-value table, and no stage holds it in one task.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
            (F.col("event_type") == "click").alias("is_a"),
        )
    )
    cells = ev.groupBy("v").agg(
        F.sum(F.col("is_a").cast("long")).alias("ca"),
        F.sum((~F.col("is_a")).cast("long")).alias("cb"),
    )
    tot = ev.agg(
        F.sum(F.col("is_a").cast("long")).alias("na"),
        F.sum((~F.col("is_a")).cast("long")).alias("nb"),
    )
    ladder = (
        range_prefix(cells, ["v"], sum_cols=("ca", "cb"))
        .select(
            "v",
            F.col("cum_ca").alias("cum_a"),
            F.col("cum_cb").alias("cum_b"),
        )
        .crossJoin(F.broadcast(tot))
    )
    d = F.abs(
        F.col("cum_a") / F.col("na") - F.col("cum_b") / F.col("nb")
    )
    return (
        ladder.select(
            "na", "nb", "v", d.alias("d")
        )
        .orderBy(F.col("d").desc(), "v")
        .limit(1)
        .select(
            "na",
            "nb",
            F.round("d", 6).alias("d_stat"),
            F.round(F.col("v") / 100.0, 2).alias("at_usd"),
            F.round(
                F.lit(1.36)
                * F.sqrt(
                    (F.col("na") + F.col("nb"))
                    / (F.col("na").cast("double") * F.col("nb"))
                ),
                6,
            ).alias("d_crit_5pct"),
        )
    )


_KM_NANO = 1_000_000_000  # fixed-point scale for the log-survival sum


def _surv_event_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared right-censored click→purchase survival construction:
    per-duration event rows (dur, d_at, n_risk) with d_at > 0 — the
    day-grid both Kaplan–Meier and Nelson–Aalen walk."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.to_date("ts").alias("day")
    )
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "click", F.col("day"))
            ).alias("t0"),
            F.max("day").alias("last_seen"),
        )
        .filter(F.col("t0").isNotNull())
    )
    first_buy = (
        ev.filter(F.col("event_type") == "purchase")
        .join(
            per_user.select("user_id", "t0"), "user_id"
        )
        .filter(F.col("day") >= F.col("t0"))
        .groupBy("user_id")
        .agg(F.min("day").alias("t_buy"))
    )
    durs = per_user.join(first_buy, "user_id", "left").select(
        F.datediff(
            F.coalesce("t_buy", "last_seen"), F.col("t0")
        ).cast("long").alias("dur"),
        F.col("t_buy").isNotNull().cast("long").alias("d"),
    )
    cells = durs.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n_at"),
        F.sum("d").alias("d_at"),
    )
    n_total = durs.agg(F.count(F.lit(1)).alias("n_total"))
    # bounded global window: duration-days grid (<= calendar span)
    wo = Window.orderBy("dur")
    return (
        cells.crossJoin(F.broadcast(n_total))
        .select(
            "dur",
            "n_at",
            "d_at",
            (
                F.col("n_total")
                - F.coalesce(
                    F.sum("n_at").over(
                        wo.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                )
            ).alias("n_risk"),
        )
        .filter(F.col("d_at") > 0)
    )


def nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard for click→purchase conversion —
    the estimator survival analysis reaches for when the HAZARD (not
    the survival probability) is the quantity of interest: H(t) =
    Σ_{t_i ≤ t} d_i/n_i accumulates risk additively, so segment
    slopes read directly as conversion intensity, and the companion
    variance Σ d_i/n_i² gives the pointwise confidence width.
    Kaplan–Meier (`ext_kaplan_meier`) shares this exact day-grid; the
    Breslow identity S ≈ exp(−H) ties the two (pytest-pinned).

    Exactness: each increment quantizes once — floor(1e9·d/n + 0.5),
    one IEEE division + floor — and the cumulative sums run on
    BIGINTs, so both engines walk identical integer sequences (no
    float running sum anywhere).

    Scale notes (100 TB): identical to Kaplan–Meier — one map-side
    combined per-user reduction, then all curve arithmetic on the
    durations-sized day grid.
    """
    from pyspark.sql import Window

    rows = _surv_event_rows(spark, sf_dir)
    hq = F.floor(
        F.col("d_at") / F.col("n_risk") * _KM_NANO + 0.5
    ).cast("long")
    vq = F.floor(
        F.col("d_at") / (F.col("n_risk") * F.col("n_risk")) * _KM_NANO
        + 0.5
    ).cast("long")
    # bounded global window: distinct-durations ladder
    wc = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = rows.select(
        "dur", "n_risk", "d_at", hq.alias("hq"), vq.alias("vq")
    ).select(
        "dur",
        "n_risk",
        "d_at",
        F.sum("hq").over(wc).alias("cum_hq"),
        F.sum("vq").over(wc).alias("cum_vq"),
    )
    return curve.select(
        F.col("dur").alias("t_days"),
        "n_risk",
        F.col("d_at").alias("d_events"),
        (F.col("cum_hq").cast("double") / _KM_NANO).alias("cum_hazard"),
        (F.col("cum_vq").cast("double") / _KM_NANO).alias("hazard_var"),
    )


def kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for click→purchase conversion with
    RIGHT CENSORING: per user, time from first click to first
    subsequent purchase (event) or to last activity (censored — the
    observation that plain "average days to convert" silently throws
    away). S(t) = Π(1 − d_i/n_i) over event days, computed as the
    exp of an integer-quantized cumulative Σ ln(1 − d/n) — products
    of floats order-deterministically, same fixed-point trick as the
    entropy pack. Output per event day: risk-set size, events,
    survival and the discrete hazard d/n.

    Scale notes (100 TB): per-user reduction is one map-side-combined
    pass; the curve machinery (risk sets via reverse cumulative
    counts, the quantized log-sum) runs on the DURATIONS-sized
    day-grid, thousands of rows at any corpus size.
    """
    from pyspark.sql import Window

    graded = _surv_event_rows(spark, sf_dir)
    # the last event time can absorb the whole risk set (d = n):
    # ln(0) → substitute a -100-nat sentinel, which exp-rounds to the
    # correct S = 0 without an infinity crossing either engine
    logterm = F.when(
        F.col("d_at") < F.col("n_risk"),
        F.floor(
            F.log(1.0 - F.col("d_at") / F.col("n_risk")) * _KM_NANO + 0.5
        ).cast("long"),
    ).otherwise(F.lit(-100 * _KM_NANO).cast("long"))
    curve = graded.select(
        "dur", "n_risk", "d_at", logterm.alias("lq")
    ).withColumn(
        "cum_lq",
        F.sum("lq").over(
            # bounded global window: distinct-durations ladder
            Window.orderBy("dur").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    return curve.select(
        F.col("dur").alias("t_days"),
        "n_risk",
        F.col("d_at").alias("d_events"),
        F.round(F.exp(F.col("cum_lq") / _KM_NANO), 6).alias("survival"),
        F.round(F.col("d_at") / F.col("n_risk"), 6).alias("hazard"),
    )


BOOT_B = 40  # bootstrap replicates
BOOT_RES = 1_000_000  # uniform resolution for the hash-derived draws
# cumulative Poisson(1) pmf, capped at k=7 — the weight ladder
_POIS_CUM = (
    0.36787944, 0.73575888, 0.92073549, 0.98101184,
    0.99634015, 0.99940582, 0.99991676,
)


def poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for the mean purchase value — the
    resampling scheme that works when the data won't fit one machine:
    instead of drawing n rows with replacement (which needs global
    coordination), each row independently receives a Poisson(1)
    weight per replicate; replicate means are weighted means. Here
    the "draws" are salted hashes pushed through the Poisson(1)
    inverse CDF ladder, so the whole procedure is deterministic and
    the CI is exactly reproducible. The interval is the 2nd/39th of
    the 40 ordered replicate means (the discrete 2.5%/97.5% ranks —
    no interpolation, no float percentile).

    Scale notes (100 TB): the explode is a constant ×B fan-out of
    thin (replicate, weight, cents) rows feeding one
    map-side-combined weighted-sum pass; replicate means are B rows.
    This is THE distributed bootstrap — per-row independence is the
    entire design.
    """
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").cast("string").alias("eid"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
    )
    reps = ev.select(
        "eid",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("rep"),
    )
    u = (
        md5_long(
            F.concat_ws("#", F.col("eid"), F.col("rep")), salt="boot"
        )
        % BOOT_RES
        + 0.5
    ) / float(BOOT_RES)
    w = F.lit(7)
    for k in range(len(_POIS_CUM) - 1, -1, -1):
        w = F.when(u < _POIS_CUM[k], k).otherwise(w)
    means = (
        reps.select("rep", w.cast("long").alias("w"), "cents")
        .groupBy("rep")
        .agg(
            (
                F.sum(F.col("w") * F.col("cents"))
                / (100.0 * F.sum("w"))
            ).alias("m")
        )
    )
    # bounded global window: one row per bootstrap replicate (BOOT_REPS)
    wo = Window.orderBy("m", "rep")
    ranked = means.select(
        F.row_number().over(wo).alias("rk"), "m"
    )
    point = ev.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum("cents") / (100.0 * F.count(F.lit(1)))).alias("mean"),
    )
    # ONE aggregate picks both CI ranks — filtering `ranked` twice
    # would duplicate its whole subtree (and its scan) in the plan
    ci = ranked.agg(
        F.max(F.when(F.col("rk") == 2, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("rk") == BOOT_B - 1, F.col("m"))).alias(
            "hi"
        ),
    )
    return (
        point.crossJoin(F.broadcast(ci))
        .select(
            "n",
            F.round("mean", 4).alias("mean_usd"),
            F.round("lo", 4).alias("ci_lo_usd"),
            F.round("hi", 4).alias("ci_hi_usd"),
        )
    )


TFIDF_DF_MAX_PCT = 50  # drop tokens in more than half the docs
TFIDF_TOPK = 20


def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity — the CLASSIC sparse vector
    join, complementing the set-based (Jaccard/MinHash) and dense
    (embedding) routes: docs as tf·idf vectors over a df-capped
    vocabulary, pairwise dot products via the inverted index (only
    co-occurring tokens ever meet), cosine from `_qsum`-quantized
    dot products and norms so the float sums are order-proof. Output:
    the TFIDF_TOPK most cosine-similar pairs.

    Scale notes (100 TB): the self-join is keyed on the TOKEN, so
    shuffle volume is index-sized and the df cap bounds each token's
    fan-out (df² pairs) — the same stop-word economics as
    `ext_dedup_jaccard`; the norm pass is one map-side-combined
    rollup. Dot products accumulate as exact longs.
    """
    docs = ensure_min_partitions(
        load_table(spark, sf_dir, "documents")
    ).select(
        "doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("t")
    )
    tf = docs.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    nn = docs.agg(F.countDistinct("doc_id").alias("nd"))
    df = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    vocab = df.crossJoin(F.broadcast(nn)).filter(
        F.col("df") * 100 <= F.col("nd") * TFIDF_DF_MAX_PCT
    )
    w = (
        tf.join(vocab, "t")
        .select(
            "doc_id",
            "t",
            (
                F.col("tf")
                * F.log(F.col("nd").cast("double") / F.col("df"))
            ).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        _qsum(F.col("w") * F.col("w")).alias("nq")
    )
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(b, F.col("a.t") == F.col("b.t"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            _qsum(F.col("a.w") * F.col("b.w")).alias("dq"),
            F.count(F.lit(1)).alias("n_shared"),
        )
    )
    na = norms.select(
        F.col("doc_id").alias("doc_a"), F.col("nq").alias("qa")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_b"), F.col("nq").alias("qb")
    )
    cos = (F.col("dq") / _NANO) / (
        F.sqrt(F.col("qa") / _NANO) * F.sqrt(F.col("qb") / _NANO)
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_shared", F.round(cos, 6).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), "doc_a", "doc_b")
        .limit(TFIDF_TOPK)
    )


BM25_QUERY = ("hash", "join", "window")  # fixed keyword query
BM25_K1, BM25_B = 1.2, 0.75
BM25_TOPK = 20


def _bm25_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One codegen pass over documents: (doc_id, dl, tf_i per query
    term) — tf by `size(filter(toks))`, dl by `size(toks)`; identical
    integers to the explode+count formulation, with no explode and no
    shuffle."""
    toks = F.split(F.col("text"), r"\s+")

    def _tf(term: str) -> F.Column:
        # NB: the filter lambda must be UNARY — a second parameter
        # (even a default-arg capture) selects PySpark's binary
        # (element, index) form and binds it to the index Column
        # (same trap as minhash_signature, functions/hashing.py)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    return ensure_min_partitions(
        load_table(spark, sf_dir, "documents")
    ).select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            _tf(term).cast("long").alias(f"tf_{i}")
            for i, term in enumerate(BM25_QUERY)
        ],
    )


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval for a fixed keyword query — the IR
    scoring the reference-class engines bolt on as FTS extensions,
    expressed relationally: score(d) = Σ_q idf(q) · tf·(k1+1) /
    (tf + k1·(1−b+b·dl/avgdl)) with the Robertson idf
    ln(1 + (N−df+0.5)/(df+0.5)). Per-doc score sums run through the
    qsum fixed-point reduction (≤|query| terms, but order-proof on
    principle). Output: top BM25_TOPK docs, tie-broken by doc_id.

    Scale notes (100 TB): ONE pass over the corpus computes per doc
    its length (`size(split)`) and one counter per query term
    (`size(filter(toks))`) — all inside whole-stage codegen, no
    explode, no corpus-wide shuffle (the former explode+groupBy doc
    length table shuffled every token; round-10). The per-term doc
    frequencies and corpus stats reduce to ONE broadcast row; scoring
    then touches only docs with a hit. At scale the tf pass is the
    scan itself; an inverted index/bucketing on token turns it into a
    pruned probe — the relational shape is unchanged either way.
    """
    per_doc = _bm25_per_doc(spark, sf_dir)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("dl").alias("total_len"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(BM25_QUERY))
        ],
    )
    postings = (
        per_doc.filter(
            sum(
                (F.col(f"tf_{i}") > 0).cast("int")
                for i in range(len(BM25_QUERY))
            )
            > 0
        )
        .select(
            "doc_id",
            "dl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("ti"),
                            F.col(f"tf_{i}").alias("tf"),
                        )
                        for i in range(len(BM25_QUERY))
                    ]
                )
            ).alias("p"),
        )
        .select("doc_id", "dl", "p.ti", "p.tf")
        .filter(F.col("tf") > 0)
    )
    df_col = F.when(F.col("ti") == 0, F.col("df_0"))
    for i in range(1, len(BM25_QUERY)):
        df_col = df_col.when(F.col("ti") == i, F.col(f"df_{i}"))
    scored = (
        postings.crossJoin(F.broadcast(stats))
        .withColumn("df", df_col)
        .select(
            "doc_id",
            (
                F.log(
                    1.0
                    + (F.col("nd") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (
                        1.0
                        - BM25_B
                        + BM25_B
                        * F.col("dl")
                        / (
                            F.col("total_len").cast("double")
                            / F.col("nd")
                        )
                    )
                )
            ).alias("term_score"),
            F.lit(1).cast("long").alias("hit"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            _qsum(F.col("term_score")).alias("sq"),
            F.sum("hit").alias("n_terms_hit"),
        )
        .select(
            "doc_id",
            "n_terms_hit",
            F.round(F.col("sq") / _NANO, 6).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_TOPK = 10


def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval fusion: combine the BM25 keyword ranking with
    a tf-based lexical-overlap ranking for the same query via
    Reciprocal Rank Fusion — score(d) = Σ_lists 1/(K + rank_d) — the
    standard trick for merging incomparable score scales (BM25 floats
    vs cosine vs anything) using only RANKS. Docs missing from a list
    simply contribute nothing (full-outer join). Output: the fused
    top-RRF_TOPK with both source ranks.

    Scale notes (100 TB): both input rankings are top-K TakeOrdered
    results — K-row tables; fusion is a K-row full-outer join. The
    expensive parts are the underlying retrievals, already bounded.
    """
    from pyspark.sql import Window

    bm = bm25_search(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        # bounded global window: post-limit top-K rows, never the corpus
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .cast("long")
        .alias("r_bm25"),
    )
    # second list: rank by raw query-term hit COUNT (coverage-first
    # lexical overlap — deliberately a different scale/shape); same
    # no-explode single-pass counters as bm25_search (round-10)
    per_doc = _bm25_per_doc(spark, sf_dir)
    n_terms = len(BM25_QUERY)
    cov = (
        per_doc.select(
            "doc_id",
            sum(F.col(f"tf_{i}") for i in range(n_terms)).alias("hits"),
            sum(
                (F.col(f"tf_{i}") > 0).cast("long") for i in range(n_terms)
            ).alias("terms"),
        )
        .filter(F.col("hits") > 0)
        .orderBy(
            F.col("terms").desc(), F.col("hits").desc(), "doc_id"
        )
        .limit(BM25_TOPK)
    )
    cv = cov.select(
        "doc_id",
        F.row_number()
        .over(
            # bounded global window: post-limit top-K rows, never the corpus
            Window.orderBy(
                F.col("terms").desc(), F.col("hits").desc(), "doc_id"
            )
        )
        .cast("long")
        .alias("r_cov"),
    )
    fused = bm.join(cv, "doc_id", "full_outer").select(
        "doc_id",
        "r_bm25",
        "r_cov",
        (
            F.coalesce(1.0 / (RRF_K + F.col("r_bm25")), F.lit(0.0))
            + F.coalesce(1.0 / (RRF_K + F.col("r_cov")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.col("rrf").desc(), "doc_id")
        .limit(RRF_TOPK)
        .select(
            "doc_id", "r_bm25", "r_cov", F.round("rrf", 6).alias("rrf")
        )
    )


HR_K = 5  # diversified picks from the fused list
HR_Q = 10_000  # quantization steps (rank rel and cosine share scale)


def _mmr_greedy_kernel(pool_pdf, sims_pdf):
    """Greedy λ-MMR selection over the BOUNDED candidate pool (≤
    RRF_TOPK rows) and its pairwise quantized-cosine table (≤ TOPK²
    rows) — integer arithmetic only, replicating the join/window
    formulation pick-for-pick: step 1 maximizes (rel_q, -doc_id);
    step t maximizes (rel_q·7 − 3·max_{b∈sel} s(a,b), -doc_id) over
    the unselected, mirroring the inner join on the sims table (a
    candidate without a sims row to any selected doc is skipped, as
    the join would drop it)."""
    import pandas as pd

    pool = [
        (int(r.doc_id), int(r.fr), int(r.rel_q))
        for r in pool_pdf.itertuples(index=False)
    ]
    smap = {
        (int(r.a_id), int(r.b_id)): int(r.s)
        for r in sims_pdf.itertuples(index=False)
    }
    rows: list[tuple] = []
    sel_ids: list[int] = []
    if pool:
        did, fr, rel_q = max(pool, key=lambda p: (p[2], -p[0]))
        rows.append((1, did, fr, rel_q, rel_q * 7))
        sel_ids.append(did)
    for t in range(2, HR_K + 1):
        scored = [
            (p[2] * 7 - 3 * max(sims), p)
            for p in pool
            if p[0] not in sel_ids
            and (
                sims := [
                    smap[(p[0], b)] for b in sel_ids if (p[0], b) in smap
                ]
            )
        ]
        if not scored:
            break
        score, (did, fr, rel_q) = max(scored, key=lambda c: (c[0], -c[1][0]))
        rows.append((t, did, fr, rel_q, score))
        sel_ids.append(did)
    return pd.DataFrame(
        rows, columns=["step", "doc_id", "fr", "rel_q", "score"]
    )


def hybrid_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end hybrid retrieval in ONE Catalyst plan: BM25 keyword
    ranking + coverage ranking → reciprocal-rank fusion (top
    RRF_TOPK) → embedding join → greedy MMR-style diversification of
    the final slate — the full modern retrieval stack (lexical recall,
    rank fusion, semantic de-redundancy) composed from this engine's
    own operators, the way a production RAG pipeline actually chains
    them. Relevance enters the greedy stage as the fused RANK mapped
    to the cosine quantization scale ((TOPK+1−rank)·Q/TOPK — exact
    integers), so the λ=0.7 trade-off runs in one integer unit system;
    ties break on doc_id. Docs without an embedding row drop at the
    join (consistently in both engines).

    Scale notes (100 TB): the three retrieval stages are each bounded
    (postings probe, K-row fusion); the diversification works on ≤
    RRF_TOPK candidates — constant, like ext_mmr_rerank's precision
    stage. The whole pipeline shuffles nothing wider than the
    inverted-index probe. The greedy selection itself is ONE Arrow
    cogroup kernel over the (pool, pairwise-sims) tables — both
    bounded at ≤ TOPK / TOPK² rows BY CONSTRUCTION — because greedy
    MMR is inherently sequential in the picks: the former HR_K-step
    driver loop of joins+windows rebuilt and ran a multi-stage plan
    per pick (~2.5 s of fixed cost at any data scale for 10 rows).
    The pairwise dots stay JVM-side (quantized to exact integers
    BEFORE the kernel), so Python arithmetic is integer-only and the
    oracle equivalence is bit-exact.
    """
    from pyspark.sql import Window

    from mini_sql_engine_spark.functions import vector

    def q4(c):
        return F.floor(F.round(c, 4) * HR_Q + 0.5).cast("long")

    fused = rrf_fusion(spark, sf_dir)
    ranked = fused.select(
        "doc_id",
        F.row_number()
        # bounded global window: post-limit top-K rows, never the corpus
        .over(Window.orderBy(F.col("rrf").desc(), "doc_id"))
        .cast("long")
        .alias("fr"),
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    cand = (
        ranked.join(emb, "doc_id")
        .select(
            "doc_id",
            "fr",
            (
                (RRF_TOPK + 1 - F.col("fr")) * (HR_Q // RRF_TOPK)
            ).alias("rel_q"),
            "embedding",
        )
        .coalesce(1)
    ).localCheckpoint(eager=False)
    a = cand.select(
        F.col("doc_id").alias("a_id"), F.col("embedding").alias("ae")
    )
    b = cand.select(
        F.col("doc_id").alias("b_id"), F.col("embedding").alias("be")
    )
    sims = a.join(b, F.col("a_id") != F.col("b_id")).select(
        "a_id", "b_id", q4(vector.dot(F.col("ae"), F.col("be"))).alias("s")
    )
    pool = cand.select("doc_id", "fr", "rel_q")
    sel = (
        pool.withColumn("g", F.lit(1))
        .groupBy("g")
        .cogroup(sims.withColumn("g", F.lit(1)).groupBy("g"))
        .applyInPandas(
            _mmr_greedy_kernel,
            "step long, doc_id long, fr long, rel_q long, score long",
        )
    )
    return sel.select(
        "step",
        "doc_id",
        F.col("fr").alias("fused_rank"),
        F.round(F.col("rel_q") / HR_Q, 4).alias("rel"),
        F.round(F.col("score") / (HR_Q * 10.0), 5).alias("mmr"),
    )


SNIP_W = 10  # snippet window length in tokens


def snippet_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-passage (KWIC) snippet extraction: for every document
    matching the keyword query, find the SNIP_W-token window packing
    the most query-term hits and emit it as text. Window scoring is
    scatter-based — each hit position votes for the ≤W window starts
    that would contain it, one groupBy picks the densest start
    (ties → leftmost) — the same scatter-to-windows shape as the
    sliding bitmap, reused on token positions. Output: doc_id, hit
    stats and the reconstructed snippet.

    Scale notes (100 TB): only matching docs' positions explode (×W
    on HIT positions, not all tokens); the per-doc argmax is a keyed
    max_by, no global sort.
    """
    docs = ensure_min_partitions(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", F.split(F.col("text"), r"\s+").alias("toks"))
    pos = docs.select(
        "doc_id", F.posexplode("toks").alias("p", "t")
    ).filter(F.col("t").isin(*BM25_QUERY))
    votes = pos.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.greatest(F.col("p") - SNIP_W + 1, F.lit(0)), F.col("p")
            )
        ).alias("start"),
    )
    best = (
        votes.groupBy("doc_id", "start")
        .agg(F.count(F.lit(1)).alias("hits"))
        .groupBy("doc_id")
        .agg(
            F.max(
                F.struct(
                    "hits", (-F.col("start")).alias("neg_start")
                )
            ).alias("b")
        )
        .select(
            "doc_id",
            F.col("b.hits").alias("win_hits"),
            (-F.col("b.neg_start")).cast("long").alias("win_start"),
        )
    )
    return (
        best.join(docs, "doc_id")
        .select(
            "doc_id",
            "win_hits",
            "win_start",
            F.array_join(
                F.slice(
                    "toks", F.col("win_start").cast("int") + 1, SNIP_W
                ),
                " ",
            ).alias("snippet"),
        )
    )


TS_MAX_OFFSET = 60  # banded Theil-Sen: pair days at most this far apart


def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test on daily revenue — the
    distribution-free significance companion to the trend ESTIMATORS
    (`ext_theil_sen_slope` fits a line robustly; this answers "is there
    a trend AT ALL" without assuming linearity or normality).
    S = Σ_{i<j} sign(rev_j − rev_i) over day pairs, tie-corrected
    variance Var = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)]/18,
    continuity-corrected z.

    Exactness: S and the ×18 variance numerator are pure BIGINT
    arithmetic; z is the identical three-op IEEE sequence
    (divide-by-18, sqrt, divide) in both engines.

    Scale notes (100 TB): the pair set is quadratic ON THE DATE
    LADDER — bounded by the calendar (years of days), never by data
    volume; the corpus pays exactly one map-side-combinable daily
    rollup, checkpointed once for its three scalar consumers. For
    ladders beyond ~10^4 points, swap the pair sum for the
    O(n log n) inversion-count form.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01")
            ).alias("xd")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("rev")
        )
        .localCheckpoint()  # three scalar consumers, one orders pass
    )
    a, b = daily.alias("a"), daily.alias("b")
    s_stat = a.join(b, F.col("a.xd") < F.col("b.xd")).agg(
        F.sum(
            F.when(F.col("b.rev") > F.col("a.rev"), 1)
            .when(F.col("b.rev") < F.col("a.rev"), -1)
            .otherwise(0)
        ).alias("s_stat")
    )
    ties = (
        daily.groupBy("rev")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    nn = daily.agg(F.count(F.lit(1)).alias("n_days"))
    var18 = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.col("tie_term")
    )
    z = F.when(
        F.col("s_stat") > 0,
        (F.col("s_stat") - 1).cast("double")
        / F.sqrt(F.col("var18").cast("double") / 18.0),
    ).when(
        F.col("s_stat") < 0,
        (F.col("s_stat") + 1).cast("double")
        / F.sqrt(F.col("var18").cast("double") / 18.0),
    ).otherwise(F.lit(0.0))
    return (
        s_stat.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(nn))
        .withColumn("var18", var18)
        .select(
            "n_days",
            "s_stat",
            "var18",
            z.alias("z_score"),
            F.when(z > 1.96, "increasing")
            .when(z < -1.96, "decreasing")
            .otherwise("none")
            .alias("trend"),
        )
    )


def theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded Theil–Sen robust trend: the MEDIAN of pairwise revenue
    slopes across day pairs at most TS_MAX_OFFSET apart — the
    windowed variant of the 29.3%-breakdown estimator that shrugs
    off the outlier days dragging a least-squares line (the OLS
    slope rides along for contrast). Banding is not
    just an optimization: short-offset slopes weight local trend
    over level shifts, and it turns the O(days²) pair set into
    O(days·W) — this IS the estimator long series run. Slopes are
    exact-integer ratios evaluated once into doubles; the median is
    the exact interpolated percentile (≡ quantile_cont, parity
    pinned by ext_percentiles).

    Scale notes (100 TB): days·W thin pairs from a dates-sized
    self-join; the percentile buffers only the banded pair set.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01")
            ).alias("xd")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("rev")
        )
        .localCheckpoint()  # consumed by pairs AND the OLS moments
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.xd") < F.col("b.xd"))
        & (F.col("b.xd") - F.col("a.xd") <= TS_MAX_OFFSET),
    ).select(
        (
            (F.col("b.rev") - F.col("a.rev")).cast("double")
            / (F.col("b.xd") - F.col("a.xd"))
        ).alias("slope")
    )
    ts = slopes.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("percentile(slope, 0.5)").alias("ts_slope"),
    )
    dec = "decimal(19,0)"
    m = daily.select(
        F.col("xd").cast(dec).alias("x"), F.col("rev").cast(dec).alias("y")
    ).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    ols = m.select(
        F.col("n").cast("long").alias("n_days"),
        (
            (
                (F.col("n") * F.col("sxy")).cast("double")
                - (F.col("sx") * F.col("sy")).cast("double")
            )
            / (
                (F.col("n") * F.col("sxx")).cast("double")
                - (F.col("sx") * F.col("sx")).cast("double")
            )
        ).alias("ols_slope"),
    )
    return ols.crossJoin(F.broadcast(ts)).select(
        "n_days",
        "n_pairs",
        F.round(F.col("ts_slope") / 100.0, 6).alias(
            "theil_sen_usd_per_day"
        ),
        F.round(F.col("ols_slope") / 100.0, 6).alias("ols_usd_per_day"),
    )


_SHAP_CHANNELS = ("click", "view", "signup")


def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value conversion attribution over the three
    marketing channels — the coalition-game answer to "which channel
    deserves the conversion" that last-touch (`ext_attribution_
    last_touch`) answers by fiat. Coalition value v(S) = conversions
    from users whose pre-purchase touched-channel set ⊆ S; with 3
    channels the Shapley sum has closed weights (2,1,1,2)/6, so the
    whole computation runs ×6 in EXACT INTEGERS from the 7
    touched-set counts and divides once at the end. The channel
    values sum to total attributed conversions — the additivity
    axiom, visible in the output as a self-check column.

    Scale notes (100 TB): one conditional-aggregate pass to per-user
    touch flags, one 8-cell rollup, then constant combinatorics. The
    n-channel general case is exponential by nature — 3-5 channels
    is exactly where exact Shapley is used in practice.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    first_buy = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t_buy"))
    )
    flags = (
        ev.join(first_buy, "user_id")
        .filter(F.col("ts_us") < F.col("t_buy"))
        .groupBy("user_id")
        .agg(
            *[
                F.max(
                    (F.col("event_type") == ch).cast("long")
                ).alias(f"f_{i}")
                for i, ch in enumerate(_SHAP_CHANNELS)
            ]
        )
        .filter(F.col("f_0") + F.col("f_1") + F.col("f_2") > 0)
    )
    cells = flags.groupBy("f_0", "f_1", "f_2").agg(
        F.count(F.lit(1)).alias("c")
    )

    def cnt(a: int, b: int, c: int):
        return F.sum(
            F.when(
                (F.col("f_0") == a)
                & (F.col("f_1") == b)
                & (F.col("f_2") == c),
                F.col("c"),
            ).otherwise(0)
        )

    one = cells.agg(
        cnt(1, 0, 0).alias("cA"),
        cnt(0, 1, 0).alias("cB"),
        cnt(0, 0, 1).alias("cC"),
        cnt(1, 1, 0).alias("cAB"),
        cnt(1, 0, 1).alias("cAC"),
        cnt(0, 1, 1).alias("cBC"),
        cnt(1, 1, 1).alias("cABC"),
    )
    # v(S) = Σ_{T⊆S} count_T; Shapley_i·6 = 2[v(i)] + 1[v(i∪j)−v(j)]
    # + 1[v(i∪k)−v(k)] + 2[v(ijk)−v(jk)]  (v(∅)=0)
    A, B, C = F.col("cA"), F.col("cB"), F.col("cC")
    AB, AC, BC, ABC = (
        F.col("cAB"),
        F.col("cAC"),
        F.col("cBC"),
        F.col("cABC"),
    )
    vA, vB, vC = A, B, C
    vAB, vAC, vBC = A + B + AB, A + C + AC, B + C + BC
    vABC = A + B + C + AB + AC + BC + ABC
    sh = {
        "click": 2 * vA + (vAB - vB) + (vAC - vC) + 2 * (vABC - vBC),
        "view": 2 * vB + (vAB - vA) + (vBC - vC) + 2 * (vABC - vAC),
        "signup": 2 * vC + (vAC - vA) + (vBC - vB) + 2 * (vABC - vAB),
    }
    total = vABC
    wide = one.select(
        *[v.alias(f"s6_{ch}") for ch, v in sh.items()],
        total.alias("total_conv"),
    )
    stack = ", ".join(f"'{ch}', s6_{ch}" for ch in sh)
    return wide.selectExpr(
        f"stack(3, {stack}) AS (channel, s6)", "total_conv"
    ).select(
        "channel",
        F.round(F.col("s6") / 6.0, 4).alias("shapley_conversions"),
        "total_conv",
    )


def journey_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey predictability: the conditional entropy of the NEXT
    event given the current one, per state — the information-theoretic
    summary of the event-type transition matrix (H ≈ 0: railroad
    journeys, a next-step cache would hit; H ≈ ln k: anything can
    happen). Per-state H = −Σ_j (c_ij/c_i)·ln(c_ij/c_i) reduces
    through qsum; h_norm divides by ln(branches) into [0,1].

    Scale notes (100 TB): one user-keyed window builds the bigram
    stream; everything after lives on the (states × states) count
    matrix.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    bi = (
        ev.withColumn("nxt", F.lead("event_type", 1).over(wo))
        .filter(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("cur"), "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    outc = bi.groupBy("cur").agg(
        F.sum("c").alias("ci"), F.count(F.lit(1)).alias("n_branches")
    )
    term = -(F.col("c") / F.col("ci")) * F.log(
        F.col("c") / F.col("ci")
    )
    h = (
        bi.join(F.broadcast(outc), "cur")
        .groupBy("cur")
        .agg(_qsum(term).alias("hq"))
        .join(F.broadcast(outc), "cur")
    )
    hn = F.col("hq") / _NANO
    return h.select(
        "cur",
        F.col("ci").alias("n_transitions"),
        "n_branches",
        F.round(hn, 6).alias("h_nats"),
        F.round(
            F.when(
                F.col("n_branches") > 1,
                hn / F.log(F.col("n_branches").cast("double")),
            ).otherwise(0.0),
            6,
        ).alias("h_norm"),
    )


HILL_K = 50  # tail order statistics used by the Hill estimator


def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the revenue distribution's power-law tail
    index: α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1)) over the top-k customer
    revenue totals — the rigorous tail statistic next to
    `ext_zipf_fit`'s rank-slope regression (α ≤ 2 means infinite
    variance: means and stddevs of revenue stop being meaningful,
    which changes which statistics you are allowed to report). Top
    k+1 selection is TakeOrdered; the log-ratio sum reduces through
    qsum.

    Scale notes (100 TB): one customer rollup, a k+1-row TakeOrdered,
    k-row arithmetic — the estimator only ever looks at the tail it
    measures.
    """
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            ).alias("cents")
        )
        .filter(F.col("cents") > 0)
    )
    top = rev.orderBy(F.col("cents").desc(), "o_custkey").limit(
        HILL_K + 1
    )
    ref = top.agg(F.min("cents").alias("x_ref"))
    tail = top.crossJoin(F.broadcast(ref)).filter(
        F.col("cents") > F.col("x_ref")
    )
    agg = tail.agg(
        F.count(F.lit(1)).alias("k_used"),
        _qsum(
            F.log(
                F.col("cents").cast("double") / F.col("x_ref")
            )
        ).alias("lq"),
    )
    return agg.crossJoin(F.broadcast(ref)).select(
        "k_used",
        F.round(F.col("x_ref") / 100.0, 2).alias("x_ref_usd"),
        F.round(
            F.col("k_used") / (F.col("lq") / _NANO), 4
        ).alias("hill_alpha"),
    )


CONF_ALPHA = 0.1  # target 90% coverage


def conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for purchase value — the
    distribution-free uncertainty wrapper: fit the (trivial) mean
    predictor on the calibration half (hash split), take the
    ⌈(n+1)(1−α)⌉-th smallest absolute residual as the radius, and
    VERIFY the finite-sample guarantee by measuring coverage on the
    held-out half. The quantile is a discrete order statistic (exact
    rank, no interpolation — the conformal definition), selected via
    the same rank-lookup machinery as the equi-depth histogram.
    Output: one row with the interval and both halves' realized
    coverage.

    Scale notes (100 TB): two conditional aggregates and one ranked
    selection on the calibration residual ladder — conformal's
    selling point is exactly that it adds only order statistics on
    top of any predictor.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
            (
                md5_long(F.col("event_id").cast("string"), salt="conf")
                % 2
                == 0
            ).alias("cal"),
        )
    )
    mu = ev.filter("cal").agg(
        F.floor(F.sum("c") / F.count(F.lit(1)) + 0.5)
        .cast("long")
        .alias("mu"),
        F.count(F.lit(1)).alias("n_cal"),
    )
    resid = (
        ev.filter("cal")
        .crossJoin(F.broadcast(mu))
        .select(F.abs(F.col("c") - F.col("mu")).alias("r"))
    )
    # radius = the ceil((n+1)(1-alpha))-th smallest residual (exact
    # conformal rank); computed from range-partitioned prefix counts
    # over the residual value ladder
    cells = resid.groupBy("r").agg(F.count(F.lit(1)).alias("k"))
    # residuals of a continuous value have a ~rows-sized distinct
    # ladder — range-partitioned prefix sums, never one task
    ladder = range_prefix(cells, ["r"], sum_cols=("k",)).select(
        "r",
        (F.col("cum_k") - F.col("k")).alias("cum_prev"),
        F.col("cum_k").alias("cum"),
    )
    rank = F.ceil(
        (F.col("n_cal") + 1) * F.lit(1.0 - CONF_ALPHA)
    ).cast("long")
    radius = (
        ladder.crossJoin(F.broadcast(mu))
        .filter(
            (F.col("cum_prev") < rank) & (rank <= F.col("cum"))
        )
        .select(F.col("r").alias("radius"))
    )
    cov = (
        ev.crossJoin(F.broadcast(mu))
        .crossJoin(F.broadcast(radius))
        .groupBy("cal")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    F.abs(F.col("c") - F.col("mu")) <= F.col("radius")
                ).cast("long")
            ).alias("n_in"),
        )
    )
    c1 = cov.filter("cal").select(
        F.col("n").alias("n_cal"), F.col("n_in").alias("in_cal")
    )
    c0 = cov.filter(~F.col("cal")).select(
        F.col("n").alias("n_test"), F.col("n_in").alias("in_test")
    )
    return (
        mu.crossJoin(F.broadcast(radius))
        .crossJoin(F.broadcast(c1.drop("n_cal")))
        .crossJoin(F.broadcast(c0))
        .select(
            "n_cal",
            "n_test",
            F.round(F.col("mu") / 100.0, 2).alias("pred_usd"),
            F.round(F.col("radius") / 100.0, 2).alias("radius_usd"),
            F.round(F.col("in_cal") / F.col("n_cal"), 4).alias(
                "coverage_cal"
            ),
            F.round(F.col("in_test") / F.col("n_test"), 4).alias(
                "coverage_test"
            ),
        )
    )


ECE_BINS = 10
ECE_SMOOTH = 2  # p̂ = clicks / (clicks + ECE_SMOOTH): a monotone
# activity-based conversion score — exact small-integer ratio, so both
# engines compute bit-identical doubles


def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT isotonic regression (the pool-adjacent-violators fit) of
    the conversion label on the click-count score ladder — the
    calibration FIX for a miscalibrated score:
    the fitted values are the unique monotone sequence minimizing
    squared error, i.e. the calibrated probabilities a thresholding
    gate should use instead of the raw scores.

    PAV is usually presented as a sequential merge loop; this uses
    the closed-form minimax identity fit_i = max_{j≤i} min_{k≥i}
    avg(y over ladder[j..k]), which turns the whole fit into joins
    and aggregates over the LADDER (distinct click counts — tens of
    rows), not the corpus. Interval averages are (S_k−S_{j−1}) /
    (N_k−N_{j−1}) on BIGINT prefix sums — one IEEE division each, so
    both engines compare identical doubles and the min/max pick
    identical values.

    Scale notes (100 TB): one user-day rollup (map-side combinable)
    collapses the corpus onto the ladder; the O(L³) minimax triple
    runs on L≈20 ladder rows — constant work regardless of data
    volume. A continuous score would quantize onto a bounded ladder
    first (ext_equidepth_histogram), which is also how production
    isotonic calibrators bin anyway.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    ladder = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).alias("clicks"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y"),
        )
        .groupBy("clicks")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("pos"),
        )
        .localCheckpoint()  # the whole corpus collapses to ~L rows here
    )
    # bounded global window: ~L click-count cells (see checkpoint)
    wc = Window.orderBy("clicks").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = ladder.select(
        "clicks",
        "n",
        "pos",
        F.sum("n").over(wc).alias("cn"),
        F.sum("pos").over(wc).alias("cs"),
    )
    # interval averages avg(j..k) from prefix sums; j,k are ladder
    # clicks values with j <= k
    a, b = pre.alias("a"), pre.alias("b")
    intervals = a.join(
        b, F.col("a.clicks") <= F.col("b.clicks")
    ).select(
        F.col("a.clicks").alias("j"),
        F.col("b.clicks").alias("k"),
        (
            (
                F.col("b.cs") - F.col("a.cs") + F.col("a.pos")
            ).cast("double")
            / (F.col("b.cn") - F.col("a.cn") + F.col("a.n")).cast("double")
        ).alias("avg_jk"),
    )
    pts = pre.select(F.col("clicks").alias("i"))
    inner = (
        intervals.join(
            pts,
            (F.col("j") <= F.col("i")) & (F.col("i") <= F.col("k")),
        )
        .groupBy("i", "j")
        .agg(F.min("avg_jk").alias("m_ij"))
        .groupBy("i")
        .agg(F.max("m_ij").alias("iso_p"))
    )
    return (
        pre.join(inner, pre["clicks"] == inner["i"])
        .select(
            "clicks",
            "n",
            "pos",
            (F.col("pos").cast("double") / F.col("n").cast("double")).alias(
                "raw_rate"
            ),
            "iso_p",
        )
    )


def propensity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor propensity matching (with replacement) and the
    matched ATT: treated users (hash arm) each match the control
    activity level nearest their own (ties → the lower level), and the
    effect is the mean of (treated outcome − matched control mean) —
    the workhorse observational-causal adjustment when covariates,
    not randomization, drive assignment. The propensity proxy is the
    integer activity count, so matching is exact integer arithmetic.

    Execution: controls collapse to one row per distinct activity
    level (count + outcome sum — matching WITH replacement needs only
    the level means, never the control rows); the nearest level per
    treated user comes from a sorted interleave — union the control
    levels with the treated rows, one pass of last_value-ignore-nulls
    in each direction, pick the closer side. The oracle runs the same
    two windows.

    Scale notes (100 TB): the interleave's two directional passes run
    through range_prefix (range-partitioned prefix max — the
    last-non-null propagation, since control levels ascend with the
    sort key); everything after is per-row arithmetic plus one
    broadcast join back to the collapsed control levels
    (|levels| ≪ |users|).
    """
    from pyspark.sql import Window

    users = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("a"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.floor(F.col("value") * 100 + 0.5).cast("long"),
                ).otherwise(0)
            ).alias("x"),
        )
        .select(
            "user_id",
            "a",
            "x",
            (md5_long(F.col("user_id").cast("string"), salt="arm") % 2).alias(
                "arm"
            ),
        )
        # the control and treated branches both consume this rollup —
        # checkpoint so the events scan runs once
        .localCheckpoint(eager=False)
    )
    ctrl = (
        users.filter(F.col("arm") == 0)
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("n_c"), F.sum("x").alias("sx"))
    )
    treated = users.filter(F.col("arm") == 1)
    stream = ctrl.select(
        F.col("a"),
        F.lit(0).alias("tag"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit(None).cast("long").alias("x"),
        F.col("a").alias("ctrl_a"),
    ).unionAll(
        treated.select(
            "a",
            F.lit(1).alias("tag"),
            "user_id",
            "x",
            F.lit(None).cast("long").alias("ctrl_a"),
        )
    )
    # last-non-null in each direction WITHOUT a single-partition
    # window: ctrl_a equals the sort key on control rows, so along
    # ascending (a, tag, user_id) order the last prior control level
    # IS the prefix max of ctrl_a — range_prefix's prevmax; the
    # backward pass is the same with negated keys. Treated rows carry
    # NULL ctrl_a, so strict-vs-inclusive frames agree on them.
    fwd = range_prefix(
        stream, ["a", "tag", "user_id"], max_cols=("ctrl_a",)
    ).withColumnRenamed("prevmax_ctrl_a", "prev_a")
    bwd = range_prefix(
        fwd.withColumn("_nega", -F.col("a")).withColumn(
            "_negctrl", -F.col("ctrl_a")
        ),
        ["_nega", "tag", "user_id"],
        max_cols=("_negctrl",),
    ).withColumn("next_a", -F.col("prevmax__negctrl"))
    matched = (
        bwd.filter(F.col("tag") == 1)
        .select(
            "user_id",
            "a",
            "x",
            F.when(F.col("prev_a").isNull(), F.col("next_a"))
            .when(F.col("next_a").isNull(), F.col("prev_a"))
            .when(
                F.col("a") - F.col("prev_a") <= F.col("next_a") - F.col("a"),
                F.col("prev_a"),
            )
            .otherwise(F.col("next_a"))
            .alias("m_a"),
        )
    )
    joined = matched.join(
        F.broadcast(ctrl.withColumnRenamed("a", "m_a")), "m_a"
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_treated"),
        F.round(
            _qsum(F.col("x") - F.col("sx") / F.col("n_c"))
            / _NANO
            / F.count(F.lit(1))
            / 100.0,
            4,
        ).alias("att_usd"),
        F.round(
            F.sum(F.abs(F.col("a") - F.col("m_a"))) / F.count(F.lit(1)), 6
        ).alias("avg_abs_gap"),
    )


# shared with the streaming twin via the leaf oracle_shared module
from mini_sql_engine_spark.oracle_shared import (  # noqa: E402
    PSI_BIN_CENTS,
    PSI_BINS,
)


def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the first and second half of
    the month (calendar split, day-of-month ≤ 15) over binned purchase
    values — the industry-standard "has my feature distribution
    shifted" monitor (PSI < 0.1 stable, > 0.25 action), complementing
    the JS (`ext_js_divergence`) monitor
    with the metric ops teams actually threshold on. Add-one smoothing
    keeps empty-on-one-side bins finite; PSI = Σ (p−q)·ln(p/q) runs
    through qsum (ln on identical exact-ratio operands is
    deterministic across engines). Bins empty on BOTH sides carry no
    row (and zero contribution) by construction.

    Scale notes (100 TB): one (bin, half) rollup with map-side
    partial agg, then arithmetic over PSI_BINS rows. The calendar
    split is a per-row predicate, so no second scan.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.least(
                F.floor(
                    F.floor(F.col("value") * 100 + 0.5) / PSI_BIN_CENTS
                ),
                F.lit(PSI_BINS - 1),
            )
            .cast("long")
            .alias("bin"),
            (F.dayofmonth("ts") <= 15).alias("early"),
        )
    )
    per_bin = ev.groupBy("bin").agg(
        F.sum(F.when(F.col("early"), 1).otherwise(0)).alias("n_early"),
        F.sum(F.when(F.col("early"), 0).otherwise(1)).alias("n_late"),
    )
    return psi_readout(per_bin)


def psi_readout(per_bin: DataFrame) -> DataFrame:
    """Smoothed-PSI arithmetic over a (bin, n_early, n_late) table —
    shared by the batch monitor and its exactly-once streaming twin
    (`stream_psi_drift` reads the same counts back from the merged
    native state table, and after a full drain they equal the batch
    counts exactly). Checkpoints the input: four consumers (totals,
    the row table, the PSI combine, the final select) would otherwise
    each re-run the upstream scan — Spark does not dedupe common
    subplans across DataFrame branches.
    """
    per_bin = per_bin.localCheckpoint(eager=False)
    tot = per_bin.agg(
        F.sum("n_early").alias("ne"), F.sum("n_late").alias("nl")
    )
    rws = per_bin.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_early",
        "n_late",
        ((F.col("n_early") + 1) / (F.col("ne") + PSI_BINS)).alias("p"),
        ((F.col("n_late") + 1) / (F.col("nl") + PSI_BINS)).alias("q"),
    ).localCheckpoint(eager=False)
    psi = rws.agg(
        _qsum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias(
            "psi_q"
        )
    )
    return rws.crossJoin(F.broadcast(psi)).select(
        "bin",
        "n_early",
        "n_late",
        F.round("p", 6).alias("p"),
        F.round("q", 6).alias("q"),
        F.round(F.col("psi_q") / _NANO, 6).alias("psi"),
    )


def wasserstein_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth-mover) distance between the click and
    purchase value distributions — the integral companion to the KS
    sup-statistic (`ext_ks_two_sample`): KS sees the single worst CDF
    gap, W₁ = ∫|F−G| sees the total transport cost, which is what a
    "how big is the shift in dollars" question actually asks. Exact on
    the integer-cents ladder: W₁ = Σ_i (v_{i+1}−v_i)·|F(v_i)−G(v_i)|
    with cumulative integer counts and exact count/total ratios; the
    float combine runs through qsum.

    Scale notes (100 TB): one (value, side) rollup, cumulative counts
    via range_prefix (range-partitioned prefix sums — a continuous
    column's distinct-cents ladder is ~rows, never one task; round-8
    verdict), successor values by a rank self-join on the ladder
    (ladder-sized shuffle, not a global lead window), one scalar
    combine. Same shape as the KS test.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
            (F.col("event_type") == "click").alias("is_a"),
        )
    )
    # one scan: the ladder rollup is the only corpus pass — totals
    # derive from it (Σ over cells ≡ Σ over rows), and the checkpoint
    # stops the total/ladder branches re-running the scan
    cells = ev.groupBy("v").agg(
        F.sum(F.col("is_a").cast("long")).alias("ca"),
        F.sum((~F.col("is_a")).cast("long")).alias("cb"),
    ).localCheckpoint(eager=False)
    tot = cells.agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
    )
    pre = range_prefix(cells, ["v"], sum_cols=("ca", "cb")).select(
        "v",
        F.col("cum_ca").alias("cum_a"),
        F.col("cum_cb").alias("cum_b"),
        "rnk",
    )
    # successor lookup: rank k joins rank k+1 — the inner join drops
    # the max-value row (no successor), same as the old lead+filter
    nxt = pre.select(
        (F.col("rnk") - 1).alias("rnk"), F.col("v").alias("next_v")
    )
    ladder = pre.join(nxt, "rnk").drop("rnk")
    w1 = ladder.crossJoin(F.broadcast(tot)).agg(
        _qsum(
            (F.col("next_v") - F.col("v"))
            * F.abs(F.col("cum_a") / F.col("na") - F.col("cum_b") / F.col("nb"))
        ).alias("w1_q"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
    )
    return w1.select(
        F.col("na").cast("long").alias("n_click"),
        F.col("nb").cast("long").alias("n_purchase"),
        F.round(F.col("w1_q") / _NANO / 100.0, 6).alias("w1_usd"),
    )


def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization: map every event's value onto the POOLED
    all-events distribution at the same within-group rank fraction —
    the transform that makes per-source feature distributions
    comparable (identical marginals) before mixing, standard in batch-
    effect correction and multi-source training-data blending. Exact
    rank arithmetic: within-group rank r of n_g maps to pooled rank
    k = ⌊((2r−1)·N)/(2·n_g)⌋ + 1 (midpoint rule) — all-integer
    operands below 2^53, so the double division floors identically on
    both engines; ties order by (value, event_id) for determinism.

    Scale notes (100 TB): the per-group rank window partitions by
    event_type; the POOLED ladder rank comes from range_prefix
    (range-partitioned, never one task); one shuffle join on the
    pooled rank. The pooled ladder can be sampled/sketched (t-digest)
    at real scale; the exact-rank form is the oracle-checkable spec.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
        # four consumers (group sizes, total, group ranks, pooled
        # ladder) — checkpoint the 3-column projection so the parquet
        # scan runs once; at real scale this materialization is the
        # standard "project then reuse" staging table
    ).localCheckpoint(eager=False)
    n_g = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_g"))
    n_tot = ev.agg(F.count(F.lit(1)).alias("n_tot"))
    wg = Window.partitionBy("event_type").orderBy("v", "event_id")
    ranked = (
        ev.withColumn("r", F.row_number().over(wg))
        .join(F.broadcast(n_g), "event_type")
        .crossJoin(F.broadcast(n_tot))
    )
    pooled = range_prefix(
        ev.select("v", "event_id"), ["v", "event_id"]
    ).select(F.col("rnk").alias("k"), F.col("v").alias("pv"))
    keyed = ranked.select(
        "event_id",
        "event_type",
        F.col("v").alias("orig_cents"),
        F.greatest(
            F.lit(1),
            F.least(
                F.col("n_tot"),
                F.floor(
                    (2 * F.col("r") - 1)
                    * F.col("n_tot")
                    / (2 * F.col("n_g"))
                ).cast("long")
                + 1,
            ),
        ).alias("k"),
    )
    return keyed.join(pooled, "k").select(
        "event_id", "event_type", "orig_cents", F.col("pv").alias("norm_cents")
    )


IV_CLICK_MIN = 15  # "heavy clicker" treatment threshold


def iv_wald(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variable (Wald) estimator: effect of clicking on
    spend using a hash instrument Z —
    β_IV = (E[y|z=1] − E[y|z=0]) / (E[d|z=1] − E[d|z=0]) — the
    estimator for when the treatment itself is confounded but an
    exogenous nudge exists (encouragement designs). Completes the
    causal toolkit next to DiD, stratification, matching and QTE.
    Everything reduces to ONE conditional-aggregate row over exact
    integer sums: spend in cents, d = user clicked ≥ once, z = hash
    arm; the intent-to-treat and first-stage contrasts ride along so
    a weak instrument is visible (|first_stage| small).

    Scale notes (100 TB): one user rollup, one 1-row conditional
    aggregate. No joins.
    """
    users = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.floor(F.col("value") * 100 + 0.5).cast("long"),
                ).otherwise(0)
            ).alias("y"),
            # d = heavy clicker (≥ IV_CLICK_MIN clicks): a binary
            # treatment with real variation at every scale (plain
            # "ever clicked" saturates to 1 for all users, collapsing
            # the first stage to zero)
            (
                F.sum(
                    F.when(F.col("event_type") == "click", 1).otherwise(0)
                )
                >= IV_CLICK_MIN
            )
            .cast("int")
            .alias("d"),
        )
        .select(
            "y",
            "d",
            (md5_long(F.col("user_id").cast("string"), salt="iv") % 2).alias(
                "z"
            ),
        )
    )
    row = users.agg(
        F.sum(F.when(F.col("z") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("z") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("z") == 1, F.col("y")).otherwise(0)).alias("sy1"),
        F.sum(F.when(F.col("z") == 0, F.col("y")).otherwise(0)).alias("sy0"),
        F.sum(F.when(F.col("z") == 1, F.col("d")).otherwise(0)).alias("sd1"),
        F.sum(F.when(F.col("z") == 0, F.col("d")).otherwise(0)).alias("sd0"),
    )
    itt = F.col("sy1") / F.col("n1") - F.col("sy0") / F.col("n0")
    fs = F.col("sd1") / F.col("n1") - F.col("sd0") / F.col("n0")
    return row.select(
        (F.col("n1") + F.col("n0")).alias("n_users"),
        F.round(itt / 100.0, 4).alias("itt_usd"),
        F.round(fs, 6).alias("first_stage"),
        # a zero first stage (no instrument-treatment link in this
        # sample) leaves the Wald ratio undefined — NULL, not an error
        F.when(fs != 0, F.round(itt / fs / 100.0, 4)).alias("wald_iv_usd"),
    )


# SPRT: H0 conversion p0 vs H1 p1; boundaries from alpha/beta = 0.05.
# The corpus daily conversion sits ~0.42, between the hypotheses, so
# the monitor shows a real sequential trajectory (days of "continue"
# before a boundary) instead of saturating on day one.
SPRT_P0 = 0.40
SPRT_P1 = 0.44
SPRT_LLR_CONV = math.log(SPRT_P1 / SPRT_P0)
SPRT_LLR_FAIL = math.log((1.0 - SPRT_P1) / (1.0 - SPRT_P0))
SPRT_LOG_A = math.log((1.0 - 0.05) / 0.05)  # accept-H1 boundary
SPRT_LOG_B = math.log(0.05 / (1.0 - 0.05))  # accept-H0 boundary


def sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test over the daily
    conversion stream: cumulative log-likelihood ratio of H1 (p=0.22)
    vs H0 (p=0.18) with the 5%/5% decision boundaries — the monitor
    that lets an experiment STOP the day evidence suffices instead of
    waiting out a fixed horizon (a fixed-N z-test). Per user-day:
    converted = any purchase.
    LLR increments are integer counts times two LITERAL constants
    (ln ratios precomputed driver-side), so the cumulative sum is
    exact integer arithmetic after quantization; the boundary
    comparison happens on identical doubles in both engines.

    Scale notes (100 TB): one user-day rollup, one |days|-row daily
    rollup, one cumulative window over days — the monitoring readout
    is O(days) after the first map-side-combined shuffle.
    """
    from pyspark.sql import Window

    ud = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id"
        )
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
    )
    daily = ud.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_userdays"),
        F.sum("conv").alias("n_conv"),
    )
    # quantized LLR increment: counts × literal ln-ratios
    inc_q = F.floor(
        (
            F.col("n_conv") * F.lit(SPRT_LLR_CONV)
            + (F.col("n_userdays") - F.col("n_conv")) * F.lit(SPRT_LLR_FAIL)
        )
        * _NANO
        + 0.5
    ).cast("long")
    # bounded global window: calendar-days ladder
    wcum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.withColumn("llr_q", F.sum(inc_q).over(wcum))
    return cum.select(
        "day",
        "n_userdays",
        "n_conv",
        F.round(F.col("llr_q") / _NANO, 6).alias("cum_llr"),
        F.when(F.col("llr_q") / _NANO >= SPRT_LOG_A, F.lit("accept_h1"))
        .when(F.col("llr_q") / _NANO <= SPRT_LOG_B, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


AIPW_Q = 10_000  # fixed-point quanta for the influence-function sum
AIPW_CUT = 12  # treated = more than this many clicks (both arms and
# within-arm x variance populate on the overlap set at every sf)


def aipw_doubly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIPW (augmented inverse-propensity) doubly-robust ATE of being
    a heavy clicker (more than AIPW_CUT clicks — self-selected, hence
    confounded with activity) on purchase spend — the capstone of the
    causal suite:
    ψ = μ1(x) − μ0(x) + D·(Y−μ1)/e(x) − (1−D)·(Y−μ0)/(1−e(x)),
    consistent if EITHER nuisance is right. Here the outcome models
    are deliberately misspecified (global per-arm LINEAR OLS on the
    view count) while the propensity is saturated-exact (per-level
    treated fraction), so the augmentation term is doing real work —
    the configuration that shows why AIPW beats either plug-in alone
    (`ext_propensity_match` trusts only e).

    Estimation restricts to OVERLAP levels (both arms present —
    e ∈ (0,1); positivity is an assumption, not a hope) and reports
    how many users fall outside it. All nuisances derive from exact
    integer moments via the same division chains in both engines; the
    per-user ψ reduces through the fixed-point sum, and the reported
    doubles are UNROUNDED ratios of exact integers (no ROUND — see
    ext_key_skew's tie lesson).

    Scale notes (100 TB): one user rollup; the level table (distinct
    view counts) broadcasts e(x) back; the moment row is a 1-row
    broadcast; one final map-side-combinable ψ aggregate. Joinless on
    the corpus side beyond the two broadcasts.
    """
    users = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.floor(F.col("value") * 100 + 0.5).cast("long"),
                ).otherwise(0)
            ).alias("y"),
            F.when(
                F.sum(
                    F.when(F.col("event_type") == "click", 1).otherwise(0)
                )
                > AIPW_CUT,
                1,
            )
            .otherwise(0)
            .alias("d"),
            F.sum(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).alias("x"),
        )
        .localCheckpoint(eager=False)
    )
    levels = users.groupBy("x").agg(
        F.count(F.lit(1)).alias("nl"),
        F.sum("d").alias("nl1"),
    )
    overlap = levels.filter(
        (F.col("nl1") > 0) & (F.col("nl1") < F.col("nl"))
    )
    uo = users.join(F.broadcast(overlap), "x")
    mom = uo.agg(
        F.count(F.lit(1)).alias("n_overlap"),
        *[
            F.sum(
                F.when(F.col("d") == arm, expr).otherwise(0)
            ).alias(f"{tag}{arm}")
            for arm in (1, 0)
            for tag, expr in (
                ("n", F.lit(1)),
                ("sx", F.col("x")),
                ("sy", F.col("y")),
                ("sxx", F.col("x") * F.col("x")),
                ("sxy", F.col("x") * F.col("y")),
            )
        ],
    )

    def _ab(arm: int) -> tuple[F.Column, F.Column]:
        n, sx, sy, sxx, sxy = (
            F.col(f"{t}{arm}").cast("double")
            for t in ("n", "sx", "sy", "sxx", "sxy")
        )
        b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        a = (sy - b * sx) / n
        return a, b

    a1, b1 = _ab(1)
    a0, b0 = _ab(0)
    mu1 = a1 + b1 * F.col("x")
    mu0 = a0 + b0 * F.col("x")
    e = F.col("nl1").cast("double") / F.col("nl").cast("double")
    psi = (
        (mu1 - mu0)
        + F.col("d") * (F.col("y") - mu1) / e
        - (1 - F.col("d")) * (F.col("y") - mu0) / (1 - e)
    )
    red = uo.crossJoin(F.broadcast(mom)).agg(
        F.sum(F.floor(psi * AIPW_Q + 0.5).cast("long")).alias("psi_q")
    )
    naive = users.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("d") == 1, F.col("y")).otherwise(0)).alias("ny1"),
        F.sum("d").alias("nd1"),
        F.sum(F.when(F.col("d") == 0, F.col("y")).otherwise(0)).alias("ny0"),
        F.sum(1 - F.col("d")).alias("nd0"),
    )
    return (
        red.crossJoin(F.broadcast(mom.select("n_overlap")))
        .crossJoin(F.broadcast(naive))
        .select(
            "n_users",
            "n_overlap",
            "psi_q",
            (
                F.col("psi_q").cast("double")
                / (F.col("n_overlap") * AIPW_Q * 100).cast("double")
            ).alias("aipw_ate_usd"),
            (
                F.col("ny1").cast("double") / F.col("nd1").cast("double")
                - F.col("ny0").cast("double") / F.col("nd0").cast("double")
            ).alias("naive_diff_cents"),
        )
    )


def _ud_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-day (clicks-based score, purchase label) — the shared
    predictor of the calibration/PR/Brier evaluation suite."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "clicks"
            ),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y"),
        )
        .select("clicks", "y")
    )


def pr_curve_ap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision–recall curve + exact average precision for the
    calibration suite's conversion score: one row per distinct score
    threshold (predict positive when clicks ≥ threshold) with exact
    precision/recall, plus AP = Σ ΔR·P — the class-imbalance-robust
    ranking metric ROC-AUC overstates. Everything is integer
    cumulative counts over the DISTINCT-score ladder; AP accumulates
    ΔTP·P through qsum.

    Scale notes (100 TB): one user-day rollup, one |distinct scores|-
    row ladder with a descending cumulative window — identical shape
    to the KS/W1 ladders.
    """
    from pyspark.sql import Window

    ud = _ud_scored(spark, sf_dir)
    cells = ud.groupBy("clicks").agg(
        F.sum("y").alias("pos"),
        F.sum(F.lit(1) - F.col("y")).alias("neg"),
    )
    tot = cells.agg(
        F.sum("pos").alias("n_pos"), F.sum("neg").alias("n_neg")
    )
    # bounded global window: click-count cells, not rows
    wdesc = Window.orderBy(F.col("clicks").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ladder = (
        cells.withColumn("tp", F.sum("pos").over(wdesc))
        .withColumn("fp", F.sum("neg").over(wdesc))
        .crossJoin(F.broadcast(tot))
        .withColumn("prec", F.col("tp") / (F.col("tp") + F.col("fp")))
        .withColumn("rec", F.col("tp") / F.col("n_pos"))
        .localCheckpoint(eager=False)
    )
    # AP = Σ_thresholds (ΔTP/n_pos)·precision — ΔTP is this cell's pos
    ap = ladder.agg(
        _qsum(F.col("pos") / F.col("n_pos") * F.col("prec")).alias("ap_q")
    )
    return ladder.crossJoin(F.broadcast(ap)).select(
        F.col("clicks").alias("threshold"),
        "tp",
        "fp",
        F.round("prec", 6).alias("precision"),
        F.round("rec", 6).alias("recall"),
        F.round(F.col("ap_q") / _NANO, 6).alias("average_precision"),
    )


def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score over the calibration
    bins: BS = reliability − resolution + uncertainty — the exact
    accounting that says WHETHER a bad Brier score comes from
    miscalibration (reliability) or from the score simply not
    separating outcomes (low resolution), which ECE alone cannot
    distinguish. Computed on ECE_BINS score bins: per-bin
    confidence/accuracy from exact sums, the three components as
    n-weighted qsum reductions, and the identity BS = REL − RES + UNC
    holds to quantization precision (pinned by pytest).

    Scale notes (100 TB): the user-day rollup plus two ECE_BINS-row
    aggregates — same cost envelope as the ECE audit itself.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
                "clicks"
            ),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y"),
        )
        .select(
            (F.col("clicks") / (F.col("clicks") + F.lit(float(ECE_SMOOTH)))).alias(
                "p"
            ),
            "y",
        )
        .localCheckpoint(eager=False)
    )
    binned = ud.select(
        F.least(F.floor(F.col("p") * ECE_BINS), F.lit(ECE_BINS - 1))
        .cast("long")
        .alias("bin"),
        "p",
        "y",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_b"),
        _qsum(F.col("p")).alias("conf_q"),
        F.sum("y").alias("pos_b"),
    ).localCheckpoint(eager=False)
    tot = per_bin.agg(
        F.sum("n_b").alias("n"), F.sum("pos_b").alias("n_pos")
    )
    base = F.col("n_pos") / F.col("n")
    rows = per_bin.crossJoin(F.broadcast(tot)).select(
        "n_b",
        (F.col("conf_q") / _NANO / F.col("n_b")).alias("conf"),
        (F.col("pos_b") / F.col("n_b")).alias("acc"),
        base.alias("base"),
        "n",
    )
    comp = rows.agg(
        _qsum(
            F.col("n_b")
            / F.col("n")
            * (F.col("conf") - F.col("acc"))
            * (F.col("conf") - F.col("acc"))
        ).alias("rel_q"),
        _qsum(
            F.col("n_b")
            / F.col("n")
            * (F.col("acc") - F.col("base"))
            * (F.col("acc") - F.col("base"))
        ).alias("res_q"),
        F.max("base").alias("base_rate"),
    )
    # BS itself, directly: mean (p − y)² over user-days
    bs = ud.agg(
        F.count(F.lit(1)).alias("n_days"),
        _qsum(
            (F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))
        ).alias("bs_q"),
    )
    return comp.crossJoin(F.broadcast(bs)).select(
        "n_days",
        F.round(F.col("bs_q") / _NANO / F.col("n_days"), 6).alias("brier"),
        F.round(F.col("rel_q") / _NANO, 6).alias("reliability"),
        F.round(F.col("res_q") / _NANO, 6).alias("resolution"),
        F.round(
            F.col("base_rate") * (1.0 - F.col("base_rate")), 6
        ).alias("uncertainty"),
    )


QUERIES: dict[str, Callable] = {
    "ext_pr_curve": pr_curve_ap,
    "ext_brier_decomposition": brier_decomposition,
    "ext_iv_wald": iv_wald,
    "ext_sprt_monitor": sprt_monitor,
    "ext_psi_drift": psi_drift,
    "ext_wasserstein_distance": wasserstein_distance,
    "ext_quantile_normalize": quantile_normalize,
    "ext_isotonic_calibration": isotonic_calibration,
    "ext_aipw_ate": aipw_doubly_robust,
    "ext_propensity_match": propensity_match,
    "ext_conformal_interval": conformal_interval,
    "ext_hill_tail_index": hill_tail_index,
    "ext_journey_entropy": journey_entropy,
    "ext_shapley_attribution": shapley_attribution,
    "ext_theil_sen_slope": theil_sen_slope,
    "ext_mann_kendall_trend": mann_kendall_trend,
    "ext_rrf_fusion": rrf_fusion,
    "ext_snippet_extraction": snippet_extraction,
    "ext_bm25_search": bm25_search,
    "ext_tfidf_cosine_pairs": tfidf_cosine_pairs,
    "ext_poisson_bootstrap": poisson_bootstrap,
    "ext_kaplan_meier": kaplan_meier,
    "ext_nelson_aalen": nelson_aalen,
    "ext_ks_two_sample": ks_two_sample,
    "ext_fifo_allocation": fifo_allocation,
    "ext_equidepth_histogram": equidepth_histogram,
    "ext_sliding_bitmap_distinct": sliding_bitmap_distinct,
    "ext_audience_overlap": audience_overlap,
    "ext_weighted_median": weighted_median,
    "ext_cusum_changepoint": cusum_changepoint,
    "ext_bitmap_distinct": bitmap_distinct,
    "ext_autocorr_daily": autocorr_daily,
    "ext_kmv_distinct": kmv_distinct,
    "ext_winsorized_stats": winsorized_stats,
    "ext_interval_union": interval_union_coverage,
    "ext_supplier_hhi": supplier_hhi,
    "ext_pagerank_types": pagerank_event_types,
    "ext_gap_fill_daily": gap_fill_daily,
    "ext_attribution_last_touch": attribution_last_touch,
    "ext_map_funcs": map_functions,
    "ext_rollup": rollup_priority_status,
    "ext_cube": cube_returnflag_linestatus,
    "ext_grouping_sets": grouping_sets_events,
    "ext_pivot": pivot_event_types,
    "ext_stats_by_group": stats_by_segment,
    "ext_corr_covar": corr_price_quantity,
    "ext_scalar_funcs": scalar_functions,
    "ext_hash_sample": hash_sample,
    "ext_scalar_subquery": scalar_subquery,
    "ext_in_subquery": in_subquery,
    "ext_correlated_subquery": correlated_subquery,
    "ext_lateral_topk": lateral_topk,
    "ext_percentiles": percentiles_by_segment,
    "ext_unpivot": unpivot_part_metrics,
    "ext_conditional_agg": conditional_aggregates,
    "ext_string_agg": string_agg_nations,
    "ext_approx_count_distinct": approx_count_distinct,
    "ext_quantile_sketch": quantile_sketch,
    "ext_hll_mergeable": hll_mergeable_sketches,
    "ext_quantile_mergeable": quantile_mergeable,
}

_SAMPLE_HASH = (
    "CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' || "
    "CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT)"
)

def _pr_iter_sql(r: int) -> str:
    p = f"pr{r - 1}"
    return f"""
        c{r} AS (
            SELECT e.dst,
                   CAST(SUM(CAST(FLOOR(({PR_D_NUM} * p.pr * e.cnt) * 1.0
                                 / ({PR_D_DEN} * o.out_cnt)) AS BIGINT))
                        AS BIGINT) AS in_mass
            FROM edges e JOIN outdeg o ON e.src = o.src
                         JOIN {p} p ON e.src = p.node
            GROUP BY e.dst),
        pr{r} AS (
            SELECT n.node,
                   CAST(FLOOR({(PR_D_DEN - PR_D_NUM) * PR_SCALE} * 1.0
                              / ({PR_D_DEN} * (SELECT n_nodes FROM nn)))
                        AS BIGINT)
                   + COALESCE(c.in_mass, 0) AS pr
            FROM nodes n LEFT JOIN c{r} c ON n.node = c.dst)"""


def _autocorr_lag_sql(lag: int) -> str:
    # exact int128 sums, double conversion in the SAME op order as the
    # Spark decimal path — both sides convert each closed-form term
    # from an exact integer, so r is bit-identical
    return f"""
        SELECT CAST({lag} AS BIGINT) AS lag,
               CAST(n AS BIGINT) AS n_pairs,
               ROUND((CAST(n * sxy AS DOUBLE) - CAST(sx * sy AS DOUBLE))
                     / (SQRT(CAST(n * sxx AS DOUBLE)
                             - CAST(sx * sx AS DOUBLE))
                        * SQRT(CAST(n * syy AS DOUBLE)
                               - CAST(sy * sy AS DOUBLE))), 6) AS r
        FROM (
            SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
                   SUM(y) AS sy, SUM(x * y) AS sxy,
                   SUM(x * x) AS sxx, SUM(y * y) AS syy
            FROM (SELECT a.rev AS x, b.rev AS y
                  FROM daily a JOIN daily b ON b.day = a.day + {lag}))
    """


_KMV_HASHED = """
        SELECT DISTINCT event_type,
               CAST('0x' || substr(md5('kmv:'
                        || CAST(user_id AS VARCHAR) || ':'
                        || strftime(ts, '%Y-%m-%d')), 1, 15)
                    AS BIGINT) AS h
        FROM events
"""


_UD_SQL = """
            SELECT CAST(SUM(CASE WHEN event_type = 'click'
                       THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
                   MAX(CASE WHEN event_type = 'purchase'
                       THEN 1 ELSE 0 END) AS y
            FROM events GROUP BY user_id, CAST(ts AS DATE)"""

_PR_LADDER_SQL = f"""
        ud AS ({_UD_SQL}),
        cells AS (
            SELECT clicks, CAST(SUM(y) AS BIGINT) AS pos,
                   CAST(SUM(1 - y) AS BIGINT) AS neg
            FROM ud GROUP BY clicks),
        tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
                       CAST(SUM(neg) AS BIGINT) AS n_neg
                FROM cells),
        ladder AS (
            SELECT clicks, pos,
                   SUM(pos) OVER (ORDER BY clicks DESC ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
                   SUM(neg) OVER (ORDER BY clicks DESC ROWS BETWEEN
                       UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
                   n_pos
            FROM cells CROSS JOIN tot)"""


# shared right-censored survival day-grid (mirrors _surv_event_rows)
_SURV_CTES = """
        ev AS (
            SELECT user_id, event_type, CAST(ts AS DATE) AS day
            FROM events),
        per_user AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'click'
                            THEN day END) AS t0,
                   MAX(day) AS last_seen
            FROM ev GROUP BY user_id
            HAVING MIN(CASE WHEN event_type = 'click' THEN day END)
                   IS NOT NULL),
        first_buy AS (
            SELECT e.user_id, MIN(e.day) AS t_buy
            FROM ev e JOIN per_user p ON e.user_id = p.user_id
            WHERE e.event_type = 'purchase' AND e.day >= p.t0
            GROUP BY e.user_id),
        durs AS (
            SELECT CAST(datediff('day', t0,
                                 COALESCE(t_buy, last_seen))
                        AS BIGINT) AS dur,
                   CASE WHEN t_buy IS NOT NULL THEN 1 ELSE 0 END AS d
            FROM per_user LEFT JOIN first_buy USING (user_id)),
        cells AS (SELECT dur, COUNT(*) AS n_at, SUM(d) AS d_at
                  FROM durs GROUP BY dur),
        nt AS (SELECT COUNT(*) AS n_total FROM durs),
        graded AS (
            SELECT dur, d_at,
                   n_total - COALESCE(SUM(n_at) OVER (
                       ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS n_risk
            FROM cells CROSS JOIN nt),
        evrows AS (SELECT * FROM graded WHERE d_at > 0)"""

ORACLES: dict[str, str] = {
    "ext_nelson_aalen": f"""
        WITH {_SURV_CTES},
        curve AS (
            SELECT dur, n_risk, d_at,
                   SUM(CAST(FLOOR(d_at / n_risk * {_KM_NANO} + 0.5)
                            AS BIGINT))
                       OVER (ORDER BY dur
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_hq,
                   SUM(CAST(FLOOR(d_at / (n_risk * n_risk) * {_KM_NANO}
                                  + 0.5) AS BIGINT))
                       OVER (ORDER BY dur
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_vq
            FROM evrows)
        SELECT dur AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d_at AS BIGINT) AS d_events,
               CAST(cum_hq AS DOUBLE) / {_KM_NANO} AS cum_hazard,
               CAST(cum_vq AS DOUBLE) / {_KM_NANO} AS hazard_var
        FROM curve
    """,
    "ext_pr_curve": f"""
        WITH {_PR_LADDER_SQL},
        l2 AS (
            SELECT clicks, pos, tp, fp,
                   tp / (tp + fp) AS prec,
                   tp / n_pos AS rec, n_pos
            FROM ladder),
        ap AS (
            SELECT CAST(SUM(CAST(FLOOR(pos / n_pos * prec * {_NANO}
                       + 0.5) AS BIGINT)) AS BIGINT) AS ap_q
            FROM l2)
        SELECT clicks AS threshold,
               CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
               ROUND(prec, 6) AS precision,
               ROUND(rec, 6) AS recall,
               ROUND(ap_q / {_NANO} * 1.0, 6) AS average_precision
        FROM l2 CROSS JOIN ap
    """,
    "ext_brier_decomposition": f"""
        WITH ud0 AS ({_UD_SQL}),
        udp AS (SELECT clicks / (clicks + {float(ECE_SMOOTH)}) AS p, y
                FROM ud0),
        binned AS (
            SELECT CAST(LEAST(FLOOR(p * {ECE_BINS}), {ECE_BINS - 1})
                        AS BIGINT) AS bin, p, y
            FROM udp),
        per_bin AS (
            SELECT bin, COUNT(*) AS n_b,
                   CAST(SUM(CAST(FLOOR(p * {_NANO} + 0.5) AS BIGINT))
                        AS BIGINT) AS conf_q,
                   CAST(SUM(y) AS BIGINT) AS pos_b
            FROM binned GROUP BY bin),
        tot AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n,
                       CAST(SUM(pos_b) AS BIGINT) AS n_pos
                FROM per_bin),
        rws AS (
            SELECT n_b,
                   conf_q / {_NANO} / n_b AS conf,
                   pos_b / n_b AS acc,
                   n_pos / n AS base, n
            FROM per_bin CROSS JOIN tot),
        comp AS (
            SELECT CAST(SUM(CAST(FLOOR(n_b / n * (conf - acc)
                       * (conf - acc) * {_NANO} + 0.5) AS BIGINT))
                       AS BIGINT) AS rel_q,
                   CAST(SUM(CAST(FLOOR(n_b / n * (acc - base)
                       * (acc - base) * {_NANO} + 0.5) AS BIGINT))
                       AS BIGINT) AS res_q,
                   MAX(base) AS base_rate
            FROM rws),
        bs AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
                   CAST(SUM(CAST(FLOOR((p - y) * (p - y) * {_NANO}
                       + 0.5) AS BIGINT)) AS BIGINT) AS bs_q
            FROM udp)
        SELECT n_days,
               ROUND(bs_q / {_NANO} / n_days, 6) AS brier,
               ROUND(rel_q / {_NANO} * 1.0, 6) AS reliability,
               ROUND(res_q / {_NANO} * 1.0, 6) AS resolution,
               ROUND(base_rate * (1.0 - base_rate), 6) AS uncertainty
        FROM comp CROSS JOIN bs
    """,
    "ext_iv_wald": f"""
        WITH users AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                            THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS y,
                   CAST(SUM(CASE WHEN event_type = 'click'
                            THEN 1 ELSE 0 END) >= {IV_CLICK_MIN} AS INT)
                       AS d,
                   CAST('0x' || substr(md5('iv:'
                       || CAST(user_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 2 AS z
            FROM events GROUP BY user_id),
        agg AS (
            SELECT CAST(SUM(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n1,
                   CAST(SUM(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n0,
                   CAST(SUM(CASE WHEN z = 1 THEN y ELSE 0 END) AS BIGINT)
                       AS sy1,
                   CAST(SUM(CASE WHEN z = 0 THEN y ELSE 0 END) AS BIGINT)
                       AS sy0,
                   CAST(SUM(CASE WHEN z = 1 THEN d ELSE 0 END) AS BIGINT)
                       AS sd1,
                   CAST(SUM(CASE WHEN z = 0 THEN d ELSE 0 END) AS BIGINT)
                       AS sd0
            FROM users)
        SELECT n1 + n0 AS n_users,
               ROUND((sy1 / n1 - sy0 / n0) / 100.0, 4) AS itt_usd,
               ROUND(sd1 / n1 - sd0 / n0, 6) AS first_stage,
               CASE WHEN sd1 / n1 - sd0 / n0 != 0
                    THEN ROUND((sy1 / n1 - sy0 / n0)
                               / (sd1 / n1 - sd0 / n0) / 100.0, 4)
                    END AS wald_iv_usd
        FROM agg
    """,
    "ext_sprt_monitor": f"""
        WITH ud AS (
            SELECT strftime(ts, '%Y-%m-%d') AS day, user_id,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS conv
            FROM events GROUP BY 1, 2),
        daily AS (
            SELECT day, COUNT(*) AS n_userdays,
                   CAST(SUM(conv) AS BIGINT) AS n_conv
            FROM ud GROUP BY day),
        cum AS (
            SELECT *,
                   SUM(CAST(FLOOR((n_conv
                       * CAST({SPRT_LLR_CONV!r} AS DOUBLE)
                       + (n_userdays - n_conv)
                       * CAST({SPRT_LLR_FAIL!r} AS DOUBLE))
                       * {_NANO} + 0.5) AS BIGINT))
                       OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS llr_q
            FROM daily)
        SELECT day, n_userdays, n_conv,
               ROUND(llr_q / {_NANO} * 1.0, 6) AS cum_llr,
               CASE WHEN llr_q / {_NANO}
                         >= CAST({SPRT_LOG_A!r} AS DOUBLE)
                    THEN 'accept_h1'
                    WHEN llr_q / {_NANO}
                         <= CAST({SPRT_LOG_B!r} AS DOUBLE)
                    THEN 'accept_h0'
                    ELSE 'continue' END AS decision
        FROM cum
    """,
    "ext_psi_drift": oracle_shared.PSI_DRIFT_ORACLE,
    "ext_wasserstein_distance": f"""
        WITH ev AS (
            SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
                   event_type = 'click' AS is_a
            FROM events WHERE event_type IN ('click', 'purchase')),
        cells AS (
            SELECT v,
                   CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
                       AS ca,
                   CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT)
                       AS cb
            FROM ev GROUP BY v),
        tot AS (
            SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
                       AS na,
                   CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT)
                       AS nb
            FROM ev),
        ladder AS (
            SELECT v,
                   SUM(ca) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_a,
                   SUM(cb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_b,
                   LEAD(v) OVER (ORDER BY v) AS next_v
            FROM cells)
        SELECT na AS n_click, nb AS n_purchase,
               ROUND(CAST(SUM(CAST(FLOOR((next_v - v)
                       * ABS(cum_a / na - cum_b / nb) * {_NANO} + 0.5)
                       AS BIGINT)) AS BIGINT) / {_NANO} / 100.0, 6)
                   AS w1_usd
        FROM ladder CROSS JOIN tot
        WHERE next_v IS NOT NULL
        GROUP BY na, nb
    """,
    "ext_quantile_normalize": """
        WITH ev AS (
            SELECT event_id, event_type,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
            FROM events),
        ng AS (SELECT event_type, COUNT(*) AS n_g FROM ev GROUP BY 1),
        nt AS (SELECT COUNT(*) AS n_tot FROM ev),
        ranked AS (
            SELECT e.event_id, e.event_type, e.v,
                   ROW_NUMBER() OVER (PARTITION BY e.event_type
                                      ORDER BY e.v, e.event_id) AS r,
                   g.n_g, t.n_tot
            FROM ev e JOIN ng g USING (event_type) CROSS JOIN nt t),
        pooled AS (
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY v, event_id)
                        AS BIGINT) AS k,
                   v AS pv
            FROM ev),
        keyed AS (
            SELECT event_id, event_type, v AS orig_cents,
                   GREATEST(1, LEAST(n_tot,
                       CAST(FLOOR((2 * r - 1) * n_tot / (2 * n_g))
                            AS BIGINT) + 1)) AS k
            FROM ranked)
        SELECT event_id, event_type, orig_cents, pv AS norm_cents
        FROM keyed JOIN pooled USING (k)
    """,
    "ext_aipw_ate": f"""
        WITH users AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                            THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS y,
                   CASE WHEN SUM(CASE WHEN event_type = 'click'
                                 THEN 1 ELSE 0 END) > 12
                        THEN 1 ELSE 0 END AS d,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                        AS BIGINT) AS x
            FROM events GROUP BY user_id),
        levels AS (
            SELECT x, COUNT(*) AS nl, CAST(SUM(d) AS BIGINT) AS nl1
            FROM users GROUP BY x),
        overlap AS (
            SELECT x, nl, nl1 FROM levels WHERE nl1 > 0 AND nl1 < nl),
        uo AS (
            SELECT u.y, u.d, u.x, o.nl, o.nl1
            FROM users u JOIN overlap o USING (x)),
        mom AS (
            SELECT COUNT(*) AS n_overlap,
                   {", ".join(
                       f"CAST(SUM(CASE WHEN d = {arm} THEN {expr} "
                       f"ELSE 0 END) AS BIGINT) AS {tag}{arm}"
                       for arm in (1, 0)
                       for tag, expr in (
                           ("n", "1"), ("sx", "x"), ("sy", "y"),
                           ("sxx", "x * x"), ("sxy", "x * y"),
                       )
                   )}
            FROM uo),
        co AS (
            SELECT *,
                   (CAST(n1 AS DOUBLE) * CAST(sxy1 AS DOUBLE)
                    - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE))
                   / (CAST(n1 AS DOUBLE) * CAST(sxx1 AS DOUBLE)
                      - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)) AS b1,
                   (CAST(n0 AS DOUBLE) * CAST(sxy0 AS DOUBLE)
                    - CAST(sx0 AS DOUBLE) * CAST(sy0 AS DOUBLE))
                   / (CAST(n0 AS DOUBLE) * CAST(sxx0 AS DOUBLE)
                      - CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE)) AS b0
            FROM mom),
        co2 AS (
            SELECT *,
                   (CAST(sy1 AS DOUBLE) - b1 * CAST(sx1 AS DOUBLE))
                       / CAST(n1 AS DOUBLE) AS a1,
                   (CAST(sy0 AS DOUBLE) - b0 * CAST(sx0 AS DOUBLE))
                       / CAST(n0 AS DOUBLE) AS a0
            FROM co),
        psi AS (
            SELECT uo.*,
                   (a1 + b1 * x) AS mu1, (a0 + b0 * x) AS mu0,
                   CAST(nl1 AS DOUBLE) / CAST(nl AS DOUBLE) AS e
            FROM uo CROSS JOIN co2),
        red AS (
            SELECT CAST(SUM(CAST(FLOOR(
                       ((mu1 - mu0)
                        + d * (y - mu1) / e
                        - (1 - d) * (y - mu0) / (1 - e)) * {AIPW_Q}
                       + 0.5) AS BIGINT)) AS BIGINT) AS psi_q
            FROM psi),
        naive AS (
            SELECT COUNT(*) AS n_users,
                   CAST(SUM(CASE WHEN d = 1 THEN y ELSE 0 END) AS BIGINT)
                       AS ny1,
                   CAST(SUM(d) AS BIGINT) AS nd1,
                   CAST(SUM(CASE WHEN d = 0 THEN y ELSE 0 END) AS BIGINT)
                       AS ny0,
                   CAST(SUM(1 - d) AS BIGINT) AS nd0
            FROM users)
        SELECT n_users, n_overlap, psi_q,
               CAST(psi_q AS DOUBLE)
                   / CAST(n_overlap * {AIPW_Q} * 100 AS DOUBLE)
                   AS aipw_ate_usd,
               CAST(ny1 AS DOUBLE) / CAST(nd1 AS DOUBLE)
                   - CAST(ny0 AS DOUBLE) / CAST(nd0 AS DOUBLE)
                   AS naive_diff_cents
        FROM red CROSS JOIN (SELECT n_overlap FROM mom) m
        CROSS JOIN naive
    """,
    "ext_isotonic_calibration": """
        WITH ud AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS clicks,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS y
            FROM events GROUP BY 1, 2),
        ladder AS (
            SELECT CAST(clicks AS BIGINT) AS clicks, COUNT(*) AS n,
                   CAST(SUM(y) AS BIGINT) AS pos
            FROM ud GROUP BY 1),
        pre AS (
            SELECT clicks, n, pos,
                   CAST(SUM(n) OVER (ORDER BY clicks) AS BIGINT) AS cn,
                   CAST(SUM(pos) OVER (ORDER BY clicks) AS BIGINT) AS cs
            FROM ladder),
        intervals AS (
            SELECT a.clicks AS j, b.clicks AS k,
                   CAST(b.cs - a.cs + a.pos AS DOUBLE)
                       / CAST(b.cn - a.cn + a.n AS DOUBLE) AS avg_jk
            FROM pre a JOIN pre b ON a.clicks <= b.clicks),
        inner_m AS (
            SELECT i.clicks AS i, v.j, MIN(v.avg_jk) AS m_ij
            FROM intervals v
            JOIN pre i ON v.j <= i.clicks AND i.clicks <= v.k
            GROUP BY 1, 2),
        iso AS (SELECT i, MAX(m_ij) AS iso_p FROM inner_m GROUP BY 1)
        SELECT p.clicks, p.n, p.pos,
               CAST(p.pos AS DOUBLE) / CAST(p.n AS DOUBLE) AS raw_rate,
               iso.iso_p
        FROM pre p JOIN iso ON p.clicks = iso.i
    """,
    "ext_propensity_match": f"""
        WITH users AS (
            SELECT user_id, COUNT(*) AS a,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                            THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS x,
                   CAST('0x' || substr(md5('arm:'
                       || CAST(user_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 2 AS arm
            FROM events GROUP BY user_id),
        ctrl AS (
            SELECT a, COUNT(*) AS n_c, CAST(SUM(x) AS BIGINT) AS sx
            FROM users WHERE arm = 0 GROUP BY a),
        strm AS (
            SELECT a, 0 AS tag, CAST(-1 AS BIGINT) AS user_id,
                   CAST(NULL AS BIGINT) AS x, a AS ctrl_a
            FROM ctrl
            UNION ALL
            SELECT a, 1 AS tag, user_id, x, CAST(NULL AS BIGINT) AS ctrl_a
            FROM users WHERE arm = 1),
        win AS (
            SELECT *,
                   LAST_VALUE(ctrl_a IGNORE NULLS) OVER (
                       ORDER BY a, tag, user_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS prev_a,
                   LAST_VALUE(ctrl_a IGNORE NULLS) OVER (
                       ORDER BY a DESC, tag, user_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS next_a
            FROM strm),
        matched AS (
            SELECT user_id, a, x,
                   CASE WHEN prev_a IS NULL THEN next_a
                        WHEN next_a IS NULL THEN prev_a
                        WHEN a - prev_a <= next_a - a THEN prev_a
                        ELSE next_a END AS m_a
            FROM win WHERE tag = 1)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_treated,
               ROUND(CAST(SUM(CAST(FLOOR((x - sx / n_c) * {_NANO} + 0.5)
                       AS BIGINT)) AS DOUBLE)
                   / {_NANO} / COUNT(*) / 100.0, 4) AS att_usd,
               ROUND(CAST(SUM(ABS(m.a - m.m_a)) AS DOUBLE) / COUNT(*), 6)
                   AS avg_abs_gap
        FROM matched m JOIN ctrl c ON c.a = m.m_a
    """,
    "ext_conformal_interval": f"""
        WITH ev AS (
            SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
                   CAST('0x' || substr(md5('conf:'
                       || CAST(event_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % 2 = 0 AS cal
            FROM events WHERE event_type = 'purchase'),
        mu AS (
            SELECT CAST(FLOOR(SUM(c) / COUNT(*) + 0.5) AS BIGINT)
                       AS mu,
                   COUNT(*) AS n_cal
            FROM ev WHERE cal),
        resid AS (
            SELECT ABS(c - mu) AS r FROM ev CROSS JOIN mu WHERE cal),
        cells AS (SELECT r, COUNT(*) AS k FROM resid GROUP BY r),
        ladder AS (
            SELECT r,
                   COALESCE(SUM(k) OVER (ORDER BY r
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS cum_prev,
                   SUM(k) OVER (ORDER BY r
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum
            FROM cells),
        radius AS (
            SELECT r AS radius
            FROM ladder CROSS JOIN mu
            WHERE cum_prev < CAST(CEIL((n_cal + 1)
                                       * {1.0 - CONF_ALPHA!r})
                                  AS BIGINT)
              AND CAST(CEIL((n_cal + 1) * {1.0 - CONF_ALPHA!r})
                       AS BIGINT) <= cum),
        cov AS (
            SELECT cal, COUNT(*) AS n,
                   CAST(SUM(CASE WHEN ABS(c - mu) <= radius
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_in
            FROM ev CROSS JOIN mu CROSS JOIN radius
            GROUP BY cal)
        SELECT mu.n_cal,
               (SELECT n FROM cov WHERE NOT cal) AS n_test,
               ROUND(mu / 100.0, 2) AS pred_usd,
               ROUND(radius / 100.0, 2) AS radius_usd,
               ROUND((SELECT n_in FROM cov WHERE cal)
                     / (SELECT n FROM cov WHERE cal), 4)
                   AS coverage_cal,
               ROUND((SELECT n_in FROM cov WHERE NOT cal)
                     / (SELECT n FROM cov WHERE NOT cal), 4)
                   AS coverage_test
        FROM mu CROSS JOIN radius
    """,
    "ext_hill_tail_index": f"""
        WITH rev AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM orders GROUP BY o_custkey
            HAVING SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                            AS BIGINT)) > 0),
        top AS (SELECT * FROM rev
                ORDER BY cents DESC, o_custkey LIMIT {HILL_K + 1}),
        ref AS (SELECT MIN(cents) AS x_ref FROM top),
        tail AS (SELECT cents, x_ref FROM top CROSS JOIN ref
                 WHERE cents > x_ref),
        agg AS (
            SELECT COUNT(*) AS k_used,
                   CAST(SUM(CAST(FLOOR(LN(CAST(cents AS DOUBLE)
                                           / x_ref)
                        * {_NANO} + 0.5) AS BIGINT)) AS BIGINT) AS lq
            FROM tail)
        SELECT k_used,
               ROUND(x_ref / 100.0, 2) AS x_ref_usd,
               ROUND(k_used / (lq / {_NANO}), 4) AS hill_alpha
        FROM agg CROSS JOIN ref
    """,
    "ext_journey_entropy": f"""
        WITH ev AS (
            SELECT user_id, event_type, epoch_us(ts) AS ts_us,
                   event_id
            FROM events),
        bi AS (
            SELECT cur, nxt, COUNT(*) AS c
            FROM (SELECT event_type AS cur,
                         LEAD(event_type, 1) OVER (
                             PARTITION BY user_id
                             ORDER BY ts_us, event_id) AS nxt
                  FROM ev)
            WHERE nxt IS NOT NULL GROUP BY cur, nxt),
        outc AS (
            SELECT cur, CAST(SUM(c) AS BIGINT) AS ci,
                   COUNT(*) AS n_branches
            FROM bi GROUP BY cur),
        h AS (
            SELECT cur,
                   CAST(SUM(CAST(FLOOR(-(c / ci) * LN(c / ci)
                            * {_NANO} + 0.5) AS BIGINT)) AS BIGINT)
                       AS hq
            FROM bi JOIN outc USING (cur) GROUP BY cur)
        SELECT h.cur, ci AS n_transitions, n_branches,
               ROUND(hq / {_NANO}, 6) AS h_nats,
               ROUND(CASE WHEN n_branches > 1
                          THEN hq / {_NANO}
                               / LN(CAST(n_branches AS DOUBLE))
                          ELSE 0.0 END, 6) AS h_norm
        FROM h JOIN outc USING (cur)
    """,
    "ext_shapley_attribution": """
        WITH ev AS (
            SELECT user_id, event_type, epoch_us(ts) AS ts_us
            FROM events),
        first_buy AS (
            SELECT user_id, MIN(ts_us) AS t_buy FROM ev
            WHERE event_type = 'purchase' GROUP BY user_id),
        flags AS (
            SELECT ev.user_id,
                   MAX(CASE WHEN event_type = 'click'
                            THEN 1 ELSE 0 END) AS f0,
                   MAX(CASE WHEN event_type = 'view'
                            THEN 1 ELSE 0 END) AS f1,
                   MAX(CASE WHEN event_type = 'signup'
                            THEN 1 ELSE 0 END) AS f2
            FROM ev JOIN first_buy USING (user_id)
            WHERE ts_us < t_buy
            GROUP BY ev.user_id
            HAVING MAX(CASE WHEN event_type = 'click'
                            THEN 1 ELSE 0 END)
                 + MAX(CASE WHEN event_type = 'view'
                            THEN 1 ELSE 0 END)
                 + MAX(CASE WHEN event_type = 'signup'
                            THEN 1 ELSE 0 END) > 0),
        one AS (
            SELECT
                SUM(CASE WHEN f0=1 AND f1=0 AND f2=0 THEN 1 ELSE 0 END) AS cA,
                SUM(CASE WHEN f0=0 AND f1=1 AND f2=0 THEN 1 ELSE 0 END) AS cB,
                SUM(CASE WHEN f0=0 AND f1=0 AND f2=1 THEN 1 ELSE 0 END) AS cC,
                SUM(CASE WHEN f0=1 AND f1=1 AND f2=0 THEN 1 ELSE 0 END) AS cAB,
                SUM(CASE WHEN f0=1 AND f1=0 AND f2=1 THEN 1 ELSE 0 END) AS cAC,
                SUM(CASE WHEN f0=0 AND f1=1 AND f2=1 THEN 1 ELSE 0 END) AS cBC,
                SUM(CASE WHEN f0=1 AND f1=1 AND f2=1 THEN 1 ELSE 0 END) AS cABC
            FROM flags),
        sh AS (
            SELECT
                2*cA + (cA+cB+cAB - cB) + (cA+cC+cAC - cC)
                + 2*((cA+cB+cC+cAB+cAC+cBC+cABC) - (cB+cC+cBC))
                    AS s6_click,
                2*cB + (cA+cB+cAB - cA) + (cB+cC+cBC - cC)
                + 2*((cA+cB+cC+cAB+cAC+cBC+cABC) - (cA+cC+cAC))
                    AS s6_view,
                2*cC + (cA+cC+cAC - cA) + (cB+cC+cBC - cB)
                + 2*((cA+cB+cC+cAB+cAC+cBC+cABC) - (cA+cB+cAB))
                    AS s6_signup,
                CAST(cA+cB+cC+cAB+cAC+cBC+cABC AS BIGINT)
                    AS total_conv
            FROM one)
        SELECT channel, ROUND(s6 / 6.0, 4) AS shapley_conversions,
               total_conv
        FROM (
            SELECT 'click' AS channel, CAST(s6_click AS BIGINT) AS s6,
                   total_conv FROM sh
            UNION ALL
            SELECT 'view', CAST(s6_view AS BIGINT), total_conv FROM sh
            UNION ALL
            SELECT 'signup', CAST(s6_signup AS BIGINT), total_conv
            FROM sh)
    """,
    "ext_mann_kendall_trend": """
        WITH daily AS (
            SELECT datediff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS xd,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS rev
            FROM orders GROUP BY 1),
        s AS (
            SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
                                 WHEN b.rev < a.rev THEN -1
                                 ELSE 0 END) AS BIGINT) AS s_stat
            FROM daily a JOIN daily b ON a.xd < b.xd),
        ties AS (
            SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                   AS tie_term
            FROM (SELECT COUNT(*) AS t FROM daily GROUP BY rev)),
        nn AS (SELECT COUNT(*) AS n_days FROM daily),
        g AS (
            SELECT n_days, s_stat,
                   n_days * (n_days - 1) * (2 * n_days + 5) - tie_term
                       AS var18
            FROM s CROSS JOIN ties CROSS JOIN nn)
        SELECT n_days, s_stat, var18,
               CASE WHEN s_stat > 0 THEN
                        CAST(s_stat - 1 AS DOUBLE)
                        / SQRT(CAST(var18 AS DOUBLE) / 18.0)
                    WHEN s_stat < 0 THEN
                        CAST(s_stat + 1 AS DOUBLE)
                        / SQRT(CAST(var18 AS DOUBLE) / 18.0)
                    ELSE 0.0 END AS z_score,
               CASE WHEN s_stat > 0 AND CAST(s_stat - 1 AS DOUBLE)
                        / SQRT(CAST(var18 AS DOUBLE) / 18.0) > 1.96
                        THEN 'increasing'
                    WHEN s_stat < 0 AND CAST(s_stat + 1 AS DOUBLE)
                        / SQRT(CAST(var18 AS DOUBLE) / 18.0) < -1.96
                        THEN 'decreasing'
                    ELSE 'none' END AS trend
        FROM g
    """,
    "ext_theil_sen_slope": f"""
        WITH daily AS (
            SELECT CAST(datediff('day', DATE '1970-01-01',
                                 CAST(o_orderdate AS DATE)) AS BIGINT)
                       AS xd,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS BIGINT) AS rev
            FROM orders GROUP BY 1),
        slopes AS (
            SELECT CAST(b.rev - a.rev AS DOUBLE) / (b.xd - a.xd)
                       AS slope
            FROM daily a JOIN daily b
              ON a.xd < b.xd AND b.xd - a.xd <= {TS_MAX_OFFSET}),
        ts AS (SELECT COUNT(*) AS n_pairs,
                      quantile_cont(slope, 0.5) AS ts_slope
               FROM slopes),
        m AS (
            SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(CAST(xd AS HUGEINT)) AS HUGEINT) AS sx,
                   CAST(SUM(CAST(rev AS HUGEINT)) AS HUGEINT) AS sy,
                   SUM(CAST(xd AS HUGEINT) * CAST(rev AS HUGEINT))
                       AS sxy,
                   SUM(CAST(xd AS HUGEINT) * CAST(xd AS HUGEINT))
                       AS sxx
            FROM daily),
        ols AS (
            SELECT CAST(n AS BIGINT) AS n_days,
                   (CAST(n * sxy AS DOUBLE) - CAST(sx * sy AS DOUBLE))
                   / (CAST(n * sxx AS DOUBLE)
                      - CAST(sx * sx AS DOUBLE)) AS ols_slope
            FROM m)
        SELECT n_days, n_pairs,
               ROUND(ts_slope / 100.0, 6) AS theil_sen_usd_per_day,
               ROUND(ols_slope / 100.0, 6) AS ols_usd_per_day
        FROM ols CROSS JOIN ts
    """,
    "ext_rrf_fusion": rf"""
        WITH tok AS (
            SELECT doc_id, UNNEST(string_split_regex(text, '\s+')) AS t
            FROM documents),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS nd,
                         CAST(SUM(dl) AS BIGINT) AS total_len
                  FROM dl),
        postings AS (
            SELECT doc_id, t, COUNT(*) AS tf FROM tok
            WHERE t IN {BM25_QUERY!r}
            GROUP BY doc_id, t),
        dfs AS (SELECT t, COUNT(DISTINCT doc_id) AS df
                FROM postings GROUP BY t),
        scored AS (
            SELECT doc_id,
                   LN(1.0 + (nd - df + 0.5) / (df + 0.5))
                   * (tf * ({BM25_K1} + 1.0))
                   / (tf + {BM25_K1}
                      * (1.0 - {BM25_B} + {BM25_B} * dl
                         / (CAST(total_len AS DOUBLE) / nd)))
                       AS term_score
            FROM postings JOIN dfs USING (t) JOIN dl USING (doc_id)
            CROSS JOIN stats),
        bmtop AS (
            SELECT doc_id,
                   ROUND(CAST(SUM(CAST(FLOOR(term_score * {_NANO}
                                             + 0.5) AS BIGINT))
                              AS BIGINT) / {_NANO}, 6) AS bm25
            FROM scored GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOPK}),
        bm AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                       AS r_bm25
            FROM bmtop),
        covtop AS (
            SELECT doc_id, COUNT(*) AS hits,
                   COUNT(DISTINCT t) AS terms
            FROM tok WHERE t IN {BM25_QUERY!r}
            GROUP BY doc_id
            ORDER BY terms DESC, hits DESC, doc_id
            LIMIT {BM25_TOPK}),
        cv AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY terms DESC, hits DESC,
                                      doc_id) AS r_cov
            FROM covtop),
        fused AS (
            SELECT COALESCE(bm.doc_id, cv.doc_id) AS doc_id,
                   r_bm25, r_cov,
                   COALESCE(1.0 / ({RRF_K} + r_bm25), 0.0)
                   + COALESCE(1.0 / ({RRF_K} + r_cov), 0.0) AS rrf
            FROM bm FULL OUTER JOIN cv ON bm.doc_id = cv.doc_id)
        SELECT doc_id, r_bm25, r_cov, ROUND(rrf, 6) AS rrf
        FROM fused ORDER BY rrf DESC, doc_id LIMIT {RRF_TOPK}
    """,
    "ext_snippet_extraction": rf"""
        WITH docs AS (
            SELECT doc_id, string_split_regex(text, '\s+') AS toks
            FROM documents),
        pos0 AS (
            SELECT doc_id, UNNEST(toks) AS t,
                   UNNEST(range(len(toks))) AS p
            FROM docs),
        pos AS (SELECT doc_id, CAST(p AS BIGINT) AS p FROM pos0
                WHERE t IN {BM25_QUERY!r}),
        votes AS (
            SELECT doc_id,
                   UNNEST(range(GREATEST(p - {SNIP_W} + 1, 0), p + 1))
                       AS start
            FROM pos),
        cand AS (SELECT doc_id, CAST(start AS BIGINT) AS start,
                        COUNT(*) AS hits
                 FROM votes GROUP BY 1, 2),
        best AS (
            SELECT doc_id, hits AS win_hits, start AS win_start
            FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, start) AS rn
                  FROM cand)
            WHERE rn = 1)
        SELECT b.doc_id, win_hits, win_start,
               array_to_string(list_slice(toks,
                   CAST(win_start + 1 AS INT),
                   CAST(win_start + {SNIP_W} AS INT)), ' ') AS snippet
        FROM best b JOIN docs USING (doc_id)
    """,
    "ext_bm25_search": rf"""
        WITH tok AS (
            SELECT doc_id, UNNEST(string_split_regex(text, '\s+')) AS t
            FROM documents),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
        stats AS (SELECT COUNT(*) AS nd,
                         CAST(SUM(dl) AS BIGINT) AS total_len
                  FROM dl),
        postings AS (
            SELECT doc_id, t, COUNT(*) AS tf FROM tok
            WHERE t IN {BM25_QUERY!r}
            GROUP BY doc_id, t),
        dfs AS (SELECT t, COUNT(DISTINCT doc_id) AS df
                FROM postings GROUP BY t),
        scored AS (
            SELECT doc_id,
                   LN(1.0 + (nd - df + 0.5) / (df + 0.5))
                   * (tf * ({BM25_K1} + 1.0))
                   / (tf + {BM25_K1}
                      * (1.0 - {BM25_B} + {BM25_B} * dl
                         / (CAST(total_len AS DOUBLE) / nd)))
                       AS term_score
            FROM postings JOIN dfs USING (t) JOIN dl USING (doc_id)
            CROSS JOIN stats)
        SELECT doc_id, COUNT(*) AS n_terms_hit,
               ROUND(CAST(SUM(CAST(FLOOR(term_score * {_NANO} + 0.5)
                                   AS BIGINT)) AS BIGINT)
                     / {_NANO}, 6) AS bm25
        FROM scored GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOPK}
    """,
    "ext_tfidf_cosine_pairs": rf"""
        WITH tok AS (
            SELECT doc_id, UNNEST(string_split_regex(text, '\s+')) AS t
            FROM documents),
        tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        nn AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM tok),
        df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        vocab AS (
            SELECT t, df, nd FROM df CROSS JOIN nn
            WHERE df * 100 <= nd * {TFIDF_DF_MAX_PCT}),
        w AS (
            SELECT doc_id, tf.t,
                   tf * LN(CAST(nd AS DOUBLE) / df) AS w
            FROM tf JOIN vocab ON tf.t = vocab.t),
        norms AS (
            SELECT doc_id,
                   CAST(SUM(CAST(FLOOR(w * w * {_NANO} + 0.5)
                                 AS BIGINT)) AS BIGINT) AS nq
            FROM w GROUP BY doc_id),
        dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(SUM(CAST(FLOOR(a.w * b.w * {_NANO} + 0.5)
                                 AS BIGINT)) AS BIGINT) AS dq,
                   COUNT(*) AS n_shared
            FROM w a JOIN w b
              ON a.t = b.t AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT doc_a, doc_b, n_shared,
               ROUND((dq / {_NANO})
                     / (SQRT(na.nq / {_NANO}) * SQRT(nb.nq / {_NANO})),
                     6) AS cosine
        FROM dots
        JOIN norms na ON na.doc_id = doc_a
        JOIN norms nb ON nb.doc_id = doc_b
        ORDER BY cosine DESC, doc_a, doc_b LIMIT {TFIDF_TOPK}
    """,
    "ext_poisson_bootstrap": f"""
        WITH ev AS (
            SELECT CAST(event_id AS VARCHAR) AS eid,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'),
        reps AS (
            SELECT eid, cents, CAST(r AS BIGINT) AS rep
            FROM ev
            CROSS JOIN (SELECT UNNEST(range({BOOT_B})) AS r)),
        ws AS (
            SELECT rep, cents,
                   (CAST('0x' || substr(md5('boot:' || eid || '#'
                             || CAST(rep AS VARCHAR)), 1, 15)
                         AS BIGINT) % {BOOT_RES} + 0.5)
                       / {BOOT_RES}.0 AS u
            FROM reps),
        weighted AS (
            SELECT rep, cents,
                   CASE {" ".join(
                       f"WHEN u < {c!r} THEN {k}"
                       for k, c in enumerate(_POIS_CUM)
                   )} ELSE 7 END AS w
            FROM ws),
        means AS (
            SELECT rep, SUM(w * cents) / (100.0 * SUM(w)) AS m
            FROM weighted GROUP BY rep),
        ranked AS (
            SELECT ROW_NUMBER() OVER (ORDER BY m, rep) AS rk, m
            FROM means),
        point AS (
            SELECT COUNT(*) AS n,
                   SUM(cents) / (100.0 * COUNT(*)) AS mean
            FROM ev)
        SELECT n, ROUND(mean, 4) AS mean_usd,
               ROUND((SELECT m FROM ranked WHERE rk = 2), 4)
                   AS ci_lo_usd,
               ROUND((SELECT m FROM ranked WHERE rk = {BOOT_B - 1}), 4)
                   AS ci_hi_usd
        FROM point
    """,
    "ext_kaplan_meier": f"""
        WITH {_SURV_CTES},
        curve AS (
            SELECT dur, n_risk, d_at,
                   SUM(CASE WHEN d_at < n_risk
                            THEN CAST(FLOOR(LN(1.0 - d_at / n_risk)
                                 * {_KM_NANO} + 0.5) AS BIGINT)
                            ELSE CAST({-100 * _KM_NANO} AS BIGINT)
                       END)
                       OVER (ORDER BY dur
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_lq
            FROM evrows)
        SELECT dur AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
               CAST(d_at AS BIGINT) AS d_events,
               ROUND(EXP(cum_lq / {_KM_NANO}), 6) AS survival,
               ROUND(d_at / n_risk, 6) AS hazard
        FROM curve
    """,
    "ext_ks_two_sample": """
        WITH ev AS (
            SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v,
                   event_type = 'click' AS is_a
            FROM events WHERE event_type IN ('click', 'purchase')),
        cells AS (
            SELECT v,
                   SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS ca,
                   SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS cb
            FROM ev GROUP BY v),
        tot AS (
            SELECT SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS na,
                   SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS nb
            FROM ev),
        ladder AS (
            SELECT v,
                   SUM(ca) OVER (ORDER BY v
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum_a,
                   SUM(cb) OVER (ORDER BY v
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum_b
            FROM cells),
        scored AS (
            SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
                   v, ABS(cum_a / na - cum_b / nb) AS d
            FROM ladder CROSS JOIN tot)
        SELECT na, nb, ROUND(d, 6) AS d_stat,
               ROUND(v / 100.0, 2) AS at_usd,
               ROUND(1.36 * SQRT((na + nb)
                                 / (CAST(na AS DOUBLE) * nb)), 6)
                   AS d_crit_5pct
        FROM scored ORDER BY d DESC, v LIMIT 1
    """,
    "ext_fifo_allocation": """
        WITH ev AS (
            SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
            FROM events),
        clicks AS (
            SELECT user_id,
                   SUM(cents) OVER w - cents AS cs,
                   SUM(cents) OVER w AS ce
            FROM ev WHERE event_type = 'click'
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)),
        buys AS (
            SELECT user_id,
                   SUM(cents) OVER w - cents AS ps,
                   SUM(cents) OVER w AS pe
            FROM ev WHERE event_type = 'purchase'
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)),
        alloc AS (
            SELECT c.user_id, COUNT(*) AS n_allocs,
                   CAST(SUM(LEAST(ce, pe) - GREATEST(cs, ps))
                        AS BIGINT) AS matched_cents
            FROM clicks c JOIN buys b
              ON c.user_id = b.user_id
             AND cs < pe AND ps < ce
            GROUP BY c.user_id),
        totals AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN event_type = 'click'
                                 THEN cents ELSE 0 END) AS BIGINT)
                       AS click_cents,
                   CAST(SUM(CASE WHEN event_type = 'purchase'
                                 THEN cents ELSE 0 END) AS BIGINT)
                       AS purchase_cents
            FROM ev GROUP BY user_id)
        SELECT user_id, n_allocs, matched_cents,
               click_cents - matched_cents AS unused_credit_cents,
               purchase_cents - matched_cents
                   AS uncovered_purchase_cents
        FROM totals JOIN alloc USING (user_id)
    """,
    "ext_equidepth_histogram": f"""
        WITH pc AS (
            SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS pc
            FROM lineitem),
        cells AS (SELECT pc, COUNT(*) AS c FROM pc GROUP BY pc),
        dist AS (
            SELECT pc,
                   COALESCE(SUM(c) OVER (ORDER BY pc
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cum_prev,
                   SUM(c) OVER (ORDER BY pc
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
            FROM cells),
        nn AS (SELECT COUNT(*) AS n FROM pc),
        ranks AS (
            SELECT i, (n - 1) * i // {EQD_BUCKETS} AS lo_r,
                   ((n - 1) * i % {EQD_BUCKETS})
                       / {float(EQD_BUCKETS)!r} AS frac,
                   LEAST((n - 1) * i // {EQD_BUCKETS} + 1, n - 1)
                       AS hi_r
            FROM (SELECT UNNEST(range(1, {EQD_BUCKETS})) AS i)
            CROSS JOIN nn),
        lo AS (
            SELECT i, frac, pc AS v_lo
            FROM dist JOIN ranks
              ON cum_prev <= lo_r AND lo_r < cum),
        hi AS (
            SELECT i AS i2, pc AS v_hi
            FROM dist JOIN ranks
              ON cum_prev <= hi_r AND hi_r < cum),
        blong AS (
            SELECT i, CAST(FLOOR(v_lo + (v_hi - v_lo) * frac + 0.5)
                           AS BIGINT) AS b
            FROM lo JOIN hi ON i = i2),
        bounds AS (
            SELECT {", ".join(
                f"MAX(CASE WHEN i = {k + 1} THEN b END) AS b{k}"
                for k in range(EQD_BUCKETS - 1)
            )}
            FROM blong),
        assigned AS (
            SELECT ({" + ".join(
                f"CASE WHEN pc > b{i} THEN 1 ELSE 0 END"
                for i in range(EQD_BUCKETS - 1)
            )}) AS bucket, pc
            FROM pc CROSS JOIN bounds)
        SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_rows,
               ROUND(MIN(pc) / 100.0, 2) AS lo,
               ROUND(MAX(pc) / 100.0, 2) AS hi
        FROM assigned GROUP BY bucket
    """,
    "ext_sliding_bitmap_distinct": """
        WITH ev AS (
            SELECT CAST(ts AS DATE) AS day, user_id // 32 AS chunk,
                   CAST(user_id % 32 AS INT) AS bit
            FROM events),
        masks AS (
            SELECT day, chunk, BIT_OR(CAST(1 AS BIGINT) << bit) AS mask
            FROM ev GROUP BY 1, 2),
        scattered AS (
            SELECT day + CAST(off AS INT) AS day, chunk, mask
            FROM masks
            CROSS JOIN (SELECT UNNEST(range(7)) AS off)),
        win AS (
            SELECT day, chunk, BIT_OR(mask) AS m7
            FROM scattered GROUP BY 1, 2),
        days AS (SELECT DISTINCT day FROM ev)
        SELECT strftime(day, '%Y-%m-%d') AS day,
               CAST(SUM(bit_count(m7)) AS BIGINT) AS n_distinct_7d
        FROM win JOIN days USING (day) GROUP BY day
    """,
    "ext_audience_overlap": f"""
        WITH hashed AS ({_KMV_HASHED}),
        sizes AS (SELECT event_type, COUNT(*) AS n
                  FROM hashed GROUP BY event_type),
        inter AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   COUNT(*) AS n_inter
            FROM hashed a JOIN hashed b
              ON a.h = b.h AND a.event_type < b.event_type
            GROUP BY 1, 2)
        SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_inter,
               ROUND(n_inter * 1.0 / (sa.n + sb.n - n_inter), 4)
                   AS jaccard
        FROM inter
        JOIN sizes sa ON sa.event_type = type_a
        JOIN sizes sb ON sb.event_type = type_b
    """,
    "ext_weighted_median": """
        WITH cells AS (
            SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,
                   SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                            AS BIGINT)) AS w
            FROM lineitem GROUP BY 1, 2),
        c AS (
            SELECT l_returnflag, qty,
                   SUM(w) OVER (PARTITION BY l_returnflag ORDER BY qty
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum,
                   SUM(w) OVER (PARTITION BY l_returnflag) AS total
            FROM cells)
        SELECT l_returnflag, MIN(qty) AS weighted_median_qty,
               CAST(MAX(total) AS BIGINT) AS total_cents
        FROM c WHERE cum * 2 >= total GROUP BY l_returnflag
    """,
    "ext_cusum_changepoint": f"""
        WITH daily AS (
            SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS HUGEINT) AS rev
            FROM orders GROUP BY 1),
        t AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(rev) AS total
              FROM daily),
        sc AS (
            SELECT day, n, total,
                   SUM(rev) OVER (ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum,
                   CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT)
                       AS i
            FROM daily CROSS JOIN t),
        s AS (SELECT day, n * cum - i * total AS s, n FROM sc)
        SELECT day,
               ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 2)
                   AS cusum_usd,
               CAST(SIGN(CAST(s AS DOUBLE)) AS BIGINT) AS sign
        FROM s ORDER BY ABS(s) DESC, day LIMIT {CUSUM_TOP}
    """,
    "ext_bitmap_distinct": """
        WITH masks AS (
            SELECT event_type, user_id // 32 AS chunk,
                   BIT_OR(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT))
                       AS mask
            FROM events GROUP BY event_type, chunk),
        bitmap AS (
            SELECT event_type, COUNT(*) AS n_chunks,
                   CAST(SUM(bit_count(mask)) AS BIGINT)
                       AS n_distinct_bitmap
            FROM masks GROUP BY event_type),
        exact AS (
            SELECT event_type, COUNT(DISTINCT user_id)
                       AS n_distinct_exact
            FROM events GROUP BY event_type)
        SELECT bitmap.event_type, n_chunks, n_distinct_bitmap,
               n_distinct_exact
        FROM bitmap JOIN exact USING (event_type)
    """,
    "ext_autocorr_daily": f"""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5)
                                 AS BIGINT)) AS HUGEINT) AS rev
            FROM orders GROUP BY 1)
        {_autocorr_lag_sql(1)}
        UNION ALL
        {_autocorr_lag_sql(7)}
    """,
    "ext_kmv_distinct": f"""
        WITH hashed AS (
            SELECT DISTINCT event_type,
                   CAST('0x' || substr(md5('kmv:'
                            || CAST(user_id AS VARCHAR) || ':'
                            || strftime(ts, '%Y-%m-%d')), 1, 15)
                        AS BIGINT) AS h
            FROM events),
        bottom AS (
            SELECT event_type, COUNT(*) AS k_seen, MAX(h) AS u_k
            FROM (SELECT event_type, h,
                         ROW_NUMBER() OVER (PARTITION BY event_type
                                            ORDER BY h) AS rn
                  FROM hashed)
            WHERE rn <= {KMV_K} GROUP BY event_type),
        exact AS (
            SELECT event_type, COUNT(*) AS n_exact
            FROM hashed GROUP BY event_type),
        est AS (
            SELECT exact.event_type, n_exact,
                   CASE WHEN k_seen < {KMV_K} THEN k_seen * 1.0
                        ELSE {KMV_K - 1}.0
                             / (u_k / {float(1 << 60)!r})
                   END AS e
            FROM exact JOIN bottom USING (event_type))
        SELECT event_type, n_exact, ROUND(e, 4) AS kmv_est,
               ROUND((e - n_exact) * 100.0 / n_exact, 4) AS err_pct
        FROM est
    """,
    "ext_winsorized_stats": """
        WITH pc AS (
            SELECT l_returnflag,
                   CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                       AS pc
            FROM lineitem),
        b AS (
            SELECT l_returnflag,
                   CAST(FLOOR(quantile_cont(pc, 0.01) + 0.5) AS BIGINT)
                       AS lo_c,
                   CAST(FLOOR(quantile_cont(pc, 0.99) + 0.5) AS BIGINT)
                       AS hi_c
            FROM pc GROUP BY l_returnflag),
        j AS (
            SELECT pc.l_returnflag, pc.pc, lo_c, hi_c,
                   LEAST(GREATEST(pc.pc, lo_c), hi_c) AS cl
            FROM pc JOIN b USING (l_returnflag))
        SELECT l_returnflag, COUNT(*) AS n,
               ROUND(MAX(lo_c) / 100.0, 2) AS lo,
               ROUND(MAX(hi_c) / 100.0, 2) AS hi,
               ROUND(SUM(pc) / (100.0 * COUNT(*)), 4) AS mean_raw,
               ROUND(SUM(cl) / (100.0 * COUNT(*)), 4)
                   AS mean_winsorized
        FROM j GROUP BY l_returnflag
    """,
    "ext_interval_union": f"""
        WITH iv AS (
            SELECT user_id, epoch_us(ts) AS s,
                   epoch_us(ts) + {COVER_WINDOW_US} AS e
            FROM events),
        m AS (
            SELECT user_id, s, e,
                   MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_end
            FROM iv),
        f AS (
            SELECT user_id, s, e,
                   CASE WHEN prev_end IS NULL OR s > prev_end
                        THEN 1 ELSE 0 END AS new_island
            FROM m),
        isl AS (
            SELECT user_id, s, e,
                   SUM(new_island) OVER (PARTITION BY user_id
                                         ORDER BY s, e
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS island
            FROM f),
        merged AS (
            SELECT user_id, island, MAX(e) - MIN(s) AS len_us
            FROM isl GROUP BY user_id, island)
        SELECT user_id, COUNT(*) AS n_intervals,
               CAST(SUM(len_us) AS BIGINT) AS covered_us
        FROM merged GROUP BY user_id
    """,
    "ext_supplier_hhi": """
        WITH rev AS (
            SELECT s.s_nationkey,
                   CAST(floor(SUM(CAST(floor(l_extendedprice * 100 + 0.5)
                                       AS BIGINT)) / 100) AS BIGINT)
                       AS rev_usd
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY s.s_nationkey, l.l_suppkey)
        SELECT s_nationkey, COUNT(*) AS n_suppliers,
               CAST(SUM(rev_usd) AS BIGINT) AS total_usd,
               CAST(floor(CAST(SUM(rev_usd * rev_usd) AS DOUBLE) * 1000000
                          / (CAST(SUM(rev_usd) AS DOUBLE)
                             * CAST(SUM(rev_usd) AS DOUBLE))) AS BIGINT)
                   AS hhi_ppm
        FROM rev GROUP BY s_nationkey
    """,
    "ext_pagerank_types": f"""
        WITH seq AS (
            SELECT event_type AS src,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS dst
            FROM events),
        edges AS (SELECT src, dst, COUNT(*) AS cnt FROM seq
                  WHERE dst IS NOT NULL GROUP BY src, dst),
        nodes AS (SELECT DISTINCT node FROM (
                      SELECT src AS node FROM edges
                      UNION ALL SELECT dst FROM edges) u),
        nn AS (SELECT COUNT(*) AS n_nodes FROM nodes),
        outdeg AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS out_cnt
                   FROM edges GROUP BY src),
        pr0 AS (SELECT node,
                       CAST(FLOOR({PR_SCALE} * 1.0
                                  / (SELECT n_nodes FROM nn)) AS BIGINT)
                           AS pr
                FROM nodes),
        {", ".join(_pr_iter_sql(r).strip() for r in range(1, PR_ITERS + 1))}
        SELECT node AS event_type, pr AS pr_ppm FROM pr{PR_ITERS}
    """,
    "ext_gap_fill_daily": """
        WITH daily AS (
            SELECT user_id, CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS day_cents
            FROM events GROUP BY user_id, CAST(ts AS DATE)),
        spans AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
                  FROM daily GROUP BY user_id),
        alldays AS (
            SELECT user_id, CAST(unnest(generate_series(d0, d1,
                                        INTERVAL 1 DAY)) AS DATE) AS day
            FROM spans)
        SELECT a.user_id, strftime(a.day, '%Y-%m-%d') AS day,
               last_value(d.day_cents IGNORE NULLS) OVER (
                   PARTITION BY a.user_id ORDER BY a.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS filled_cents,
               CAST(d.day_cents IS NULL AS INT) AS is_gap
        FROM alldays a LEFT JOIN daily d
          ON a.user_id = d.user_id AND a.day = d.day
    """,
    "ext_attribution_last_touch": f"""
        WITH ev AS (
            SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
            FROM events),
        tagged AS (
            SELECT user_id, event_id, event_type, ts_us,
                   last_value(CASE WHEN event_type = 'click'
                                   THEN ts_us END IGNORE NULLS) OVER w
                       AS click_ts_us,
                   last_value(CASE WHEN event_type = 'click'
                                   THEN event_id END IGNORE NULLS) OVER w
                       AS click_event
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT user_id, event_id AS purchase_event,
               CASE WHEN ts_us - click_ts_us <= {ATTR_WINDOW_US}
                    THEN click_event END AS click_event,
               CASE WHEN ts_us - click_ts_us <= {ATTR_WINDOW_US}
                    THEN CAST(FLOOR((ts_us - click_ts_us) / 60000000)
                              AS BIGINT) END AS mins_since_click
        FROM tagged WHERE event_type = 'purchase'
    """,
    "ext_map_funcs": f"""
        WITH c AS (SELECT event_type,
                          strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                          COUNT(*) AS n
                   FROM events GROUP BY event_type, day),
        t AS (SELECT event_type, SUM(n) AS total FROM c GROUP BY event_type)
        SELECT c.event_type, c.day,
               ROUND(c.n * 1.0 / t.total, 6) AS share
        FROM c JOIN t USING (event_type)
        WHERE ROUND(c.n * 1.0 / t.total, 6) >= {MAP_SHARE_MIN}
    """,
    "ext_quantile_mergeable": """
        WITH partials AS (
            SELECT event_type,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   value, COUNT(*) AS cnt
            FROM events GROUP BY 1, 2, 3),
        merged AS (
            SELECT event_type, value, CAST(SUM(cnt) AS BIGINT) AS cnt
            FROM partials GROUP BY 1, 2),
        cum AS (
            SELECT event_type, value, cnt,
                   SUM(cnt) OVER (PARTITION BY event_type ORDER BY value
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cum,
                   SUM(cnt) OVER (PARTITION BY event_type) AS total
            FROM merged)
        SELECT event_type,
               MIN(CASE WHEN cum * 2 >= total THEN value END) AS p50,
               MIN(CASE WHEN cum * 10 >= total * 9 THEN value END) AS p90,
               MIN(CASE WHEN cum * 100 >= total * 99 THEN value END) AS p99,
               CAST(SUM(cnt) AS BIGINT) AS n_rows,
               COUNT(*) AS n_distinct_values
        FROM cum GROUP BY event_type
    """,
    "ext_rollup": f"""
        SELECT coalesce(o_orderpriority, '{ALL}') AS priority,
               coalesce(o_orderstatus, '{ALL}') AS status,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    "ext_cube": f"""
        SELECT coalesce(l_returnflag, '{ALL}') AS returnflag,
               coalesce(l_linestatus, '{ALL}') AS linestatus,
               COUNT(*) AS n_lines,
               ROUND(SUM(l_quantity), 4) AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "ext_grouping_sets": f"""
        SELECT coalesce(event_type, '{ALL}') AS event_type,
               coalesce(CAST(user_id AS VARCHAR), '{ALL}') AS user_id,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM events
        GROUP BY GROUPING SETS ((event_type), (user_id), ())
    """,
    "ext_pivot": """
        SELECT user_id,
               COUNT(*) FILTER (event_type = 'click')    AS n_click,
               COUNT(*) FILTER (event_type = 'error')    AS n_error,
               COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
               COUNT(*) FILTER (event_type = 'signup')   AS n_signup,
               COUNT(*) FILTER (event_type = 'view')     AS n_view
        FROM events GROUP BY user_id
    """,
    # exact integer-cent moments, same IEEE op order as the Spark side
    # (SUM over HUGEINT is exact; see stats_by_segment docstring)
    "ext_stats_by_group": """
        WITH m AS (
            SELECT c_mktsegment, COUNT(*) AS n,
                   SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS HUGEINT)) AS s,
                   SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS HUGEINT)
                       * CAST(FLOOR(c_acctbal * 100 + 0.5) AS HUGEINT)) AS ss,
                   ROUND(median(c_acctbal), 4) AS med_bal,
                   ROUND(MIN(c_acctbal), 4) AS min_bal,
                   ROUND(MAX(c_acctbal), 4) AS max_bal
            FROM customer GROUP BY c_mktsegment)
        SELECT c_mktsegment, n,
               ROUND(CAST(s AS DOUBLE) / n / 100.0, 4) AS avg_bal,
               ROUND(SQRT(CAST(n * ss - s * s AS DOUBLE)
                          / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                     / 100.0, 4) AS sd_bal,
               ROUND(CAST(n * ss - s * s AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                     / 10000.0, 2) AS var_bal,
               med_bal, min_bal, max_bal
        FROM m
    """,
    # exact DECIMAL/HUGEINT moment sums, IEEE ops mirrored from
    # corr_price_quantity (corr is scale-invariant, cents == dollars)
    "ext_corr_covar": """
        WITH m AS (
            SELECT l_returnflag, COUNT(*) AS n,
                   SUM(CAST(l_quantity AS HUGEINT)) AS sq,
                   SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                       AS HUGEINT)) AS sp,
                   SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS HUGEINT)) AS sd,
                   SUM(CAST(l_quantity AS HUGEINT)
                       * CAST(l_quantity AS HUGEINT)) AS sqq,
                   SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS HUGEINT)
                       * CAST(FLOOR(l_extendedprice * 100 + 0.5)
                              AS HUGEINT)) AS spp,
                   SUM(CAST(l_quantity AS HUGEINT)
                       * CAST(FLOOR(l_extendedprice * 100 + 0.5)
                              AS HUGEINT)) AS sqp,
                   SUM(CAST(l_quantity AS HUGEINT)
                       * CAST(FLOOR(l_discount * 100 + 0.5)
                              AS HUGEINT)) AS sqd
            FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag,
               ROUND(CAST(n * sqp - sq * sp AS DOUBLE)
                     / (SQRT(CAST(n * sqq - sq * sq AS DOUBLE))
                        * SQRT(CAST(n * spp - sp * sp AS DOUBLE))),
                     6) AS corr_qty_price,
               ROUND(CAST(n * sqd - sq * sd AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
                     / 100.0, 6) AS covar_qty_disc
        FROM m
    """,
    "ext_scalar_funcs": """
        SELECT o_orderkey,
               year(o_orderdate) AS o_year,
               month(o_orderdate) AS o_month,
               day(o_orderdate) AS o_day,
               quarter(o_orderdate) AS o_quarter,
               strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
                   AS month_start,
               upper(substr(o_orderpriority, 3, 20)) AS prio_name,
               concat_ws('/', o_orderstatus, o_orderpriority) AS status_prio,
               length(o_orderpriority) AS prio_len,
               ROUND(ABS(o_totalprice - 1000.0), 2) AS abs_diff,
               ROUND(SQRT(o_totalprice), 6) AS sqrt_price,
               CAST(FLOOR(o_totalprice / 100) AS BIGINT) AS price_bucket,
               CASE WHEN o_totalprice > 1000 THEN 'big' ELSE 'small' END
                   AS size_tag
        FROM orders
    """,
    "ext_hash_sample": f"""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE {_SAMPLE_HASH} % 100 < {SAMPLE_PCT}
    """,
    "ext_scalar_subquery": """
        SELECT c_custkey, c_acctbal FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    """,
    "ext_in_subquery": """
        SELECT s_suppkey, s_name FROM supplier
        WHERE s_nationkey IN (SELECT c_nationkey FROM customer
                              GROUP BY c_nationkey HAVING COUNT(*) >= 50)
    """,
    "ext_lateral_topk": """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM nation n,
        LATERAL (SELECT c.c_custkey, c.c_acctbal
                 FROM customer c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c.c_acctbal DESC, c.c_custkey
                 LIMIT 2) t
    """,
    "ext_correlated_subquery": """
        SELECT c.c_custkey, c.c_nationkey FROM customer c
        WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                             WHERE c2.c_nationkey = c.c_nationkey)
    """,
    "ext_percentiles": """
        SELECT c_mktsegment,
               ROUND(quantile_cont(c_acctbal, 0.25), 6) AS p25,
               ROUND(quantile_cont(c_acctbal, 0.5), 6) AS p50,
               ROUND(quantile_cont(c_acctbal, 0.9), 6) AS p90
        FROM customer GROUP BY c_mktsegment
    """,
    "ext_unpivot": """
        SELECT p_partkey, metric, value
        FROM (SELECT p_partkey, CAST(p_size AS DOUBLE) AS p_size,
                     p_retailprice
              FROM part)
        UNPIVOT (value FOR metric IN (p_size, p_retailprice))
    """,
    "ext_conditional_agg": """
        SELECT l_linestatus,
               COUNT(*) FILTER (l_discount > 0.05) AS n_discounted,
               COUNT(*) FILTER (l_returnflag = 'R') AS n_returned,
               bool_or(l_quantity > 49) AS any_bulk,
               ROUND(SUM(l_extendedprice) FILTER (l_tax > 0.04), 2)
                   AS high_tax_revenue
        FROM lineitem GROUP BY l_linestatus
    """,
    "ext_string_agg": """
        SELECT n_regionkey,
               string_agg(n_name, '|' ORDER BY n_name) AS nations,
               COUNT(*) AS n_nations
        FROM nation GROUP BY n_regionkey
    """,
    # Sketch operators: the estimate itself is engine-specific and is
    # never emitted; the output is the exact count plus an in-plan
    # within-tolerance boolean, so the oracle recomputes the exact
    # count and expects TRUE — a hard hash-matching accuracy check
    # without hashing sketch internals.
    "ext_approx_count_distinct": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS within_tol
        FROM events GROUP BY event_type
    """,
    # the estimate is sketch-internal; the deterministic output is the
    # target grid, n, the PROVEN bound floor(n/K) + P, and the two
    # certificate booleans the in-plan exact counts must satisfy
    "ext_quantile_sketch": f"""
        WITH n1 AS (SELECT COUNT(*) AS n FROM lineitem)
        SELECT CAST(q.q_ppm AS BIGINT) AS q_ppm, n1.n AS n_rows,
               CAST(floor(n1.n / {QSK_K}) + {QSK_P} AS BIGINT) AS slack,
               TRUE AS ok_hi, TRUE AS ok_lo
        FROM (VALUES {", ".join(f"({q})" for q in QSK_TARGETS)}) q(q_ppm)
        CROSS JOIN n1
    """,
    "ext_hll_mergeable": """
        SELECT event_type,
               COUNT(DISTINCT CAST(ts AS DATE)) AS n_daily_sketches,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS within_tol
        FROM events GROUP BY event_type
    """,
}


def _hybrid_retrieval_oracle() -> str:
    """Composes the RRF oracle with the unrolled single-slate greedy
    diversification — the same integer argmax sequence as the Spark
    pipeline, step for step."""
    q4 = (
        "CAST(FLOOR(ROUND({x}, 4) * " + str(HR_Q) + " + 0.5) AS BIGINT)"
    ).format
    dot = (
        "list_dot_product(CAST(ea.embedding AS DOUBLE[]), "
        "CAST(eb.embedding AS DOUBLE[]))"
    )
    parts = [f"""
    WITH fused AS ({ORACLES["ext_rrf_fusion"]}),
    rankedf AS (
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id)
                    AS BIGINT) AS fr
        FROM fused),
    cand AS (
        SELECT r.doc_id, r.fr,
               ({RRF_TOPK} + 1 - r.fr) * {HR_Q // RRF_TOPK} AS rel_q
        FROM rankedf r JOIN embeddings e ON e.vec_id = r.doc_id),
    sims AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, {q4(x=dot)} AS s
        FROM cand a JOIN cand b ON a.doc_id != b.doc_id
        JOIN embeddings ea ON ea.vec_id = a.doc_id
        JOIN embeddings eb ON eb.vec_id = b.doc_id),
    selall1 AS (
        SELECT CAST(1 AS BIGINT) AS step, doc_id, fr, rel_q,
               rel_q * 7 AS score
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rel_q DESC,
                          doc_id) AS rn
              FROM cand) WHERE rn = 1)"""]
    for t in range(2, HR_K + 1):
        parts.append(f""",
    selall{t} AS (
        SELECT * FROM selall{t - 1}
        UNION ALL
        SELECT CAST({t} AS BIGINT) AS step, doc_id, fr, rel_q, score
        FROM (
            SELECT c.doc_id, c.fr, c.rel_q,
                   c.rel_q * 7 - m.max_s * 3 AS score,
                   ROW_NUMBER() OVER (ORDER BY c.rel_q * 7
                       - m.max_s * 3 DESC, c.doc_id) AS rn
            FROM cand c
            JOIN (SELECT s.a_id, MAX(s.s) AS max_s
                  FROM sims s JOIN selall{t - 1} p ON p.doc_id = s.b_id
                  GROUP BY 1) m ON m.a_id = c.doc_id
            WHERE NOT EXISTS (SELECT 1 FROM selall{t - 1} p
                              WHERE p.doc_id = c.doc_id)
        ) WHERE rn = 1)""")
    parts.append(f"""
    SELECT step, doc_id, fr AS fused_rank,
           ROUND(rel_q / {HR_Q}.0, 4) AS rel,
           ROUND(score / {HR_Q * 10}.0, 5) AS mmr
    FROM selall{HR_K}""")
    return "".join(parts)


QUERIES["pipeline_hybrid_retrieval"] = hybrid_retrieval_pipeline
ORACLES["pipeline_hybrid_retrieval"] = _hybrid_retrieval_oracle()
