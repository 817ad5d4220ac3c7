"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine.

The LLM-training-data dedup surface (driver mandate). Every variant is
oracle-checked: the hash primitives (functions.hashing) are md5-based
specifically so DuckDB can recompute identical signatures — the oracle
replays MinHash/SimHash/banding in SQL rather than settling for a
rows-only check.

Scale design (100 TB):
- exact dedup = hash-groupBy on the fingerprint: one shuffle of (fp,
  doc_id) pairs only;
- Jaccard near-dup avoids O(n²): inverted-index self-join on shingles
  emits only pairs sharing ≥1 shingle, then exact Jaccard on the
  candidates. Hot shingles (stopword trigrams) can skew the join — the
  shingle explode is a natural place for a frequency cap at scale
  (drop shingles with df > threshold, standard practice);
- MinHash+LSH bounds candidate generation further: the join key is a
  16-value signature folded into 4 banded md5 keys, so shuffle volume
  is 4 rows/doc regardless of doc length;
- SimHash packs a doc into one long; banding (4×15 bits) is EXACT for
  hamming ≤ 3 by pigeonhole, so the banded plan returns identical pairs
  to the all-pairs oracle while shuffling only 4 (band, doc) rows/doc;
- embedding near-dup is random-hyperplane LSH banding (thin
  (band, bval, vec_id) shuffle, exact dot verify on the candidate
  set) — sub-quadratic by construction; the oracle replays the same
  banding from identical md5-derived plane constants.
"""

from __future__ import annotations

import hashlib
import math

from collections.abc import Callable

import numpy as _np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from mini_sql_engine_spark.functions.frames import jvm_rows
from mini_sql_engine_spark.catalog import (
    DFMemo,
    ensure_min_partitions,
    load_table,
)
from mini_sql_engine_spark.functions import textfns, vector
from mini_sql_engine_spark.functions.hashing import (
    SIMHASH_BITS,
    hamming64,
    lsh_bands,
    md5_long,
    minhash_signature,
    simhash,
    simhash_band,
    simhash_from_votes,
)

SHINGLE_K = 3
MINHASH_K = 16
MINHASH_BANDS = 4
MINHASH_ROWS = 4
JACCARD_T = 0.2
SIMHASH_BAND_BITS = 15
SIMHASH_N_BANDS = 4
HAMMING_MAX = 3  # ≤ band count - 1 ⇒ banding is exact (pigeonhole)
COSINE_T = 0.45
EMB_DIM = 64
EMB_LSH_BANDS = 8  # OR over bands: miss prob (1 - p^ROWS)^BANDS
EMB_LSH_ROWS = 2  # sign-bit hyperplanes AND-ed within one band
PREFIX_T = 0.5  # Jaccard threshold for the prefix-filter join (num/den below)
PREFIX_T_NUM, PREFIX_T_DEN = 1, 2  # exact rational form — integer ceil math


_SHINGLE_CACHE = DFMemo()


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id + distinct token-3-shingle array (parallelized scan).

    persist()ed, NOT localCheckpoint'ed: every consumer self-joins or
    reuses this relation 2–3× and Spark does not reuse the exchange
    across the a<b self-join, so materializing the shingling once cuts
    each jaccard-family query ~3×. It is shared by every op on the
    current corpus (a one-directory DFMemo: the first op on another
    sf_dir unpersists it) and handed to downstream frames that may
    outlive the memo entry, so it keeps its LINEAGE: persist recomputes
    deterministically if a cached block is dropped or unpersisted,
    while a checkpoint severs lineage and pins the session to whatever
    block state survives — the wrong durability trade for shared state.
    (Short-lived per-query localCheckpoints inside one action are
    unaffected.)"""
    cached = _SHINGLE_CACHE.get(spark, sf_dir)
    if cached is not None:
        return cached[0]
    sh = ensure_min_partitions(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.array_distinct(textfns.shingles("text", SHINGLE_K)).alias("sh"),
    )
    return _SHINGLE_CACHE.put(sf_dir, sh.persist())[0]


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a corpus with injected duplicates (self-union —
    the natural corpus has no exact dups, which would make the check
    trivial): canonical keeper + multiplicity per fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    doubled = docs.unionAll(docs)
    return (
        doubled.select("doc_id", textfns.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def exact_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-based exact dedup (lang, source): keeper + group size."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_in_group"))
    )


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs via inverted-index join, verified by exact Jaccard."""
    sh = _shingled(spark, sf_dir)
    ex = sh.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("shingle"))
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jacc",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ),
        )
    )


_PAIRS_CACHE = DFMemo()
_CLUSTER_CACHE = DFMemo()


def jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pairs (jacc ≥ threshold), persist()ed and
    memoized for the current sf_dir like `_shingled`: a dozen downstream
    operators (canonical keep, clusters, k-core, triangles, top
    pairs, recall benchmark, locality sharding, Adamic–Adar,
    modularity, …) all start from this table, and the inverted-index
    self-join that builds it is the expensive part they would
    otherwise each re-run. Lineage retained — persist, not
    checkpoint (see `_shingled` for the durability argument)."""
    cached = _PAIRS_CACHE.get(spark, sf_dir)
    if cached is not None:
        return cached[0]
    out = (
        _jaccard_pairs(spark, sf_dir)
        .filter(F.col("jacc") >= JACCARD_T)
        .select("doc_a", "doc_b", "jacc")
        .persist()
    )
    return _PAIRS_CACHE.put(sf_dir, out)[0]


FS_ITERS = 3  # EM iterations (fixed unroll — oracle mirrors each step)
FS_P0, FS_M0, FS_U0 = 0.5, 0.8, 0.2  # EM init (prevalence, m, u)
FS_FIELDS = ["same_lang", "same_source", "high_jaccard"]


def _fs_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparison vectors for Fellegi–Sunter: candidate pairs from the
    shingle inverted index with three binary agreement fields."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source"
    )
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b", "jacc")
    da = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("source").alias("src_a"),
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("src_b"),
    )
    return (
        pairs.join(F.broadcast(da), "doc_a")
        .join(F.broadcast(db), "doc_b")
        .select(
            (F.col("lang_a") == F.col("lang_b")).cast("int").alias("g1"),
            (F.col("src_a") == F.col("src_b")).cast("int").alias("g2"),
            (F.col("jacc") >= JACCARD_T).cast("int").alias("g3"),
        )
        .localCheckpoint(eager=False)
    )


def fellegi_sunter_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage, parameters fit by
    EM: over the blocked candidate pairs' binary comparison vectors
    (same language / same source / high Jaccard), estimate per-field
    match probabilities m_i = P(agree | match), u_i = P(agree |
    non-match) and the match prevalence p — the published (1969)
    model behind every production linkage engine, which turns raw
    field agreements into principled match weights WITHOUT labeled
    pairs. FS_ITERS EM steps run as a driver loop: the E-step
    responsibilities are per-row arithmetic on the current parameter
    literals, the M-step reduces through the fixed-point qsum, and
    the next parameters are exact ratios of those integer sums — so
    both engines walk the identical parameter sequence (the oracle
    unrolls the same three steps as chained CTEs). Driver-side
    .collect() carries only the 8 scalar sums per iteration — a
    control value, same as the connected-components convergence sum.

    Scale notes (100 TB): the E/M pass is one map-side-combinable
    aggregate over the (checkpointed) comparison-vector table per
    iteration — FS_ITERS corpus-independent passes over |candidate
    pairs| rows. Blocking (the shingle index) is what keeps that
    table ≪ n²; the EM itself adds no shuffle beyond the partial-agg
    combine.
    """
    gam = _fs_gamma(spark, sf_dir)
    gcols = ["g1", "g2", "g3"]
    p, m, u = FS_P0, [FS_M0] * 3, [FS_U0] * 3
    n_pairs = sg = su = None
    sgi = sui = [0] * 3
    for _ in range(FS_ITERS):
        a = F.lit(p)
        b = F.lit(1.0 - p)
        for i, gc in enumerate(gcols):
            a = a * F.when(F.col(gc) == 1, F.lit(m[i])).otherwise(
                F.lit(1.0 - m[i])
            )
            b = b * F.when(F.col(gc) == 1, F.lit(u[i])).otherwise(
                F.lit(1.0 - u[i])
            )
        g = a / (a + b)
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(g * NANO_F + 0.5).cast("long")).alias("sg"),
            F.sum(F.floor((F.lit(1.0) - g) * NANO_F + 0.5).cast("long")).alias(
                "su"
            ),
        ]
        for i, gc in enumerate(gcols):
            aggs.append(
                F.sum(
                    F.floor(g * F.col(gc) * NANO_F + 0.5).cast("long")
                ).alias(f"sg{i}")
            )
            aggs.append(
                F.sum(
                    F.floor((F.lit(1.0) - g) * F.col(gc) * NANO_F + 0.5).cast(
                        "long"
                    )
                ).alias(f"su{i}")
            )
        row = gam.agg(*aggs).collect()[0]
        n_pairs, sg, su = row["n"], row["sg"], row["su"]
        sgi = [row[f"sg{i}"] for i in range(3)]
        sui = [row[f"su{i}"] for i in range(3)]
        # next parameters: exact ratios of the integer sums — the same
        # IEEE divisions the oracle's CTE writes, so the parameter
        # sequence is engine-independent
        p = (sg / 1_000_000_000) / n_pairs
        m = [sgi[i] / sg for i in range(3)]
        u = [sui[i] / su for i in range(3)]
    # half-up at 1e-6 via floor (Python round() is banker's — would
    # diverge from SQL ROUND on exact halves)
    def r6(x: float) -> float:
        return math.floor(x * 1_000_000 + 0.5) / 1_000_000

    rows = [
        (FS_FIELDS[i], r6(m[i]), r6(u[i]), r6(m[i] / u[i]), r6(p), n_pairs)
        for i in range(3)
    ]
    return jvm_rows(
        spark, rows, "field string, m double, u double, mu_ratio double, "
        "p double, n_pairs long"
    )


def _fs_oracle() -> str:
    """The identical FS_ITERS EM steps as chained CTEs — parameter-
    for-parameter the sequence the Spark driver loop walks."""
    gam = f"""
        SELECT CAST(da.lang = db.lang AS INT) AS g1,
               CAST(da.source = db.source AS INT) AS g2,
               CAST(p.jacc >= {JACCARD_T} AS INT) AS g3
        FROM ({{pairs}}) p
        JOIN documents da ON da.doc_id = p.doc_a
        JOIN documents db ON db.doc_id = p.doc_b"""
    parts = [
        f"""
    WITH gam AS ({gam}),
    it0 AS (SELECT CAST({FS_P0} AS DOUBLE) AS p,
                   CAST({FS_M0} AS DOUBLE) AS m1,
                   CAST({FS_M0} AS DOUBLE) AS m2,
                   CAST({FS_M0} AS DOUBLE) AS m3,
                   CAST({FS_U0} AS DOUBLE) AS u1,
                   CAST({FS_U0} AS DOUBLE) AS u2,
                   CAST({FS_U0} AS DOUBLE) AS u3)"""
    ]
    for t in range(1, FS_ITERS + 1):
        prev = f"it{t - 1}"
        a = "it.p"
        b = "(1.0 - it.p)"
        for i in (1, 2, 3):
            a += (
                f" * (CASE WHEN g{i} = 1 THEN it.m{i}"
                f" ELSE 1.0 - it.m{i} END)"
            )
            b += (
                f" * (CASE WHEN g{i} = 1 THEN it.u{i}"
                f" ELSE 1.0 - it.u{i} END)"
            )
        qs = "SUM(CAST(FLOOR({x} * 1000000000 + 0.5) AS BIGINT))".format
        sums = [
            "COUNT(*) AS n",
            f"CAST({qs(x='g')} AS BIGINT) AS sg",
            f"CAST({qs(x='(1.0 - g)')} AS BIGINT) AS su",
        ]
        for i in (1, 2, 3):
            sums.append(f"CAST({qs(x=f'g * g{i}')} AS BIGINT) AS sg{i}")
            sums.append(
                f"CAST({qs(x=f'(1.0 - g) * g{i}')} AS BIGINT) AS su{i}"
            )
        parts.append(f""",
    w{t} AS (
        SELECT g1, g2, g3,
               ({a}) / (({a}) + ({b})) AS g
        FROM gam CROSS JOIN {prev} it),
    s{t} AS (SELECT {', '.join(sums)} FROM w{t}),
    it{t} AS (
        SELECT (sg / 1000000000) / n AS p,
               sg1 / sg AS m1, sg2 / sg AS m2, sg3 / sg AS m3,
               su1 / su AS u1, su2 / su AS u2, su3 / su AS u3,
               n
        FROM s{t})""")
    rows = []
    for i, fname in enumerate(FS_FIELDS, start=1):
        rows.append(f"""
        SELECT '{fname}' AS field,
               FLOOR(m{i} * 1000000 + 0.5) / 1000000 AS m,
               FLOOR(u{i} * 1000000 + 0.5) / 1000000 AS u,
               FLOOR(m{i} / u{i} * 1000000 + 0.5) / 1000000 AS mu_ratio,
               FLOOR(p * 1000000 + 0.5) / 1000000 AS p,
               n AS n_pairs
        FROM it{FS_ITERS}""")
    parts.append(" UNION ALL ".join(rows))
    return "".join(parts)


NANO_F = 1_000_000_000


LSH_TUNE_GRID: list[tuple[int, int]] = [
    # (rows per band r, bands b) — the S-curve P(collide|s) = 1−(1−s^r)^b
    (1, 4), (2, 4), (2, 8), (3, 8), (4, 4), (4, 8),
]


def _powi_col(c: Column, n: int) -> Column:
    """c**n as an explicit left-fold product — identical IEEE multiply
    chain to the oracle's textual expansion (libm pow() is NOT
    guaranteed bit-identical across engines; repeated multiplication
    is)."""
    out = c
    for _ in range(n - 1):
        out = out * c
    return out


def lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter advisor: for each (rows r, bands b)
    config, the EXPECTED RECALL over the corpus's verified near-dup
    pairs under the banding S-curve P(collide | s) = 1 − (1 − s^r)^b,
    next to the config's implied similarity threshold (1/b)^(1/r) —
    the number you need BEFORE committing a (r, b) choice to a 100 TB
    dedup run, computed against this corpus's actual similarity
    distribution instead of a textbook curve. Powers expand to
    explicit multiply chains so both engines run the identical IEEE
    sequence; the recall average runs through qsum.

    Scale notes (100 TB): consumes the memoized verified-pair table
    (|pairs| ≪ corpus); each config is one aggregate row over it. The
    advisor costs |grid| passes over a table that already exists for
    a dozen other operators.
    """
    pairs = jaccard_dedup(spark, sf_dir)
    out: DataFrame | None = None
    for r, b in LSH_TUNE_GRID:
        collide = F.lit(1.0) - _powi_col(
            F.lit(1.0) - _powi_col(F.col("jacc"), r), b
        )
        row = pairs.agg(
            F.lit(r).cast("long").alias("r"),
            F.lit(b).cast("long").alias("b"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(
                F.sum(F.floor(collide * 1_000_000_000 + 0.5).cast("long"))
                / 1_000_000_000
                / F.count(F.lit(1)),
                6,
            ).alias("expected_recall"),
            F.lit(round((1.0 / b) ** (1.0 / r), 6)).alias("threshold_s"),
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out


def _lsh_tune_oracle() -> str:
    def powi(expr: str, n: int) -> str:
        out = expr
        for _ in range(n - 1):
            out = f"({out} * {expr})"
        return out

    parts = []
    for r, b in LSH_TUNE_GRID:
        sr = powi("jacc", r)
        collide = f"(1.0 - {powi(f'(1.0 - {sr})', b)})"
        parts.append(f"""
        SELECT CAST({r} AS BIGINT) AS r, CAST({b} AS BIGINT) AS b,
               COUNT(*) AS n_pairs,
               ROUND(CAST(SUM(CAST(FLOOR({collide} * 1000000000 + 0.5)
                   AS BIGINT)) AS BIGINT) / 1000000000 / COUNT(*), 6)
                   AS expected_recall,
               CAST({round((1.0 / b) ** (1.0 / r), 6)!r} AS DOUBLE)
                   AS threshold_s
        FROM (SELECT jacc FROM ({{pairs}}) p WHERE jacc >= {{t}})""")
    return " UNION ALL ".join(parts)


def prefix_filter_dedup(
    spark: SparkSession,
    sf_dir: str,
    *,
    t_num: int = PREFIX_T_NUM,
    t_den: int = PREFIX_T_DEN,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via PPJoin-style prefix
    filtering (Chaudhuri et al. "A Primitive Operator for Similarity
    Joins"; Xiao et al. PPJoin) — the scale path for exact (not LSH-
    approximate) near-dup joins.

    Order every doc's shingles rarest-first by global document
    frequency; a pair can reach Jaccard >= t only if it shares a
    shingle inside each side's first n - ceil(t*n) + 1 elements
    (prefix-filter lemma: jacc >= t implies overlap >= ceil(t*n) on
    both sides). Only prefixes enter the candidate self-join, so the
    quadratic blowup of frequent shingles — the cost driver of the
    plain inverted-index join, sum over shingles of count^2 — is
    eliminated: frequent shingles sort to the back and never generate
    candidates. At t=0.5 the prefix is ~half the shingles, but the
    pair count drops far more than 2x because it is the hottest
    shingles that leave. Unlike MinHash-LSH this misses NOTHING: the
    output is bit-identical to the exact join, so the oracle is the
    same exact-Jaccard SQL.

    100 TB: only REPEATED shingles (df >= 2) can generate candidates
    or perturb the rarest-first order, so the df table is aggregated
    on a cheap xxhash64 key, filtered to df >= 2, and broadcast — in
    a mostly-unique corpus (any dedup workload: bulk unique content +
    a duplicated slice) that set is orders of magnitude smaller than
    the vocabulary, and absent shingles coalesce to df = 1, which IS
    their true frequency, so the ordering is unchanged. The df attach
    is therefore map-side; the only full-row shuffle is the per-doc
    prefix window on doc_id (hash collisions merely merge two df
    counts — the order stays a consistent deterministic total order,
    so the filter stays lossless; if the repeated-shingle set ever
    outgrows the broadcast limit, swap the broadcast for a count
    window over shingle — one extra shuffle, same semantics). df = 1
    prefix rows are dropped before the candidate self-join (a shared
    shingle has df >= 2 by definition — lossless prune). Candidate
    pairs then pass PPJoin's POSITIONAL filter before any array work:
    a token shared at 1-based rarest-first positions (pa, pb) bounds
    the overlap by 1 + min(na - pa, nb - pb), and jacc >= t needs
    overlap >= ceil(t*(na+nb)/(1+t)), so pairs whose best shared
    prefix token can't reach the bound die on integer arithmetic
    alone. Survivors are verified with exact array intersection; the
    per-doc shingle table (|docs| rows, three orders smaller than the
    pair table) is the broadcast side of both verify joins, so
    neither the pair table nor the arrays ever shuffle (at corpus
    sizes where the doc table outgrows broadcast, these become plain
    shuffled joins on doc id — the standard fallback)."""
    from pyspark.sql import Window

    sh = _shingled(spark, sf_dir)
    ex = sh.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("shingle"))
    freq2 = (
        ex.groupBy(F.xxhash64("shingle").alias("hsh"))
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
    )
    # rarest-first total order per doc; keep the first
    # n - ceil(t*n) + 1 shingles (exact integer ceil via num/den)
    prefix_len = (
        f"cast(n - ((n * {t_num} + {t_den} - 1) "
        f"div {t_den}) + 1 as int)"
    )
    # Round 11: round 10's df>=2 window-slice rewrite (rank the slice,
    # reconstruct the global rank as (n - n2) + rn2 with a second
    # count-window) REGRESSED 20-25% in the driver bench and lost every
    # isolated min-of-3 A/B this round (slice variants 2.8-3.0 s vs
    # 2.4-2.8 s without; the added Window node + rank arithmetic cost
    # more than the row savings buy at any measured SF) — reverted to
    # the single-window form per VERDICT r10 item 1.
    wdoc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    px = (
        ex.join(F.broadcast(freq2), F.xxhash64("shingle") == freq2.hsh, "left")
        .withColumn("df", F.coalesce("df", F.lit(1)))
        .withColumn("rn", F.row_number().over(wdoc))
        .filter((F.col("rn") <= F.expr(prefix_len)) & (F.col("df") >= 2))
        .select("doc_id", "n", "rn", "shingle")
    )
    a, b = px.alias("a"), px.alias("b")
    # overlap needed for jacc >= t, and the positional upper bound on
    # overlap from each shared prefix token — all integer-exact
    alpha = (
        f"(({t_num} * (na + nb) + {t_num + t_den} - 1) "
        f"div {t_num + t_den})"
    )
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # PPJoin length filter (lossless): jacc >= t forces
            # t*max(na, nb) <= min(na, nb); integer-exact via num/den.
            # Evaluated inside the join, before the pair aggregation.
            & (F.col("a.n") * t_num <= F.col("b.n") * t_den)
            & (F.col("b.n") * t_num <= F.col("a.n") * t_den),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            (
                1 + F.least(F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn"))
            ).alias("tok_ub"),
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.max("tok_ub").alias("best_ub"))
        .filter(F.col("best_ub") >= F.expr(alpha))
        .select("doc_a", "doc_b")
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    na, nb = F.size("sha"), F.size("shb")
    return (
        cand.join(F.broadcast(sha), "doc_a")
        .join(F.broadcast(shb), "doc_b")
        .withColumn("jacc", F.round(inter / (na + nb - inter), 6))
        .filter(F.col("jacc") >= t_num / t_den)
        .select("doc_a", "doc_b", "jacc")
    )


def canonical_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy dedup: drop every doc Jaccard-similar to a smaller-id doc;
    return the surviving doc ids (anti-join against the dropped set)."""
    docs = load_table(spark, sf_dir, "documents")
    dropped = jaccard_dedup(spark, sf_dir).select(
        F.col("doc_b").alias("doc_id")
    ).distinct()
    return docs.join(dropped, "doc_id", "left_anti").select("doc_id")


SPLIT_TRAIN_PCT = 80  # deterministic hash split: 80 / 10 / 10
SPLIT_VAL_PCT = 90


def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split-leakage audit: near-duplicate pairs whose
    members land in DIFFERENT splits of a deterministic md5 hash split
    — the contamination check a training pipeline runs before trusting
    any eval number (a val doc with a train near-twin is leakage even
    when exact dedup is clean). Returns the leaking pairs with both
    split labels and the similarity, ready for quarantine or re-split.

    Deterministic hash bucketing (not rand()) means the audit is
    reproducible across engines, reruns, and partitionings — the same
    property the sampling operators rely on. Scale: the near-dup pair
    table is the small side (it IS the dedup output); split labels are
    a key-hash projection attached by broadcast, so the audit adds two
    map-side joins on top of whichever near-dup join produced the
    pairs."""
    bucket = md5_long(F.col("doc_id").cast("string"), "split") % 100
    splits = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )
    sa = splits.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b"))
    return (
        jaccard_dedup(spark, sf_dir)
        .join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b", "jacc")
    )


def grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free split CONSTRUCTOR: assign train/val/test by hashing
    the near-dup CLUSTER representative, not the doc id — every member
    of a duplicate cluster lands in the same split by construction, so
    the leakage ext_split_leakage audits is structurally impossible.
    This is the fix a pipeline applies after that audit fires: re-split
    on the connected-component label instead of quarantining pairs.

    Composition, not new machinery: cluster labels come from
    dedup_clusters (memoized min-label propagation) and the bucketing
    is the same salted md5 the per-doc split uses — swapping the hash
    key from doc_id to cluster_id is the entire operator. Split RATIOS
    now hold over clusters rather than docs; with a realistic dup rate
    the doc-level skew is the duplicate mass itself (reported by
    ext_dedup_rate_curve), a bias every grouped split accepts in
    exchange for zero leakage.

    100 TB: one broadcast-or-shuffle join of docs to labels beyond the
    propagation cost already paid (and cached) by the clustering pass;
    the hash split itself is map-side codegen."""
    labels = dedup_clusters(spark, sf_dir)
    bucket = md5_long(F.col("cluster_id").cast("string"), "split") % 100
    return labels.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


def dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO duplicates WHOM: the near-dup pair mass between every pair
    of corpus sources (canonical order, self-pairs included) — the
    provenance diagnostic behind a dedup report. A heavy off-diagonal
    cell means one source mirrors another (scrape-of-a-scrape); a
    heavy diagonal means within-source boilerplate. This is the
    source-level rollup of ext_split_leakage's machinery, pointed at
    ingestion instead of splits.

    Shares are integer ppm (floor(n·10⁶ / total)) — the fixed-point
    rule, no double ratio to ROUND. Scale: the pair table IS the dedup
    output (small); source labels attach by broadcast; the rollup key
    (source, source) has trivial cardinality."""
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb"))
    pairs = (
        jaccard_dedup(spark, sf_dir)
        .join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    counts = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    total = counts.agg(F.sum("n_pairs").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "source_a",
        "source_b",
        "n_pairs",
        F.floor(F.col("n_pairs") * 1_000_000 / F.col("total"))
        .cast("long")
        .alias("share_ppm"),
    )


def dup_loss_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware training weights: every document weighted
    1/|its near-dup cluster| so each distinct CONTENT contributes unit
    mass to the loss regardless of how many near-copies survive in the
    corpus — the soft alternative to dropping duplicates outright
    (keeps lexical variation across near-copies, kills the repetition
    bias). Weights are exact integer ppm.

    Scale: cluster labels are the (cached) min-label propagation
    output; sizes are one map-side-combinable count; the weight attach
    is a broadcast join of the cluster-size table (clusters ≪ docs)."""
    labels = dedup_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return labels.join(F.broadcast(sizes), "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        F.floor(F.lit(1_000_000) / F.col("cluster_size"))
        .cast("long")
        .alias("weight_ppm"),
    )


# one-directory, content-keyed memos (see DFMemo): in-place fixture
# regeneration invalidates, and the first op on another sf_dir
# unpersists the previous corpus's entry
_MINHASH_CACHE = DFMemo()
_SIMHASH_CACHE = DFMemo()


def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures → banded LSH candidates → exact-Jaccard verify.

    The banded self-join shuffles only (band, doc_id) pairs — 4 thin
    rows per doc regardless of doc length; the heavy shingle arrays are
    joined back onto the (small) deduplicated candidate set afterwards,
    so array bytes never ride the candidate-generation shuffle.

    persist()ed + memoized for the current sf_dir like `jaccard_dedup`:
    the verified pair table is consumed by its own query AND the blocker
    audits (capture_recapture, the association consumer) on the same
    corpus, each of which would otherwise re-run the banded self-join;
    the first call on another sf_dir unpersists it. Lineage retained —
    see `_shingled` for the persist-vs-checkpoint argument."""
    cached = _MINHASH_CACHE.get(spark, sf_dir)
    if cached is not None:
        return cached[0]
    sh = _shingled(spark, sf_dir)
    sig = sh.withColumn("sig", minhash_signature(F.col("sh"), MINHASH_K))
    banded = sig.select(
        "doc_id",
        F.explode(lsh_bands(F.col("sig"), MINHASH_BANDS, MINHASH_ROWS)).alias("band"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sha = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    shb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    verified = cand.join(sha, "doc_a").join(shb, "doc_b")
    inter = F.size(F.array_intersect("sha", "shb"))
    union_n = F.size("sha") + F.size("shb") - inter
    out = (
        verified.withColumn("jacc", F.round(inter / union_n, 6))
        .filter(F.col("jacc") >= JACCARD_T)
        .select("doc_a", "doc_b", "jacc")
        .persist()
    )
    return _MINHASH_CACHE.put(sf_dir, out)[0]


def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at hamming ≤ 3 via exact 4×15-bit banding.

    persist()ed + memoized for the current sf_dir — consumed by its own
    query and the blocker audits on the same corpus (see
    `minhash_lsh_dedup`)."""
    cached = _SIMHASH_CACHE.get(spark, sf_dir)
    if cached is not None:
        return cached[0]
    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    tok = docs.select("doc_id", F.explode(textfns.tokens("text")).alias("t"))
    votes = (
        tok.withColumn("h", md5_long(F.col("t")))
        .groupBy("doc_id")
        .agg(*simhash(F.col("h")))
    )
    # thin (doc_id, sim) relation, self-joined below — checkpoint so the
    # token hash + vote aggregation runs once, not once per join side
    sims = votes.select("doc_id", simhash_from_votes().alias("sim")).localCheckpoint(
        eager=False
    )
    bands_arr = F.array(
        *[
            simhash_band(F.col("sim"), j, SIMHASH_BAND_BITS)
            for j in range(SIMHASH_N_BANDS)
        ]
    )
    bx = sims.select(
        "doc_id", "sim", F.posexplode(bands_arr).alias("bpos", "bval")
    )
    a, b = bx.alias("a"), bx.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.bpos") == F.col("b.bpos"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming64(F.col("a.sim"), F.col("b.sim")).cast("long").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= HAMMING_MAX)
        .persist()
    )
    return _SIMHASH_CACHE.put(sf_dir, out)[0]


def _emb_plane(band: int, row: int) -> list[float]:
    """Deterministic pseudo-random sign-bit hyperplane in [-1, 1]^64.

    Same md5-literal construction as similarity.PLANES (distinct salt)
    so the DuckDB oracle can inline bit-identical plane constants and
    both engines band identically."""
    return [
        (int(hashlib.md5(f"e{band}:{row}:{d}".encode()).hexdigest()[:15], 16) % 2001
         - 1000) / 1000.0
        for d in range(EMB_DIM)
    ]


EMB_PLANES: dict[tuple[int, int], list[float]] = {
    (b, r): _emb_plane(b, r)
    for b in range((EMB_LSH_BANDS))
    for r in range(EMB_LSH_ROWS)
}


def _emb_band_val(emb: Column, band: int) -> Column:
    """Band signature: EMB_LSH_ROWS sign bits packed into one int.

    Expression-tier reference implementation — kept as the spec the
    vectorized path must match (pinned by a pytest equivalence test);
    the operator itself uses `_emb_band_vals_udf`, which computes all
    BANDS×ROWS dots in one Arrow-batched numpy pass (~20× less time
    than BANDS×ROWS interpreted higher-order aggregates per row)."""
    out = F.lit(0)
    for r in range(EMB_LSH_ROWS):
        plane = F.array(*[F.lit(v) for v in EMB_PLANES[(band, r)]])
        out = out + F.when(vector.dot(emb, plane) >= 0, F.lit(1 << r)).otherwise(0)
    return out


# plane matrix, column b*ROWS+r  ↔  EMB_PLANES[(b, r)]; shape DIM×(B·R)
_EMB_PLANES_MAT = _np.array(
    [EMB_PLANES[(b, r)] for b in range(EMB_LSH_BANDS) for r in range(EMB_LSH_ROWS)],
    dtype=_np.float64,
).T

_EMB_UDF_CHUNK = 1024  # rows per cumsum block: 1024·64·16·8B ≈ 8 MB peak


def _emb_band_vals_fn(emb: pd.Series) -> pd.Series:
    """All EMB_LSH_BANDS band values per vector in one numpy pass.
    (Wrapped by F.pandas_udf lazily — the decorator needs a live
    session, which does not exist at import time.)

    Accumulation is np.cumsum over the element-wise products —
    sequential left-to-right in float64, bit-identical to the
    expression tier and DuckDB's list_dot_product, so the `>= 0` sign
    bits agree exactly across engines (a plain matmul could flip a
    sign on a dot within reordering distance of zero)."""
    out = []
    n = len(emb)
    for lo in range(0, n, _EMB_UDF_CHUNK):
        chunk = emb.iloc[lo : lo + _EMB_UDF_CHUNK]
        M = _np.stack(chunk.to_numpy()).astype(_np.float64)  # c×DIM
        prod = M[:, :, None] * _EMB_PLANES_MAT[None, :, :]  # c×DIM×(B·R)
        dots = _np.cumsum(prod, axis=1)[:, -1, :]  # sequential per plane
        bits = (dots >= 0).astype(_np.int32)  # c×(B·R)
        vals = _np.zeros((len(M), EMB_LSH_BANDS), dtype=_np.int32)
        for b in range(EMB_LSH_BANDS):
            for r in range(EMB_LSH_ROWS):
                vals[:, b] |= bits[:, b * EMB_LSH_ROWS + r] << r
        out.extend(list(vals))
    return pd.Series(out)


def _bucket_score(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel: score one (band, bval) bucket's pairs.

    Matmul prunes (with a margin wider than the 4-digit rounding step,
    so reordering drift can never drop a pair the oracle keeps), then
    survivors are re-accumulated sequentially (vector._seq_dot) for
    bit-identical agreement with DuckDB's list_dot_product."""
    empty = pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []}).astype(
        {"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"}
    )
    if len(pdf) < 2:
        return empty
    M = _np.stack(pdf["embedding"].to_numpy()).astype(_np.float64)
    ids = pdf["vec_id"].to_numpy()
    scores = M @ M.T
    mask = (scores >= COSINE_T - 1e-4) & (ids[:, None] < ids[None, :])
    ia, ib = _np.nonzero(mask)
    if ia.size == 0:
        return empty
    exact = _np.round(vector._seq_dot(M[ia], M[ib]), 4)
    keep = exact >= COSINE_T
    if not keep.any():
        return empty
    return pd.DataFrame(
        {"vec_a": ids[ia][keep], "vec_b": ids[ib][keep], "cos_sim": exact[keep]}
    )


# Candidate recall at exactly t: per-plane collision prob for angle θ is
# 1-θ/π; a pair survives if ALL ROWS planes agree in SOME band.
_EMB_P = 1.0 - math.acos(COSINE_T) / math.pi
EMB_LSH_RECALL_AT_T = 1.0 - (1.0 - _EMB_P**EMB_LSH_ROWS) ** EMB_LSH_BANDS


def embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH banding + exact
    within-bucket verify — the sub-quadratic scale path.

    One Arrow-batched pandas_udf computes all band signatures per
    vector (one numpy pass, vs BANDS×ROWS interpreted aggregates);
    vectors then shuffle once on the (band, bval) bucket key — BANDS
    copies of each embedding — and every bucket is scored in one
    applyInPandas task: float64 matmul prune with a margin wider than
    the rounding step, then sequential re-accumulation of survivors
    (vector._seq_dot) so emitted scores are bit-identical to DuckDB's
    list_dot_product. Pairs never ship arrays: the alternative
    (candidate-id join + array attach) moves 2 arrays per CANDIDATE,
    which loses badly when buckets are dense (low thresholds) — this
    data at t=0.45 generates ~0.9·n² candidates, and bucket-local
    scoring is what keeps that volume inside numpy instead of on the
    wire.

    The banding is part of the operator's DEFINITION (the oracle
    computes the identical bands from the same md5-derived plane
    constants), so Spark and the oracle agree exactly; candidate
    recall vs exhaustive all-pairs is EMB_LSH_RECALL_AT_T (≈ 0.987 at
    t = 0.45, → 1 as similarity grows). For the exact-all-pairs
    alternative, functions.vector.allpairs_cosine remains the bounded-
    memory blocked-matmul kernel (explicitly O(n²) — small corpora or
    within-cluster verification only).

    100 TB: shuffle volume is BANDS × corpus (vs candidates × 2 arrays
    for the join form — pick per threshold regime); at production
    thresholds (0.9+) raise EMB_LSH_ROWS so buckets stay small, and cap
    per-bucket membership (spill a hot bucket to the blocked kernel) so
    one degenerate bucket cannot hold a k² matmul.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    band_udf = F.pandas_udf(_emb_band_vals_fn, "array<int>")
    banded = emb.select(
        "vec_id", "embedding", band_udf(F.col("embedding")).alias("bvals")
    ).select("vec_id", "embedding", F.posexplode("bvals").alias("band", "bval"))
    scored = banded.groupBy("band", "bval").applyInPandas(
        _bucket_score, "vec_a long, vec_b long, cos_sim double"
    )
    # a pair sharing several bands is scored once per band with an
    # identical (deterministic) value — dedup AFTER the verify, on the
    # small result set, never on the raw candidate pairs
    return scored.dropDuplicates(["vec_a", "vec_b"])


def dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup CASCADE, instrumented: exact fingerprint →
    near-dup Jaccard → embedding near-dup, applied sequentially with
    the keep-smallest-id rule at each stage, reporting per-stage
    in/removed/out and the cumulative removal ppm — the evidence for
    ordering cheap-exact before expensive-fuzzy (each stage only pays
    for what the previous stages left). Stage rules are the
    operators' own: exact = min doc per normalized-text md5; Jaccard
    = drop doc_b of every verified pair (canonical_keep's rule)
    restricted to pairs whose BOTH endpoints survived; embedding =
    the same rule over the LSH-banded cosine pairs.

    Scale notes (100 TB): consumes the memoized verified-pair and
    banded-cosine tables plus one fingerprint rollup; each stage is a
    semi/anti join on thin id sets (survivor sets carry ONE column).
    The report itself is three 1-row aggregates.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", textfns.fingerprint("text").alias("fp")
    )
    from pyspark.sql import Window as _W

    s1_drop = (
        docs.withColumn(
            "rn", F.row_number().over(_W.partitionBy("fp").orderBy("doc_id"))
        )
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    s1 = docs.select("doc_id").join(s1_drop, "doc_id", "left_anti")
    s1 = s1.localCheckpoint(eager=False)
    jp = jaccard_dedup(spark, sf_dir).select("doc_a", "doc_b")
    s2_drop = (
        jp.join(s1.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(s1.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    ).localCheckpoint(eager=False)
    # Round 10: s2 and s3_drop are NOT checkpointed — each lazy
    # checkpoint executes eagerly (toRdd), so the old 5-deep chain paid
    # five serialized driver-synchronized jobs. s2 is a cheap anti-join
    # of two already-materialized id sets (evaluated twice inline) and
    # s3_drop has one consumer (the counts row), so only the genuinely
    # multi-consumer tables (s1, s2_drop, counts) materialize: 3 jobs.
    s2 = s1.join(s2_drop, "doc_id", "left_anti")
    ep = embedding_dedup(spark, sf_dir).select("vec_a", "vec_b")
    s3_drop = (
        ep.join(s2.withColumnRenamed("doc_id", "vec_a"), "vec_a", "left_semi")
        .join(s2.withColumnRenamed("doc_id", "vec_b"), "vec_b", "left_semi")
        .select(F.col("vec_b").alias("doc_id"))
        .distinct()
    )
    counts = (
        docs.agg(F.count(F.lit(1)).alias("n0"))
        .crossJoin(F.broadcast(s1_drop.agg(F.count(F.lit(1)).alias("d1"))))
        .crossJoin(F.broadcast(s2_drop.agg(F.count(F.lit(1)).alias("d2"))))
        .crossJoin(F.broadcast(s3_drop.agg(F.count(F.lit(1)).alias("d3"))))
    ).localCheckpoint(eager=False)

    def stage(name: str, n_in, removed, cum) -> DataFrame:
        return counts.select(
            F.lit(name).alias("stage"),
            n_in.alias("n_in"),
            removed.alias("n_removed"),
            (n_in - removed).alias("n_out"),
            F.floor(1_000_000 * cum / F.col("n0")).cast("long").alias(
                "cum_removed_ppm"
            ),
        )

    n0, d1, d2, d3 = (F.col(c) for c in ("n0", "d1", "d2", "d3"))
    return (
        stage("exact_fingerprint", n0, d1, d1)
        .unionAll(stage("near_dup_jaccard", n0 - d1, d2, d1 + d2))
        .unionAll(stage("embedding_cosine", n0 - d1 - d2, d3, d1 + d2 + d3))
    )


def capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln–Petersen capture–recapture estimate of the TOTAL true
    near-dup pair count from two independent blockers' verified
    catches (MinHash-band route vs SimHash route): N̂ = n_A·n_B / m —
    the ecology estimator applied to dedup coverage, which estimates
    how many true pairs BOTH blockers miss WITHOUT needing exhaustive
    ground truth (the production question `ext_blocker_recall_report`
    can only answer on corpora small enough to brute-force). Here the
    exhaustive count exists and rides along, so the estimator itself
    is auditable. Assumes independent catch probabilities — correlated
    blockers (both lexical!) bias N̂ low; the audit column shows it.

    Scale notes (100 TB): consumes the two blockers' verified pair
    tables (memoized inputs); all set algebra is semi-joins on thin
    (doc_a, doc_b) keys and five 1-row counts.
    """
    truth = jaccard_dedup(spark, sf_dir).select("doc_a", "doc_b")
    mh = (
        minhash_lsh_dedup(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    sh_true = (
        simhash_dedup(spark, sf_dir)
        .select("doc_a", "doc_b")
        .join(truth, ["doc_a", "doc_b"], "left_semi")
        .localCheckpoint(eager=False)
    )
    overlap = mh.join(sh_true, ["doc_a", "doc_b"], "left_semi")
    union = mh.unionAll(sh_true).distinct()
    counts = (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(F.broadcast(mh.agg(F.count(F.lit(1)).alias("na"))))
        .crossJoin(F.broadcast(sh_true.agg(F.count(F.lit(1)).alias("nb"))))
        .crossJoin(F.broadcast(overlap.agg(F.count(F.lit(1)).alias("m"))))
        .crossJoin(F.broadcast(union.agg(F.count(F.lit(1)).alias("nu"))))
    )
    lp = F.col("na") * F.col("nb") / F.col("m")
    return counts.select(
        "n_true",
        F.col("na").alias("n_minhash"),
        F.col("nb").alias("n_simhash"),
        F.col("m").alias("n_overlap"),
        F.col("nu").alias("n_union"),
        F.when(F.col("m") > 0, F.round(lp, 2)).alias("lp_estimate"),
        F.when(F.col("m") > 0, F.round(lp - F.col("nu"), 2)).alias(
            "est_missed"
        ),
    )


MAX_CC_ITERS = 20

# Telemetry for the iterative driver-loop operators: rounds used on the
# last invocation, keyed by function name. Pinned by tests at sf0.01 so
# a testdata change that deepens the near-dup graph (more rounds = more
# shuffles at scale) fails loudly instead of silently inflating cost.
ITERATION_COUNTS: dict[str, int] = {}


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment similarity |A∩B| / min(|A|,|B|) ≥ 0.5 — catches
    sub-document duplication (one doc embedded in another) that
    symmetric Jaccard under-scores. Same inverted-index candidates as
    the Jaccard family; only the verify formula differs."""
    return (
        _jaccard_pairs(spark, sf_dir)
        .withColumn(
            "containment",
            F.round(F.col("inter") / F.least("na", "nb"), 6),
        )
        .filter(F.col("containment") >= 0.5)
        .select("doc_a", "doc_b", "containment")
    )


def cross_lang_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs whose two docs carry DIFFERENT language tags —
    the classic curation red flag (mislabeled lang, or boilerplate
    shared across locales). Pair set joined back to thin metadata;
    both joins broadcast the small pair side at any corpus size."""
    pairs = jaccard_dedup(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("lang_a") != F.col("lang_b"))
        .select("doc_a", "doc_b", "lang_a", "lang_b", "jacc")
    )


def dual_modality_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal dedup: full outer join of the text near-dup pairs
    and the embedding near-dup pairs over the shared id space (doc_id ≡
    vec_id, verified 1:1 in the testdata). Pairs flagged by both
    signals are the high-confidence drops; single-signal pairs are
    review queue. Production runs exactly this agreement join before
    destructive dedup."""
    text_pairs = jaccard_dedup(spark, sf_dir).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"), "jacc"
    )
    emb_pairs = embedding_dedup(spark, sf_dir).select(
        F.col("vec_a").alias("id_a"), F.col("vec_b").alias("id_b"), "cos_sim"
    )
    return (
        text_pairs.join(emb_pairs, ["id_a", "id_b"], "full_outer")
        .select(
            "id_a",
            "id_b",
            "jacc",
            "cos_sim",
            (F.col("jacc").isNotNull() & F.col("cos_sim").isNotNull()).alias(
                "both_signals"
            ),
        )
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS (not just pairs): connected components over the
    Jaccard near-dup graph via iterative min-label propagation; every doc
    gets cluster_id = min doc_id of its component.

    This is the iterative-algorithm pattern on Spark: a driver loop over
    DataFrame ops with `localCheckpoint` cutting lineage each round and
    a metadata-only convergence check (an aggregate count — never data
    collection). Rounds needed = graph diameter (near-dup components are
    shallow in practice). At 100 TB: each round is one shuffle of
    (node, label) keyed by node; the edge list is the static side and
    can be bucketed on src so the per-round join never reshuffles edges
    — the same structure as large-scale connected components
    (Hash-to-Min) on any MapReduce-family engine."""
    cached = _CLUSTER_CACHE.get(spark, sf_dir)
    if cached is not None:
        return cached[0]
    pairs = jaccard_dedup(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .union(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .localCheckpoint()  # computed once, reused every round
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    labels = docs.selectExpr("doc_id AS node", "doc_id AS label")
    prev_sum = None
    for rounds in range(1, MAX_CC_ITERS + 1):
        neighbor_labels = edges.join(
            labels, edges.src == labels.node
        ).selectExpr("dst AS node", "label")
        labels = (
            labels.union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        # labels are monotonically non-increasing, so an unchanged sum
        # IS the fixpoint — one aggregate job, no join, per round
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            ITERATION_COUNTS["dedup_clusters"] = rounds
            break
        prev_sum = cur_sum
    else:
        raise RuntimeError(f"label propagation not converged in {MAX_CC_ITERS} rounds")
    # memoized for the current sf_dir (labels are already
    # localCheckpoint-materialized): four consumers — the clusters
    # query, the size histogram, modularity and the golden-record
    # merge — would each re-run the whole propagation loop otherwise
    out = labels.selectExpr("node AS doc_id", "label AS cluster_id")
    return _CLUSTER_CACHE.put(sf_dir, out)[0]


def cc_alternating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via ALTERNATING large-star / small-star
    (Kiveris et al., SOCC 2014) — the O(log²·n)-round (log-round in
    practice) algorithm that replaces min-label propagation when
    components can be DEEP: propagation needs diameter rounds (a
    10⁶-long near-dup chain = 10⁶ shuffles), star contraction
    converges in a handful regardless of shape, because each round
    rewires whole neighborhoods to their minimum instead of moving
    labels one hop.

    large-star: every node's strictly-larger neighbors re-attach to
    the minimum of its closed neighborhood; small-star: every node's
    ≤-neighbors (and itself) re-attach likewise. At the fixpoint the
    edge set IS the answer: a star per component rooted at its min
    node. Output (doc_id, cluster_id) is identical to
    ext_dedup_clusters — same oracle, independent algorithm, which is
    the strongest cross-check two implementations can give.

    Per round: two grouped MIN aggregates and two projections over the
    edge list — no data-sized state beyond the (shrinking) edges,
    localCheckpoint cutting lineage, convergence = one scalar
    (count + sum fingerprint, metadata only). 100 TB: edges partition
    by center node; rounds are edge-list-sized shuffles with map-side
    combine on the MIN."""
    pairs = jaccard_dedup(spark, sf_dir).select("doc_a", "doc_b")
    # canonical (child=hi, parent=lo); the star edges at fixpoint
    e = (
        pairs.selectExpr(
            "greatest(doc_a, doc_b) AS hi", "least(doc_a, doc_b) AS lo"
        )
        .distinct()
        .localCheckpoint()
    )
    prev_fp = None
    for rounds in range(1, MAX_CC_ITERS + 1):
        # large-star: center c sees ALL neighbors; its strictly-larger
        # neighbors rewire to min(closed neighborhood)
        nbrs = e.selectExpr("hi AS c", "lo AS n").union(
            e.selectExpr("lo AS c", "hi AS n")
        )
        mins = nbrs.groupBy("c").agg(F.min("n").alias("mn"))
        m = F.least(F.col("mn"), F.col("c"))
        # Round 10: no eager checkpoint between the two half-rounds —
        # the small-star consumes the large-star subtree twice, but the
        # two references share identical subplans (ReusedExchange), so
        # one checkpoint per FULL round halves the driver-synchronized
        # materializations (guide §1.3 fixed cost; the per-round edge
        # table is candidate-pair-sized either way).
        e = (
            nbrs.join(mins, "c")
            .filter(F.col("n") > F.col("c"))
            .select(F.col("n").alias("hi"), m.alias("lo"))
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
        )
        # small-star: center c sees its ≤-neighbors; that closed set
        # (center included) rewires to its minimum
        sn = e.selectExpr("hi AS c", "lo AS n")
        smins = sn.groupBy("c").agg(F.min("n").alias("mn"))
        small_children = (
            sn.join(smins, "c")
            .filter(F.col("n") > F.col("mn"))
            .select(F.col("n").alias("hi"), F.col("mn").alias("lo"))
        )
        small_self = smins.select(
            F.col("c").alias("hi"), F.col("mn").alias("lo")
        )
        e = (
            small_children.union(small_self)
            .filter(F.col("hi") != F.col("lo"))
            .distinct()
            .localCheckpoint()
        )
        # fingerprint: (count, XOR of a 64-bit edge hash) — both scalar
        # aggregates, order-free and overflow-proof; equal fingerprint
        # at these widths IS the fixpoint for our purposes (a collision
        # would need two edge SETS with equal count and equal xor)
        fp = tuple(
            e.agg(
                F.count(F.lit(1)),
                F.expr("bit_xor(xxhash64(hi, lo))"),
            ).collect()[0]
        )
        if fp == prev_fp:
            ITERATION_COUNTS["cc_alternating"] = rounds
            break
        prev_fp = fp
    else:
        raise RuntimeError(f"star contraction not converged in {MAX_CC_ITERS} rounds")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    stars = e.selectExpr("hi AS doc_id", "lo AS cluster_id")
    return docs.join(stars, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )


MAX_HOPS = 6  # BFS horizon: transitive contamination beyond this is noise


def contamination_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive benchmark contamination: BFS hop distance from the
    held-out benchmark docs (doc_id % 97 == 0, as in text.decontaminate)
    through the near-dup graph, out to MAX_HOPS. Direct near-dups of a
    benchmark doc are hops=1, near-dups of those are 2, … — the closure
    a rigorous decontamination pass removes, not just the 1-hop ring.

    Level-synchronous BFS as a driver loop: each round joins the static
    edge list (localCheckpointed once) to the current frontier, anti-
    joins out already-visited nodes, and stops early when the frontier
    empties (scalar count — metadata only, never data to the driver).
    At 100 TB each round is one shuffle keyed on node; rounds ≤ MAX_HOPS.
    """
    pairs = jaccard_dedup(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .union(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .localCheckpoint()
    )
    seeds = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 == 0)
        .selectExpr("doc_id AS node", "CAST(0 AS BIGINT) AS hops")
    )
    dist = seeds.localCheckpoint()
    frontier = dist
    for h in range(1, MAX_HOPS + 1):
        frontier = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"), F.lit(h).cast("long").alias("hops"))
            .distinct()
            .join(dist, "node", "left_anti")  # first visit IS min hops
            .localCheckpoint()
        )
        if frontier.isEmpty():
            ITERATION_COUNTS["contamination_hops"] = h
            break
        dist = dist.union(frontier).localCheckpoint()
    else:
        ITERATION_COUNTS["contamination_hops"] = MAX_HOPS
    return dist.selectExpr("node AS doc_id", "hops")


PPR_ITERS = 3  # power iterations (unrolled identically in the oracle)
PPR_SCALE = 1_000_000  # integer-ppm mass
PPR_D_NUM, PPR_D_DEN = 85, 100  # damping d = 0.85 as an exact ratio


def contamination_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the held-out benchmark seed set over
    the near-dup graph — the SOFT contamination score beside
    `ext_contamination_hops`' hop counts: a doc two hops out through
    many parallel near-dup paths scores higher than one dangling off
    a single chain, which is exactly the triage order a
    decontamination budget should follow (hops alone can't rank
    within a level). Teleport mass restarts at the seeds (uniform),
    damping 0.85 as the exact ratio 85/100.

    Integer-exact iterations: all mass in ppm, per-edge contribution
    floor(85·pr / (100·out_deg)) — exactly-associative BIGINT sums,
    deterministic under any partitioning, and the oracle unrolls the
    identical PPR_ITERS rounds as CTEs. Mass floor-truncation and
    isolated-seed dangling leak are by construction and identical in
    both engines (same note as `ext_pagerank_types`).

    Scale notes (100 TB): the near-dup edge list is the small derived
    table (memoized pair construction); each iteration is one shuffle
    keyed on dst plus a broadcast of the seed-count scalar. For a
    billion-node graph the same loop partitions edges by dst and
    broadcast-joins pr per round — the loop shape is unchanged.
    """
    pairs = jaccard_dedup(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.selectExpr("doc_a AS src", "doc_b AS dst")
        .union(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
        .localCheckpoint()
    )
    seeds = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 97 == 0)
        .select(F.col("doc_id").alias("node"))
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .union(seeds)
        .distinct()
        .localCheckpoint()
    )
    ns = seeds.agg(F.count(F.lit(1)).alias("n_seeds"))
    out = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_cnt"))
    is_seed = F.col("node") % 97 == 0
    pr = nodes.crossJoin(F.broadcast(ns)).select(
        "node",
        F.when(
            is_seed,
            F.floor(F.lit(PPR_SCALE) / F.col("n_seeds")).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("pr"),
    )
    teleport = F.when(
        is_seed,
        F.floor(
            F.lit((PPR_D_DEN - PPR_D_NUM) * PPR_SCALE)
            / (F.lit(PPR_D_DEN) * F.col("n_seeds"))
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    for _ in range(PPR_ITERS):
        contrib = (
            edges.join(out, "src")
            .join(pr, edges["src"] == pr["node"])
            .groupBy("dst")
            .agg(
                F.sum(
                    F.floor(
                        (F.lit(PPR_D_NUM) * F.col("pr"))
                        / (F.lit(PPR_D_DEN) * F.col("out_cnt"))
                    ).cast("long")
                ).alias("in_mass")
            )
        )
        pr = (
            nodes.crossJoin(F.broadcast(ns))
            .join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (teleport + F.coalesce("in_mass", F.lit(0))).alias("pr"),
            )
        )
    return pr.filter(F.col("pr") > 0).select(
        F.col("node").alias("doc_id"),
        F.col("pr").alias("ppr_ppm"),
        is_seed.cast("long").alias("is_seed"),
    )


def triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-duplicate graph: edges, ordered
    2-paths, closed triangles, and the closure rate (triangles /
    2-paths). High closure means near-dup pairs form dense cliques
    (template families — one canonical doc represents many), low
    closure means chains (drift — transitive dedup would over-merge).
    This single number decides whether cluster-collapse dedup
    (dedup_clusters) is safe or whether pairwise-only removal is the
    right policy, so it is the diagnostic to run BEFORE committing a
    dedup strategy at corpus scale.

    Plan: the pair table (already a<b ordered, so every triangle is
    enumerated exactly once as a<b<c) is localCheckpointed once and
    reused three times; the path and triangle joins shuffle only
    (doc_id, doc_id) pairs — at 100 TB the near-dup edge list is the
    small output of the dedup pass, orders of magnitude below corpus
    size, and both joins key on node id so AQE handles hub-node skew.
    The three single-row aggregates meet in broadcast cross joins."""
    e = (
        jaccard_dedup(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    paths = (
        e.selectExpr("doc_a AS a", "doc_b AS b")
        .join(e.selectExpr("doc_a AS b", "doc_b AS c"), "b")
    )
    tris = paths.join(e.selectExpr("doc_a AS a", "doc_b AS c"), ["a", "c"])
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_paths = paths.agg(F.count(F.lit(1)).alias("n_paths"))
    n_tris = tris.agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        n_edges.crossJoin(n_paths)
        .crossJoin(n_tris)
        .withColumn(
            "closure_rate",
            F.when(
                F.col("n_paths") > 0,
                F.round(F.col("n_triangles") / F.col("n_paths"), 6),
            ),
        )
    )


# ---- oracles (DuckDB replays of the same constructions) --------------------

_TOKS = "string_split_regex(text, '\\s+')"
_HEX = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

_BASE = f"""
    SELECT doc_id,
           list_distinct([array_to_string(toks[i:i+{SHINGLE_K - 1}], ' ')
                          for i in range(1, len(toks) - {SHINGLE_K - 2})]) AS sh
    FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)
"""

_JACCARD_PAIRS = f"""
    WITH base AS ({_BASE}),
    ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM base),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
               COUNT(*) AS inter
        FROM ex a JOIN ex b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b,
           ROUND(inter * 1.0 / (na + nb - inter), 6) AS jacc
    FROM pairs
"""

_SIG_EXPRS = ", ".join(
    "list_min(list_transform(sh, s -> "
    + _HEX.format(x=f"'{j}:' || s")
    + f")) AS s{j}"
    for j in range(MINHASH_K)
)
_BAND_EXPRS = ", ".join(
    f"md5('{b}' || ',' || "
    + " || ',' || ".join(
        f"CAST(s{b * MINHASH_ROWS + r} AS VARCHAR)" for r in range(MINHASH_ROWS)
    )
    + f") AS b{b}"
    for b in range(MINHASH_BANDS)
)
_BANDS_LIST = "[" + ", ".join(f"b{b}" for b in range(MINHASH_BANDS)) + "]"

_MINHASH_ORACLE = f"""
    WITH base AS ({_BASE}),
    sig AS (SELECT doc_id, sh, {_SIG_EXPRS} FROM base),
    bands AS (SELECT doc_id, sh, {_BAND_EXPRS} FROM sig),
    bx AS (SELECT doc_id, sh, unnest({_BANDS_LIST}) AS band FROM bands),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bx a JOIN bx b
               ON a.band = b.band AND a.doc_id < b.doc_id),
    verified AS (
        SELECT doc_a, doc_b,
               len(list_intersect(ba.sh, bb.sh)) AS inter,
               len(ba.sh) AS na, len(bb.sh) AS nb
        FROM cand JOIN base ba ON cand.doc_a = ba.doc_id
                  JOIN base bb ON cand.doc_b = bb.doc_id)
    SELECT doc_a, doc_b,
           ROUND(inter * 1.0 / (na + nb - inter), 6) AS jacc
    FROM verified
    WHERE inter * 1.0 / (na + nb - inter) >= {JACCARD_T}
"""

_VOTE_EXPRS = ", ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(SIMHASH_BITS)
)
_SIM_EXPR = " + ".join(
    f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    for b in range(SIMHASH_BITS)
)

_SIMHASH_ORACLE = f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
    h AS (SELECT doc_id, {_HEX.format(x='t')} AS h FROM tok),
    votes AS (SELECT doc_id, {_VOTE_EXPRS} FROM h GROUP BY doc_id),
    sims AS (SELECT doc_id, {_SIM_EXPR} AS sim FROM votes)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
    FROM sims a JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= {HAMMING_MAX}
"""

LOC_SHARDS = 8  # shard fan-out for the locality comparison


def locality_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware data layout: shard documents by their FIRST MinHash
    band key instead of by doc id, and measure how many near-dup
    pairs land in the same shard under each policy. Near-dup work
    (verification, clustering, canonical-keep) is shard-LOCAL exactly
    when pairs co-locate — random sharding scatters them (≈1/N
    co-location), band sharding puts every pair that agrees on band 0
    together by construction. The output quantifies that gap on the
    real near-dup pairs; it is the numbers behind "partition by LSH
    band before deduplicating at 100 TB".

    Scale notes (100 TB): per-doc keys are projection work over the
    memoized shingle relation; the pair table is the (small) verified
    near-dup set, joined twice against the thin key table.
    """
    pairs = jaccard_dedup(spark, sf_dir).select("doc_a", "doc_b")
    sig = _shingled(spark, sf_dir).withColumn(
        "sig", minhash_signature(F.col("sh"), MINHASH_K)
    )
    # band-0 key spelled out to match the oracle's fragment exactly
    # (the band index rides in the hash input)
    band0 = F.md5(
        F.concat_ws(
            ",",
            F.lit("0"),
            *[
                F.col("sig").getItem(r).cast("string")
                for r in range(MINHASH_ROWS)
            ],
        )
    )
    keys = sig.select(
        "doc_id",
        (
            md5_long(F.col("doc_id").cast("string"), salt="shard")
            % LOC_SHARDS
        ).alias("s_rand"),
        (md5_long(band0, salt="shard") % LOC_SHARDS).alias("s_loc"),
    )
    ka = keys.select(
        F.col("doc_id").alias("doc_a"),
        F.col("s_rand").alias("ra"),
        F.col("s_loc").alias("la"),
    )
    kb = keys.select(
        F.col("doc_id").alias("doc_b"),
        F.col("s_rand").alias("rb"),
        F.col("s_loc").alias("lb"),
    )
    return (
        pairs.join(ka, "doc_a")
        .join(kb, "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("ra") == F.col("rb")).cast("long")).alias(
                "coloc_random"
            ),
            F.sum((F.col("la") == F.col("lb")).cast("long")).alias(
                "coloc_banded"
            ),
        )
        .select(
            "n_pairs",
            "coloc_random",
            "coloc_banded",
            F.round(
                F.col("coloc_random") * 100.0 / F.col("n_pairs"), 4
            ).alias("pct_random"),
            F.round(
                F.col("coloc_banded") * 100.0 / F.col("n_pairs"), 4
            ).alias("pct_banded"),
        )
    )


AA_TOPK = 10


def adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction on the near-dup graph: score
    non-adjacent doc pairs by Σ 1/ln(deg(w)) over common neighbors w
    — "likely the same content family even though no blocker paired
    them yet", the graph-ML answer to dedup recall gaps
    (`ext_blocker_recall_report` measures them; this ranks where to
    look). Rare shared neighbors count more than promiscuous hubs —
    that's the 1/ln(deg) against plain common-neighbor counting.
    Weights reduce through the qsum fixed-point longs; existing
    edges are anti-joined out. Output: top AA_TOPK predicted links.

    Scale notes (100 TB): 2-paths come from one self-join of the
    (small) verified edge list keyed on the middle vertex; the
    degree table broadcasts. Everything is edge-set-sized — the
    fact-scale work already happened in the dedup pass that built
    the edges.
    """
    from mini_sql_engine_spark.functions.numeric import NANO, qsum

    e = jaccard_dedup(spark, sf_dir).select("doc_a", "doc_b")
    sym = e.unionByName(
        e.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).localCheckpoint()  # consumed by degrees, 2-paths and the anti-join
    deg = sym.groupBy(F.col("doc_a").alias("w")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    l, r = sym.alias("l"), sym.alias("r")
    two_paths = (
        l.join(r, F.col("l.doc_b") == F.col("r.doc_a"))
        .filter(F.col("l.doc_a") < F.col("r.doc_b"))
        .select(
            F.col("l.doc_a").alias("u"),
            F.col("r.doc_b").alias("v"),
            F.col("l.doc_b").alias("w"),
        )
    )
    scored = (
        two_paths.join(F.broadcast(deg), "w")
        .filter(F.col("deg") > 1)
        .groupBy("u", "v")
        .agg(
            qsum(1.0 / F.log(F.col("deg").cast("double"))).alias("aa_q"),
            F.count(F.lit(1)).alias("n_common"),
        )
    )
    predicted = scored.join(
        e.select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        ),
        ["u", "v"],
        "left_anti",
    )
    return (
        predicted.select(
            F.col("u").alias("doc_a"),
            F.col("v").alias("doc_b"),
            "n_common",
            F.round(F.col("aa_q") / NANO, 6).alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), "doc_a", "doc_b")
        .limit(AA_TOPK)
    )


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity Q of the duplicate-cluster partition. On a
    connected-component partition every edge is intra-cluster, so
    Q = 1 − Σ_c (d_c/2m)² — pure degree-mass concentration: Q → 1
    means many small balanced families, Q → 0 means one giant
    component owns the graph (the number that says whether
    clique-collapse dedup would nuke half the corpus). Entirely
    integer arithmetic — Q = (4m² − Σd_c²)/4m² — with ONE division
    at the end.

    Scale notes (100 TB): degrees from the small verified edge list,
    labels from the (already iterative) component pass; the rollup
    is clusters-sized.
    """
    e = jaccard_dedup(spark, sf_dir).select("doc_a", "doc_b")
    sym = e.unionByName(
        e.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    deg = sym.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    labels = dedup_clusters(spark, sf_dir)
    dc = (
        deg.join(labels, "doc_id")
        .groupBy("cluster_id")
        .agg(F.sum("deg").alias("d_c"))
    )
    m = e.agg(F.count(F.lit(1)).alias("m"))
    agg = dc.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(F.col("d_c") * F.col("d_c")).alias("sum_dc2"),
    )
    return agg.crossJoin(F.broadcast(m)).select(
        F.col("m").alias("n_edges"),
        "n_clusters",
        F.round(
            (
                4 * F.col("m") * F.col("m") - F.col("sum_dc2")
            ).cast("double")
            / (4 * F.col("m") * F.col("m")).cast("double"),
            6,
        ).alias("modularity"),
    )


def golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record construction over the duplicate
    clusters (the MDM step after entity resolution): per multi-member
    cluster, merge members into ONE canonical record under explicit
    survivorship rules — longest text wins the content, earliest
    doc_id wins identity, languages union into a sorted list, token
    mass sums. Dedup decides WHO matches; this decides WHAT survives,
    and the rules are visible columns, not pipeline folklore. Output:
    one row per multi-member cluster.

    Scale notes (100 TB): labels come from the component pass; the
    merge is one cluster-keyed aggregate with max_by/struct-max
    picks — no member ever compares to more than its aggregate.
    """
    labels = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    members = docs.join(labels, "doc_id")
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("surviving_id"),
            F.max(F.struct("n_chars", "doc_id")).alias("_longest"),
            F.array_join(
                F.array_sort(F.collect_set("lang")), ","
            ).alias("langs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .filter(F.col("n_members") > 1)
        .select(
            "cluster_id",
            "n_members",
            "surviving_id",
            F.col("_longest.doc_id").alias("content_from_id"),
            F.col("_longest.n_chars").alias("content_chars"),
            "langs",
            "total_chars",
        )
    )


QUERIES: dict[str, Callable] = {
    "ext_golden_record": golden_record,
    "ext_graph_modularity": graph_modularity,
    "ext_adamic_adar": adamic_adar,
    "ext_locality_sharding": locality_sharding,
    "ext_dedup_exact": exact_dedup,
    "ext_dedup_exact_by_key": exact_dedup_by_key,
    "ext_dedup_jaccard": jaccard_dedup,
    "ext_lsh_tuning_curve": lsh_tuning_curve,
    "ext_fellegi_sunter_em": fellegi_sunter_em,
    "ext_dedup_cascade": dedup_cascade,
    "ext_capture_recapture": capture_recapture,
    "ext_dedup_prefix_filter": prefix_filter_dedup,
    "ext_dedup_canonical_keep": canonical_keep,
    "ext_split_leakage": split_leakage,
    "ext_grouped_split": grouped_split,
    "ext_dup_source_matrix": dup_source_matrix,
    "ext_dup_loss_weights": dup_loss_weights,
    "ext_dedup_minhash_lsh": minhash_lsh_dedup,
    "ext_dedup_simhash": simhash_dedup,
    "ext_dedup_embedding": embedding_dedup,
    "ext_dedup_clusters": dedup_clusters,
    "ext_cc_alternating": cc_alternating,
    "ext_contamination_hops": contamination_hops,
    "ext_contamination_ppr": contamination_ppr,
    "ext_dedup_containment": containment_pairs,
    "ext_dedup_cross_lang": cross_lang_dupes,
    "ext_dedup_dual_modality": dual_modality_dupes,
    "ext_triangle_census": triangle_census,
}

def _emb_plane_sql(plane: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in plane) + "]"


_EMB_BAND_EXPRS_SQL = ",\n                   ".join(
    "("
    + " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"{_emb_plane_sql(EMB_PLANES[(b, r)])}) >= 0 THEN {1 << r} ELSE 0 END)"
        for r in range(EMB_LSH_ROWS)
    )
    + f") AS bv{b}"
    for b in range(EMB_LSH_BANDS)
)

_EMB_BANDS_UNION_SQL = " UNION ALL ".join(
    f"SELECT vec_id, {b} AS band, bv{b} AS bval FROM sig"
    for b in range(EMB_LSH_BANDS)
)


ORACLES: dict[str, str] = {
    "ext_golden_record": f"""
        WITH RECURSIVE pairs AS (
            SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) p
            WHERE jacc >= {JACCARD_T}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs),
        walk(node, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, w.label
            FROM walk w JOIN edges e ON e.src = w.node),
        labels AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM walk GROUP BY node),
        members AS (
            SELECT d.doc_id, d.lang, d.n_chars, l.cluster_id
            FROM documents d JOIN labels l ON l.doc_id = d.doc_id),
        merged AS (
            SELECT cluster_id, COUNT(*) AS n_members,
                   MIN(doc_id) AS surviving_id,
                   MAX(ROW(n_chars, doc_id)) AS _longest,
                   array_to_string(list_sort(list_distinct(
                       list(lang))), ',') AS langs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM members GROUP BY cluster_id)
        SELECT cluster_id, n_members, surviving_id,
               CAST(_longest[2] AS BIGINT) AS content_from_id,
               CAST(_longest[1] AS BIGINT) AS content_chars,
               langs, total_chars
        FROM merged WHERE n_members > 1
    """,
    "ext_graph_modularity": f"""
        WITH RECURSIVE pairs AS (
            SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) p
            WHERE jacc >= {JACCARD_T}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs),
        walk(node, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, w.label
            FROM walk w JOIN edges e ON e.src = w.node),
        labels AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM walk GROUP BY node),
        deg AS (SELECT src AS doc_id, COUNT(*) AS deg
                FROM edges GROUP BY src),
        dc AS (
            SELECT cluster_id, CAST(SUM(deg) AS BIGINT) AS d_c
            FROM deg JOIN labels USING (doc_id)
            GROUP BY cluster_id),
        m AS (SELECT COUNT(*) AS m FROM pairs),
        agg AS (SELECT COUNT(*) AS n_clusters,
                       CAST(SUM(d_c * d_c) AS BIGINT) AS sum_dc2
                FROM dc)
        SELECT m AS n_edges, n_clusters,
               ROUND(CAST(4 * m * m - sum_dc2 AS DOUBLE)
                     / CAST(4 * m * m AS DOUBLE), 6) AS modularity
        FROM agg CROSS JOIN m
    """,
    "ext_adamic_adar": f"""
        WITH pairs AS (
            SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) p
            WHERE jacc >= {JACCARD_T}),
        sym AS (SELECT doc_a, doc_b FROM pairs
                UNION ALL
                SELECT doc_b, doc_a FROM pairs),
        deg AS (SELECT doc_a AS w, COUNT(*) AS deg
                FROM sym GROUP BY doc_a),
        two_paths AS (
            SELECT l.doc_a AS u, r.doc_b AS v, l.doc_b AS w
            FROM sym l JOIN sym r ON l.doc_b = r.doc_a
            WHERE l.doc_a < r.doc_b),
        scored AS (
            SELECT u, v,
                   CAST(SUM(CAST(FLOOR(1.0 / LN(CAST(deg AS DOUBLE))
                        * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
                       AS aa_q,
                   COUNT(*) AS n_common
            FROM two_paths JOIN deg USING (w)
            WHERE deg > 1
            GROUP BY u, v),
        predicted AS (
            SELECT * FROM scored WHERE NOT EXISTS (
                SELECT 1 FROM pairs
                WHERE pairs.doc_a = scored.u
                  AND pairs.doc_b = scored.v))
        SELECT u AS doc_a, v AS doc_b, n_common,
               ROUND(aa_q / 1000000000, 6) AS aa_score
        FROM predicted ORDER BY aa_score DESC, doc_a, doc_b
        LIMIT {AA_TOPK}
    """,
    "ext_locality_sharding": f"""
        WITH base AS ({_BASE}),
        sig AS (SELECT doc_id, sh, {_SIG_EXPRS} FROM base),
        keys AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5('shard:'
                       || CAST(doc_id AS VARCHAR)), 1, 15)
                       AS BIGINT) % {LOC_SHARDS} AS s_rand,
                   CAST('0x' || substr(md5('shard:'
                       || md5('0' || ',' || CAST(s0 AS VARCHAR) || ',' || CAST(s1 AS VARCHAR) || ',' || CAST(s2 AS VARCHAR) || ',' || CAST(s3 AS VARCHAR))), 1, 15)
                       AS BIGINT) % {LOC_SHARDS} AS s_loc
            FROM sig),
        pairs AS (
            SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) p
            WHERE jacc >= {JACCARD_T}),
        j AS (
            SELECT ka.s_rand AS ra, ka.s_loc AS la,
                   kb.s_rand AS rb, kb.s_loc AS lb
            FROM pairs
            JOIN keys ka ON ka.doc_id = pairs.doc_a
            JOIN keys kb ON kb.doc_id = pairs.doc_b)
        SELECT COUNT(*) AS n_pairs,
               CAST(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END)
                    AS BIGINT) AS coloc_random,
               CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END)
                    AS BIGINT) AS coloc_banded,
               ROUND(SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END)
                     * 100.0 / COUNT(*), 4) AS pct_random,
               ROUND(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END)
                     * 100.0 / COUNT(*), 4) AS pct_banded
        FROM j
    """,
    "ext_dedup_exact": """
        SELECT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp,
               MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents) d
        GROUP BY 1
    """,
    "ext_dedup_exact_by_key": """
        SELECT lang, source, MIN(doc_id) AS keep_id, COUNT(*) AS n_in_group
        FROM documents GROUP BY lang, source
    """,
    "ext_dedup_jaccard": f"""
        SELECT doc_a, doc_b, jacc FROM ({_JACCARD_PAIRS}) p
        WHERE jacc >= {JACCARD_T}
    """,
    "ext_lsh_tuning_curve": _lsh_tune_oracle()
    .replace("{pairs}", _JACCARD_PAIRS)
    .replace("{t}", str(JACCARD_T)),
    "ext_fellegi_sunter_em": _fs_oracle().replace("{pairs}", _JACCARD_PAIRS),
    "ext_dedup_cascade": None,  # assigned below (needs the embedding oracle)
    # prefix filtering is lossless, so the oracle is the plain exact
    # join at the higher threshold — identical output, different plan
    "ext_dedup_prefix_filter": f"""
        SELECT doc_a, doc_b, jacc FROM ({_JACCARD_PAIRS}) p
        WHERE jacc >= {PREFIX_T}
    """,
    "ext_dedup_canonical_keep": f"""
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (
            SELECT doc_b FROM ({_JACCARD_PAIRS}) p WHERE jacc >= {JACCARD_T})
    """,
    "ext_grouped_split": f"""
        WITH RECURSIVE pairs AS (
            SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) p
            WHERE jacc >= {JACCARD_T}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs),
        walk(node, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, w.label
            FROM walk w JOIN edges e ON e.src = w.node),
        labels AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM walk GROUP BY node)
        SELECT doc_id, cluster_id,
               CASE WHEN {_HEX.format(x="'split:' || CAST(cluster_id AS VARCHAR)")}
                         % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN {_HEX.format(x="'split:' || CAST(cluster_id AS VARCHAR)")}
                         % 100 < {SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split
        FROM labels
    """,
    "ext_dup_source_matrix": f"""
        WITH pairs AS (
            SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) p
            WHERE jacc >= {JACCARD_T}),
        labeled AS (
            SELECT LEAST(da.source, db.source) AS source_a,
                   GREATEST(da.source, db.source) AS source_b
            FROM pairs
            JOIN documents da ON da.doc_id = pairs.doc_a
            JOIN documents db ON db.doc_id = pairs.doc_b),
        counts AS (
            SELECT source_a, source_b, COUNT(*) AS n_pairs
            FROM labeled GROUP BY 1, 2)
        SELECT source_a, source_b, n_pairs,
               CAST(FLOOR(n_pairs * 1000000
                          / (SELECT SUM(n_pairs) FROM counts)) AS BIGINT)
                   AS share_ppm
        FROM counts
    """,
    "ext_dup_loss_weights": f"""
        WITH RECURSIVE pairs AS (
            SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) p
            WHERE jacc >= {JACCARD_T}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs),
        walk(node, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, w.label
            FROM walk w JOIN edges e ON e.src = w.node),
        labels AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM walk GROUP BY node),
        sizes AS (
            SELECT cluster_id, COUNT(*) AS cluster_size
            FROM labels GROUP BY cluster_id)
        SELECT l.doc_id, l.cluster_id, s.cluster_size,
               CAST(FLOOR(1000000 / s.cluster_size) AS BIGINT) AS weight_ppm
        FROM labels l JOIN sizes s ON s.cluster_id = l.cluster_id
    """,
    "ext_split_leakage": f"""
        WITH splits AS (
            SELECT doc_id,
                   CASE WHEN {_HEX.format(x="'split:' || CAST(doc_id AS VARCHAR)")}
                             % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                        WHEN {_HEX.format(x="'split:' || CAST(doc_id AS VARCHAR)")}
                             % 100 < {SPLIT_VAL_PCT} THEN 'val'
                        ELSE 'test' END AS split
            FROM documents),
        pairs AS (SELECT doc_a, doc_b, jacc FROM ({_JACCARD_PAIRS}) p
                  WHERE jacc >= {JACCARD_T})
        SELECT doc_a, doc_b, sa.split AS split_a, sb.split AS split_b, jacc
        FROM pairs
        JOIN splits sa ON pairs.doc_a = sa.doc_id
        JOIN splits sb ON pairs.doc_b = sb.doc_id
        WHERE sa.split <> sb.split
    """,
    "ext_dedup_minhash_lsh": _MINHASH_ORACLE,
    "ext_dedup_simhash": _SIMHASH_ORACLE,
    # BFS as a bounded recursive CTE: UNION-distinct on (node, hops)
    # pairs terminates because hops is capped; MIN(hops) per node is the
    # BFS distance for every node within the horizon
    "ext_contamination_hops": f"""
        WITH RECURSIVE pairs AS (
            SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) p
            WHERE jacc >= {JACCARD_T}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs),
        walk(node, hops) AS (
            SELECT doc_id, CAST(0 AS BIGINT) FROM documents
            WHERE doc_id % 97 = 0
            UNION
            SELECT e.dst, w.hops + 1
            FROM walk w JOIN edges e ON e.src = w.node
            WHERE w.hops < {MAX_HOPS})
        SELECT node AS doc_id, MIN(hops) AS hops
        FROM walk GROUP BY node
    """,
    # personalized PageRank: the identical PPR_ITERS integer-ppm power
    # iterations unrolled as CTEs (floor-truncated edge contributions
    # are exactly associative, so the engines walk the same sequence)
    "ext_contamination_ppr": f"""
        WITH pairs AS (
            SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) p
            WHERE jacc >= {JACCARD_T}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs),
        seeds AS (
            SELECT doc_id AS node FROM documents WHERE doc_id % 97 = 0),
        nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges
                UNION ALL SELECT node FROM seeds) u),
        ns AS (SELECT COUNT(*) AS n_seeds FROM seeds),
        outdeg AS (
            SELECT src, COUNT(*) AS out_cnt FROM edges GROUP BY src),
        pr0 AS (
            SELECT node,
                   CASE WHEN node % 97 = 0
                        THEN CAST(FLOOR({PPR_SCALE}
                                 / (SELECT n_seeds FROM ns)) AS BIGINT)
                        ELSE 0 END AS pr
            FROM nodes),
        {", ".join(
            f'''pr{r} AS (
            SELECT n.node,
                   CASE WHEN n.node % 97 = 0
                        THEN CAST(FLOOR({(PPR_D_DEN - PPR_D_NUM) * PPR_SCALE}
                                 / ({PPR_D_DEN}
                                    * (SELECT n_seeds FROM ns)))
                             AS BIGINT)
                        ELSE 0 END
                   + COALESCE(c.in_mass, 0) AS pr
            FROM nodes n LEFT JOIN (
                SELECT e.dst,
                       CAST(SUM(CAST(FLOOR({PPR_D_NUM} * p.pr
                                / ({PPR_D_DEN} * o.out_cnt)) AS BIGINT))
                            AS BIGINT) AS in_mass
                FROM edges e
                JOIN outdeg o ON e.src = o.src
                JOIN pr{r - 1} p ON e.src = p.node
                GROUP BY e.dst) c ON n.node = c.dst)'''
            for r in range(1, PPR_ITERS + 1)
        )}
        SELECT node AS doc_id, pr AS ppr_ppm,
               CAST(node % 97 = 0 AS BIGINT) AS is_seed
        FROM pr{PPR_ITERS} WHERE pr > 0
    """,
    # connected components as a recursive CTE: enumerate every
    # (node, reachable-node) pair over the undirected near-dup graph —
    # min reachable id ≡ the propagation fixpoint
    # Identical answer from an independent algorithm: the alternating
    # star contraction must reproduce exactly the label-propagation /
    # recursive-CTE component labels.
    "ext_cc_alternating": f"""
        WITH RECURSIVE pairs AS (
            SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) p
            WHERE jacc >= {JACCARD_T}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs),
        walk(node, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, w.label
            FROM walk w JOIN edges e ON e.src = w.node)
        SELECT node AS doc_id, MIN(label) AS cluster_id
        FROM walk GROUP BY node
    """,
    "ext_dedup_clusters": f"""
        WITH RECURSIVE pairs AS (
            SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) p
            WHERE jacc >= {JACCARD_T}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM pairs),
        walk(node, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, w.label
            FROM walk w JOIN edges e ON e.src = w.node)
        SELECT node AS doc_id, MIN(label) AS cluster_id
        FROM walk GROUP BY node
    """,
    # CAST to DOUBLE[]: list_dot_product on FLOAT[] returns float32,
    # whose ROUND(…, 4) widens to e.g. 0.45320001… in the comparison.
    # The banding replays embedding_dedup exactly: same plane constants
    # (inlined literals), same sign-bit packing, same exact verify.
    "ext_dedup_embedding": f"""
        WITH sig AS (
            SELECT vec_id, {_EMB_BAND_EXPRS_SQL}
            FROM embeddings),
        bands AS ({_EMB_BANDS_UNION_SQL}),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bval = b.bval
                 AND a.vec_id < b.vec_id)
        SELECT c.vec_a, c.vec_b,
               ROUND(list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])), 4) AS cos_sim
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.vec_a
        JOIN embeddings eb ON eb.vec_id = c.vec_b
        WHERE ROUND(list_dot_product(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[])), 4) >= {COSINE_T}
    """,
}


_CASCADE_ORACLE = f"""
    WITH fpt AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                   AS fp
        FROM documents),
    s1_drop AS (
        SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY fp
                        ORDER BY doc_id) AS rn
            FROM fpt) WHERE rn > 1),
    s1 AS (SELECT doc_id FROM fpt
           WHERE doc_id NOT IN (SELECT doc_id FROM s1_drop)),
    jp AS (SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) p
           WHERE jacc >= {JACCARD_T}),
    s2_drop AS (
        SELECT DISTINCT doc_b AS doc_id FROM jp
        WHERE doc_a IN (SELECT doc_id FROM s1)
          AND doc_b IN (SELECT doc_id FROM s1)),
    s2 AS (SELECT doc_id FROM s1
           WHERE doc_id NOT IN (SELECT doc_id FROM s2_drop)),
    ep AS (SELECT vec_a, vec_b FROM ({{emb_pairs}}) e),
    s3_drop AS (
        SELECT DISTINCT vec_b AS doc_id FROM ep
        WHERE vec_a IN (SELECT doc_id FROM s2)
          AND vec_b IN (SELECT doc_id FROM s2)),
    c AS (SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n0,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM s1_drop) AS d1,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM s2_drop) AS d2,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM s3_drop) AS d3)
    SELECT 'exact_fingerprint' AS stage, n0 AS n_in, d1 AS n_removed,
           n0 - d1 AS n_out,
           CAST(FLOOR(1000000 * d1 / n0) AS BIGINT) AS cum_removed_ppm
    FROM c
    UNION ALL
    SELECT 'near_dup_jaccard', n0 - d1, d2, n0 - d1 - d2,
           CAST(FLOOR(1000000 * (d1 + d2) / n0) AS BIGINT)
    FROM c
    UNION ALL
    SELECT 'embedding_cosine', n0 - d1 - d2, d3, n0 - d1 - d2 - d3,
           CAST(FLOOR(1000000 * (d1 + d2 + d3) / n0) AS BIGINT)
    FROM c
"""


ORACLES.update({
    "ext_triangle_census": f"""
        WITH e AS (
            SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) jp
            WHERE jacc >= {JACCARD_T}
        ),
        p2 AS (
            SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
            FROM e e1 JOIN e e2 ON e1.doc_b = e2.doc_a
        ),
        t AS (
            SELECT p2.a, p2.b, p2.c
            FROM p2 JOIN e ON p2.a = e.doc_a AND p2.c = e.doc_b
        )
        SELECT (SELECT COUNT(*) FROM e) AS n_edges,
               (SELECT COUNT(*) FROM p2) AS n_paths,
               (SELECT COUNT(*) FROM t) AS n_triangles,
               CASE WHEN (SELECT COUNT(*) FROM p2) > 0 THEN
                   ROUND((SELECT COUNT(*) FROM t) * 1.0
                         / (SELECT COUNT(*) FROM p2), 6)
               END AS closure_rate
    """,
    "ext_dedup_containment": f"""
        SELECT doc_a, doc_b,
               ROUND(inter * 1.0 / LEAST(na, nb), 6) AS containment
        FROM (
            WITH base AS ({_BASE}),
            ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle
                   FROM base)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n AS na, b.n AS nb, COUNT(*) AS inter
            FROM ex a JOIN ex b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4) p
        WHERE ROUND(inter * 1.0 / LEAST(na, nb), 6) >= 0.5
    """,
    "ext_dedup_cross_lang": f"""
        SELECT doc_a, doc_b, da.lang AS lang_a, db.lang AS lang_b, jacc
        FROM ({_JACCARD_PAIRS}) p
        JOIN documents da ON p.doc_a = da.doc_id
        JOIN documents db ON p.doc_b = db.doc_id
        WHERE jacc >= {JACCARD_T} AND da.lang <> db.lang
    """,
    "ext_dedup_dual_modality": f"""
        WITH t AS (SELECT doc_a AS id_a, doc_b AS id_b, jacc
                   FROM ({_JACCARD_PAIRS}) jp WHERE jacc >= {JACCARD_T}),
        e AS (SELECT vec_a AS id_a, vec_b AS id_b, cos_sim
              FROM ({{emb}}) ep)
        SELECT COALESCE(t.id_a, e.id_a) AS id_a,
               COALESCE(t.id_b, e.id_b) AS id_b,
               t.jacc, e.cos_sim,
               (t.jacc IS NOT NULL AND e.cos_sim IS NOT NULL)
                   AS both_signals
        FROM t FULL OUTER JOIN e
          ON t.id_a = e.id_a AND t.id_b = e.id_b
    """.replace("{emb}", ORACLES["ext_dedup_embedding"]),
})


ORACLES["ext_dedup_cascade"] = _CASCADE_ORACLE.replace(
    "{emb_pairs}", ORACLES["ext_dedup_embedding"]
)


ORACLES["ext_capture_recapture"] = f"""
    WITH mh AS (SELECT doc_a, doc_b
                FROM ({ORACLES["ext_dedup_minhash_lsh"]}) m),
    sh0 AS (SELECT doc_a, doc_b
            FROM ({ORACLES["ext_dedup_simhash"]}) s),
    truth AS (SELECT doc_a, doc_b FROM ({_JACCARD_PAIRS}) p
              WHERE jacc >= {JACCARD_T}),
    sh AS (SELECT s.* FROM sh0 s
           WHERE EXISTS (SELECT 1 FROM truth t
                         WHERE t.doc_a = s.doc_a AND t.doc_b = s.doc_b)),
    ov AS (SELECT m.* FROM mh m
           WHERE EXISTS (SELECT 1 FROM sh s
                         WHERE s.doc_a = m.doc_a AND s.doc_b = m.doc_b)),
    un AS (SELECT DISTINCT doc_a, doc_b FROM (
               SELECT * FROM mh UNION ALL SELECT * FROM sh)),
    c AS (SELECT
            (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM mh) AS na,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM sh) AS nb,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM ov) AS m,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM un) AS nu)
    SELECT n_true, na AS n_minhash, nb AS n_simhash,
           m AS n_overlap, nu AS n_union,
           CASE WHEN m > 0 THEN ROUND(na * nb / m, 2) END AS lp_estimate,
           CASE WHEN m > 0 THEN ROUND(na * nb / m - nu, 2) END
               AS est_missed
    FROM c
"""


def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 near-duplicate pairs via FastSS deletion-
    neighborhood blocking (Bocek et al. 2007, "Fast Similarity Search
    in Large Dictionaries" — public). Two strings within Levenshtein
    distance 1 always share an entry of U1(s) = {s} ∪ {s with one char
    deleted}: a substitution at i makes both i-deletions equal, an
    insert/delete makes one string a deletion variant of the other.
    So: explode U1 per name, self-join on the variant (the ONLY
    shuffle, keyed on variant strings), dedupe candidates, then verify
    with the exact `levenshtein` built-in. The oracle is the
    INDEPENDENT quadratic method — all pairs filtered by
    levenshtein <= 1 — so a blocking bug that drops a candidate
    breaks the hash.

    Scale notes (100 TB): candidates ∝ real near-dups, never n² —
    each string emits len+1 variant rows and a variant block only
    contains strings one edit apart (block width is alphabet-bounded).
    This is THE dictionary-scale edit-distance join pattern; depth-k
    neighborhoods generalize to distance k with the same shape.
    Reference scope: the reference engine has no string similarity at
    all (SURVEY §2.1); this extends the near-dup family
    (minhash/simhash/embedding) with the typo-distance member."""
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("k"), F.col("s_name").alias("nm")
    )
    variants = sup.select(
        "k",
        "nm",
        F.explode(
            F.concat(
                F.array(F.col("nm")),
                F.expr(
                    "transform(sequence(1, length(nm)), i -> "
                    "concat(substr(nm, 1, i-1), substr(nm, i+1, length(nm))))"
                ),
            )
        ).alias("v"),
    )
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.k") < F.col("b.k")))
        .select(
            F.col("a.k").alias("key_a"),
            F.col("b.k").alias("key_b"),
            F.col("a.nm").alias("nm_a"),
            F.col("b.nm").alias("nm_b"),
        )
        .distinct()
    )
    return cand.filter(F.levenshtein("nm_a", "nm_b") <= 1).select(
        "key_a",
        "key_b",
        F.levenshtein("nm_a", "nm_b").cast("long").alias("dist"),
    )


QUERIES["ext_edit_distance_pairs"] = edit_distance_pairs

# independent quadratic oracle: any blocking miss breaks the hash
ORACLES["ext_edit_distance_pairs"] = """
    SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
           CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS dist
    FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 1
"""
