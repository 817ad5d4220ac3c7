"""In-engine BPE merge training: the tokenizer-building operator.

Byte-pair-encoding training is the canonical pre-tokenizer step of an
LLM data pipeline; this operator runs BPE_ROUNDS greedy merge rounds
INSIDE the engine and emits the learned merge table — (round, sym1,
sym2, pair_count) — with every step exactly reproduced by the DuckDB
oracle (the same rounds unrolled as CTEs).

Algorithm (Sennrich et al.'s original corpus-level BPE, expressed
relationally):
1. word TYPES + corpus frequencies (the one corpus-wide shuffle);
2. each type exploded to (word, pos, sym) single-char rows;
3. per round: adjacent-pair counts weighted by type frequency →
   argmax pair (ties: lexicographic) → LEFTMOST-GREEDY merge of all
   its occurrences → renumber positions. Leftmost-greedy overlap
   resolution (the "aaaa" case: merge positions 1 and 3, not 2) is a
   gaps-and-islands window: consecutive match runs keep their
   even-offset members.

The round loop is a Python loop building ONE lazy Catalyst plan per
round boundary (lazy localCheckpoint between rounds — each round's
table feeds both the next pair count and the next merge); the argmax
is an orderBy(1) inside the plan and broadcast-joined back, so no
driver-side collect anywhere.

Scale (100 TB): this is exactly how SentencePiece-style distributed
BPE scales — the corpus is touched ONCE (token → type frequencies,
map-side combinable); every merge round then runs on the TYPE table,
which is vocabulary-sized (thousands to millions of rows), not
corpus-sized. Round cost: one window pass + one tiny broadcast join
over the types. The merge table itself (the operator's output) is the
artifact shipped to tokenizer workers.

No reference counterpart (SURVEY.md §2.1); extension per SURVEY §2.2
text-analysis row.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mini_sql_engine_spark.catalog import (
    DFMemo,
    ensure_min_partitions,
    load_table,
)

BPE_ROUNDS = 3


def _word_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq) corpus type table — the only corpus-wide pass."""
    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(F.split("text", r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _char_rows(types: DataFrame) -> DataFrame:
    """(word, freq, pos, sym): each type as single-char symbol rows."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    return types.select(
        "word", "freq", F.posexplode(chars).alias("pos", "sym")
    )


def _merge_round(t: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One BPE round over the types table.

    Returns (best, merged): ``best`` is the 1-row argmax pair with its
    weighted count; ``merged`` is the table after the leftmost-greedy
    merge, positions renumbered."""
    w = Window.partitionBy("word").orderBy("pos")
    t2 = t.withColumn("s2", F.lead("sym").over(w))
    pairs = t2.filter(F.col("s2").isNotNull())
    best = (
        pairs.groupBy(
            F.col("sym").alias("sym1"), F.col("s2").alias("sym2")
        )
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "sym1", "sym2")
        .limit(1)
        # 1-row lazy checkpoint: the argmax subtree otherwise runs
        # twice (merge input + the output row)
        .localCheckpoint(eager=False)
    )
    return best, _greedy_apply(t2, best)


def _greedy_apply(t2: DataFrame, best: DataFrame) -> DataFrame:
    """Merge every leftmost-greedy occurrence of ``best``'s 1-row pair
    in the lead-annotated table ``t2``; positions renumbered. Shared
    by the BPE (count argmax) and WordPiece (likelihood argmax)
    trainers — the merge mechanics are scorer-independent."""
    # Round 10 (guide §2.4): the whole leftmost-greedy merge is ONE
    # window-pass chain over t2 — no matches/kept side tables, no
    # joins back. Every window partitions by word (the (word, island)
    # head-min only re-sorts, never re-exchanges: hashing by word
    # already clusters it), so the round costs a single exchange.
    # Equivalence to the old join formulation:
    #   - rank-among-matches = running count of matches (positions are
    #     the consecutive 1..n of the per-round renumber), so
    #     island = pos − cum_matches matches the old filtered
    #     row_number; unmatched rows can collide with a run's island,
    #     hence the conditional min for the run head.
    #   - a row is dropped iff the PREVIOUS position merged, i.e.
    #     lag(is_merge) — again because positions are consecutive.
    w = Window.partitionBy("word").orderBy("pos")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wi = Window.partitionBy("word", "island")
    ann = (
        t2.crossJoin(F.broadcast(best.select("sym1", "sym2")))
        .withColumn(
            "m", (F.col("sym") == F.col("sym1")) & (F.col("s2") == F.col("sym2"))
        )
        .withColumn(
            "island",
            F.col("pos") - F.sum(F.col("m").cast("int")).over(wcum),
        )
    )
    ann = ann.withColumn(
        "head", F.min(F.when(F.col("m"), F.col("pos"))).over(wi)
    ).withColumn(
        "is_merge",
        F.col("m") & ((F.col("pos") - F.col("head")) % 2 == 0),
    )
    merged = (
        ann.withColumn("is_drop", F.lag("is_merge").over(w))
        .filter(~F.coalesce(F.col("is_drop"), F.lit(False)))
        .select(
            "word",
            "freq",
            "pos",
            F.when(F.col("is_merge"), F.concat("sym", "s2"))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
        .withColumn("pos", F.row_number().over(w))
    )
    return merged


_BPE_CACHE = DFMemo()  # one directory, content-checked


def _bpe_trained(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(merge_rows, final_table) after BPE_ROUNDS — memoized for the
    current sf_dir: `ext_bpe_train` and `ext_bpe_apply` both consume the
    SAME training run (4 s each at sf0.1 when each re-trained; the pair
    was the suite's two slowest queries in the round-8 bench). persist()
    like `_MINHASH_CACHE`, lineage retained. The DFMemo holds one
    directory and checks the documents table's content token: in-place
    fixture regeneration misses instead of replaying stale state, and
    training on another sf_dir unpersists the previous run."""
    cached = _BPE_CACHE.get(spark, sf_dir)
    if cached is not None:
        return cached
    t = _char_rows(_word_types(spark, sf_dir)).localCheckpoint(eager=False)
    out: DataFrame | None = None
    for r in range(1, BPE_ROUNDS + 1):
        best, t = _merge_round(t)
        t = t.localCheckpoint(eager=False)  # feeds next count AND merge
        row = best.select(
            F.lit(r).cast("long").alias("round"), "sym1", "sym2", "pair_count"
        )
        out = row if out is None else out.unionByName(row)
    out = out.persist()
    t = t.persist()
    return _BPE_CACHE.put(sf_dir, out, t)


def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE_ROUNDS greedy merges over the corpus type table; output the
    learned merge table (round, sym1, sym2, pair_count)."""
    return _bpe_trained(spark, sf_dir)[0]


def bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize with the learned merges: after BPE_ROUNDS rounds, each
    word type's symbol count is its tokenized length. Output per word:
    (word, freq, n_chars, n_syms, saved) — saved = char-tokens avoided,
    weighted by corpus frequency. The compression report that decides
    whether the merge table is worth shipping; costs nothing beyond
    training (the final round's table IS the applied tokenization)."""
    t = _bpe_trained(spark, sf_dir)[1]
    return t.groupBy("word", "freq").agg(
        F.sum(F.length("sym")).alias("n_chars"),
        F.count(F.lit(1)).alias("n_syms"),
        (
            (F.sum(F.length("sym")) - F.count(F.lit(1))) * F.first("freq")
        ).alias("saved"),
    ).select("word", "freq", "n_chars", "n_syms", "saved")


WP_ROUNDS = 3
WP_SCALE = 1_000_000_000_000  # likelihood-ratio fixed point; with
# corpus token mass T: pair_count·WP_SCALE ≤ T·10¹² and cnt1·cnt2 ≤ T²,
# both < 2⁶³ for T up to ~9M types-weighted tokens at this demo scale
# (a 100 TB corpus derives the scale from T instead of a constant,
# same rule as the unigram pack's UNI_SCALE note)


def _wp_round(t: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One WordPiece round: argmax of the LIKELIHOOD score
    count(ab)/(count(a)·count(b)) (Schuster & Nakajima 2012; the
    wordpiece difference from BPE's raw count argmax — it prefers
    pairs whose parts rarely appear apart), computed as an exact
    scaled integer division so both engines pick identical pairs;
    ties break lexicographically. Merge mechanics shared with BPE."""
    w = Window.partitionBy("word").orderBy("pos")
    t2 = t.withColumn("s2", F.lead("sym").over(w))
    pairs = (
        t2.filter(F.col("s2").isNotNull())
        .groupBy(F.col("sym").alias("sym1"), F.col("s2").alias("sym2"))
        .agg(F.sum("freq").alias("pair_count"))
    )
    syms = t.groupBy("sym").agg(F.sum("freq").alias("cnt"))
    best = (
        pairs.join(
            F.broadcast(syms.select(F.col("sym").alias("sym1"),
                                    F.col("cnt").alias("cnt1"))),
            "sym1",
        )
        .join(
            F.broadcast(syms.select(F.col("sym").alias("sym2"),
                                    F.col("cnt").alias("cnt2"))),
            "sym2",
        )
        .select(
            "sym1",
            "sym2",
            "pair_count",
            F.expr(
                f"pair_count * {WP_SCALE} div (cnt1 * cnt2)"
            ).alias("score_scaled"),
        )
        .orderBy(F.desc("score_scaled"), "sym1", "sym2")
        .limit(1)
        # 1-row lazy checkpoint, same reason as _merge_round
        .localCheckpoint(eager=False)
    )
    return best, _greedy_apply(t2, best)


def wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WP_ROUNDS greedy likelihood merges over the corpus type table —
    the WordPiece trainer completing the tokenizer-family trio (BPE
    count-argmax: `ext_bpe_train`; unigram-LM lattice:
    `ext_unigram_tokenize`). Output the learned merge table
    (round, sym1, sym2, pair_count, score_scaled).

    Scale notes (100 TB): identical plan economics to BPE — the corpus
    is touched once for the type table; each round adds one window
    pass, one vocabulary-sized symbol rollup and two tiny broadcast
    joins over the TYPE table (vocabulary-sized, never corpus-sized).
    """
    t = _char_rows(_word_types(spark, sf_dir)).localCheckpoint(eager=False)
    out: DataFrame | None = None
    for r in range(1, WP_ROUNDS + 1):
        best, t = _wp_round(t)
        t = t.localCheckpoint(eager=False)  # feeds next count AND merge
        row = best.select(
            F.lit(r).cast("long").alias("round"),
            "sym1",
            "sym2",
            "pair_count",
            "score_scaled",
        )
        out = row if out is None else out.unionByName(row)
    return out


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ext_bpe_train": bpe_train,
    "ext_bpe_apply": bpe_apply,
    "ext_wordpiece_train": wordpiece_train,
}


def _round_sql(r: int) -> str:
    """CTE block for round r: t{r-1} -> best{r}, t{r}."""
    p, c = f"t{r - 1}", f"t{r}"
    return f"""
        p{r} AS (
            SELECT word, freq, pos, sym,
                   lead(sym) OVER (PARTITION BY word ORDER BY pos) AS s2
            FROM {p}),
        best{r} AS (
            SELECT sym AS sym1, s2 AS sym2,
                   CAST(SUM(freq) AS BIGINT) AS pair_count
            FROM p{r} WHERE s2 IS NOT NULL
            GROUP BY sym, s2
            ORDER BY pair_count DESC, sym1, sym2 LIMIT 1),
        m{r} AS (
            SELECT p.word, p.pos,
                   p.pos - row_number() OVER (
                       PARTITION BY p.word ORDER BY p.pos) AS island
            FROM p{r} p JOIN best{r} b
              ON p.sym = b.sym1 AND p.s2 = b.sym2),
        k{r} AS (
            SELECT word, pos FROM (
                SELECT word, pos,
                       pos - MIN(pos) OVER (PARTITION BY word, island)
                           AS off
                FROM m{r}) q WHERE off % 2 = 0),
        {c} AS (
            SELECT word, freq,
                   row_number() OVER (PARTITION BY word ORDER BY pos)
                       AS pos,
                   CASE WHEN mrg THEN sym || s2 ELSE sym END AS sym
            FROM (
                SELECT p.word, p.freq, p.pos, p.sym, p.s2,
                       k1.pos IS NOT NULL AS mrg
                FROM p{r} p
                LEFT JOIN k{r} k1
                  ON p.word = k1.word AND p.pos = k1.pos
                LEFT JOIN k{r} k2
                  ON p.word = k2.word AND p.pos = k2.pos + 1
                WHERE k2.pos IS NULL) q)"""


ORACLES: dict[str, str] = {
    "ext_bpe_train": f"""
        WITH types AS (
            SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
                SELECT unnest(string_split_regex(text, '\\s+')) AS word
                FROM documents) w GROUP BY word),
        t0 AS (
            SELECT word, freq, s.pos AS pos, s.sym AS sym FROM (
                SELECT word, freq,
                       unnest([struct_pack(pos := i, sym := word[i:i])
                               for i in range(1, len(word) + 1)]) AS s
                FROM types) q),
        {", ".join(_round_sql(r).strip() for r in range(1, BPE_ROUNDS + 1))}
        {" UNION ALL ".join(
            f"SELECT CAST({r} AS BIGINT) AS round, sym1, sym2, pair_count FROM best{r}"
            for r in range(1, BPE_ROUNDS + 1)
        )}
    """,
}

def _wp_round_sql(r: int) -> str:
    """CTE block for WordPiece round r: w{r-1} -> wbest{r}, w{r}.
    Same gaps-and-islands merge as `_round_sql`; only the argmax
    differs (scaled likelihood ratio instead of raw pair count)."""
    p, c = f"w{r - 1}", f"w{r}"
    return f"""
        wp{r} AS (
            SELECT word, freq, pos, sym,
                   lead(sym) OVER (PARTITION BY word ORDER BY pos) AS s2
            FROM {p}),
        wpc{r} AS (
            SELECT sym AS sym1, s2 AS sym2,
                   CAST(SUM(freq) AS BIGINT) AS pair_count
            FROM wp{r} WHERE s2 IS NOT NULL
            GROUP BY sym, s2),
        wsc{r} AS (
            SELECT sym, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM {p} GROUP BY sym),
        wbest{r} AS (
            SELECT p.sym1, p.sym2, p.pair_count,
                   CAST(p.pair_count * {WP_SCALE}
                        // (c1.cnt * c2.cnt) AS BIGINT) AS score_scaled
            FROM wpc{r} p
            JOIN wsc{r} c1 ON p.sym1 = c1.sym
            JOIN wsc{r} c2 ON p.sym2 = c2.sym
            ORDER BY score_scaled DESC, sym1, sym2 LIMIT 1),
        wm{r} AS (
            SELECT p.word, p.pos,
                   p.pos - row_number() OVER (
                       PARTITION BY p.word ORDER BY p.pos) AS island
            FROM wp{r} p JOIN wbest{r} b
              ON p.sym = b.sym1 AND p.s2 = b.sym2),
        wk{r} AS (
            SELECT word, pos FROM (
                SELECT word, pos,
                       pos - MIN(pos) OVER (PARTITION BY word, island)
                           AS off
                FROM wm{r}) q WHERE off % 2 = 0),
        {c} AS (
            SELECT word, freq,
                   row_number() OVER (PARTITION BY word ORDER BY pos)
                       AS pos,
                   CASE WHEN mrg THEN sym || s2 ELSE sym END AS sym
            FROM (
                SELECT p.word, p.freq, p.pos, p.sym, p.s2,
                       k1.pos IS NOT NULL AS mrg
                FROM wp{r} p
                LEFT JOIN wk{r} k1
                  ON p.word = k1.word AND p.pos = k1.pos
                LEFT JOIN wk{r} k2
                  ON p.word = k2.word AND p.pos = k2.pos + 1
                WHERE k2.pos IS NULL) q)"""


ORACLES["ext_wordpiece_train"] = f"""
    WITH types AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
            SELECT unnest(string_split_regex(text, '\\s+')) AS word
            FROM documents) w GROUP BY word),
    w0 AS (
        SELECT word, freq, s.pos AS pos, s.sym AS sym FROM (
            SELECT word, freq,
                   unnest([struct_pack(pos := i, sym := word[i:i])
                           for i in range(1, len(word) + 1)]) AS s
            FROM types) q),
    {", ".join(_wp_round_sql(r).strip() for r in range(1, WP_ROUNDS + 1))}
    {" UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS round, sym1, sym2, pair_count,"
        f" score_scaled FROM wbest{r}"
        for r in range(1, WP_ROUNDS + 1)
    )}
"""


# same unrolled rounds, but the output is the final table's per-word
# tokenization stats instead of the merge rows
ORACLES["ext_bpe_apply"] = (
    ORACLES["ext_bpe_train"].rsplit("SELECT CAST(1", 1)[0]
    + f"""
        SELECT word, freq, CAST(SUM(len(sym)) AS BIGINT) AS n_chars,
               COUNT(*) AS n_syms,
               CAST((SUM(len(sym)) - COUNT(*)) * freq AS BIGINT) AS saved
        FROM t{BPE_ROUNDS} GROUP BY word, freq
    """
)


# ---------------------------------------------------------------------------
# Unigram lattice tokenization (the SentencePiece/Kudo-2018 APPLY
# shape): segment each word over a piece lattice by dynamic
# programming, maximizing the summed piece scores — the Viterbi pass
# every unigram-LM tokenizer runs at inference. Vocabulary and scores
# are corpus-derived and fully relational: single characters are the
# guaranteed-coverage fallback (score UNI_SCALE + corpus count) and
# the UNI_V most frequent 2..4-gram substrings are the learned pieces
# (score len²·UNI_SCALE + corpus count, ties to the lexicographically
# smaller piece) — a longest-match-biased objective; swapping in
# quantized log-probabilities is the same DP with different integer
# weights. Tie-breaking across equal-score segmentations is made
# exact by maximizing the single integer 64·Σscore − n_pieces
# (n_pieces ≤ UNI_MAXW < 64), so the optimum value is unique and both
# engines decompose it with obj//64 + 1 and 64 − obj%64.
#
# Plan shape (100 TB): the DP runs per DISTINCT word type, not per
# token — the corpus is touched once for the type/count tables, the
# edge lattice is a broadcast-vocab join over types, and the carried-
# state recursion goes to an Arrow kernel per the round-7 decision
# rule (state-carrying recursions fall out of codegen; see SCALE.md
# "codegen limits"). Per-doc stats come from one instances×types join.
# At larger corpora UNI_SCALE must dominate counts — derive it from
# the corpus total rather than a constant.
# ---------------------------------------------------------------------------

UNI_MAXW = 8  # word-length cap (testdata max is 8; filter is explicit)
UNI_MAXP = 4  # maximum learned-piece length
UNI_V = 48  # learned pieces kept (by count desc, piece asc)
UNI_SCALE = 1_000_000_000  # length-weight unit, >> any corpus count here


def _uni_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, word) token instances, capped at UNI_MAXW chars."""
    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("word")
    ).filter(
        (F.length("word") >= 1) & (F.length("word") <= UNI_MAXW)
    )


def _uni_vocab(inst: DataFrame) -> DataFrame:
    """(piece, score) vocabulary: every character + top UNI_V 2..4-grams."""
    wcnt = inst.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    subs = wcnt.select(
        "n",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.lit(UNI_MAXP)),
                    lambda L: F.filter(
                        F.transform(
                            F.sequence(F.lit(1), F.length("word")),
                            lambda j: F.when(
                                j + L - 1 <= F.length("word"),
                                F.col("word").substr(j, L),
                            ),
                        ),
                        lambda p: p.isNotNull(),
                    ),
                )
            )
        ).alias("piece"),
    )
    cnts = subs.groupBy("piece").agg(F.sum("n").alias("cnt"))
    chars = cnts.filter(F.length("piece") == 1).select(
        "piece", (F.lit(UNI_SCALE) + F.col("cnt")).alias("score")
    )
    # bounded global window: vocab-sized piece table (<= VOCAB target)
    wv = Window.orderBy(F.col("cnt").desc(), "piece")
    learned = (
        cnts.filter(F.length("piece") >= 2)
        .withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") <= UNI_V)
        .select(
            "piece",
            (
                F.length("piece").cast("long")
                * F.length("piece").cast("long")
                * F.lit(UNI_SCALE).cast("long")
                + F.col("cnt")
            ).alias("score"),
        )
    )
    return chars.unionByName(learned)


def _uni_dp_batches(batches):
    """Arrow kernel: exact lattice DP per word type. edges[k] =
    (start j, length L, weight w = 64*score - 1); obj[i] =
    max_{(j,L,w): j+L = i} obj[j] + w. Plain loops over <= UNI_MAXW
    positions — state-carrying recursion stays out of codegen."""
    import pandas as pd

    for pdf in batches:
        out = {"word": [], "s_sum": [], "n_pieces": []}
        for word, edges in zip(pdf["word"], pdf["edges"]):
            wlen = len(word)
            best = [None] * (wlen + 1)
            best[0] = 0
            by_end: dict[int, list] = {}
            for e in edges:
                by_end.setdefault(int(e["j"]) + int(e["L"]), []).append(e)
            for i in range(1, wlen + 1):
                b = None
                for e in by_end.get(i, ()):
                    prev = best[int(e["j"])]
                    if prev is None:
                        continue
                    cand = prev + int(e["w"])
                    if b is None or cand > b:
                        b = cand
                best[i] = b
            obj = best[wlen]
            assert obj is not None  # chars guarantee a full path
            out["word"].append(word)
            out["s_sum"].append(obj // 64 + 1)
            out["n_pieces"].append(64 - obj % 64)
        yield pd.DataFrame(out)


def unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style unigram lattice tokenization: per-doc
    (n_words, n_pieces, score_sum) under the corpus-derived piece
    vocabulary — the Viterbi segmentation pass, exact by integer
    scoring."""
    inst = _uni_words(spark, sf_dir).localCheckpoint(eager=False)
    vocab = _uni_vocab(inst)
    words_d = inst.select("word").distinct()
    # Round 10: ONE candidate-span explode + ONE vocab join (was a
    # 4-branch union, one per piece length — 4 probe passes over the
    # word types and 4 copies of the distinct subtree in the plan).
    # sequence(1, least(MAXP, len)) never goes descending, so the
    # spans are exactly the old per-L branches' union.
    spans = words_d.select(
        "word",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.least(F.lit(UNI_MAXP), F.length("word")),
                    ),
                    lambda L: F.transform(
                        F.sequence(F.lit(0), F.length("word") - L),
                        lambda j: F.struct(j.alias("j"), L.alias("L")),
                    ),
                )
            )
        ).alias("s"),
    ).select("word", F.col("s.j").alias("j"), F.col("s.L").alias("L"))
    edges = spans.join(
        F.broadcast(vocab),
        F.expr("substr(word, j + 1, L)") == F.col("piece"),
    ).select("word", "j", "L", (F.col("score") * 64 - 1).alias("w"))
    lattice = edges.groupBy("word").agg(
        F.collect_list(F.struct("j", "L", "w")).alias("edges")
    )
    stats = lattice.mapInPandas(
        _uni_dp_batches, "word string, s_sum long, n_pieces long"
    )
    # stats is TYPE-sized (bounded by the <=UNI_MAXW-char vocabulary),
    # so broadcast it: the corpus-sized instance table never shuffles
    # on word, only the map-side-combined per-doc agg moves (guide
    # §3.1; at corpora where the type table outgrows the broadcast
    # limit this reverts to the natural shuffled word join).
    return (
        inst.join(F.broadcast(stats), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_pieces").alias("n_pieces"),
            F.sum("s_sum").alias("score_sum"),
        )
    )


QUERIES["ext_unigram_tokenize"] = unigram_tokenize


def _uni_oracle() -> str:
    """Unrolled-position DP replay: d{i} holds the best objective per
    word at position i; each step joins the ≤ UNI_MAXP predecessor
    tables through the vocab on the exact substring."""
    head = f"""
        WITH inst AS (
            SELECT doc_id, word FROM (
                SELECT doc_id,
                       unnest(string_split_regex(text, '\\s+')) AS word
                FROM documents) w
            WHERE len(word) BETWEEN 1 AND {UNI_MAXW}),
        wcnt AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
                 FROM inst GROUP BY word),
        subs AS (
            SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt FROM (
                SELECT w.n, w.word[t.j:t.j + t.L - 1] AS piece
                FROM wcnt w,
                     (SELECT j, L
                      FROM generate_series(1, {UNI_MAXW}) s(j),
                           generate_series(1, {UNI_MAXP}) g(L)) t
                WHERE t.j + t.L - 1 <= len(w.word)) q
            GROUP BY piece),
        vocab AS (
            SELECT piece, {UNI_SCALE} + cnt AS score FROM subs
            WHERE len(piece) = 1
            UNION ALL
            SELECT piece,
                   len(piece) * len(piece) * CAST({UNI_SCALE} AS BIGINT)
                   + cnt AS score
            FROM (SELECT piece, cnt,
                         row_number() OVER (ORDER BY cnt DESC, piece)
                             AS rk
                  FROM subs WHERE len(piece) >= 2) r
            WHERE rk <= {UNI_V}),
        words_d AS (SELECT DISTINCT word FROM inst),
        d0 AS (SELECT word, CAST(0 AS BIGINT) AS obj FROM words_d)"""
    steps = []
    for i in range(1, UNI_MAXW + 1):
        branches = []
        for L in range(1, min(UNI_MAXP, i) + 1):
            j = i - L
            branches.append(f"""
            SELECT w.word, d.obj + v.score * 64 - 1 AS obj
            FROM words_d w
            JOIN d{j} d ON d.word = w.word
            JOIN vocab v ON v.piece = w.word[{j + 1}:{i}]
            WHERE len(w.word) >= {i}""")
        steps.append(
            f""",
        d{i} AS (SELECT word, MAX(obj) AS obj FROM ({
                " UNION ALL ".join(branches)
            }) c GROUP BY word)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT word, obj FROM d{i} JOIN words_d USING (word) "
        f"WHERE len(word) = {i}"
        for i in range(1, UNI_MAXW + 1)
    )
    # DuckDB scoping: alias words_d per-branch to avoid USING ambiguity
    finals = " UNION ALL ".join(
        f"SELECT word, obj FROM d{i} WHERE len(word) = {i}"
        for i in range(1, UNI_MAXW + 1)
    )
    return (
        head
        + "".join(steps)
        + f""",
        stats AS (
            SELECT word, obj // 64 + 1 AS s_sum, 64 - obj % 64 AS n_pieces
            FROM ({finals}) f)
        SELECT i.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(s.n_pieces) AS BIGINT) AS n_pieces,
               CAST(SUM(s.s_sum) AS BIGINT) AS score_sum
        FROM inst i JOIN stats s USING (word)
        GROUP BY i.doc_id"""
    )


ORACLES["ext_unigram_tokenize"] = _uni_oracle()
