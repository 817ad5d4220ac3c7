"""Seeded input generators for the benchmark.

Everything the program sees is made here from the run's seed: the
TPC-H-shaped parquet catalog, the reference-dialect query stream, the
per-iteration curation corpora and the event feed. The same seed gives
byte-identical files (pyarrow writes no timestamps into parquet), which
``selftest.py`` checks.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
# planted near-duplicate share of every curation corpus, and the share
# of embeddings that are planted neighbours of an earlier vector
DUP_RATE = 0.10
EMB_NEIGHBOUR_RATE = 0.10
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
EMB_DIM = 64
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, so adding draws to one
    generator never shifts another's inputs."""
    return np.random.default_rng([seed, sum(stream.encode()) * 7919 + len(stream)])


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return table.num_rows


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, span_days, n) * _US_PER_DAY
    return pa.array(us, type=pa.timestamp("us"))


def write_catalog(seed: int, out_dir: str) -> dict:
    """The sf0.1 star schema plus events, documents and embeddings, one
    parquet per table under ``out_dir``. Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, "catalog")
    n_supp, n_cust, n_part = int(10_000 * SF), int(150_000 * SF), int(200_000 * SF)
    n_ord, n_li, n_ev = int(1_500_000 * SF), int(6_000_000 * SF), int(1_000_000 * SF)
    rows = {}
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731
    rows["region"] = _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), p("region"))
    rows["nation"] = _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    }), p("nation"))
    rows["supplier"] = _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), p("supplier"))
    rows["customer"] = _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), p("customer"))
    adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
    ptypes = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
    rows["part"] = _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }), p("part"))
    rows["orders"] = _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), p("orders"))
    l_order = np.sort(rng.integers(0, n_ord, n_li))
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    # whole-dollar prices: a price times (1 - discount) then has whole
    # cents, so a revenue sum rounded to cents is never an exact
    # half-cent tie, which two engines' double sums round either way
    # (tpch_q3's revenue of 383088.215 on seed 548027846 read .21 in
    # Spark and .22 in DuckDB)
    rows["lineitem"] = _write(pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, 2500),
    }), p("lineitem"))
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    rows["events"] = _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_cust // 10, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), p("events"))
    rows.update(write_corpus(seed, -1, out_dir, n_docs=5000, n_emb=2000))
    return rows


def _doc_texts(rng: np.random.Generator, n: int) -> tuple[list[str], int]:
    """Word-soup documents from the fixed vocabulary; a DUP_RATE share
    are planted near-duplicates of an earlier document (one or two
    words substituted, or an exact copy). Returns texts and the number
    planted."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    planted = 0
    for i in range(n):
        if i > 10 and rng.random() < DUP_RATE:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            planted += 1
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    return texts, planted


def _embeddings(rng: np.random.Generator, n: int) -> tuple[np.ndarray, int]:
    """Unit-norm float32 vectors; an EMB_NEIGHBOUR_RATE share are small
    perturbations of an earlier vector (planted neighbours)."""
    vecs = rng.normal(size=(n, EMB_DIM))
    planted = 0
    for i in range(1, n):
        if rng.random() < EMB_NEIGHBOUR_RATE:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(scale=0.05, size=EMB_DIM)
            planted += 1
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32), planted


def write_corpus(seed: int, iteration: int, out_dir: str, n_docs: int, n_emb: int) -> dict:
    """One curation corpus (documents + embeddings parquet) in its own
    directory, distinct per (seed, iteration)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = _rng(seed, f"corpus{iteration}")
    texts, planted = _doc_texts(rng, n_docs)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    vecs, emb_planted = _embeddings(rng, n_emb)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.reshape(-1), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_emb,
            "planted_doc_dups": planted, "planted_emb_neighbours": emb_planted}


FEED_USERS, FEED_ZIPF_A = 2000, 1.3


def write_event_batch(seed: int, batch: int, out_dir: str, n_events: int) -> dict:
    """One micro-batch of the ingest feed as a parquet file: events whose
    ``user_id`` is Zipf-skewed over FEED_USERS users. Returns the file
    name, the event count and the feed's size as CSV text (user bytes)."""
    rng = _rng(seed, f"events{batch}")
    ids = np.arange(batch * n_events, (batch + 1) * n_events)
    users = (rng.zipf(FEED_ZIPF_A, n_events) - 1) % FEED_USERS
    values = np.round(rng.gamma(2.0, 50.0, n_events), 2)
    name = f"part-{batch:05d}.parquet"
    _write(pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "user_id": pa.array(users, pa.int64()),
        "value": values,
    }), os.path.join(out_dir, name))
    user_bytes = sum(len(f"{i},{u},{v}\n") for i, u, v in zip(ids, users, values))
    return {"file": name, "events": n_events, "user_bytes": user_bytes}


# ---------------------------------------------------------------- queries

# (table, key column, key domain size, integer/double columns) at sf0.1
_TABLES = {
    "region": ("r_regionkey", 5, ["r_regionkey"]),
    "nation": ("n_nationkey", 25, ["n_nationkey", "n_regionkey"]),
    "supplier": ("s_suppkey", 1000, ["s_suppkey", "s_nationkey", "s_acctbal"]),
    "customer": ("c_custkey", 15000, ["c_custkey", "c_nationkey", "c_acctbal"]),
    "part": ("p_partkey", 20000, ["p_partkey", "p_size", "p_retailprice"]),
    "orders": ("o_orderkey", 150000, ["o_orderkey", "o_custkey", "o_totalprice"]),
    "lineitem": ("l_orderkey", 150000,
                 ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity"]),
    "events": ("event_id", 100000, ["event_id", "user_id", "value"]),
}
# two-table equi-joins: (left, right, left col, right col)
_JOINS = (
    ("nation", "customer", "n_nationkey", "c_nationkey"),
    ("customer", "orders", "c_custkey", "o_custkey"),
    ("orders", "lineitem", "o_orderkey", "l_orderkey"),
    ("part", "lineitem", "p_partkey", "l_partkey"),
    ("customer", "events", "c_custkey", "user_id"),
)
# single-table queries go to the tables with at least 15k rows
_MIX_TABLES = ("customer", "part", "orders", "lineitem", "events")
_OPS = ("<", ">", "<=", ">=", "=", "!=")
DIALECT_SHAPES = ("star", "project", "agg", "count_distinct", "distinct", "join")
# every (shape, table) pair, and every join: each round of the query
# stream sends every one of these once
DIALECT_MIX = tuple(
    (shape, t) for shape in DIALECT_SHAPES[:-1] for t in _MIX_TABLES
) + tuple(("join", j) for j in range(len(_JOINS)))


def _selective(rng: np.random.Generator, table: str, col: str | None = None) -> str:
    """A key predicate that keeps a handful of rows, using any of the
    six comparison operators (``!=`` and ``>``-style ones are paired with
    a bound through AND/OR so results stay small)."""
    key, n, _ = _TABLES[table]
    col = col or key
    width = int(rng.integers(2, 20))
    lo = int(rng.integers(0, max(1, n - width)))
    op = _OPS[int(rng.integers(0, 6))]
    if op == "<":
        return f"{col} < {width}"
    if op == "<=":
        return f"{col} <= {width}"
    if op == ">":
        return f"{col} > {n - width}"
    if op == ">=":
        return f"{col} >= {n - width}"
    if op == "=":
        return f"{col} = {lo}" if rng.random() < 0.5 else f"{col} = {lo} OR {col} = {lo + 1}"
    return f"{col} != {lo} AND {col} < {width}"


def dialect_query(rng: np.random.Generator, shape: str, target) -> str:
    """One reference-dialect query of ``shape``; ``target`` is the table
    (or, for joins, the index into the join list)."""
    if shape == "join":
        return _join_query(rng, target)
    t = target
    cols = _TABLES[t][2]
    if shape == "star":
        return f"SELECT * FROM {t} WHERE {_selective(rng, t)};"
    if shape == "project":
        k = int(rng.integers(1, len(cols) + 1))
        picked = [cols[i] for i in sorted(rng.choice(len(cols), k, replace=False))]
        return f"SELECT {', '.join(picked)} FROM {t} WHERE {_selective(rng, t)};"
    if shape == "agg":
        fns = ("MAX", "MIN", "SUM", "AVG", "COUNT")
        items = [f"{fns[int(rng.integers(0, 5))]}({cols[int(rng.integers(0, len(cols)))]})"
                 for _ in range(int(rng.integers(1, 4)))]
        col = cols[int(rng.integers(0, len(cols)))]
        op = _OPS[int(rng.integers(0, 6))]
        lit = int(rng.integers(0, _TABLES[t][1]))
        return f"SELECT {', '.join(items)} FROM {t} WHERE {col} {op} {lit};"
    if shape == "count_distinct":
        col = cols[int(rng.integers(0, len(cols)))]
        return f"SELECT COUNT(DISTINCT {col}) FROM {t} WHERE {_selective(rng, t)};"
    if shape == "distinct":
        col = cols[-1] if len(cols) > 2 else cols[0]
        return f"SELECT DISTINCT {col} FROM {t} WHERE {_selective(rng, t)};"
    raise ValueError(f"unknown shape {shape!r}")


def _join_query(rng: np.random.Generator, j: int) -> str:
    left, right, lc, rc = _JOINS[j]
    # filter the larger (right) side by its own key so the join stays small
    filt = _selective(rng, right)
    conn = "AND"
    if " OR " in filt or " AND " in filt:
        filt = f"{right}.{_TABLES[right][0]} < {int(rng.integers(2, 20))}"
    select = "*" if rng.random() < 0.5 else f"{left}.{lc}, {right}.{_TABLES[right][0]}"
    return f"SELECT {select} FROM {left}, {right} WHERE {left}.{lc} = {right}.{rc} {conn} {filt};"


# The ANSI share: the tpch_* names are the operator pack's TPC-H queries;
# "q6_sql" is a seeded TPC-H Q6-shaped string sent through Engine.ansi_sql.
ANSI_CYCLE = ("tpch_q1", "tpch_q3", "q6_sql", "tpch_q9", "tpch_q18")
# One round of the query stream: every dialect (shape, table) pair once
# in seeded order, with one ANSI query after every DIALECT_PER_ANSI
# dialect ones (6 in 7 dialect). The client completes the round it is
# in, so every run sends the same mix whatever the seed and only the
# literals, the order and the data differ.
DIALECT_PER_ANSI = len(DIALECT_MIX) // len(ANSI_CYCLE)
ROUND = len(DIALECT_MIX) + len(ANSI_CYCLE)


def q6_sql(rng: np.random.Generator) -> str:
    year = int(rng.integers(1995, 2001))
    disc = int(rng.integers(2, 9))
    qty = int(rng.integers(20, 30))
    return (
        "SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue, COUNT(*) AS n "
        f"FROM lineitem WHERE l_shipdate >= TIMESTAMP '{year}-01-01 00:00:00' "
        f"AND l_shipdate < TIMESTAMP '{year + 1}-01-01 00:00:00' "
        f"AND l_discount BETWEEN {disc - 1}.0 / 100 AND {disc + 1}.0 / 100 "
        f"AND l_quantity < {qty}"
    )


def warmup_queries(seed: int) -> list[tuple[str, str, str]]:
    """One query of every dialect (shape, table) pair and of every ANSI
    shape, so first-run planning and codegen are paid during set-up."""
    rng = _rng(seed, "warmup")
    out = [("dialect", s, dialect_query(rng, s, t)) for s, t in DIALECT_MIX]
    return out + [("ansi", s, q6_sql(rng) if s == "q6_sql" else s) for s in ANSI_CYCLE]


def query_stream(seed: int):
    """The closed-loop client's endless queries, ROUND at a time:
    (kind, shape, text). Kind is "dialect" (text is reference-dialect
    SQL) or "ansi" (text is a tpch pack query name or ANSI SQL for the
    q6 shape)."""
    rng = _rng(seed, "queries")
    while True:
        mix = [DIALECT_MIX[int(j)] for j in rng.permutation(len(DIALECT_MIX))]
        for a, shape in enumerate(ANSI_CYCLE):
            for s, t in mix[a * DIALECT_PER_ANSI:(a + 1) * DIALECT_PER_ANSI]:
                yield "dialect", s, dialect_query(rng, s, t)
            yield "ansi", shape, q6_sql(rng) if shape == "q6_sql" else shape
