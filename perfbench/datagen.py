"""Seeded input generators for the benchmark.

Everything here is a pure function of ``(seed, size)`` — the same seed
gives byte-identical parquet files — and runs on the driver with NumPy
and pyarrow only (no Spark), so generation time is reported on its own
(``bench.datagen_s``) and never lands in ``setup_s``.

Two domains:

* ``ratings``: the paper's ratings table in ``schemas.RATINGS`` form,
  drawn from a low-rank "true" model with Zipf movie popularity and
  Zipf user activity, ~10% implicit rows (rating NULL), duplicate
  (user, movie) re-ratings so the latest-wins upsert has real work, and
  a per-pair hold-out split for ranking quality.
* ``star``: the TPC-H-like star schema plus ``events``, ``documents``
  and ``embeddings`` that the catalog queries and the star-schema
  serving requests read, laid out like the driver fixtures (one parquet
  file per table, timestamps stored as microseconds).

Timestamps are always written as ``timestamp[us]``: pandas' default
nanosecond parquet fails Spark's reader under ``schemas.RATINGS``
(``PARQUET_COLUMN_DATA_TYPE_MISMATCH`` on ``ts``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000          # 2024-01-01T00:00:00Z in µs
DAY_US = 86_400_000_000
RATING_SCHEMA = pa.schema([
    pa.field("user_id", pa.int32(), nullable=False),
    pa.field("movie_id", pa.int32(), nullable=False),
    pa.field("rating", pa.float64()),
    pa.field("is_implicit", pa.bool_(), nullable=False),
    pa.field("ts", pa.timestamp("us")),
])


def zipf_weights(n: int, s: float) -> np.ndarray:
    """Normalised Zipf(s) probabilities over ranks 1..n."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


@dataclass(frozen=True)
class RatingsSize:
    users: int
    movies: int
    rows: int
    rank: int = 8
    implicit_frac: float = 0.10
    rerate_frac: float = 0.08
    holdout_frac: float = 0.10


@dataclass
class Ratings:
    """Generated ratings: ``train`` is what the program receives,
    ``holdout`` the (user_id, movie_id, rating) pairs withheld from it."""
    train: pa.Table
    holdout: pa.Table


def ratings(seed: int, size: RatingsSize) -> Ratings:
    rng = np.random.default_rng([seed, 1])
    U, M, N = size.users, size.movies, size.rows
    # low-rank truth: rating = 3 + biases + scaled factor dot product
    pu = rng.normal(0, 1, (U, size.rank))
    qi = rng.normal(0, 1, (M, size.rank))
    bu = rng.normal(0, 0.4, U)
    bi = rng.normal(0, 0.4, M)
    n_base = N - int(N * size.rerate_frac)
    # Zipf activity, at least 3 ratings per user
    per_user = 3 + rng.multinomial(n_base - 3 * U,
                                   zipf_weights(U, 0.7)[rng.permutation(U)])
    # users pick movies by popularity x affinity (people rate what they
    # like), so held-out relevant items are predictable from the rest
    log_pop = np.log(zipf_weights(M, 0.9)[rng.permutation(M)])
    affinity = (bi + pu @ qi.T / np.sqrt(size.rank) * 0.9)     # U x M
    users = np.repeat(np.arange(U), per_user)
    movies = np.empty(n_base, dtype=np.int64)
    off = 0
    for u in range(U):
        logit = log_pop + 1.5 * affinity[u]
        p = np.exp(logit - logit.max())
        movies[off:off + per_user[u]] = rng.choice(M, per_user[u],
                                                   p=p / p.sum())
        off += per_user[u]
    score = (3.0 + bu[users] + affinity[users, movies]
             + rng.normal(0, 0.35, n_base))
    # re-ratings: copies of earlier pairs with a later ts and a new value
    re = rng.choice(n_base, N - n_base)
    users = np.concatenate([users, users[re]])
    movies = np.concatenate([movies, movies[re]])
    score = np.concatenate([score, score[re] + rng.normal(0, 0.6, len(re))])
    rating = np.clip(np.round(score * 2) / 2, 0.5, 5.0)
    # unique µs timestamps over 60 days; re-ratings come strictly later
    ts = T0_US + np.sort(rng.choice(60 * DAY_US, N, replace=False))
    order = np.concatenate([rng.permutation(n_base),
                            n_base + rng.permutation(N - n_base)])
    ts_row = np.empty(N, dtype=np.int64)
    ts_row[order] = ts
    implicit = rng.random(N) < size.implicit_frac
    # hold out whole (user, movie) pairs whose latest row is explicit
    pair = users.astype(np.int64) * M + movies
    latest = np.full(U * M, -1, dtype=np.int64)
    np.maximum.at(latest, pair, ts_row)
    last_row = latest[pair] == ts_row
    cand = np.flatnonzero(last_row & ~implicit)
    held = rng.choice(cand, int(len(cand) * size.holdout_frac),
                      replace=False)
    held_pairs = np.zeros(U * M, dtype=bool)
    held_pairs[pair[held]] = True
    keep = ~held_pairs[pair]
    train = pa.table({
        "user_id": users[keep].astype(np.int32),
        "movie_id": movies[keep].astype(np.int32),
        "rating": pa.array(rating[keep], mask=implicit[keep]),
        "is_implicit": implicit[keep],
        "ts": pa.array(ts_row[keep], pa.timestamp("us")),
    }, schema=RATING_SCHEMA)
    holdout = pa.table({
        "user_id": users[held].astype(np.int32),
        "movie_id": movies[held].astype(np.int32),
        "rating": rating[held],
    })
    return Ratings(train, holdout)


# --- star schema -----------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["red", "blue", "green", "small", "large", "steel", "brass",
          "black", "white", "silver"]
NOUNS = ["widget", "bolt", "ring", "gear", "nut", "screw", "valve",
         "spring", "plate", "pipe"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ["hash", "order", "table", "window", "row", "batch", "big",
         "group", "a", "spark", "filter", "sort", "join", "line", "data",
         "column", "key", "merge", "agg", "small", "scan", "vector",
         "stream", "value", "customer", "slow", "part", "fast", "query",
         "the"]


def _date_us(rng: np.random.Generator, n: int, lo_days: int,
             span_days: int) -> pa.Array:
    """Midnight timestamps, ``lo_days`` after 1995-01-01."""
    base = 788_918_400_000_000  # 1995-01-01T00:00:00Z
    days = lo_days + rng.integers(0, span_days, n)
    return pa.array(base + days * DAY_US, pa.timestamp("us"))


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The catalog tables at scale ``sf`` (sf 0.01 ≈ 1.5k customers,
    15k orders, 60k lineitems, 500 documents)."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    price = np.round(900.0 + (np.arange(n_part) % 2000) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 10, n_part), rng.integers(0, 10, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 450_000, n_ord), 2),
        "o_orderdate": _date_us(rng, n_ord, 0, 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    okey = np.sort(rng.integers(0, n_ord, n_li))
    first = np.r_[True, okey[1:] != okey[:-1]]
    start = np.maximum.accumulate(np.where(first, np.arange(n_li), 0))
    linenumber = (np.arange(n_li) - start + 1).astype(np.int32)
    pkey = rng.permutation(n_part)[
        rng.choice(n_part, n_li, p=zipf_weights(n_part, 0.6))]
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": pkey.astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[pkey], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _date_us(rng, n_li, 30, 2404)})
    ev_ts = T0_US + np.sort(rng.choice(30 * DAY_US, n_ev, replace=False))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(20, n_ev // 66), n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(8.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_doc)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.12:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(vocab[rng.integers(0, len(vocab),
                                            int(rng.integers(10, 90)))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    x = centers[labels] * 0.4 + rng.normal(0, 1, (n, dim))
    dup = rng.random(n) < 0.05
    src = rng.integers(0, n, n)
    x[dup] = x[src[dup]] + rng.normal(0, 0.01, (int(dup.sum()), dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def write_star(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
