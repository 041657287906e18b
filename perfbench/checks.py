"""Untimed correctness checks, one per workload (serve's also covers
the gold tables of the refresh cycle its set-up ran).

Each ``check_*`` returns a list of error strings; an empty list means
every answer the workload received was right. They are pure functions
of the answers and the generated inputs, so the tests can hand them a
deliberately wrong answer and see it rejected.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

FOCUS_CUSTKEY = 1      # relational.FOCUS_CUSTKEY: the oracle's user
STAR_KINDS = {"fallback": "q_recommend", "history": "q_user_latest_ratings",
              "top_ratings": "q_user_top_ratings",
              "rated": "q_user_rated_movies", "top_movies": "q_top_movies"}


def query_module(entry, fn) -> str:
    """The engine module a declared query calls into, e.g.
    ``operators.dedup`` — read from the names its lambda references."""
    for name in fn.__code__.co_names:
        mod = getattr(entry, name, None)
        modname = getattr(mod, "__name__", "")
        if modname.startswith("movie_rec_spark.") and hasattr(mod, "__file__"):
            return modname[len("movie_rec_spark."):]
    return "other"


def latest_rows(df: pd.DataFrame) -> pd.DataFrame:
    """Latest-wins compaction of a ratings frame (newest ``ts`` per
    (user_id, movie_id), ``rating`` breaking ties) — the reference for
    ``pipeline.compact_ratings``."""
    return (df.sort_values(["ts", "rating"], ascending=False,
                           na_position="last", kind="mergesort")
            .drop_duplicates(["user_id", "movie_id"])
            .sort_values(["user_id", "movie_id"]).reset_index(drop=True))


def _ordered(values: list[float]) -> bool:
    return all(a >= b for a, b in zip(values, values[1:]))


def _overlay_errors(tag: str, rows: list[dict], seen: set, n: int,
                    first_source: str) -> list[str]:
    """Serving-overlay contract: at most n unseen, distinct items, the
    precomputed ones before the popular back-fill, each group in
    descending score order."""
    errs = []
    items = [r["item_id"] for r in rows]
    if len(rows) > n:
        errs.append(f"{tag}: {len(rows)} rows > n={n}")
    if set(items) & seen:
        errs.append(f"{tag}: recommends seen items {sorted(set(items) & seen)[:5]}")
    if len(set(items)) != len(items):
        errs.append(f"{tag}: duplicate items")
    src = [r["rec_source"] for r in rows]
    if src != sorted(src, key=lambda s: s != first_source):
        errs.append(f"{tag}: popular back-fill served before precomputed")
    for s in set(src):
        if not _ordered([r["score"] for r in rows if r["rec_source"] == s]):
            errs.append(f"{tag}: {s} rows not in descending score order")
    return errs


def check_serve(answers: list[dict], ratings, star: dict, star_dir: str,
                n: int) -> list[str]:
    """Structural checks on every answer plus an exact DuckDB-oracle
    comparison for every answer about the focus customer."""
    r = ratings.to_pandas()
    seen_r = r.groupby("user_id").movie_id.agg(set).to_dict()
    orders = star["orders"].to_pandas()
    li = star["lineitem"].select(["l_orderkey", "l_partkey"]).to_pandas()
    cust_orders = orders.groupby("o_custkey")
    parts_of = (li.merge(orders[["o_orderkey", "o_custkey"]],
                         left_on="l_orderkey", right_on="o_orderkey")
                .groupby("o_custkey").l_partkey.agg(set).to_dict())
    errs: list[str] = []
    focus: dict[str, list[dict]] = {}
    for a in answers:
        kind, u, rows = a["kind"], a["user"], a["rows"]
        tag = f"{kind}(user={u})"
        if kind == "recommend":
            errs += _overlay_errors(tag, rows, seen_r.get(u, set()), n, "als")
        elif kind == "fallback":
            errs += _overlay_errors(tag, rows, parts_of.get(u, set()), n,
                                    "precomputed")
        elif kind in ("history", "top_ratings"):
            mine = (cust_orders.get_group(u) if u in cust_orders.groups
                    else orders.iloc[:0])
            want_n = min(20, len(mine))
            if len(rows) != want_n:
                errs.append(f"{tag}: {len(rows)} rows, want {want_n}")
            if any(x["c_name"] != f"Customer#{u:09d}" for x in rows):
                errs.append(f"{tag}: rows of another customer")
            key = "o_orderdate" if kind == "history" else "o_totalprice"
            if not _ordered([x[key] for x in rows]):
                errs.append(f"{tag}: not ordered by {key} desc")
        elif kind == "rated":
            got = {x["p_partkey"] for x in rows}
            if got != parts_of.get(u, set()) or len(got) != len(rows):
                errs.append(f"{tag}: rated-movie set differs from the orders")
        elif kind == "top_movies":
            if not 0 < len(rows) <= 100 or not _ordered(
                    [x["cnt_orders"] for x in rows]):
                errs.append(f"{tag}: not a top-100 by order count")
        if kind in STAR_KINDS and (u == FOCUS_CUSTKEY or kind == "top_movies"):
            focus.setdefault(kind, rows)
    if focus:
        errs += _oracle_errors(star_dir, {STAR_KINDS[k]: v
                                          for k, v in focus.items()})
    return errs


def _connect(star_dir: str):
    from tools.selfcheck import _connect

    return _connect(star_dir)


def _oracle_errors(star_dir: str, got: dict[str, list[dict]]) -> list[str]:
    import __spark_entry__ as E
    from tools.selfcheck import compare

    oracles = E.oracle_sql()
    con = _connect(star_dir)
    errs = []
    try:
        for q, rows in got.items():
            want = con.execute(oracles[q]).df()
            if not rows and want.empty:
                continue
            errs += [f"{q}@focus: {e}" for e in
                     compare(q, pd.DataFrame(rows), want)]
    finally:
        con.close()
    return errs


def check_refresh(recs: pd.DataFrame, stats: pd.DataFrame,
                  kv: pd.DataFrame, train: pd.DataFrame,
                  top_n: int = 20) -> list[str]:
    """Gold-table contract of one refresh cycle: at most ``top_n`` recs
    per user with distinct ranks and scores in [0.5, 5.0]; movie stats
    equal to the explicit ratings of the compacted input under HAVING
    count > 5; ``rec_kv`` round-trips each user's rank order."""
    errs: list[str] = []
    if (recs.groupby("user_id").size() > top_n).any():
        errs.append(f"refresh: users with more than {top_n} recs")
    if not recs.score.between(0.5, 5.0).all():
        errs.append("refresh: scores outside [0.5, 5.0]")
    if recs.duplicated(["user_id", "rank"]).any():
        errs.append("refresh: duplicate ranks")
    latest = latest_rows(train)
    exp = latest[~latest.is_implicit].groupby("movie_id").rating.agg(
        ["count", "mean"])
    exp = exp[exp["count"] > 5]
    st = stats.set_index("movie_id").sort_index()
    if (st.count_users <= 5).any():
        errs.append("refresh: movie_stats violates HAVING count > 5")
    if list(st.index) != list(exp.index) or not (
            np.array_equal(st.count_users.to_numpy(), exp["count"].to_numpy())
            and np.allclose(st.avg_ratings.to_numpy(), exp["mean"].to_numpy())):
        errs.append("refresh: movie_stats differ from the compacted ratings")
    want = (recs.sort_values(["user_id", "rank"]).groupby("user_id").item_id
            .agg(lambda s: ";".join(map(str, s))))
    got = kv.assign(user_id=kv.key.str[1:].astype(int)).set_index(
        "user_id").value.sort_index()
    if not got.equals(want.sort_index().rename("value")):
        errs.append("refresh: rec_kv does not round-trip the rank order")
    return errs


def check_catalog(answers: dict[str, pd.DataFrame], oracles: dict,
                  star_dir: str) -> list[str]:
    """Each query's rows against its DuckDB oracle with the driver's
    strict representation-exact compare (``tools/selfcheck.py``)."""
    from tools.selfcheck import compare

    missing = sorted(set(answers) - set(oracles))
    errs = [f"{q}: no oracle" for q in missing]
    con = _connect(star_dir)
    try:
        for name, got in answers.items():
            if name in oracles:
                errs += [f"{name}: {e}" for e in
                         compare(name, got, con.execute(oracles[name]).df())]
    finally:
        con.close()
    return errs
