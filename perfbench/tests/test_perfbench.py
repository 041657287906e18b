"""The benchmark's own tests: generator determinism, each correctness
check rejecting a deliberately wrong answer, and a tiny-size smoke of
both workloads (traced and untraced).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pandas as pd
import pytest

import checks
import datagen
import harness
import worker
import workloads as W

TINY = datagen.RatingsSize(users=200, movies=120, rows=4000)


# --- generator ------------------------------------------------------

def test_ratings_deterministic_per_seed():
    a, b = datagen.ratings(5, TINY), datagen.ratings(5, TINY)
    assert a.train.equals(b.train) and a.holdout.equals(b.holdout)
    assert not datagen.ratings(6, TINY).train.equals(a.train)


def test_ratings_shape():
    g = datagen.ratings(5, TINY)
    t = g.train.to_pandas()
    assert str(g.train.schema.field("ts").type) == "timestamp[us]"
    assert t.rating[t.is_implicit].isna().all()
    assert 0.05 < t.is_implicit.mean() < 0.15
    assert t.duplicated(["user_id", "movie_id"]).any()      # re-ratings
    assert set(t.user_id) == set(range(TINY.users))
    h = g.holdout.to_pandas()
    pairs = set(zip(t.user_id, t.movie_id))
    assert len(h) and not pairs & set(zip(h.user_id, h.movie_id))


def test_star_deterministic_per_seed():
    a, b = datagen.star_tables(3, 0.001), datagen.star_tables(3, 0.001)
    assert all(a[k].equals(b[k]) for k in a)
    assert not datagen.star_tables(4, 0.001)["orders"].equals(a["orders"])


# --- checks reject wrong answers -----------------------------------

@pytest.fixture(scope="module")
def star(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("star"))
    tables = datagen.star_tables(1, 0.001)
    datagen.write_star(d, tables)
    return d, tables


def _focus_answers(star_dir):
    import __spark_entry__ as E
    from tools.selfcheck import _connect

    con = _connect(star_dir)
    out = {k: con.execute(E.oracle_sql()[q]).df().to_dict("records")
           for k, q in checks.STAR_KINDS.items()}
    con.close()
    return out


def test_serve_check_accepts_oracle_and_rejects_wrong(star):
    star_dir, tables = star
    gen = datagen.ratings(1, TINY)
    focus = _focus_answers(star_dir)
    good = [{"kind": k, "user": checks.FOCUS_CUSTKEY, "rows": rows}
            for k, rows in focus.items()]
    assert checks.check_serve(good, gen.train, tables, star_dir, 10) == []

    seen = int(gen.train.to_pandas().query("user_id == 3").movie_id.iloc[0])
    bad_rec = {"kind": "recommend", "user": 3, "rows": [
        {"item_id": seen, "score": 4.0, "rec_source": "als"}]}
    order = {"kind": "recommend", "user": 3, "rows": [
        {"item_id": 10**6, "score": 9.0, "rec_source": "popular"},
        {"item_id": 10**6 + 1, "score": 4.0, "rec_source": "als"}]}
    top = focus["top_movies"]
    wrong_top = {"kind": "top_movies", "user": 1, "rows": top[1:]}
    stranger = {"kind": "history", "user": checks.FOCUS_CUSTKEY,
                "rows": [dict(r, c_name="Customer#999999999")
                         for r in focus["history"]]}
    for bad in (bad_rec, order, stranger):
        assert checks.check_serve([bad], gen.train, tables, star_dir, 10)
    assert checks.check_serve([wrong_top], gen.train, tables, star_dir, 10)


def _gold(train: pd.DataFrame):
    latest = checks.latest_rows(train)
    exp = latest[~latest.is_implicit].groupby("movie_id").rating.agg(
        ["count", "mean"])
    exp = exp[exp["count"] > 5]
    stats = pd.DataFrame({"movie_id": exp.index,
                          "count_users": exp["count"].to_numpy(),
                          "avg_ratings": exp["mean"].to_numpy()})
    recs = pd.DataFrame({"user_id": [1, 1, 2], "item_id": [7, 5, 9],
                         "score": [4.5, 4.0, 3.0], "rank": [1, 2, 1]})
    kv = pd.DataFrame({"key": ["u1", "u2"], "value": ["7;5", "9"]})
    return recs, stats, kv


def test_refresh_check_rejects_wrong():
    train = datagen.ratings(1, TINY).train.to_pandas()
    recs, stats, kv = _gold(train)
    assert checks.check_refresh(recs, stats, kv, train) == []
    assert checks.check_refresh(recs, stats, kv.assign(value=["5;7", "9"]),
                                train)
    assert checks.check_refresh(recs.assign(score=[6.0, 4.0, 3.0]), stats,
                                kv, train)
    assert checks.check_refresh(recs, stats.iloc[1:], kv, train)


def test_catalog_check_rejects_wrong(star):
    import __spark_entry__ as E
    from tools.selfcheck import _connect

    star_dir, _ = star
    oracles = E.oracle_sql()
    con = _connect(star_dir)
    want = con.execute(oracles["q_rollup"]).df()
    con.close()
    assert checks.check_catalog({"q_rollup": want}, oracles, star_dir) == []
    assert checks.check_catalog({"q_rollup": want.iloc[1:]}, oracles,
                                star_dir)
    assert checks.check_catalog({"q_no_such": want}, oracles, star_dir)


def test_percentiles():
    xs = list(range(1, 101))
    assert harness.percentile(xs, 50) == 50
    assert harness.percentile(xs, 95) == 95
    assert harness.tail_percentile(100) == 90
    assert harness.tail_percentile(30) == 50


def test_typical_is_weighted_geomean_of_medians():
    lat = {"a": [1.0, 100.0, 4.0], "b": [9.0]}
    assert worker.typical(lat, {"a": 1.0, "b": 1.0}) == pytest.approx(6.0)
    assert worker.typical(lat, {"a": 3.0, "b": 1.0}) == pytest.approx(
        4.0 ** 0.75 * 9.0 ** 0.25)
    # a type without samples drops out
    assert worker.typical({"b": [9.0]}, {"a": 1.0, "b": 1.0}) == pytest.approx(9.0)


# --- smoke ----------------------------------------------------------

@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(W, "SERVE_RATINGS", TINY)
    monkeypatch.setattr(W, "STAR_SF", 0.001)
    monkeypatch.setattr(W, "NDCG_FLOOR", 0.0)


def test_serve_sequence_fixed_mix(tiny, tmp_path):
    def seq(seed):
        ctx = W.Ctx(None, harness.NullTracer(), seed, str(tmp_path),
                    str(tmp_path))
        return W.Serve(ctx).sequence(2)

    a, b = seq(1), seq(2)
    assert [k for k, _ in a] == [k for k, _ in b]         # same work
    assert [u for _, u in a] != [u for _, u in b]         # other users
    first = [k for k, _ in a[:W.SERVE_ROUND]]
    assert {k: first.count(k) / W.SERVE_ROUND for k in W.SERVE_MIX} == \
        pytest.approx(W.SERVE_MIX)


@pytest.mark.parametrize("name,trace", [
    ("serve", 1), ("serve", 0), ("catalog", 0)])
def test_workload_smoke(spark, tiny, tmp_path, name, trace):
    tracer = harness.Tracer() if trace else harness.NullTracer()
    (tmp_path / "data").mkdir()
    (tmp_path / "work").mkdir()
    ctx = W.Ctx(spark, tracer, 7, str(tmp_path / "data"),
                str(tmp_path / "work"))
    wl = W.WORKLOADS[name](ctx)
    wl.write_inputs()
    tracer.phase = "setup"
    wl.setup()
    tracer.phase = "measure"
    m = wl.measure(3.0)
    tracer.phase = "check"
    assert m.lat and m.failed == 0
    assert all(x > 0 for v in m.lat.values() for x in v)
    assert wl.check() == []
    assert all(v[0] > 0 for v in wl.named(m).values())
    if trace:
        layer = harness.layer_summary(tracer)
        assert all(v > 0 for v in layer.values()), layer
