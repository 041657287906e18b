"""The two benchmark workloads.

Each workload is a class with ``setup`` (preconditions, timed into
``setup_s``), ``measure`` (runs the work the given seconds hold and
returns a ``Measured``: the latency of each operation that succeeded,
by operation type, plus the number that failed), ``weights`` (each
operation type's share in the workload's typical latency), ``check``
(untimed; returns a list of correctness errors, empty when every
answer was right) and ``named`` (the workload's own end-to-end figures
by name).
They call the engine only through its public functions; the ``Tracer``
wraps those calls in spans when the run is traced.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import ExitStack, contextmanager
from typing import NamedTuple

import numpy as np
import pyarrow.parquet as pq

import checks
import datagen
from harness import force_plan, percentile, tail_percentile

# --- sizes (one place, so BENCHMARK.json's description stays true) ---
SERVE_RATINGS = datagen.RatingsSize(users=800, movies=500, rows=20_000)
STAR_SF = 0.01
# the request sequence (types, user popularity ranks) is part of the
# workload, the same in every run; the run's seed draws the data and
# which user holds each rank
SERVE_TRACE_SEED = 20240101
SERVE_ROUND = 20              # requests per round of the mix's exact shares
SERVE_ROUND_S = 10.0          # a round's length on the reference host
# a small fit keeps the cold set-up (one refresh cycle) short
SERVE_ALS = {"max_iter": 2, "num_blocks": 2}
SERVE_MIX = {"recommend": 0.35, "fallback": 0.10, "history": 0.15,
             "top_ratings": 0.15, "rated": 0.15, "top_movies": 0.10}
SERVE_N = 10
SERVE_WARM_ROUNDS = 3         # the first requests of each type run slow
NDCG_FLOOR = 0.002            # measured 0.036-0.066 over ten seeds: the fit must still rank
# one query per implementing module family, in the order they run; a
# cold pass at sf0.01 on 2 cores takes ~20 s, two thirds of it in
# q_merge_snapshot and q_sessionize_stream
CATALOG_QUERIES = (
    "q_rollup", "q_upsert_latest", "q_merge_snapshot", "q_token_counts",
    "q_dedup_exact", "q_knn_brute", "q_sessionize", "q_multimodal_meta",
    "q_kanon", "q_salted_count", "q_spatial_join", "q_sessionize_stream",
)


class Measured(NamedTuple):
    """What a measured phase returns: each operation type's wall
    latencies (ms, one per successful operation) and the count of
    failed operations."""
    lat: dict[str, list[float]]
    failed: int


class Ctx:
    """What every workload gets: the session, tracer, seed, and a data
    directory (generated inputs) plus a work directory (table output),
    both inside the run's temporary directory."""

    def __init__(self, spark, tracer, seed: int, data_dir: str,
                 work_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.extra: dict = {}     # workload-specific figures for the trace


@contextmanager
def patched(obj, name: str, wrap):
    """Temporarily replace ``obj.name`` by ``wrap(original)``."""
    orig = getattr(obj, name)
    setattr(obj, name, wrap(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


def spanned(tracer, span: str, kind: str):
    """Wrapper factory: record a span around every call."""
    def wrap(fn):
        def inner(*a, **kw):
            with tracer.span(span, kind=kind):
                return fn(*a, **kw)
        return inner
    return wrap


def zipf_ranks(rng: np.random.Generator, m: int, n: int,
               s: float = 1.1) -> np.ndarray:
    """n draws of a popularity rank in 0..m-1 with Zipf(s) weights."""
    return rng.choice(m, n, p=datagen.zipf_weights(m, s))


def ranked_ids(rng: np.random.Generator, ids: np.ndarray,
               hot: int) -> np.ndarray:
    """``ids`` in a random popularity order with ``hot`` first."""
    order = rng.permutation(ids)
    return np.concatenate([[hot], order[order != hot]])


# ---------------------------------------------------------------------
class Serve:
    """Closed-loop reads, one request at a time: a fixed mix of
    precomputed-recommendation, fallback and per-user star-schema
    requests for Zipf-skewed users.

    Set-up runs the paper's periodic refresh job once (``run_pipeline``
    with its gold writes) and serves from what it wrote, so the refresh
    cycle's time (``refresh_s``) and ranking quality
    (``refresh_ndcg_at_10``) are measured here too."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.gen = datagen.ratings(ctx.seed, SERVE_RATINGS)
        self.ratings = self.gen.train
        self.star_dir = os.path.join(ctx.data_dir, "star")
        self.star = datagen.star_tables(ctx.seed, STAR_SF)
        self.ratings_path = os.path.join(ctx.data_dir, "ratings.parquet")
        self.gold = os.path.join(ctx.work_dir, "gold")
        self.weights = SERVE_MIX

    def write_inputs(self) -> None:
        pq.write_table(self.ratings, self.ratings_path)
        datagen.write_star(self.star_dir, self.star)

    def _refresh(self):
        """One refresh cycle; in a traced run the pipeline's calls into
        each layer are wrapped in spans for its duration."""
        from movie_rec_spark import ml
        from movie_rec_spark import pipeline as P
        from movie_rec_spark import schemas
        from movie_rec_spark.sources import kv
        from pyspark.sql.readwriter import DataFrameWriter

        spark, tr = self.ctx.spark, self.ctx.tracer
        raw = spark.read.schema(schemas.RATINGS).parquet(self.ratings_path)
        with ExitStack() as stack:
            if tr.enabled:
                def traced_write(orig):
                    def parquet(self_w, path, *a, **kw):
                        with tr.span("pipeline.plan", kind="plan"):
                            force_plan(self_w._df)
                        with tr.span("pipeline.write", kind="exec"):
                            return orig(self_w, path, *a, **kw)
                    return parquet

                for obj, name, span, kind in (
                        (P, "compact_ratings", "mutation.compact", "build"),
                        (P, "movie_stats", "pipeline.movie_stats", "build"),
                        (ml, "train_als", "ml.train_als", "exec"),
                        (ml, "recommend_top_n", "ml.recommend_top_n", "build"),
                        (kv, "encode_rec_list", "kv.encode_rec_list", "build")):
                    stack.enter_context(
                        patched(obj, name, spanned(tr, span, kind)))
                stack.enter_context(
                    patched(DataFrameWriter, "parquet", traced_write))
            stack.enter_context(tr.op(spark, "refresh.cycle"))
            return P.run_pipeline(spark, raw, out_dir=self.gold,
                                  als_kwargs=SERVE_ALS)

    def setup(self) -> None:
        from movie_rec_spark import pipeline as P

        spark = self.ctx.spark
        t = time.perf_counter()
        res = self._refresh()
        self.refresh_s = time.perf_counter() - t
        res.ratings.write.mode("overwrite").parquet(f"{self.gold}/ratings")
        self.result = P.PipelineResult(
            *(spark.read.parquet(f"{self.gold}/{t}") for t in
              ("ratings", "movie_stats", "recommendations", "rec_kv")))
        # warm every request type (JIT, schema memo, code generated per
        # user literal), a new user each round
        t = time.perf_counter()
        for r in range(SERVE_WARM_ROUNDS):
            for k in SERVE_MIX:
                self.build(k, 2 + r).collect()
        self.ctx.extra["serve.warmup_s"] = time.perf_counter() - t

    def build(self, kind: str, u: int):
        from movie_rec_spark import pipeline as P
        from movie_rec_spark.operators import relational as R
        from movie_rec_spark.sources.catalog import load_table

        spark, d = self.ctx.spark, self.star_dir
        tr = self.ctx.tracer

        def t(name):
            with tr.span("catalog.load_table", kind="build"):
                return load_table(spark, d, name)

        if kind == "recommend":
            return P.serve_recommendations(self.result, u, SERVE_N)
        if kind == "fallback":
            return R.q_recommend(t("lineitem"), t("orders"), custkey=u,
                                 n=SERVE_N)
        if kind == "history":
            return R.q_user_latest_ratings(t("orders"), t("customer"),
                                           custkey=u)
        if kind == "top_ratings":
            return R.q_user_top_ratings(t("orders"), t("customer"),
                                        custkey=u)
        if kind == "rated":
            return R.q_user_rated_movies(t("lineitem"), t("orders"),
                                         t("part"), custkey=u)
        if kind == "top_movies":
            return R.q_top_movies(t("lineitem"), t("part"))
        raise ValueError(kind)

    def sequence(self, rounds: int) -> list[tuple[str, int]]:
        """The request sequence: ``rounds`` rounds of ``SERVE_ROUND``
        requests, each round holding the mix's
        exact shares in shuffled order, each request for a Zipf-drawn
        popularity rank. The kinds and ranks are fixed by
        ``SERVE_TRACE_SEED``, so every run offers the same work with the
        same repeats; the run's seed only decides which user holds which
        rank (Spark compiles code per distinct user literal, so the
        count of distinct users would otherwise move latency from seed
        to seed)."""
        rng = np.random.default_rng(SERVE_TRACE_SEED)
        per_round = [k for k, p in SERVE_MIX.items()
                     for _ in range(round(p * SERVE_ROUND))]
        kinds = np.concatenate([rng.permutation(per_round)
                                for _ in range(rounds)])
        n = len(kinds)
        cust = self.star["customer"].column("c_custkey").to_numpy()
        ranks_r = zipf_ranks(rng, SERVE_RATINGS.users, n)
        ranks_c = zipf_ranks(rng, len(cust), n)
        rng = np.random.default_rng([self.ctx.seed, 3])
        users_r = ranked_ids(rng, np.arange(SERVE_RATINGS.users), 1)[ranks_r]
        users_c = ranked_ids(rng, cust, checks.FOCUS_CUSTKEY)[ranks_c]
        return [(str(k), int(ur if k == "recommend" else uc))
                for k, ur, uc in zip(kinds, users_r, users_c)]

    def request(self, kind: str, u: int) -> dict:
        """One request; a failure is recorded in the answer, not raised,
        so it counts against ``failed`` instead of ending the run."""
        tr, spark = self.ctx.tracer, self.ctx.spark
        start = time.perf_counter()
        rows, error = None, None
        try:
            with tr.op(spark, f"serve.{kind}"):
                with tr.span("serve.build", kind="build"):
                    df = self.build(kind, u)
                if tr.enabled:
                    with tr.span("serve.plan", kind="plan"):
                        force_plan(df)
                with tr.span("serve.exec", kind="exec"):
                    rows = [r.asDict() for r in df.collect()]
        except Exception as e:  # noqa: BLE001 - any failure is counted
            error = f"{type(e).__name__}: {e}"
        return {"kind": kind, "user": u, "rows": rows, "error": error,
                "latency_ms": (time.perf_counter() - start) * 1000.0}

    def measure(self, seconds: float) -> Measured:
        """Closed loop, one request at a time, over whole rounds of the
        mix: as many as ``seconds`` holds on the reference host, at
        least one. The work is fixed by ``seconds``, not by how fast
        the host runs it, so every run times the same requests."""
        rounds = max(1, int(seconds // SERVE_ROUND_S))
        answers = [self.request(kind, u)
                   for kind, u in self.sequence(rounds)]
        self.answers = [a for a in answers if a["error"] is None]
        self.errors = [a["error"] for a in answers if a["error"] is not None]
        m = Measured({}, len(self.errors))
        for a in self.answers:
            m.lat.setdefault(a["kind"], []).append(a["latency_ms"])
        self.ctx.extra.update({
            "serve.requests": len(answers),
            **{f"serve.{k}_ms": statistics.median(v) for k, v in m.lat.items()},
        })
        return m

    def check(self) -> list[str]:
        from movie_rec_spark import ml

        spark = self.ctx.spark
        errs = checks.check_serve(self.answers, self.ratings, self.star,
                                  self.star_dir, SERVE_N)
        recs = spark.read.parquet(f"{self.gold}/recommendations")
        errs += checks.check_refresh(
            recs.toPandas(),
            spark.read.parquet(f"{self.gold}/movie_stats").toPandas(),
            spark.read.parquet(f"{self.gold}/rec_kv").toPandas(),
            self.ratings.to_pandas())
        h = self.gen.holdout.to_pandas()
        relevant = spark.createDataFrame(
            h[h.rating >= 4.0].rename(columns={"movie_id": "item_id"})
            [["user_id", "item_id"]])
        self.ndcg = float(ml.evaluate_ranking(recs, relevant, k=10)["ndcg_at_k"])
        if self.ndcg < NDCG_FLOOR:
            errs.append(f"refresh: NDCG@10 {self.ndcg:.4f} below {NDCG_FLOOR}")
        return errs

    def named(self, m: Measured) -> dict[str, tuple[float, str]]:
        """serve_p50_ms, the highest tail percentile with at least ten
        samples beyond it (serve_p95_ms once there are 200 requests),
        and the set-up's refresh cycle."""
        xs = [x for v in m.lat.values() for x in v]
        p = tail_percentile(len(xs))
        tail = {f"serve_p{p}_ms": (percentile(xs, p), "ms")} if p > 50 else {}
        return {"serve_requests": (len(xs), "count"),
                "serve_p50_ms": (statistics.median(xs), "ms"), **tail,
                "refresh_s": (self.refresh_s, "s"),
                "refresh_ndcg_at_10": (self.ndcg, "ratio")}


# ---------------------------------------------------------------------
class Catalog:
    """Closed loop over a fixed subset of the declared catalog queries,
    one per implementing module family, one cold pass over the seed's
    tables: each query's first execution in a fresh session, after
    bench.py's one-query warm-up."""

    def __init__(self, ctx: Ctx):
        import __spark_entry__ as E
        from bench import EXCLUDE

        self.ctx = ctx
        qs = E.queries()
        missing = [q for q in CATALOG_QUERIES if q not in qs or q in EXCLUDE]
        if missing:
            raise RuntimeError(f"catalog queries unavailable: {missing}")
        self.queries = {q: qs[q] for q in CATALOG_QUERIES}
        self.weights = dict.fromkeys(CATALOG_QUERIES, 1.0)
        self.oracles = E.oracle_sql()
        self.module = {q: checks.query_module(E, fn)
                       for q, fn in self.queries.items()}
        self.star_dir = os.path.join(ctx.data_dir, "star")
        self.star = datagen.star_tables(ctx.seed, STAR_SF)
        self.answers: dict = {}

    def write_inputs(self) -> None:
        datagen.write_star(self.star_dir, self.star)

    def run_query(self, name: str) -> str | None:
        """One query, collected to the driver through Arrow: the answer
        is the client's, and the same rows the oracle check compares
        (the results are small, so collection adds little next to the
        work a noop sink would also force). Returns the error of a
        failed query instead of raising it."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        try:
            with tr.op(spark, f"catalog.{name}") as rec:
                if rec is not None:
                    rec["module"] = self.module[name]
                with tr.span("catalog.build", kind="build"):
                    df = self.queries[name](spark, self.star_dir)
                if tr.enabled:
                    with tr.span("catalog.plan", kind="plan"):
                        force_plan(df)
                with tr.span("catalog.exec", kind="exec"):
                    self.answers[name] = df.toPandas()
        except Exception as e:  # noqa: BLE001 - any failure is counted
            return f"{name}: {type(e).__name__}: {e}"
        return None

    def setup(self) -> None:
        """bench.py's warm-up: one query (JVM, codegen, parquet footers)
        and one tiny Arrow round-trip (the Python worker pool)."""
        spark = self.ctx.spark
        self.queries[CATALOG_QUERIES[0]](spark, self.star_dir).write.format(
            "noop").mode("overwrite").save()
        spark.range(32).mapInPandas(
            lambda it: it, "id long").write.format("noop").mode(
                "overwrite").save()

    def measure(self, seconds: float) -> Measured:
        """One pass, whatever ``seconds`` says: each query's first run
        in the session, as the issue's one-pass-per-run workload has it;
        a second, warm pass would measure something else. The order is
        the declared one in every run: whichever query runs first pays
        the session's remaining cold costs."""
        m = Measured({}, 0)
        self.errors: list[str] = []
        for name in self.queries:
            t = time.perf_counter()
            error = self.run_query(name)
            if error is None:
                m.lat[name] = [(time.perf_counter() - t) * 1000.0]
            else:
                self.errors.append(error)
        return m._replace(failed=len(self.errors))

    def check(self) -> list[str]:
        return checks.check_catalog(self.answers, self.oracles,
                                    self.star_dir)

    def named(self, m: Measured) -> dict[str, tuple[float, str]]:
        return {"catalog_queries": (len(m.lat), "count"),
                "catalog_s": (sum(v[0] for v in m.lat.values()) / 1000.0,
                              "s")}


WORKLOADS = {"serve": Serve, "catalog": Catalog}
