"""REST enrichment as a REGISTERED Spark data source — S4/S5
(SURVEY.md §2.1) in the modern Spark-4 Python Data Source API.

The reference fetches TMDB metadata with one blocking, backoff-retried
GET per movie inside a driver-side loop (``prototype/
prepare_dataset.py:121-152`` — requests.get, retry on 429/5xx). The
Spark-native shape is a first-class SOURCE, not a transform:
``spark.read.format("rest_enrichment")`` plans the id space into input
partitions, every partition fetches its chunk batches in parallel
across the cluster, and RETRY WITH EXPONENTIAL BACKOFF lives inside
the partition reader — task-level retries (Spark) handle worker death,
reader-level retries handle transient API failures (429/5xx), exactly
the split the reference collapses into one loop.

Connectivity is mode-switched, because this container has no network:

- ``mode=fake`` (default): the deterministic TMDB-shaped synthesizer
  (``_fake_fetch``, reproduced in SQL by the oracle) — the full
  source machinery (planning, partitioning, chunked fetch, retries,
  schema) runs for real and is oracle-checked; only the socket is
  fake. ``fail_every=N`` makes every Nth chunk raise a transient error
  ON ITS FIRST ATTEMPT so the retry path is actually exercised, not
  just present.
- ``mode=http``: REAL batched GETs via stdlib urllib against
  ``base_url`` (``{base_url}?ids=1,2,3`` → JSON array), 429/5xx and
  connection failures mapped to the transient class the retry loop
  handles. Exercised in-container against a loopback ``http.server``
  with injected 503s (tests/test_enrichment.py) — the full socket
  path, not a stub.

Usage::

    spark.dataSource.register(RestEnrichmentDataSource)
    raw = (spark.read.format("rest_enrichment")
           .option("lo", 1).option("hi", 501)
           .option("num_partitions", 8).load())
    enriched = enrichment.parse_enrichment(raw)   # JVM-side shaping
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from movie_rec_spark.sources.enrichment import RAW_SCHEMA, parse_enrichment

_GENRES = ["Drama", "Comedy", "Action", "Sci-Fi", "Horror"]
_FAKE_SEED = 42


class TransientFetchError(RuntimeError):
    """A retryable failure (the 429/5xx class)."""


def _fake_fetch(ids: list[int]) -> list[str]:
    """Deterministic TMDB-shaped JSON per id: ``(i % 3) + 1`` genres,
    a release year in [1950, 2020). The q_rest_enrichment oracle
    reproduces this arithmetic in SQL, and the loopback HTTP tests
    serve it over a real socket."""
    out = []
    for i in ids:
        gs = [{"name": _GENRES[(i + k) % len(_GENRES)]}
              for k in range((i % 3) + 1)]
        out.append(json.dumps({
            "title": f"Movie {i}",
            "release_date": f"{1950 + (i * _FAKE_SEED) % 70}-01-15",
            "genres": gs,
            "overview": f"Synopsis of movie {i}.",
        }))
    return out


_RETRYABLE_HTTP = {429, 500, 502, 503, 504}


def http_get_json_batch(base_url: str, ids: list[int],
                        timeout_s: float = 10.0) -> list[str]:
    """One REAL batched GET: ``{base_url}?ids=1,2,3`` → JSON array of
    objects, re-serialized one raw string per id. Stdlib urllib — no
    extra deps — and the error split the retry loops rely on: 429/5xx
    and connection-level failures raise TransientFetchError (retry),
    anything else (4xx, malformed body, count mismatch) raises
    permanently. The transport of the registered data source's
    ``mode=http``. Tested against a loopback http.server with injected
    503s (tests/test_enrichment.py), which is exactly the transport a
    production endpoint exercises."""
    import urllib.error
    import urllib.request

    url = f"{base_url}?ids={','.join(map(str, ids))}"
    try:
        with urllib.request.urlopen(url, timeout=timeout_s) as resp:
            body = resp.read()
    except urllib.error.HTTPError as exc:
        if exc.code in _RETRYABLE_HTTP:
            raise TransientFetchError(
                f"HTTP {exc.code} from {base_url}") from exc
        raise
    except urllib.error.URLError as exc:
        raise TransientFetchError(f"connection to {base_url} failed: "
                                  f"{exc.reason}") from exc
    except TimeoutError as exc:
        raise TransientFetchError(
            f"timeout after {timeout_s}s from {base_url}") from exc
    rows = json.loads(body)
    if not isinstance(rows, list) or len(rows) != len(ids):
        raise ValueError(
            f"expected a JSON array of {len(ids)} objects, got "
            f"{type(rows).__name__} of {len(rows) if isinstance(rows, list) else '?'}")
    return [json.dumps(r) for r in rows]


class _IdRange(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo = lo
        self.hi = hi


class RestEnrichmentReader(DataSourceReader):
    def __init__(self, options: dict):
        self.lo = int(options.get("lo", 1))
        self.hi = int(options.get("hi", 101))
        self.num_partitions = int(options.get("num_partitions", 4))
        self.batch_size = int(options.get("batch_size", 64))
        self.mode = options.get("mode", "fake")
        self.retries = int(options.get("retries", 3))
        self.backoff_s = float(options.get("backoff_s", 0.5))
        self.base_url = options.get("base_url", "")
        self.timeout_s = float(options.get("timeout_s", 10.0))
        # fake-mode fault injection: every Nth chunk fails transiently
        # on its first attempt (0 = never)
        self.fail_every = int(options.get("fail_every", 0))
        # option values come from .option(...): reject the ones the
        # chunking and retry loops cannot run with
        for name, lowest in (("batch_size", 1), ("retries", 0),
                             ("fail_every", 0), ("backoff_s", 0)):
            if getattr(self, name) < lowest:
                raise ValueError(f"option {name} must be >= {lowest}, "
                                 f"got {getattr(self, name)}")

    def partitions(self) -> list[InputPartition]:
        """Plan the id space into ranges — fetch parallelism IS the
        partition count, the cluster-scale analogue of the reference's
        single synchronous loop."""
        n = max(1, self.num_partitions)
        total = max(0, self.hi - self.lo)
        step = max(1, -(-total // n))
        return [_IdRange(lo, min(lo + step, self.hi))
                for lo in range(self.lo, self.hi, step)]

    def _fetch(self, chunk: list[int], attempt: int) -> list[str]:
        if self.mode == "http":
            if not self.base_url:
                raise ValueError("mode=http requires base_url")
            return http_get_json_batch(self.base_url, chunk,
                                       self.timeout_s)
        if (self.fail_every and attempt == 0
                and (chunk[0] // self.batch_size) % self.fail_every == 0):
            raise TransientFetchError(
                f"injected transient failure for chunk at {chunk[0]}")
        return _fake_fetch(chunk)

    def _fetch_with_retry(self, chunk: list[int]) -> list[str]:
        last: Exception | None = None
        for attempt in range(self.retries + 1):
            try:
                return self._fetch(chunk, attempt)
            except TransientFetchError as exc:
                last = exc
                if attempt < self.retries:
                    time.sleep(self.backoff_s * (2 ** attempt))
        raise last

    def read(self, partition: _IdRange) -> Iterator[tuple]:
        ids = list(range(partition.lo, partition.hi))
        for i in range(0, len(ids), self.batch_size):
            chunk = ids[i:i + self.batch_size]
            for mid, raw in zip(chunk, self._fetch_with_retry(chunk)):
                yield (mid, raw)


class RestEnrichmentDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rest_enrichment"

    def schema(self) -> str:
        return RAW_SCHEMA

    def reader(self, schema) -> RestEnrichmentReader:
        return RestEnrichmentReader(self.options)

    def simpleStreamReader(self, schema):
        return RestEnrichmentStreamReader(self.options)


def read_enrichment(spark, lo: int, hi: int, num_partitions: int = 8,
                    **options):
    """Register (idempotent) + read + JVM-side JSON shaping: the whole
    S4+S5 pipeline as one call."""
    spark.dataSource.register(RestEnrichmentDataSource)
    r = (spark.read.format("rest_enrichment")
         .option("lo", lo).option("hi", hi)
         .option("num_partitions", num_partitions))
    for k, v in options.items():
        r = r.option(k, v)
    return parse_enrichment(r.load())


def q_rest_enrichment(spark) -> "DataFrame":  # noqa: F821
    """Declared query: the registered source reads ids [1, 501) across
    8 planned partitions with retry-surviving injected transient
    failures (fail_every=2, zero backoff so the test is fast), then
    parse_enrichment shapes the JSON JVM-side. The oracle reproduces
    the deterministic fake payload arithmetic in SQL, so the hash
    check covers source planning, partitioned fetch, the retry loop,
    and the JSON shaping end-to-end."""
    return read_enrichment(spark, 1, 501, num_partitions=8,
                           fail_every=2, backoff_s=0.0)


class RestEnrichmentStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch STREAM variant of the source: the offset is the next
    unfetched id, each batch fetches one block, and Spark's checkpoint
    carries the offset — so a restarted query resumes exactly where it
    stopped and replayed batches re-read the SAME id range
    (``readBetweenOffsets``), the exactly-once contract a polling REST
    ingester needs. ``hi`` caps the id space (an exhausted source
    returns empty batches at a parked offset); the production
    ``mode=http`` hook and the retry loop are shared with the batch
    reader."""

    def __init__(self, options: dict):
        self._r = RestEnrichmentReader(options)
        self.lo = self._r.lo
        self.hi = self._r.hi
        self.block = int(options.get("block", 100))

    def initialOffset(self) -> dict:
        return {"next_id": self.lo}

    def _rows(self, lo: int, hi: int):
        # a pickled-friendly ITERATOR (list iterator), never a raw
        # generator: the simple-reader prefetches rows driver-side and
        # pickles them into the batch plan, and the framework consumes
        # them via next()
        out: list[tuple] = []
        ids = list(range(lo, hi))
        for i in range(0, len(ids), self._r.batch_size):
            chunk = ids[i:i + self._r.batch_size]
            out.extend(zip(chunk, self._r._fetch_with_retry(chunk)))
        return iter(out)

    def read(self, start: dict):
        cur = int(start["next_id"])
        end = min(cur + self.block, self.hi)
        return self._rows(cur, end), {"next_id": max(cur, end)}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(int(start["next_id"]), int(end["next_id"]))

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream checkpoint
