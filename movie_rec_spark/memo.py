"""The library's one memo, for the catalog's table frames and row
counts, the persisted IVF and SemDeDup fits, and serving's held answers
and per-user indexes. A key is the source's fingerprint plus a params
tuple naming the call site. A table path is fingerprinted by each
file's local (path, size, mtime_ns), so a table rewritten in place is
read afresh.
A DataFrame with input files is keyed by those files plus its plan's
``semanticHash()``, and a hit must also pass ``sameSemantics`` against
the stored source (skipped when it is the stored object), so a
transformed frame over the same files never gets another frame's
value. Both are fixed when the frame is built, so the (files, hash)
pair is computed over Py4J once per frame object and kept in its
``__dict__``: a later lookup with the same object costs an ``os.stat``
per file. A DataFrame with no input files is keyed
by ``id()`` and pinned by its entry. A tuple of sources is keyed by
each in turn. At most ``MAX_ENTRIES`` entries are kept, holding at
most ``MAX_BYTES`` of driver memory in Arrow tables and numpy arrays
(``nbytes``; a DataFrame's blocks live on the executors and count 0):
the least recently used entries go first, but never the one just
added. Evicting or clearing an entry releases the DataFrames in its
value, cached or ``localCheckpoint``-ed. A released checkpoint cannot
be recomputed, so a frame built over a memoized checkpoint is
collected before later lookups can evict it.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import Any, Callable
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

MAX_ENTRIES = 64
MAX_BYTES = 512 << 20

# key -> (value, source, the value's driver bytes)
_entries: OrderedDict[tuple, tuple[Any, Any, int]] = OrderedDict()
_held = 0  # sum of the entries' driver bytes
_lock = threading.Lock()


def part_files(path: str) -> list[str]:
    """The parquet files of a table: ``path`` itself, or the sorted part
    files of a directory-shaped table (anything Spark wrote)."""
    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet") and not f.startswith((".", "_")))


def _fingerprint(source) -> tuple:
    if isinstance(source, tuple):
        return tuple(_fingerprint(s) for s in source)
    plan = ()
    if isinstance(source, DataFrame):
        # __dict__: DataFrame.__getattr__ resolves column names over Py4J
        known = source.__dict__.get("_memo_files_plan")
        if known is None:
            files = [unquote(urlparse(u).path) for u in source.inputFiles()]
            known = (files, (source.semanticHash(),) if files else ())
            source.__dict__["_memo_files_plan"] = known
        files, plan = known
        if not files:
            return ("obj", id(source))
    else:
        # an empty table directory is keyed by the directory itself
        files = part_files(source) or [source]
    stats = [(f, os.stat(f)) for f in sorted(files)]
    return tuple((f, st.st_size, st.st_mtime_ns) for f, st in stats) + plan


def _same(source, stored) -> bool:
    """Whether ``stored``, the source an entry was built for, computes
    what ``source`` computes (a matching key is only a hash)."""
    if isinstance(source, tuple):
        return all(_same(s, t) for s, t in zip(source, stored))
    if isinstance(source, DataFrame) and source is not stored:
        return source.sameSemantics(stored)
    return True


def _release(df: DataFrame) -> None:
    """Free ``df``'s blocks. ``unpersist`` only drops a cached plan; a
    ``localCheckpoint`` frame's blocks belong to the RDD under its plan."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def _nbytes(value) -> int:
    """Driver bytes of the Arrow tables and numpy arrays in ``value``."""
    return sum(v.nbytes for v in (value if isinstance(value, tuple)
                                  else (value,))
               if isinstance(v, (pa.Table, np.ndarray)))


def _unpersist(values: list) -> None:
    for value in values:
        for v in value if isinstance(value, tuple) else (value,):
            if isinstance(v, DataFrame):
                _release(v)


def lookup(source: str | DataFrame | tuple, params: tuple,
           build: Callable[[], Any]) -> Any:
    """``build()``'s value for ``source`` and ``params``, memoized. A
    miss builds outside the lock (a fit runs Spark jobs). A key whose
    entry fails the semantic check (a hash collision) is rebuilt and
    replaces that entry."""
    global _held
    key = (_fingerprint(source), params)
    with _lock:
        entry = _entries.get(key)
        if entry is not None:
            _entries.move_to_end(key)
    if entry is not None and _same(source, entry[1]):
        return entry[0]
    value = build()
    size = _nbytes(value)
    dropped = []
    with _lock:
        entry = _entries.get(key)
        if entry is not None and _same(source, entry[1]):
            # a concurrent build of this key won
            dropped.append(value)
            value = entry[0]
        else:
            if entry is not None:
                dropped.append(entry[0])
                _held -= entry[2]
            _entries[key] = (value, source, size)
            _entries.move_to_end(key)
            _held += size
            while len(_entries) > MAX_ENTRIES or (
                    _held > MAX_BYTES and len(_entries) > 1):
                old, _, n = _entries.popitem(last=False)[1]
                dropped.append(old)
                _held -= n
    _unpersist(dropped)
    return value


def clear() -> None:
    """Drop every entry, releasing the DataFrames it holds."""
    global _held
    with _lock:
        dropped = [value for value, _, _ in _entries.values()]
        _entries.clear()
        _held = 0
    _unpersist(dropped)
