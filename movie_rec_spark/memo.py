"""The library's one memo, for parquet schemas and row counts and the
persisted IVF and SemDeDup fits. A key is the source's fingerprint plus
a params tuple naming the call site. A table path, or a DataFrame with
input files, is fingerprinted by each file's local (path, size,
mtime_ns), so a table rewritten in place is read afresh. A DataFrame
with no input files is keyed by ``id()`` and pinned by its entry. At
most ``MAX_ENTRIES`` entries are kept (LRU); evicting or clearing an
entry unpersists the DataFrames in its value.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import Any, Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

MAX_ENTRIES = 64

_entries: OrderedDict[tuple, tuple[Any, Any]] = OrderedDict()
_lock = threading.Lock()


def part_files(path: str) -> list[str]:
    """The parquet files of a table: ``path`` itself, or the sorted part
    files of a directory-shaped table (anything Spark wrote)."""
    if not os.path.isdir(path):
        return [path]
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet") and not f.startswith((".", "_")))


def _fingerprint(source: str | DataFrame) -> tuple:
    if isinstance(source, DataFrame):
        files = [unquote(urlparse(u).path) for u in source.inputFiles()]
        if not files:
            return ("obj", id(source))
    else:
        # an empty table directory is keyed by the directory itself
        files = part_files(source) or [source]
    stats = [(f, os.stat(f)) for f in sorted(files)]
    return tuple((f, st.st_size, st.st_mtime_ns) for f, st in stats)


def _unpersist(values: list) -> None:
    for value in values:
        for v in value if isinstance(value, tuple) else (value,):
            if isinstance(v, DataFrame):
                v.unpersist()


def lookup(source: str | DataFrame, params: tuple,
           build: Callable[[], Any]) -> Any:
    """``build()``'s value for ``source`` and ``params``, memoized. A
    miss builds outside the lock (a fit runs Spark jobs)."""
    key = (_fingerprint(source), params)
    with _lock:
        if key in _entries:
            _entries.move_to_end(key)
            return _entries[key][0]
    value = build()
    dropped = []
    with _lock:
        if key in _entries:  # a concurrent build of this key won
            dropped.append(value)
            value = _entries[key][0]
        else:
            _entries[key] = (value, source)
            while len(_entries) > MAX_ENTRIES:
                dropped.append(_entries.popitem(last=False)[1][0])
    _unpersist(dropped)
    return value


def clear() -> None:
    """Drop every entry, unpersisting the DataFrames it holds."""
    with _lock:
        dropped = [value for value, _ in _entries.values()]
        _entries.clear()
    _unpersist(dropped)
