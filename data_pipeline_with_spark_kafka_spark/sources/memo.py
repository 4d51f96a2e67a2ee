"""One session-scoped memo for artifacts built from a DataFrame.

Iterative operators train a small artifact at DataFrame build time (BPE
merges, logistic-regression weights, k-means centroids, SQ8/DSIR
statistics, the Bloom word vector, the max-block probe). Training is
deterministic in its input, so a repeat build over the same input returns
the stored artifact instead of re-running the jobs. ``memoized`` derives
the key from content, never from a path string:

- the function's qualified name and its parameters;
- the input DataFrame's ``semanticHash`` (the analyzed plan with exprIds
  normalized; a re-read of the same path hashes the same);
- the ``(count, bytes, max mtime_ns)`` stat fingerprint of
  ``df.inputFiles()``, so rewriting the data under a path is a miss.

A plan over in-memory rows (``LogicalRDD``) hashes by RDD identity, so it
can only hit for the same object. A hash hit is confirmed with
``sameSemantics``. Inputs on a non-local filesystem are not memoized.
Entries live on the ``SparkSession`` (stopping it drops them), at most
``CAPACITY``, least recently used evicted first.
"""

from __future__ import annotations

import functools
import inspect
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

CAPACITY = 64


def _store(spark: SparkSession) -> dict:
    store = getattr(spark, "_graft_memo", None)
    if store is None:
        store = spark._graft_memo = {}
    return store


def clear(spark: SparkSession) -> None:
    _store(spark).clear()


def stat_fingerprint(paths: list[str]) -> tuple[int, int, int]:
    """``(file count, total bytes, max mtime_ns)`` of local files."""
    stats = [os.stat(p) for p in paths]
    return len(stats), sum(s.st_size for s in stats), max((s.st_mtime_ns for s in stats), default=0)


def _input_fingerprint(df: DataFrame) -> tuple[int, int, int] | None:
    uris = [urlparse(u) for u in df.inputFiles()]
    if any(u.scheme not in ("", "file") for u in uris):
        return None
    try:
        return stat_fingerprint([u.path for u in uris])
    except OSError:
        return None


def memoized(fn):
    """Memoize ``fn(first, *args, **kwargs)`` on the session. ``first`` is
    the input DataFrame, or a SparkSession when the parameters alone pin
    the content (the caller passes a fingerprint among them)."""
    name = f"{fn.__module__}.{fn.__qualname__}"
    signature = inspect.signature(fn)

    @functools.wraps(fn)
    def wrapper(first, *args, **kwargs):
        # Bound with defaults applied, so positional, keyword and defaulted
        # spellings of one call share a key.
        bound = signature.bind(first, *args, **kwargs)
        bound.apply_defaults()
        key = (name, repr(list(bound.arguments.items())[1:]))
        if isinstance(first, SparkSession):
            spark, df = first, None
        else:
            files = _input_fingerprint(first)
            if files is None:
                return fn(first, *args, **kwargs)
            spark, df = first.sparkSession, first
            key += (first._jdf.queryExecution().analyzed().semanticHash(), files)
        store = _store(spark)
        hit = store.pop(key, None)  # re-inserted below: most recent last
        if hit is None or (df is not None and not hit[0].sameSemantics(df)):
            hit = (df, fn(first, *args, **kwargs))
            while len(store) >= CAPACITY:
                store.pop(next(iter(store)))
        store[key] = hit
        return hit[1]

    return wrapper
