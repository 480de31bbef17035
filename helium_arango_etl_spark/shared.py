"""Session-shared tables: the one registry behind every per-session memo.

A resident engine materializes some intermediate tables once per corpus
snapshot and lets every consumer in the session read them: the witness
edges and their co-witness projections, the combined city metrics, the
prepared embeddings and fitted centroids, the dedup signatures, the
tokenized corpus, the exact-demo guard stats and the identity salts.

Entries are keyed per session on ``(name, sf_dir)`` and carry a
fingerprint of the corpus directory: ``(path, size, mtime_ns)`` of every
file under ``sf_dir``, so the part files of Spark-written table
directories count too.  Pure ``os.stat``, no Spark job.  A corpus
rewritten in place at the same path therefore rebuilds its tables on the
next lookup instead of serving stale rows to a long-lived session, while
an unchanged corpus keeps them however often it is read.  ``sf_dir=None``
marks a value that does not depend on any corpus; so, in effect, does a
path ``os.walk`` cannot list (a remote URI), whose entries never expire.

Names are ``family/member`` paths (``witness/edges``, ``emb/kmeans``,
``tok``); :func:`clear` drops whole families.  The registry is a
``WeakKeyDictionary`` so a closed session's entries die with it.
"""

from __future__ import annotations

import os
import weakref
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_TABLES: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _fingerprint(sf_dir: str | None) -> tuple:
    if sf_dir is None:
        return ()
    parts = []
    for root, dirs, files in os.walk(sf_dir):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(root, f)
            try:
                st = os.stat(path)
            except OSError:  # removed between listing and stat
                continue
            parts.append((path, st.st_size, st.st_mtime_ns))
    return tuple(parts)


def _release(value: Any) -> None:
    if isinstance(value, DataFrame):
        value.unpersist(blocking=True)


def table(spark: SparkSession, name: str, sf_dir: str | None, build: Callable[[], Any]) -> Any:
    """The session's ``name`` value for the corpus at ``sf_dir``.

    Returns the same object while the corpus fingerprint is unchanged;
    otherwise releases the old value and stores ``build()``.  Builders
    persist (or not) themselves."""
    entries = _TABLES.setdefault(spark, {})
    key = (name, sf_dir)
    fp = _fingerprint(sf_dir)
    hit = entries.get(key)
    if hit is not None:
        if hit[0] == fp:
            return hit[1]
        del entries[key]
        _release(hit[1])
    value = build()
    entries[key] = (fp, value)
    return value


def clear(spark: SparkSession, *families: str) -> None:
    """Drop (and unpersist) the session's entries named ``family`` or
    ``family/...``; every entry when no family is given."""
    entries = _TABLES.get(spark)
    if not entries:
        return
    for key in list(entries):
        name = key[0]
        if not families or any(name == f or name.startswith(f + "/") for f in families):
            _release(entries.pop(key)[1])
