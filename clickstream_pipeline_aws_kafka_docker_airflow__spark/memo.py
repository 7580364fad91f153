"""Driver-side memo: one bounded LRU for every value derived from data.

A DataFrame is an immutable logical plan and a collected slice is a
plain driver value, so handing the same object to every consumer is
semantically free; what the memo saves is the driver work that would
otherwise recur once per query: datasource resolution (file listing,
footer/schema read) for tables and artifacts, and the bounded collects
(query-vector slices, quantile cuts, PCA components, quantizers).

Key rule: every key starts with the SparkContext's ``applicationId``
(unique per context, so a restarted session never sees a stopped one's
entries) and the identity of the DATA behind the value, not just of
the plan: per-file (path, mtime_ns, size). A parquet rewritten in place
is a different key, so the memo misses instead of serving stale rows.
``frame_key`` / ``file_key`` return None when the data has no local
identity (no file lineage, a remote store, an un-stat-able file); None
means "compute, don't memoize", and it is the only such signal. Any
other error while building a key propagates.

Entries are keyed by ``(kind, key)``; ``kind`` names the call site, so
hit/miss counts are per kind and a site's keys never meet another's.
"""

from __future__ import annotations

import os
from collections import Counter, OrderedDict
from collections.abc import Callable
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

#: Entries kept across all kinds. A full-registry round holds 38
#: entries per dataset (docs/architecture.md § "Driver-side memo"), so
#: four datasets' rounds fit in one session before anything is evicted.
CAPACITY = 160


class Memo:
    """LRU store of ``(kind, key) -> value`` with per-kind hit/miss
    counts. A miss is every call that computes, including calls whose
    key is None."""

    def __init__(self, capacity: int) -> None:
        self.capacity = capacity
        self._store: OrderedDict[tuple, object] = OrderedDict()
        self.hits: Counter[str] = Counter()
        self.misses: Counter[str] = Counter()

    def get(self, kind: str, key: tuple | None, compute: Callable[[], object]):
        if key is not None:
            k = (kind, key)
            if k in self._store:
                self._store.move_to_end(k)
                self.hits[kind] += 1
                return self._store[k]
        self.misses[kind] += 1
        value = compute()
        if key is not None:
            self._store[k] = value
            while len(self._store) > self.capacity:
                self._store.popitem(last=False)
        return value

    def entries(self, kind: str) -> list:
        """Live values of one kind, oldest first."""
        return [v for (k, _), v in self._store.items() if k == kind]

    def __len__(self) -> int:
        return len(self._store)


MEMO = Memo(CAPACITY)


def _source_fingerprint(df: DataFrame) -> tuple | None:
    """(path, mtime_ns, size) per input file of ``df``'s plan, sorted,
    or None when any file has no local identity. ``inputFiles`` yields
    Hadoop-style URIs (``file:/p``, ``file:///p``, ``s3a://b/p``); only
    local files are stat-able, and a constant sentinel for the rest
    would make two snapshots fingerprint-equal."""
    out = []
    for f in sorted(df.inputFiles()):
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None
        p = u.path or f
        try:
            st = os.stat(p)
        except OSError:
            return None
        out.append((p, st.st_mtime_ns, st.st_size))
    return tuple(out)


def frame_key(df: DataFrame) -> tuple | None:
    """(applicationId, plan ``semanticHash``, source fingerprint), or
    None when the plan reads no files (``createDataFrame``, a
    persisted or checkpointed frame) or a file cannot be stat'ed."""
    fp = _source_fingerprint(df)
    if not fp:
        return None
    return (df.sparkSession.sparkContext.applicationId, df.semanticHash(), fp)


def file_key(spark: SparkSession, path: str) -> tuple | None:
    """(applicationId, abspath, mtime_ns, size) of one local path, or
    None when it cannot be stat'ed."""
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (spark.sparkContext.applicationId, path, st.st_mtime_ns, st.st_size)
