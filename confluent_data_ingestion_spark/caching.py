"""Cache lifecycle for operators that persist shared plan subtrees.

Operators like ``minhash_lsh_pairs(persist_signatures=True)`` persist a
subtree that feeds several branches of one query plan.  Spark gives no hook
for "unpersist after the next action", so the operator can't release its own
cache — a bare ``persist()`` would leak MEMORY_AND_DISK blocks into every
later query of the session (observed pressuring subsequent bench queries).

This registry is the seam: operators ``track()`` what they persist, and the
runtime (bench loop, query registry, or any caller) calls
``release_caches()`` once the consuming action has finished.  Releasing
early is safe — unpersisting a DataFrame that never materialized merely
skips the caching, it never changes results.

Artifacts that outlive one query (indexes, models, layouts shared by
several registry rows of one corpus) go through :class:`SessionArtifact`
instead, which owns their whole lifecycle.
"""

from __future__ import annotations

import functools
import threading

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and register it for release."""
    df.persist()
    _LIVE.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked DataFrame; returns how many were released."""
    n = 0
    while _LIVE:
        _LIVE.pop().unpersist()
        n += 1
    return n


def release_checkpoint(frame: DataFrame) -> None:
    """Free a localCheckpointed DataFrame's RDD blocks (best-effort).

    ``localCheckpoint`` pins its data as persisted RDD blocks that
    ``DataFrame.unpersist`` does NOT release (that path only drops
    cache-manager entries for ``persist()``-ed plans); the blocks stay
    reachable through the checkpointed plan's ``LogicalRDD`` and are
    freed there.  :class:`SessionArtifact` calls this on every frame of
    an entry it evicts.  No-op when ``frame`` was never checkpointed.
    """
    try:
        frame._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # not a LogicalRDD-backed frame — nothing held


def _free(value) -> None:
    """Free the checkpoint blocks an artifact value holds, whatever its
    shape: a frame, a tuple/list or dict of values, or an object that
    owns its blocks (``BM25Index``) through its own ``unpersist()``.
    Scalars, paths and plan-only frames hold no blocks."""
    if isinstance(value, DataFrame):
        release_checkpoint(value)
    elif isinstance(value, dict):
        for v in value.values():
            _free(v)
    elif isinstance(value, (tuple, list)):
        for v in value:
            _free(v)
    elif hasattr(value, "unpersist"):
        value.unpersist()


class SessionArtifact:
    """A build-once artifact shared by the rows of one corpus.

    Decorates ``build(spark, sf_dir, *part) -> value``; calling the
    instance with the same arguments returns the stored value.  One
    policy for every artifact family:

    * **Key** — ``(applicationId, sf_dir, *part)``.  ``part`` is empty
      except for the reader-plan memo, which keys per table so the
      bench's family diff charges each table load to the row that first
      needs it.
    * **One corpus at a time** — a miss first evicts every entry of
      another ``(applicationId, sf_dir)`` and frees its checkpoint
      blocks, then builds.  Without the free, ``localCheckpoint`` blocks
      (which ``DataFrame.unpersist`` never releases) leak block-manager
      memory on every sf_dir switch.
    * **Store on success** — the value is stored only once ``build``
      returns, so a build that raises leaves no entry and the next call
      rebuilds.
    * **Freeing** — :func:`_free` walks the value's shape; artifacts
      keep whatever ``localCheckpoint`` mode their builder chose.  Files
      a build wrote (the skip-scan layout) stay in place; a rebuild
      overwrites them.

    :meth:`release` evicts and frees every entry.  The bench calls it,
    through ``release_artifact_families``, on what a row's first timing
    run built before that row's rerun: otherwise the rerun serves the
    cache and the build cost lands in no row.

    Each instance serializes its lookups and builds under its own lock,
    so a builder on a second driver thread never races the main thread.
    A build only calls the artifacts it depends on, which form a DAG,
    so nested locks cannot deadlock.
    """

    def __init__(self, build):
        functools.update_wrapper(self, build)
        self._build = build
        self._entries: dict[tuple, object] = {}
        self._lock = threading.Lock()

    def __call__(self, spark, sf_dir: str, *part):
        corpus = (spark.sparkContext.applicationId, sf_dir)
        key = corpus + part
        with self._lock:
            if key not in self._entries:
                for k in [k for k in self._entries if k[:2] != corpus]:
                    _free(self._entries.pop(k))
                self._entries[key] = self._build(spark, sf_dir, *part)
            return self._entries[key]

    def keys(self) -> frozenset:
        with self._lock:
            return frozenset(self._entries)

    def release(self) -> None:
        with self._lock:
            while self._entries:
                _free(self._entries.popitem()[1])
