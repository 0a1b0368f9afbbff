"""Session-scoped cache bookkeeping.

Multi-consumer queries (dedup_minhash_lsh, the clustering loop)
persist() intermediates that feed the lazy DataFrame they return, so
they cannot unpersist at build time — the data is read when the
caller finally materializes the result. Persisting without a release
path leaks executor memory when many queries run in one long-lived
session (exactly the 1000-executor service shape).

Contract: builders persist through `tracked_persist` and truncate
lineage through `barrier` (localCheckpoint plus registration of its
blocks, which DataFrame.unpersist cannot reach); an iterative loop
frees the barrier it replaces with `free_barrier` once the
replacement is materialized. Whoever materializes the result calls
`release_cached(spark)` afterwards (bench.py does this between
headline queries; tests assert the persistent-RDD map is empty after
release). Release only touches what the framework registered for the
calling session — a caller's own persisted DataFrames, or another
consumer's in-flight caches in the same process, are never swept
(a barrier truncates lineage, so unpersisting someone else's
checkpoint blocks would make their DataFrame unrecomputable). The old
whole-session sweep remains available behind sweep_all=True for
teardown paths.
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import DataFrame, SparkSession

_LOCK = threading.Lock()
# keyed by id(SparkSession): each session's tracked caches are
# independent, and concurrent builders in other sessions (or threads
# releasing for a different session) never interleave.
# _TRACKED is safe against id() reuse by construction: its DataFrames
# hold a strong reference to their session, so the session cannot be
# GC'd (and its id() recycled) while entries exist. _TRACKED_RDD_IDS
# holds only ints, so each entry carries a weakref to the session it
# was registered for — if a new session object ever reuses a GC'd
# session's id(), the dead weakref exposes the entry as stale and its
# RDD ids are dropped instead of being "freed" on the wrong session
# (which would unpersist the new session's small-id RDDs, including
# localCheckpoint blocks, making their DataFrames unrecomputable).
_TRACKED: dict[int, list[DataFrame]] = {}
_TRACKED_RDD_IDS: dict[int, tuple[weakref.ref, set[int]]] = {}
# the block ids each live barrier registered, for free_barrier
_BARRIER_IDS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() a DataFrame and register it for later release."""
    df.persist()
    with _LOCK:
        _TRACKED.setdefault(id(df.sparkSession), []).append(df)
    return df


def barrier(df: DataFrame, eager: bool) -> DataFrame:
    """localCheckpoint `df` and register its blocks for release_cached.
    Spark persists the checkpoint RDD when localCheckpoint is called,
    lazy or eager, so the new ids are known at once."""
    spark = df.sparkSession
    before = persistent_rdd_ids(spark)
    out = df.localCheckpoint(eager=eager)
    ids = persistent_rdd_ids(spark) - before
    with _LOCK:
        entry = _TRACKED_RDD_IDS.get(id(spark))
        if entry is None or entry[0]() is not spark:
            # fresh session, or a stale entry from a GC'd session whose
            # id() this session happens to reuse — never inherit it
            _TRACKED_RDD_IDS[id(spark)] = (weakref.ref(spark), set(ids))
        else:
            entry[1].update(ids)
        _BARRIER_IDS[out] = ids
    return out


def free_barrier(df: DataFrame) -> None:
    """Free the blocks of a barrier that a later one replaced (no-op for
    any other DataFrame). The blocks are `df`'s only copy: call this
    only after the replacement has been materialized."""
    spark = df.sparkSession
    with _LOCK:
        ids = _BARRIER_IDS.pop(df, set())
        entry = _TRACKED_RDD_IDS.get(id(spark))
        if entry is not None and entry[0]() is spark:
            entry[1].difference_update(ids)
    free_rdd_ids(spark, ids)


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every currently-persisted RDD (includes localCheckpoint
    block RDDs, which the SQL cache manager does not track)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    it = jmap.keySet().iterator()
    ids: set[int] = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def free_rdd_ids(spark: SparkSession, ids: set[int], blocking: bool = False) -> None:
    """Unpersist specific RDDs by id (e.g. a superseded iteration's
    localCheckpoint blocks)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist(blocking)


def release_cached(
    spark: SparkSession | None = None, sweep_all: bool = False, include_rdd_ids: bool = True
) -> int:
    """Unpersist the framework-tracked DataFrames and checkpoint
    blocks. With a session, releases only that session's entries;
    without one, releases every session's tracked entries (teardown).
    sweep_all=True additionally unpersists EVERY persistent RDD in the
    session — only safe when the caller owns the whole session (e.g. a
    dedicated bench/test process). include_rdd_ids=False skips the
    registered checkpoint blocks: unpersisting a plain cache merely
    forces recompute, but freeing a localCheckpoint makes its
    DataFrame unrecomputable, so pre-emptive releases (the registry's
    build wrapper) must leave checkpoints for an explicit release.
    Returns the number of tracked DataFrames released."""
    # (session weakref, ids) pairs to free — resolved per-entry so the
    # no-session teardown path frees each id set on the session that
    # registered it (entries whose session is already GC'd are dropped:
    # a dead session's blocks die with its JVM-side context, and
    # "freeing" them via an id-reusing new session would hit the wrong
    # RDDs)
    to_free: list[tuple[SparkSession, set[int]]] = []
    with _LOCK:
        if spark is None:
            dfs = [df for lst in _TRACKED.values() for df in lst]
            _TRACKED.clear()
            if include_rdd_ids:
                for ref, ids in _TRACKED_RDD_IDS.values():
                    s = ref()
                    if s is not None:
                        to_free.append((s, ids))
                _TRACKED_RDD_IDS.clear()
        else:
            dfs = _TRACKED.pop(id(spark), [])
            if include_rdd_ids:
                entry = _TRACKED_RDD_IDS.pop(id(spark), None)
                # guard against id() reuse: only free ids registered
                # for THIS session object
                if entry is not None and entry[0]() is spark:
                    to_free.append((spark, entry[1]))
    n = len(dfs)
    for df in dfs:
        try:
            df.unpersist()
        except Exception:
            pass  # session may already be stopped
    for s, ids in to_free:
        try:
            free_rdd_ids(s, ids)
        except Exception:
            pass
    if spark is not None and sweep_all:
        try:
            free_rdd_ids(spark, persistent_rdd_ids(spark))
        except Exception:
            pass
    return n
