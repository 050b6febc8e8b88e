"""Checkpoints, layout caches and their release — the one place.

The iterative operators (PageRank, HITS, BFS, k-core, label
propagation, FPS coreset, Boruvka MST, connected components) and the
dedup-family operators materialize intermediate state.  Every
checkpoint and every join-key layout cache is made here, and freed
through :func:`release`:

- :func:`checkpoint` — eager ``localCheckpoint``: lineage truncated,
  blocks in the executor BlockManager.  The ONLY caller of
  ``localCheckpoint`` in the package.  Loops rotate their per-round
  state with ``state = checkpoint(step, replacing=state)``: the
  superseded round is freed once the new one is materialized, so at
  most two versions ever hold storage.
- :func:`hash_partitioned` / :func:`layout_cache` — hash-repartition on
  the join key at the session's shuffle-partition count (the ONLY
  reader of ``spark.sql.shuffle.partitions`` in the package), and
  persist that layout.  A checkpoint erases ``outputPartitioning`` in
  Spark 4 (the plan is rebuilt over a bare LogicalRDD); a cached
  InMemoryRelation keeps it, so a loop-invariant table joined every
  round on one key is cached in that key's layout instead.
- :func:`release` — free whatever backs each frame: ``unpersist()``
  for a cached frame, the LogicalRDD blocks for a checkpoint.
- :func:`track` / :func:`release_owned` / :func:`release_all` — caches
  whose lifetime outlives the creating call.

Who frees what: an operator releases every intermediate it created
before returning.  A checkpoint or cache the operator RETURNS (or that
its returned plan reads) belongs to the caller — free it with
``release(result)`` once consumed, or let the next harness-level
:func:`release_all` drop it.  Left alone, its blocks go only when the
JVM ``ContextCleaner`` sees the RDD unreachable, which from PySpark
requires the py4j reference to be collected first.  In a long session
(the 140-query bench, the driver's correctness gate) that is far too
lazy: orphaned blocks accumulate until memory pressure evict-churns
later queries (measured: pagerank sf1 24 s fresh vs ~50 s behind a
session's worth of orphan blocks — the round-7 headline regression).

Safety: a checkpoint whose blocks are dropped cannot be recomputed
(lineage is truncated — that is the point), so :func:`release` is only
correct when the caller guarantees the frame is dead.  Inside the
loops that holds by construction: round *t*'s state is consumed
exactly once, to build the (eagerly materialized) round *t+1*
checkpoint.  Lifecycle hygiene never fails a query: every release
swallows JVM errors.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "checkpoint",
    "hash_partitioned",
    "layout_cache",
    "release",
    "release_all",
    "release_owned",
    "track",
]

#: persist()-ed frames registered by library code whose cache must
#: outlive the registering call (e.g. combine_all's stacked frame,
#: alive until the manager's terminal action) — released at the next
#: harness-level :func:`release_all`.  DataFrame-level unpersist (not
#: just the backing RDD) so the CacheManager entry goes too and later
#: plans stop substituting the dropped InMemoryRelation.
_TRACKED: list[DataFrame] = []

#: per-owner view of ``_TRACKED`` (``id(owner)`` → frames), enabling
#: :func:`release_owned` — the lighter per-manager lever (r10 ADVICE:
#: a long-lived library consumer composing many managers must not
#: depend on the harness-level release_all for cleanup).  Keyed by id
#: with a ``weakref.finalize`` dropping the entry when the owner is
#: collected, so the map itself never grows unboundedly; the frames of
#: a collected-but-unreleased owner stay in ``_TRACKED`` for the next
#: harness boundary, exactly as before.
_OWNED: dict[int, list[DataFrame]] = {}


def track(df: DataFrame, owner: object | None = None) -> DataFrame:
    """Register a persisted frame for the next :func:`release_all`.

    Returns the frame for call-site chaining.  Use for caches created
    inside operator graph construction, where the creator cannot know
    when the terminal action has consumed them.  Pass ``owner`` (the
    object whose lifetime bounds the cache, e.g. the BlockManager the
    frame backs) to additionally enable :func:`release_owned`."""
    _TRACKED.append(df)
    if owner is not None:
        key = id(owner)
        if key not in _OWNED:
            _OWNED[key] = []
            weakref.finalize(owner, _OWNED.pop, key, None)
        _OWNED[key].append(df)
    return df


def release_owned(owner: object) -> None:
    """Unpersist every frame :func:`track`-ed with this ``owner`` and
    drop it from the harness registry.  Safe once the owner is dead
    (its terminal action consumed); idempotent."""
    for df in _OWNED.pop(id(owner), []) or []:
        release(df)
        try:
            _TRACKED.remove(df)
        except ValueError:
            pass


def checkpoint(df: DataFrame, replacing: DataFrame | None = None) -> DataFrame:
    """Eager ``localCheckpoint``; optionally free the superseded round's
    storage (:func:`release`) once the new blocks are materialized."""
    out = df.localCheckpoint(eager=True)
    release(replacing)
    return out


def hash_partitioned(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` hash-repartitioned on ``keys`` at the session's shuffle
    partition count.  An explicit count, not ``repartition(*keys)``:
    AQE never coalesces a fixed-count repartition, so the layout a
    cache captures is the one every later join on the key expects."""
    spark = df.sparkSession
    try:
        part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        part = spark.sparkContext.defaultParallelism
    return df.repartition(part, *keys)


def layout_cache(df: DataFrame, *keys: str) -> DataFrame:
    """Lazily persisted :func:`hash_partitioned` copy of ``df`` — the
    loop-invariant side of a per-round join on ``keys``, joined
    exchange-free from the cache.  Free with :func:`release`."""
    return hash_partitioned(df, *keys).persist()


def release(*dfs: DataFrame | None) -> None:
    """Free the storage behind each frame now, instead of waiting for
    py4j + ContextCleaner garbage collection: ``unpersist()`` for a
    cached frame, the BlockManager blocks for a checkpoint.  ``None``
    and frames backed by neither are no-ops, as is any JVM error."""
    for df in dfs:
        if df is None:
            continue
        try:
            if df.is_cached:
                df.unpersist()
            else:
                # the plan of a checkpointed Dataset is a LogicalRDD; its
                # rdd() accessor is the materialized RDD[InternalRow]
                # holding the blocks
                df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            pass


def release_all(spark: SparkSession) -> None:
    """Unpersist EVERY persistent RDD in the context — checkpoint
    blocks and leaked ``persist()``s alike.  Only safe between
    independent units of work (bench queries, gate rows): afterwards,
    any still-held checkpointed frame is unusable."""
    while _TRACKED:
        release(_TRACKED.pop())
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            try:
                jrdd.unpersist(False)
            except Exception:
                pass
    except Exception:
        pass
