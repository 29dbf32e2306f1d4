"""Materialization barriers: the checkpoint barrier the pair-similarity
operators cut their plans with, and the cache seal the production DAGs
(pipeline.validate, curate.curate, tools/run_pipeline.py) put before every
multi-consumer tail, together with the one owner of the caches it creates.

Why a checkpoint barrier: textstats.jaccard_pairs_prefix_filtered and
simsearch.lsh_neardup_pairs need a hard plan boundary — without one,
Catalyst pushes isnotnull filters through the expensive array-building
projection and re-evaluates an O(|words|²)-per-doc expression at the scan
(measured 18.6s vs 1.5s at sf0.1; see the call sites).

Why two checkpoint flavors: localCheckpoint() stores blocks only on
executors with lineage TRUNCATED — if an executor holding blocks dies (spot
kill, dynamic deallocation, speculative-execution cleanup), the job fails
permanently instead of recomputing. On a real cluster, set a RELIABLE
checkpoint dir (`spark.sparkContext.setCheckpointDir('hdfs://...')`) and
`barrier` transparently switches to checkpoint(), which survives executor
loss; the sandbox (single resident JVM, no executor churn) uses
localCheckpoint and avoids the disk round-trip.

Why a cache seal: a frame read by several consumers that Spark launches
CONCURRENTLY (broadcast exchanges run on separate scheduler threads) is
recomputed by each of them against a cold cache — event logs showed 4
identical 12s enrich stages running side by side. `seal` persists the frame
and fills the cache with a NOOP-format write: every partition is computed
without count()'s extra aggregation stage or its driver-side collect —
nothing flows back but task-completion events (r03 VERDICT #6). Unlike a
checkpoint the lineage stays, so a lost block is recomputed.

Cache lifetime: `seal` requires an owner list and `owned_caches` is the one
way callers create and release it — every frame sealed inside the with-block
is unpersisted on every way out, raised or returned. A caller that runs the
DAGs repeatedly in one session (a foreachBatch epoch loop, a query the bench
evaluates several times, a CLI main() called in-process) therefore never
pins a previous call's cache, nor is served its rows for a later call over
the same input path.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


def barrier(df: DataFrame) -> DataFrame:
    """Eagerly materialize df behind a plan boundary.

    Uses a RELIABLE checkpoint when the session has a checkpoint dir
    (fault-tolerant: blocks recomputable from the checkpoint files), else
    an executor-local checkpoint (sandbox fast path)."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def seal(df: DataFrame, owner: list) -> DataFrame:
    """Persist df, fill the cache with a noop write, hand the cached frame
    to `owner` (an `owned_caches` list) and return it."""
    df = df.persist()
    owner.append(df)
    df.write.format("noop").mode("overwrite").save()
    return df


@contextmanager
def owned_caches() -> Iterator[list]:
    """Yield an owner list; every frame in it is unpersisted when the block
    exits, however it exits."""
    owner: list = []
    try:
        yield owner
    finally:
        for df in owner:
            df.unpersist()
