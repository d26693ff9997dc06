"""Pin lifecycle: the one way a frame is pinned and released.

The pin rule:

- A frame that is read at least twice, by actions that all finish
  inside the operator, gets ``with pinned(df):``. The pin is released
  when the block exits, also when the body raises.
- A frame that the returned result or a later loop round reads, or
  whose values must stay frozen (for example a
  ``monotonically_increasing_id`` column), gets ``localCheckpoint()``.
  It is freed by :func:`unpersist_local_checkpoint` once superseded;
  otherwise the ContextCleaner frees it along with the result.
- Nothing calls ``.persist()`` or ``.cache()`` directly. The one
  exception is ``registry/pipeline_docs.py:q2_min_cost_supplier``,
  whose plan test reads the pushed-down lineage under its cache.

Whether a pin pays at all is :func:`upstream_is_expensive`: for a
plain pruned file scan, re-scanning is cheaper than a cache fill.

``DataFrame.localCheckpoint()`` persists the physical plan's RDD at
the RDD level (``rdd.persist`` + materialize) and wraps it in a
``LogicalRDD`` plan. ``DataFrame.unpersist()`` only talks to the SQL
CacheManager, so it is a **silent no-op** for checkpointed frames —
an iterative operator that checkpoints per round (PageRank, hash-min
connected components, Lloyd's) would pin one copy of its state in
executor storage per iteration until the JVM's ContextCleaner happens
to notice the weak reference die. At a 100 TB state size that
nondeterminism is an OOM, not a nuisance.

:func:`unpersist_local_checkpoint` releases the blocks
deterministically by unpersisting the ``LogicalRDD``'s underlying RDD
itself. Callers drop a superseded iteration's checkpoint as soon as
the next one has materialized.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

__all__ = ["pinned", "unpersist_local_checkpoint", "upstream_is_expensive"]

# analyzed-plan node names whose recomputation costs more than a
# cache fill: shuffles, row-multiplying operators and python stages
_EXPENSIVE_TAGS = (
    "Join", "Aggregate", "Window", "Generate", "Expand", "Union",
    "Deduplicate", "Intersect", "Except",
    "MapInPandas", "FlatMapGroupsInPandas", "MapGroups", "PythonUDF")


@contextmanager
def pinned(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` at ``DataFrame.persist()``'s default level for
    the ``with`` block and unpersist it on exit, including when the
    body raises. Yields ``df`` itself (persist pins in place)."""
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def upstream_is_expensive(df: DataFrame) -> bool:
    """True when ``df``'s analyzed plan holds a join, aggregate,
    window, set operation or python stage, so replaying it per read
    costs more than one pin. Probes the ANALYZED plan, which was built
    eagerly with the DataFrame, so the check runs no optimizer."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return any(t in plan for t in _EXPENSIVE_TAGS)


def unpersist_local_checkpoint(df: DataFrame, blocking: bool = False) -> bool:
    """Free the storage blocks behind a ``df.localCheckpoint()``
    result. Returns True if a checkpointed RDD was found and
    unpersisted; False for non-checkpoint frames (best-effort — the
    ContextCleaner remains the fallback). The frame must not be used
    again afterwards: its lineage was truncated at the checkpoint, so
    the data is unrecoverable by design."""
    try:
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        plan.rdd().unpersist(blocking)
        return True
    except Exception:
        return False  # py4j surface changed: leave it to ContextCleaner
