"""Explicit release of localCheckpoint storage (guide §5: unpersist when
done).

``DataFrame.localCheckpoint`` persists the computed rows (MEMORY_AND_DISK)
and truncates lineage — the data afterwards lives ONLY in those blocks, so
Spark itself can never free them while the wrapping DataFrame is
reachable, and Python/JVM GC reclaims them lazily, long after the operator
returned.  Iterative operators (pagerank, connected components, LPA,
k-core, BPE, Lloyd) replace their state checkpoint every iteration: the
superseded checkpoints are garbage the moment the new one is materialized,
but without an explicit unpersist they pin executor memory for the rest of
the session — at gen-SF scale the leaked label/shingle tables measured in
the hundreds of MB per query, and the deferred ContextCleaner work was
billed to whatever query ran next.

SAFETY CONTRACT: only release a checkpoint that no still-live plan
references.  A released checkpoint cannot be recomputed (its lineage is
gone) — any later action on a plan that references it fails.  The loop
pattern "new state fully replaces old state" satisfies the contract for
every superseded iteration; the FINAL state (or any checkpoint a returned
lazy plan still reads) must NOT be released.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)

# RDD ids of width-guard pins (width.ensure_min_partitions registers each
# pin here at creation).  A pinned widened scan is the one checkpoint
# DESIGNED to be shared across consumers, so :func:`release_checkpoint`
# must never free it as a stray leaf of some caller's plan — a released
# checkpoint cannot be recomputed (lineage is gone), so a mistaken release
# of a shared leaf fails every other consumer unrecoverably instead of
# just recomputing (r12 ADVICE).  Ids are per-SparkContext and
# monotonically increasing (never reused), so a plain set is safe; it is
# cleared by :func:`release_width_pins`.
_WIDTH_PINS: set[int] = set()


def register_width_pin(rdd_id: int) -> None:
    """Record a width-guard pin's RDD id (called by width.py at creation)."""
    _WIDTH_PINS.add(rdd_id)


def release_checkpoint(df: DataFrame) -> None:
    """Unpersist every localCheckpoint RDD in ``df``'s analyzed plan.

    Walks the plan's leaves and unpersists each ``LogicalRDD`` (the node
    ``localCheckpoint`` leaves behind) — EXCEPT width-guard pins
    (:data:`_WIDTH_PINS`), which are shared-by-design across consumers and
    released only via :func:`release_width_pins`.  Non-blocking; plans with
    no checkpointed leaves are a no-op.  Never raises — releasing storage
    is an optimization, not a correctness step, so a py4j hiccup is logged
    as a warning instead of failing the operator.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                rdd = leaf.rdd()
                if rdd.id() not in _WIDTH_PINS:
                    rdd.unpersist(False)
    except Exception:
        _log.warning("release_checkpoint failed", exc_info=True)


def release_width_pins(spark: SparkSession) -> None:
    """Session-level release hook for width-guard pins (r12 ADVICE: the
    pins otherwise have no release path outside bench.py's stray-block
    sweep — a long-lived library session running narrow-input queries
    would accumulate pinned MEMORY_AND_DISK blocks unboundedly).  Call it
    between logical units of work, after the results that read the pinned
    scans have been materialized; any pin a still-lazy plan references
    would have to be recomputed-from-nothing and fail, same contract as
    :func:`release_checkpoint`.  Never raises; a failure is logged as a
    warning."""
    try:
        jsc = spark.sparkContext._jsc.sc()
        it = jsc.getPersistentRDDs().iterator()
        rdds = []
        while it.hasNext():
            rdds.append(it.next()._2())
        for rdd in rdds:
            if rdd.id() in _WIDTH_PINS:
                rdd.unpersist(False)
    except Exception:
        _log.warning("release_width_pins failed", exc_info=True)
    _WIDTH_PINS.clear()
