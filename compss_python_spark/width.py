"""Partition-width guard for CPU-heavy narrow stages.

A small parquet file (one row group) arrives as ONE input split, so a
compute-dense narrow stage downstream — MinHash signatures, SimHash,
quality scoring, regex redaction — runs on a single core no matter how
many the session has.  At production scale inputs are already hundreds of
splits wide and this helper is a no-op; it only pays a (cheap, input-sized)
round-robin shuffle when the scan is narrower than the session's
parallelism AND the caller declares the downstream stage is expensive
enough to amortize it.  This mirrors Spark's own
``spark.sql.files.minPartitionNum`` intent, which cannot help here because
a single parquet row group is not splittable.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)


def ensure_min_partitions(
    df: DataFrame,
    target: int | None = None,
    input_partitions: int | None = None,
    pin: bool = True,
) -> DataFrame:
    """Round-robin repartition ``df`` up to ``target`` partitions (default:
    the session's scheduler parallelism) iff it is currently narrower.

    Width is taken from the ``input_partitions`` hint when the caller knows
    it (production jobs reading hundreds of splits should pass any number
    ≥ the session parallelism to skip the probe entirely — by the guard's
    own argument it is a no-op there, and the probe is the only cost).
    Without the hint, ``df.rdd.getNumPartitions()`` is consulted: physical
    planning but no job.  Returns ``df`` unchanged when already wide
    enough, so at-scale inputs never pay a shuffle.

    ``pin`` (default True): when the widening shuffle DOES fire, the result
    is additionally lazily ``localCheckpoint``-ed.  Without the barrier,
    Catalyst pushes deterministic filters back DOWN through the round-robin
    exchange, so the expensive predicate the caller is widening FOR (the
    quality-regex filter, tokenize-dense dedup keys) runs on the original
    narrow split — measured at sf0.1: the curation pipeline's giant regex
    filter evaluated on ONE core below the exchange, 5.7 s vs 2.9 s with
    the pin.  The barrier also lets multi-consumer plans (decontaminate's
    three doc branches, duplicate-gram model + hit join) share one widened
    copy instead of re-running scan + exchange per branch.  The pinned
    blocks live until the caller's session releases them
    (caching.release_checkpoint) — bounded by the narrow-input regime this
    guard exists for; at production widths the guard (and the pin) is a
    no-op, so recompute semantics and scan pushdown at scale are untouched.
    """
    sc = df.sparkSession.sparkContext
    if target is None:
        target = sc.defaultParallelism
    if target <= 1:
        return df
    width = input_partitions if input_partitions is not None else df.rdd.getNumPartitions()
    if width >= target:
        return df
    out = df.repartition(target)
    if not pin:
        return out
    pinned = out.localCheckpoint(eager=False)
    # Register the pin's RDD id (caching._WIDTH_PINS) so (a)
    # caching.release_checkpoint never frees a shared widened scan as a
    # stray leaf of one consumer's plan, and (b) callers outside the bench
    # harness have a release path (caching.release_width_pins) — r12
    # ADVICE flagged both.
    try:
        from compss_python_spark.caching import register_width_pin

        plan = pinned._jdf.queryExecution().analyzed()
        register_width_pin(plan.rdd().id())
    except Exception:
        _log.warning("could not register width pin", exc_info=True)
    return pinned
