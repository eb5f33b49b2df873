"""The benchmark's workloads: fixed query orders, never registry order.

Both are closed loops with one client: the next query is sent only after
the previous one returned (a traced run adds one two-client pass, see
``perfbench/worker.py``).  ``mult`` is the ``tools/gen_sf`` multiplier
(1 = the sf0.1 row counts).

Every library module the per-layer metrics name is called by at least one
query of one workload.  Each query is the cheapest registry query that
calls its module (measured warm on a 4-core host), because every run pays
a fresh JVM (~10-15 s of set-up) plus a cold pass, and a comparison runs
each workload a few dozen times.  For the same reason two
further workloads are not here: a gen10 scale workload (generating one
gen10 input set alone takes ~50 s, and pagerank's gen10 construct ~25 s)
and a two-client concurrent workload with enough queries for a p80 latency
(>= 50 queries, about two minutes, per run).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    # Nominal warm pass time on a 4-core host.  It only converts --seconds
    # into a fixed number of steady passes; the passes' measured speed never
    # changes how many run.
    pass_s: float
    mult: int = 1

    def steady_passes(self, seconds: float) -> int:
        """Steady passes after the cold pass.  The cold pass is the only
        discarded one: another warm-up pass would not fit the run budget
        (the llm pass alone is ~19 s), so the steady passes start with the
        second pass in the JVM, which is still ~10-20% slower than later
        ones."""
        return max(1, round(seconds / self.pass_s))


WORKLOADS = {
    # Scan, join, shuffle and window work in operators.* and
    # functions.statistics; llm/graph/ml/caching/width do nothing here, so a
    # change to those layers should leave this workload unchanged.
    "relational_gen1": Workload(
        (
            "asof_join_events",  # operators.joins
            "cdc_apply_changelog",  # operators.cdc
            "hypertable_rollup_time",  # operators.aggregation
            "timeseries_resample_ffill",  # operators.timeseries
            "describe_column",  # functions.statistics
        ),
        pass_s=5.0,
    ),
    # Construct-heavy: eager sizing jobs, checkpoints and width pins.
    "llm_gen1": Workload(
        (
            "dedup_lsh_cc_survivors",  # llm.dedup, llm.text, graph.components, width, caching
            "graph_pagerank",  # graph.pagerank
            "ml_kmeans_lloyd_fixed_init",  # ml.clustering
            "text_bpe_train_merges",  # llm.bpe
            "embedding_random_projection",  # llm.similarity
            "llm_weighted_sample",  # llm.sampling
            "multimodal_features",  # llm.multimodal: the Python (mapInPandas) UDF path
        ),
        pass_s=15.0,
    ),
}

# Library modules whose public functions get spans in a traced run.
TRACED_MODULES = (
    "llm.dedup",
    "llm.similarity",
    "llm.text",
    "llm.bpe",
    "llm.sampling",
    "llm.multimodal",
    "graph.pagerank",
    "graph.components",
    "ml.clustering",
    "operators.joins",
    "operators.timeseries",
    "operators.aggregation",
    "operators.cdc",
    "functions.statistics",
    "width",
    "caching",
)
