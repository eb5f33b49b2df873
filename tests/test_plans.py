"""Plan-quality tests: the physical plans the engine produces must have the
shape we designed for 100 TB — pushdown reaches the scan, small dims
broadcast, sort+limit fuses to TakeOrderedAndProject, whole-stage codegen
covers the hot path."""

import contextlib
import io

from compss_python_spark.plans.registry import REGISTRY


def _plan(spark, sf_dir, name) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_pandas_query")
    assert "PushedFilters:" in plan
    assert "l_returnflag" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_column_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "select_project")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema, "projection must prune unused columns"


def test_flagship_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "flagship_revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3, "dims must broadcast, not shuffle"


def test_take_ordered_fuses(spark, sf_dir):
    plan = _plan(spark, sf_dir, "take_ordered")
    assert "TakeOrderedAndProject" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    # partial HashAggregate → Exchange → final HashAggregate (map-side combine);
    # (codegen annotations only appear in the executed AQE plan, not pre-run)
    plan = _plan(spark, sf_dir, "tpch_q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_broadcast_dim_join_no_fact_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "broadcast_dim_join")
    assert "BroadcastHashJoin" in plan


def test_entry_contract(spark):
    import importlib.util, os, sys

    spec = importlib.util.spec_from_file_location(
        "spark_entry_mod", os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = mod.entry(spark)
    assert out.count() > 0
    q = mod.queries()
    o = mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 80


def test_topk_per_group_plans_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_per_group")
    assert "WindowGroupLimit" in plan, "rank<=k must push below the shuffle"


def test_geo_within_never_shuffles_points(spark, sf_dir):
    plan = _plan(spark, sf_dir, "geo_within_rect")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the point side must reach the join without an Exchange
    before_join = plan.split("Join")[0]
    assert "Exchange hashpartitioning" not in before_join


def test_asof_join_single_shuffle_on_key(spark, sf_dir):
    plan = _plan(spark, sf_dir, "asof_join_events")
    # one hash exchange for the window (user_id); no range/global sort
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Window" in plan


def test_hypertable_rollup_single_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "hypertable_rollup_time")
    assert "Expand" in plan, "grouping sets should expand, not union N aggs"


def test_kmeans_lloyd_assignment_has_no_window(spark, sf_dir):
    # the argmin must be a per-row reduce over the broadcast centroid array,
    # not a Window.partitionBy(point) over the n×k cross product
    plan = _plan(spark, sf_dir, "ml_kmeans_lloyd_fixed_init")
    assert "Window" not in plan, "centroid assignment must not plan a window"
    assert "BroadcastNestedLoopJoin" in plan  # 1-row centroid table broadcast


def test_q5_broadcasts_all_dims(spark, sf_dir):
    # lineitem is the only fact: every dim (orders after the date filter at
    # this SF may shuffle pre-AQE, but region/nation/supplier/customer must
    # broadcast) — no sort-merge join anywhere
    plan = _plan(spark, sf_dir, "tpch_q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_stratified_sample_partial_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "stratified_sample_hash")
    assert "WindowGroupLimit" in plan, "per-stratum top-n must push below the shuffle"


def test_curation_pipeline_single_data_shuffle(spark, sf_dir):
    # quality features fuse into the scan stage; dedup groupBy + final
    # rollup are the only exchanges (plus AQE artifacts) — no join shuffle
    plan = _plan(spark, sf_dir, "pipeline_corpus_curation")
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path_factory):
    # Two tables bucketed on the join key with equal bucket counts must
    # SortMergeJoin with ZERO Exchange (the whole point of bucketing at
    # 100 TB: the shuffle is paid once at write time, not per join).
    import contextlib, io
    from pyspark.sql import functions as F
    from compss_python_spark.sources.io import write_bucketed
    from compss_python_spark.plans.registry import table

    wh = str(tmp_path_factory.mktemp("bucketed_wh"))
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem")
    write_bucketed(orders, "b_orders", "o_orderkey", 8,
                   path=f"{wh}/b_orders")
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem", "o_orderkey", 8, path=f"{wh}/b_lineitem",
    )
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = (
            spark.table("b_orders")
            .join(spark.table("b_lineitem"), "o_orderkey")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        # The whole plan may contain exactly ONE Exchange — the final tiny
        # groupBy one.  (Formatted explain prints root-first, so slicing the
        # text before "HashAggregate" would inspect only the header and
        # vacuously pass even for a fully-shuffling join.)
        import re

        exchanges = re.findall(r"\(\d+\) Exchange", plan)
        assert "SortMergeJoin" in plan
        assert len(exchanges) == 1, (
            f"bucketed join must not shuffle (want only the final groupBy "
            f"exchange, got {len(exchanges)}):\n{plan}"
        )
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes(spark, sf_dir, tmp_path_factory):
    # A filter on the hive partition column must become a PartitionFilters
    # entry (directory pruning) — not a row-level PushedFilter over all data.
    import contextlib, io
    from pyspark.sql import functions as F
    from compss_python_spark.sources.io import read_parquet, write_parquet
    from compss_python_spark.plans.registry import table

    path = str(tmp_path_factory.mktemp("partp") / "orders")
    write_parquet(table(spark, sf_dir, "orders"), path, partition_by=["o_orderstatus"])
    back = read_parquet(spark, path).filter(F.col("o_orderstatus") == "F")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf_line = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "o_orderstatus" in pf_line


def test_grouping_sets_single_expand(spark, sf_dir):
    """All grouping sets come from ONE Expand + one partial/final agg pair —
    no per-set rescan of the fact table."""
    plan = _plan(spark, sf_dir, "grouping_sets_mixed")
    tree = plan.split("(1) ")[0]  # operator tree only (details repeat names)
    assert tree.count("Expand") == 1
    assert tree.count("Scan parquet") == 1
    assert tree.count("HashAggregate") == 2


def test_q16_anti_join_broadcasts(spark, sf_dir):
    """The excluded-supplier anti-join must broadcast the (tiny) bad-supplier
    side, never shuffle the link table for it."""
    plan = _plan(spark, sf_dir, "tpch_q16_supplier_cnt")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_q2_min_cost_broadcasts_dims(spark, sf_dir):
    """part/supplier/nation/region sides of Q2 are dim-sized → broadcast;
    the lineitem aggregate is the only shuffled input."""
    plan = _plan(spark, sf_dir, "tpch_q2_min_cost_supplier")
    assert plan.count("BroadcastHashJoin") >= 2


_IMPORT_PROBE = """
import json, sys
opened = []
sys.addaudithook(
    lambda event, args: opened.append(args[0])
    if event == "open" and isinstance(args[0], str) else None
)
import compss_python_spark.plans as plans
modules = [m for m in sys.modules if m.startswith("compss_python_spark.plans.queries_")]
print(json.dumps({
    "opened": opened,
    "order": list(plans.REGISTRY),
    "keys": {
        name: [modules.index(spec.fn.__module__), spec.fn.__code__.co_firstlineno]
        for name, spec in plans.REGISTRY.items()
    },
}))
"""


def test_plans_import_reads_no_files_and_keeps_declaration_order(tmp_path):
    """Importing the registry is a pure catalogue load: it opens no file
    under the repo root except Python sources (bytecode is redirected to a
    temporary cache), and the registry is in declaration order — the
    ``queries_*`` modules in import order, then source order within each."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPYCACHEPREFIX=str(tmp_path))
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_PROBE],
        cwd=root, env=env, capture_output=True, text=True, check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])

    under_root = [
        p for p in (os.path.realpath(os.path.join(root, f)) for f in got["opened"])
        if p.startswith(os.path.realpath(root) + os.sep)
    ]
    assert [p for p in under_root if not p.endswith(".py")] == []

    order = got["order"]
    assert order == sorted(order, key=lambda n: got["keys"][n])


def test_headline_plans_have_no_undeclared_python_nodes(spark, sf_dir):
    """Every headline query's returned plan must stay JVM-side unless the
    query is on the declared Python-kernel allowlist (Arrow-batched numpy
    kernels where no built-in expression exists: multimodal decode,
    sequence packing, IVF-PQ encode).  This mechanizes two past findings:
    the Bloom probe's ArrowEvalPython cloned onto the broadcast side of a
    join (round-7 PLANS.md staleness), and generally any regression that
    drops a Python eval into a hot path.  Eagerly-materialized operators
    return checkpointed leaves, so their loop internals are out of scope
    by design — this guards the RETURNED dataflow."""
    PY_NODES = (
        "ArrowEvalPython",
        "BatchEvalPython",
        "FlatMapGroupsInPandas",
        "MapInPandas",
        "FlatMapGroupsInArrow",
    )
    ALLOWED = {
        "llm_pack_sequences",          # applyInPandas 2-int loop state
        "similarity_topk_ivfpq_md5",   # PQ encode numpy kernel
        "multimodal_probe_headers",    # binary header decode
        "multimodal_png_pixel_stats",  # PNG inflate+unfilter decode
        "multimodal_jpeg_pixel_stats", # JPEG Huffman/IDCT decode
    }
    offenders = {}
    for name, spec in REGISTRY.items():
        if not spec.headline:
            continue
        plan = _plan(spark, sf_dir, name)
        hits = [n for n in PY_NODES if n in plan]
        if hits and name not in ALLOWED:
            offenders[name] = hits
        if not hits and name in ALLOWED:
            # allowlist rot: the query went pure-JVM — tighten the list
            offenders[name] = "allowlisted but plan is pure JVM — remove"
        spark.catalog.clearCache()
    assert not offenders, offenders


def test_pair_stream_split_evaluates_once_in_optimized_plan(spark):
    """_pair_stream projects the token array to a bound column so the
    split is NOT re-evaluated per element inside the transform lambda
    (O(tokens²) per document, measured 15× slower).  CollapseProject can
    inline projections into HOF lambdas on some plan shapes
    (dedup.minhash_signatures needed a localCheckpoint barrier for
    exactly that), so assert the shape rather than trust the idiom: the
    optimized plan must contain exactly ONE split(...), sitting in a
    Project below the Generate — never inlined into the lambdafunction."""
    from compss_python_spark.llm.text import _pair_stream

    df = spark.createDataFrame([("a b c d",), ("x y",)], "text string")
    plan = _pair_stream(df, "text", [])._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    lam = plan[plan.index("lambdafunction"):] if "lambdafunction" in plan else ""
    assert "split(" not in lam.split("ELSE")[0], plan


def test_domain_cap_plans_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "llm_domain_cap")
    assert "WindowGroupLimit" in plan, "rank<=cap must prune map-side"


def test_cdc_changelog_plans_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cdc_apply_changelog")
    assert "WindowGroupLimit" in plan, "last-writer-wins rank must prune map-side"


def test_int8_quantize_scales_broadcast_once(spark, sf_dir):
    plan = _plan(spark, sf_dir, "embedding_int8_quantize")
    # one posexplode feeds the per-dim scale pass; the 1-row scales frame
    # broadcasts; the fact side itself never shuffles
    assert plan.count("Generate") >= 1
    assert "BroadcastExchange" in plan
    assert "hashpartitioning(_i" in plan  # the 64-group dim agg exchange
    assert "hashpartitioning(vec_id" not in plan, "fact side must never shuffle"


def test_ewma_banded_join_is_equi_not_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "timeseries_ewma")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, (
        "the band must ride the (entity, bucket) EQUI join, not a theta join"
    )


def test_keywords_plans_window_group_limit(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_top_keywords")
    assert "WindowGroupLimit" in plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "llm_weighted_sample")
    assert "TakeOrderedAndProject" in plan, (
        "global top-k must run as per-partition heaps, not a global sort"
    )


from conftest import retry_under_load


@retry_under_load()
def test_no_oracled_query_returns_complex_top_level_columns(spark, sf_dir):
    """The driver's correctness canon sorts raw cells and hashes them — it
    cannot hash a Python list (round-8 red row `embedding_random_projection`:
    ``TypeError: unhashable type: 'list'``).  Every ORACLED query must
    therefore serialize array/map outputs (array_join / sig_csv
    convention) before returning.  The CHECK itself is schema-level, but
    CONSTRUCTING some queries is eager by design (streaming replays run
    processAllAvailable; the skew/SRP/decontaminate queries run sizing
    jobs or scratch writes to build their plan) — so this test costs
    real minutes and doubles as a does-every-query-construct smoke."""
    from pyspark.sql import types as T

    offenders = {}
    for name, spec in REGISTRY.items():
        if spec.sql is None:
            continue  # rows-only: driver records row count, never hashes
        df = spec.fn(spark, sf_dir)
        bad = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"oracled queries returning driver-unhashable complex columns: {offenders}"
    )


def test_salted_join_shuffles_on_key_and_salt(spark, sf_dir):
    plan = _plan(spark, sf_dir, "skew_salted_join")
    assert "ShuffledHashJoin" in plan, (
        "the salt exists only for the shuffle path — a broadcast would "
        "replicate the right side 16x for nothing and never spread the hot key"
    )
    assert "BroadcastHashJoin" not in plan
    left_keys = plan.split("Left keys")[1].splitlines()[0]
    assert "_salt" in left_keys, f"join keys must include the salt column: {left_keys}"


def test_aqe_skew_scope_splits_hot_partition_and_restores_conf(spark):
    # The scope must (a) make OptimizeSkewedJoin actually split the 70%-hot
    # reduce partition (executed plan carries skew=true on the join), and
    # (b) restore every conf key it touched — including unsetting the keys
    # that were unset before the scope.
    from pyspark.sql import functions as F

    from compss_python_spark.operators.joins import aqe_skew_scope

    before_force = None
    try:
        before_force = spark.conf.get("spark.sql.adaptive.forceOptimizeSkewedJoin")
    except Exception:  # noqa: BLE001 — unset is the expected baseline
        pass
    before_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")

    left = spark.range(0, 200_000, 1, 8).select(
        F.when(F.col("id") % 10 < 7, F.lit(0))
        .otherwise(F.col("id") % 997)
        .cast("long")
        .alias("k"),
        (F.col("id") % 100).alias("v"),
    )
    right = spark.range(0, 997, 1, 4).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("w")
    )
    j = (
        left.join(right, "k")
        .groupBy("k")
        .agg(F.sum(F.col("v") * F.col("w")).alias("s"))
    )
    with aqe_skew_scope(
        spark,
        partition_factor=1.2,
        partition_threshold="1kb",
        advisory_size="512b",
        force=True,
    ):
        assert len(j.collect()) == 997
        plan = j._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in plan, (
        "AQE must split the hot partition under the scoped thresholds:\n"
        + plan[:2000]
    )

    after_force = None
    try:
        after_force = spark.conf.get("spark.sql.adaptive.forceOptimizeSkewedJoin")
    except Exception:  # noqa: BLE001
        pass
    assert after_force == before_force
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before_bcast
    # Never-set keys must restore to UNSET, not to their built-in default
    # pinned explicitly (conf.get(k, None) probe — a bare get() returns the
    # ConfigEntry default and masks the difference).
    assert (
        spark.conf.get("spark.sql.adaptive.forceOptimizeSkewedJoin", None) is None
        or before_force is not None
    )


def test_aqe_skew_scope_serializes_concurrent_callers(spark):
    """Two threads entering the scope on one session must serialize (conf
    is session-global — overlap would interleave set/restore), and the
    conf must be back to its pre-scope value after both exit."""
    import threading

    from compss_python_spark.operators.joins import aqe_skew_scope

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    inside = []
    overlap = []
    gate = threading.Barrier(2, timeout=30)

    def worker(tag):
        gate.wait()  # maximize the overlap window
        with aqe_skew_scope(spark, partition_threshold="1kb"):
            if inside:
                overlap.append((inside[-1], tag))
            inside.append(tag)
            assert spark.conf.get(key) == "-1"
            import time as _t

            _t.sleep(0.05)
            inside.pop()

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not overlap, f"scopes overlapped: {overlap}"
    assert spark.conf.get(key) == before
