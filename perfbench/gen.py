"""Seeded benchmark inputs.

The fact tables come from ``tools/gen_sf.build_tables`` (so they keep the
shapes every fixture of this repo uses); the seed is folded into that
generator's hash salts here, so ``gen_sf`` itself stays seed-free.  Apart
from the planted duplicate documents (see ``_with_duplicates``), input set 0
is what ``python tools/gen_sf.py <mult>`` writes.  ``region``/``nation``
are fixed dimension content, as in TPC-H.

``--seed n`` selects input set ``n % N_INPUT_SETS``.  A finite family of
input sets is what lets every run check its outputs against reference
digests that were validated once against the DuckDB oracles
(``perfbench/record.py``); the same seed always gives the same inputs.

Generated sets are cached under ``<root>/.perfbench_cache`` per (multiplier,
input set).  When any set is missing, ``perfbench/run.py`` generates all
missing sets in a JVM of their own before the measured run starts, so
generation is never timed and never warms the measured JVM.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import sys

N_INPUT_SETS = 2
# Salts in gen_sf run 11..82; a stride above that keeps every (seed, salt)
# pair distinct.
SALT_STRIDE = 1000

def input_set(seed: int) -> int:
    return seed % N_INPUT_SETS


def load_gen_sf(root: str):
    """A private instance of ``tools/gen_sf.py`` (its salts get patched)."""
    path = os.path.join(root, "tools", "gen_sf.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen_sf", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def build_tables(spark, gen_sf, set_id: int, mult: int) -> dict:
    """All benchmark tables for one input set, as lazy DataFrames."""
    from pyspark.sql import functions as F

    base_u = gen_sf.u

    def u(salt, *cols):
        return base_u(salt + SALT_STRIDE * set_id, *cols)

    gen_sf.u = u
    try:
        tables = gen_sf.build_tables(spark, mult)
    finally:
        gen_sf.u = base_u
    tables["documents"] = _with_duplicates(tables["documents"], u, gen_sf.VOCAB)
    tables["region"] = spark.range(5).select(
        F.col("id").cast("int").alias("r_regionkey"),
        F.element_at(
            F.array(*[F.lit(r) for r in ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")]),
            F.col("id").cast("int") + 1,
        ).alias("r_name"),
    )
    tables["nation"] = spark.range(25).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), F.col("id")).alias("n_name"),
        (F.col("id") % 5).cast("int").alias("n_regionkey"),
    )
    return tables


def _with_duplicates(docs, u, vocab):
    """Re-use earlier texts for about a quarter of the documents: 8% exact
    copies and 17% copies with one word appended.  gen_sf's independent
    Zipf texts have no pair at MinHash Jaccard >= 0.5, so without this the
    near-dup pipelines would verify nothing and their connected-components
    stage would run on an empty edge set."""
    from pyspark.sql import functions as F

    doc_id = F.col("doc_id")
    r = u(91, doc_id)
    src = docs.select(F.col("doc_id").alias("src_id"), F.col("text").alias("src_text"))
    word = F.element_at(F.array(*[F.lit(w) for w in vocab]), (u(93, doc_id) * len(vocab)).cast("int") + 1)
    text = (
        F.when(r < 0.08, F.col("src_text"))
        .when(r < 0.25, F.concat_ws(" ", F.col("src_text"), word))
        .otherwise(F.col("text"))
    )
    return (
        docs.withColumn("src_id", F.greatest(F.lit(0), doc_id - 1 - (u(92, doc_id) * 20).cast("long")))
        .join(src, "src_id", "left")
        .select("doc_id", text.alias("text"), "lang", "source")
        .withColumn("n_chars", F.length("text").cast("long"))
    )


def inputs_dir(root: str, set_id: int, mult: int) -> str:
    return os.path.join(root, ".perfbench_cache", f"gen{mult}-set{set_id}")


def ensure_inputs(spark, root: str, set_id: int, mult: int) -> str:
    """Directory holding input set ``set_id`` at ``mult``; generated on first
    use.  Written to a temporary directory and renamed into place, so an
    interrupted run never leaves a partial set behind."""
    dst = inputs_dir(root, set_id, mult)
    if os.path.isdir(dst):
        return dst
    tmp = dst + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    gen_sf = load_gen_sf(root)
    for name, df in build_tables(spark, gen_sf, set_id, mult).items():
        df.write.parquet(os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, dst)
    return dst


def missing_sets(root: str, mult: int) -> list[int]:
    return [i for i in range(N_INPUT_SETS) if not os.path.isdir(inputs_dir(root, i, mult))]


def main() -> int:
    """``python -m perfbench.gen <root> <mult>``: generate every missing
    input set at ``mult`` in one JVM of its own (one JVM start for all of
    them), so generation never warms the JVM a run measures."""
    from compss_python_spark.session import get_spark

    from perfbench.host import stop_jvm

    root, mult = sys.argv[1], int(sys.argv[2])
    spark = get_spark("perfbench-gen")
    for set_id in missing_sets(root, mult):
        ensure_inputs(spark, root, set_id, mult)
    stop_jvm(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
