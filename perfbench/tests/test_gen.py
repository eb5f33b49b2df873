import pytest

from perfbench import gen
from perfbench.tests.conftest import ROOT
from perfbench.worker import digest


@pytest.fixture(scope="module")
def gen_sf():
    return gen.load_gen_sf(ROOT)


def _digests(spark, gen_sf, set_id):
    tables = gen.build_tables(spark, gen_sf, set_id, 1)
    return {t: digest(tables[t]) for t in ("orders", "events", "documents", "nation")}


def test_same_seed_same_tables_other_seed_other_tables(spark, gen_sf):
    a = _digests(spark, gen_sf, gen.input_set(3))
    assert a == _digests(spark, gen_sf, gen.input_set(3 + gen.N_INPUT_SETS))
    b = _digests(spark, gen_sf, gen.input_set(4))
    for t in ("orders", "events", "documents"):
        assert a[t] != b[t], t
    assert a["nation"] == b["nation"]  # fixed dimension content


def test_seed_folding_leaves_gen_sf_unchanged(spark, gen_sf):
    base_u = gen_sf.u
    gen.build_tables(spark, gen_sf, 2, 1)
    assert gen_sf.u is base_u


def test_documents_carry_near_duplicates(spark, gen_sf):
    from pyspark.sql import functions as F

    docs = gen.build_tables(spark, gen_sf, 0, 1)["documents"]
    n = docs.count()
    distinct = docs.select("text").distinct().count()
    assert n == gen_sf.BASE["documents"]
    assert 0.85 * n < distinct < 0.97 * n  # ~8% exact copies
    assert docs.filter(F.col("n_chars") != F.length("text")).count() == 0
