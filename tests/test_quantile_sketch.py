"""Portable mergeable quantile sketch (round 12): decimal log-histogram.

Contracts tested: the guaranteed relative error bound on every quantile
of every group; merge = any-split equality (sum-merge over disjoint
splits equals the one-shot histogram); exactness for <= sig-digit
values; negative/zero/mixed-sign ordering; QuantileIndex durability
(save/load) and its exactly-once (NOT idempotent) absorb contract.
"""

import pytest
from pyspark.sql import functions as F

from etl_file_loader_spark.operators import sketches

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def li(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet")


def test_error_bound_every_quantile(spark, li):
    keys = ["l_returnflag"]
    hist = sketches.quantile_histogram(li, keys, "l_extendedprice")
    est = {
        (r.l_returnflag, r.q_milli): (r.est, r.n)
        for r in sketches.quantile_estimate(
            hist, keys, [10, 100, 250, 500, 750, 900, 990, 999]
        ).collect()
    }
    vals = {}
    for r in li.select("l_returnflag", "l_extendedprice").collect():
        vals.setdefault(r.l_returnflag, []).append(float(r.l_extendedprice))
    for g in vals:
        vals[g].sort()
    for (g, qm), (e, n) in est.items():
        assert n == len(vals[g])
        true = vals[g][(qm * n + 999) // 1000 - 1]
        assert abs(e - true) <= true * 0.011 + 0.02, (g, qm, e, true)


def test_merge_any_split_equals_one_shot(spark, li):
    keys = ["l_returnflag"]
    one = sketches.quantile_histogram(li, keys, "l_extendedprice")
    parts = [
        sketches.quantile_histogram(
            li.filter(F.col("l_orderkey") % 3 == k), keys, "l_extendedprice"
        )
        for k in range(3)
    ]
    merged = sketches.quantile_hist_merge(parts, keys)
    assert _rows(merged) == _rows(one)


def test_small_values_exact_and_signs_ordered(spark):
    # <= 3 significant digits in cents -> the bucket IS the value
    data = [(1, -9.99), (1, -0.5), (1, 0.0), (1, 0.25), (1, 3.00), (1, 7.77)]
    df = spark.createDataFrame(data, ["g", "v"])
    hist = sketches.quantile_histogram(df, ["g"], "v")
    got = {
        r.q_milli: r.est
        for r in sketches.quantile_estimate(
            hist, ["g"], [1, 250, 500, 750, 999]
        ).collect()
    }
    # ranks over sorted [-9.99, -0.5, 0.0, 0.25, 3.0, 7.77] (n=6):
    # rank(q) = ceil(q*6): q=.001->1, .25->2, .5->3, .75->5, .999->6.
    # magnitudes quantize to whole cents; <=3-digit buckets are single
    # cents wide, so estimates land within a cent of the true value
    expect = {1: -9.99, 250: -0.5, 500: 0.0, 750: 3.00, 999: 7.77}
    for qm, want in expect.items():
        assert abs(got[qm] - want) <= 0.011, (qm, got[qm], want)


def test_index_save_load_and_exactly_once(spark, tmp_path):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    seed = orders.filter(F.col("o_orderkey") % 2 == 0)
    b1 = orders.filter(F.col("o_orderkey") % 2 == 1)
    idx = sketches.QuantileIndex(seed, ["o_orderstatus"], "o_totalprice")
    idx.absorb(b1)
    est_live = _rows(idx.estimate([900]))
    state_live = _rows(idx.state())

    path = str(tmp_path / "qidx")
    idx.save(path)
    back = sketches.QuantileIndex.load(spark, path)
    assert (back.keys, back.col, back.sig_digits, back.unit_scale) == (
        ["o_orderstatus"], "o_totalprice", 3, 100,
    )
    assert _rows(back.state()) == state_live
    assert _rows(back.estimate([900])) == est_live

    # the documented contract difference vs the confluent family:
    # absorbing the same batch twice DOUBLE-COUNTS (sum is not idempotent)
    n_before = back.estimate([900]).agg(F.sum("n")).first()[0]
    back.absorb(b1)
    n_after = back.estimate([900]).agg(F.sum("n")).first()[0]
    assert n_after == n_before + b1.count()


def test_index_stream_equals_one_shot(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    idx = sketches.QuantileIndex(
        orders.filter(F.col("o_orderkey") % 4 == 0), ["o_orderstatus"], "o_totalprice"
    )
    for k in (1, 2, 3):
        idx.absorb(orders.filter(F.col("o_orderkey") % 4 == k))
    one = sketches.quantile_histogram(orders, ["o_orderstatus"], "o_totalprice")
    assert _rows(idx.state()) == _rows(one)
