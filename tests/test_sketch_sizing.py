"""Round 13: CMS width auto-sizing + quantile magnitude clamp.

CMS: the sf10 probe (NOTES_r12 §15) showed width must scale with the
distinct-key count — 100k uniform keys over width 1024 over-estimate
~97x, silently. ``auto_cms_width`` turns that regime rule into code:
these tests pin that a uniform key space gets an auto-widened sketch
whose estimates are nowhere near that regime, that the floor/cap clamps
hold, and that CMSIndex records + persists the resolved width.

Quantile: ADVICE r12 — ``floor(|v|*unit_scale)`` silently overflowed
int64 near 9.2e18 and the bucket bound ``hi`` could wrap negative,
corrupting the rank walk. The clamp saturates huge magnitudes into the
top bucket (monotone, so ranks below the clamped mass are exact as
ever); pinned here including a DuckDB register-parity check at extreme
magnitudes the old property tests never reached (they capped at 1e9).
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_file_loader_spark.operators import sketches


def test_auto_width_uniform_keys_not_in_97x_regime(spark):
    # 20k distinct keys, one row each — the shape the old width=256
    # default silently butchered
    df = spark.range(20_000).select(F.col("id").alias("k"))
    w = sketches.auto_cms_width(df, "k")
    assert w & (w - 1) == 0, "width must be a power of two"
    assert w >= 65_536, f"20k uniform keys must widen far past 256 (got {w})"
    assert w <= sketches.CMS_WIDTH_MAX

    sk = sketches.cms_sketch(df, "k", depth=4, width=w)
    probes = spark.createDataFrame([(i * 1_999,) for i in range(10)], "k long")
    ests = {
        r.k: r.est_count
        for r in sketches.cms_query(sk, probes, "k", 4, w).collect()
    }
    # true count is 1 everywhere; never-undercount + nowhere near 97x
    assert all(e >= 1 for e in ests.values())
    assert max(ests.values()) <= 5, ests


def test_auto_width_floor_and_empty(spark):
    small = spark.range(10).select(F.col("id").alias("k"))
    assert sketches.auto_cms_width(small, "k") == sketches.CMS_WIDTH_MIN
    empty = small.filter(F.lit(False))
    assert sketches.auto_cms_width(empty, "k") == sketches.CMS_WIDTH_MIN


def test_auto_width_cap(spark):
    df = spark.range(5_000).select(F.col("id").alias("k"))
    # oversize large enough to exceed the cap: clamp, don't explode
    with pytest.warns(UserWarning, match="HEAVY HITTERS"):
        w = sketches.auto_cms_width(df, "k", oversize=10_000_000)
    assert w == sketches.CMS_WIDTH_MAX


def test_auto_width_cap_warns_loudly(spark):
    """Round 14 (VERDICT r13 ask 2): clamping at 2^18 silently re-entered
    the over-estimate regime the auto-sizer was built to kill. Now it
    WARNS, naming the regime — and stays silent when the estimate fits."""
    import warnings

    big = spark.range(90_000).select(F.col("id").alias("k"))
    with pytest.warns(UserWarning, match="only trustworthy for HEAVY HITTERS"):
        w = sketches.auto_cms_width(big, "k")
    assert w == sketches.CMS_WIDTH_MAX

    small = spark.range(1_000).select(F.col("id").alias("k"))
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        sketches.auto_cms_width(small, "k")  # must not warn


def test_cms_index_records_and_persists_auto_width(spark, tmp_path):
    seed = spark.range(3_000).select((F.col("id") % 2_500).alias("k"))
    idx = sketches.CMSIndex(seed, "k")  # width=None -> auto
    assert idx.width >= 8_192 and idx.width & (idx.width - 1) == 0
    path = str(tmp_path / "cms_auto")
    idx.save(path)
    back = sketches.CMSIndex.load(spark, path)
    assert back.width == idx.width
    # absorb through the restored object stays on the recorded width
    back.absorb(spark.range(3_000, 3_100).select(F.col("id").alias("k")))
    probe = spark.createDataFrame([(42,)], "k long")
    est = back.query(probe, "k").head().est_count
    assert est >= 2  # key 42 appears via id 42 and id 2542
    idx.release()
    back.release()


def test_quantile_histogram_extreme_magnitudes_no_overflow(spark):
    vals = [1.0, 2.0, 3.0, 8.9e13, 1e18, 1e300, 1.7976931348623157e308]
    df = spark.createDataFrame([(v,) for v in vals], "v double").select(
        F.lit("g").alias("g"), "v"
    )
    hist = sketches.quantile_histogram(df, ["g"], "v")
    regs = hist.collect()
    # every register field is in int64 range and non-negative where it must be
    for r in regs:
        assert r.prefix >= 0 and r.exp >= 0
    est = {
        r.q_milli: r.est
        for r in sketches.quantile_estimate(hist, ["g"], [100, 500, 990]).collect()
    }
    # low quantiles (below the clamped mass) keep the usual <=1.1% bound
    assert abs(est[100] - 1.0) <= 1.0 * 0.011 + 1e-9
    # the top quantile saturates at the documented ceiling (within one
    # bucket's interpolation width), not int64-wrap garbage
    assert 0 < est[990] <= sketches.QUANTILE_MAX_IV * 1.011 / 100


def test_quantile_registers_match_duckdb_at_extremes(spark):
    """Engine parity of the CLAMPED bucket math where the old code
    overflowed: same registers in Spark and DuckDB."""
    vals = [0.0, -5.5, 123.456, 9.1e13, 1e16, 1e18, 1e300]
    df = spark.createDataFrame([(v,) for v in vals], "v double").select(
        F.lit("g").alias("g"), "v"
    )
    got = sorted(
        (r.sign, r.exp, r.prefix, r.cnt)
        for r in sketches.quantile_histogram(df, ["g"], "v").collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
            SELECT CAST(CASE WHEN v > 0 THEN 1 WHEN v < 0 THEN -1 ELSE 0 END AS INT) AS sign,
                   CAST(length(s) - least(length(s), 3) AS INT) AS exp,
                   CAST(substr(s, 1, 3) AS BIGINT) AS prefix,
                   count(*) AS cnt
            FROM (SELECT v, CAST(CAST(floor(least(abs(v) * 100, 9000000000000000)) AS BIGINT) AS VARCHAR) AS s FROM t)
            GROUP BY 1, 2, 3
            """
        ).fetchall()
    )
    assert got == want
