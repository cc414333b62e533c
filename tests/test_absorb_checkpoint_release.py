"""Maintained-index absorb must not accumulate superseded checkpoints.

Round-12 probe facts this pins: localCheckpoint ENTRIES are
strong-referenced by SparkContext until an explicit RDD-level unpersist
(DataFrame.unpersist touches only the CacheManager), so an absorb loop
that rebinds ``self._x`` to a fresh eager checkpoint without releasing
the predecessor holds K copies of the index state after K absorbs —
evictable memory pressure, then unbounded local-disk growth over a
stream's lifetime. Round 13 releases the predecessor inside every
absorb; these tests assert the persistent-RDD count stays CONSTANT
across K >= 5 absorbs per index class AND the estimates still match an
all-at-once build (the release must not change any answer).

Counting discipline: ``getPersistentRDDs`` is a weak-value map, so
entries left by EARLIER tests can vanish whenever the JVM GCs — absolute
before/after count equality is flaky across a shared session. Every
assertion here therefore tracks the set of RDD ids CREATED BY THIS TEST
(ids now minus ids at test start) and requires that set to stay
constant-size across absorbs and empty after release; ids from other
tests disappearing mid-test cannot affect it.
"""

import pytest
from pyspark.sql import functions as F

from etl_file_loader_spark.operators.cache import (
    release_local_checkpoint,
    release_operator_caches,
)
from etl_file_loader_spark.operators.dedup import NearDupIndex, connected_components
from etl_file_loader_spark.operators.sketches import (
    CMSIndex,
    HLLIndex,
    KMVIndex,
    QuantileIndex,
    hll_estimate,
    hll_registers,
)

K_ABSORBS = 5


def _persistent_ids(spark) -> set:
    """Ids of currently-live persistent RDDs (weak-map snapshot)."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def _new_ids(spark, base: set) -> set:
    return _persistent_ids(spark) - base


def _batches(spark, k=K_ABSORBS):
    return [
        spark.range(i * 100, (i + 1) * 100).select(
            F.col("id"),
            (F.col("id") % 7).alias("grp"),
            (F.col("id") % 13).cast("double").alias("val"),
            F.concat(F.lit("the quick brown fox jumps over doc "), F.col("id").cast("string")).alias("text"),
        )
        for i in range(k)
    ]


def _assert_constant_rdds(spark, index, batches, base: set):
    """Absorb K batches; the number of THIS test's live persistent RDDs
    after each absorb must equal the count after the first (one live
    checkpoint per index, superseded ones released)."""
    baseline = None
    for b in batches:
        index.absorb(b)
        n = len(_new_ids(spark, base))
        if baseline is None:
            baseline = n
        assert n == baseline, f"checkpoint accumulation: {n} != {baseline}"


def test_hll_index_constant_checkpoints(spark):
    batches = _batches(spark)
    base = _persistent_ids(spark)
    idx = HLLIndex(batches[0], ["grp"], "id", p=6)
    _assert_constant_rdds(spark, idx, batches[1:], base)
    # answers unaffected: maintained estimate == one-shot over the union
    union = batches[0]
    for b in batches[1:]:
        union = union.unionByName(b)
    expect = {
        (r.grp, r.hll_est)
        for r in hll_estimate(hll_registers(union, ["grp"], "id", 6), ["grp"], 6).collect()
    }
    got = {(r.grp, r.hll_est) for r in idx.estimate().collect()}
    assert got == expect
    idx.release()
    assert not _new_ids(spark, base)


def test_quantile_index_constant_checkpoints(spark):
    batches = _batches(spark)
    base = _persistent_ids(spark)
    idx = QuantileIndex(batches[0], ["grp"], "val")
    _assert_constant_rdds(spark, idx, batches[1:], base)
    union = batches[0]
    for b in batches[1:]:
        union = union.unionByName(b)
    one_shot = QuantileIndex(union, ["grp"], "val")
    expect = {tuple(r) for r in one_shot.estimate([500, 990]).collect()}
    got = {tuple(r) for r in idx.estimate([500, 990]).collect()}
    assert got == expect
    idx.release()
    one_shot.release()
    assert not _new_ids(spark, base)


def test_cms_index_constant_checkpoints(spark):
    batches = _batches(spark)
    base = _persistent_ids(spark)
    idx = CMSIndex(batches[0], "grp", width=64)
    _assert_constant_rdds(spark, idx, batches[1:], base)
    probes = spark.createDataFrame([(0,), (3,)], "grp long")
    union = batches[0]
    for b in batches[1:]:
        union = union.unionByName(b)
    one_shot = CMSIndex(union, "grp", width=64)
    expect = {(r.grp, r.est_count) for r in one_shot.query(probes, "grp").collect()}
    got = {(r.grp, r.est_count) for r in idx.query(probes, "grp").collect()}
    assert got == expect
    # never-undercount on the true counts (500 rows, id % 7)
    true = {r.grp: r.cnt for r in union.groupBy("grp").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    for g, est in got:
        assert est >= true[g]
    idx.release()
    one_shot.release()
    assert not _new_ids(spark, base)


def test_kmv_index_constant_checkpoints(spark):
    batches = _batches(spark)
    base = _persistent_ids(spark)
    idx = KMVIndex(batches[0], ["grp"], "id", k=16)
    _assert_constant_rdds(spark, idx, batches[1:], base)
    assert idx.estimate().count() == 7
    idx.release()
    assert not _new_ids(spark, base)


def _assert_tiered_rdds(spark, index, batches, base: set, max_tiers=6):
    """Tiered (doc-proportional) indexes hold ONE live checkpoint per
    tier — after every absorb the set of this test's live persistent
    RDDs must exactly track the tier ladder (superseded tiers released
    inside the cascade), and the ladder stays logarithmically bounded."""
    for b in batches:
        index.absorb(b)
        n = len(_new_ids(spark, base))
        tiers = len(index._state._tiers)
        assert n == tiers, f"live checkpoints {n} != tiers {tiers}"
        assert tiers <= max_tiers, f"cascade failed to bound tiers: {tiers}"


def test_bm25_index_tiered_checkpoints(spark):
    from etl_file_loader_spark.operators.text import BM25Index, bm25_score

    batches = _batches(spark, 4)
    base = _persistent_ids(spark)
    idx = BM25Index(batches[0], "id", "text", ["quick", "doc"])
    _assert_tiered_rdds(spark, idx, batches[1:], base)
    union = batches[0]
    for b in batches[1:]:
        union = union.unionByName(b)
    expect = {tuple(r) for r in bm25_score(union, "id", "text", ["quick", "doc"]).collect()}
    got = {tuple(r) for r in idx.score().collect()}
    assert got == expect
    idx.release()
    assert not _new_ids(spark, base)


def test_near_dup_index_tiered_checkpoints(spark):
    batches = _batches(spark)
    base = _persistent_ids(spark)
    idx = NearDupIndex(batches[0], "id", "text")
    _assert_tiered_rdds(spark, idx, batches[1:], base)
    # flags still work after the cascade's releases (every doc is a
    # near-dup of the shared template, so batch 0's ids win the min)
    flagged = idx.flag(batches[0].limit(5))
    assert flagged.filter(F.col("is_near_dup") == 1).count() == 5
    idx.release()
    release_operator_caches()
    assert not _new_ids(spark, base)


def test_release_is_noop_on_non_checkpoint_frames(spark, tmp_path):
    df = spark.range(10)
    assert release_local_checkpoint(df) is False
    df.write.mode("overwrite").parquet(str(tmp_path / "p"))
    assert release_local_checkpoint(spark.read.parquet(str(tmp_path / "p"))) is False


def test_connected_components_releases_round_checkpoints(spark):
    base = _persistent_ids(spark)
    # a 12-node chain forces many min-label rounds (diameter >> 3)
    pairs = spark.range(11).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = connected_components(pairs, max_iterations=20)
    rows = out.collect()
    assert len(rows) == 12 and {r.cluster_id for r in rows} == {0}
    # only the FINAL label checkpoint may remain live (edges + every
    # superseded round released inside the loop)
    assert len(_new_ids(spark, base)) <= 1


def test_link_best_tier_checkpoints_release_between_workloads(spark):
    """The per-tier link_best checkpoints cannot release behind their own
    lazy return value (the pin() contract), so they register with
    pin_checkpoint and release_operator_caches() frees them between
    workloads — a session composing many link calls stays bounded."""
    from etl_file_loader_spark.operators.dedup import LinkageIndex

    base = _persistent_ids(spark)
    master = spark.range(200).select(
        F.col("id").alias("pid"),
        F.concat(F.lit("name-"), F.col("id").cast("string")).alias("name"),
    )
    idx = LinkageIndex(master, "pid", "name", max_distance=1)
    feed = spark.range(50).select(
        (F.col("id") + 1000).alias("rid"),
        F.concat(F.lit("name-"), F.col("id").cast("string")).alias("s"),
    )
    resolved = idx.link_best(feed, "rid", "s")
    assert resolved.count() == 50  # exact tier resolves everything
    assert _new_ids(spark, base)  # tier checkpoints live until release
    idx.release()
    released = release_operator_caches()
    assert released >= 1
    assert not _new_ids(spark, base)
