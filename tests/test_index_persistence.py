"""Round 12: the maintained-index family survives a session.

VERDICT r11 ranked this #1 under "missing": LinkageIndex / NearDupIndex /
HLLIndex lived in-session (pinned / localCheckpointed frames) while their
docstrings promised a written-once durable base — prose, not code. Each
index now has save(path)/load(spark, path) over plain parquet
(operators/persist.py). These tests assert RELOAD EQUALITY: flag/link/
estimate outputs are identical before and after a round-trip, and
absorbing MORE data into a restored index equals an uninterrupted run
(confluence makes the boundary unobservable).
"""

import pytest
from pyspark.sql import functions as F

from etl_file_loader_spark.operators import dedup as dedup_ops
from etl_file_loader_spark.operators import sketches
from etl_file_loader_spark.operators.text import BM25Index

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


@pytest.fixture(scope="module")
def part(spark):
    return spark.read.parquet(f"{SF}/part.parquet")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_near_dup_index_reload_equality(spark, docs, tmp_path):
    seed = docs.filter(F.col("doc_id") % 4 == 0)
    b1 = docs.filter(F.col("doc_id") % 4 == 1)
    b2 = docs.filter(F.col("doc_id") % 4 == 2)

    idx = dedup_ops.NearDupIndex(seed, "doc_id", "text")
    idx.absorb(b1)
    flags_live = _rows(idx.flag(b2))
    frame_live = _rows(idx.index_frame())
    # save() moves idx onto its snapshot; an unsaved twin keeps the
    # uninterrupted run to compare against
    twin = dedup_ops.NearDupIndex(seed, "doc_id", "text")
    twin.absorb(b1)

    path = str(tmp_path / "ndi")
    idx.save(path)
    back = dedup_ops.NearDupIndex.load(spark, path)
    assert (back.id_col, back.text_col, back.num_hashes, back.n,
            back.bands, back.rows_per_band) == (
        idx.id_col, idx.text_col, idx.num_hashes, idx.n,
        idx.bands, idx.rows_per_band,
    )
    assert _rows(back.index_frame()) == frame_live
    assert _rows(back.flag(b2)) == flags_live

    # absorbing PAST the boundary equals the uninterrupted run
    twin.absorb(b2)
    back.absorb(b2)
    assert _rows(back.index_frame()) == _rows(twin.index_frame())
    twin.release()


def test_linkage_index_reload_equality(spark, part, tmp_path):
    left = part.select(
        F.col("p_partkey").alias("pid"), F.col("p_name").alias("name")
    )
    idx = dedup_ops.LinkageIndex(left, "pid", "name", max_distance=2)
    feed = part.filter(F.col("p_partkey") % 16 == 1).select(
        (F.col("p_partkey") + F.lit(5_000_000)).alias("rid"),
        F.expr("substr(p_name, 2)").alias("s"),
    )
    live_link = _rows(idx.link(feed, "rid", "s"))
    live_best = _rows(idx.link_best(feed, "rid", "s"))
    live_parts = idx._lbase.rdd.getNumPartitions()

    path = str(tmp_path / "li")
    idx.save(path)
    back = dedup_ops.LinkageIndex.load(spark, path)
    assert (back.master_id, back.max_distance) == ("pid", 2)
    # the spread guard re-applies on load: the fan-out join must never
    # run on a single-file parquet's 1-2 partitions
    par = spark.sparkContext.defaultParallelism
    assert back._lbase.rdd.getNumPartitions() >= min(
        par, max(live_parts, 1)
    )
    assert _rows(back.link(feed, "rid", "s")) == live_link
    assert _rows(back.link_best(feed, "rid", "s")) == live_best
    back.release()


def test_hll_index_reload_equality(spark, orders, tmp_path):
    seed = orders.filter(F.col("o_orderkey") % 4 == 0)
    b1 = orders.filter(F.col("o_orderkey") % 4 == 1)
    b2 = orders.filter(F.col("o_orderkey") % 4 == 2)

    idx = sketches.HLLIndex(seed, ["o_orderstatus"], "o_custkey", p=8)
    idx.absorb(b1)
    est_live = _rows(idx.estimate())
    state_live = _rows(idx.state())
    twin = sketches.HLLIndex(seed, ["o_orderstatus"], "o_custkey", p=8).absorb(b1)

    path = str(tmp_path / "hll")
    idx.save(path)
    back = sketches.HLLIndex.load(spark, path)
    assert (back.keys, back.col, back.p) == (["o_orderstatus"], "o_custkey", 8)
    assert _rows(back.state()) == state_live
    assert _rows(back.estimate()) == est_live

    twin.absorb(b2)
    back.absorb(b2)
    assert _rows(back.state()) == _rows(twin.state())
    assert _rows(back.estimate()) == _rows(twin.estimate())
    twin.release()


def test_bm25_index_reload_equality(spark, docs, tmp_path):
    from etl_file_loader_spark.operators.text import BM25Index, bm25_score

    terms = ["shared", "doc"]
    seed = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)

    idx = BM25Index(seed, "doc_id", "text", terms)
    idx.absorb(b1)
    postings_live = _rows(idx.postings())
    twin = BM25Index(seed, "doc_id", "text", terms).absorb(b1)
    path = str(tmp_path / "bm25")
    idx.save(path)
    back = BM25Index.load(spark, path)
    assert (back.terms, back.k1, back.b) == (terms, 1.2, 0.75)
    assert _rows(back.postings()) == postings_live

    twin.absorb(b2)
    back.absorb(b2)
    assert _rows(back.score()) == _rows(twin.score())
    twin.release()
    # maintained score == scan-time one-shot over the whole corpus
    one_shot = _rows(bm25_score(docs, "doc_id", "text", terms))
    assert _rows(back.score()) == one_shot


def test_hll_saved_registers_are_engine_portable(spark, orders, tmp_path):
    """The persisted state is plain rows — DuckDB reads it directly and
    agrees on every register (the portable-sketch point of the design)."""
    import duckdb

    idx = sketches.HLLIndex(
        orders.filter(F.col("o_orderkey") % 4 == 0),
        ["o_orderstatus"], "o_custkey", p=8,
    )
    live = _rows(idx.state())
    path = str(tmp_path / "hllp")
    idx.save(path)
    duck = duckdb.sql(
        f"SELECT o_orderstatus, bucket, rho FROM '{path}/snapshot_v0/state/*.parquet' "
        f"ORDER BY 1, 2"
    ).fetchall()
    assert [tuple(r) for r in duck] == live


def test_cms_index_reload_and_exactly_once(spark, orders, tmp_path):
    from pyspark.sql import functions as F

    seed = orders.filter(F.col("o_orderkey") % 2 == 0)
    b1 = orders.filter(F.col("o_orderkey") % 2 == 1)
    cands = spark.createDataFrame([(1,), (2,), (500,)], "o_custkey long")

    idx = sketches.CMSIndex(seed, "o_custkey", depth=4, width=64)
    idx.absorb(b1)
    est_live = _rows(idx.query(cands, "o_custkey"))
    state_live = _rows(idx.state())

    path = str(tmp_path / "cms")
    idx.save(path)
    back = sketches.CMSIndex.load(spark, path)
    assert (back.col, back.depth, back.width) == ("o_custkey", 4, 64)
    assert _rows(back.state()) == state_live
    assert _rows(back.query(cands, "o_custkey")) == est_live

    # maintained == one-shot over the union
    one = sketches.cms_sketch(orders, "o_custkey", depth=4, width=64)
    assert state_live == _rows(one)

    # exactly-once contract: double absorb double-counts (sum, not max)
    total_before = back.state().agg(F.sum("cnt")).first()[0]
    back.absorb(b1)
    total_after = back.state().agg(F.sum("cnt")).first()[0]
    assert total_after == total_before + 4 * b1.count()


def test_kmv_index_reload_and_confluence(spark, orders, tmp_path):
    """KMVIndex: reload equality, maintained == one-shot, and — the
    property that separates it from the sum-merged Quantile/CMS —
    CONFLUENCE: replayed and out-of-order absorbs leave the state
    unchanged (set-union keep-k-smallest is idempotent)."""
    seed = orders.filter(F.col("o_orderkey") % 3 == 0)
    b1 = orders.filter(F.col("o_orderkey") % 3 == 1)
    b2 = orders.filter(F.col("o_orderkey") % 3 == 2)

    idx = sketches.KMVIndex(seed, ["o_orderstatus"], "o_custkey", k=32)
    idx.absorb(b1).absorb(b2)
    one = sketches.kmv_sketch(orders, ["o_orderstatus"], "o_custkey", k=32)
    state_live = _rows(idx.state())
    assert state_live == _rows(one)
    est_live = _rows(idx.estimate())

    path = str(tmp_path / "kmv")
    idx.save(path)
    back = sketches.KMVIndex.load(spark, path)
    assert (back.keys, back.col, back.k) == (["o_orderstatus"], "o_custkey", 32)
    assert _rows(back.state()) == state_live
    assert _rows(back.estimate()) == est_live

    # confluence: absorbing b1 AGAIN (a replay) changes nothing
    back.absorb(b1)
    assert _rows(back.state()) == state_live

    # order independence: seed -> b2 -> b1 equals seed -> b1 -> b2
    other = sketches.KMVIndex(seed, ["o_orderstatus"], "o_custkey", k=32)
    other.absorb(b2).absorb(b1)
    assert _rows(other.state()) == state_live


def test_save_publishes_atomically_and_load_refuses_torn_state(spark, orders, tmp_path):
    """State and meta of one save commit together as one snapshot
    (staged, marked, renamed), so new state never pairs with old meta;
    load refuses a torn or missing layout with a clear message."""
    import pytest as _pytest

    from etl_file_loader_spark.fs import FS
    from etl_file_loader_spark.operators.persist import load_index_state

    fs = FS(spark)
    path = str(tmp_path / "atomic")
    idx = sketches.HLLIndex(orders.limit(50), ["o_orderstatus"], "o_custkey", p=6)
    idx.save(path)
    assert fs.exists(f"{path}/snapshot_v0/_SUCCESS")

    # a second save replaces the snapshot in one adoption step and any
    # crashed staging husk is absorbed by the next attempt
    fs.mkdirs(f"{path}/_tmp_snapshot_v1.deadbeef")
    fs.write_text(f"{path}/_tmp_snapshot_v1.deadbeef/_SUCCESS", "")  # husk
    idx.save(path)
    state, meta = load_index_state(spark, path)
    assert meta["p"] == 6 and state.count() > 0
    assert sorted(fs.list_names(path)) == ["snapshot_v1"]

    # torn publish (no _SUCCESS): clear refusal, not an opaque path error
    fs.delete(f"{path}/snapshot_v1/_SUCCESS")
    with _pytest.raises(FileNotFoundError, match="_SUCCESS"):
        load_index_state(spark, path)

    # nothing at all: clear message
    with _pytest.raises(FileNotFoundError, match="no index state"):
        load_index_state(spark, str(tmp_path / "nowhere"))


def test_bm25_add_terms_equals_rebuild(spark, docs, tmp_path):
    """Round 14 (VERDICT r13 ask 6): watchlist-delta term addition — one
    corpus pass counting ONLY the new terms joined into the stored
    postings must equal a full rebuild with all terms, including across
    a save/load boundary, and must validate the exactly-once corpus."""
    from etl_file_loader_spark.operators.text import BM25Index, bm25_score

    seed = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    corpus = seed.unionByName(b1)

    idx = BM25Index(seed, "doc_id", "text", ["shared", "doc"])
    idx.absorb(b1)
    idx.add_terms(corpus, ["data", "Doc"])  # 'Doc' lowers to a no-op dup
    assert idx.terms == ["shared", "doc", "data"]
    got = _rows(idx.score())
    rebuilt = BM25Index(corpus, "doc_id", "text", ["shared", "doc", "data"])
    assert got == _rows(rebuilt.score())
    # one-shot scan-time agreement too
    assert got == _rows(bm25_score(corpus, "doc_id", "text", ["shared", "doc", "data"]))

    # the widened terms persist through save/load
    path = str(tmp_path / "bm25w")
    idx.save(path)
    idx.release()
    rebuilt.release()
    back = BM25Index.load(spark, path)
    assert back.terms == ["shared", "doc", "data"]
    assert _rows(back.score()) == got

    # all-dup addition is a no-op (same object, same terms)
    assert back.add_terms(corpus, ["DOC"]) is back
    assert back.terms == ["shared", "doc", "data"]


def test_bm25_add_terms_validates_corpus(spark, docs):
    from etl_file_loader_spark.operators.text import BM25Index

    seed = docs.filter(F.col("doc_id") % 3 == 0)
    idx = BM25Index(seed, "doc_id", "text", ["doc"])
    # missing docs -> nulls -> raise
    with pytest.raises(ValueError, match="exactly the absorbed docs"):
        idx.add_terms(seed.filter(F.col("doc_id") % 6 == 0), ["data"])
    # duplicated docs -> fan-out -> raise
    with pytest.raises(ValueError, match="exactly the absorbed docs"):
        idx.add_terms(seed.unionByName(seed), ["data"])
    # the failed attempts left the standing state usable and unchanged
    assert idx.terms == ["doc"]
    assert idx.score().count() == seed.count()
    idx.release()


def _mixed(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") % 13).cast("double").alias("val"),
        F.concat(
            F.lit("the quick brown fox jumps over doc "),
            (F.col("id") % 40).cast("string"),
        ).alias("text"),
    )


def _linkage_feed(spark):
    return spark.range(0, 90, 7).select(
        (F.col("id") + 10_000).alias("rid"),
        F.concat(
            F.lit("the quick brown fox jumps ovr doc "), F.col("id").cast("string")
        ).alias("s"),
    )


# name -> (build from a seed frame, read the index's answers as rows)
_REUSE_CASES = {
    "hll": (
        lambda seed: sketches.HLLIndex(seed, ["grp"], "id", p=6),
        lambda spark, idx: _rows(idx.estimate()),
    ),
    "quantile": (
        lambda seed: sketches.QuantileIndex(seed, ["grp"], "val"),
        lambda spark, idx: _rows(idx.estimate([500, 900])),
    ),
    "cms": (
        lambda seed: sketches.CMSIndex(seed, "grp", width=64),
        lambda spark, idx: _rows(
            idx.query(spark.createDataFrame([(0,), (3,)], "grp long"), "grp")
        ),
    ),
    "kmv": (
        lambda seed: sketches.KMVIndex(seed, ["grp"], "id", k=16),
        lambda spark, idx: _rows(idx.estimate()),
    ),
    "near_dup": (
        lambda seed: dedup_ops.NearDupIndex(seed, "id", "text"),
        lambda spark, idx: _rows(idx.flag(_mixed(spark, 85, 100))),
    ),
    "bm25": (
        lambda seed: BM25Index(seed, "id", "text", ["quick", "doc"]),
        lambda spark, idx: _rows(idx.score()),
    ),
    "linkage": (
        lambda seed: dedup_ops.LinkageIndex(seed, "id", "text", max_distance=1),
        lambda spark, idx: _rows(idx.link(_linkage_feed(spark), "rid", "s")),
    ),
}


@pytest.mark.parametrize("name", sorted(_REUSE_CASES))
def test_saved_index_saves_again_and_absorbs(spark, tmp_path, name):
    """load -> save(same path) -> read, and build -> save -> save ->
    absorb -> read, each equal to an index that was never saved: after a
    save the index reads the snapshot it committed, never an older one
    that the next save deletes."""
    build, read = _REUSE_CASES[name]
    seed, batch = _mixed(spark, 0, 60), _mixed(spark, 60, 90)
    ref = build(seed)
    want_seed = read(spark, ref)
    ref.absorb(batch)
    want = read(spark, ref)
    assert want_seed and want
    ref.release()

    path = str(tmp_path / "loaded")
    idx = build(seed)
    idx.save(path)
    idx.release()
    back = type(idx).load(spark, path)
    back.save(path)
    assert read(spark, back) == want_seed
    back.absorb(batch)
    assert read(spark, back) == want
    back.release()

    path = str(tmp_path / "built")
    idx = build(seed)
    idx.save(path)
    idx.save(path)
    idx.absorb(batch)
    assert read(spark, idx) == want
    idx.release()
