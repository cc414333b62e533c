"""Extension operators: dedup, similarity, text analysis, multimodal, warehouse."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_file_loader_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank today", "en"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank today", "en"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog near the river bank yesterday", "en"),  # near dup
        (4, "completely different content about spark query engines and shuffles", "en"),
        (5, "der schnelle braune fuchs springt ueber den faulen hund am fluss", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_duplicates(docs):
    groups = {r["representative_id"]: r["dup_count"] for r in dedup.exact_duplicates(docs, "doc_id", "text").collect()}
    assert groups[1] == 2  # docs 1+2 identical
    assert groups[3] == 1


def test_minhash_lsh_finds_near_dups(docs):
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=16, n=3)
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert (1, 2) in pairs  # identical docs always collide
    assert (1, 4) not in pairs and (2, 4) not in pairs  # unrelated don't
    # identical docs -> identical signatures
    s = {r["doc_id"]: tuple(r["signature"]) for r in sigs.collect()}
    assert s[1] == s[2]
    assert s[1] != s[4]


def test_simhash_distance(docs):
    h = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert h[1] == h[2]  # identical
    near = bin(h[1] ^ h[3]).count("1")
    far = bin(h[1] ^ h[4]).count("1")
    assert near < far  # near-dup closer in hamming space


def test_ngram_jaccard(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.4, block_col="lang").collect()
    by_pair = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert by_pair[(1, 2)] == 1.0
    assert 0.4 <= by_pair[(1, 3)] < 1.0
    assert (1, 4) not in by_pair
    assert all(a != 5 and b != 5 for a, b in by_pair)  # lang-blocked


def test_cosine_topk(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = similarity.cosine_topk(df, "vec_id", "embedding", [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 2]
    assert top[0]["score"] == 1.0


def test_lsh_topk_contains_exact_match(spark):
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    res = similarity.lsh_topk(df, "vec_id", "embedding", [1.0] + [0.0] * 7, k=3, num_planes=4)
    ids = [r["vec_id"] for r in res.collect()]
    assert 0 in ids  # the identical vector lands in the query's bucket


def test_ivf_topk(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.rand(40, 8).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = similarity.IVFIndex(n_lists=4).fit(df, "embedding")
    assigned = idx.assign(df, "embedding")
    q = [float(x) for x in base[5]]
    res = idx.search(assigned, "vec_id", "embedding", q, k=3, n_probe=2).collect()
    assert res[0]["vec_id"] == 5 and res[0]["score"] == 1.0


def test_text_profile(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox, it is the best!"), (2, ""), (3, "word")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.profile(df, "doc_id", "text").collect()}
    assert rows[1]["n_tokens"] == 8
    assert rows[1]["lang_pred"] == "en"
    assert 0 < rows[1]["punct_ratio"] < 0.2
    # len 0: len_score 0, punct_score 1.0, stop_score 0.5 -> 0.3 + 0.15
    assert rows[2]["n_tokens"] == 0 and rows[2]["quality"] == 0.45
    assert rows[3]["n_tokens"] == 1
    # fingerprint is case/order invariant
    df2 = spark.createDataFrame(
        [(1, "fox Brown THE quick"), (2, "the quick brown fox")], "doc_id long, text string"
    )
    fps = [r["fingerprint"] for r in text.profile(df2, "doc_id", "text").collect()]
    assert fps[0] == fps[1]


def test_multimodal_pack_decode_roundtrip(spark):
    payloads = [(i, multimodal.pack_fake_image(i, 64 + i, 48 + i)) for i in range(3)]
    df = spark.createDataFrame(payloads, "media_id long, content binary")
    decoded = {r["media_id"]: r for r in multimodal.decode_image(df, fake=True).collect()}
    assert decoded[1]["width"] == 65 and decoded[1]["height"] == 49
    assert decoded[1]["decode_ok"]
    body = bytes((1 * 31 + i) % 256 for i in range(64))
    assert decoded[1]["mean_pixel"] == sum(body) / len(body)


def test_multimodal_decode_real_path_is_honest(spark):
    # round 5: fake=False is a REAL decode path (stdlib PNG / PIL);
    # undecodable payloads yield decode_ok=False rows, no plan-time raise
    df = spark.createDataFrame([(1, b"x")], "media_id long, content binary")
    out = multimodal.decode_image(df, fake=False).collect()
    assert len(out) == 1 and not out[0]["decode_ok"]


def test_multimodal_meta_sniff(spark):
    rows = [
        (1, multimodal.pack_fake_image(1, 4, 4)),
        (2, b"\xff\xd8\xff rest"),
        (3, b"\x89PNG rest"),
        (4, b"plain"),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    metas = {r["media_id"]: r["meta"] for r in multimodal.attach_media_meta(df).collect()}
    assert metas[1]["mime"] == "image/x-fake"
    assert metas[2]["mime"] == "image/jpeg"
    assert metas[3]["mime"] == "image/png"
    assert metas[4]["mime"] == "application/octet-stream"
    assert metas[4]["byte_len"] == 5


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, bytes(160))], "media_id long, content binary")
    frames = multimodal.frame_sample_plan(df, every_n=3).collect()
    assert [r["frame_index"] for r in frames] == [0, 3, 6, 9]


def test_warehouse_versioning(spark, warehouse):
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(2, "b")], "id long, v string")
    warehouse.overwrite("t", df1)
    assert warehouse.read_table("t").count() == 1
    warehouse.append("t", df2)
    assert warehouse.read_table("t").count() == 2
    # overwrite from a plan that reads the current version (the merge shape)
    doubled = warehouse.read_table("t").withColumn("v", F.concat("v", F.lit("!")))
    warehouse.overwrite("t", doubled)
    assert sorted(r["v"] for r in warehouse.read_table("t").collect()) == ["a!", "b!"]
    warehouse.drop("t")
    assert not warehouse.exists("t")


_ = pd  # keep import used


def test_embedding_cosine_pairs_and_lsh_subset(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.05, 0.0, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.99, 0.05, 0.0]),   # near-dup of 3
        (5, [0.5, 0.5, 0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in dedup.embedding_cosine_pairs(df, "vec_id", "embedding", 0.95).collect()}
    assert set(exact) == {(1, 2), (3, 4)}
    assert all(c >= 0.95 for c in exact.values())
    # LSH variant returns a subset of the exact pairs (possibly missing some)
    lsh = {(r["id_a"], r["id_b"])
           for r in dedup.embedding_cosine_pairs_lsh(
               df, "vec_id", "embedding", 0.95, num_bands=2, planes_per_band=1
           ).collect()}
    assert lsh <= set(exact)


def test_connected_components(spark):
    # components: {1,2,3,9} (chain), {5,6}; singleton nodes don't appear
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 9), (5, 6)], "id_a long, id_b long"
    )
    cc = {r["doc_id"]: r["cluster_id"] for r in dedup.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}


def test_connected_components_deep_chain(spark):
    # one 16-hop chain: needs ~diameter rounds of label propagation; the
    # per-round localCheckpoint keeps the plan constant-size, so this
    # completes instead of replaying an ever-deepening lineage
    n = 17
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    cc = {r["doc_id"]: r["cluster_id"] for r in dedup.connected_components(pairs).collect()}
    assert cc == {i: 0 for i in range(n)}


def test_salted_agg_matches_plain(spark):
    from etl_file_loader_spark.operators.skew import salted_agg

    rows = [(i, "hot" if i % 10 else "cold", float(i)) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, k string, v double")
    salted = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in salted_agg(
            df, ["k"],
            {"n": ("sum", F.count(F.lit(1))),
             "s": ("sum", F.sum(F.col("v").cast("decimal(18,2)"))),
             "mx": ("max", F.max("v"))},
            salt=7,
        ).collect()
    }
    plain = {
        r["k"]: (r["n"], r["s"], r["mx"])
        for r in df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(18,2)")).alias("s"),
            F.max("v").alias("mx"),
        ).collect()
    }
    assert salted == plain


def test_resize_image_roundtrip(spark):
    payloads = [(1, multimodal.pack_fake_image(1, 100, 100))]
    df = spark.createDataFrame(payloads, "media_id long, content binary")
    resized = multimodal.resize_image(df, 8, 8, fake=True).collect()[0]
    assert resized["width"] == 8 and resized["height"] == 8
    # re-decode the resized payload: header reflects new dims
    redecoded = multimodal.decode_image(
        spark.createDataFrame([(1, bytes(resized["content"]))], "media_id long, content binary"),
        fake=True,
    ).collect()[0]
    assert redecoded["width"] == 8 and redecoded["decode_ok"]


def test_image_features_bridge_to_similarity(spark):
    """feature-extract stage: fake descriptor is unit-normalized, stable,
    and its output column plugs directly into the embedding near-dup op —
    identical payloads land at cosine 1.0, different ones below."""
    payloads = [
        (1, multimodal.pack_fake_image(1, 64, 48)),
        (2, multimodal.pack_fake_image(1, 64, 48)),   # identical content
        (3, multimodal.pack_fake_image(7, 640, 480)),  # different image
        (4, b"\xff\xd8\xffnot-decodable"),             # non-fake payload
    ]
    df = spark.createDataFrame(payloads, "media_id long, content binary")
    feats = multimodal.image_features(df, dim=8, fake=True)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert rows[4]["feature_ok"] is False and rows[4]["embedding"] is None
    v1 = rows[1]["embedding"]
    assert abs(sum(x * x for x in v1) - 1.0) < 1e-5
    assert rows[2]["embedding"] == v1
    assert rows[3]["embedding"] != v1
    # bridge: the op's output feeds embedding_cosine_pairs as-is
    from etl_file_loader_spark.operators.dedup import embedding_cosine_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_cosine_pairs(
            feats.filter(F.col("feature_ok")), "media_id", "embedding", threshold=0.99
        ).collect()
    }
    assert pairs.get((1, 2)) == 1.0
    assert (1, 3) not in pairs


def test_image_features_real_path_is_honest(spark):
    # round 5: fake=False decodes for real; junk bytes -> feature_ok=False
    df = spark.createDataFrame([(1, b"x")], "media_id long, content binary")
    out = multimodal.image_features(df).collect()
    assert len(out) == 1 and not out[0]["feature_ok"]


def test_rolling_fingerprint_order_sensitive(spark):
    from etl_file_loader_spark.operators.text import rolling_fingerprint

    df = spark.createDataFrame(
        [(1, "the quick fox"), (2, "fox quick the"), (3, "the quick fox")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in df.select("doc_id", rolling_fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[3]          # identical text -> identical hash
    assert fps[1] != fps[2]          # permuted words -> different hash


def test_multiprobe_lsh_recall_improves(spark):
    """Multi-probe probes adjacent buckets: recall vs exact top-k is
    monotonically >= single-probe, and reaches the exact set with enough
    probes on a small corpus."""
    import numpy as np

    from etl_file_loader_spark.operators import similarity

    rng = np.random.RandomState(11)
    vecs = rng.randn(60, 8).astype("float64")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[0]]
    exact = {r["vec_id"] for r in similarity.cosine_topk(df, "vec_id", "embedding", q, k=5).collect()}
    r1 = {r["vec_id"] for r in similarity.lsh_topk(df, "vec_id", "embedding", q, k=5, num_planes=6, n_probe=1).collect()}
    r8 = {r["vec_id"] for r in similarity.lsh_topk(df, "vec_id", "embedding", q, k=5, num_planes=6, n_probe=8).collect()}
    r64 = {r["vec_id"] for r in similarity.lsh_topk(df, "vec_id", "embedding", q, k=5, num_planes=6, n_probe=64).collect()}
    assert len(r1 & exact) <= len(r8 & exact) <= len(r64 & exact)
    assert r64 == exact  # probing all 64 buckets == brute force
    assert 0 in r1  # the query vector itself is always in its own bucket


def test_banded_lsh_recall_improves(spark):
    """OR-amplification: b bands of r planes find at least as many true
    pairs as one band of b*r planes."""
    import numpy as np

    from etl_file_loader_spark.operators import dedup

    rng = np.random.RandomState(5)
    base = rng.randn(25, 8)
    # 25 originals + 25 noisy near-duplicates
    noisy = base + 0.15 * rng.randn(25, 8)
    rows = [(i, [float(x) for x in base[i]]) for i in range(25)]
    rows += [(100 + i, [float(x) for x in noisy[i]]) for i in range(25)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r["id_a"], r["id_b"])
             for r in dedup.embedding_cosine_pairs(df, "vec_id", "embedding", 0.9).collect()}
    one_band = {(r["id_a"], r["id_b"])
                for r in dedup.embedding_cosine_pairs_lsh(
                    df, "vec_id", "embedding", 0.9, num_bands=1, planes_per_band=6
                ).collect()}
    banded = {(r["id_a"], r["id_b"])
              for r in dedup.embedding_cosine_pairs_lsh(
                  df, "vec_id", "embedding", 0.9, num_bands=3, planes_per_band=2
              ).collect()}
    assert one_band <= exact and banded <= exact  # no false positives (rescored)
    assert len(banded) >= len(one_band)
    assert len(banded) >= 0.8 * len(exact)  # banding recovers most true pairs


def test_knn_join_exact_and_lsh(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.95, 0.05, 0.0]),
        (3, [0.9, 0.1, 0.0]),
        (4, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    res = similarity.knn_join_exact(df, "vec_id", "embedding", k=2).collect()
    by_id = {}
    for r in res:
        by_id.setdefault(r["vec_id"], []).append((r["rank"], r["neighbor_id"]))
    assert sorted(by_id[1]) == [(1, 2), (2, 3)]  # nearest first
    assert len(by_id) == 4 and all(len(v) == 2 for v in by_id.values())
    # LSH variant: every returned pair exists in the exact all-pairs ranking
    exact_pairs = {(r["vec_id"], r["neighbor_id"]): r["cosine"] for r in
                   similarity.knn_join_exact(df, "vec_id", "embedding", k=3).collect()}
    lsh = similarity.knn_join_lsh(df, "vec_id", "embedding", k=2,
                                  num_bands=2, planes_per_band=1).collect()
    for r in lsh:
        assert exact_pairs.get((r["vec_id"], r["neighbor_id"])) == r["cosine"]


def test_audio_decode_fake_and_meta(spark):
    rows = [
        (1, multimodal.pack_fake_audio(1, 16000, 32000)),
        (2, b"RIFF....WAVE"),
        (3, b"ID3\x04rest"),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    metas = {r["media_id"]: r["meta"]["mime"] for r in multimodal.attach_media_meta(df).collect()}
    assert metas == {1: "audio/x-fake", 2: "audio/wav", 3: "audio/mpeg"}
    decoded = {r["media_id"]: r for r in multimodal.decode_audio(df, fake=True).collect()}
    assert decoded[1]["sample_rate"] == 16000 and decoded[1]["n_samples"] == 32000
    assert decoded[1]["duration_sec"] == 2.0 and decoded[1]["decode_ok"]
    assert not decoded[2]["decode_ok"]
    # round 5: fake=False is the real WAV path; the truncated RIFF payload
    # and the mp3 (no soundfile here) decode honestly as failures, while
    # the FAKEAUD payload still parses via its header semantics
    real = {r["media_id"]: r for r in multimodal.decode_audio(df, fake=False).collect()}
    assert real[1]["decode_ok"] and real[1]["sample_rate"] == 16000
    assert not real[2]["decode_ok"] and not real[3]["decode_ok"]


def test_warehouse_time_travel(spark, warehouse):
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    warehouse.overwrite("tt", df1)
    warehouse.overwrite("tt", spark.createDataFrame([(1, "b"), (2, "c")], "id long, v string"))
    versions = warehouse.table_versions("tt")
    assert len(versions) == 2
    old = warehouse.read_table("tt", version=versions[0])
    assert [r["v"] for r in old.collect()] == ["a"]
    assert warehouse.read_table("tt").count() == 2
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        warehouse.read_table("tt", version=999)


def test_minhash_engines_bit_identical(spark, docs):
    """The arrow and expression minhash engines produce identical
    signatures (pure md5 + int64 modular arithmetic, no floats)."""
    expr = {r["doc_id"]: list(r["signature"]) for r in
            dedup.minhash_signatures(docs, "doc_id", "text", 16, 3, engine="expr").collect()}
    arrow = {r["doc_id"]: list(r["signature"]) for r in
             dedup.minhash_signatures(docs, "doc_id", "text", 16, 3, engine="arrow").collect()}
    assert expr == arrow
    # edge cases: empty text, whitespace-only, short text, null
    edge = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "two words"), (4, None)],
        "doc_id long, text string",
    )
    e = {r["doc_id"]: list(r["signature"]) for r in
         dedup.minhash_signatures(edge, "doc_id", "text", 8, 5, engine="expr").collect()}
    a = {r["doc_id"]: list(r["signature"]) for r in
         dedup.minhash_signatures(edge, "doc_id", "text", 8, 5, engine="arrow").collect()}
    assert e == a
    assert a[4] == a[1]  # null text ≡ empty text (one "" shingle) in both


def test_hash_split_stable_disjoint_and_rated(spark):
    from etl_file_loader_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    out = sampling.hash_split(df, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.05})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # every doc gets exactly one label (or NULL); fractions roughly honored
    assert sum(counts.values()) == 2000
    assert 0.75 < counts["train"] / 2000 < 0.85
    assert 0.07 < counts["valid"] / 2000 < 0.13
    assert counts.get(None, 0) > 0  # the unassigned 5% remainder exists
    # stability: growing the corpus never relabels existing docs
    bigger = spark.createDataFrame([(i,) for i in range(4000)], "doc_id long")
    out2 = sampling.hash_split(
        bigger, "doc_id", {"train": 0.8, "valid": 0.1, "test": 0.05}
    )
    first = {r["doc_id"]: r["split"] for r in out.collect()}
    second = {r["doc_id"]: r["split"] for r in out2.collect() if r["doc_id"] < 2000}
    assert first == second


def test_weighted_repeat_counts(spark):
    from etl_file_loader_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, 2.5 if i % 2 else 0.5) for i in range(1000)],
        "doc_id long, w double",
    )
    out = sampling.weighted_repeat(df, "doc_id", F.col("w"))
    per_doc = {r["doc_id"]: r["n"] for r in out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    odd = [per_doc.get(i, 0) for i in range(1, 1000, 2)]    # w=2.5
    even = [per_doc.get(i, 0) for i in range(0, 1000, 2)]   # w=0.5
    assert set(odd) <= {2, 3} and 0.4 < sum(1 for n in odd if n == 3) / len(odd) < 0.6
    assert set(even) <= {0, 1} and 0.4 < sum(even) / len(even) < 0.6
    # epochs are 1-based consecutive
    eps = [r["_epoch"] for r in out.filter(F.col("doc_id") == 1).collect()]
    assert sorted(eps) == list(range(1, len(eps) + 1))
    # determinism
    again = {r["doc_id"]: r["n"] for r in sampling.weighted_repeat(
        df, "doc_id", F.col("w")).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert per_doc == again


def test_shuffle_key_deterministic_and_decorrelated(spark):
    from etl_file_loader_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    keyed = df.select("doc_id", sampling.shuffle_key(F.col("doc_id")).alias("k"))
    rows = keyed.orderBy("k", "doc_id").collect()
    order = [r["doc_id"] for r in rows]
    assert sorted(order) == list(range(500)) and order != list(range(500))
    # decorrelated from id order: adjacent ids rarely stay adjacent
    pos = {d: i for i, d in enumerate(order)}
    adjacent = sum(1 for d in range(499) if abs(pos[d] - pos[d + 1]) == 1)
    assert adjacent < 25
    # different seed, different permutation; same seed, same permutation
    order2 = [
        r["doc_id"]
        for r in df.select(
            "doc_id", sampling.shuffle_key(F.col("doc_id"), seed="other").alias("k")
        ).orderBy("k", "doc_id").collect()
    ]
    assert order2 != order
    assert [r["doc_id"] for r in keyed.orderBy("k", "doc_id").collect()] == order


def test_pack_shards_order_col_override(spark):
    from etl_file_loader_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "en", 10) for i in range(100)], "doc_id long, lang string, n long"
    )
    keyed = df.withColumn("_sk", sampling.shuffle_key(F.col("doc_id")))
    by_id = sampling.pack_shards(df, "doc_id", "n", 200, partition_cols=["lang"])
    by_key = sampling.pack_shards(
        keyed, "doc_id", "n", 200, partition_cols=["lang"], order_col="_sk"
    )
    id_shards = {r["doc_id"]: r["shard_id"] for r in by_id.collect()}
    key_shards = {r["doc_id"]: r["shard_id"] for r in by_key.collect()}
    # same shard count + sizes (20 docs per 200-token shard), different membership
    assert sorted(id_shards.values()) == sorted(key_shards.values())
    assert id_shards != key_shards


def test_stratified_sample_deterministic_and_rated(spark):
    from etl_file_loader_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(1000)], "doc_id long, lang string"
    )
    kept1 = sampling.stratified_sample(df, "lang", {"en": 0.5, "de": 1.0}, "doc_id")
    kept2 = sampling.stratified_sample(df, "lang", {"en": 0.5, "de": 1.0}, "doc_id")
    rows1 = {r["doc_id"] for r in kept1.collect()}
    rows2 = {r["doc_id"] for r in kept2.collect()}
    assert rows1 == rows2  # pure function of ids — no RNG
    by_lang = {r["lang"]: r["cnt"] for r in kept1.groupBy("lang").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("cnt")
    ).collect()}
    assert by_lang["de"] == 500            # rate 1.0 keeps everything
    assert 175 <= by_lang["en"] <= 325     # ~50% of 500, md5-uniform
    # unlisted strata default to dropped
    df2 = df.withColumn("lang", F.lit("zh"))
    assert sampling.stratified_sample(df2, "lang", {"en": 1.0}, "doc_id").isEmpty()


def test_pack_shards_budget_and_straddle(spark):
    from etl_file_loader_spark.operators import sampling

    rows = [(1, 900), (2, 900), (3, 900), (4, 100), (5, 2500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    packed = {r["doc_id"]: r["shard_id"] for r in
              sampling.pack_shards(df, "doc_id", "n_tokens", budget=1000,
                                   allow_global_sort=True).collect()}
    # doc2 starts at prefix 900 (< 1000) so it STAYS in shard 0 (straddle);
    # doc3 starts at 1800 -> shard 1; doc4 at 2700 -> shard 2; doc5 at 2800 -> shard 2
    assert packed == {1: 0, 2: 0, 3: 1, 4: 2, 5: 2}

    manifest = {(r["shard_id"]): (r["docs"], r["tokens"]) for r in
                sampling.shard_manifest(
                    sampling.pack_shards(df, "doc_id", "n_tokens", budget=1000,
                                         allow_global_sort=True),
                    "n_tokens").collect()}
    assert manifest == {0: (2, 1800), 1: (1, 900), 2: (2, 2600)}


def test_pack_shards_global_requires_opt_in(spark):
    """The global single-task sort is opt-in: without partition_cols the
    operator refuses rather than silently planning an unscalable window."""
    import pytest

    from etl_file_loader_spark.operators import sampling

    df = spark.createDataFrame([(1, 100)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError, match="single-task global sort"):
        sampling.pack_shards(df, "doc_id", "n_tokens", budget=1000)


def test_pack_shards_partitioned_resets_per_partition(spark):
    from etl_file_loader_spark.operators import sampling

    rows = [(1, "en", 800), (2, "en", 800), (3, "de", 800), (4, "de", 800)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    packed = {(r["lang"], r["doc_id"]): r["shard_id"] for r in
              sampling.pack_shards(df, "doc_id", "n_tokens", 1000, ["lang"]).collect()}
    # each language packs independently from shard 0
    assert packed == {("en", 1): 0, ("en", 2): 0, ("de", 3): 0, ("de", 4): 0}


def test_incremental_dedup_flags_corpus_matches(spark):
    corpus = spark.createDataFrame(
        [(2, "the quick brown fox"), (4, "totally unique corpus text")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "The QUICK brown fox"),        # fingerprint-dup of 2 (case)
            (3, "fox brown quick the"),        # dup of 2 (order-invariant)
            (5, "brand new never seen text"),  # unique
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["matched_corpus_id"], r["is_dup"]) for r in
           dedup.incremental_dedup(new, corpus, "doc_id", "text").collect()}
    assert out == {1: (2, 1), 3: (2, 1), 5: (None, 0)}


def test_pii_scrub_and_counts(spark):
    rows = [
        (1, "mail me at jane.doe+x@corp.example.org today"),
        (2, "call 555-123-4567 or 555.987.6543 now"),
        (3, "ssn 123-45-6789 on file"),
        (4, "nothing sensitive here 12345"),
        (5, "combo a@b.io and 111-22-3333 and 222-333-4444"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = df.select(
        "id",
        text.pii_counts(F.col("t")).alias("c"),
        text.scrub_pii(F.col("t")).alias("s"),
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["c"]["n_email"] == 1 and "[EMAIL]" in by_id[1]["s"]
    assert "jane" not in by_id[1]["s"]
    assert by_id[2]["c"]["n_phone"] == 2 and by_id[2]["s"].count("[PHONE]") == 2
    assert by_id[3]["c"]["n_ssn"] == 1 and "[SSN]" in by_id[3]["s"]
    assert by_id[4]["c"] == (0, 0, 0) and by_id[4]["s"] == rows[3][1]
    # SSN (3-2-4) and phone (3-3-4) never cross-match
    assert by_id[5]["c"]["n_ssn"] == 1 and by_id[5]["c"]["n_phone"] == 1


def test_repetition_stats_shares(spark):
    rows = [
        (1, "a b a b a b"),        # top bigram 'a b' x3 of 5 grams, 6 tokens
        (2, "w x y z"),            # all bigrams unique
        (3, "solo"),               # < n tokens -> share 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.repetition_stats(df, "doc_id", "text").collect()}
    assert out[1]["top_gram_count"] == 3 and out[1]["top_gram_share"] == 1.0
    assert out[2]["top_gram_count"] == 1 and out[2]["top_gram_share"] == 0.5
    assert out[3]["top_gram_count"] == 0 and out[3]["top_gram_share"] == 0.0


def test_contamination_broadcast_join(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "xx the quick brown fox jumps yy"),   # 1 matching 5-gram
            (2, "totally unrelated words only here"),
            (3, "quick brown fox jumps over and out"),  # 1 matching 5-gram
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["matched_grams"]
        for r in text.contamination(corpus, bench, "doc_id", "text", n=5).collect()
    }
    assert got == {1: 1, 3: 1}
    # the benchmark side broadcasts: no shuffle exchange on the corpus scan
    plan = text.contamination(corpus, bench, "doc_id", "text", n=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_duplicated_window_stats(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),              # 3 windows; "a b c d e" shared
            (2, "x y a b c d e q"),            # 4 windows; "a b c d e" shared
            (3, "unique words only here now"),  # 1 window, unshared
            (4, "a b"),                         # < window tokens -> 0 windows
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in text.duplicated_window_stats(df, "doc_id", "text", window=5).collect()
    }
    assert (out[1]["n_windows"], out[1]["dup_windows"]) == (3, 1)
    assert out[1]["dup_share"] == round(1 / 3, 4)
    assert (out[2]["n_windows"], out[2]["dup_windows"]) == (4, 1)
    assert (out[3]["n_windows"], out[3]["dup_windows"]) == (1, 0)
    assert (out[4]["n_windows"], out[4]["dup_windows"]) == (0, 0)
    assert out[4]["dup_share"] == 0.0


def test_duplicated_windows_counts_every_occurrence(spark):
    # a doc repeating a window that another doc also has: each occurrence of
    # the duplicated window counts toward dup_windows
    df = spark.createDataFrame(
        [(1, "p q r s t z p q r s t"), (2, "p q r s t")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in text.duplicated_window_stats(df, "doc_id", "text", window=5).collect()
    }
    # doc 1 has 7 windows, two of which are "p q r s t"
    assert (out[1]["n_windows"], out[1]["dup_windows"]) == (7, 2)
    assert (out[2]["n_windows"], out[2]["dup_windows"]) == (1, 1)


def test_incremental_near_dedup_flags_band_matches(spark):
    corpus = spark.createDataFrame(
        [
            (2, "the quick brown fox jumps over the lazy dog today"),
            (4, "completely different corpus content lives right here now"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # identical text -> every band matches doc 2
            (1, "the quick brown fox jumps over the lazy dog today"),
            # no shingles in common with any corpus doc
            (3, "unrelated fresh words that match nothing in the index"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["matched_corpus_id"], r["is_near_dup"])
        for r in dedup.incremental_near_dedup(new, corpus, "doc_id", "text").collect()
    }
    assert out == {1: (2, 1), 3: (None, 0)}
    # agreement with the batch path: a new doc is flagged iff the combined
    # corpus+delta candidate pairs contain a cross-side pair for it
    both = corpus.unionByName(new)
    sigs = dedup.minhash_signatures(both, "doc_id", "text")
    pairs = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in dedup.lsh_candidate_pairs(sigs, "doc_id").collect()
    }
    assert (1, 2) in pairs


def test_line_dedup_keeps_first_occurrence_and_blanks(spark):
    df = spark.createDataFrame(
        [
            (1, "intro text\ncookie banner\nbody one"),
            (2, "cookie banner\n\nbody two\nbody two"),  # banner dup; blank kept;
            #                                              within-doc repeat dropped
            (3, "body one\ncookie banner"),               # both lines seen before
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.line_dedup(df, "doc_id", "text").collect()}
    assert out[1]["cleaned_text"] == "intro text\ncookie banner\nbody one"
    assert (out[1]["n_lines"], out[1]["kept_lines"]) == (3, 3)
    # doc 2: banner dropped (doc 1 had it), blank survives, second "body two"
    # dropped (first occurrence is doc 2 pos 2)
    assert out[2]["cleaned_text"] == "\nbody two"
    assert (out[2]["n_lines"], out[2]["kept_lines"]) == (4, 2)
    # doc 3 loses every line
    assert out[3]["cleaned_text"] == ""
    assert (out[3]["n_lines"], out[3]["kept_lines"]) == (2, 0)


def test_semantic_dedup_matches_exact_on_clustered_fixture(spark):
    from etl_file_loader_spark import fixtures, suite

    rows = {
        r["metric"]: r["passed"]
        for r in suite.QUERIES["semantic_dedup_check"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert rows == {"semantic_dedup_survivor_match": 1}

    # structural: survivors keep exactly one representative per dup group
    emb = fixtures.clustered_embeddings(spark, n=200)
    surv = dedup.semantic_dedup(emb, "vec_id", "embedding", n_clusters=8, threshold=0.95)
    assert 0 < surv.count() < 200
    assert surv.columns == emb.columns


def test_remove_near_duplicates_keeps_representatives(spark):
    from etl_file_loader_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),                               # exact dup of 1
        (3, base.replace("today", "tonight")),   # near dup of 1
        (4, "completely different text with no overlapping shingles here at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(
        r.doc_id
        for r in dedup.remove_near_duplicates(
            df, "doc_id", "text", num_hashes=16, n=3, bands=8, rows_per_band=2
        ).collect()
    )
    # min-id representative (1) survives its cluster {1,2,3}; 4 untouched
    assert kept == [1, 4]


# ---------------------------------------------------------------------------
# remove_duplicate_spans (exact-substring span removal, Lee et al. semantics)
# ---------------------------------------------------------------------------


def _span_rows(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r["doc_id"]: r
        for r in text.remove_duplicate_spans(df, "doc_id", "text", window=5).collect()
    }


def test_span_dedup_cross_doc_keeps_first(spark):
    shared = "alpha bravo charlie delta echo"
    out = _span_rows(
        spark,
        [
            (1, f"{shared} unique one tail words here"),
            (2, f"prefix words go here {shared}"),
        ],
    )
    # doc 1 holds the globally-first occurrence -> untouched
    assert out[1]["n_spans"] == 0
    assert out[1]["removed_tokens"] == 0
    assert out[1]["cleaned_text"].startswith(shared)
    # doc 2's copy is cut; its unique prefix survives
    assert out[2]["n_spans"] == 1
    assert out[2]["removed_tokens"] == 5
    assert out[2]["cleaned_text"] == "prefix words go here"


def test_span_dedup_within_doc_repeat(spark):
    s = "one two three four five"
    out = _span_rows(spark, [(1, f"{s} mid {s}")])
    # second in-doc occurrence removed, first kept
    assert out[1]["n_spans"] == 1
    assert out[1]["removed_tokens"] == 5
    assert out[1]["cleaned_text"] == f"{s} mid"


def test_span_dedup_overlapping_windows_merge(spark):
    # 7 shared tokens -> 3 overlapping dup windows in doc 2 -> ONE span of 7
    shared = "w1 w2 w3 w4 w5 w6 w7"
    out = _span_rows(
        spark,
        [
            (1, f"{shared} doc one specific closing words"),
            (2, f"doc two specific opening words {shared}"),
        ],
    )
    assert out[2]["n_spans"] == 1
    assert out[2]["removed_tokens"] == 7
    assert out[2]["cleaned_text"] == "doc two specific opening words"


def test_span_dedup_full_doc_duplicate(spark):
    t = "exact copy of this entire short document text body"
    out = _span_rows(spark, [(1, t), (2, t)])
    assert out[1]["cleaned_text"] == t  # first occurrence survives verbatim
    assert out[2]["cleaned_text"] == ""
    assert out[2]["removed_tokens"] == out[2]["n_tokens"]


def test_span_dedup_two_separate_islands(spark):
    a = "a1 a2 a3 a4 a5"
    b = "b1 b2 b3 b4 b5"
    out = _span_rows(
        spark,
        [
            (1, f"{a} filler {b}"),
            (2, f"{a} gap1 gap2 gap3 gap4 gap5 gap6 {b}"),
        ],
    )
    # both shared 5-grams duplicated; doc 2 loses two disjoint spans
    assert out[2]["n_spans"] == 2
    assert out[2]["removed_tokens"] == 10
    assert out[2]["cleaned_text"] == "gap1 gap2 gap3 gap4 gap5 gap6"


def test_span_dedup_no_dups_and_short_docs(spark):
    out = _span_rows(
        spark,
        [(1, "totally unique words nothing shared anywhere"), (2, "tiny doc"), (3, "")],
    )
    for i in (1, 2, 3):
        assert out[i]["n_spans"] == 0
        assert out[i]["removed_tokens"] == 0
    assert out[1]["cleaned_text"] == "totally unique words nothing shared anywhere"
    assert out[2]["cleaned_text"] == "tiny doc"
    assert out[3]["cleaned_text"] == ""


# ---------------------------------------------------------------------------
# temperature_mixture (UniMax / alpha-sampling domain mixture)
# ---------------------------------------------------------------------------


def _mix_df(spark, rows):
    from etl_file_loader_spark.operators import sampling

    df = spark.createDataFrame(rows, "doc_id long, dom string, sz long")
    return sampling.temperature_mixture(
        df, "doc_id", "dom", "sz", alpha=0.5, max_epochs=4.0
    )


def test_temperature_mixture_boosts_small_domains(spark):
    # big: 9 docs of 100; small: 1 doc of 100 -> T_big=900, T_small=100
    # sqrt weights: 30 / 10; B = 1000
    # w_big = 1000*30/40/900 = 0.8333..., w_small = 1000*10/40/100 = 2.5
    rows = [(i, "big", 100) for i in range(9)] + [(100, "small", 100)]
    out = _mix_df(spark, rows).collect()
    per_doc = {}
    for r in out:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
    # the small domain's doc repeats 2 or 3 times (floor 2 + Bernoulli)
    assert per_doc[100] in (2, 3)
    # every big-domain doc appears at most once (weight < 1)
    assert all(per_doc.get(i, 0) <= 1 for i in range(9))
    # weight column surfaced
    w = {r["dom"]: r["_mix_w"] for r in out}
    assert w["small"] == pytest.approx(2.5)
    assert w["big"] == pytest.approx(1000 * 30 / 40 / 900)


def test_temperature_mixture_epoch_cap(spark):
    from etl_file_loader_spark.operators import sampling

    # tiny domain would get weight 5.05 uncapped; cap at 2 -> exactly 2 copies
    rows = [(i, "big", 1000) for i in range(10)] + [(99, "tiny", 10)]
    df = spark.createDataFrame(rows, "doc_id long, dom string, sz long")
    out = sampling.temperature_mixture(
        df, "doc_id", "dom", "sz", alpha=0.5, max_epochs=2.0
    ).collect()
    tiny = [r for r in out if r["doc_id"] == 99]
    assert len(tiny) == 2
    assert {r["_epoch"] for r in tiny} == {1, 2}


def test_temperature_mixture_alpha_one_is_identity_weights(spark):
    from etl_file_loader_spark.operators import sampling

    # alpha = 1: p_d proportional to T_d -> every weight exactly 1.0
    rows = [(1, "a", 50), (2, "a", 150), (3, "b", 400)]
    df = spark.createDataFrame(rows, "doc_id long, dom string, sz long")
    out = sampling.temperature_mixture(df, "doc_id", "dom", "sz", alpha=1.0).collect()
    assert len(out) == 3
    assert all(r["_mix_w"] == pytest.approx(1.0) for r in out)
    assert all(r["_epoch"] == 1 for r in out)


def test_temperature_mixture_budget_scales_output(spark):
    from etl_file_loader_spark.operators import sampling

    # explicit half budget with alpha=1 -> every weight exactly 0.5
    rows = [(i, "a", 100) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, dom string, sz long")
    out = sampling.temperature_mixture(
        df, "doc_id", "dom", "sz", alpha=1.0, budget=2000.0
    ).collect()
    assert all(r["_mix_w"] == pytest.approx(0.5) for r in out)
    # deterministic Bernoulli keeps roughly half (exact set fixed by md5 keys)
    assert 10 <= len(out) <= 30


# ---------------------------------------------------------------------------
# gopher_quality (Rae et al. 2021 Appendix A document-shape rules)
# ---------------------------------------------------------------------------


def _gq(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r["doc_id"]: r for r in text.gopher_quality(df, "doc_id", "text", **kw).collect()
    }


def test_gopher_quality_word_count_band(spark):
    good = "the words flow and that have with more body " * 6  # 54 words
    short = "the and that have with brief"
    out = _gq(spark, [(1, good), (2, short)])
    assert out[1]["n_words"] == 54 and out[1]["keep"] == 1
    assert out[2]["keep"] == 0  # below the 50-word floor


def test_gopher_quality_symbol_and_alpha_rules(spark):
    base = "the and that have with solid wording overall " + " ".join(
        f"w{i}" for i in range(45)
    )
    hashy = base + " " + " ".join("#tag" for _ in range(12))
    numeric = "the and that have with " + " ".join(str(i) for i in range(50))
    out = _gq(spark, [(1, base), (2, hashy), (3, numeric)])
    assert out[1]["keep"] == 1
    assert out[2]["symbol_ratio"] > 0.1 and out[2]["keep"] == 0
    assert out[3]["alpha_word_share"] < 0.8 and out[3]["keep"] == 0


def test_gopher_quality_line_rules(spark):
    body = "the and that have with steady prose here " * 7  # 56 words
    bullets = "\n".join("- item number " + str(i) for i in range(10))
    dots = "\n".join("the and that have with trailing part..." for _ in range(10))
    out = _gq(spark, [(1, body), (2, bullets), (3, dots)])
    assert out[1]["bullet_line_share"] == 0.0 and out[1]["keep"] == 1
    assert out[2]["bullet_line_share"] == 1.0 and out[2]["keep"] == 0
    assert out[3]["ellipsis_line_share"] == 1.0 and out[3]["keep"] == 0


def test_gopher_quality_stopword_presence_and_empty(spark):
    nostops = " ".join(f"token{i}" for i in range(60))
    out = _gq(spark, [(1, nostops), (2, "")])
    assert out[1]["n_stop_hits"] < 2 and out[1]["keep"] == 0
    assert out[2]["n_words"] == 0 and out[2]["keep"] == 0


def test_gopher_quality_mean_word_length_band(spark):
    longwords = "the and that have with " + " ".join(
        "supercalifragilistic" for _ in range(50)
    )
    out = _gq(spark, [(1, longwords)])
    assert out[1]["mean_word_len"] > 10.0 and out[1]["keep"] == 0


# ---------------------------------------------------------------------------
# gopher_repetition (Rae et al. 2021 Table A1 repetition rules)
# ---------------------------------------------------------------------------


def _gr(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r["doc_id"]: r
        for r in text.gopher_repetition(df, "doc_id", "text", **kw).collect()
    }


def test_gopher_repetition_line_and_para_fractions(spark):
    doc = "hello world\nhello world\nunique line\n\npara one\n\npara one"
    out = _gr(spark, [(1, doc)])
    r = out[1]
    # 5 nonblank lines, 2 dup occurrences; chars 49, dup chars 11 + 8
    assert r["n_lines"] == 5 and r["dup_line_frac"] == pytest.approx(0.4)
    assert r["dup_line_char_frac"] == pytest.approx(round(19 / 49, 6))
    # 3 paragraphs (blank-line split), 1 dup occurrence of "para one"
    assert r["n_paras"] == 3 and r["dup_para_frac"] == pytest.approx(round(1 / 3, 6))
    assert r["dup_para_char_frac"] == pytest.approx(round(8 / 51, 6))


def test_gopher_repetition_top_gram_tiebreak_and_chars(spark):
    # "a b"x3 / "b a"x2 -> top bigram "a b", covered 3*2 of 6 word chars;
    # trigrams tie at 2 ("a b a" vs "b a b") -> lex-smallest "a b a"
    out = _gr(spark, [(1, "a b a b a b")])
    r = out[1]
    assert r["top_2gram_char_frac"] == pytest.approx(1.0)
    assert r["top_3gram_char_frac"] == pytest.approx(1.0)  # 2*3 / 6
    # top 4-gram "a b a b" x2 -> 8/6: overlapping occurrences may exceed 1
    assert r["top_4gram_char_frac"] == pytest.approx(round(8 / 6, 6))


def test_gopher_repetition_dup_gram_coverage_counts_overlaps_once(spark):
    # every 5..8-gram of this 10-token doc repeats -> full coverage (1.0),
    # NOT the sum of occurrence lengths (which would be > 1)
    out = _gr(spark, [(1, "x y x y x y x y x y"), (2, "a b c d e f g h i j")])
    r = out[1]
    for n in (5, 6, 7, 8):
        assert r[f"dup_{n}gram_char_frac"] == pytest.approx(1.0)
    # 9- and 10-grams occur once each -> no duplicated coverage
    assert r["dup_9gram_char_frac"] == 0.0 and r["dup_10gram_char_frac"] == 0.0
    assert r["keep"] == 0
    # all-distinct tokens: nothing repeats at any n
    r2 = out[2]
    for n in range(5, 11):
        assert r2[f"dup_{n}gram_char_frac"] == 0.0


def test_gopher_repetition_partial_coverage_value(spark):
    # 12 tokens, one duplicated 5-gram ("p q r s t" at pos 0 and 7 after
    # filler) -> covered positions are exactly those two spans (10 tokens)
    doc = "p q r s t u v p q r s t"
    out = _gr(spark, [(1, doc)])
    r = out[1]
    # covered tokens: 0..4 and 7..11 -> 10 of 12 single-char words
    assert r["dup_5gram_char_frac"] == pytest.approx(round(10 / 12, 6))
    assert r["dup_6gram_char_frac"] == 0.0


def test_gopher_repetition_thresholds_and_keep(spark):
    clean = " ".join(f"w{i}" for i in range(40))
    # dup_line_frac 0.5 > 0.30 -> dropped by line rule only
    liney = "\n".join(["same line"] * 3 + ["other one", "another x", "final yz"])
    out = _gr(spark, [(1, clean), (2, liney)])
    assert out[1]["keep"] == 1
    r = out[2]
    assert r["dup_line_frac"] == pytest.approx(round(2 / 6, 6))
    assert r["keep"] == 0
    # raising every fired threshold readmits the doc (the repeated line
    # also dominates the char and top-gram signals)
    out2 = _gr(
        spark,
        [(2, liney)],
        thresholds={
            "dup_line_frac": 0.5,
            "dup_line_char_frac": 0.4,
            "top_2gram_char_frac": 0.6,
            "top_3gram_char_frac": 0.6,
            "top_4gram_char_frac": 0.7,
        },
    )
    assert out2[2]["keep"] == 1


def test_gopher_repetition_empty_and_unknown_threshold(spark):
    # a lone bigram covers 100% of a 2-word doc: the published top-gram
    # rule fires even at count 1 (shape rules normally remove tiny docs
    # before repetition runs)
    out = _gr(spark, [(1, ""), (2, "word"), (3, "one two")])
    assert out[1]["keep"] == 1 and out[1]["n_lines"] == 0
    assert out[2]["keep"] == 1  # no grams at all
    assert out[3]["top_2gram_char_frac"] == pytest.approx(1.0)
    assert out[3]["keep"] == 0
    with pytest.raises(ValueError, match="unknown gopher repetition"):
        _gr(spark, [(1, "a b")], thresholds={"nope": 0.1})


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------


def test_bm25_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in text.bm25_score(df, "doc_id", "text", ["apple", "banana"]).collect()
    }
    # N=3, avgdl=2, df_apple=1, df_banana=2
    idf_a = math.log(1 + (3 - 1 + 0.5) / 1.5)
    idf_b = math.log(1 + (3 - 2 + 0.5) / 2.5)

    def part(tf, dl, idf):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 2.0))

    assert out[1]["bm25"] == pytest.approx(
        round(part(2, 3, idf_a) + part(1, 3, idf_b), 6)
    )
    assert out[2]["bm25"] == pytest.approx(round(part(1, 2, idf_b), 6))
    assert out[3]["bm25"] == 0.0
    assert out[1]["n_tokens"] == 3


def test_bm25_topk_order_and_dedup_terms(spark):
    df = spark.createDataFrame(
        [(i, "match term here" if i % 2 else "other words only") for i in range(10)],
        "doc_id long, text string",
    )
    # duplicate + mixed-case terms collapse; k cuts deterministically by id
    top = text.bm25_topk(df, "doc_id", "text", ["Match", "match"], k=3).collect()
    assert [r["doc_id"] for r in top] == [1, 3, 5]
    assert all(r["bm25"] > 0 for r in top)
    with pytest.raises(ValueError, match="non-empty"):
        text.bm25_score(df, "doc_id", "text", [])


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------


def _dsir_py_weight(doc, target_docs, raw_docs, B=64, alpha=1.0):
    """Reference implementation: hashed uni+bigram Laplace log-ratio."""
    import hashlib
    import math

    def feats(t):
        w = [x.lower() for x in t.split()]
        return w + [f"{a} {b}" for a, b in zip(w, w[1:])]

    def bkt(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % B

    ct, cq = {}, {}
    for d in target_docs:
        for f in feats(d):
            ct[bkt(f)] = ct.get(bkt(f), 0) + 1
    for d in raw_docs:
        for f in feats(d):
            cq[bkt(f)] = cq.get(bkt(f), 0) + 1
    tt, tq = sum(ct.values()), sum(cq.values())
    s = 0.0
    prof = {}
    for f in feats(doc):
        prof[bkt(f)] = prof.get(bkt(f), 0) + 1
    for b in sorted(prof):
        lr = math.log((ct.get(b, 0) + alpha) / (tt + alpha * B)) - math.log(
            (cq.get(b, 0) + alpha) / (tq + alpha * B)
        )
        s += prof[b] * lr
    return round(s, 6)


def test_dsir_weights_match_reference_impl(spark):
    from etl_file_loader_spark.operators import sampling as S

    raws = [
        "the cat sat on the mat",
        "der hund lief im park",
        "the dog ran in the park",
        "query plan cache hit",
    ]
    df = spark.createDataFrame(
        list(enumerate(raws)), "doc_id long, text string"
    )
    target = df.filter("doc_id in (0, 2)")
    out = {
        r["doc_id"]: r["log_weight"]
        for r in S.dsir_weights(df, target, "doc_id", "text", num_buckets=64).collect()
    }
    tdocs = [raws[0], raws[2]]
    for i, d in enumerate(raws):
        assert out[i] == pytest.approx(_dsir_py_weight(d, tdocs, raws, B=64)), i
    # target-like docs outrank the off-target ones
    assert min(out[0], out[2]) > max(out[1], out[3])


def test_dsir_select_flags_and_determinism(spark):
    from etl_file_loader_spark.operators import sampling as S

    df = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} filler words here") for i in range(40)],
        "doc_id long, text string",
    )
    target = df.filter("doc_id < 10")
    out = S.dsir_select(df, target, "doc_id", "text", k=8, num_buckets=64).collect()
    assert sum(r["selected"] for r in out) == 8
    assert len(out) == 40
    # deterministic: identical rerun, different seed -> (almost surely) different sample
    again = S.dsir_select(df, target, "doc_id", "text", k=8, num_buckets=64).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    other = S.dsir_select(
        df, target, "doc_id", "text", k=8, num_buckets=64, seed="other"
    ).collect()
    assert {r["doc_id"] for r in out if r["selected"]} != {
        r["doc_id"] for r in other if r["selected"]
    }
    with pytest.raises(ValueError, match="k must be"):
        S.dsir_select(df, target, "doc_id", "text", k=0)
    with pytest.raises(ValueError, match="num_buckets"):
        S.dsir_weights(df, target, "doc_id", "text", num_buckets=0)


def test_dsir_empty_doc_scores_zero(spark):
    from etl_file_loader_spark.operators import sampling as S

    df = spark.createDataFrame(
        [(1, "some target words"), (2, "")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in S.dsir_weights(df, df.filter("doc_id = 1"), "doc_id", "text").collect()
    }
    assert out[2]["n_feats"] == 0 and out[2]["log_weight"] == 0.0
    assert out[1]["n_feats"] == 5  # 3 unigrams + 2 bigrams


# ---------------------------------------------------------------------------
# c4_filter (Raffel et al. 2020 §2.2 cleaning heuristics)
# ---------------------------------------------------------------------------


def _c4(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r["doc_id"]: r for r in text.c4_filter(df, "doc_id", "text", **kw).collect()}


def test_c4_line_rules(spark):
    doc = (
        "This is a good first sentence line.\n"
        "Short one.\n"                                  # < 5 words
        "Another quite long proper sentence here!\n"
        "A trailing double quote counts as terminal\"\n"
        "no terminal punctuation on this line at all\n"
        "Please enable javascript to view this page."   # javascript
    )
    r = _c4(spark, [(1, doc)])[1]
    assert r["n_lines"] == 6 and r["n_kept_lines"] == 3
    assert r["n_sentences"] == 2  # the quote-terminated line has none
    assert r["keep"] == 0  # below the 3-sentence floor


def test_c4_page_rules(spark):
    good = "\n".join(f"Good long sentence number {i} right here." for i in range(4))
    r = _c4(spark, [(1, good), (2, good + "\nlorem ipsum dolor."),
                    (3, good + "\ncode block {" ), (4, "")])
    assert r[1]["keep"] == 1 and r[1]["n_sentences"] == 4
    assert r[2]["has_lorem_ipsum"] == 1 and r[2]["keep"] == 0
    assert r[3]["has_curly_brace"] == 1 and r[3]["keep"] == 0
    assert r[4]["n_lines"] == 0 and r[4]["keep"] == 0


def test_c4_kept_text_rebuild(spark):
    import hashlib

    doc = "Keep this first long sentence now.\nDrop me.\nKeep this second long sentence too."
    r = _c4(spark, [(1, doc)])[1]
    rebuilt = "Keep this first long sentence now.\nKeep this second long sentence too."
    assert r["kept_md5"] == hashlib.md5(rebuilt.encode()).hexdigest()
    # thresholds are parameters
    r2 = _c4(spark, [(1, doc)], min_words_per_line=2, min_sentences=3)[1]
    assert r2["n_kept_lines"] == 3 and r2["n_sentences"] == 3 and r2["keep"] == 1


# ---------------------------------------------------------------------------
# profile_table (round 8): generic per-column profiler
# ---------------------------------------------------------------------------


def _profile_rows(spark, data, schema, **kw):
    from etl_file_loader_spark.operators.profile import profile_table

    df = spark.createDataFrame(data, schema)
    return {r["col_name"]: r for r in profile_table(df, **kw).collect()}


def test_profile_table_core_stats(spark):
    rows = _profile_rows(
        spark,
        [(1, "a", 1.5), (2, "b", 2.5), (3, None, 2.5), (4, "b", None)],
        "k long, s string, x double",
    )
    assert set(rows) == {"k", "s", "x"}
    k = rows["k"]
    assert (k["n_rows"], k["n_nulls"], k["n_distinct"]) == (4, 0, 4)
    assert k["min_str"] == "1" and k["max_str"] == "4"
    assert k["min_num"] is None and k["top_count"] == 1
    s = rows["s"]
    assert (s["n_nulls"], s["n_distinct"]) == (1, 2)
    assert s["top_val"] == "b" and s["top_count"] == 2
    x = rows["x"]
    # float column: numeric extrema, no engine-local strings
    assert x["min_num"] == 1.5 and x["max_num"] == 2.5
    assert x["min_str"] is None and x["top_val"] is None
    assert x["n_distinct"] == 2 and x["top_count"] == 2


def test_profile_table_all_null_column(spark):
    rows = _profile_rows(
        spark,
        [(1, None), (2, None)],
        "k long, dead string",
    )
    d = rows["dead"]
    assert (d["n_rows"], d["n_nulls"], d["n_distinct"]) == (2, 2, 0)
    assert d["min_str"] is None and d["top_val"] is None and d["top_count"] is None


def test_profile_table_mode_tie_breaks_value_asc(spark):
    rows = _profile_rows(
        spark,
        [(1, "z"), (2, "z"), (3, "a"), (4, "a"), (5, "m")],
        "k long, s string",
    )
    s = rows["s"]
    # 'a' and 'z' both appear twice: count-desc then value-asc picks 'a'
    assert s["top_val"] == "a" and s["top_count"] == 2


def test_profile_table_column_subset(spark):
    rows = _profile_rows(
        spark,
        [(1, "a", 9.0)],
        "k long, s string, x double",
        columns=["s"],
    )
    assert set(rows) == {"s"}


# ---------------------------------------------------------------------------
# random_projection (round 8): JL dimensionality reduction
# ---------------------------------------------------------------------------


def test_rp_sign_matrix_deterministic_pm1():
    import numpy as np

    a = similarity._rp_sign_matrix(8, 4)
    b = similarity._rp_sign_matrix(8, 4)
    assert (a == b).all() and set(np.unique(a)) <= {-1, 1}
    # different seed -> different matrix
    c = similarity._rp_sign_matrix(8, 4, seed=1)
    assert (a != c).any()


def test_random_projection_matches_numpy(spark):
    import numpy as np

    vecs = [[float(i + j) for j in range(6)] for i in range(4)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<float>"
    )
    out = similarity.random_projection(df, "embedding", out_dim=3)
    got = {r["vec_id"]: r["proj"] for r in out.collect()}
    signs = similarity._rp_sign_matrix(6, 3)
    for i, v in enumerate(vecs):
        want = (np.array(v, dtype="float32").astype("float64") @ signs) / np.sqrt(3.0)
        assert np.allclose(got[i], want, rtol=0, atol=1e-12)


def test_random_projection_zero_vector(spark):
    df = spark.createDataFrame([(1, [0.0] * 6)], "vec_id long, embedding array<float>")
    out = similarity.random_projection(df, "embedding", out_dim=2).collect()[0]
    assert out["proj"] == [0.0, 0.0]


# ---------------------------------------------------------------------------
# z-order layout (round 8): Morton interleave + bucketing + pruning value
# ---------------------------------------------------------------------------


def test_interleave_bits_known_values(spark):
    from etl_file_loader_spark.operators import layout

    df = spark.createDataFrame([(3, 1), (0, 0), (2, 3)], "a long, b long")
    out = df.select(
        "a", "b", layout.interleave_bits([F.col("a"), F.col("b")], bits=2).alias("z")
    )
    got = {(r["a"], r["b"]): r["z"] for r in out.collect()}
    # a=0b11, b=0b01 -> bits: a0@0, b0@1, a1@2, b1@3 -> 1+2+4+0 = 7
    assert got[(3, 1)] == 7
    assert got[(0, 0)] == 0
    # a=0b10, b=0b11 -> 0+2+4+8 = 14
    assert got[(2, 3)] == 14


def test_exact_buckets_equi_depth_and_ties(spark):
    from etl_file_loader_spark.operators import layout

    df = spark.createDataFrame([(v,) for v in [10, 10, 20, 30]], "x long")
    out = layout.exact_buckets(df, "x", bits=1, out="b")
    got = sorted((r["x"], r["b"]) for r in out.collect())
    # rank-based: ties share a bucket; 4 rows, 2 buckets
    assert got == [(10, 0), (10, 0), (20, 1), (30, 1)]


def test_quantile_buckets_monotone_bounded(spark):
    from etl_file_loader_spark.operators import layout

    df = spark.createDataFrame([(float(v),) for v in range(100)], "x double")
    out = layout.quantile_buckets(df, "x", bits=3, out="b")
    rows = sorted((r["x"], r["b"]) for r in out.collect())
    bs = [b for _, b in rows]
    assert all(0 <= b < 8 for b in bs)
    assert bs == sorted(bs)  # monotone in the value
    assert bs[0] == 0 and bs[-1] == 7  # covers the range


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    from etl_file_loader_spark.operators import layout

    # 64x64 grid; compare how many files a y-slice touches under a
    # plain x-sort vs under z-order: the z-layout must localize it
    grid = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    plain_dir = str(tmp_path / "plain")
    z_dir = str(tmp_path / "zorder")
    grid.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(plain_dir)
    layout.zorder_layout(grid, ["x", "y"], bits=6, n_partitions=16, exact=True).write.parquet(z_dir)

    def files_touched(path):
        df = spark.read.parquet(path).filter((F.col("y") >= 8) & (F.col("y") < 16))
        return df.select(F.input_file_name()).distinct().count()

    # x-sorted layout scatters every y-slice across ~all files
    assert files_touched(plain_dir) >= 12
    # z-order keeps it in a fraction of them
    assert files_touched(z_dir) <= 8


# ---------------------------------------------------------------------------
# normalize_unicode / strip_control_chars (round 8)
# ---------------------------------------------------------------------------


def test_normalize_unicode_nfc_composes(spark):
    decomposed = "Cafe\u0301 man\u0303ana"
    df = spark.createDataFrame([(1, decomposed), (2, None)], "id long, t string")
    out = {
        r["id"]: r["c"]
        for r in df.select(
            "id", text.normalize_unicode(F.col("t")).alias("c")
        ).collect()
    }
    assert out[1] == "Caf\u00e9 ma\u00f1ana"
    assert out[2] is None


def test_normalize_unicode_nfkc_and_bad_form(spark):
    import pytest as _pytest

    # NFKC folds compatibility characters (ligature fi -> fi)
    df = spark.createDataFrame([(1, "\ufb01n")], "id long, t string")
    got = df.select(text.normalize_unicode(F.col("t"), "NFKC").alias("c")).collect()
    assert got[0]["c"] == "fin"
    with _pytest.raises(ValueError):
        text.normalize_unicode(F.col("t"), "NFX")


def test_strip_control_chars_keeps_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "a\x01b\tc\nd\x7fe")], "id long, t string"
    )
    got = df.select(text.strip_control_chars(F.col("t")).alias("c")).collect()
    assert got[0]["c"] == "ab\tc\nde"


# ---------------------------------------------------------------------------
# incremental aggregate maintenance (round 8)
# ---------------------------------------------------------------------------


def _agg_ops():
    from etl_file_loader_spark.operators import aggregates

    return aggregates


def test_merge_agg_states_equals_full_recompute(spark):
    agg = _agg_ops()
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("b", 3, 5.0), ("a", 4, 20.0), ("c", 5, 7.0)],
        "k string, id long, v double",
    ).withColumn("v", F.col("v").cast("decimal(18,2)"))
    keys = ["k"]
    metrics = {
        "n": ("count", "*"),
        "s": ("sum", "v"),
        "mn": ("min", "v"),
        "mx": ("max", "v"),
    }
    base = df.filter("id <= 2")
    delta = df.filter("id > 2")
    merged = agg.merge_agg_states(
        [agg.agg_state(base, keys, metrics), agg.agg_state(delta, keys, metrics)],
        keys,
        metrics,
    )
    full = agg.agg_state(df, keys, metrics)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, full.collect()))


def test_merge_agg_states_group_only_in_delta(spark):
    agg = _agg_ops()
    metrics = {"n": ("count", "*"), "mx": ("max", "v")}
    base = spark.createDataFrame([("a", 1)], "k string, v long")
    delta = spark.createDataFrame([("z", 9)], "k string, v long")
    out = {
        r["k"]: (r["n"], r["mx"])
        for r in agg.merge_agg_states(
            [
                agg.agg_state(base, ["k"], metrics),
                agg.agg_state(delta, ["k"], metrics),
            ],
            ["k"],
            metrics,
        ).collect()
    }
    assert out == {"a": (1, 1), "z": (1, 9)}


def test_agg_state_rejects_unknown_kind(spark):
    agg = _agg_ops()
    df = spark.createDataFrame([("a", 1)], "k string, v long")
    with pytest.raises(ValueError):
        agg.agg_state(df, ["k"], {"bad": ("median", "v")})


# ---------------------------------------------------------------------------
# KMV distinct sketch (round 8)
# ---------------------------------------------------------------------------


def _kmv():
    from etl_file_loader_spark.operators import sketches

    return sketches


def test_kmv_exact_below_k(spark):
    sk = _kmv()
    df = spark.createDataFrame(
        [("a", v % 5) for v in range(50)], "g string, v long"
    )
    est = sk.kmv_estimate(sk.kmv_sketch(df, ["g"], "v", k=8), k=8).collect()[0]
    assert est["n_kept"] == 5 and est["is_exact"] == 1
    assert est["distinct_est"] == 5.0


def test_kmv_estimator_accuracy(spark):
    sk = _kmv()
    n = 5000
    df = spark.createDataFrame([("a", v) for v in range(n)], "g string, v long")
    est = sk.kmv_estimate(sk.kmv_sketch(df, ["g"], "v", k=256), k=256).collect()[0]
    assert est["is_exact"] == 0
    # KMV relative error ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
    assert abs(est["distinct_est"] - n) / n < 0.25


def test_kmv_merge_equals_direct(spark):
    sk = _kmv()
    df = spark.createDataFrame(
        [("a", v) for v in range(300)] + [("b", v) for v in range(40)],
        "g string, v long",
    )
    direct = sk.kmv_sketch(df, ["g"], "v", k=32)
    parts = [
        sk.kmv_sketch(df.filter(F.col("v") % 2 == 0), ["g"], "v", k=32),
        sk.kmv_sketch(df.filter(F.col("v") % 2 == 1), ["g"], "v", k=32),
    ]
    merged = sk.kmv_merge(parts, ["g"], k=32)
    d = {r["g"]: (r["kmv"], r["n_kept"]) for r in direct.collect()}
    m = {r["g"]: (r["kmv"], r["n_kept"]) for r in merged.collect()}
    assert d == m


def test_kmv_merge_idempotent(spark):
    sk = _kmv()
    df = spark.createDataFrame([("a", v) for v in range(100)], "g string, v long")
    s1 = sk.kmv_sketch(df, ["g"], "v", k=16)
    twice = sk.kmv_merge([s1, s1], ["g"], k=16)
    assert [tuple(r) for r in s1.collect()] == [tuple(r) for r in twice.collect()]


def test_hll_registers_are_pure_function_of_data(spark):
    # pin the register derivation against an independent python replay:
    # 60-bit md5-prefix hash, bucket = low p bits, rho = 1 + leading
    # zeros of the remaining 50 bits
    import hashlib

    sk = _kmv()
    vals = [7, 123456, 999999999]
    df = spark.createDataFrame([("a", v) for v in vals], "g string, v long")
    got = {
        (r["bucket"], r["rho"])
        for r in sk.hll_registers(df, ["g"], "v", p=10).collect()
    }
    want = set()
    for v in vals:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        suffix = h >> 10
        rho = 51 if suffix == 0 else 51 - suffix.bit_length()
        want.add((h & 1023, rho))
    # distinct buckets here (no max collision among 3 keys)
    assert got == want


def test_hll_estimator_accuracy(spark):
    sk = _kmv()
    n = 5000
    df = spark.createDataFrame([("a", v) for v in range(n)], "g string, v long")
    est = sk.hll_estimate(
        sk.hll_registers(df, ["g"], "v", p=10), ["g"], p=10
    ).collect()[0]
    # HLL sigma ~ 1.04/sqrt(1024) ~ 3.3%; allow 4 sigma
    assert abs(est["hll_est"] - n) / n < 0.15


def test_hll_linear_counting_small_range(spark):
    sk = _kmv()
    df = spark.createDataFrame([("a", v % 5) for v in range(50)], "g string, v long")
    est = sk.hll_estimate(
        sk.hll_registers(df, ["g"], "v", p=10), ["g"], p=10
    ).collect()[0]
    # 5 distinct -> V = 1019 empties -> m*ln(m/V) ~ 5.01
    assert est["n_regs"] == 5
    assert abs(est["hll_est"] - 5) < 0.5


def test_hll_index_confluence_and_oneshot_equality(spark):
    # the maintained index must equal the one-shot registers over the
    # union, in ANY absorption order (max-confluence)
    sk = _kmv()
    df = spark.createDataFrame(
        [("a", v) for v in range(300)], "g string, v long"
    )
    seed = df.filter(F.col("v") % 3 == 0)
    b1 = df.filter(F.col("v") % 3 == 1)
    b2 = df.filter(F.col("v") % 3 == 2)

    def regs_of(idx):
        return {(r["g"], r["bucket"], r["rho"]) for r in idx.state().collect()}

    fwd = sk.HLLIndex(seed, ["g"], "v", p=8).absorb(b1).absorb(b2)
    rev = sk.HLLIndex(seed, ["g"], "v", p=8).absorb(b2).absorb(b1)
    dup = sk.HLLIndex(seed, ["g"], "v", p=8).absorb(b1).absorb(b1).absorb(b2)
    oneshot = {
        (r["g"], r["bucket"], r["rho"])
        for r in sk.hll_registers(df, ["g"], "v", p=8).collect()
    }
    assert regs_of(fwd) == regs_of(rev) == regs_of(dup) == oneshot
    # estimate reads the maintained registers
    est = fwd.estimate().collect()[0]
    assert abs(est["hll_est"] - 300) / 300 < 0.3


def test_hll_merge_is_monoid(spark):
    sk = _kmv()
    df = spark.createDataFrame(
        [("a", v) for v in range(400)] + [("b", v) for v in range(60)],
        "g string, v long",
    )
    direct = sk.hll_registers(df, ["g"], "v", p=8)
    s_even = sk.hll_registers(df.filter(F.col("v") % 2 == 0), ["g"], "v", p=8)
    s_odd = sk.hll_registers(df.filter(F.col("v") % 2 == 1), ["g"], "v", p=8)

    def as_set(regs):
        return {(r["g"], r["bucket"], r["rho"]) for r in regs.collect()}

    d = as_set(direct)
    # merge == direct, order-free, idempotent (max monoid)
    assert as_set(sk.hll_merge([s_even, s_odd], ["g"])) == d
    assert as_set(sk.hll_merge([s_odd, s_even], ["g"])) == d
    assert as_set(sk.hll_merge([s_even, s_odd, s_even], ["g"])) == d


# ---------------------------------------------------------------------------
# inverted index + phrase search (round 8)
# ---------------------------------------------------------------------------


def test_inverted_index_positions_and_tf(spark):
    df = spark.createDataFrame([(1, "a b a c a"), (2, "b b")], "doc_id long, text string")
    idx = {(r["term"], r["doc_id"]): r for r in text.inverted_index(df, "doc_id", "text").collect()}
    assert idx[("a", 1)]["positions"] == [0, 2, 4] and idx[("a", 1)]["tf"] == 3
    assert idx[("b", 2)]["positions"] == [0, 1] and idx[("b", 2)]["tf"] == 2


def test_phrase_search_overlapping_matches(spark):
    # 'x x x' contains 'x x' TWICE (overlap); regression pin for the
    # pyspark transform lambda-arity dispatch (a 2-param lambda silently
    # becomes the (element, index) form)
    df = spark.createDataFrame(
        [(1, "x x x"), (2, "x y x"), (3, "y x x y")], "doc_id long, text string"
    )
    idx = text.inverted_index(df, "doc_id", "text")
    got = {r["doc_id"]: r["n_occurrences"]
           for r in text.phrase_search(idx, "doc_id", ["x", "x"]).collect()}
    assert got == {1: 2, 3: 1}


def test_phrase_search_three_terms_and_missing(spark):
    df = spark.createDataFrame(
        [(1, "big order scan now"), (2, "big order miss scan")],
        "doc_id long, text string",
    )
    idx = text.inverted_index(df, "doc_id", "text")
    got = [tuple(r) for r in text.phrase_search(idx, "doc_id", ["big", "order", "scan"]).collect()]
    assert got == [(1, 1)]
    assert text.phrase_search(idx, "doc_id", ["zz"]).count() == 0
    with pytest.raises(ValueError):
        text.phrase_search(idx, "doc_id", [])


# ---------------------------------------------------------------------------
# sentence_chunks (round 8): sentence-aware RAG chunking with overlap
# ---------------------------------------------------------------------------


def _schunk(spark, text, **kw):
    from etl_file_loader_spark.operators import sampling

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    return sorted(
        (r["chunk_idx"], r["n_sentences"], r["n_tokens"])
        for r in sampling.sentence_chunks(df, "doc_id", "text", **kw).collect()
    )


def test_sentence_chunks_greedy_and_overlap(spark):
    # sentences: 3, 3, 3, 3 tokens; budget 6, overlap 1:
    # chunk0 = s0,s1 (6); next start = s1 -> chunk1 = s1,s2 (6);
    # next = s2 -> chunk2 = s2,s3 (6); next = s3 but s3 already covered
    # as chunk end -> next start 4 > n, stop
    text = "a b c. d e f. g h i. j k l."
    got = _schunk(spark, text, max_tokens=6, overlap=1)
    assert got == [(0, 2, 6), (1, 2, 6), (2, 2, 6)]


def test_sentence_chunks_no_overlap(spark):
    text = "a b c. d e f. g h i. j k l."
    got = _schunk(spark, text, max_tokens=6, overlap=0)
    assert got == [(0, 2, 6), (1, 2, 6)]


def test_sentence_chunks_oversized_sentence_alone(spark):
    # middle sentence exceeds the budget: it still forms its own chunk
    text = "a b. c d e f g h. i j."
    got = _schunk(spark, text, max_tokens=3, overlap=0)
    assert got == [(0, 1, 2), (1, 1, 6), (2, 1, 2)]


def test_sentence_chunks_never_splits_sentences(spark):
    from etl_file_loader_spark.operators import sampling

    df = spark.createDataFrame(
        [(1, "one two three. four five six seven.")], "doc_id long, text string"
    )
    out = sampling.sentence_chunks(df, "doc_id", "text", max_tokens=4, overlap=0)
    rows = out.collect()
    # each chunk = whole sentences only: 3 and 4 tokens
    assert sorted(r["n_tokens"] for r in rows) == [3, 4]
    with pytest.raises(ValueError):
        sampling.sentence_chunks(df, "doc_id", "text", max_tokens=0)


# ---------------------------------------------------------------------------
# count-min sketch (round 8)
# ---------------------------------------------------------------------------


def test_cms_never_undercounts_and_exact_when_sparse(spark):
    sk = _kmv()
    df = spark.createDataFrame(
        [("a",)] * 10 + [("b",)] * 3 + [("c",)] * 1, "k string"
    )
    s = sk.cms_sketch(df, "k", depth=4, width=64)
    items = spark.createDataFrame([("a",), ("b",), ("c",), ("zz",)], "k string")
    est = {r["k"]: r["est_count"] for r in sk.cms_query(s, items, "k", 4, 64).collect()}
    true = {"a": 10, "b": 3, "c": 1, "zz": 0}
    for k, t in true.items():
        assert est[k] >= t  # the CMS guarantee
    # 3 keys in 64 cells: no collisions, estimates exact
    assert est == true


def test_cms_merge_equals_direct(spark):
    sk = _kmv()
    df = spark.createDataFrame([(f"k{v % 7}",) for v in range(100)], "k string")
    direct = sk.cms_sketch(df, "k", depth=3, width=32)
    h1 = sk.cms_sketch(df.limit(50), "k", depth=3, width=32)
    # limit is nondeterministic in general; use a deterministic split
    a = df.withColumn("_i", F.monotonically_increasing_id())
    h1 = sk.cms_sketch(a.filter(F.col("_i") % 2 == 0), "k", depth=3, width=32)
    h2 = sk.cms_sketch(a.filter(F.col("_i") % 2 == 1), "k", depth=3, width=32)
    merged = sk.cms_merge([h1, h2])
    d = {(r["r"], r["c"]): r["cnt"] for r in direct.collect()}
    m = {(r["r"], r["c"]): r["cnt"] for r in merged.collect()}
    assert d == m


def test_cms_shuffle_is_bounded(spark):
    sk = _kmv()
    df = spark.range(10000).select(F.col("id").cast("string").alias("k"))
    s = sk.cms_sketch(df, "k", depth=4, width=16)
    rows = s.collect()
    # at most depth*width cells regardless of 10k distinct keys
    assert len(rows) <= 4 * 16
    assert sum(r["cnt"] for r in rows) == 4 * 10000


# ---------------------------------------------------------------------------
# char_entropy (round 8)
# ---------------------------------------------------------------------------


def test_char_entropy_known_values(spark):
    import math

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "aabb"), (4, "abcd"), (5, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.char_entropy(df, "doc_id", "text").collect()}
    assert rows[1]["entropy"] == 0.0 and rows[1]["n_distinct_chars"] == 1
    assert abs(rows[2]["entropy"] - math.log(2)) < 1e-12
    assert abs(rows[3]["entropy"] - math.log(2)) < 1e-12
    assert abs(rows[4]["entropy"] - math.log(4)) < 1e-12
    assert 5 not in rows  # empty doc emits nothing


# ---------------------------------------------------------------------------
# mine_triplets (round 8)
# ---------------------------------------------------------------------------


def test_mine_triplets_hardest_pos_neg(spark):
    # label 0: v0=(1,0), v1=(0.9,0.1), v2=(0,1)  (v2 is the hard positive
    # for v0 — lowest same-label cosine); label 1: v3=(1,0.05) is nearly
    # parallel to v0 (the hard negative), v4=(-1,0) is easy
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [0.9, 0.1], 0),
        (2, [0.0, 1.0], 0),
        (3, [1.0, 0.05], 1),
        (4, [-1.0, 0.0], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in similarity.mine_triplets(df, "vec_id", "embedding", "label").collect()}
    a = out[0]
    assert a["pos_id"] == 2 and a["neg_id"] == 3
    assert a["margin"] < 0  # violating triplet: the one worth training on
    # anchor 4: positive is its only same-label peer (3)
    assert out[4]["pos_id"] == 3


def test_mine_triplets_deterministic_ties(spark):
    # two identical negatives: tie must break to the lower id
    rows = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),
        (5, [0.5, 0.5], 1),
        (3, [0.5, 0.5], 1),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["vec_id"]: r for r in similarity.mine_triplets(df, "vec_id", "embedding", "label").collect()}
    assert out[0]["neg_id"] == 3 and out[1]["neg_id"] == 3


# ---------------------------------------------------------------------------
# length_bucketed_batches / padding_stats (round 8)
# ---------------------------------------------------------------------------


def test_length_bucketing_reduces_padding(spark):
    from etl_file_loader_spark.operators import sampling

    # bimodal lengths INTERLEAVED by id: even ids short, odd ids long —
    # id-ordered batching without buckets is forced to mix them
    rows = [(i, 4 if i % 2 == 0 else 64) for i in range(16)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")

    def total_padding(edges):
        b = sampling.length_bucketed_batches(df, "doc_id", "n_tokens", edges, 4)
        st = sampling.padding_stats(b, "n_tokens").collect()
        rect = sum(r["max_len"] * r["n_rows"] for r in st)
        toks = sum(r["sum_len"] for r in st)
        return (rect - toks) / rect

    # unbucketed: every batch pads shorts to 64 -> ~47% waste;
    # bucketed: uniform lengths within bucket -> zero padding
    assert total_padding([]) > 0.4
    assert total_padding([32]) == 0.0


def test_length_bucketed_batches_assignment(spark):
    from etl_file_loader_spark.operators import sampling

    rows = [(1, 10), (2, 40), (3, 70), (4, 50), (5, 12)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = {r["doc_id"]: (r["bucket"], r["batch_idx"])
           for r in sampling.length_bucketed_batches(
               df, "doc_id", "n_tokens", [32, 48, 64], 2).collect()}
    assert out[1] == (0, 0) and out[5] == (0, 0)     # <32 bucket, one batch
    assert out[2] == (1, 0)                           # [32,48)
    assert out[4] == (2, 0)                           # [48,64)
    assert out[3] == (3, 0)                           # >=64
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sampling.length_bucketed_batches(df, "doc_id", "n_tokens", [32], 0)


# ---------------------------------------------------------------------------
# diff_tables (round 8)
# ---------------------------------------------------------------------------


def test_diff_tables_statuses_and_changed_cols(spark):
    from etl_file_loader_spark.operators import audit

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 21), (4, None, 40), (5, "e", 50)],
        "k long, s string, v long",
    )
    out = {r["k"]: (r["status"], r["changed_cols"])
           for r in audit.diff_tables(old, new, ["k"]).collect()}
    assert out[1] == ("unchanged", [])
    assert out[2] == ("changed", ["s", "v"])
    assert out[3] == ("removed", [])
    # null == null is null-SAFE unchanged
    assert out[4] == ("unchanged", [])
    assert out[5] == ("added", [])


def test_diff_tables_null_transitions_are_changes(spark):
    from etl_file_loader_spark.operators import audit

    old = spark.createDataFrame([(1, None), (2, "x")], "k long, s string")
    new = spark.createDataFrame([(1, "now"), (2, None)], "k long, s string")
    out = {r["k"]: r["changed_cols"]
           for r in audit.diff_tables(old, new, ["k"]).collect()}
    assert out[1] == ["s"] and out[2] == ["s"]


# ---------------------------------------------------------------------------
# image_dhash (round 8)
# ---------------------------------------------------------------------------


def test_image_dhash_invariant_to_png_filter_choice(spark):
    import numpy as np

    from etl_file_loader_spark.operators import codecs
    from etl_file_loader_spark.operators import multimodal as mm

    y, x, c = np.meshgrid(np.arange(6), np.arange(9), np.arange(3), indexing="ij")
    px = ((y * 11 + x * 5 + c) % 256).astype(np.uint8)
    # same pixels, different scanline filters -> identical perceptual hash
    rows = [(i, codecs.png_encode(px, filter_type=i)) for i in range(5)]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = mm.image_dhash(df).collect()
    hashes = {r["dhash"] for r in out}
    assert len(hashes) == 1 and all(r["decode_ok"] for r in out)


def test_image_dhash_known_value_and_bad_bytes(spark):
    import numpy as np

    from etl_file_loader_spark.operators import codecs
    from etl_file_loader_spark.operators import multimodal as mm

    # strictly increasing gray along x -> every difference bit set
    y, x, c = np.meshgrid(np.arange(8), np.arange(8), np.arange(3), indexing="ij")
    px = ((x * 3 + c) % 200).astype(np.uint8)
    df = spark.createDataFrame(
        [(1, codecs.png_encode(px)), (2, b"not a png")],
        "media_id long, content binary",
    )
    out = {r["media_id"]: r for r in mm.image_dhash(df).collect()}
    assert out[1]["dhash"] == (1 << 56) - 1
    assert out[2]["decode_ok"] is False and out[2]["dhash"] is None


# ---------------------------------------------------------------------------
# audio_fingerprint (round 8)
# ---------------------------------------------------------------------------


def test_audio_fingerprint_known_values_and_bad_bytes(spark):
    import numpy as np

    from etl_file_loader_spark.operators import codecs
    from etl_file_loader_spark.operators import multimodal as mm

    # 32 samples: quiet first frame, loud second -> one rising-energy bit;
    # alternating signs -> zcr = n-1
    quiet = np.array([1, -1] * 8, dtype="<i2")
    loud = np.array([1000, -1000] * 8, dtype="<i2")
    wav = codecs.wav_encode(8000, np.concatenate([quiet, loud]))
    df = spark.createDataFrame(
        [(1, wav), (2, b"junk")], "media_id long, content binary"
    )
    out = {r["media_id"]: r for r in mm.audio_fingerprint(df, frame=16).collect()}
    a = out[1]
    assert (a["n_samples"], a["n_frames"], a["zcr"]) == (32, 2, 31)
    assert a["energy_hash"] == 1  # bit 0: frame 1 louder than frame 0
    assert out[2]["decode_ok"] is False and out[2]["energy_hash"] is None


def test_audio_fingerprint_short_clip_no_frames(spark):
    import numpy as np

    from etl_file_loader_spark.operators import codecs
    from etl_file_loader_spark.operators import multimodal as mm

    wav = codecs.wav_encode(8000, np.array([5, -5, 5], dtype="<i2"))
    df = spark.createDataFrame([(1, wav)], "media_id long, content binary")
    r = mm.audio_fingerprint(df, frame=16).collect()[0]
    assert (r["n_samples"], r["n_frames"], r["energy_hash"], r["zcr"]) == (3, 0, 0, 2)


# ---------------------------------------------------------------------------
# ngram_novelty (round 8)
# ---------------------------------------------------------------------------


def test_ngram_novelty_shared_vs_unique(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),       # grams: "a b c", "b c d", "c d e", "d e f"
            (2, "a b c x y z"),       # shares "a b c" with doc 1
            (3, "q r"),               # shorter than n: no grams, no row
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.ngram_novelty(df, "doc_id", "text", n=3).collect()}
    assert out[1]["n_grams"] == 4 and out[1]["novel_grams"] == 3
    assert abs(out[1]["novelty"] - 0.75) < 1e-12
    assert out[2]["n_grams"] == 4 and out[2]["novel_grams"] == 3
    assert 3 not in out  # sub-n docs emit nothing (sequence guard)


def test_ngram_novelty_within_doc_repeat_is_novel(spark):
    # a gram repeated only WITHIN one doc is still novel to the corpus
    df = spark.createDataFrame([(1, "a b a b a b")], "doc_id long, text string")
    r = text.ngram_novelty(df, "doc_id", "text", n=2).collect()[0]
    assert r["n_grams"] == 5 and r["novel_grams"] == 5 and r["novelty"] == 1.0


# ---------------------------------------------------------------------------
# round-9 ADVICE fixes: 2-channel dhash, zorder bit budget, raw-int WAV PCM
# ---------------------------------------------------------------------------


def test_image_dhash_gray_alpha_two_channel(spark):
    import numpy as np

    from etl_file_loader_spark.operators import codecs
    from etl_file_loader_spark.operators import multimodal as mm

    # PNG color type 4 (gray+alpha) decodes to an (h, w, 2) array; the
    # hash must come from the gray plane, alpha ignored, no task failure
    y, x = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    gray = ((x * 7 + y) % 256).astype(np.uint8)
    ga = np.stack([gray, np.full_like(gray, 128)], axis=2)
    rows = [(1, codecs.png_encode(ga)), (2, codecs.png_encode(gray))]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    out = {r["media_id"]: r for r in mm.image_dhash(df).collect()}
    assert out[1]["decode_ok"] and out[2]["decode_ok"]
    # same gray plane -> same hash as the pure-gray image
    assert out[1]["dhash"] == out[2]["dhash"]


def test_interleave_bits_budget_guard(spark):
    import pytest as _pytest

    from etl_file_loader_spark.operators import layout

    cols = [F.col(c) for c in ("a", "b", "c", "d")]
    with _pytest.raises(ValueError, match="63"):
        layout.interleave_bits(cols, bits=16)  # 64 bits: sign-bit overflow
    # 4 x 15 = 60 bits is fine
    layout.interleave_bits(cols, bits=15)
    df = spark.createDataFrame([(1, 2)], "a long, b long")
    with _pytest.raises(ValueError, match="63"):
        layout.zorder_layout(df, ["a", "b"], bits=32, exact=True)


def test_wav_decode_int_matches_float_path_and_wide_pcm(spark):
    import io
    import wave

    import numpy as np

    from etl_file_loader_spark.operators import codecs
    from etl_file_loader_spark.operators import multimodal as mm

    # 16-bit: raw ints == round(float path * 32768) exactly
    s16 = np.array([0, 1, -1, 32767, -32768, 1234], dtype=np.int64)
    b16 = codecs.wav_encode(8000, s16.astype("<i2"))
    _, vi = codecs.wav_decode_int(b16)
    _, vf = codecs.wav_decode(b16)
    assert (vi[:, 0] == s16).all()
    assert (np.round(vf[:, 0] * 32768.0).astype(np.int64) == s16).all()

    # 24-bit: values with low bits that a 16-bit quantization would lose
    s24 = np.array([0, 1, -1, 8388607, -8388608, 65537], dtype=np.int64)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(3)
        f.setframerate(8000)
        f.writeframes(
            b"".join(
                int(v & 0xFFFFFF).to_bytes(3, "little") for v in s24
            )
        )
    b24 = buf.getvalue()
    _, vi24 = codecs.wav_decode_int(b24)
    assert (vi24[:, 0] == s24).all()

    # fingerprint over 24-bit PCM is exact-integer (65537 vs 65536*k
    # ordering survives; a 16-bit quantization would collapse 1 -> 0)
    df = spark.createDataFrame([(1, b24)], "media_id long, content binary")
    r = mm.audio_fingerprint(df, frame=2).collect()[0]
    assert r["decode_ok"] and r["n_samples"] == 6
    # zcr from raw signs: 0,1,-1,max,min,65537 -> sign flips at 1->-1,
    # -1->max, max->min, min->65537 = 4
    assert r["zcr"] == 4


# ---------------------------------------------------------------------------
# mine_triplets_lsh (round 9): ANN-bucketed batch-hard mining
# ---------------------------------------------------------------------------


def test_mine_triplets_lsh_matches_exact_when_buckets_cover(spark):
    """With 1-plane bands (near-total collision) the LSH miner must equal
    the exact miner: same comparator, full candidate coverage."""
    import numpy as np

    from etl_file_loader_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)], f"c{i % 3}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    exact = {
        r["vec_id"]: (r["pos_id"], r["neg_id"], r["margin"])
        for r in sim.mine_triplets(df, "vec_id", "embedding", "label").collect()
    }
    approx = {
        r["vec_id"]: (r["pos_id"], r["neg_id"], r["margin"])
        for r in sim.mine_triplets_lsh(
            df, "vec_id", "embedding", "label", num_bands=12, planes_per_band=1
        ).collect()
    }
    # 12 OR-ed half-space bands: a pair misses only if split by all 12
    # planes; with 40 random vectors the candidate graph is complete
    assert approx == exact


def test_mine_triplets_lsh_anchor_subset_and_pruning(spark):
    import numpy as np

    from etl_file_loader_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)], f"c{i % 2}")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    anchors = df.filter(F.col("vec_id") < 5)
    out = sim.mine_triplets_lsh(
        df, "vec_id", "embedding", "label",
        anchors=anchors, num_bands=4, planes_per_band=2,
    ).collect()
    ids = {r["vec_id"] for r in out}
    assert ids <= {0, 1, 2, 3, 4}
    for r in out:
        # hardest in-bucket positive can never score above the negative
        # by construction of the comparator ordering on the same set
        assert r["pos_id"] != r["vec_id"] and r["neg_id"] != r["vec_id"]
        assert abs(r["margin"] - (r["pos_cos"] - r["neg_cos"])) < 1e-12


# ---------------------------------------------------------------------------
# Bloom filter family (round 9)
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_merge(spark):
    import hashlib

    from etl_file_loader_spark.operators import sketches as sk

    keys = list(range(0, 300, 3))
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    words = sk.build_bloom(df, "k", num_hashes=4, num_bits=512)
    # words match a direct python re-derivation of the md5 positions
    want = [0] * ((512 + 47) // 48)
    for k in keys:
        for i in range(4):
            p = int(hashlib.md5(f"{k}:{i}".encode()).hexdigest()[:8], 16) % 512
            want[p // 48] |= 1 << (p % 48)
    assert words == want
    # merge of two shards == whole build
    a = sk.build_bloom(df.filter(F.col("k") < 150), "k", 4, 512)
    b = sk.build_bloom(df.filter(F.col("k") >= 150), "k", 4, 512)
    assert sk.merge_blooms(a, b) == words
    # every member passes the scan-side test (no false negatives)
    passed = df.filter(sk.bloom_contains(F.col("k"), words, 4, 512)).count()
    assert passed == len(keys)


def test_bloom_semi_join_equals_exact(spark):
    from etl_file_loader_spark.operators import sketches as sk

    big = spark.createDataFrame([(i, i % 50) for i in range(1000)], "rid long, k long")
    small = spark.createDataFrame([(k,) for k in range(0, 50, 7)], "sk long")
    got = sorted(
        (r["rid"], r["k"])
        for r in sk.bloom_semi_join(big, small, "k", "sk", 4, 256).collect()
    )
    want = sorted((i, i % 50) for i in range(1000) if (i % 50) % 7 == 0)
    assert got == want


def test_bloom_prunes_before_exact_join(spark):
    from etl_file_loader_spark.operators import sketches as sk

    # tiny filter + disjoint probe range: the scan-side test must prune
    # most nonmembers before the exact join, never a member
    small = spark.createDataFrame([(k,) for k in range(10)], "k long")
    probe = spark.createDataFrame([(k,) for k in range(10_000)], "k long")
    words = sk.build_bloom(small, "k", num_hashes=4, num_bits=1024)
    survivors = probe.filter(sk.bloom_contains(F.col("k"), words, 4, 1024)).count()
    # 10 members + FPs; with 40 set bits of 1024 the FP rate is ~(40/1024)^4
    assert 10 <= survivors < 100


def test_bloom_build_ignores_null_keys(spark):
    from etl_file_loader_spark.operators import sketches as sk

    clean = spark.createDataFrame([(k,) for k in range(40)], "k long")
    dirty = spark.createDataFrame(
        [(k,) for k in range(40)] + [(None,), (None,)], "k long"
    )
    # null keys contribute no positions: same filter bit-for-bit, and the
    # bloom-pruned semi-join over a null-bearing small side just doesn't
    # match them (exactly like the plain semi-join it accelerates)
    assert sk.build_bloom(dirty, "k", 4, 512) == sk.build_bloom(clean, "k", 4, 512)
    big = spark.createDataFrame([(i, i % 80) for i in range(400)], "rid long, k long")
    got = sorted(
        (r["rid"], r["k"])
        for r in sk.bloom_semi_join(big, dirty, "k", "k", 4, 512).collect()
    )
    want = sorted((i, i % 80) for i in range(400) if i % 80 < 40)
    assert got == want


def test_bloom_build_large_filter_is_word_bounded(spark):
    import hashlib

    from etl_file_loader_spark.operators import sketches as sk

    # 2^20-bit filter, 100 keys: the distributed pack sends the driver
    # packed words (<= keys * hashes touched, never per-position rows) —
    # the words list is filter-shaped and only touched words are set
    num_bits = 1 << 20
    keys = list(range(0, 1000, 10))
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    words = sk.build_bloom(df, "k", num_hashes=4, num_bits=num_bits)
    assert len(words) == (num_bits + 47) // 48
    assert 0 < sum(1 for w in words if w) <= len(keys) * 4
    want = [0] * ((num_bits + 47) // 48)
    for k in keys:
        for i in range(4):
            p = int(hashlib.md5(f"{k}:{i}".encode()).hexdigest()[:8], 16) % num_bits
            want[p // 48] |= 1 << (p % 48)
    assert words == want


def test_bloom_fast_hash_no_false_negatives_and_join_equality(spark):
    """The xxhash64 fast path: different bit patterns from the md5 path,
    same contracts — every member passes the probe, and the pruned
    semi-join equals the exact semi-join."""
    from etl_file_loader_spark.operators import sketches as sk

    keys = list(range(0, 300, 3))
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    words = sk.build_bloom(df, "k", 4, 512, fast=True)
    assert words != sk.build_bloom(df, "k", 4, 512)  # different hash family
    passed = df.filter(sk.bloom_contains(F.col("k"), words, 4, 512, fast=True)).count()
    assert passed == len(keys)
    # shard merge still holds (set semantics are hash-agnostic)
    a = sk.build_bloom(df.filter(F.col("k") < 150), "k", 4, 512, fast=True)
    b = sk.build_bloom(df.filter(F.col("k") >= 150), "k", 4, 512, fast=True)
    assert sk.merge_blooms(a, b) == words
    big = spark.createDataFrame([(i, i % 50) for i in range(1000)], "rid long, k long")
    small = spark.createDataFrame([(k,) for k in range(0, 50, 7)], "sk long")
    got = sorted(
        (r["rid"], r["k"])
        for r in sk.bloom_semi_join(big, small, "k", "sk", 4, 256, fast=True).collect()
    )
    want = sorted((i, i % 50) for i in range(1000) if (i % 50) % 7 == 0)
    assert got == want


def test_bloom_merge_shape_mismatch(spark):
    import pytest as _pytest

    from etl_file_loader_spark.operators import sketches as sk

    with _pytest.raises(ValueError, match="shape"):
        sk.merge_blooms([0] * 4, [0] * 5)


# ---------------------------------------------------------------------------
# image_dedup_pairs (round 9): perceptual near-dup via blocked dHash hamming
# ---------------------------------------------------------------------------


def test_image_dedup_pairs_finds_exactly_the_planted_pairs(spark):
    from etl_file_loader_spark import fixtures
    from etl_file_loader_spark.operators import multimodal as mm

    corpus = fixtures.media_png_neardup_corpus(spark, n_pairs=12)
    out = mm.image_dedup_pairs(corpus, grid=8, max_hamming=6, blocks=7).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    # every planted (base, variant) pair detected, nothing else
    assert set(got) == {(2 * i, 2 * i + 1) for i in range(12)}
    assert all(h <= 6 for h in got.values())


def test_image_dedup_pairs_exact_duplicate_and_undecodable(spark):
    from etl_file_loader_spark import fixtures
    from etl_file_loader_spark.operators import multimodal as mm

    corpus = fixtures.media_png_corpus(spark, n=6)
    # duplicate image 0's payload under a new id + one garbage payload
    dup = corpus.filter(F.col("media_id") == 0).select(
        (F.col("media_id") + 100).alias("media_id"), "content"
    )
    bad = corpus.sparkSession.createDataFrame(
        [(999, b"not an image")], "media_id long, content binary"
    )
    out = mm.image_dedup_pairs(
        corpus.unionByName(dup).unionByName(bad), max_hamming=0
    ).collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in out} >= {(0, 100, 0)}
    assert all(999 not in (r["id_a"], r["id_b"]) for r in out)


def test_image_dedup_pairs_rejects_bad_blocking(spark):
    import pytest as _pytest

    from etl_file_loader_spark import fixtures
    from etl_file_loader_spark.operators import multimodal as mm

    corpus = fixtures.media_png_corpus(spark, n=2)
    with _pytest.raises(ValueError, match="blocks"):
        mm.image_dedup_pairs(corpus, max_hamming=8, blocks=7).collect()


# ---------------------------------------------------------------------------
# edit_distance_pairs (round 9): PassJoin exact fuzzy self-join
# ---------------------------------------------------------------------------


def _lev(a, b):
    la, lb = len(a), len(b)
    dp = list(range(lb + 1))
    for i in range(1, la + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, lb + 1):
            cur = dp[j]
            dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return dp[lb]


def test_edit_distance_pairs_equals_bruteforce(spark):
    """Lossless on an adversarial mix: first-char edits (which first-letter
    blocking misses), double inserts, case folds, tiny/empty strings."""
    import itertools

    from etl_file_loader_spark.operators import dedup

    rows = [
        (0, "alpha beta"), (1, "alpha betaxy"), (2, "qlpha beta"),
        (3, "alpha bet"), (4, "ALPHA BETA"), (5, "gamma delta"),
        (6, "gamma deltq"), (7, "totally different words"),
        (8, ""), (9, "a"), (10, "ab"), (11, "abcd"), (12, "b"),
    ]
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in dedup.edit_distance_pairs(
            spark.createDataFrame(rows, "id long, s string"), "id", "s", 2
        ).collect()
    }
    data = {i: s.lower() for i, s in rows}
    want = {
        (a, b, _lev(data[a], data[b]))
        for a, b in itertools.combinations(sorted(data), 2)
        if _lev(data[a], data[b]) <= 2
    }
    assert got == want
    assert (0, 4, 0) in got  # case fold -> exact match
    assert (0, 2, 1) in got  # first-char replacement found


def test_edit_distance_pairs_low_entropy_alphabet(spark):
    """The multi-match-aware windows (round 10) against brute force on the
    hardest shape: a 2-letter alphabet, every length 3..9, d in {1, 2, 3}
    — boundary clamps, equal lengths, and maximal-length-gap pairs all
    occur densely here."""
    import itertools
    import random

    from etl_file_loader_spark.operators import dedup

    rng = random.Random(10)
    rows = [
        (i, "".join(rng.choice("ab") for _ in range(rng.randint(3, 9))))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    data = dict(rows)
    for d in (1, 2, 3):
        got = {
            (r["id_a"], r["id_b"], r["distance"])
            for r in dedup.edit_distance_pairs(df, "id", "s", d).collect()
        }
        want = {
            (a, b, _lev(data[a], data[b]))
            for a, b in itertools.combinations(sorted(data), 2)
            if _lev(data[a], data[b]) <= d
        }
        assert got == want, f"d={d}"


def test_release_operator_caches(spark):
    """The fuzzy joins pin their base tables through the cache registry;
    releasing after materialization leaves no operator caches behind."""
    from etl_file_loader_spark.operators import dedup
    from etl_file_loader_spark.operators.cache import release_operator_caches

    release_operator_caches()  # start clean
    df = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, "hello world one two three")],
        "id long, s string",
    )
    dedup.edit_distance_pairs(df, "id", "s", 2).collect()
    dedup.jaccard_join_prefix(df, "id", "s", n=2, threshold=0.5).collect()
    assert release_operator_caches() == 2
    assert release_operator_caches() == 0


def test_edit_distance_join_equals_bruteforce(spark):
    """The R-S (two-table) PassJoin against brute force, including both
    window directions (feed records shorter AND longer than their master
    match), tiny/empty strings, and case folds."""
    import itertools
    import random

    from etl_file_loader_spark.operators import dedup
    from etl_file_loader_spark.operators.cache import release_operator_caches

    rng = random.Random(42)
    left_rows = [
        (i, "".join(rng.choice("ab") for _ in range(rng.randint(3, 9))))
        for i in range(40)
    ] + [(100, ""), (101, "a"), (102, "AB")]
    right_rows = [
        (1000 + j, "".join(rng.choice("ab") for _ in range(rng.randint(1, 11))))
        for j in range(40)
    ] + [(2000, ""), (2001, "b"), (2002, "ab")]
    l_df = spark.createDataFrame(left_rows, "pid long, name string")
    r_df = spark.createDataFrame(right_rows, "rid long, s string")
    for d in (1, 2, 3):
        got = {
            (r["pid"], r["rid"], r["distance"])
            for r in dedup.edit_distance_join(
                l_df, r_df, "pid", "rid", "name", "s", d
            ).collect()
        }
        want = {
            (pid, rid, _lev(a.lower(), b.lower()))
            for (pid, a), (rid, b) in itertools.product(left_rows, right_rows)
            if _lev(a.lower(), b.lower()) <= d
        }
        assert got == want, f"d={d}"
    release_operator_caches()


def test_remove_near_duplicates_exact_equals_bruteforce(spark):
    """Exact near-dedup survivors == brute-force components of true
    jaccard >= t edges, including exact-dup collapse and a singleton."""
    import itertools
    import random

    from etl_file_loader_spark.operators import dedup
    from etl_file_loader_spark.operators.cache import release_operator_caches

    rng = random.Random(8)
    vocab = [f"w{i}" for i in range(25)]
    rows = []
    for i in range(20):
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(8))))
    rows += [(100 + i, rows[i][1]) for i in range(4)]  # exact dups
    rows += [(200 + i, rows[i][1] + " extra") for i in range(4)]  # near dups
    rows.append((300, "completely disjoint standalone text"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        r["doc_id"]
        for r in dedup.remove_near_duplicates_exact(
            df, "doc_id", "text", n=2, threshold=0.5
        ).collect()
    )
    release_operator_caches()

    def sset(t, n=2):
        w = t.strip().split()
        if len(w) < n:
            return {" ".join(w)}
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    data = dict(rows)
    parent = {i: i for i in data}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in itertools.combinations(sorted(data), 2):
        sa, sb = sset(data[a]), sset(data[b])
        inter = len(sa & sb)
        if round(inter / (len(sa) + len(sb) - inter), 6) >= 0.5:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = sorted(i for i in data if find(i) == i)
    assert got == want


def test_curation_near_dedup_exact_stage(spark):
    """CurationConfig.near_dedup_exact swaps the LSH collapse for the
    lossless variant and agrees with the standalone operator."""
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline
    from etl_file_loader_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = CurationConfig(
        min_quality=None, scrub_pii=False,
        near_dedup=True, near_dedup_exact=True, near_dedup_threshold=0.5,
        split_fractions=None,
    )
    res = CurationPipeline(cfg).run(docs)
    want = dedup.remove_near_duplicates_exact(
        docs, "doc_id", "text", threshold=0.5
    ).count()
    assert res.stage_counts["near_dedup"] == want
    assert want < docs.count()  # the stage discriminates


def test_jaccard_pairs_auto_both_branches_agree(spark):
    """Forcing each branch via the budget knob returns identical rows
    (both paths are exact), and the default budget picks the inverted
    path on a hot-shingle-free corpus."""
    import random

    from etl_file_loader_spark.operators import dedup
    from etl_file_loader_spark.operators.cache import release_operator_caches

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 10))))
        for i in range(30)
    ]
    rows += [(100 + i, rows[i][1]) for i in range(6)]  # planted dups
    df = spark.createDataFrame(rows, "doc_id long, text string")
    key = lambda r: (r["id_a"], r["id_b"], r["intersection"], r["jaccard"])
    inverted = {
        key(r)
        for r in dedup.jaccard_pairs_auto(
            df, "doc_id", "text", n=2, threshold=0.5,
            candidate_budget_per_doc=10**9,
        ).collect()
    }
    prefix = {
        key(r)
        for r in dedup.jaccard_pairs_auto(
            df, "doc_id", "text", n=2, threshold=0.5,
            candidate_budget_per_doc=0,
        ).collect()
    }
    release_operator_caches()
    assert inverted == prefix
    assert len(inverted) >= 6  # the planted dups all surface


def test_link_best_match_resolution_and_tiebreak(spark):
    """Top-1 per feed record: min distance wins, equal distances break to
    the smallest master id, unmatched feed rows are absent."""
    from etl_file_loader_spark.operators import dedup
    from etl_file_loader_spark.operators.cache import release_operator_caches

    master = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, "mitten"), (9, "unrelated words")],
        "pid long, name string",
    )
    feed = spark.createDataFrame(
        # 'bitten': distance 1 to all three *itten masters -> tie -> pid 1
        # 'kittex': distance 1 to kitten only
        # 'zzzzzzzz': no match within 2
        [(100, "bitten"), (101, "kittex"), (102, "zzzzzzzz")],
        "rid long, s string",
    )
    got = {
        r["rid"]: (r["pid"], r["distance"])
        for r in dedup.link_best_match(
            master, feed, "pid", "rid", "name", "s", 2
        ).collect()
    }
    release_operator_caches()
    assert got == {100: (1, 1), 101: (1, 1)}
    assert 102 not in got


def test_link_best_match_tiered_equals_single_shot(spark):
    """The d=0->1->2 escalation returns EXACTLY the single-shot result on
    a feed spanning every tier: exact copies (resolve at 0, skipping the
    PassJoin entirely), 1-edit variants, 2-edit variants, ties at each
    tier, and unmatched records."""
    from etl_file_loader_spark.operators import dedup
    from etl_file_loader_spark.operators.cache import release_operator_caches

    master = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, "Mitten"), (7, "saturday")],
        "pid long, name string",
    )
    feed = spark.createDataFrame(
        [
            (100, "kitten"),     # exact -> tier 0
            (101, "KITTEN"),     # exact after lowering -> tier 0
            (102, "mitten"),     # exact vs mixed-case master -> tier 0
            (103, "bitten"),     # 1-edit tie to pids 1,2,3 -> pid 1
            (104, "sunday"),     # 2 edits to saturday? ed=3 -> unmatched
            (105, "saturdy"),    # 1 deletion -> tier 1
            (106, "xkittenx"),   # 2 insertions -> tier 2
            (107, "zzzzzz"),     # unmatched
        ],
        "rid long, s string",
    )
    kwargs = dict(max_distance=2)
    tiered = {
        r["rid"]: (r["pid"], r["distance"])
        for r in dedup.link_best_match(
            master, feed, "pid", "rid", "name", "s", tiered=True, **kwargs
        ).collect()
    }
    single = {
        r["rid"]: (r["pid"], r["distance"])
        for r in dedup.link_best_match(
            master, feed, "pid", "rid", "name", "s", tiered=False, **kwargs
        ).collect()
    }
    release_operator_caches()
    assert tiered == single
    assert tiered[100] == (1, 0) and tiered[101] == (1, 0)
    assert tiered[102] == (3, 0)
    assert tiered[103] == (1, 1)
    assert tiered[105] == (7, 1)
    assert tiered[106] == (1, 2)
    assert 104 not in tiered and 107 not in tiered


def test_near_dup_index_stream_semantics(spark):
    """The maintained band index: (a) a single flag() equals the one-shot
    incremental_near_dedup against the same corpus; (b) after absorb(),
    a later batch matches docs from an EARLIER BATCH, which the one-shot
    shape cannot express; (c) absorption is confluent — absorb order
    doesn't change the final index's decisions."""
    from etl_file_loader_spark.operators import dedup

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different content about warehouse ingestion plans"
    corpus = spark.createDataFrame([(0, text_a)], "doc_id long, text string")
    b1 = spark.createDataFrame([(11, text_b)], "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(22, text_b), (23, text_a)], "doc_id long, text string"
    )

    idx = dedup.NearDupIndex(corpus, "doc_id", "text")
    one_shot = {
        r["doc_id"]: (r["matched_corpus_id"], r["is_near_dup"])
        for r in dedup.incremental_near_dedup(b1, corpus, "doc_id", "text").collect()
    }
    via_index = {
        r["doc_id"]: (r["matched_corpus_id"], r["is_near_dup"])
        for r in idx.flag(b1).collect()
    }
    assert via_index == one_shot  # (a)
    assert via_index[11] == (None, 0)  # text_b unseen so far

    idx.absorb(b1)
    flags2 = {
        r["doc_id"]: (r["matched_corpus_id"], r["is_near_dup"])
        for r in idx.flag(b2).collect()
    }
    assert flags2[22] == (11, 1)  # (b): matched the BATCH-1 doc, not the seed
    assert flags2[23] == (0, 1)   # still matches the seed

    # (c) confluence: absorbing (b2 then b1) yields the same decisions
    # for a probe as (b1 then b2)
    probe = spark.createDataFrame([(99, text_b)], "doc_id long, text string")
    idx_ab = dedup.NearDupIndex(corpus, "doc_id", "text")
    idx_ab.absorb(b1)
    idx_ab.absorb(b2)
    idx_ba = dedup.NearDupIndex(corpus, "doc_id", "text")
    idx_ba.absorb(b2)
    idx_ba.absorb(b1)
    got_ab = sorted(tuple(r) for r in idx_ab.flag(probe).collect())
    got_ba = sorted(tuple(r) for r in idx_ba.flag(probe).collect())
    assert got_ab == got_ba == [(99, 11, 1)]


def test_linkage_index_matches_one_shot_operators(spark):
    """The standing-master index returns EXACTLY edit_distance_join's
    pairs and link_best_match's resolutions, across two successive feeds
    linked against the same built-once artifacts."""
    from etl_file_loader_spark.operators import dedup
    from etl_file_loader_spark.operators.cache import release_operator_caches

    master = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, "mitten"), (7, "saturday"), (9, "ox")],
        "pid long, name string",
    )
    feeds = [
        spark.createDataFrame(
            [(100, "kitten"), (101, "bitten"), (102, "saturdy"), (103, "zzz")],
            "rid long, s string",
        ),
        spark.createDataFrame(
            [(200, "OX"), (201, "axe"), (202, "xkittenx")],
            "rid long, s string",
        ),
    ]
    idx = dedup.LinkageIndex(master, "pid", "name", max_distance=2)
    for feed in feeds:
        got_pairs = sorted(
            tuple(r) for r in idx.link(feed, "rid", "s").collect()
        )
        want_pairs = sorted(
            tuple(r)
            for r in dedup.edit_distance_join(
                master, feed, "pid", "rid", "name", "s", 2
            ).collect()
        )
        assert got_pairs == want_pairs
        got_best = sorted(
            tuple(r) for r in idx.link_best(feed, "rid", "s").collect()
        )
        want_best = sorted(
            tuple(r)
            for r in dedup.link_best_match(
                master, feed, "pid", "rid", "name", "s", 2, tiered=True
            ).collect()
        )
        assert got_best == want_best
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_distance"):
        idx.link(feeds[0], "rid", "s", max_distance=3)
    idx.release()
    release_operator_caches()


def test_jaccard_join_rs_equals_bruteforce(spark):
    """Cross-table PPJoin against brute-force shingle Jaccard at several
    thresholds, on a corpus with planted cross-table near-dups, exact
    dups, short docs, and a hot shared token."""
    import random

    from etl_file_loader_spark.operators import dedup
    from etl_file_loader_spark.operators.cache import release_operator_caches

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(30)]
    mk = lambda k: " ".join(rng.choice(vocab) for _ in range(k))
    left_rows = [(i, mk(rng.randint(2, 12)) + " common") for i in range(25)]
    right_rows = [(100 + i, txt) for i, (j, txt) in enumerate(left_rows[:8])]
    right_rows += [
        (200 + i, txt + " w0 w1") for i, (j, txt) in enumerate(left_rows[8:16])
    ]
    right_rows += [(300 + i, mk(rng.randint(2, 12))) for i in range(10)]
    l_df = spark.createDataFrame(left_rows, "lid long, ltext string")
    r_df = spark.createDataFrame(right_rows, "rid long, rtext string")

    def shingle_set(txt, n=2):
        w = txt.strip().split()
        if len(w) < n:
            return {" ".join(w)}
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    for t in (0.3, 0.5, 0.8):
        got = {
            (r["id_left"], r["id_right"], r["intersection"], r["jaccard"])
            for r in dedup.jaccard_join(
                l_df, r_df, "lid", "rid", "ltext", "rtext", n=2, threshold=t
            ).collect()
        }
        want = set()
        for lid, lt in left_rows:
            sa = shingle_set(lt)
            for rid, rt in right_rows:
                sb = shingle_set(rt)
                inter = len(sa & sb)
                j = round(inter / (len(sa) + len(sb) - inter), 6)
                if j >= t:
                    want.add((lid, rid, inter, j))
        assert got == want, f"t={t}"
    release_operator_caches()


def test_ppjoin_positional_filter_prunes_and_stays_lossless(spark):
    """A corpus engineered so the prefix filter admits a pair the
    positional filter must prune: docs 0/1 share only 'c', sitting at
    ordinal 3 of both prefixes, so the overlap bound 1+min(7,7)=8 falls
    short of alpha=ceil(0.8/1.8*20)=9 — and the pair's true jaccard is
    1/19, so pruning it is lossless."""
    from etl_file_loader_spark.operators import dedup
    from etl_file_loader_spark.operators.cache import release_operator_caches

    rows = [
        (0, "u1 u2 c x1 x2 x3 x4 x5 x6 x7"),
        (1, "v1 v2 c y1 y2 y3 y4 y5 y6 y7"),
        (2, "x1 x2 x3 x4 x5 x6 x7 z1 z2 z3"),
        (3, "y1 y2 y3 y4 y5 y6 y7 w1 w2 w3"),
        (4, "x1 x2 x3 x4 x5 x6 x7 z4 z5 z6"),
        (5, "y1 y2 y3 y4 y5 y6 y7 w4 w5 w6"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = dedup.jaccard_prefix_candidate_stats(
        df, "doc_id", "text", n=1, threshold=0.8
    ).collect()[0]
    assert stats["candidates_prefix"] == 1  # (0,1) via the shared 'c'
    assert stats["candidates_positional"] == 0  # positional prunes it
    assert stats["verified_pairs"] == 0  # and it never qualified
    assert (
        dedup.jaccard_join_prefix(df, "doc_id", "text", n=1, threshold=0.8).count()
        == 0
    )
    release_operator_caches()


def test_edit_distance_pairs_radius_one_and_validation(spark):
    import pytest as _pytest

    from etl_file_loader_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "kitten"), (2, "sitten"), (3, "sittin"), (4, "kitten")],
        "id long, s string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in dedup.edit_distance_pairs(df, "id", "s", 1).collect()
    }
    assert got == {(1, 2): 1, (2, 3): 1, (1, 4): 0, (2, 4): 1}
    with _pytest.raises(ValueError, match="max_distance"):
        dedup.edit_distance_pairs(df, "id", "s", 0)


def test_edit_distance_split_verify_exactness(spark):
    """Round-15 split verification (_pj_split_verify): the per-meeting
    left/right banded sums may EXCEED the true distance at individual
    meetings — the per-pair min must still equal full levenshtein.
    Stressed two ways brute-force can catch a wrong min: repeated-motif
    strings (many segment matches per pair, each with a different
    left/right split) and multibyte codepoints (substr/levenshtein/length
    must agree on codepoint — not byte — offsets through the split
    path)."""
    import itertools

    from etl_file_loader_spark.operators import dedup

    rows = [
        # repeated motifs: every "ab" segment of one string occurs at
        # many window positions of the other -> many meetings per pair
        (0, "ababababab"), (1, "abababab"), (2, "ababababxb"),
        (3, "babababab"), (4, "ababababa"),
        # multibyte: 2- and 3-byte UTF-8 codepoints at edit positions
        (5, "café crème"), (6, "cafe crème"),
        (7, "café crèmés"), (8, "€€€ a"),
        (9, "€€ a"), (10, "naïve bayes"),
        (11, "naive bayes"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    data = {i: s.lower() for i, s in rows}
    for d in (1, 2):
        got = {
            (r["id_a"], r["id_b"], r["distance"])
            for r in dedup.edit_distance_pairs(df, "id", "s", d).collect()
        }
        want = {
            (a, b, _lev(data[a], data[b]))
            for a, b in itertools.combinations(sorted(data), 2)
            if _lev(data[a], data[b]) <= d
        }
        assert got == want, f"d={d}"


# ---------------------------------------------------------------------------
# jaccard_join_prefix (round 9): PPJoin prefix-filtered exact set join
# ---------------------------------------------------------------------------


def test_jaccard_join_prefix_equals_bruteforce(spark):
    import itertools

    from etl_file_loader_spark.operators import dedup

    rows = [
        (0, "a b c d e f g h"),
        (1, "a b c d e f g h x"),     # superset: high jaccard
        (2, "a b c d e f g h"),       # exact dup
        (3, "p q r s t u v w"),       # disjoint
        (4, "a b c d e p q r s t"),   # partial overlap
        (5, "short"),                 # sub-n: whole-text shingle
        (6, "short"),                 # matches 5 exactly
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def shset(s):
        w = s.split()
        return {s} if len(w) < 5 else {" ".join(w[i:i + 5]) for i in range(len(w) - 4)}

    for t in (0.3, 0.8):
        got = {
            (r["id_a"], r["id_b"], r["intersection"], r["jaccard"])
            for r in dedup.jaccard_join_prefix(df, "doc_id", "text", n=5, threshold=t).collect()
        }
        data = {i: shset(s) for i, s in rows}
        want = set()
        for a, b in itertools.combinations(sorted(data), 2):
            inter = len(data[a] & data[b])
            if not inter:
                continue
            j = round(inter / (len(data[a]) + len(data[b]) - inter), 6)
            if j >= t:
                want.add((a, b, inter, j))
        assert got == want, t
    import pytest as _pytest

    with _pytest.raises(ValueError, match="threshold"):
        dedup.jaccard_join_prefix(df, "doc_id", "text", threshold=0.0)


def test_jaccard_prefix_skips_hot_shingles(spark):
    """The point of the prefix filter: a shingle shared by EVERY doc must
    not put all docs in one candidate bucket. With t=0.9 and 11 distinct
    shingles per doc, prefixes hold 2 shingles — the rare tail ones —
    so the shared-boilerplate shingle generates no candidates."""
    from etl_file_loader_spark.operators import dedup

    # every doc shares one boilerplate sentence; tails are unique
    rows = [
        (i, "common boiler plate text here " + " ".join(f"u{i}_{j}" for j in range(10)))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.jaccard_join_prefix(df, "doc_id", "text", n=5, threshold=0.9).collect()
    assert out == []  # no pair is actually >= 0.9


def test_rrf_fuse_semantics(spark):
    """RRF: doc in both lists beats single-list docs at similar ranks;
    missing-list contribution is exactly 0; ties break on id."""
    from etl_file_loader_spark.operators.text import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], ["id", "rank"])
    b = spark.createDataFrame([(2, 1), (4, 2), (5, 3)], ["id", "rank"])
    got = rrf_fuse([a, b], "id", k0=60, k=10).collect()
    rows = {r.id: (r.rank_0, r.rank_1, r.rrf) for r in got}
    assert rows[2][:2] == (2, 1)
    assert abs(rows[2][2] - round(1 / 62 + 1 / 61, 6)) < 1e-9
    assert rows[1][:2] == (1, None)
    assert abs(rows[1][2] - round(1 / 61, 6)) < 1e-9
    # doc 2 (both lists) outranks everyone
    assert got[0].id == 2
    # equal-score docs order by id: ranks (3, None) vs (None, 3) tie
    tied = [r.id for r in got if abs(r.rrf - round(1 / 63, 6)) < 1e-9]
    assert tied == sorted(tied)
    with __import__("pytest").raises(ValueError):
        rrf_fuse([], "id")
