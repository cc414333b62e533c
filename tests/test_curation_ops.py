"""Round-4 session-3 curation operators: hashed linear classifier, unigram
LM scoring, sequence chunking, and blocked SimHash dedup."""

import math

import pytest
from pyspark.sql import functions as F

from etl_file_loader_spark.operators import dedup, sampling, text


@pytest.fixture
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta alpha beta"),
        (2, "alpha beta gamma delta alpha beta"),  # exact dup of 1
        (3, "alpha beta gamma delta alpha zeta"),  # near dup of 1
        (4, "totally different words entirely here now"),
        (5, ""),  # empty doc
        (6, "solo"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# hashed linear classifier
# ---------------------------------------------------------------------------


def test_classifier_score_math(spark):
    # dim=1: every token hashes to feature 0, so the pooled logit is just
    # bias + w0/1000 regardless of content — pins the mean-pooling formula
    df = spark.createDataFrame([(1, "a b c d"), (2, "x"), (3, "")], "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in text.classifier_score(
            df, "doc_id", "text", weights_milli=[500], bias_milli=250, threshold_milli=700
        ).collect()
    }
    assert out[1]["n_tokens"] == 4 and out[1]["logit"] == pytest.approx(0.75)
    assert out[2]["logit"] == pytest.approx(0.75)
    assert out[3]["n_tokens"] == 0 and out[3]["logit"] == pytest.approx(0.25)  # bias only
    assert out[1]["keep"] == 1 and out[3]["keep"] == 0


def test_classifier_inline_vs_joined_identical(spark, docs):
    dim = 16
    weights = [((i * 37) % 900) - 450 for i in range(dim)]
    inline = text.classifier_score(docs, "doc_id", "text", weights_milli=weights, bias_milli=100)
    wdf = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "feature int, w_milli long"
    )
    joined = text.classifier_score_joined(
        docs, "doc_id", "text", weights=wdf, dim=dim, bias_milli=100
    )
    a = {r["doc_id"]: (r["n_tokens"], r["logit"], r["keep"]) for r in inline.collect()}
    b = {r["doc_id"]: (r["n_tokens"], r["logit"], r["keep"]) for r in joined.collect()}
    assert a == b  # bit-identical: same integer sum, same single division


# ---------------------------------------------------------------------------
# unigram LM scoring
# ---------------------------------------------------------------------------


def test_unigram_logprob_math(spark):
    # corpus: a a a b  ->  counts: a=3, b=1, T=4
    df = spark.createDataFrame([(1, "a a a"), (2, "b"), (3, "")], "doc_id long, text string")
    out = {
        r["doc_id"]: r for r in text.unigram_logprob(df, "doc_id", "text", min_count=1).collect()
    }
    assert out[1]["n_tokens"] == 3 and out[1]["n_oov"] == 0
    assert out[1]["mean_logprob"] == pytest.approx(round(math.log(3 / 4), 6), abs=1e-9)
    assert out[2]["mean_logprob"] == pytest.approx(round(math.log(1 / 4), 6), abs=1e-9)
    assert out[3]["n_tokens"] == 0 and out[3]["mean_logprob"] is None


def test_unigram_logprob_oov(spark):
    df = spark.createDataFrame([(1, "a a b"), (2, "a c")], "doc_id long, text string")
    out = {
        r["doc_id"]: r for r in text.unigram_logprob(df, "doc_id", "text", min_count=2).collect()
    }
    # counts: a=3, b=1, c=1, T=5; min_count=2 -> b and c are OOV
    assert out[1]["n_oov"] == 1 and out[2]["n_oov"] == 1
    assert out[1]["mean_logprob"] == pytest.approx(round(math.log(3 / 5), 6), abs=1e-9)
    assert out[2]["mean_logprob"] == pytest.approx(round(math.log(3 / 5), 6), abs=1e-9)


# ---------------------------------------------------------------------------
# sequence chunking
# ---------------------------------------------------------------------------


def test_sequence_chunks_shapes(spark):
    df = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5 t6 t7"), (2, "t1 t2 t3 t4"), (3, ""), (4, "only")],
        "doc_id long, text string",
    )
    out = sampling.sequence_chunks(df, "doc_id", "text", seq_len=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 7 tokens / seq_len 4 -> chunks of 4 and 3
    assert [r["chunk_tokens"] for r in sorted(by_doc[1], key=lambda r: r["chunk_idx"])] == [4, 3]
    # doc 2: exact multiple -> one full chunk, no empty trailing chunk
    assert [r["chunk_tokens"] for r in by_doc[2]] == [4]
    assert 3 not in by_doc  # empty doc yields no chunks
    assert [r["chunk_tokens"] for r in by_doc[4]] == [1]


def test_sequence_chunks_overlap_and_coverage(spark):
    toks = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    out = sorted(
        sampling.sequence_chunks(df, "doc_id", "text", seq_len=4, stride=3).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # starts at 0,3,6,9 -> lengths 4,4,4,1
    assert [r["chunk_tokens"] for r in out] == [4, 4, 4, 1]
    # content check: chunk i covers tokens [3i, 3i+4)
    import hashlib

    for i, r in enumerate(out):
        expect = " ".join(toks[3 * i : 3 * i + 4])
        assert r["chunk_md5"] == hashlib.md5(expect.encode()).hexdigest()


def test_sequence_chunks_rejects_bad_params(spark, docs):
    with pytest.raises(ValueError):
        sampling.sequence_chunks(docs, "doc_id", "text", seq_len=0)


# ---------------------------------------------------------------------------
# GPT-style cross-document sequence packing
# ---------------------------------------------------------------------------


def test_packed_sequences_stream(spark):
    # 2 docs of 3 tokens + boundary each -> stream of 8 tokens -> seqs of 5
    df = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "d e f", "en")], "doc_id long, text string, lang string"
    )
    out = sorted(
        sampling.packed_sequences(
            df, "doc_id", "text", seq_len=5, partition_cols=["lang"]
        ).collect(),
        key=lambda r: r["seq_idx"],
    )
    import hashlib

    stream = ["a", "b", "c", "<|endofdoc|>", "d", "e", "f", "<|endofdoc|>"]
    assert [r["n_tokens"] for r in out] == [5, 3]
    # seq 0 crosses the doc boundary -> spans both docs
    assert [r["n_docs"] for r in out] == [2, 1]
    for i, r in enumerate(out):
        expect = " ".join(stream[5 * i : 5 * i + 5])
        assert r["seq_md5"] == hashlib.md5(expect.encode()).hexdigest()


def test_packed_sequences_partition_isolation_and_guard(spark):
    df = spark.createDataFrame(
        [(1, "a b", "en"), (2, "c d", "de")], "doc_id long, text string, lang string"
    )
    out = {
        (r["lang"], r["seq_idx"]): r["n_tokens"]
        for r in sampling.packed_sequences(
            df, "doc_id", "text", seq_len=10, partition_cols=["lang"]
        ).collect()
    }
    # each language stream starts at offset 0 -> one short sequence each
    assert out == {("en", 0): 3, ("de", 0): 3}
    with pytest.raises(ValueError):
        sampling.packed_sequences(df, "doc_id", "text", seq_len=10)


# ---------------------------------------------------------------------------
# on-disk training-shard layout
# ---------------------------------------------------------------------------


def test_write_and_read_training_shards(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", 100 + i) for i in range(1, 21)],
        "doc_id long, lang string, n_tokens long",
    )
    packed = sampling.pack_shards(df, "doc_id", "n_tokens", budget=300, partition_cols=["lang"])
    path = str(tmp_path / "shards")
    sampling.write_training_shards(packed, path, "n_tokens", ["lang"])

    manifest = {
        (r["lang"], r["shard_id"]): (r["docs"], r["tokens"])
        for r in spark.read.parquet(f"{path}/_manifest").collect()
    }
    assert sum(d for d, _ in manifest.values()) == 20
    assert sum(t for _, t in manifest.values()) == sum(100 + i for i in range(1, 21))

    one = sampling.read_shard(spark, path, 0, lang="en")
    expect = {r["doc_id"] for r in packed.filter("lang = 'en' and shard_id = 0").collect()}
    assert {r["doc_id"] for r in one.collect()} == expect
    # the shard read must prune at file listing, not post-scan filter
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "shard_id" in plan.split("PartitionFilters")[1][:200]


# ---------------------------------------------------------------------------
# signature-based Jaccard estimation
# ---------------------------------------------------------------------------


def test_minhash_jaccard_estimate(spark, docs):
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=16, n=3)
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_est"]
        for r in dedup.minhash_jaccard_pairs(sigs, "doc_id", threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs agree on every component
    assert all(0.5 <= v <= 1.0 for v in pairs.values())


# ---------------------------------------------------------------------------
# blocked SimHash pairs + end-to-end collapse
# ---------------------------------------------------------------------------


def _allpairs_simhash(df, bits, max_hamming):
    sh = dedup.simhash(df, "doc_id", "text", bits=bits)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("ha"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("hb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def test_simhash_engines_bit_identical(spark):
    """SimHash fingerprints equal the DuckDB oracle's at both widths over a
    real corpus slice (every doc has tokens)."""
    import duckdb

    from etl_file_loader_spark.suite import dedup as suite_dedup
    from tests.text_oracle import SF_DIR, by_id

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * "
        f"FROM '{SF_DIR}/documents.parquet' WHERE doc_id < 150"
    )
    for bits in (32, 60):
        got = by_id(dedup.simhash(docs, "doc_id", "text", bits=bits).collect())
        want = by_id(
            con.execute(
                f"WITH {suite_dedup.simhash_cte(bits)} SELECT doc_id, simhash FROM sh"
            ).fetchall()
        )
        assert len(got) == 150
        assert got == want


def test_blocked_pairs_equal_all_pairs(spark):
    # real corpus slice: the pigeonhole guarantee means EXACT equality
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )
    blocked = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_pairs_blocked(
            docs, "doc_id", "text", bits=60, max_hamming=3, blocks=4
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in _allpairs_simhash(docs, 60, 3).collect()
    }
    assert blocked == exact
    assert exact  # the slice contains duplicate docs, so the test is non-vacuous


def test_blocked_pairs_param_guards(spark, docs):
    with pytest.raises(ValueError):
        dedup.simhash_pairs_blocked(docs, "doc_id", "text", bits=60, max_hamming=3, blocks=3)
    with pytest.raises(ValueError):
        dedup.simhash_pairs_blocked(docs, "doc_id", "text", bits=50, max_hamming=3, blocks=4)


def test_simhash_dedup_collapse_and_idempotence(spark, docs):
    kept = dedup.simhash_dedup(docs, "doc_id", "text", bits=60, max_hamming=3, blocks=4)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 1 in ids and 2 not in ids  # exact dup collapses to min id
    assert 4 in ids and 6 in ids  # unrelated docs survive
    # survivors sit in distinct components, so a second pass removes nothing
    again = dedup.simhash_dedup(kept, "doc_id", "text", bits=60, max_hamming=3, blocks=4)
    assert {r["doc_id"] for r in again.collect()} == ids


# ---------------------------------------------------------------------------
# product quantization (PQ) ANN
# ---------------------------------------------------------------------------


def test_pq_encode_rerank_and_roundtrip(spark, tmp_path):
    from etl_file_loader_spark.operators import similarity as sim
    from pyspark.sql import functions as F
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    query = [float(np.cos(i * 0.31)) * 0.2 for i in range(64)]

    enc = sim.PQEncoder(m=16, ksub=16).fit(emb, "embedding", order_col="vec_id")
    assert enc.codebooks.shape == (16, 16, 4)
    codes = enc.encode(emb, "vec_id", "embedding")
    row = codes.first()
    assert len(row["pq_code"]) == 16 and all(0 <= c < 16 for c in row["pq_code"])

    # exact L2 top-10 baseline
    q = F.array(*[F.lit(v) for v in query])
    l2 = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), q, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    exact = [r["vec_id"] for r in emb.select("vec_id", l2.alias("d")).orderBy(F.col("d").asc(), "vec_id").limit(10).collect()]

    rerank = {r["vec_id"] for r in sim.pq_topk_rerank(enc, codes, emb, "vec_id", "embedding", query, k=10, oversample=5).collect()}
    assert len(rerank & set(exact)) >= 8  # shortlist+rerank recovers the exact set

    # persistence round-trip produces identical codebooks and codes
    enc.save(str(tmp_path / "books"), spark)
    enc2 = sim.PQEncoder.load(str(tmp_path / "books"), spark)
    assert (enc2.codebooks == enc.codebooks).all()
    c1 = {r["vec_id"]: r["pq_code"] for r in codes.collect()}
    c2 = {r["vec_id"]: r["pq_code"] for r in enc2.encode(emb, "vec_id", "embedding").collect()}
    assert c1 == c2


def test_pq_fit_is_deterministic(spark):
    from etl_file_loader_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = sim.PQEncoder(m=8, ksub=8).fit(emb, "embedding", order_col="vec_id")
    b = sim.PQEncoder(m=8, ksub=8).fit(emb, "embedding", order_col="vec_id")
    assert (a.codebooks == b.codebooks).all()


# ---------------------------------------------------------------------------
# cluster-balanced (diversity) sampling
# ---------------------------------------------------------------------------


def test_cluster_balanced_sample(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    total = emb.count()
    kept = sampling.cluster_balanced_sample(
        emb, "vec_id", "embedding", target_per_cluster=8, n_clusters=8
    )
    rows = kept.collect()
    per_cluster = {}
    for r in rows:
        per_cluster[r["_cluster"]] = per_cluster.get(r["_cluster"], 0) + 1
    assert len(per_cluster) == 8  # every cluster survives
    assert max(per_cluster.values()) <= 16  # dense clusters downsample (2x slack)
    assert len(rows) < total  # selection did work
    # deterministic: same call keeps the same docs
    again = {r["vec_id"] for r in sampling.cluster_balanced_sample(
        emb, "vec_id", "embedding", target_per_cluster=8, n_clusters=8
    ).collect()}
    assert again == {r["vec_id"] for r in rows}


# ---------------------------------------------------------------------------
# semantic (embedding-level) decontamination
# ---------------------------------------------------------------------------


def test_semantic_contamination(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal(64); base /= np.linalg.norm(base)
    other = rng.standard_normal(64); other /= np.linalg.norm(other)
    near = base + 0.05 * rng.standard_normal(64); near /= np.linalg.norm(near)
    corpus = spark.createDataFrame(
        [(1, [float(x) for x in near]), (2, [float(x) for x in other])],
        "vec_id long, embedding array<float>",
    )
    bench = spark.createDataFrame(
        [(100, [float(x) for x in base])], "vec_id long, embedding array<float>"
    )
    hits = {
        r["vec_id"]: r
        for r in dedup.semantic_contamination(
            corpus, bench, "vec_id", "embedding", threshold=0.9, num_bands=16
        ).collect()
    }
    assert 1 in hits and hits[1]["max_cosine"] >= 0.9 and hits[1]["n_bench_hits"] == 1
    assert 2 not in hits  # orthogonal content is clean


# ---------------------------------------------------------------------------
# end-to-end curation pipeline driver
# ---------------------------------------------------------------------------


def test_curation_pipeline_end_to_end(spark, tmp_path):
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = CurationConfig(
        min_quality=0.5,
        scrub_pii=True,
        near_dedup=True,
        split_fractions={"train": 0.9, "valid": 0.1},
        keep_splits=("train",),
        shard_budget_tokens=5000,
        partition_cols=["lang"],
    )
    path = str(tmp_path / "curated")
    result = CurationPipeline(cfg).run_and_write(docs, path)

    c = result.stage_counts
    # monotone data loss through the dropping stages
    assert c["input"] >= c["quality_filter"] >= c["near_dedup"] >= c["split_kept"]
    assert c["split_kept"] == c["packed"] == result.kept_docs > 0
    # near-dedup actually removed the corpus's exact duplicates
    assert c["near_dedup"] < c["quality_filter"]

    # the on-disk layout round-trips and the manifest accounts every doc
    data = spark.read.parquet(f"{path}/data")
    assert data.count() == result.kept_docs
    manifest = spark.read.parquet(f"{path}/_manifest")
    total = manifest.agg({"docs": "sum"}).collect()[0][0]
    assert total == result.kept_docs
    # every kept doc carries split/shard/token metadata
    row = data.first()
    assert row["split"] == "train" and row["n_tokens"] >= 0 and row["shard_id"] >= 0


def test_bigram_logprob_math(spark):
    # corpus: "a b a b" + "a c": bigrams a->b x2, b->a x1, a->c x1
    # ctx(a)=3, ctx(b)=1
    df = spark.createDataFrame([(1, "a b a b"), (2, "a c"), (3, "solo"), (4, "")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.bigram_logprob(df, "doc_id", "text").collect()}
    # doc 1: bigrams (a,b),(b,a),(a,b): ln(2/3)+ln(1/1)+ln(2/3) over 3
    expect1 = round((2 * math.log(2 / 3) + math.log(1 / 1)) / 3, 6)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["mean_logprob"] == pytest.approx(expect1, abs=1e-9)
    # doc 2: one bigram (a,c): ln(1/3)
    assert out[2]["mean_logprob"] == pytest.approx(round(math.log(1 / 3), 6), abs=1e-9)
    # short/empty docs: no bigrams, NULL score
    assert out[3]["n_bigrams"] == 0 and out[3]["mean_logprob"] is None
    assert out[4]["n_bigrams"] == 0 and out[4]["mean_logprob"] is None


def test_trigram_logprob_math(spark):
    """Hand-computable Jelinek-Mercer mixture ln(0.6*P3 + 0.3*P2 + 0.1*P1).

    Corpus "a b a b a" + "a c": trigrams only from doc 1 (aba x2, bab x1,
    so x3(a,b)=2, x3(b,a)=1); bigrams ab x2, ba x2, ac x1 (x2(a)=3,
    x2(b)=2); unigrams a=4, b=2, c=1, N=7."""
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a c"), (3, "")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in text.trigram_logprob(df, "doc_id", "text").collect()}
    # doc 1 positions: (a,b->a): P3=2/2, P2=ba|b=2/2, P1=4/7
    #                  (b,a->b): P3=1/1, P2=ab|a=2/3, P1=2/7
    #                  (a,b->a) again
    mix_aba = 0.6 * 1.0 + 0.3 * 1.0 + 0.1 * (4 / 7)
    mix_bab = 0.6 * 1.0 + 0.3 * (2 / 3) + 0.1 * (2 / 7)
    expect1 = round((2 * math.log(mix_aba) + math.log(mix_bab)) / 3, 6)
    assert out[1]["n_trigrams"] == 3
    assert out[1]["mean_logprob"] == pytest.approx(expect1, abs=1e-9)
    # < 3 tokens: no trigrams, NULL score
    assert out[2]["n_trigrams"] == 0 and out[2]["mean_logprob"] is None
    assert out[3]["n_trigrams"] == 0 and out[3]["mean_logprob"] is None


def test_trigram_logprob_single_doc_probe(spark):
    """The VERDICT r7 probe pinned as a regression: one doc "a b a b a"
    trained on itself. Counts: c3(aba)=2/x3(ab)=2, c3(bab)=1/x3(ba)=1,
    c2(ab)=c2(ba)=2 with x2(a)=x2(b)=2, unigrams a=3 b=2 N=5, so the three
    positions mix to 0.96, 0.94, 0.96."""
    df = spark.createDataFrame([(1, "a b a b a")], "doc_id long, text string")
    row = text.trigram_logprob(df, "doc_id", "text").collect()[0]
    expect = round((2 * math.log(0.96) + math.log(0.94)) / 3, 6)
    assert row["n_trigrams"] == 3
    assert row["mean_logprob"] == pytest.approx(expect, abs=1e-9)


def test_kn_bigram_logprob_math(spark):
    """Hand-computable interpolated Kneser-Ney mixture (D = 0.75).

    Corpus = one doc "a b a b": bigram types (a,b) c=2, (b,a) c=1;
    ctx(a)=2 f(a)=1, ctx(b)=1 f(b)=1; pc(a)=1 pc(b)=1; B=2.
    P(b|a) = (2-.75)/2 + .75*1/2*1/2 = 0.8125
    P(a|b) = (1-.75)/1 + .75*1/1*1/2 = 0.625"""
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "z"), (3, "")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r for r in text.kn_bigram_logprob(df, "doc_id", "text").collect()
    }
    expect1 = round((2 * math.log(0.8125) + math.log(0.625)) / 3, 6)
    assert out[1]["n_bigrams"] == 3
    assert out[1]["mean_logprob"] == pytest.approx(expect1, abs=1e-9)
    assert out[2]["n_bigrams"] == 0 and out[2]["mean_logprob"] is None
    assert out[3]["n_bigrams"] == 0 and out[3]["mean_logprob"] is None


def test_kn_bigram_matches_reference_implementation(spark):
    """Cross-check the distributed KN estimator against a direct Python
    reimplementation on a multi-doc corpus with shared vocabulary."""
    corpus = [
        (1, "the cat sat on the mat"),
        (2, "the dog sat on the log"),
        (3, "a cat and a dog"),
    ]
    from collections import Counter

    D = 0.75
    bigrams = []
    per_doc: dict[int, list[tuple[str, str]]] = {}
    for did, txt in corpus:
        ts = txt.lower().split()
        bgs = list(zip(ts, ts[1:]))
        per_doc[did] = bgs
        bigrams.extend(bgs)
    c = Counter(bigrams)
    ctx = Counter()
    f = Counter()
    pc = Counter()
    for (p, w), n in c.items():
        ctx[p] += n
        f[p] += 1
        pc[w] += 1
    B = len(c)

    def prob(p, w):
        return (c[(p, w)] - D) / ctx[p] + D * f[p] / ctx[p] * pc[w] / B

    df = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {
        r["doc_id"]: r for r in text.kn_bigram_logprob(df, "doc_id", "text").collect()
    }
    for did, bgs in per_doc.items():
        expect = round(sum(math.log(prob(p, w)) for p, w in bgs) / len(bgs), 6)
        assert out[did]["n_bigrams"] == len(bgs)
        assert out[did]["mean_logprob"] == pytest.approx(expect, abs=1e-9), did


def test_kn_bigram_vocabulary_normalization(spark):
    """The KN estimator's defining property: for every context p,
    sum over the FULL vocab of P(w|p) -- observed types via the
    discounted term, everything else via backoff mass -- equals 1."""
    corpus = [(1, "a b a c a b"), (2, "b c b a")]
    from collections import Counter

    D = 0.75
    bigrams = []
    for _, txt in corpus:
        ts = txt.split()
        bigrams.extend(zip(ts, ts[1:]))
    c = Counter(bigrams)
    ctx = Counter()
    f = Counter()
    pc = Counter()
    vocab = set()
    for (p, w), n in c.items():
        ctx[p] += n
        f[p] += 1
        pc[w] += 1
        vocab.update((p, w))
    B = len(c)
    for p in ctx:
        total = sum(
            (max(c[(p, w)] - D, 0.0)) / ctx[p] + D * f[p] / ctx[p] * pc[w] / B
            for w in vocab
        )
        assert total == pytest.approx(1.0, abs=1e-12), p


# ---------------------------------------------------------------------------
# simhash family-size cap + curation composition (round 7)
# ---------------------------------------------------------------------------


def test_simhash_cap_noop_when_buckets_small(spark, docs, caplog):
    """A cap above every bucket size must be a byte-identical no-op, with
    no truncation warning."""
    import logging

    base = dedup.simhash_dedup(docs, "doc_id", "text", bits=60, max_hamming=3, blocks=4)
    with caplog.at_level(logging.WARNING, logger="etl_file_loader_spark.operators.dedup"):
        capped = dedup.simhash_dedup(
            docs, "doc_id", "text", bits=60, max_hamming=3, blocks=4,
            max_family_size=1000,
        )
        got = {r["doc_id"] for r in capped.collect()}
    assert got == {r["doc_id"] for r in base.collect()}
    assert not [r for r in caplog.records if "bucket cap" in r.message]


def test_simhash_cap_truncation_accounting(spark, caplog):
    """A hot bucket over the cap fires the loud warning with exact
    accounting, and capping only RETAINS extra docs (never over-deletes)."""
    import logging

    # 12 docs of one near-identical family (distinct fingerprints, shared
    # blocks) + 2 unrelated docs
    family = [
        (i, f"the quick brown fox jumps over the lazy dog variant token{i}")
        for i in range(1, 13)
    ]
    other = [(100, "completely unrelated subject matter entirely"),
             (101, "another standalone document body")]
    df = spark.createDataFrame(family + other, "doc_id long, text string")
    base = {r["doc_id"] for r in
            dedup.simhash_dedup(df, "doc_id", "text", bits=60, max_hamming=5,
                                blocks=6).collect()}
    with caplog.at_level(logging.WARNING, logger="etl_file_loader_spark.operators.dedup"):
        capped = {r["doc_id"] for r in
                  dedup.simhash_dedup(df, "doc_id", "text", bits=60, max_hamming=5,
                                      blocks=6, max_family_size=3).collect()}
    warnings = [r for r in caplog.records if "bucket cap" in r.message]
    assert warnings, "expected a truncation warning for the hot bucket"
    # capping drops candidate pairs only -> fewer merges -> superset survivors
    assert capped >= base
    assert 100 in capped and 101 in capped


def test_simhash_cap_rejects_degenerate(spark, docs):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="cap"):
        dedup.simhash_dedup(docs, "doc_id", "text", max_family_size=1).collect()


def test_curation_simhash_stage(spark):
    """CurationConfig.simhash_dedup composes near-dedup BEFORE simhash and
    reports the stage count."""
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = CurationConfig(
        min_quality=None,
        scrub_pii=False,
        near_dedup=True,
        simhash_dedup=True,
        simhash_max_family_size=64,
        split_fractions=None,
        shard_budget_tokens=5000,
        partition_cols=["lang"],
    )
    result = CurationPipeline(cfg).run(docs)
    c = result.stage_counts
    assert "simhash_dedup" in c
    # simhash runs AFTER minhash near-dedup: monotone, and keyed in order
    assert c["input"] >= c["near_dedup"] >= c["simhash_dedup"] > 0
    assert c["packed"] == c["simhash_dedup"]


# ---------------------------------------------------------------------------
# perplexity filter stage (round 8: CCNet-style KN fluency floor)
# ---------------------------------------------------------------------------


def _ppl_corpus(spark):
    # shared phrasing across docs 1-4 -> high self-trained logprob;
    # doc 5 is word salad with all-unique bigrams -> much lower score;
    # doc 6 too short to score (no bigrams)
    rows = [
        (1, "the model trains on the corpus and the model scores the corpus"),
        (2, "the model trains on the corpus and the model keeps the corpus"),
        (3, "the model trains on the corpus and the model filters the corpus"),
        (4, "the model scores the corpus and the model trains again"),
        (5, "zq xv plw ognt rrsb vcxm uyt eew qqa zzx"),
        (6, "single"),
    ]
    rows = [(i, txt, "en") for i, txt in rows]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_perplexity_filter_drops_gibberish(spark):
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline

    docs = _ppl_corpus(spark)
    # pick the floor between the fluent docs and the word salad
    scored = {
        r["doc_id"]: r["mean_logprob"]
        for r in text.kn_bigram_logprob(docs, "doc_id", "text").collect()
    }
    fluent_min = min(scored[i] for i in (1, 2, 3, 4))
    assert scored[5] < fluent_min  # the premise of the threshold
    floor = (scored[5] + fluent_min) / 2

    cfg = CurationConfig(
        min_quality=None,
        scrub_pii=False,
        near_dedup=False,
        perplexity_filter=True,
        min_mean_logprob=floor,
    )
    res = CurationPipeline(cfg).run(docs)
    kept = {r["doc_id"] for r in res.packed.select("doc_id").collect()}
    assert 5 not in kept
    assert {1, 2, 3, 4, 6} <= kept  # short doc 6 passes through unscored
    assert res.stage_counts["perplexity_filter"] == 5


def test_curation_url_guard_stage(spark):
    """Stage 0a (round 11): blocked registrable domains drop first, then
    the per-domain cap keeps the lowest doc_ids — BEFORE any text stage
    runs, and only when url_col is configured."""
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline

    rows = [
        (i, f"https://www.dom{i % 3}.com/{i}",
         f"document text number {i} with words", "en")
        for i in range(12)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "url", "text", "lang"])
    cfg = CurationConfig(
        url_col="url",
        blocked_domains=("dom0.com",),
        domain_cap=2,
        min_quality=None,
        scrub_pii=False,
        near_dedup=False,
    )
    res = CurationPipeline(cfg).run(docs)
    # dom0 blocked (4 docs gone); dom1/dom2 capped at 2 each -> 4 survive
    assert res.stage_counts["url_guard"] == 4
    assert res.stage_counts["packed"] == 4
    kept = {r.doc_id for r in res.packed.select("doc_id").collect()}
    assert kept == {1, 2, 4, 5}

    # url_col unset -> stage skipped entirely even with guards configured
    cfg_off = CurationConfig(
        blocked_domains=("dom0.com",), domain_cap=2,
        min_quality=None, scrub_pii=False, near_dedup=False,
    )
    res_off = CurationPipeline(cfg_off).run(docs)
    assert "url_guard" not in res_off.stage_counts
    assert res_off.stage_counts["packed"] == 12


def test_perplexity_filter_disabled_is_noop(spark):
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline

    docs = _ppl_corpus(spark)
    cfg = CurationConfig(min_quality=None, scrub_pii=False, near_dedup=False)
    res = CurationPipeline(cfg).run(docs)
    assert "perplexity_filter" not in res.stage_counts
    assert res.stage_counts["packed"] == 6


def test_perplexity_band_trims_per_language(spark):
    """Stage 4c band variant (round 13): the CCNet per-language quantile
    band — kept ids must equal the manual quantile_trim replay over the
    per-language mean_logprob distribution, with the unscoreable doc
    (n_bigrams = 0) passing through."""
    from etl_file_loader_spark.operators.sketches import quantile_trim
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline

    en = _ppl_corpus(spark)
    de = spark.createDataFrame(
        [
            (11, "das modell lernt auf dem korpus und das modell lernt weiter", "de"),
            (12, "das modell lernt auf dem korpus und das modell bleibt hier", "de"),
            (13, "qqx zvw pltk mnro aab ccd eef ggh", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    docs = en.unionByName(de)
    cfg = CurationConfig(
        min_quality=None,
        scrub_pii=False,
        near_dedup=False,
        perplexity_band=(500, 1000),  # keep >= per-language median logprob
    )
    res = CurationPipeline(cfg).run(docs)
    kept = {r["doc_id"] for r in res.packed.select("doc_id").collect()}

    scored = text.kn_bigram_logprob(docs, "doc_id", "text")
    scoreable = scored.filter(F.col("n_bigrams") > 0).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    expect = {
        r["doc_id"]
        for r in quantile_trim(scoreable, ["lang"], "mean_logprob", 500, 1000).collect()
    }
    expect.add(6)  # unscoreable passes through
    assert kept == expect
    # the band bit: word salad (below the median in BOTH languages) is out
    assert 5 not in kept and 13 not in kept
    assert res.stage_counts["perplexity_filter"] == len(kept)


def test_perplexity_band_null_group_passes_through(spark):
    """ADVICE r13: docs with NULL in a perplexity_band_by column (e.g.
    unidentified language) have no group distribution to trim against —
    they must pass through like the n_bigrams == 0 unscoreables, not be
    silently dropped by the trim's equi-join."""
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline

    en = _ppl_corpus(spark)
    nolang = spark.createDataFrame(
        [(21, "the model learns on the corpus and the model keeps learning", None)],
        "doc_id long, text string, lang string",
    )
    docs = en.unionByName(nolang)
    cfg = CurationConfig(
        min_quality=None,
        scrub_pii=False,
        near_dedup=False,
        perplexity_band=(500, 1000),
    )
    res = CurationPipeline(cfg).run(docs)
    kept = {r["doc_id"] for r in res.packed.select("doc_id").collect()}
    assert 21 in kept  # NULL-group doc survives regardless of fluency
    # full replay: trimmed non-null groups + unscoreables + null-group
    # (the LM is corpus-trained, so the band is replayed over the SAME
    # corpus including doc 21 — its text shifts every doc's logprob)
    from etl_file_loader_spark.operators.sketches import quantile_trim

    scored = text.kn_bigram_logprob(docs, "doc_id", "text")
    scoreable = scored.filter(F.col("n_bigrams") > 0).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    expect = {
        r["doc_id"]
        for r in quantile_trim(
            scoreable.filter(F.col("lang").isNotNull()),
            ["lang"], "mean_logprob", 500, 1000,
        ).collect()
    }
    expect |= {r["doc_id"] for r in scored.filter(F.col("n_bigrams") == 0).collect()}
    expect.add(21)
    assert kept == expect


def test_perplexity_floor_and_band_mutually_exclusive(spark):
    import pytest as _pytest

    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline

    docs = _ppl_corpus(spark)
    cfg = CurationConfig(
        min_quality=None,
        scrub_pii=False,
        near_dedup=False,
        perplexity_filter=True,
        perplexity_band=(500, 1000),
    )
    with _pytest.raises(ValueError, match="mutually exclusive"):
        CurationPipeline(cfg).run(docs)


# ---------------------------------------------------------------------------
# round 9: shared gram-table signal stage + span-dedup curation stage 4d
# ---------------------------------------------------------------------------


def test_text_signals_matches_independents(spark):
    """The fused shared-gram-table stage must reproduce all four standalone
    operators row-for-row (repetition / novelty / span removal /
    contamination) — the engine-side twin of the composed SQL oracle."""
    import hashlib

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon unique tail words here"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 0
        (3, "totally different content with no shared five gram runs"),
        (4, "short doc"),  # < 5 tokens: no grams at n=5
        (5, "rep rep rep rep rep rep rep rep rep rep rep rep"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = df.filter(F.col("doc_id") <= 1)
    sig = {
        r["doc_id"]: r
        for r in text.text_signals(df, "doc_id", "text", benchmark=bench).collect()
    }
    assert set(sig) == {0, 1, 2, 3, 4, 5}

    rep = {r["doc_id"]: r for r in text.gopher_repetition(df, "doc_id", "text").collect()}
    for i, r in rep.items():
        for cname, v in r.asDict().items():
            want = sig[i]["rep_keep"] if cname == "keep" else sig[i][cname]
            assert want == v, (i, cname)

    nov = {r["doc_id"]: r for r in text.ngram_novelty(df, "doc_id", "text", n=5).collect()}
    for i in sig:
        if i in nov:
            assert sig[i]["n_grams"] == nov[i]["n_grams"]
            assert sig[i]["novel_grams"] == nov[i]["novel_grams"]
            assert abs(sig[i]["novelty"] - nov[i]["novelty"]) < 1e-15
        else:
            assert sig[i]["n_grams"] == 0 and sig[i]["novel_grams"] == 0
            assert sig[i]["novelty"] is None

    sp = {
        r["doc_id"]: r
        for r in text.remove_duplicate_spans(df, "doc_id", "text", window=5).collect()
    }
    for i in sig:
        assert sig[i]["n_tokens"] == sp[i]["n_tokens"]
        assert sig[i]["removed_tokens"] == sp[i]["removed_tokens"]
        assert sig[i]["n_spans"] == sp[i]["n_spans"]
        want_md5 = hashlib.md5(sp[i]["cleaned_text"].encode()).hexdigest()
        assert sig[i]["cleaned_md5"] == want_md5

    cont = {
        r["doc_id"]: r["matched_grams"]
        for r in text.contamination(df, bench, "doc_id", "text", n=5).collect()
    }
    for i in sig:
        assert sig[i]["matched_grams"] == cont.get(i, 0)


def test_text_signals_no_benchmark_omits_column(spark):
    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    out = text.text_signals(df, "doc_id", "text")
    assert "matched_grams" not in out.columns
    assert out.count() == 1


def test_curation_span_dedup_stage_order_and_counts(spark):
    """CurationConfig.span_dedup runs AFTER near-dedup, BEFORE perplexity;
    counts stay monotone and keyed in stage order."""
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = CurationConfig(
        min_quality=None,
        scrub_pii=False,
        near_dedup=True,
        span_dedup=True,
        perplexity_filter=True,
        min_mean_logprob=-50.0,  # floor low enough to keep everything scored
        split_fractions=None,
        shard_budget_tokens=5000,
        partition_cols=["lang"],
    )
    result = CurationPipeline(cfg).run(docs)
    c = result.stage_counts
    keys = list(c)
    assert keys.index("near_dedup") < keys.index("span_dedup") < keys.index(
        "perplexity_filter"
    )
    assert c["input"] >= c["near_dedup"] >= c["span_dedup"] >= c["perplexity_filter"] > 0
    assert c["packed"] == c["perplexity_filter"]


def test_curation_span_dedup_rewrites_text_and_drops_empty(spark):
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline

    rows = [
        (1, "one two three four five six seven eight", "en"),
        (2, "one two three four five six seven eight", "en"),  # full dup -> ''
        (3, "totally unique content nine ten eleven twelve thirteen", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    cfg = CurationConfig(
        min_quality=None, scrub_pii=False, near_dedup=False, span_dedup=True,
        split_fractions=None,
    )
    counts = {}
    out = CurationPipeline(cfg)._apply_span_dedup(df, counts)
    kept = {r["doc_id"]: r["text"] for r in out.collect()}
    assert set(kept) == {1, 3}  # doc 2 rebuilt to '' and dropped
    assert kept[1] == "one two three four five six seven eight"
    assert counts["span_dedup"] == 2


def test_curation_stage_barriers_preserve_results(spark):
    """Barriers are a plan-shape optimization only: identical stage counts
    and identical surviving doc ids with stage_barriers on vs off."""
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kwargs = dict(
        min_quality=None, scrub_pii=False, near_dedup=True,
        simhash_dedup=True, span_dedup=True,
        split_fractions=None, shard_budget_tokens=5000, partition_cols=["lang"],
    )
    on = CurationPipeline(CurationConfig(stage_barriers=True, **kwargs)).run(docs)
    off = CurationPipeline(CurationConfig(stage_barriers=False, **kwargs)).run(docs)
    assert on.stage_counts == off.stage_counts
    ids_on = {r["doc_id"] for r in on.packed.select("doc_id").collect()}
    ids_off = {r["doc_id"] for r in off.packed.select("doc_id").collect()}
    assert ids_on == ids_off


def test_curation_gopher_rules_stage(spark):
    """Stage 1b applies BOTH published Gopher rule sets pre-dedup and
    agrees with the standalone operators' conjunction."""
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg = CurationConfig(
        min_quality=None, scrub_pii=False, near_dedup=False,
        gopher_rules=True,
        # the synthetic docs are short and use a made-up vocabulary:
        # relax the word floor and the English stop-word rule so the
        # stage discriminates instead of dropping everything
        gopher_quality_overrides={"min_words": 5, "min_stop_hits": 0},
        split_fractions=None,
    )
    counts = {}
    out = CurationPipeline(cfg)._apply_filters(docs, counts)
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    shape = {
        r["doc_id"]
        for r in text.gopher_quality(
            docs, "doc_id", "text", min_words=5, min_stop_hits=0
        ).filter(F.col("keep") == 1).collect()
    }
    rep = {
        r["doc_id"]
        for r in text.gopher_repetition(docs, "doc_id", "text")
        .filter(F.col("keep") == 1).collect()
    }
    assert got == (shape & rep)
    assert counts["gopher_rules"] == len(got)
    assert 0 < len(got) < docs.count()  # the stage discriminates


def test_curation_langid_stage(spark):
    """Stage 1c (CCNet/RefinedWeb position: after quality rules, before
    the classifier) keeps exactly the docs the fitted NB model assigns to
    the configured language set."""
    import pytest as _pytest

    from etl_file_loader_spark import fixtures
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline
    from etl_file_loader_spark.suite.text import _LANGID_MODELS

    docs = fixtures.langid_corpus(spark, n=400)
    cfg = CurationConfig(
        min_quality=None, scrub_pii=False, near_dedup=False,
        langid_models=_LANGID_MODELS, langid_keep=("aa", "bb"),
        split_fractions=None,
    )
    counts = {}
    out = CurationPipeline(cfg)._apply_filters(docs, counts)
    got = {r["doc_id"] for r in out.select("doc_id").collect()}
    want = {
        r["doc_id"]
        for r in text.langid_score(docs, "doc_id", "text", _LANGID_MODELS)
        .filter(F.col("lang_pred").isin("aa", "bb"))
        .collect()
    }
    assert got == want
    assert counts["langid_filter"] == len(got)
    # the gate discriminates: roughly half the strata survive (the model's
    # holdout balanced accuracy is pytest-gated at >= 0.95 elsewhere)
    assert 0 < len(got) < docs.count()
    assert abs(len(got) - 200) <= 30
    with _pytest.raises(ValueError, match="langid_keep"):
        CurationPipeline(
            CurationConfig(langid_models=_LANGID_MODELS, langid_keep=())
        )._apply_filters(docs, {})


def test_pipeline_text_signals_matches_operator(spark):
    from etl_file_loader_spark.plans.curation import CurationConfig, CurationPipeline

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    pipe = CurationPipeline(CurationConfig(span_window=5))
    got = pipe.text_signals(docs).orderBy("doc_id").collect()
    want = text.text_signals(docs, "doc_id", "text", window=5).orderBy("doc_id").collect()
    assert got == want


def test_curation_on_stage_hook(spark):
    """on_stage receives (stage, count, seconds) once per stage count, in
    stage order, with counts matching stage_counts."""
    from etl_file_loader_spark.plans.curation import (
        CurationConfig, CurationPipeline,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seen = []
    cfg = CurationConfig(min_quality=0.3, scrub_pii=True, near_dedup=True)
    res = CurationPipeline(
        cfg, on_stage=lambda n, c, s: seen.append((n, c, s))
    ).run(docs)
    assert [n for n, _, _ in seen] == list(res.stage_counts.keys())
    assert {n: c for n, c, _ in seen} == res.stage_counts
    assert all(s >= 0 for _, _, s in seen)
