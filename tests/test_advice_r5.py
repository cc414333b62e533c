"""Round-5 ADVICE regressions: JVM-exact tokenization in the Arrow engines,
null-text handling in dedup/classifier, and the jaccard-scoring persist."""

import pytest
from pyspark.sql import functions as F

from etl_file_loader_spark.functions import py_tokens, tokens
from etl_file_loader_spark.operators import dedup, text
from etl_file_loader_spark.suite import dedup as suite_dedup
from tests.text_oracle import WS_EDGE_CASES, WS_ROWS, by_id, minhash_digests, oracle


def test_py_tokens_mirror_spark(spark):
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(WS_EDGE_CASES)], "i long, t string"
    )
    got = {r["i"]: r["tk"] for r in df.select("i", tokens(F.col("t")).alias("tk")).collect()}
    for i, c in enumerate(WS_EDGE_CASES):
        # tokens(null) is a null array; py_tokens treats null as empty, which
        # is the contract every Arrow caller applies ((text or ""))
        expected = got[i] if got[i] is not None else []
        assert py_tokens(c) == expected, repr(c)


# MinHash (16 hashes, 5-gram shingles) of empty text, which NULL text
# signs as well
EMPTY_TEXT_MINHASH = [
    322916002, 1358976311, 1148424136, 118004753, 682748664, 1211048109,
    253801145, 1650354195, 499342193, 712698526, 1612119107, 1411304425,
    157889893, 1337803800, 1462792760, 940324665,
]


def test_minhash_arrow_expr_identical_on_ws_edged_text(spark):
    df = spark.createDataFrame(WS_ROWS, "doc_id long, text string")
    sigs = dedup.minhash_signatures(df, "doc_id", "text", 16, 5)
    got = minhash_digests(sigs)
    want = by_id(oracle(suite_dedup.Q_DEDUP_MINHASH_SQL, WS_ROWS))
    null_id = next(i for i, t in WS_ROWS if t is None)
    empty_id = next(i for i, t in WS_ROWS if t == "")
    # the oracle emits no signature for NULL text; the kernel signs it as
    # empty text
    assert null_id not in want
    assert got.pop(null_id) == got[empty_id]
    assert got == want
    null_sig = sigs.filter(F.col("doc_id") == null_id).first()["signature"]
    assert list(null_sig) == EMPTY_TEXT_MINHASH


def test_simhash_arrow_expr_identical_on_ws_edged_text(spark):
    df = spark.createDataFrame(WS_ROWS, "doc_id long, text string")
    tokenless = {i for i, t in WS_ROWS if not (t or "").strip(" ")}
    for bits in (32, 60):
        got = by_id(dedup.simhash(df, "doc_id", "text", bits=bits).collect())
        want = by_id(oracle(
            f"WITH {suite_dedup.simhash_cte(bits)} SELECT doc_id, simhash FROM sh",
            WS_ROWS,
        ))
        # token-less text has no fingerprint, in the kernel and the oracle
        assert not tokenless & set(got)
        assert got == want
        # tab-only text tokenizes to ['',''] -> the '' token votes: the doc
        # MUST be fingerprinted
        assert 200004 in got and 200005 in got


def test_classifier_null_text_matches_joined(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "")], "doc_id long, text string"
    )
    dim = 8
    weights = [100 * (i + 1) for i in range(dim)]
    inline = {r["doc_id"]: (r["n_tokens"], r["logit"], r["keep"]) for r in
              text.classifier_score(
                  df, "doc_id", "text", weights_milli=weights, bias_milli=250
              ).collect()}
    wdf = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "feature int, w_milli long"
    )
    joined = {r["doc_id"]: (r["n_tokens"], r["logit"], r["keep"]) for r in
              text.classifier_score_joined(
                  df, "doc_id", "text", weights=wdf, dim=dim, bias_milli=250
              ).collect()}
    assert inline == joined
    assert inline[2] == (0, pytest.approx(0.25), 1)  # null text -> bias only


def test_remove_near_duplicates_null_text_collapses(spark):
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, ""), (4, "some real content words here"), (5, None)],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in
                  dedup.remove_near_duplicates(df, "doc_id", "text").collect())
    # null-text docs cluster with empty-text docs (both render as ''), one
    # survivor (min id); the real doc survives untouched
    assert kept == [1, 4]


def test_minhash_jaccard_pairs_persists_signatures(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "alpha beta gamma zeta"), (4, "totally different words here")],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", 16, 3)
    out = dedup.minhash_jaccard_pairs(sigs, "doc_id", threshold=0.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    out.collect()  # and it still evaluates


def test_partition_stats_tool(spark):
    import sys
    sys.path.insert(0, "/root/repo")
    from tools.audit_partitions import partition_stats

    df = spark.range(0, 10000).repartition(4, "id")
    s = partition_stats(df)
    assert s["n_partitions"] == 4
    assert s["rows"]["total"] == 10000
    assert s["rows"]["max_over_mean"] >= 1.0
    assert s["bytes"]["total"] > 0
