"""Deduplication family: exact, MinHash/LSH, SimHash, n-gram, embedding near-dup.

Split from the monolithic suite.py (round 4); unit text unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from etl_file_loader_spark.functions import local_rows_df
from etl_file_loader_spark.operators import dedup as dedup_ops
from etl_file_loader_spark.operators import similarity as sim_ops
from etl_file_loader_spark.operators import text as text_ops
from etl_file_loader_spark.suite._shared import ORACLES, QUERIES, _suite_ckpt_dir, _t
from etl_file_loader_spark.suite.similarity import _recall_flag


# ---------------------------------------------------------------------------
# dedup queries (training-data-pipeline extensions)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: identical-text groups with representative + count."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.exact_duplicates(docs, "doc_id", "text")


Q_DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, min(doc_id) AS representative_id, count(*) AS dup_count
FROM documents GROUP BY md5(text) ORDER BY 1
"""


# shared oracle CTEs: 5-gram shingles + 32-bit portable hash
_SHINGLE_CTE = r"""
words AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\s+') AS w FROM documents
),
sh AS (
  SELECT doc_id, lang, unnest(list_distinct(
    CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
         ELSE list_transform(range(1, len(w) - 5 + 2), i -> array_to_string(w[i:i+4], ' ')) END
  )) AS shingle
  FROM words
),
h AS (
  SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS sh FROM sh
)"""


from etl_file_loader_spark.operators.dedup import _MH_A, _MH_B, _MH_PRIME  # noqa: E402


_SIG_MINS_SQL = ",\n         ".join(
    f"min(({_MH_A[i]} * (sh % {_MH_PRIME}) + {_MH_B[i]}) % {_MH_PRIME}) AS h{i}"
    for i in range(16)
)


_SIG_CTE = f"""sig AS (
  SELECT doc_id,
         {_SIG_MINS_SQL}
  FROM h GROUP BY doc_id
)"""


_SIG_CONCAT_SQL = ", ".join(f"CAST(h{i} AS VARCHAR)" for i in range(16))


def q_dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (16 permutations over 5-gram shingles), digested."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup_ops.minhash_signatures(docs, "doc_id", "text", num_hashes=16, n=5)
    return sigs.select(
        "doc_id",
        F.md5(
            F.concat_ws(",", F.transform(F.col("signature"), lambda x: x.cast("string")))
        ).alias("sig_hash"),
    )


Q_DEDUP_MINHASH_SQL = f"""
WITH {_SHINGLE_CTE},
{_SIG_CTE}
SELECT doc_id, md5(concat_ws(',', {_SIG_CONCAT_SQL})) AS sig_hash
FROM sig ORDER BY doc_id
"""


_BANDS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT doc_id, {b} AS band_idx, md5(concat_ws(',', "
    + ", ".join(f"CAST(h{b * 4 + r} AS VARCHAR)" for r in range(4))
    + ")) AS band_hash FROM sig"
    for b in range(4)
)


def q_dedup_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: docs sharing any of 4 bands x 4 rows."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup_ops.minhash_signatures(docs, "doc_id", "text", num_hashes=16, n=5)
    return dedup_ops.lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=4)


Q_DEDUP_LSH_CANDIDATES_SQL = f"""
WITH {_SHINGLE_CTE},
{_SIG_CTE},
bands AS (
{_BANDS_SQL}
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
ORDER BY 1, 2
"""


def simhash_cte(bits: int) -> str:
    """The SimHash replay every SimHash oracle builds on: CTEs ending in
    ``sh(doc_id, simhash)``, the ``bits``-wide fingerprint of each doc's
    distinct tokens from md5-prefix token hashes (the first 8 hex chars up
    to 32 bits, ceil(bits/4) beyond)."""
    n_hex = 8 if bits <= 32 else (bits + 3) // 4
    votes = ",\n         ".join(
        f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    assemble = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
        for b in range(bits)
    )
    return rf"""toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS tok
  FROM documents
),
th AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, {n_hex}) AS BIGINT) AS th FROM toks
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM th GROUP BY doc_id
),
sh AS (
  SELECT doc_id, {assemble} AS simhash FROM votes
)"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints over distinct tokens."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.simhash(docs, "doc_id", "text", bits=32)


Q_DEDUP_SIMHASH_SQL = f"""
WITH {simhash_cte(32)}
SELECT doc_id, simhash FROM sh ORDER BY doc_id
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: 5-gram Jaccard >= 0.5, language-blocked inverted index."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=5, threshold=0.5, block_col="lang"
    )


Q_DEDUP_NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLE_CTE},
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS intersection
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, intersection, sa.set_size AS size_a, sb.set_size AS size_b,
       round(intersection / (sa.set_size + sb.set_size - intersection), 6) AS jaccard
FROM pairs
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE round(intersection / (sa.set_size + sb.set_size - intersection), 6) >= 0.5
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# dedup at scale: the documents table caps at 500 rows, so the scale-path
# demos run the same operators over star-schema-derived corpora (lineitem /
# orders grow with sf)
# ---------------------------------------------------------------------------


def q_dedup_exact_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a lineitem-derived text rendering (600k rows at sf0.1)."""
    li = _t(spark, sf_dir, "lineitem")
    text = F.concat_ws(
        " ",
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        (F.col("l_quantity") % 10).cast("long").cast("string"),
        (F.col("l_partkey") % 100).cast("string"),
    )
    docs = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("doc_id"),
        text.alias("text"),
    )
    return dedup_ops.exact_duplicates(docs, "doc_id", "text")


Q_DEDUP_EXACT_LINEITEM_SQL = """
WITH docs AS (
  SELECT l_orderkey * 10 + l_linenumber AS doc_id,
         concat_ws(' ', l_returnflag, l_linestatus,
                   CAST(CAST(l_quantity % 10 AS BIGINT) AS VARCHAR),
                   CAST(l_partkey % 100 AS VARCHAR)) AS text
  FROM lineitem
)
SELECT md5(text) AS text_hash, min(doc_id) AS representative_id, count(*) AS dup_count
FROM docs GROUP BY md5(text)
"""


_ORDERS_CORPUS_SPARK_TEXT = (
    "concat_ws(' ', o_orderstatus, o_orderpriority, "
    "CAST(o_custkey % 50 AS STRING), CAST(o_orderkey % 7 AS STRING), "
    "CAST(o_custkey % 3 AS STRING), CAST(o_orderkey % 11 AS STRING))"
)


_ORDERS_CORPUS_SQL_TEXT = (
    "concat_ws(' ', o_orderstatus, o_orderpriority, "
    "CAST(o_custkey % 50 AS VARCHAR), CAST(o_orderkey % 7 AS VARCHAR), "
    "CAST(o_custkey % 3 AS VARCHAR), CAST(o_orderkey % 11 AS VARCHAR))"
)


def q_dedup_minhash_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over an orders-derived corpus (grows with sf)."""
    orders = _t(spark, sf_dir, "orders")
    docs = orders.select(
        F.col("o_orderkey").alias("doc_id"),
        F.expr(_ORDERS_CORPUS_SPARK_TEXT).alias("text"),
    )
    sigs = dedup_ops.minhash_signatures(docs, "doc_id", "text", num_hashes=16, n=3)
    return sigs.select(
        "doc_id",
        F.md5(
            F.concat_ws(",", F.transform(F.col("signature"), lambda x: x.cast("string")))
        ).alias("sig_hash"),
    )


_ORDERS_SHINGLE_CTE = rf"""
words AS (
  SELECT o_orderkey AS doc_id, string_split_regex(trim({_ORDERS_CORPUS_SQL_TEXT}), '\s+') AS w
  FROM orders
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
         ELSE list_transform(range(1, len(w) - 3 + 2), i -> array_to_string(w[i:i+2], ' ')) END
  )) AS shingle
  FROM words
),
h AS (
  SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS sh FROM sh
)"""


Q_DEDUP_MINHASH_ORDERS_SQL = f"""
WITH {_ORDERS_SHINGLE_CTE},
{_SIG_CTE}
SELECT doc_id, md5(concat_ws(',', {_SIG_CONCAT_SQL})) AS sig_hash
FROM sig
"""


def q_dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup pairs (cosine >= 0.4), oracle-checked.

    (The synthetic embeddings are near-orthogonal — max pairwise cosine
    ~0.51 — so the demo threshold sits below a production 0.9+.)"""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup_ops.embedding_cosine_pairs(emb, "vec_id", "embedding", threshold=0.4)


Q_DEDUP_EMBEDDING_PAIRS_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
               * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) >= 0.4
"""


def q_dedup_embedding_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dup pairs (8 bands x 2 planes measures
    pair recall 0.983 on the synthetic embeddings; the recall/precision
    gate is ``dedup_embedding_lsh_recall``). Full value oracle since round
    11: the md5-derived planes replay in DuckDB, so the exact candidate
    set — not just the recall band — is value-checked."""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup_ops.embedding_cosine_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.4, num_bands=8, planes_per_band=2
    )


def _dedup_pairs_lsh_sql() -> str:
    from etl_file_loader_spark.suite.similarity import lsh_proj_cte

    cos = (
        "round(list_dot_product(va.vec, vb.vec)"
        " / (sqrt(list_dot_product(va.vec, va.vec))"
        " * sqrt(list_dot_product(vb.vec, vb.vec))), 4)"
    )
    return f"""
WITH {lsh_proj_cte(16)},
bands AS (
  SELECT vec_id, CAST(p // 2 AS BIGINT) AS band,
         CAST(sum(CASE WHEN proj >= 0 THEN 1 << (p % 2) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b USING (band, bucket)
  WHERE a.vec_id < b.vec_id
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings)
SELECT id_a, id_b, {cos} AS cosine
FROM cand
JOIN v va ON va.vec_id = id_a
JOIN v vb ON vb.vec_id = id_b
WHERE {cos} >= 0.4
"""


def q_dedup_embedding_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable check for the LSH near-dup path: >= 90% of the exact
    cosine>=0.4 pairs must surface (measured 98.3%), and — because LSH
    candidates are rescored with the same rounded cosine — every emitted
    pair must also BE an exact pair (precision 100%)."""
    exact = q_dedup_embedding_pairs(spark, sf_dir).select("id_a", "id_b")
    approx = q_dedup_embedding_pairs_lsh(spark, sf_dir).select("id_a", "id_b")
    recall = _recall_flag(exact, approx, "pair_recall", 90)
    precision = _recall_flag(approx, exact, "pair_precision", 100)
    return recall.unionAll(precision)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: LSH candidate pairs -> connected components.

    Iterative min-label propagation (omit-oracle category per the driver
    contract is allowed for iterative algorithms, but a DuckDB recursive-CTE
    transitive closure oracles it exactly here).
    """
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup_ops.minhash_signatures(docs, "doc_id", "text", num_hashes=16, n=5)
    pairs = dedup_ops.lsh_candidate_pairs(sigs, "doc_id", bands=4, rows_per_band=4)
    return dedup_ops.connected_components(pairs)


Q_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_SHINGLE_CTE},
{_SIG_CTE},
bands AS (
{_BANDS_SQL}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
"""


def q_near_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: the corpus minus LSH near-dup losers (one
    min-id representative survives per duplicate cluster) — the operation a
    training-data pipeline actually ships, with pairs/clusters as
    intermediates. Same minhash/banding params as ``dedup_clusters``, so
    the recursive-CTE oracle's component assignment matches exactly."""
    docs = _t(spark, sf_dir, "documents")
    kept = dedup_ops.remove_near_duplicates(
        docs, "doc_id", "text", num_hashes=16, n=5, bands=4, rows_per_band=4
    )
    return kept.select("doc_id", "lang").orderBy("doc_id")


Q_NEAR_DEDUP_CORPUS_SQL = Q_DEDUP_CLUSTERS_SQL.replace(
    "SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src",
    """,
comp AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT d.doc_id, d.lang
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
ORDER BY d.doc_id""",
)


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming distance <= 6 on 32-bit fingerprints.

    Demo-scale all-pairs (bit_count of xor); the scale path blocks on
    fingerprint bytes first (same shape as the LSH band join).
    """
    docs = _t(spark, sf_dir, "documents")
    sh = dedup_ops.simhash(docs, "doc_id", "text", bits=32)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("h_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
    )


Q_DEDUP_SIMHASH_PAIRS_SQL = f"""
WITH {simhash_cte(32)}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""


# ---------------------------------------------------------------------------
# fingerprint-collapsed duplicate groups
# ---------------------------------------------------------------------------


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate groups under the canonical word-set fingerprint (md5 of
    sorted distinct lowercased words — case/order/duplication invariant).
    One hash-aggregate on the fingerprint; shuffle ∝ distinct fingerprints.
    """
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", text_ops.fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("representative_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .orderBy("fp")
    )


Q_DEDUP_FINGERPRINT_SQL = r"""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
             list_transform(string_split_regex(trim(text), '\s+'), w -> lower(w))
         )), ' ')) AS fp
  FROM documents
)
SELECT fp, CAST(min(doc_id) AS BIGINT) AS representative_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM fp GROUP BY fp ORDER BY fp
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-vs-corpus dedup: even doc_ids play the ingested corpus, odd ids
    the incoming batch; each new doc reports its matched corpus doc (by
    canonical fingerprint) or arrives unique. The corpus collapses to a
    (fingerprint, min id) index before the join — the persisted-index shape
    of continuous-ingest dedup."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup_ops.incremental_dedup(new, corpus, "doc_id", "text").orderBy("doc_id")


Q_DEDUP_INCREMENTAL_SQL = r"""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_distinct(
             list_transform(string_split_regex(trim(text), '\s+'), w -> lower(w))
         )), ' ')) AS fp
  FROM documents
),
corpus AS (
  SELECT fp.fp, CAST(min(doc_id) AS BIGINT) AS matched_corpus_id
  FROM fp WHERE doc_id % 2 = 0 GROUP BY fp.fp
)
SELECT f.doc_id, c.matched_corpus_id,
       CAST(CASE WHEN c.matched_corpus_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS is_dup
FROM fp f LEFT JOIN corpus c ON f.fp = c.fp
WHERE f.doc_id % 2 = 1
ORDER BY f.doc_id
"""


# ---------------------------------------------------------------------------
# clustered-embedding pruning gate (VERDICT r2 task 4)
# ---------------------------------------------------------------------------


def q_dedup_embedding_clustered_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pruning case the testdata can't show: on clustered
    (mixture-of-Gaussians) embeddings the banded hyperplane LSH must keep
    >=90% pair recall while examining <20% of all pairs. The near-orthogonal
    synthetic embeddings force ~89% candidate density at comparable recall
    (NOTES_r2 banding math), so this fixture-backed gate is what demonstrates
    the bucketed path prunes on realistic, clustered corpora.
    (sf-independent: the fixture is deterministic; n=1000 keeps the exact
    O(n^2) baseline cheap while preserving the 40-cluster structure —
    measured 97.9% recall at 5.9% candidate density on the n=2000 variant
    of the same generator.)"""
    from etl_file_loader_spark import fixtures

    emb = fixtures.clustered_embeddings(spark, n=1000)
    exact = dedup_ops.embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.9
    ).select("id_a", "id_b")
    approx = dedup_ops.embedding_cosine_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.9, num_bands=8, planes_per_band=8
    ).select("id_a", "id_b")
    # one-pass recall (the O(n^2) exact subtree evaluates once, not twice as
    # in _recall_flag's separate hits/total aggregates)
    recall = (
        exact.join(approx.withColumn("_h", F.lit(1)), ["id_a", "id_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("_total"),
            F.coalesce(F.sum("_h"), F.lit(0)).alias("_hits"),
        )
        .select(
            F.lit("clustered_pair_recall").alias("metric"),
            F.lit(90).alias("threshold_pct"),
            (F.col("_hits") * 100 >= F.col("_total") * 90).cast("int").alias("passed"),
        )
    )
    banded = sim_ops.hyperplane_lsh_bands(emb, "vec_id", "embedding", 8, 8)
    cand = dedup_ops._bucket_join_pairs(
        banded.select("vec_id", "band", "bucket"), "vec_id", ["band", "bucket"]
    )
    n_rows = emb.agg(F.count(F.lit(1)).alias("_n"))
    density = cand.agg(F.count(F.lit(1)).alias("_cand")).crossJoin(n_rows).select(
        F.lit("clustered_candidate_density").alias("metric"),
        F.lit(20).alias("threshold_pct"),
        (
            F.col("_cand") * 100 <= (F.col("_n") * (F.col("_n") - 1) / 2) * 20
        ).cast("int").alias("passed"),
    )
    return recall.unionAll(density)


def q_dedup_embedding_pairs_lsh_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench twin of the clustered gate at n=8000 (LSH path only — no exact
    baseline): times the bucketed near-dup scale path where the buckets
    actually prune (~6% candidate density vs ~89% on the near-orthogonal
    testdata embeddings)."""
    from etl_file_loader_spark import fixtures

    emb = fixtures.clustered_embeddings(spark, n=8000)
    return dedup_ops.embedding_cosine_pairs_lsh(
        emb, "vec_id", "embedding", threshold=0.9, num_bands=8, planes_per_band=8
    )


def q_dedup_incremental_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-vs-corpus NEAR-dedup: the MinHash-banded analog of
    `dedup_incremental` — even ids play the corpus (reduced to its band
    index), odd ids the incoming batch; each new doc reports the smallest
    corpus doc sharing any LSH band, or arrives unique."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return dedup_ops.incremental_near_dedup(new, corpus, "doc_id", "text").orderBy(
        "doc_id"
    )


Q_DEDUP_INCREMENTAL_NEAR_SQL = f"""
WITH {_SHINGLE_CTE},
{_SIG_CTE},
bands AS (
{_BANDS_SQL}
),
corpus_index AS (
  SELECT band_idx, band_hash, CAST(min(doc_id) AS BIGINT) AS cid
  FROM bands WHERE doc_id % 2 = 0 GROUP BY band_idx, band_hash
),
matched AS (
  SELECT b.doc_id, min(ci.cid) AS matched_corpus_id
  FROM bands b LEFT JOIN corpus_index ci USING (band_idx, band_hash)
  WHERE b.doc_id % 2 = 1
  GROUP BY b.doc_id
)
SELECT doc_id, matched_corpus_id,
       CAST(CASE WHEN matched_corpus_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS is_near_dup
FROM matched ORDER BY doc_id
"""


def q_near_dedup_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAINTAINED incremental near-dedup (operators/dedup.py:
    NearDupIndex): seed the band index from the doc_id%4==0 quarter of
    the corpus, then stream the three remaining quarters through it IN
    ORDER — flag each batch against the docs absorbed SO FAR (not just
    the seed), then absorb it. A batch-2 doc can therefore match a
    batch-1 doc, which the one-shot ``dedup_incremental_near`` shape
    cannot express. The oracle replays every flag from the batch
    numbering alone (absorption is confluent: index state before batch k
    = min per band bucket over all docs with batch < k).

    Round 12: the stream CROSSES A SAVE/LOAD BOUNDARY between batches 1
    and 2 — the index is written to parquet (NearDupIndex.save) and a
    fresh object restored (load) mid-stream, as a session restart would.
    The oracle is UNCHANGED: flags are a pure function of batch
    numbering, so a correct round-trip is invisible to it — which is
    exactly the durability contract this row now value-checks."""
    docs = _t(spark, sf_dir, "documents")
    idx = dedup_ops.NearDupIndex(
        docs.filter(F.col("doc_id") % 4 == 0), "doc_id", "text"
    )
    from etl_file_loader_spark.operators.cache import pin_checkpoint

    outs = []
    for k in (1, 2, 3):
        if k == 2:
            # simulate a session restart: persist, drop the live object,
            # restore from the parquet artifact alone. Per-application
            # path (mode overwrite), not mkdtemp: the driver and bench
            # run this row every round and a fresh tempdir per run would
            # accumulate; the applicationId suffix keeps concurrent runs
            # from clobbering each other's state mid-query (ADVICE r12)
            ckpt = _suite_ckpt_dir(spark) + "/near_dedup_idx"
            idx.save(ckpt)
            idx = dedup_ops.NearDupIndex.load(spark, ckpt)
        batch = docs.filter(F.col("doc_id") % 4 == k)
        # each batch's flags materialize BEFORE the absorb: absorb()
        # now releases the superseded index checkpoint (round 13), so a
        # lazy flag frame would reference freed blocks at the final union
        flags = pin_checkpoint(
            idx.flag(batch)
            .withColumn("batch", F.lit(k).cast("int"))
            .localCheckpoint(eager=True)
        )
        outs.append(flags)
        idx.absorb(batch)
    out = outs[0]
    for part in outs[1:]:
        out = out.unionByName(part)
    return out.select(
        "batch", "doc_id", "matched_corpus_id", "is_near_dup"
    ).orderBy("batch", "doc_id")


Q_NEAR_DEDUP_INDEX_STREAM_SQL = f"""
WITH {_SHINGLE_CTE},
{_SIG_CTE},
bands AS (
{_BANDS_SQL}
),
matched AS (
  SELECT b.doc_id,
         min(CASE WHEN (c.doc_id % 4) < (b.doc_id % 4) THEN c.doc_id END)
           AS matched_corpus_id
  FROM bands b LEFT JOIN bands c USING (band_idx, band_hash)
  WHERE b.doc_id % 4 <> 0
  GROUP BY b.doc_id
)
SELECT CAST(doc_id % 4 AS INT) AS batch, doc_id, matched_corpus_id,
       CAST(CASE WHEN matched_corpus_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
         AS is_near_dup
FROM matched ORDER BY batch, doc_id
"""

QUERIES.update({"near_dedup_index_stream": q_near_dedup_index_stream})
ORACLES.update({"near_dedup_index_stream": Q_NEAR_DEDUP_INDEX_STREAM_SQL})


def q_semantic_dedup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable gate for SemDeDup-style semantic dedup on the clustered
    fixture: every EXACT survivor must be recovered (containment >= 95%)
    and the approximate set may exceed the exact one by at most 10% —
    the boundary-straddling pairs the operator documents as its standard
    trade (a cross-k-means-cell near-dup pair is invisible to the
    within-cell join). Measured on the md5-deterministic fixture (round
    11): 74 survivors vs 71 exact — 100% containment, 4.2% overshoot.
    sf-independent fixture."""
    from etl_file_loader_spark import fixtures

    n = 400
    emb = fixtures.clustered_embeddings(spark, n=n)
    sem = dedup_ops.semantic_dedup(
        emb, "vec_id", "embedding", n_clusters=8, threshold=0.95
    ).select("vec_id")
    exact_pairs = dedup_ops.embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.95
    ).select("id_a", "id_b")
    comp = dedup_ops.connected_components(exact_pairs)
    exact_losers = comp.filter(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias("vec_id")
    )
    exact_surv = emb.select("vec_id").join(exact_losers, "vec_id", "left_anti")
    agree = sem.join(exact_surv, "vec_id").count()
    total = exact_surv.count()
    n_sem = sem.count()
    passed = int(
        total > 0 and agree * 100 >= total * 95 and n_sem * 100 <= total * 110
    )
    return local_rows_df(
        spark,
        [("semantic_dedup_survivor_match", 95, passed)],
        "metric string, threshold_pct int, passed int",
    )


def q_semantic_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a FULL value oracle (round 11): the deterministic
    KMeansDF quantizer + rounded-cosine threshold make every stage of
    ``semantic_dedup`` engine-agnostic — the DuckDB oracle replays the
    5-iteration k-means fit (suite/similarity.py:kmeans_cte), the bucket
    assignment, the within-bucket rounded-cosine pair threshold, and the
    connected components (recursive CTE), then derives the identical
    survivor set. Threshold 0.30 because the REAL embeddings table is
    near-orthogonal (max pairwise cosine ~0.51) — at the production 0.95
    the result is vacuously the full corpus; the replay needs a
    configuration where clusters, pairs, AND components all do real work.
    The clustered-fixture rows (semantic_dedup_check's >= 95% agreement
    gate) remain the semantic-behavior evidence at the production
    threshold."""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup_ops.semantic_dedup(
        emb, "vec_id", "embedding", n_clusters=8, threshold=0.30,
        quantizer="df", round_to=4,
    ).select("vec_id")


def _semantic_dedup_replay_sql(
    k: int = 8,
    iters: int = 5,
    threshold: float = 0.30,
    table: str = "embeddings",
    prelude: str = "",
    base_table: str | None = None,
) -> str:
    from etl_file_loader_spark.suite.similarity import _COS, kmeans_cte

    base_table = base_table or table
    dist = (
        "list_sum(list_transform(list_zip(v.vec, c.cv),"
        " x -> (x[1] - x[2]) * (x[1] - x[2])))"
    )
    return f"""
WITH RECURSIVE {prelude}{kmeans_cte(k, iters, table=table)},
af AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {dist}, c.cid) AS rn
    FROM v CROSS JOIN c{iters} c)
  WHERE rn = 1
),
cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
),
pairs AS MATERIALIZED (
  SELECT id_a, id_b
  FROM cand
  JOIN v va ON va.vec_id = id_a
  JOIN v vb ON vb.vec_id = id_b
  WHERE {_COS.format(a="va.vec", b="vb.vec")} >= {threshold!r}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
losers AS (
  SELECT src AS vec_id FROM reach GROUP BY src HAVING min(dst) <> src
)
SELECT e.vec_id FROM {base_table} e ANTI JOIN losers l ON e.vec_id = l.vec_id
"""


Q_SEMANTIC_DEDUP_REPLAY_SQL = _semantic_dedup_replay_sql()

QUERIES.update({"semantic_dedup_replay": q_semantic_dedup_replay})
ORACLES.update({"semantic_dedup_replay": Q_SEMANTIC_DEDUP_REPLAY_SQL})


def q_semantic_dedup_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semantic-dedup product op on the clustered fixture at n=2000 —
    k-means assign, within-cluster pairs, components, survivor anti-join.
    Round 11: runs the REPLAYABLE configuration (KMeansDF quantizer +
    rounded-cosine threshold) on the md5-deterministic fixture, so the
    row now carries a FULL value oracle (fixture derivation + kmeans
    replay + pair threshold + recursive-CTE components); the
    ``semantic_dedup_check`` agreement gate remains the semantic-behavior
    evidence vs the exact all-pairs baseline."""
    from etl_file_loader_spark import fixtures

    emb = fixtures.clustered_embeddings(spark, n=2000)
    return dedup_ops.semantic_dedup(
        emb, "vec_id", "embedding", n_clusters=32, threshold=0.95,
        quantizer="df", round_to=4,
    ).select("vec_id")


def _clustered_semantic_sql() -> str:
    from etl_file_loader_spark.suite.similarity import clustered_fixture_cte

    return _semantic_dedup_replay_sql(
        k=32, iters=5, threshold=0.95, table="fx",
        prelude=clustered_fixture_cte(2000) + ",", base_table="fx",
    )


Q_SEMANTIC_DEDUP_CLUSTERED_SQL = _clustered_semantic_sql()


def _clustered_pairs_lsh_sql() -> str:
    """Full replay of dedup_embedding_pairs_lsh on the clustered fixture
    (n=8000, 8 bands x 8 planes, rounded cosine >= 0.9)."""
    from etl_file_loader_spark.suite.similarity import (
        _COS,
        clustered_fixture_cte,
        lsh_proj_cte,
    )

    return f"""
WITH {clustered_fixture_cte(8000)},
{lsh_proj_cte(64, table="fx")},
bands AS (
  SELECT vec_id, CAST(p // 8 AS BIGINT) AS band,
         CAST(sum(CASE WHEN proj >= 0 THEN 1 << (p % 8) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b USING (band, bucket)
  WHERE a.vec_id < b.vec_id
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM fx)
SELECT id_a, id_b, cosine FROM (
  SELECT id_a, id_b,
         {_COS.format(a="va.vec", b="vb.vec")} AS cosine
  FROM cand
  JOIN v va ON va.vec_id = id_a
  JOIN v vb ON vb.vec_id = id_b
) WHERE cosine >= 0.9
"""


Q_DEDUP_PAIRS_LSH_CLUSTERED_SQL = _clustered_pairs_lsh_sql()

ORACLES.update(
    {
        # round 11 extra: the clustered rows gain FULL value oracles —
        # the fixture data itself is now an md5 derivation with a SQL
        # form (suite/similarity.py:clustered_fixture_cte)
        "semantic_dedup_clustered": Q_SEMANTIC_DEDUP_CLUSTERED_SQL,
        "dedup_embedding_pairs_lsh_clustered": Q_DEDUP_PAIRS_LSH_CLUSTERED_SQL,
    }
)


def q_dedup_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-only similarity scoring: LSH band candidates scored with
    the MinHash Jaccard estimate (agreeing components / k) — the 100 TB
    path where shingle sets are never rescanned after signing. Exact
    rational estimate, value-verified per pair."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup_ops.minhash_signatures(docs, "doc_id", "text", num_hashes=16, n=5)
    return dedup_ops.minhash_jaccard_pairs(
        sigs, "doc_id", bands=4, rows_per_band=4, threshold=0.5
    ).orderBy("id_a", "id_b")


_SIG_EQ_SQL = " + ".join(f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END" for i in range(16))


Q_DEDUP_MINHASH_JACCARD_SQL = f"""
WITH {_SHINGLE_CTE},
{_SIG_CTE},
bands AS (
{_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       round(({_SIG_EQ_SQL}) / 16.0, 6) AS jaccard_est
FROM cand c JOIN sig a ON c.id_a = a.doc_id JOIN sig b ON c.id_b = b.doc_id
WHERE round(({_SIG_EQ_SQL}) / 16.0, 6) >= 0.5
ORDER BY c.id_a, c.id_b
"""


def q_semantic_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable gate for embedding-level decontamination on the clustered
    fixture (30 Gaussian clusters, one bench probe per cluster, intra-cluster
    cosine ~0.9): the banded cross-frame path must recover >= 90% of the
    exact O(corpus x bench) contaminated set, with exact precision (every
    flagged row is rescored with the true cosine before flagging)."""
    from etl_file_loader_spark import fixtures

    emb = fixtures.clustered_embeddings(spark, n=600, k=30)
    bench = emb.filter(F.col("vec_id") < 30)
    corpus = emb.filter(F.col("vec_id") >= 30)
    approx = dedup_ops.semantic_contamination(
        corpus, bench, "vec_id", "embedding", threshold=0.85,
        num_bands=8, planes_per_band=2,
    ).select("vec_id")
    # exact baseline: brute-force cross cosine (corpus x bench is
    # benchmark-bounded: |bench| rows broadcast against the corpus scan)
    cv = corpus.select(
        F.col("vec_id").alias("_cid"),
        F.col("embedding").alias("_cv"),
        sim_ops.norm(F.col("embedding")).alias("_cn"),
    )
    bv = bench.select(
        F.col("vec_id").alias("_bid"),
        F.col("embedding").alias("_bv"),
        sim_ops.norm(F.col("embedding")).alias("_bn"),
    )
    exact = (
        cv.crossJoin(F.broadcast(bv))
        .select(
            F.col("_cid").alias("vec_id"),
            F.round(
                sim_ops.dot(F.col("_cv"), F.col("_bv")) / (F.col("_cn") * F.col("_bn")), 4
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.85)
        .select("vec_id")
        .distinct()
    )
    recall = _recall_flag(exact, approx, "semantic_contamination_recall", 90)
    precision = _recall_flag(approx, exact, "semantic_contamination_precision", 100)
    return recall.unionByName(precision).orderBy("metric")



# ---------------------------------------------------------------------------
# SimHash end-to-end collapse (blocked candidates, no all-pairs join)
# ---------------------------------------------------------------------------

def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SimHash near-dedup: corpus minus Hamming<=3 losers on
    60-bit fingerprints, candidates from the 4-block pigeonhole join (exact
    by construction, never all-pairs). The oracle recomputes the SAME answer
    from the O(n²) definition + recursive-CTE components, proving the
    blocked path loses nothing."""
    docs = _t(spark, sf_dir, "documents")
    kept = dedup_ops.simhash_dedup(
        docs, "doc_id", "text", bits=60, max_hamming=3, blocks=4
    )
    return kept.select("doc_id", "source").orderBy("doc_id")


Q_SIMHASH_DEDUP_SQL = f"""
WITH RECURSIVE {simhash_cte(60)},
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(src, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT d.doc_id, d.source
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
ORDER BY d.doc_id
"""


QUERIES.update(
    {
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_signature": q_dedup_minhash_signature,
        "dedup_lsh_candidates": q_dedup_lsh_candidates,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_exact_lineitem": q_dedup_exact_lineitem,
        "dedup_minhash_orders": q_dedup_minhash_orders,
        "dedup_embedding_pairs": q_dedup_embedding_pairs,
        "dedup_embedding_pairs_lsh": q_dedup_embedding_pairs_lsh,
        "dedup_embedding_lsh_recall": q_dedup_embedding_lsh_recall,
        "dedup_clusters": q_dedup_clusters,
        "near_dedup_corpus": q_near_dedup_corpus,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_fingerprint": q_dedup_fingerprint,
        "dedup_incremental": q_dedup_incremental,
        "dedup_incremental_near": q_dedup_incremental_near,
        "dedup_embedding_clustered_recall": q_dedup_embedding_clustered_recall,
        "dedup_embedding_pairs_lsh_clustered": q_dedup_embedding_pairs_lsh_clustered,
        "semantic_dedup_check": q_semantic_dedup_check,
        "semantic_dedup_clustered": q_semantic_dedup_clustered,
        "simhash_dedup": q_simhash_dedup,
        "dedup_minhash_jaccard": q_dedup_minhash_jaccard,
        "semantic_contamination_check": q_semantic_contamination_check,
    }
)


ORACLES.update(
    {
        "dedup_exact": Q_DEDUP_EXACT_SQL,
        "dedup_minhash_signature": Q_DEDUP_MINHASH_SQL,
        "dedup_lsh_candidates": Q_DEDUP_LSH_CANDIDATES_SQL,
        "dedup_simhash": Q_DEDUP_SIMHASH_SQL,
        "dedup_ngram_jaccard": Q_DEDUP_NGRAM_JACCARD_SQL,
        "dedup_exact_lineitem": Q_DEDUP_EXACT_LINEITEM_SQL,
        "dedup_minhash_orders": Q_DEDUP_MINHASH_ORDERS_SQL,
        "dedup_embedding_pairs": Q_DEDUP_EMBEDDING_PAIRS_SQL,
        # round 11: the banded-LSH pair demo gains a FULL value oracle —
        # DuckDB replays the md5-derived planes (VERDICT r10 ask 3)
        "dedup_embedding_pairs_lsh": _dedup_pairs_lsh_sql(),
        "dedup_embedding_lsh_recall": "SELECT 'pair_recall' AS metric, 90 AS threshold_pct, 1 AS passed UNION ALL SELECT 'pair_precision', 100, 1",
        "dedup_clusters": Q_DEDUP_CLUSTERS_SQL,
        "near_dedup_corpus": Q_NEAR_DEDUP_CORPUS_SQL,
        "dedup_simhash_pairs": Q_DEDUP_SIMHASH_PAIRS_SQL,
        "dedup_fingerprint": Q_DEDUP_FINGERPRINT_SQL,
        "dedup_incremental": Q_DEDUP_INCREMENTAL_SQL,
        "dedup_incremental_near": Q_DEDUP_INCREMENTAL_NEAR_SQL,
        "dedup_embedding_clustered_recall": "SELECT 'clustered_pair_recall' AS metric, 90 AS threshold_pct, 1 AS passed UNION ALL SELECT 'clustered_candidate_density', 20, 1",
        "semantic_dedup_check": "SELECT 'semantic_dedup_survivor_match' AS metric, 95 AS threshold_pct, 1 AS passed",
        "simhash_dedup": Q_SIMHASH_DEDUP_SQL,
        "dedup_minhash_jaccard": Q_DEDUP_MINHASH_JACCARD_SQL,
        "semantic_contamination_check": "SELECT 'semantic_contamination_precision' AS metric, 100 AS threshold_pct, 1 AS passed UNION ALL SELECT 'semantic_contamination_recall', 90, 1 ORDER BY metric",
    }
)


def q_fuzzy_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance self-join (operators/dedup.py:
    edit_distance_pairs — PassJoin segment pigeonhole, never n²) over
    part names + planted 1-edit typo variants (every third part gets a
    deterministic delete / duplicate-char / replace-with-q at a
    key-derived position). The oracle computes the ALL-PAIRS answer in
    SQL, so this row proves the segment blocking is lossless on real
    data, not a recall trade — every pair within distance 2, planted or
    incidental, must appear with its exact distance.

    FULL part table (uncapped, round 10): the multi-match-aware
    (segment, length, ordinal) join key keeps candidate buckets small
    even on TPC-H's ~90-word name vocabulary — the bare-substring key of
    round 9 needed a 2000-part cap to stay benchable at sf0.1 (216.8 s
    uncapped); the refined key runs the full 20k-part table in
    single-digit seconds (see edit_distance_pairs' scale note). The
    all-pairs oracle is quadratic by design, so this row belongs to the
    driver scales (sf <= 0.01); sf1 targeted sweeps exclude it."""
    part = _t(spark, sf_dir, "part")
    base = part.select(F.col("p_partkey").alias("rid"), F.col("p_name").alias("s"))
    src = part.filter(F.col("p_partkey") % 3 == 0).select(
        "p_partkey", "p_name", F.length("p_name").alias("_l")
    )
    pos = (F.col("p_partkey") % (F.col("_l") - 2)) + 2  # 1-based, inside
    # key % 3 is always 0 for the selected rows, so derive the op from key//3
    op = (F.col("p_partkey") / 3).cast("long") % 3
    name = F.col("p_name")
    typo = (
        F.when(
            op == 0,  # delete char at pos
            F.concat(
                name.substr(F.lit(1), pos - 1),
                name.substr(pos + 1, F.col("_l") - pos),
            ),
        )
        .when(
            op == 1,  # duplicate char at pos
            F.concat(
                name.substr(F.lit(1), pos),
                name.substr(pos, F.lit(1)),
                name.substr(pos + 1, F.col("_l") - pos),
            ),
        )
        .otherwise(  # replace char at pos with 'q'
            F.concat(
                name.substr(F.lit(1), pos - 1),
                F.lit("q"),
                name.substr(pos + 1, F.col("_l") - pos),
            )
        )
    )
    variants = src.select(
        (F.col("p_partkey") + F.lit(1_000_000)).alias("rid"), typo.alias("s")
    )
    recs = base.unionByName(variants)
    from etl_file_loader_spark.operators import dedup as dedup_ops

    return (
        dedup_ops.edit_distance_pairs(recs, "rid", "s", max_distance=2)
        .select(
            "id_a", "id_b", F.col("distance").cast("int").alias("distance")
        )
        .orderBy("id_a", "id_b")
    )


Q_FUZZY_MATCH_SQL = """
WITH src AS (
  SELECT p_partkey, p_name, length(p_name) AS l,
         CAST(p_partkey % (length(p_name) - 2) + 2 AS INT) AS pos,
         CAST((p_partkey // 3) % 3 AS INT) AS op
  FROM part WHERE p_partkey % 3 = 0
),
recs AS (
  SELECT p_partkey AS rid, p_name AS s FROM part
  UNION ALL
  SELECT p_partkey + 1000000,
         CASE op
           WHEN 0 THEN substr(p_name, 1, pos - 1) || substr(p_name, pos + 1, l - pos)
           WHEN 1 THEN substr(p_name, 1, pos) || substr(p_name, pos, 1)
                       || substr(p_name, pos + 1, l - pos)
           ELSE substr(p_name, 1, pos - 1) || 'q' || substr(p_name, pos + 1, l - pos)
         END
  FROM src
)
SELECT a.rid AS id_a, b.rid AS id_b,
       CAST(levenshtein(lower(a.s), lower(b.s)) AS INTEGER) AS distance
FROM recs a JOIN recs b ON a.rid < b.rid
WHERE abs(length(a.s) - length(b.s)) <= 2
  AND levenshtein(lower(a.s), lower(b.s)) <= 2
ORDER BY id_a, id_b
"""

QUERIES.update({"fuzzy_match_parts": q_fuzzy_match_parts})
ORACLES.update({"fuzzy_match_parts": Q_FUZZY_MATCH_SQL})


def q_jaccard_join_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard self-join via prefix filtering
    (operators/dedup.py:jaccard_join_prefix — candidates meet only on
    each doc's RAREST shingles under a global canonical order, so
    Zipf-hot boilerplate shingles never generate candidates). UNBLOCKED
    (no language gate, unlike dedup_ngram_jaccard) — and the oracle
    computes the ALL-PAIRS answer in SQL, so the row proves the prefix
    filter lossless on the duplication-saturated corpus."""
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup_ops.jaccard_join_prefix(docs, "doc_id", "text", n=5, threshold=0.5)
        .orderBy("id_a", "id_b")
    )


Q_JACCARD_JOIN_PREFIX_SQL = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
         ELSE list_transform(range(1, len(w) - 5 + 2), i -> array_to_string(w[i:i+4], ' ')) END
  )) AS shingle
  FROM words
),
sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS intersection
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, CAST(intersection AS BIGINT) AS intersection,
       CAST(sa.set_size AS BIGINT) AS size_a, CAST(sb.set_size AS BIGINT) AS size_b,
       round(intersection / (sa.set_size + sb.set_size - intersection), 6) AS jaccard
FROM pairs
JOIN sizes sa ON id_a = sa.doc_id
JOIN sizes sb ON id_b = sb.doc_id
WHERE round(intersection / (sa.set_size + sb.set_size - intersection), 6) >= 0.5
ORDER BY 1, 2
"""

QUERIES.update({"jaccard_join_prefix": q_jaccard_join_prefix})
ORACLES.update({"jaccard_join_prefix": Q_JACCARD_JOIN_PREFIX_SQL})


def q_jaccard_prefix_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin candidate-volume accounting (operators/dedup.py:
    jaccard_prefix_candidate_stats): one row counting candidates under
    the prefix filter alone, prefix + positional filter, and verified
    pairs. The oracle recomputes ALL THREE from scratch in SQL — the
    canonical rare-first order via row_number, the prefix via the same
    epsilon-guarded ceil, the positional bound via the equivalent-overlap
    alpha — and computes verified_pairs from the ALL-PAIRS join, so a
    positional filter that dropped a qualifying pair would show up as a
    verified_pairs mismatch, not just a candidate-count drift."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.jaccard_prefix_candidate_stats(
        docs, "doc_id", "text", n=5, threshold=0.5
    )


# t = 0.5; t/(1+t) embedded as the Python double repr so both engines
# multiply with the identical IEEE value
Q_JACCARD_PREFIX_CANDIDATES_SQL = rf"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
         ELSE list_transform(range(1, len(w) - 5 + 2), i -> array_to_string(w[i:i+4], ' ')) END
  )) AS shingle
  FROM words
),
freq AS (SELECT shingle, count(*) AS cnt FROM sh GROUP BY shingle),
ord AS (
  SELECT s.doc_id, s.shingle,
         row_number() OVER (PARTITION BY s.doc_id ORDER BY f.cnt, s.shingle) AS pos,
         count(*) OVER (PARTITION BY s.doc_id) AS n
  FROM sh s JOIN freq f USING (shingle)
),
pref AS (
  SELECT doc_id, shingle, pos, n FROM ord
  WHERE pos <= n - CAST(ceil(round(0.5 * n, 9)) AS INT) + 1
),
cp AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
),
cpos AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  WHERE least(a.n, b.n) >= 0.5 * greatest(a.n, b.n)
    AND 1 + least(a.n - a.pos, b.n - b.pos)
        >= ceil(round({0.5 / 1.5!r} * (a.n + b.n), 9))
),
allp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
ver AS (
  SELECT id_a, id_b FROM allp
  JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
  WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.5
)
SELECT (SELECT count(*) FROM cp) AS candidates_prefix,
       (SELECT count(*) FROM cpos) AS candidates_positional,
       (SELECT count(*) FROM ver) AS verified_pairs
"""

QUERIES.update({"jaccard_prefix_candidates": q_jaccard_prefix_candidates})
ORACLES.update({"jaccard_prefix_candidates": Q_JACCARD_PREFIX_CANDIDATES_SQL})


def _part_feed_variants(part: DataFrame) -> DataFrame:
    """The shared dirty-feed fixture for the edit-distance R-S rows:
    per selected part a 1-edit variant (interior delete) and a 2-edit
    variant (interior replace + appended char) at key-derived positions,
    plus pure-noise rows that match nothing."""
    src = part.filter(F.col("p_partkey") % 4 == 1).select(
        "p_partkey", "p_name", F.length("p_name").alias("_l")
    )
    pos = (F.col("p_partkey") % (F.col("_l") - 4)) + 3  # 1-based, interior
    name = F.col("p_name")
    v1 = src.select(
        (F.col("p_partkey") + F.lit(2_000_000)).alias("rid"),
        F.concat(
            name.substr(F.lit(1), pos - 1),
            name.substr(pos + 1, F.col("_l") - pos),
        ).alias("s"),
    )
    v2 = src.select(
        (F.col("p_partkey") + F.lit(3_000_000)).alias("rid"),
        F.concat(
            name.substr(F.lit(1), pos - 1),
            F.lit("z"),
            name.substr(pos + 1, F.col("_l") - pos),
            F.lit("x"),
        ).alias("s"),
    )
    noise = part.filter(F.col("p_partkey") % 4 == 2).select(
        (F.col("p_partkey") + F.lit(4_000_000)).alias("rid"),
        F.concat(
            F.lit("zz qq zz qq zz "), F.col("p_partkey").cast("string")
        ).alias("s"),
    )
    return v1.unionByName(v2).unionByName(noise)


def q_fuzzy_join_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact edit-distance R-S join (operators/dedup.py:
    edit_distance_join — record linkage: match a dirty feed against the
    part master). The feed plants, per selected part, a 1-edit variant
    (interior delete) and a 2-edit variant (interior replace + appended
    char) at key-derived positions, plus pure-noise rows that match
    nothing; the oracle computes the ALL-PAIRS left x right answer, so
    the row proves the one-directional R-S blocking lossless — every
    within-distance (master, feed) pair, planted or incidental, with its
    exact distance."""
    part = _t(spark, sf_dir, "part")
    left = part.select(
        F.col("p_partkey").alias("pid"), F.col("p_name").alias("name")
    )
    feed = _part_feed_variants(part)
    from etl_file_loader_spark.operators import dedup as dedup_ops

    return (
        dedup_ops.edit_distance_join(
            left, feed, "pid", "rid", "name", "s", max_distance=2
        )
        .select("pid", "rid", F.col("distance").cast("int").alias("distance"))
        .orderBy("pid", "rid")
    )


Q_FUZZY_JOIN_FEED_SQL = """
WITH src AS (
  SELECT p_partkey, p_name, length(p_name) AS l,
         CAST(p_partkey % (length(p_name) - 4) + 3 AS INT) AS pos
  FROM part WHERE p_partkey % 4 = 1
),
feed AS (
  SELECT p_partkey + 2000000 AS rid,
         substr(p_name, 1, pos - 1) || substr(p_name, pos + 1, l - pos) AS s
  FROM src
  UNION ALL
  SELECT p_partkey + 3000000,
         substr(p_name, 1, pos - 1) || 'z' || substr(p_name, pos + 1, l - pos) || 'x'
  FROM src
  UNION ALL
  SELECT p_partkey + 4000000, 'zz qq zz qq zz ' || CAST(p_partkey AS VARCHAR)
  FROM part WHERE p_partkey % 4 = 2
)
SELECT l.p_partkey AS pid, f.rid AS rid,
       CAST(levenshtein(lower(l.p_name), lower(f.s)) AS INTEGER) AS distance
FROM part l JOIN feed f ON abs(length(l.p_name) - length(f.s)) <= 2
WHERE levenshtein(lower(l.p_name), lower(f.s)) <= 2
ORDER BY pid, rid
"""

QUERIES.update({"fuzzy_join_feed": q_fuzzy_join_feed})
ORACLES.update({"fuzzy_join_feed": Q_FUZZY_JOIN_FEED_SQL})


def q_jaccard_join_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-Jaccard R-S join (operators/dedup.py:jaccard_join):
    even doc_ids play the master corpus, odd doc_ids the incoming feed
    (the dedup_incremental_near split), shingle frequencies counted over
    the union so both prefixes share one canonical order. The oracle
    computes the ALL-PAIRS even x odd answer, proving the cross-table
    prefix + positional blocking lossless on the duplication-saturated
    corpus."""
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup_ops.jaccard_join(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
            "doc_id",
            "doc_id",
            "text",
            "text",
            n=5,
            threshold=0.5,
        )
        .orderBy("id_left", "id_right")
    )


Q_JACCARD_JOIN_DOCS_SQL = r"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
         ELSE list_transform(range(1, len(w) - 5 + 2), i -> array_to_string(w[i:i+4], ' ')) END
  )) AS shingle
  FROM words
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_left, b.doc_id AS id_right, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle
  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
  GROUP BY 1, 2
)
SELECT id_left, id_right, CAST(inter AS BIGINT) AS intersection,
       CAST(sa.n AS BIGINT) AS size_left, CAST(sb.n AS BIGINT) AS size_right,
       round(inter / (sa.n + sb.n - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON id_left = sa.doc_id
JOIN sizes sb ON id_right = sb.doc_id
WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.5
ORDER BY 1, 2
"""

QUERIES.update({"jaccard_join_docs": q_jaccard_join_docs})
ORACLES.update({"jaccard_join_docs": Q_JACCARD_JOIN_DOCS_SQL})


def q_fuzzy_link_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-to-master resolution (operators/dedup.py:link_best_match):
    the fuzzy_join_feed workload resolved to ONE best master per feed
    record (min distance, ties to the smallest master id). The oracle
    replays the all-pairs join + the identical row_number tiebreak, so
    every resolution — including feed variants that resolve to a
    DIFFERENT master than their source via an incidental closer name —
    is value-checked."""
    part = _t(spark, sf_dir, "part")
    left = part.select(
        F.col("p_partkey").alias("pid"), F.col("p_name").alias("name")
    )
    src = part.filter(F.col("p_partkey") % 4 == 1).select(
        "p_partkey", "p_name", F.length("p_name").alias("_l")
    )
    pos = (F.col("p_partkey") % (F.col("_l") - 4)) + 3
    name = F.col("p_name")
    v1 = src.select(
        (F.col("p_partkey") + F.lit(2_000_000)).alias("rid"),
        F.concat(
            name.substr(F.lit(1), pos - 1),
            name.substr(pos + 1, F.col("_l") - pos),
        ).alias("s"),
    )
    v2 = src.select(
        (F.col("p_partkey") + F.lit(3_000_000)).alias("rid"),
        F.concat(
            name.substr(F.lit(1), pos - 1),
            F.lit("z"),
            name.substr(pos + 1, F.col("_l") - pos),
            F.lit("x"),
        ).alias("s"),
    )
    feed = v1.unionByName(v2)
    from etl_file_loader_spark.operators import dedup as dedup_ops

    return (
        dedup_ops.link_best_match(
            left, feed, "pid", "rid", "name", "s", max_distance=2
        )
        .select("rid", "pid", F.col("distance").cast("int").alias("distance"))
        .orderBy("rid")
    )


Q_FUZZY_LINK_BEST_SQL = """
WITH src AS (
  SELECT p_partkey, p_name, length(p_name) AS l,
         CAST(p_partkey % (length(p_name) - 4) + 3 AS INT) AS pos
  FROM part WHERE p_partkey % 4 = 1
),
feed AS (
  SELECT p_partkey + 2000000 AS rid,
         substr(p_name, 1, pos - 1) || substr(p_name, pos + 1, l - pos) AS s
  FROM src
  UNION ALL
  SELECT p_partkey + 3000000,
         substr(p_name, 1, pos - 1) || 'z' || substr(p_name, pos + 1, l - pos) || 'x'
  FROM src
),
pairs AS (
  SELECT f.rid, l.p_partkey AS pid,
         levenshtein(lower(l.p_name), lower(f.s)) AS distance,
         row_number() OVER (
           PARTITION BY f.rid
           ORDER BY levenshtein(lower(l.p_name), lower(f.s)), l.p_partkey
         ) AS rn
  FROM part l JOIN feed f ON abs(length(l.p_name) - length(f.s)) <= 2
  WHERE levenshtein(lower(l.p_name), lower(f.s)) <= 2
)
SELECT rid, pid, CAST(distance AS INTEGER) AS distance
FROM pairs WHERE rn = 1 ORDER BY rid
"""

QUERIES.update({"fuzzy_link_best": q_fuzzy_link_best})
ORACLES.update({"fuzzy_link_best": Q_FUZZY_LINK_BEST_SQL})


def q_fuzzy_link_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tier resolution histogram of the TIERED
    (operators/dedup.py:link_best_match, tiered=True) record linkage on a
    mostly-clean planted feed — 60% exact copies, 20% one-deletion
    variants, 10% two-edit variants, 10% scrambled junk of part names
    (the real-world linkage shape VERDICT r10 ask 5 names: most records
    match at d<=1, so the escalation resolves them without ever running
    the top-tier substring fan-out). A record's output distance IS the
    tier it resolved at, so the histogram value-checks the escalation's
    routing; the oracle recomputes every tier count from the all-pairs
    minimum distance."""
    part = _t(spark, sf_dir, "part")
    left = part.select(
        F.col("p_partkey").alias("pid"), F.col("p_name").alias("name")
    )
    src = part.filter(F.col("p_partkey") % 4 == 1).select(
        "p_partkey",
        "p_name",
        F.length("p_name").alias("_l"),
        (F.floor(F.col("p_partkey") / 4) % 10).alias("_cls"),
    )
    pos = (F.col("p_partkey") % (F.col("_l") - 4)) + 3
    name = F.col("p_name")
    rid = (F.col("p_partkey") + F.lit(4_000_000)).alias("rid")
    exact = src.filter(F.col("_cls") < 6).select(rid, name.alias("s"))
    one_edit = src.filter(F.col("_cls").isin(6, 7)).select(
        rid,
        F.concat(
            name.substr(F.lit(1), pos - 1), name.substr(pos + 1, F.col("_l") - pos)
        ).alias("s"),
    )
    two_edit = src.filter(F.col("_cls") == 8).select(
        rid,
        F.concat(
            name.substr(F.lit(1), pos - 1),
            F.lit("z"),
            name.substr(pos + 1, F.col("_l") - pos),
            F.lit("x"),
        ).alias("s"),
    )
    junk = src.filter(F.col("_cls") == 9).select(
        rid, F.concat(F.lit("qq"), F.reverse(name), F.lit("qq")).alias("s")
    )
    feed = exact.unionByName(one_edit).unionByName(two_edit).unionByName(junk)
    from etl_file_loader_spark.operators import dedup as dedup_ops

    resolved = dedup_ops.link_best_match(
        left, feed, "pid", "rid", "name", "s", max_distance=2, tiered=True
    )
    return (
        resolved.groupBy(F.col("distance").cast("int").alias("tier"))
        .agg(F.count(F.lit(1)).alias("resolved"))
        .orderBy("tier")
    )


# all-pairs replay (quadratic — exclude from sf1-targeted sweeps like the
# other linkage oracles): each feed record's true minimum distance to ANY
# master decides its tier, and the histogram must match the escalation's
Q_FUZZY_LINK_TIERS_SQL = """
WITH src AS (
  SELECT p_partkey, p_name, length(p_name) AS l,
         CAST(p_partkey % (length(p_name) - 4) + 3 AS INT) AS pos,
         CAST((p_partkey // 4) % 10 AS INT) AS cls
  FROM part WHERE p_partkey % 4 = 1
),
feed AS (
  SELECT p_partkey + 4000000 AS rid, p_name AS s FROM src WHERE cls < 6
  UNION ALL
  SELECT p_partkey + 4000000,
         substr(p_name, 1, pos - 1) || substr(p_name, pos + 1, l - pos)
  FROM src WHERE cls IN (6, 7)
  UNION ALL
  SELECT p_partkey + 4000000,
         substr(p_name, 1, pos - 1) || 'z' || substr(p_name, pos + 1, l - pos) || 'x'
  FROM src WHERE cls = 8
  UNION ALL
  SELECT p_partkey + 4000000, 'qq' || reverse(p_name) || 'qq'
  FROM src WHERE cls = 9
),
best AS (
  SELECT f.rid, min(levenshtein(lower(p.p_name), lower(f.s))) AS d
  FROM feed f JOIN part p ON abs(length(p.p_name) - length(f.s)) <= 2
  GROUP BY 1
)
SELECT CAST(d AS INT) AS tier, count(*) AS resolved
FROM best WHERE d <= 2
GROUP BY 1 ORDER BY 1
"""

QUERIES.update({"fuzzy_link_tiers": q_fuzzy_link_tiers})
ORACLES.update({"fuzzy_link_tiers": Q_FUZZY_LINK_TIERS_SQL})


def q_fuzzy_link_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing-master incremental linkage (operators/dedup.py:
    LinkageIndex): the master's PassJoin artifacts are built ONCE, then
    TWO successive feeds (a one-deletion batch, then a two-edit batch —
    arriving feed files in production ER) resolve against the same
    standing segments via the tiered escalation. The oracle replays the
    all-pairs answer per feed with the identical tiebreak, so reuse of
    the standing index — not just each single link — is value-checked."""
    part = _t(spark, sf_dir, "part")
    left = part.select(
        F.col("p_partkey").alias("pid"), F.col("p_name").alias("name")
    )
    from etl_file_loader_spark.operators import dedup as dedup_ops

    idx = dedup_ops.LinkageIndex(left, "pid", "name", max_distance=2)

    def _src(mod_val: int):
        return part.filter(F.col("p_partkey") % 8 == mod_val).select(
            "p_partkey", "p_name", F.length("p_name").alias("_l")
        )

    pos = (F.col("p_partkey") % (F.col("_l") - 4)) + 3
    name = F.col("p_name")
    feed1 = _src(1).select(
        (F.col("p_partkey") + F.lit(5_000_000)).alias("rid"),
        F.concat(
            name.substr(F.lit(1), pos - 1), name.substr(pos + 1, F.col("_l") - pos)
        ).alias("s"),
    )
    feed2 = _src(5).select(
        (F.col("p_partkey") + F.lit(6_000_000)).alias("rid"),
        F.concat(
            name.substr(F.lit(1), pos - 1),
            F.lit("z"),
            name.substr(pos + 1, F.col("_l") - pos),
            F.lit("x"),
        ).alias("s"),
    )
    r1 = idx.link_best(feed1, "rid", "s").withColumn("feed", F.lit(1))
    r2 = idx.link_best(feed2, "rid", "s").withColumn("feed", F.lit(2))
    return (
        r1.unionByName(r2)
        .select(
            "feed", "rid", "pid", F.col("distance").cast("int").alias("distance")
        )
        .orderBy("feed", "rid")
    )


Q_FUZZY_LINK_INCREMENTAL_SQL = """
WITH feed AS (
  SELECT 1 AS feed, p_partkey + 5000000 AS rid,
         substr(p_name, 1, pos - 1) || substr(p_name, pos + 1, l - pos) AS s
  FROM (SELECT p_partkey, p_name, length(p_name) AS l,
               CAST(p_partkey % (length(p_name) - 4) + 3 AS INT) AS pos
        FROM part WHERE p_partkey % 8 = 1)
  UNION ALL
  SELECT 2, p_partkey + 6000000,
         substr(p_name, 1, pos - 1) || 'z' || substr(p_name, pos + 1, l - pos) || 'x'
  FROM (SELECT p_partkey, p_name, length(p_name) AS l,
               CAST(p_partkey % (length(p_name) - 4) + 3 AS INT) AS pos
        FROM part WHERE p_partkey % 8 = 5)
),
pairs AS (
  SELECT f.feed, f.rid, l.p_partkey AS pid,
         levenshtein(lower(l.p_name), lower(f.s)) AS distance,
         row_number() OVER (
           PARTITION BY f.rid
           ORDER BY levenshtein(lower(l.p_name), lower(f.s)), l.p_partkey
         ) AS rn
  FROM part l JOIN feed f ON abs(length(l.p_name) - length(f.s)) <= 2
  WHERE levenshtein(lower(l.p_name), lower(f.s)) <= 2
)
SELECT feed, rid, pid, CAST(distance AS INT) AS distance
FROM pairs WHERE rn = 1 ORDER BY feed, rid
"""

QUERIES.update({"fuzzy_link_incremental": q_fuzzy_link_incremental})
ORACLES.update({"fuzzy_link_incremental": Q_FUZZY_LINK_INCREMENTAL_SQL})


def q_fuzzy_link_absorb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 14: the GROWING standing master — LinkageIndex.absorb. The
    index builds from HALF the part master (p_partkey % 2 == 0), then
    absorbs the other half in two batches (% 4 == 1, then % 4 == 3 —
    two tiers, exercising the TieredState cascade), CROSSING a
    save/load boundary between them (the index-family durability
    discipline). Only the new rows are lowered per absorb (O(batch));
    the linked output must equal the all-pairs answer over the FULL
    master — absorption is unobservable, so the oracle is exactly
    fuzzy_join_feed's all-pairs SQL. Feed = the shared dirty-feed
    fixture (1-edit + 2-edit variants + noise)."""
    from etl_file_loader_spark.operators import dedup as dedup_ops

    part = _t(spark, sf_dir, "part")

    def half(pred):
        return part.filter(pred).select(
            F.col("p_partkey").alias("pid"), F.col("p_name").alias("name")
        )

    idx = dedup_ops.LinkageIndex(
        half(F.col("p_partkey") % 2 == 0), "pid", "name", max_distance=2
    )
    idx.absorb(half(F.col("p_partkey") % 4 == 1))
    ckpt = _suite_ckpt_dir(spark) + "/linkage_absorb_idx"
    idx.save(ckpt)
    idx = dedup_ops.LinkageIndex.load(spark, ckpt)
    idx.absorb(half(F.col("p_partkey") % 4 == 3))
    from etl_file_loader_spark.operators.cache import pin_checkpoint

    out = pin_checkpoint(
        idx.link(_part_feed_variants(part), "rid", "s")
        .select("pid", "rid", F.col("distance").cast("int").alias("distance"))
        .orderBy("pid", "rid")
        .localCheckpoint(eager=True)
    )
    # result materialized (and registered for the caller's
    # release_operator_caches barrier); free the standing base + tiers
    # NOW so a bench/digest run does not accumulate a master per query
    idx.release()
    return out


QUERIES.update({"fuzzy_link_absorb": q_fuzzy_link_absorb})
ORACLES.update({"fuzzy_link_absorb": Q_FUZZY_JOIN_FEED_SQL})


def q_jaccard_pairs_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-tuning exact Jaccard join (operators/dedup.py:
    jaccard_pairs_auto): one bounded probe of sum(freq^2) picks the
    inverted-index or prefix path; both are lossless so the oracle —
    the same all-pairs answer as jaccard_join_prefix — is
    path-independent. On this corpus the probe measures ~55
    candidates/doc and picks the inverted path."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_ops.jaccard_pairs_auto(
        docs, "doc_id", "text", n=5, threshold=0.5
    ).orderBy("id_a", "id_b")


QUERIES.update({"jaccard_pairs_auto": q_jaccard_pairs_auto})
ORACLES.update({"jaccard_pairs_auto": Q_JACCARD_JOIN_PREFIX_SQL})


def q_near_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS end-to-end near-dedup (operators/dedup.py:
    remove_near_duplicates_exact): survivors after collapsing every
    connected component of TRUE jaccard >= 0.5 pairs to its min-id
    representative. Because the edges are exact (not LSH candidates),
    the oracle recomputes the survivor set from scratch: all-pairs
    jaccard edges + recursive-CTE components over the full corpus —
    exact-dup members land in their representative's component (J = 1),
    so quotient-side and full-corpus components agree."""
    docs = _t(spark, sf_dir, "documents")
    return (
        dedup_ops.remove_near_duplicates_exact(
            docs, "doc_id", "text", n=5, threshold=0.5
        )
        .select("doc_id")
        .orderBy("doc_id")
    )


Q_NEAR_DEDUP_EXACT_SQL = r"""
WITH RECURSIVE words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) < 5 THEN [array_to_string(w, ' ')]
         ELSE list_transform(range(1, len(w) - 5 + 2), i -> array_to_string(w[i:i+4], ' ')) END
  )) AS shingle
  FROM words
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
jpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges0 AS (
  SELECT id_a, id_b FROM jpairs
  JOIN sizes sa ON id_a = sa.doc_id JOIN sizes sb ON id_b = sb.doc_id
  WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM edges0
  UNION
  SELECT id_b AS src, id_a AS dst FROM edges0
),
reach(src, dst) AS (
  SELECT src, src FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
losers AS (
  SELECT src AS doc_id FROM reach GROUP BY src HAVING src <> min(dst)
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM losers)
ORDER BY doc_id
"""

QUERIES.update({"near_dedup_exact": q_near_dedup_exact})
ORACLES.update({"near_dedup_exact": Q_NEAR_DEDUP_EXACT_SQL})
