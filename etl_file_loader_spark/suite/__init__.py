"""Query suite: every SURVEY §2 operator + training-data extension as a
(spark, sf_dir) -> DataFrame callable with a DuckDB oracle twin.

One module per query family:

  _shared     session/read helpers + the QUERIES/ORACLES registries
  tpch        TPC-H-shaped relational coverage (q1-q22 + derived partsupp)
  analytics   windows, set ops, grouping sets, funnels, cohorts, sketches
  pipeline    SURVEY §2 ingestion operators on the synthetic tables
  dedup       exact / MinHash+LSH / SimHash / n-gram / embedding near-dup
  similarity  ANN: brute-force, hyperplane LSH, IVF, k-NN joins
  text        stats, quality/lang, fingerprints, PII, Gopher, decontamination
  multimodal  binary media columns + fake-codec decode demos
  streaming   Structured Streaming analog with batch oracle
  sampling    stratified sampling, shard packing, skew-salted aggregation

Family modules register their queries/oracles on import; this package
__init__ builds the three cross-engine digests and pins the 50-entry
driver-checked window (CHECKED_QUERIES).
"""

from __future__ import annotations

from etl_file_loader_spark.suite._shared import (  # noqa: F401
    ORACLES,
    QUERIES,
    _dec,
    _ensure_session_confs,
    _t,
)

# importing a family module registers its queries/oracles (import order
# mirrors the original monolith; registration order is irrelevant — the
# driver window is the explicit CHECKED_QUERIES list below)
from etl_file_loader_spark.suite.analytics import *  # noqa: F401,F403
from etl_file_loader_spark.suite.dedup import *  # noqa: F401,F403
from etl_file_loader_spark.suite.multimodal import *  # noqa: F401,F403
from etl_file_loader_spark.suite.pipeline import *  # noqa: F401,F403
from etl_file_loader_spark.suite.sampling import *  # noqa: F401,F403
from etl_file_loader_spark.suite.similarity import *  # noqa: F401,F403
from etl_file_loader_spark.suite.streaming import *  # noqa: F401,F403
from etl_file_loader_spark.suite.text import *  # noqa: F401,F403
from etl_file_loader_spark.suite.tpch import *  # noqa: F401,F403
from etl_file_loader_spark.suite.web import *  # noqa: F401,F403
from etl_file_loader_spark.suite.tpch import (  # noqa: F401
    _derived_partsupp,
    _PARTSUPP_CACHE,
)


# ---------------------------------------------------------------------------
# digest queries + the driver-checked registry window
# ---------------------------------------------------------------------------
# The driver's correctness gate renders verdicts for a bounded prefix of the
# registered queries (the first 50). CHECKED_QUERIES is the curated
# <=50-entry window: distinct operators individually, plus four digest
# queries (see digest.py) that fold the TPC-H sweep, the analytics variants,
# the corpus/training-data members and the pipeline members into one
# value-verified driver row each. Everything stays individually runnable
# through QUERIES (bench + tools/check_correctness.py).

from etl_file_loader_spark import digest as _digest  # noqa: E402
from etl_file_loader_spark.digest_spec import SPEC as _DIGEST_SPEC  # noqa: E402

q_tpch_digest = _digest.build_digest(
    _digest.TPCH_DIGEST_MEMBERS, QUERIES, _DIGEST_SPEC
)
q_analytics_digest = _digest.build_digest(
    _digest.ANALYTICS_DIGEST_MEMBERS, QUERIES, _DIGEST_SPEC
)
q_corpus_digest = _digest.build_digest(
    _digest.CORPUS_DIGEST_MEMBERS, QUERIES, _DIGEST_SPEC
)
q_pipeline_digest = _digest.build_digest(
    _digest.PIPELINE_DIGEST_MEMBERS, QUERIES, _DIGEST_SPEC
)

QUERIES.update(
    {
        "tpch_digest": q_tpch_digest,
        "analytics_digest": q_analytics_digest,
        "corpus_digest": q_corpus_digest,
        "pipeline_digest": q_pipeline_digest,
    }
)
ORACLES.update(
    {
        "tpch_digest": _digest.build_digest_oracle(
            _digest.TPCH_DIGEST_MEMBERS, ORACLES, _DIGEST_SPEC
        ),
        "analytics_digest": _digest.build_digest_oracle(
            _digest.ANALYTICS_DIGEST_MEMBERS, ORACLES, _DIGEST_SPEC
        ),
        "corpus_digest": _digest.build_digest_oracle(
            _digest.CORPUS_DIGEST_MEMBERS, ORACLES, _DIGEST_SPEC
        ),
        "pipeline_digest": _digest.build_digest_oracle(
            _digest.PIPELINE_DIGEST_MEMBERS, ORACLES, _DIGEST_SPEC
        ),
    }
)

# The verdict window served by __spark_entry__.queries(): at most 50
# entries, checked as a prefix, so order matters. Every entry carries a
# full DuckDB value oracle (asserted below); the digests fold more rows in.
CHECKED_QUERIES: list[str] = [
    # flagship + the four digests (members verified up front)
    "q1_pricing_summary",
    "tpch_digest",
    "analytics_digest",
    "corpus_digest",
    "pipeline_digest",
    # Bloom semi-joins: the plain one and the xxhash64 binary-carrier twin
    # (the equals-plain-semi-join oracle is hash-agnostic)
    "bloom_semi_join",
    "bloom_semi_join_fast",
    # portable sketches: HyperLogLog registers/estimate/merge, quantile
    # registers, count-min; the maintained-index streams cross a save/load
    # boundary, and the Structured Streaming quantile row folds each epoch
    # exactly once
    "hll_distinct_check",
    "hll_index_stream",
    "quantile_hist_check",
    "quantile_index_stream",
    "cms_index_stream",
    "streaming_quantile_state",
    # per-group quantile band filter (CCNet perplexity-trim shape), the
    # closed-form waterfilling mixture allocator (exact int64 milli-weight
    # algebra) and the maintained fixed-query BM25 postings stream
    "quantile_trim_band",
    "mixture_waterfill_alloc",
    "bm25_index_stream",
    # dedup family
    "dedup_embedding_lsh_recall",
    "dedup_embedding_clustered_recall",
    # record linkage, maintained near-dup index, web and sampling rows
    "fuzzy_link_tiers",
    "fuzzy_link_incremental",
    "near_dedup_index_stream",
    "url_canonical",
    "domain_guard",
    "semantic_dedup_replay",
    "weighted_sample_check",
    # exact similarity joins; all-pairs oracles prove the PassJoin / PPJoin
    # blocking lossless: candidate accounting, the R-S record-linkage trio
    # (edit-distance join, shingle-Jaccard join, best-match resolution),
    # the self-tuning Jaccard dispatcher and the lossless near-dedup
    "fuzzy_match_parts",
    "jaccard_join_prefix",
    "jaccard_prefix_candidates",
    "fuzzy_join_feed",
    "jaccard_join_docs",
    "fuzzy_link_best",
    "jaccard_pairs_auto",
    "near_dedup_exact",
    # embedding-LSH pairs
    "dedup_embedding_pairs_lsh",
    "dedup_embedding_pairs_lsh_clustered",
    # similarity / ANN: recall gates, raw top-k and LSH k-NN joins
    "similarity_lsh_recall",
    "similarity_ivf_recall",
    "knn_join_recall",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "knn_join_lsh",
    "knn_join_lsh_clustered",
    "knn_join_lsh_auto_clustered",
    "knn_join_auto_recall",
    # text analysis: the fused shared-gram-table signal stage, the
    # learnable language-ID fixture (its oracle regenerates the corpus),
    # the ANN-bucketed triplet-mining gate and reciprocal rank fusion of
    # BM25 + dense cosine rankings
    "curation_text_signals",
    "langid_fixture",
    "triplet_mining_lsh",
    "hybrid_retrieval",
    # sampling / training layouts
    "corpus_curation",
    # streaming CDC apply: out-of-order micro-batches through the
    # tombstoned incremental merge replay the batch oracle
    "streaming_cdc_apply",
]

assert len(CHECKED_QUERIES) <= 50, (
    f"driver verdict window is 50 entries; have {len(CHECKED_QUERIES)}"
)
assert len(CHECKED_QUERIES) == len(set(CHECKED_QUERIES))
_missing = [n for n in CHECKED_QUERIES if n not in QUERIES]
assert not _missing, f"CHECKED_QUERIES not registered: {_missing}"
_no_oracle = [n for n in CHECKED_QUERIES if n not in ORACLES]
assert not _no_oracle, f"checked queries missing oracles: {_no_oracle}"
