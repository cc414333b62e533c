"""Similarity search / ANN: brute-force, hyperplane LSH, IVF, k-NN joins.

Split from the monolithic suite.py (round 4); unit text unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from etl_file_loader_spark.operators import similarity as sim_ops
from etl_file_loader_spark.suite._shared import ORACLES, QUERIES, _t


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).select("embedding").collect()
    )
    return list(row[0][0])


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs vec_id=0's embedding."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.cosine_topk(emb, "vec_id", "embedding", _query_vec(spark, sf_dir), k=10)


Q_SIMILARITY_TOPK_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
             / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
FROM embeddings e, q
ORDER BY score DESC, vec_id
LIMIT 10
"""


def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via hyperplane-LSH bucket pruning (approximate; recall checked
    against the exact twin by ``similarity_lsh_recall``).

    Params tuned for the near-orthogonal synthetic embeddings (max pairwise
    cosine ~0.51): 4 planes / 8 probes measures recall@10 = 0.8 while
    scanning half the buckets."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.lsh_topk(
        emb, "vec_id", "embedding", _query_vec(spark, sf_dir), k=10, num_planes=4,
        n_probe=8,  # multi-probe: flip the least-confident planes for recall
    )


def q_similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF coarse quantizer on the deterministic DataFrame-native
    k-means (``IVFIndexDF``): md5-seeded init, 5 Lloyd iterations, rounded
    centroids — every step an engine-agnostic derivation, so the DuckDB
    oracle replays the FULL approximate result set. Recall vs the exact
    twin is still gated by ``similarity_ivf_recall`` (measured 80% at
    sf0.01, 100% at sf0.001 with n_lists=8, n_probe=6)."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = sim_ops.IVFIndexDF(n_lists=8).fit(emb, "embedding")
    assigned = idx.assign(emb, "embedding")
    return idx.search(
        assigned, "vec_id", "embedding", _query_vec(spark, sf_dir), k=10, n_probe=6
    )


def _recall_flag(exact_ids: DataFrame, approx_ids: DataFrame, metric: str, pct: int) -> DataFrame:
    """One hashable row: did the approximate id-set recover >= pct% of the
    exact id-set? Joins on all columns of ``exact_ids`` (id or pair).

    ONE pass over ``exact_ids`` (optimization round 14, guide §1.2/§2.4):
    the old shape evaluated the exact subtree twice per flag — a semi-join
    for hits plus a separate count for the total — and the exact side is
    an expensive exact-baseline miner/top-k in every caller (only work
    above its last exchange was deduped by ReuseExchange). A left join
    against the DEDUPED approx side marks hits, and one aggregate counts
    rows and hits together. Values identical: count(_hit) over a build
    side deduped on the join key == the left-semi row count (no fan-out,
    same null-rejecting equi-join semantics), count(*) == the old total.
    """
    probe = approx_ids.dropDuplicates().withColumn("_hit", F.lit(1))
    return (
        exact_ids.join(probe, exact_ids.columns, "left")
        .agg(F.count(F.lit(1)).alias("total"), F.count("_hit").alias("hits"))
        .select(
            F.lit(metric).alias("metric"),
            F.lit(pct).alias("threshold_pct"),
            (F.col("hits") * 100 >= F.col("total") * pct).cast("int").alias("passed"),
        )
    )


def q_similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable check for the LSH ANN path: recall@10 vs the exact
    brute-force twin must hold >= 60% (measured 80% on the synthetic
    embeddings; margin for data regeneration)."""
    exact = q_similarity_topk(spark, sf_dir).select("vec_id")
    approx = q_similarity_lsh_topk(spark, sf_dir).select("vec_id")
    return _recall_flag(exact, approx, "lsh_recall_at_10", 60)


def q_similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable check for the IVF ANN path: recall@10 >= 70% (measured
    80% at sf0.01 / 100% at sf0.001 with the deterministic quantizer at
    n_lists=8, n_probe=6 — both deterministic per dataset, so 70 keeps
    real regression-detection power while leaving data-regeneration
    margin; the round-11 drop to 60 under-gated). The sharper PER-SCALE
    floors (100 at sf0.001, 80 at sf0.01) live in
    tests/test_ivf_recall_gate.py, where the scale is known — the static
    oracle row here cannot express a scale-dependent literal."""
    exact = q_similarity_topk(spark, sf_dir).select("vec_id")
    approx = q_similarity_ivf_topk(spark, sf_dir).select("vec_id")
    return _recall_flag(exact, approx, "ivf_recall_at_10", 70)


# ---------------------------------------------------------------------------
# k-NN join (top-k neighbors for every vector)
# ---------------------------------------------------------------------------


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine k-NN join: top-3 neighbors per vector (the semantic-dedup
    primitive; oracle-checkable baseline for the LSH scale path)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.knn_join_exact(emb, "vec_id", "embedding", k=3)


Q_KNN_JOIN_SQL = """
WITH scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
ranked AS (
  SELECT vec_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
)
SELECT vec_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
"""


def q_knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN join via banded LSH candidates (recall checked against
    the exact twin by ``knn_join_recall``).

    Banding math drives the params: per-band collision prob for angle θ is
    (1-θ/π)^planes_per_band; the synthetic embeddings sit near θ≈60°, so
    2 planes/band keeps p_band ≈ 0.36 and 8 OR-ed bands lift recall to
    1-(1-0.36)^8 ≈ 0.97 (measured 0.979 micro-avg over all 500 queries).
    These FIXED params are sized to this sf-range; at growing n use
    ``num_bands=None`` (plan_banding) — see ``knn_join_lsh_auto_clustered``
    and NOTES_r4 §9 for the sf1 evidence (fixed ∝n² vs auto ~linear)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.knn_join_lsh(
        emb, "vec_id", "embedding", k=3, num_bands=8, planes_per_band=2
    )


def q_knn_join_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable check for the LSH k-NN join: micro-averaged recall of the
    exact top-3 neighbor edges must hold >= 90% (measured 97.9%)."""
    exact = q_knn_join(spark, sf_dir).select("vec_id", "neighbor_id")
    approx = q_knn_join_lsh(spark, sf_dir).select("vec_id", "neighbor_id")
    return _recall_flag(exact, approx, "knn_join_recall_at_3", 90)


def q_knn_join_lsh_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench twin: approximate k-NN join on the clustered fixture, where the
    hyperplane buckets actually prune (deep bands: 8x8 planes — clustered
    neighbors sit near θ≈19°, so p_band ≈ 0.89^8 ≈ 0.4 and 8 OR-ed bands
    keep recall ≈ 0.98 while random pairs collide at ≈ 3%)."""
    from etl_file_loader_spark import fixtures

    emb = fixtures.clustered_embeddings(spark, n=8000)
    return sim_ops.knn_join_lsh(
        emb, "vec_id", "embedding", k=3, num_bands=8, planes_per_band=8
    )


def q_knn_join_lsh_auto_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench twin of ``knn_join_lsh_clustered`` with ``plan_banding``-chosen
    parameters instead of hand-tuned (8, 8): the planner grows planes with
    log2(n) so random-collision candidates stay ~64/row regardless of corpus
    size — the fix for the ∝n² candidate growth the sf1 sweep exposed
    (NOTES_r4 §2). Measured at sf1 embeddings (n=8000): 21x faster than
    fixed (8, 2) banding with 97% top-1 agreement."""
    from etl_file_loader_spark import fixtures

    n = 8000
    emb = fixtures.clustered_embeddings(spark, n=n)
    return sim_ops.knn_join_lsh(
        emb,
        "vec_id",
        "embedding",
        k=3,
        num_bands=None,
        planes_per_band=None,
        recall_threshold=0.9,
        n_rows=n,
    )


def q_knn_join_auto_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable gate for the auto-planned banding: >=90% micro-averaged
    recall of the exact top-3 edges on the clustered fixture (n=1000 keeps
    the O(n^2) exact baseline affordable; sf-independent)."""
    from etl_file_loader_spark import fixtures

    n = 1000
    emb = fixtures.clustered_embeddings(spark, n=n)
    exact = sim_ops.knn_join_exact(emb, "vec_id", "embedding", k=3).select(
        "vec_id", "neighbor_id"
    )
    approx = sim_ops.knn_join_lsh(
        emb,
        "vec_id",
        "embedding",
        k=3,
        num_bands=None,
        planes_per_band=None,
        recall_threshold=0.9,
        n_rows=n,
    ).select("vec_id", "neighbor_id")
    return _recall_flag(exact, approx, "knn_join_auto_recall_at_3", 90)


def q_similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable check for the PQ rung of the ANN ladder: codes-only ADC
    shortlist (16 codes/vector, 16x compression) + exact rerank must
    recover >= 80% of the exact L2 top-10 (measured 100% at
    m=16/ksub=16/oversample=5; raw un-reranked ADC holds only ~20% on
    these near-orthogonal embeddings — the rerank IS the product shape)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    q = F.array(*[F.lit(float(v)) for v in qv])
    l2 = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), q, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    exact = (
        emb.select("vec_id", l2.alias("_d"))
        .orderBy(F.col("_d").asc(), "vec_id")
        .limit(10)
        .select("vec_id")
    )
    enc = sim_ops.PQEncoder(m=16, ksub=16).fit(emb, "embedding", order_col="vec_id")
    codes = enc.encode(emb, "vec_id", "embedding")
    approx = sim_ops.pq_topk_rerank(
        enc, codes, emb, "vec_id", "embedding", qv, k=10, oversample=5
    ).select("vec_id")
    return _recall_flag(exact, approx, "pq_rerank_recall_at_10", 80)


def q_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-hard triplet mining over the labeled embeddings
    (operators/similarity.py:mine_triplets): per anchor, hardest
    positive (same label, min cosine) + hardest negative (different
    label, max cosine), margins included, for a 500-anchor seed set
    against the full corpus (|anchors| x N pairs, not N^2 — the
    operator's intended seed/eval-set shape). Fully deterministic
    (rounded cosine + id tie-breaks), so the oracle replays every
    triplet."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim_ops.mine_triplets(
        emb, "vec_id", "embedding", "label",
        anchors=emb.filter(F.col("vec_id") < 500),
    ).orderBy("vec_id")


Q_TRIPLET_MINING_SQL = """
WITH scored AS (
  SELECT a.vec_id AS aid, a.label AS al, b.vec_id AS bid, b.label AS bl,
         round(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))), 4) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 500
),
pos AS (
  SELECT aid, bid AS pos_id, cos AS pos_cos FROM (
    SELECT aid, bid, cos,
           row_number() OVER (PARTITION BY aid ORDER BY cos ASC, bid ASC) AS rn
    FROM scored WHERE al = bl
  ) WHERE rn = 1
),
neg AS (
  SELECT aid, bid AS neg_id, cos AS neg_cos FROM (
    SELECT aid, bid, cos,
           row_number() OVER (PARTITION BY aid ORDER BY cos DESC, bid ASC) AS rn
    FROM scored WHERE al <> bl
  ) WHERE rn = 1
)
SELECT pos.aid AS vec_id, pos_id, pos_cos, neg_id, neg_cos,
       pos_cos - neg_cos AS margin
FROM pos JOIN neg ON neg.aid = pos.aid
ORDER BY vec_id
"""

QUERIES.update({"triplet_mining": q_triplet_mining})
ORACLES.update({"triplet_mining": Q_TRIPLET_MINING_SQL})


_RP_OUT_DIM = 16


def q_random_projection_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (operators/similarity.py:
    random_projection): project the 64-dim embeddings onto 16 md5-derived
    ±1 directions and emit every component — a FULL per-value check that
    the JVM-side zip_with/aggregate fold is bit-identical to an explicit
    left-associated SQL sum chain built from the same sign matrix."""
    emb = _t(spark, sf_dir, "embeddings")
    proj = sim_ops.random_projection(emb, "embedding", out_dim=_RP_OUT_DIM)
    return proj.select(
        "vec_id", F.posexplode("proj").alias("dim", "val")
    ).orderBy("vec_id", "dim")


def _random_projection_sql() -> str:
    # the oracle replays the SAME md5-derived sign matrix (embedding dim
    # is 64 across the generated testdata) as explicit left-assoc chains
    signs = sim_ops._rp_sign_matrix(64, _RP_OUT_DIM)
    exprs = []
    for j in range(_RP_OUT_DIM):
        terms = "".join(
            f" + CAST(embedding[{i + 1}] AS DOUBLE) * {int(signs[i, j])}.0"
            for i in range(64)
        )
        exprs.append(f"(0.0{terms}) / sqrt({_RP_OUT_DIM}.0)")
    arr = ",\n    ".join(exprs)
    return f"""
WITH p AS (
  SELECT vec_id, [
    {arr}
  ] AS pr
  FROM embeddings
)
SELECT vec_id, CAST(u.i - 1 AS INTEGER) AS dim, pr[u.i] AS val
FROM p, unnest(range(1, {_RP_OUT_DIM} + 1)) u(i)
ORDER BY vec_id, dim
"""


Q_RANDOM_PROJECTION_SQL = _random_projection_sql()

QUERIES.update({"random_projection_check": q_random_projection_check})
ORACLES.update({"random_projection_check": Q_RANDOM_PROJECTION_SQL})


QUERIES.update(
    {
        "similarity_topk": q_similarity_topk,
        "similarity_pq_recall": q_similarity_pq_recall,
        "similarity_lsh_topk": q_similarity_lsh_topk,
        "similarity_ivf_topk": q_similarity_ivf_topk,
        "similarity_lsh_recall": q_similarity_lsh_recall,
        "similarity_ivf_recall": q_similarity_ivf_recall,
        "knn_join": q_knn_join,
        "knn_join_lsh": q_knn_join_lsh,
        "knn_join_recall": q_knn_join_recall,
        "knn_join_lsh_clustered": q_knn_join_lsh_clustered,
        "knn_join_lsh_auto_clustered": q_knn_join_lsh_auto_clustered,
        "knn_join_auto_recall": q_knn_join_auto_recall,
    }
)


def lsh_proj_cte(num_planes: int, table: str = "embeddings") -> str:
    """The hyperplane-LSH replay every LSH oracle builds on: DuckDB
    re-derives the SAME md5 plane weights as ``sim_ops._plane_matrix``
    (component (p, j) = md5("{p}_{j}") first-8-hex / 2^32 - 0.5) and
    re-projects every stored vector. Sign agreement with the Spark-side
    numpy matmul is a NUMERIC fact, not luck: the measured minimum
    |projection| over the testdata embeddings x 16 planes is 2.3e-4
    (tests/test_lsh_oracle_margins.py pins it > 1e-6), nine orders of
    magnitude above double-summation-order noise, so no sign — hence no
    bucket — can differ between the engines."""
    return f"""
comp AS (
  SELECT vec_id,
         unnest(CAST(embedding AS DOUBLE[])) AS c,
         unnest(range(1, len(embedding) + 1)) AS j
  FROM {table}
),
planes AS (
  SELECT p, j + 1 AS j,
         CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
           / 4294967296.0 - 0.5 AS w
  FROM (SELECT unnest(range(0, {num_planes})) AS p),
       (SELECT unnest(range(0, (SELECT len(embedding) FROM {table} LIMIT 1))) AS j)
),
proj AS (
  SELECT c.vec_id, pl.p, sum(c.c * pl.w) AS proj
  FROM comp c JOIN planes pl USING (j)
  GROUP BY 1, 2
)"""


def clustered_fixture_cte(
    n: int, dim: int = 64, k: int = 40, noise: float = 0.03, seed: int = 7,
    name: str = "fx",
) -> str:
    """SQL twin of ``fixtures.clustered_embeddings``: the fixture DATA is
    md5-derived with NO normalization, so every float32 component is ONE
    correctly-rounded double add of exactly-representable inputs
    (int32/2^32 uniforms) — BIT-IDENTICAL across engines, pinned by
    tests/test_clustered_fixture_oracle.py's exhaustive equality check."""
    import math

    scale = noise * math.sqrt(float(dim))
    return f"""
{name} AS MATERIALIZED (
  SELECT i.i AS vec_id, CAST(i.i % {k} AS INT) AS label,
         list(CAST(
           (CAST('0x' || substr(md5('ctr{seed}_' || CAST(i.i % {k} AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)), 1, 8) AS BIGINT)
              / 4294967296.0 - 0.5)
           + (CAST('0x' || substr(md5('pt{seed}_' || CAST(i.i AS VARCHAR) || '_' || CAST(j.j AS VARCHAR)), 1, 8) AS BIGINT)
              / 4294967296.0 - 0.5) * {scale!r}
           AS FLOAT) ORDER BY j.j) AS embedding
  FROM (SELECT unnest(range(0, {n})) AS i) i
  CROSS JOIN (SELECT unnest(range(0, {dim})) AS j) j
  GROUP BY i.i
)"""


_COS = (
    "round(list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)

# Full value replay of q_similarity_lsh_topk: buckets from the md5 planes,
# the multi-probe sequence from the query's own projections (probe cost of
# a bucket = sum of |projection| over the planes flipped vs the base
# bucket, exactly query_probe_buckets' cost; with 4 planes all 16 buckets
# enumerate, so Python's early-break never fires and cost-order IS the
# probe order — the 8th/9th boundary gap is pinned strict by
# tests/test_lsh_oracle_margins.py), then the exact rounded-cosine top-10
# over the probed buckets.
Q_SIMILARITY_LSH_TOPK_SQL = f"""
WITH {lsh_proj_cte(4)},
buckets AS (
  SELECT vec_id, CAST(sum(CASE WHEN proj >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY 1
),
qproj AS (SELECT p, proj FROM proj WHERE vec_id = 0),
base AS (
  SELECT CAST(sum(CASE WHEN proj >= 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS b FROM qproj
),
cost AS (
  SELECT cb.b AS bucket,
         COALESCE(sum(CASE WHEN ((xor(cb.b, base.b) >> qp.p) & 1) = 1
                           THEN abs(qp.proj) END), 0) AS cost
  FROM (SELECT unnest(range(0, 16)) AS b) cb
  CROSS JOIN base CROSS JOIN qproj qp
  GROUP BY 1
),
probes AS (SELECT bucket FROM cost ORDER BY cost LIMIT 8),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id,
       {_COS.format(a="CAST(e.embedding AS DOUBLE[])", b="q.qv")} AS score
FROM embeddings e
JOIN buckets bk ON bk.vec_id = e.vec_id
JOIN probes pr ON bk.bucket = pr.bucket
CROSS JOIN q
ORDER BY score DESC, e.vec_id
LIMIT 10
"""

# Full value replay of q_knn_join_lsh (8 bands x 2 planes over the same
# md5-derived 16 planes): band b = planes [2b, 2b+2), candidates meet on
# any (band, bucket), exact rounded-cosine rescore, mirror, rank <= 3 with
# the identical (cosine DESC, neighbor_id) tiebreak.
Q_KNN_JOIN_LSH_SQL = f"""
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
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
scored AS (
  SELECT id_a, id_b,
         {_COS.format(a="va.vec", b="vb.vec")} AS cosine
  FROM cand
  JOIN v va ON va.vec_id = id_a
  JOIN v vb ON vb.vec_id = id_b
),
mirrored AS (
  SELECT id_a AS vec_id, id_b AS neighbor_id, cosine FROM scored
  UNION ALL
  SELECT id_b AS vec_id, id_a AS neighbor_id, cosine FROM scored
),
ranked AS (
  SELECT vec_id, neighbor_id, cosine,
         CAST(row_number() OVER (
           PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id
         ) AS BIGINT) AS rank
  FROM mirrored
)
SELECT vec_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
"""


def kmeans_cte(
    k: int,
    iters: int,
    round_to: int = 6,
    table: str = "embeddings",
    max_fit_rows: int | None = None,
) -> str:
    """Full DuckDB replay of ``operators.similarity.KMeansDF.fit`` as
    statically-unrolled chained CTEs (one pair per Lloyd iteration —
    iteration's analog of the recursive BPE-merge replay):

    - ``c0``: the k vectors with the smallest (md5(id), id) — the same
      pure-expression init Spark computes;
    - ``a{i}``: argmin squared-L2 assignment, ties to the lowest cluster
      id (row_number ORDER BY d, cid == Spark's struct-array min);
    - ``c{i}``: per-dim round(avg, round_to) centroids, empty clusters
      carrying the previous centroid via the LEFT JOIN COALESCE.

    Engine agreement is a pinned numeric fact, not luck: DuckDB's
    list_sum and Spark's left-fold differ only by double summation order
    (~1e-13 relative), and tests/test_kmeans_df_oracle.py measures every
    assignment margin and every mean's distance from its rounding
    boundary orders of magnitude above that, then asserts the replayed
    centroids are EXACTLY equal per iteration.

    ``max_fit_rows`` mirrors KMeansDF's enforced fit bound (round 12):
    the fit relation ``vf`` is the ``max_fit_rows`` rows with the smallest
    ``(md5(cast(id as varchar)), id)`` — the identical pure-expression
    prefix rule Spark's TakeOrderedAndProject computes — so the replay
    stays bit-exact even when the bound binds. ``None`` fits on the whole
    table (exact replay of an unbounded fit, and of a bounded fit whose
    bound exceeds the table — a deterministic total-order LIMIT beyond the
    row count is the identity)."""
    fit_rel = (
        f"""(SELECT vec_id, vec FROM v
       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {max_fit_rows})"""
        if max_fit_rows is not None
        else "v"
    )
    parts = [f"""
v AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM {table}),
vf AS MATERIALIZED (SELECT vec_id, vec FROM {fit_rel}),
e AS MATERIALIZED (SELECT vec_id, unnest(vec) AS val,
             unnest(range(1, len(vec) + 1)) AS pos FROM vf),
c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS BIGINT) AS cid,
         vec AS cv
  FROM (SELECT vec_id, vec FROM vf
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})
)"""]
    dist = "list_sum(list_transform(list_zip(v.vec, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2])))"
    for i in range(1, iters + 1):
        parts.append(f"""
a{i} AS MATERIALIZED (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY {dist}, c.cid) AS rn
    FROM vf v CROSS JOIN c{i - 1} c)
  WHERE rn = 1
),
c{i} AS MATERIALIZED (
  SELECT p.cid, COALESCE(n.cv, p.cv) AS cv
  FROM c{i - 1} p LEFT JOIN (
    SELECT cid, list(val ORDER BY pos) AS cv FROM (
      SELECT a.cid, e.pos, round(avg(e.val), {round_to}) AS val
      FROM a{i} a JOIN e ON e.vec_id = a.vec_id
      GROUP BY 1, 2)
    GROUP BY cid) n USING (cid)
)""")
    return ",".join(parts)


# Full value replay of q_similarity_ivf_topk: the 5-iteration k=8 KMeansDF
# fit (kmeans_cte), the final bucket assignment, probe ranking (6 closest
# centroids to the query — squared L2 orders like Spark's np.linalg.norm,
# ties to lowest cid like its stable sort), then the exact rounded-cosine
# top-10 over the probed buckets with the (score DESC, vec_id) tiebreak.
Q_SIMILARITY_IVF_TOPK_SQL = f"""
WITH {kmeans_cte(8, 5)},
af AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             list_sum(list_transform(list_zip(v.vec, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), c.cid) AS rn
    FROM v CROSS JOIN c5 c)
  WHERE rn = 1
),
q AS (SELECT vec FROM v WHERE vec_id = 0),
probes AS (
  SELECT c.cid
  FROM c5 c CROSS JOIN q
  ORDER BY list_sum(list_transform(list_zip(q.vec, c.cv), x -> (x[1] - x[2]) * (x[1] - x[2]))), c.cid
  LIMIT 6
)
SELECT v.vec_id,
       {_COS.format(a="v.vec", b="q.vec")} AS score
FROM v
JOIN af ON af.vec_id = v.vec_id
JOIN probes pr ON af.cid = pr.cid
CROSS JOIN q
ORDER BY score DESC, v.vec_id
LIMIT 10
"""


def _knn_lsh_clustered_sql(n: int, num_bands: int, planes_per_band: int, k: int = 3) -> str:
    """Full replay of knn_join_lsh over the md5-deterministic clustered
    fixture: derive the fixture, re-project onto num_bands*planes_per_band
    md5 planes, band, candidate-join, exact rounded-cosine rescore, mirror,
    rank."""
    total_planes = num_bands * planes_per_band
    return f"""
WITH {clustered_fixture_cte(n)},
{lsh_proj_cte(total_planes, table="fx")},
bands AS (
  SELECT vec_id, CAST(p // {planes_per_band} AS BIGINT) AS band,
         CAST(sum(CASE WHEN proj >= 0 THEN 1 << (p % {planes_per_band}) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b USING (band, bucket)
  WHERE a.vec_id < b.vec_id
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM fx),
scored AS (
  SELECT id_a, id_b,
         {_COS.format(a="va.vec", b="vb.vec")} AS cosine
  FROM cand
  JOIN v va ON va.vec_id = id_a
  JOIN v vb ON vb.vec_id = id_b
),
mirrored AS (
  SELECT id_a AS vec_id, id_b AS neighbor_id, cosine FROM scored
  UNION ALL
  SELECT id_b AS vec_id, id_a AS neighbor_id, cosine FROM scored
),
ranked AS (
  SELECT vec_id, neighbor_id, cosine,
         CAST(row_number() OVER (
           PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id
         ) AS BIGINT) AS rank
  FROM mirrored
)
SELECT vec_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


Q_KNN_JOIN_LSH_CLUSTERED_SQL = _knn_lsh_clustered_sql(8000, 8, 8)
# the auto row's planner is deterministic in (n, threshold) — embed the
# SAME parameters plan_banding picks at build time
_AUTO_BANDS, _AUTO_PLANES = sim_ops.plan_banding(8000, 0.9)
Q_KNN_JOIN_LSH_AUTO_CLUSTERED_SQL = _knn_lsh_clustered_sql(
    8000, _AUTO_BANDS, _AUTO_PLANES
)


ORACLES.update(
    {
        "similarity_topk": Q_SIMILARITY_TOPK_SQL,
        "similarity_pq_recall": "SELECT 'pq_rerank_recall_at_10' AS metric, 80 AS threshold_pct, 1 AS passed",
        # round 11 extra: the clustered k-NN demos gain FULL value oracles
        # — the fixture itself is now an md5 derivation with a SQL form
        # (clustered_fixture_cte), removing the last reason for rows-only
        "knn_join_lsh_clustered": Q_KNN_JOIN_LSH_CLUSTERED_SQL,
        "knn_join_lsh_auto_clustered": Q_KNN_JOIN_LSH_AUTO_CLUSTERED_SQL,
        # round 11: the hyperplane-LSH demos gain FULL value oracles — the
        # planes are deterministic md5 derivations, so DuckDB replays the
        # whole bucketing + multi-probe + rescore (VERDICT r10 ask 3)
        "similarity_lsh_topk": Q_SIMILARITY_LSH_TOPK_SQL,
        "knn_join_lsh": Q_KNN_JOIN_LSH_SQL,
        "similarity_lsh_recall": "SELECT 'lsh_recall_at_10' AS metric, 60 AS threshold_pct, 1 AS passed",
        "similarity_ivf_recall": "SELECT 'ivf_recall_at_10' AS metric, 70 AS threshold_pct, 1 AS passed",
        # the k-means-seeded IVF row has a full oracle too: KMeansDF's md5
        # init + fixed rounded Lloyd iterations unroll as chained CTEs (the
        # BPE-merge replay precedent, iteration instead of recursion);
        # margins pinned by tests/test_kmeans_df_oracle.py
        "similarity_ivf_topk": Q_SIMILARITY_IVF_TOPK_SQL,
        "knn_join": Q_KNN_JOIN_SQL,
        "knn_join_recall": "SELECT 'knn_join_recall_at_3' AS metric, 90 AS threshold_pct, 1 AS passed",
        "knn_join_auto_recall": "SELECT 'knn_join_auto_recall_at_3' AS metric, 90 AS threshold_pct, 1 AS passed",
    }
)


def q_triplet_mining_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Falsifiable agreement gate for the ANN-bucketed triplet miner
    (operators/similarity.py:mine_triplets_lsh — the executable form of
    the 100 TB trade mine_triplets documents): against the exact
    |anchors| x N miner on the same 500-anchor seed set,

    - coverage >= 95% (every anchor should find in-bucket candidates;
      measured 100%),
    - hardest-NEGATIVE agreement >= 90% (the LSH-natural half — closest
      different-label vectors collide; measured 97.8-98%),
    - hardest-POSITIVE agreement >= 60% (in-bucket positives are
      semi-hard by design — the farthest same-label vector is the pair
      LSH avoids; measured 74-77%)

    at num_bands=8, planes_per_band=2 — a real pruning configuration,
    not an everything-collides one."""
    from etl_file_loader_spark.operators.cache import pin_checkpoint

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 500)
    # Materialize each miner ONCE (optimization round 14, guide §1.2/§3.3):
    # the three agreement flags below consume both results repeatedly (the
    # exact subtree appeared 6x, the LSH one 3x in the union's single plan
    # — only work above each last exchange was deduped by ReuseExchange,
    # so the |anchors| x N cosine pass re-ran per consumer), and the
    # un-truncated 3k-line plan alone cost ~6.7 s of driver planning. The
    # results are ~|anchors| rows, so the checkpoint is tiny; registered
    # for release like every other suite checkpoint.
    exact = pin_checkpoint(
        sim_ops.mine_triplets(
            emb, "vec_id", "embedding", "label", anchors=anchors
        ).localCheckpoint(eager=True)
    )
    approx = pin_checkpoint(
        sim_ops.mine_triplets_lsh(
            emb, "vec_id", "embedding", "label",
            anchors=anchors, num_bands=8, planes_per_band=2,
        ).localCheckpoint(eager=True)
    )
    cov = _recall_flag(
        exact.select("vec_id"), approx.select("vec_id"),
        "triplet_lsh_coverage", 95,
    )
    neg = _recall_flag(
        exact.select("vec_id", "neg_id"), approx.select("vec_id", "neg_id"),
        "triplet_lsh_neg_agreement", 90,
    )
    pos = _recall_flag(
        exact.select("vec_id", "pos_id"), approx.select("vec_id", "pos_id"),
        "triplet_lsh_pos_agreement", 60,
    )
    return cov.unionAll(neg).unionAll(pos).orderBy("metric")


QUERIES.update({"triplet_mining_lsh": q_triplet_mining_lsh})
ORACLES.update(
    {
        "triplet_mining_lsh": (
            "SELECT 'triplet_lsh_coverage' AS metric, 95 AS threshold_pct, 1 AS passed\n"
            "UNION ALL SELECT 'triplet_lsh_neg_agreement', 90, 1\n"
            "UNION ALL SELECT 'triplet_lsh_pos_agreement', 60, 1\n"
            "ORDER BY metric"
        )
    }
)
