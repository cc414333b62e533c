"""Deduplication operators for large-scale document pipelines.

Beyond the reference's surface (its only dedup is the grain-uniqueness audit),
these are the training-data-pipeline dedup primitives, each designed
partitioning-first:

 - exact:    one hash-aggregate on md5(text) — shuffle ∝ distinct texts
 - minhash:  shingle -> 32-bit hash -> k permutation-min signature -> LSH
             band buckets -> candidate pairs via band-bucket equi-join.
             Shuffles on (band_idx, band_hash): near-dup clusters co-locate,
             everything else stays tiny. No pairwise blowup outside buckets.
 - simhash:  per-token bit votes -> up-to-60-bit fingerprint; one Arrow
             projection, no shuffle
 - n-gram jaccard: inverted-index self-join on (block_key, shingle) —
             block on a natural key (e.g. lang) to bound the candidate set

All hashes derive from md5 (JVM-native, engine-portable): token hash is the
first 8 hex chars as int64 — identical in DuckDB as
``CAST('0x' || substr(md5(x),1,8) AS BIGINT)`` so every step is oracle-checkable.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_file_loader_spark.functions import tokens
from etl_file_loader_spark.operators.cache import pin, pin_checkpoint
from etl_file_loader_spark.operators.persist import MaintainedIndex

logger = logging.getLogger(__name__)

# Mersenne prime 2^31-1; (a*x + b) % p stays well inside int64 for 32-bit x
_MH_PRIME = 2147483647
# deterministic permutation parameters (seed-free: fixed engine constants)
_MH_A = [2654435761, 2246822519, 3266489917, 668265263, 374761393, 1103515245,
         1299709, 15485863, 32452843, 49979687, 67867967, 86028121,
         104395301, 122949823, 141650939, 160481183]
_MH_B = [1013904223, 12345, 2531011, 10139042, 11400714, 14313749,
         17624813, 20996011, 24036583, 25964951, 30402457, 32582657,
         37156667, 42643801, 43112609, 45212353]


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group identical texts: (text_hash, representative min id, dup_count)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingles(text: Column, n: int = 5) -> Column:
    """Distinct n-word shingles of whitespace-tokenized text.

    The token array is let-bound (``bind_once``) before the shingle lambda
    uses it — HOF bodies re-evaluate outer expressions per element, so an
    unbound ``tokens(text)`` would re-split the text once per shingle
    (measured ~14x slowdown on the gram-building pattern).
    """
    from etl_file_loader_spark.functions import bind_once

    def body(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        return F.array_distinct(
            F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(
                F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
            )
        )

    return bind_once(tokens(text), body)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    n: int = 5,
) -> DataFrame:
    """Doc -> minhash signature (array of num_hashes int64).

    One Arrow-batched pandas UDF does tokenize -> shingle -> md5 -> k-min
    in numpy: no explode and no shuffle, so signature generation is a
    narrow projection. Everything is md5 + int64 modular arithmetic (no
    floats), so the DuckDB oracle reproduces the signatures; it differs
    only on null text (no signature there).

    Tokenization goes through ``functions.py_tokens`` (Spark trim = ASCII
    space only; Java split keeps leading/trailing '' tokens for
    tab/newline-edged text; ASCII-only \\s), so signatures match the JVM
    tokenizer on real corpora, not just space-separated text. Then:
    distinct n-gram shingles (< n tokens -> the whole text as one
    shingle) -> int64 of the first 8 md5 hex chars ->
    min((a*(h%p)+b)%p). Null text behaves as empty text (one "" shingle).
    """
    assert num_hashes <= len(_MH_A)
    import hashlib

    from pyspark.sql.functions import pandas_udf

    from etl_file_loader_spark.functions import py_tokens
    from etl_file_loader_spark.operators.skew import fan_out_scan

    # a single-split scan runs the whole signature pass in ONE task (one
    # Python worker) — guide §2.5, no-op at scale
    df = fan_out_scan(df, key_cols=[id_col])

    a = np.asarray(_MH_A[:num_hashes], dtype=np.int64)
    b = np.asarray(_MH_B[:num_hashes], dtype=np.int64)
    p = _MH_PRIME

    @pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            toks = py_tokens(text)
            if len(toks) < n:
                sh = {" ".join(toks)}
            else:
                sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
            hs = np.fromiter(
                (
                    int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)
                    for s in sh
                ),
                dtype=np.int64,
                count=len(sh),
            )
            vals = (a[None, :] * (hs[:, None] % p) + b[None, :]) % p
            out.append([int(x) for x in vals.min(axis=0)])
        return pd.Series(out)

    return df.select(F.col(id_col), _sig(F.col(text_col)).alias("signature"))


def _bucket_join_pairs(
    members: DataFrame, id_col: str, bucket_cols: list[str]
) -> DataFrame:
    """Distinct (id_a < id_b) pairs of ids sharing a bucket — join variant.

    For bucketings whose buckets can grow LARGE (few planes per band,
    structureless vectors): persist the slim (id, bucket) frame once, then
    let a JVM equi-join expand the pairs in whole-stage codegen. The persist
    keeps the upstream (Arrow matmul) subtree at one execution; the join
    handles 500-member buckets at native speed where an interpreted HOF
    explosion over collected arrays pays per-element interpreter cost.
    """
    slim = pin(members.select(F.col(id_col), *bucket_cols))
    a = slim.select(F.col(id_col).alias("id_a"), *bucket_cols)
    b = slim.select(F.col(id_col).alias("id_b"), *bucket_cols)
    return (
        a.join(b, bucket_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _bucket_member_pairs(
    members: DataFrame, id_col: str, bucket_cols: list[str]
) -> DataFrame:
    """Distinct (id_a < id_b) pairs of ids sharing a bucket — explode variant.

    For bucketings whose buckets stay SMALL (minhash near-dup bands: bucket
    size tracks duplicate-cluster size): one aggregate + pair explosion, so
    the expensive signature subtree executes once and shuffles once, with no
    self-join at all. Use ``_bucket_join_pairs`` when buckets can be large.
    """
    buckets = (
        members.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(0), F.size("ids") - 2),
                    lambda i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size("ids") - i - 1),
                        lambda idb: F.struct(
                            F.get(F.col("ids"), i).alias("id_a"),
                            idb.alias("id_b"),
                        ),
                    ),
                )
            )
        ).alias("_p")
    )
    return pairs.select("_p.id_a", "_p.id_b").distinct()


def _bucket_star_edges(
    members: DataFrame, id_col: str, bucket_cols: list[str]
) -> DataFrame:
    """Distinct (id_a < id_b) edges connecting every bucket member to its
    bucket's MIN id — the clustering-only variant of the pair builders.

    For candidate pairs consumed SOLELY by connected components (no
    per-pair verification), the full within-bucket clique is redundant: a
    star to the bucket minimum yields IDENTICAL connectivity (every member
    reaches the min, so the bucket is one component; cross-bucket unions
    compose unchanged) at O(members) edges instead of O(members²).
    Measured at sf10 (~80-member near-dup families from the ×100 scale
    generator): the clique form is Σ family² ≈ quadratic in duplication
    density, the star form stays linear. Do NOT use where pairs are
    verified individually afterwards (SimHash hamming check, cosine
    threshold) — dropping a verified pair changes results there.
    """
    slim = members.select(F.col(id_col), *bucket_cols)
    reps = slim.groupBy(*bucket_cols).agg(F.min(F.col(id_col)).alias("id_a"))
    return (
        slim.join(reps, bucket_cols)
        .filter(F.col(id_col) > F.col("id_a"))
        .select("id_a", F.col(id_col).alias("id_b"))
        .distinct()
    )


def _cap_buckets(
    members: DataFrame, id_col: str, bucket_cols: list[str], cap: int
) -> DataFrame:
    """Truncate every bucket to its ``cap`` smallest ids, with LOUD
    accounting (the no-silent-caps rule).

    The hot-bucket mitigation for VERIFIED-pair paths, where the star-edge
    trick is off the table (every candidate pair is individually rescored,
    so dropping a pair can change results): a bucket of m members expands
    to m(m-1)/2 verification pairs, and duplication-dense corpora put
    thousands of near-identical docs on one bucket value (measured at sf10:
    ~80-member families -> Σ family² pair verification dominated
    ``simhash_dedup`` at 419 of 1007 s — NOTES_r6 §8). Capping keeps the
    smallest ``cap`` ids per bucket (deterministic across runs), so pair
    work is bounded by buckets·cap²/2.

    EXACTNESS CAVEAT: a truncated member can still pair up through any of
    its OTHER buckets (each doc carries ``blocks`` block values), but the
    pigeonhole guarantee no longer covers pairs whose every shared bucket
    was truncated — results may keep docs an uncapped run would have
    dropped (never the reverse: capping only removes candidate pairs, and
    fewer pairs merge fewer clusters). The truncation volume is logged at
    WARNING with bucket and member counts; run
    ``tools/audit_family_sizes.py`` first to see whether a corpus needs the
    cap at all, and prefer composing near-dedup BEFORE simhash
    (``CurationConfig.simhash_dedup``) so families collapse upstream.

    Costs one extra shuffle (the per-bucket window, executed ONCE — in the
    returned frame) plus one eager plain bucket-size aggregate for the
    accounting (groupBy count, no window sort: bucket size == max row
    number, so ranking isn't needed to detect truncation) — opt-in, never
    on the default path.
    """
    if cap < 2:
        raise ValueError(f"cap ({cap}) must be >= 2 to keep any pairs")
    w = Window.partitionBy(*bucket_cols).orderBy(F.col(id_col))
    ranked = members.withColumn("_rnk", F.row_number().over(w))
    over = (
        members.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") > cap)
        .agg(
            F.count(F.lit(1)).alias("buckets"),
            F.sum(F.col("_m") - cap).alias("members_dropped"),
            F.sum(
                (F.col("_m") * (F.col("_m") - 1) - F.lit(cap) * (cap - 1)) / 2
            ).alias("pairs_avoided"),
        )
        .collect()[0]
    )
    if over["buckets"]:
        logger.warning(
            "bucket cap %d truncated %d hot bucket(s): %d member slots dropped, "
            "~%d candidate pairs skipped — results may RETAIN near-duplicates an "
            "uncapped run would remove (pairs are only lost, never invented)",
            cap,
            over["buckets"],
            over["members_dropped"],
            int(over["pairs_avoided"]),
        )
    return ranked.filter(F.col("_rnk") <= cap).drop("_rnk")


def _band_rows(
    signatures: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
) -> DataFrame:
    """(id, band_idx, band_hash) rows: md5 over each band's signature slice."""
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("_band"),
    ).select(id_col, "_band.band_idx", "_band.band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Docs sharing any LSH band bucket -> distinct (id_a < id_b) pairs.

    Shuffle key is (band_idx, band_hash) — only docs with an identical band
    slice meet, so the join degree tracks true near-duplicate density.
    """
    band_rows = _band_rows(signatures, id_col, bands, rows_per_band)
    # one aggregate instead of a self-join: the expensive minhash+banding
    # subtree executes once and shuffles once
    return _bucket_member_pairs(band_rows, id_col, ["band_idx", "band_hash"])


def minhash_jaccard_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs SCORED FROM SIGNATURES ALONE: LSH band candidates +
    the MinHash Jaccard estimate (fraction of agreeing signature
    components), filtered at ``threshold``.

    The scale path for similarity SCORING (not just candidate generation):
    ``ngram_jaccard_pairs`` computes exact Jaccard but rescans shingle sets
    — at 100 TB the signatures (k int64s/doc) are the only thing that
    should ever meet the join. The estimator is unbiased with stderr
    ~1/sqrt(k) (k=16 -> ±0.25 — scoring, not proof; raise num_hashes for
    tighter bands). Integer component comparison, so the estimate is an
    exact rational — cross-engine value-verifiable.
    """
    # persist: the signature subtree (often an Arrow UDF over the full
    # corpus) feeds three consumers — the banding pass and both sides of
    # the rescore join; without this it executes three times (the same
    # shape simhash_pairs_blocked persists for the same reason).
    # Lifetime is honest, not isolated (ADVICE r6): SubqueryAlias
    # canonicalizes to its child, so CacheManager would match the caller's
    # identical frame anyway — an alias wrapper cannot fence the cache
    # entry. A lazy return value cannot unpersist behind itself, so the
    # persist routes through the pin() registry: batch drivers (bench
    # run_one, the suite runner) call release_operator_caches() between
    # workloads, and a caller unpersist() of the same plan still drops
    # this cache too.
    signatures = pin(signatures)
    pairs = lsh_candidate_pairs(signatures, id_col, bands, rows_per_band)
    sa = signatures.select(F.col(id_col).alias("id_a"), F.col("signature").alias("_sa"))
    sb = signatures.select(F.col(id_col).alias("id_b"), F.col("signature").alias("_sb"))
    matches = F.aggregate(
        F.zip_with(F.col("_sa"), F.col("_sb"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, m: acc + m,
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(matches / F.size(F.col("_sa")), 6).alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= threshold)
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
) -> DataFrame:
    """SimHash fingerprint per doc: sign of per-bit token votes.

    The token hash is width-matched to ``bits`` (md5-prefix derived, engine
    portable), so every fingerprint bit carries a real vote — ``bits`` up to
    60 (signed-int64 headroom).

    One Arrow-batched pandas UDF does tokenize -> md5 -> vectorized bit
    votes in numpy: no explode and no shuffle, so fingerprinting is a
    narrow projection. md5 + integer votes (no floats), so the DuckDB
    oracle reproduces the fingerprints. Tokenization goes through
    ``functions.py_tokens`` (JVM trim/split semantics: ASCII-space trim,
    leading/trailing '' tokens kept on tab/newline-edged text, ASCII-only
    \\s) -> distinct tokens -> int64 of the first ceil(bits/4) md5 hex
    chars -> per-bit +/-1 votes -> sign fingerprint.

    Docs with no tokens (null, empty or space-only text) yield no
    fingerprint.
    """
    import hashlib

    from pyspark.sql.functions import pandas_udf

    from etl_file_loader_spark.functions import py_tokens
    from etl_file_loader_spark.operators.skew import fan_out_scan

    # one Python worker per partition: widen single-split scans so the
    # vote loop parallelizes (guide §2.5, no-op at scale)
    df = fan_out_scan(df, key_cols=[id_col])
    n_hex = 8 if bits <= 32 else (bits + 3) // 4
    shifts = np.arange(bits, dtype=np.int64)

    @pandas_udf("long")
    def _fp(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            toks = set(py_tokens(text))
            if not toks:
                out.append(None)
                continue
            hs = np.fromiter(
                (
                    int(hashlib.md5(s.encode("utf-8")).hexdigest()[:n_hex], 16)
                    for s in toks
                ),
                dtype=np.int64,
                count=len(toks),
            )
            votes = (2 * ((hs[:, None] >> shifts[None, :]) & 1) - 1).sum(axis=0)
            out.append(int(((votes > 0).astype(np.int64) << shifts).sum()))
        return pd.Series(out, dtype="object")

    # Non-deterministic marker (guide §4.4): the isNotNull filter below
    # references the UDF's output, and the optimizer pushes that filter
    # toward the scan by DUPLICATING the evaluation — measured plan had
    # TWO ArrowEvalPython nodes, the lower one running the whole corpus's
    # vote loop in the pre-fan-out single scan task (simhash_dedup 9.5 ->
    # 16.7 s once the fan-out exchange separated them). The marker (the
    # value is in fact a pure function of the text) forbids the
    # duplication: one evaluation, above the exchange, 32 tasks.
    _fp = _fp.asNondeterministic()

    return df.select(F.col(id_col), _fp(F.col(text_col)).alias("simhash")).filter(
        F.col("simhash").isNotNull()
    )


def simhash_pairs_blocked(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs WITHOUT the all-pairs join: block the
    fingerprint into ``blocks`` equal bit-slices and equi-join on
    (block_idx, block_value) — two fingerprints within ``max_hamming``
    differing bits must agree on at least one whole block whenever
    ``blocks >= max_hamming + 1`` (pigeonhole), so the blocked candidate
    set provably contains every true pair and the result is EXACT, not
    approximate. Candidates are rescored with the true bit_count(xor)
    distance and filtered.

    This is the Manku/Jain/Sarma (WWW'07) table decomposition re-expressed
    as one Spark equi-join. Scale: the join shuffles on the block key; with
    ``w = bits/blocks`` bit-wide slices there are 2^w buckets per block, so
    random-collision load per block is ~n²/2^w pairs — size ``w`` ≳
    log2(n) + 10 the way the LSH banding planner does (60/4 = 15-bit
    slices — measured 1.6x faster than 12-bit at 50k docs, and the widest
    4-block layout an int64 fingerprint allows; beyond ~10^6 rows per
    natural partition, block WITHIN a partition key (language/source) the
    way ``ngram_jaccard_pairs`` does, or accept a recall<1 wider-d
    variant). Never all-pairs: the exact O(n²) form stays in
    ``q_dedup_simhash_pairs`` as the demo-scale oracle baseline. Template-
    heavy corpora put many docs on one block value; the join variant of
    pair expansion streams those buckets instead of materializing them.
    """
    sh = pin(simhash(df, id_col, text_col, bits=bits))
    return _blocked_pairs_from_fingerprints(
        sh, id_col, bits, max_hamming, blocks, max_bucket_size=max_bucket_size
    )


def _blocked_pairs_from_fingerprints(
    sh: DataFrame,
    id_col: str,
    bits: int,
    max_hamming: int,
    blocks: int,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Blocked candidate generation + true-Hamming rescore over an
    (id, simhash) frame. ``sh`` should be persisted by the caller — it
    feeds the block explosion AND both sides of the rescore join.
    ``max_bucket_size`` opts into the hot-bucket cap (see
    :func:`_cap_buckets` for the exactness caveat + accounting)."""
    if bits % blocks != 0:
        raise ValueError(f"bits ({bits}) must divide evenly into {blocks} blocks")
    if blocks < max_hamming + 1:
        raise ValueError(
            f"blocks ({blocks}) must exceed max_hamming ({max_hamming}) for the "
            "pigeonhole guarantee; use more blocks or a banded-recall variant"
        )
    width = bits // blocks
    mask = (1 << width) - 1
    slices = F.array(
        *[
            F.struct(
                F.lit(b).alias("block_idx"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("block_val"),
            )
            for b in range(blocks)
        ]
    )
    block_rows = sh.select(F.col(id_col), F.explode(slices).alias("_b")).select(
        id_col, "_b.block_idx", "_b.block_val"
    )
    if max_bucket_size is not None:
        block_rows = _cap_buckets(
            block_rows, id_col, ["block_idx", "block_val"], max_bucket_size
        )
    # join variant, NOT the explode variant: simhash blocks are the
    # large-bucket case (template-heavy corpora put thousands of docs on one
    # block value, and the explode variant materializes a bucket's full pair
    # array as ONE in-memory value — heap death at 10^3+ members; the
    # equi-join streams the same pairs through codegen)
    cand = _bucket_join_pairs(block_rows, id_col, ["block_idx", "block_val"])
    a = sh.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("_ha"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("_hb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    max_hamming: int = 3,
    blocks: int = 4,
    max_iterations: int = 20,
    max_family_size: int | None = None,
) -> DataFrame:
    """End-to-end SimHash near-dedup: ``df`` minus near-dup losers, one
    min-id representative per Hamming-connected cluster.

    The collapse path for SimHash (mirror of :func:`remove_near_duplicates`
    for MinHash), computed on the FINGERPRINT QUOTIENT: docs with identical
    fingerprints are pairwise Hamming-0 (a complete subgraph), so the graph
    collapses exactly to one node per distinct fingerprint (min-id
    representative) before any pairwise work. Candidates, rescoring, and
    connected components then run over distinct fingerprints only —
    identical connectivity (equal fingerprints => equal distances to
    everything), but pairwise cost tracks distinct CONTENT, not corpus
    size. On exact-dup-heavy corpora (web crawls run 20-40% exact dups,
    often in large clusters) this is the difference between cluster²-pair
    enumeration and a hash-aggregate. Losers = non-representative members
    of each fingerprint group + representatives whose component label is
    not their own; the loser side broadcasts against the corpus scan.
    Output is ~corpus-sized, never pair-list-sized.

    SCALE WARNING (measured, NOTES_r6 §8): the exact Manku guarantee
    requires verifying every candidate pair's true Hamming distance, so on
    duplication-DENSE corpora where near-identical docs have DISTINCT
    fingerprints (CommonCrawl-grade template families; the ×100 synthetic
    generator's ~80-member families), pair verification is Σ family² —
    at sf10 that was 419 of 1007 s for 500k docs. Two first-class
    remedies, in preference order:

    1. Compose MinHash near-dedup BEFORE simhash so families collapse
       upstream (``CurationConfig.simhash_dedup`` runs exactly this order;
       measured 36.3 s vs 1007 s solo at sf10 — NOTES_r8 §7 /
       BENCH_sf10_r8.json).
    2. Opt into ``max_family_size``: caps every block bucket to that many
       smallest ids before pair expansion, with loud truncation accounting
       (see :func:`_cap_buckets` — capping can only RETAIN extra docs,
       never over-delete).

    Run ``tools/audit_family_sizes.py`` on a corpus sample first — it
    predicts the pair-verification volume from the bucket histogram, so
    the Σ family² blowup is visible before a 100 TB run, not during it.
    """
    sh = pin(simhash(df, id_col, text_col, bits=bits))
    groups = sh.groupBy("simhash").agg(F.min(F.col(id_col)).alias("_rep"))
    reps = pin(groups.select(F.col("_rep").alias(id_col), "simhash"))
    pairs = _blocked_pairs_from_fingerprints(
        reps, id_col, bits, max_hamming, blocks, max_bucket_size=max_family_size
    )
    comp = connected_components(pairs, max_iterations=max_iterations)
    rep_losers = comp.filter(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    member_losers = (
        sh.join(groups, "simhash")
        .filter(F.col(id_col) != F.col("_rep"))
        .select(F.col(id_col))
    )
    losers = member_losers.unionByName(rep_losers)
    return df.join(losers, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.8,
    block_col: str | None = None,
) -> DataFrame:
    """Pairs with shingle-set Jaccard >= threshold via inverted-index join.

    ``block_col`` (e.g. language) bounds candidates to same-block docs —
    at 100 TB this is the difference between a join keyed on (block, shingle)
    and an all-pairs disaster.
    """
    keys = [block_col] if block_col else []
    # persist the exploded shingle frame: the interpreted shingle HOF is the
    # expensive part and this subtree feeds BOTH self-join sides plus the
    # set-size aggregate — unpersisted it would execute three times
    ex = df.select(
        F.col(id_col), *[F.col(c) for c in keys],
        F.explode(shingles(F.col(text_col), n)).alias("shingle"),
    )
    ex = pin(ex)
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    a = ex.select(F.col(id_col).alias("id_a"), *[F.col(c) for c in keys], "shingle")
    b = ex.select(F.col(id_col).alias("id_b"), *[F.col(c) for c in keys], "shingle")
    inter = (
        a.join(b, keys + ["shingle"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("intersection"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersection")
                / (F.col("size_a") + F.col("size_b") - F.col("intersection")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "intersection", "size_a", "size_b", "jaccard")
    )


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    round_to: int = 4,
) -> DataFrame:
    """Exact embedding near-dup pairs: cosine >= threshold, id_a < id_b.

    Brute-force baseline: block-nested self-join (O(n^2) comparisons but
    JVM-side fold, no UDF). The scale path is ``embedding_cosine_pairs_lsh``
    (bucketed candidates); this exact form is the oracle-checkable baseline
    and the verifier for LSH recall.
    """
    from etl_file_loader_spark.operators.similarity import dot, norm

    # norms computed once per row pre-join (HOF folds are interpreted;
    # re-folding per pair would triple the O(n²·d) work)
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        norm(F.col(vec_col)).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        norm(F.col(vec_col)).alias("_nb"),
    )
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a",
        "id_b",
        F.round(
            dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), round_to
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= threshold)


def embedding_cosine_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    num_bands: int | None = 4,
    planes_per_band: int | None = 2,
    round_to: int = 4,
    target_recall: float = 0.9,
    candidates_per_row: float = 64.0,
    n_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs at scale: banded hyperplane-LSH join + exact rescore.

    Only vectors agreeing on all planes of SOME band are compared — the
    shuffle key is (band, bucket), so candidate volume tracks near-dup
    density. Banding OR-amplifies recall: a true pair with per-plane
    agreement p is a candidate with prob 1-(1-p^r)^b instead of p^planes
    (single-band misses most sub-0.9-cosine pairs). Approximate: recall < 1;
    verified against the exact operator in tests.

    ``num_bands=None`` / ``planes_per_band=None`` auto-plans the banding
    from ``threshold`` and the dataset size via
    ``similarity.plan_banding`` — planes scale with log2(n) so random
    candidate volume stays ~linear in n instead of n² (pass ``n_rows`` to
    skip the planning count at scale).
    """
    from etl_file_loader_spark.operators.similarity import (
        dot_vectorized,
        hyperplane_lsh_bands,
        norm,
        plan_banding,
    )

    if num_bands is None or planes_per_band is None:
        n = n_rows if n_rows is not None else df.count()
        num_bands, planes_per_band = plan_banding(
            n, threshold, target_recall, candidates_per_row
        )

    # The Arrow-matmul banding subtree runs ONCE (persisted slim frame):
    # candidates come from a JVM bucket equi-join over (id, band, bucket) —
    # hyperplane buckets on weakly-structured embeddings can hold hundreds
    # of members, which codegen joins handle natively. The rescore then
    # fetches vectors with two slim id-joins against the base table instead
    # of carrying arrays through the LSH plan.
    banded = hyperplane_lsh_bands(df, id_col, vec_col, num_bands, planes_per_band)
    cand = _bucket_join_pairs(
        banded.select(F.col(id_col), "band", "bucket"), id_col, ["band", "bucket"]
    )
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        norm(F.col(vec_col)).alias("_na"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        norm(F.col(vec_col)).alias("_nb"),
    )
    # rows-only path (no SQL-oracle hash): Arrow-vectorized rescore
    scored = cand.join(va, "id_a").join(vb, "id_b").select(
        "id_a",
        "id_b",
        F.round(
            dot_vectorized(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
            round_to,
        ).alias("cosine"),
    )
    return scored.filter(F.col("cosine") >= threshold)


def connected_components(
    pairs: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """Duplicate-cluster assignment: (doc_id, cluster_id=min id in component).

    Input: undirected edges as (id_a, id_b). Iterative min-label propagation
    (the simple variant of large-star/small-star): each round every node
    adopts the smallest label among itself and its neighbors; converges in
    O(diameter) rounds. Each round is one shuffle on the node id — no driver
    data, only a converged? count per round. Dedup components are tiny
    (near-dup clusters), so this converges in 2-3 rounds in practice.

    Lineage control: the edge set and each round's labels are
    ``localCheckpoint``-ed, so the upstream candidate-generation plan runs
    once (not once per round) and the per-round plan stays constant-size —
    without it the lineage deepens every iteration and long chains
    (diameter >> 3) replay all prior rounds at each step.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    from etl_file_loader_spark.operators.cache import release_local_checkpoint

    prev_ckpt = None
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # pointer-doubling hop (guide §1.2): also
        # adopt the label OF the current label — labels are always ids of
        # component members, so the hop preserves the invariant and the
        # fixpoint (= per-component min) is unchanged, but long chains
        # converge in O(log diameter) rounds instead of O(diameter);
        # each round is one driver-sequential checkpoint, so rounds are
        # the wall-clock term that matters
        hop = labels.select(
            F.col("id").alias("_hid"), F.col("label").alias("_hlabel")
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .join(hop, F.col("label") == F.col("_hid"), "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("label"),
                    F.coalesce(F.col("nbr_label"), F.col("label")),
                    F.coalesce(F.col("_hlabel"), F.col("label")),
                ).alias("new_label"),
                F.col("label"),
            )
        ).localCheckpoint()
        converged = new_labels.filter(F.col("new_label") != F.col("label")).limit(1).isEmpty()
        # the converged probe materialized this round's checkpoint, so the
        # previous round's is now unreachable — release it, or a long chain
        # holds one label copy per round for the session lifetime
        if prev_ckpt is not None:
            release_local_checkpoint(prev_ckpt)
        prev_ckpt = new_labels
        labels = new_labels.select(F.col("id"), F.col("new_label").alias("label"))
        if converged:
            break
    if prev_ckpt is not None:
        # the returned plan reads only the final label checkpoint — the
        # edge set has served its O(diameter) joins and can go too
        release_local_checkpoint(edges)
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def remove_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    n: int = 5,
    bands: int = 4,
    rows_per_band: int = 4,
    max_iterations: int = 20,
) -> DataFrame:
    """The end-to-end near-dedup product op: return ``df`` minus near-dup
    losers, keeping one representative (min id) per duplicate cluster.

    Composition of the primitives above — minhash signatures (Arrow, no
    shuffle) -> banded LSH candidate pairs (bucket equi-join) -> connected
    components (min-label propagation) -> anti-join the non-representative
    members. The loser set is tiny relative to the corpus (only docs in
    dup clusters, minus one survivor each), so at scale the anti-join
    broadcasts the losers against the corpus scan — no corpus shuffle; AQE
    picks that plan from the loser side's runtime size.

    Like :func:`simhash_dedup`, the pairwise machinery runs on the EXACT-
    TEXT QUOTIENT: identical texts have identical shingle sets, hence
    identical signatures and band buckets, so they form complete LSH
    components anyway — collapsing them to one min-id representative first
    (one hash-aggregate) gives identical connectivity while keeping band
    bucket sizes proportional to distinct content, not corpus duplication.
    On web-crawl duplication rates (20-40% exact dups, heavy clusters)
    this bounds the explode-variant pair expansion that would otherwise
    grow with cluster².
    """
    # null-safe key: md5(null) is null and null keys never equi-join, which
    # would let every null-text doc survive; coalescing to '' clusters
    # null-text docs with empty-text docs — the same collapse the signature
    # path applies (both get the '' shingle set).
    th = df.select(
        F.col(id_col), F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_th")
    )
    groups = pin(th.groupBy("_th").agg(F.min(F.col(id_col)).alias("_rep")))
    rep_docs = df.join(
        groups.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
    )
    sigs = minhash_signatures(rep_docs, id_col, text_col, num_hashes=num_hashes, n=n)
    # STAR edges, not the full within-bucket clique: the candidates here
    # feed ONLY connected_components (no per-pair verification), and a star
    # to each bucket's min id gives identical components at O(members)
    # edges — the clique form is Σ family² and went quadratic on sf10's
    # ~80-member near-dup families (NOTES_r6 §4).
    band_rows = _band_rows(sigs, id_col, bands, rows_per_band)
    pairs = _bucket_star_edges(band_rows, id_col, ["band_idx", "band_hash"])
    comp = connected_components(pairs, max_iterations=max_iterations)
    rep_losers = comp.filter(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    member_losers = (
        th.join(groups, "_th").filter(F.col(id_col) != F.col("_rep")).select(F.col(id_col))
    )
    losers = member_losers.unionByName(rep_losers)
    return df.join(losers, id_col, "left_anti")


def remove_near_duplicates_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.5,
    max_iterations: int = 20,
) -> DataFrame:
    """The LOSSLESS near-dedup product op: identical composition to
    :func:`remove_near_duplicates` (exact-text quotient -> pair edges ->
    connected components -> anti-join the non-representatives), but the
    edges are TRUE shingle-Jaccard >= threshold pairs from
    :func:`jaccard_pairs_auto` (both of whose paths are exact), not LSH
    band candidates — survivors are a pure function of the data with no
    recall trade, so the suite oracle can recompute them from the
    all-pairs join + recursive-CTE components. The standard trade: exact
    edges cost the candidate-verify join (self-tuned inverted vs prefix),
    where LSH pays only the band shuffle but misses below-band-curve
    pairs; pipelines pick per corpus (CurationConfig.near_dedup_exact).

    Exact-dup members collapse to their min-id representative before the
    pair join (same quotient as the LSH op — identical texts have
    jaccard 1 with their rep, so components over the quotient plus the
    member->rep edges equal components over the full corpus).
    """
    th = df.select(
        F.col(id_col), F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_th")
    )
    groups = pin(th.groupBy("_th").agg(F.min(F.col(id_col)).alias("_rep")))
    rep_docs = df.join(
        groups.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
    )
    pairs = jaccard_pairs_auto(
        rep_docs, id_col, text_col, n=n, threshold=threshold
    ).select("id_a", "id_b")
    comp = connected_components(pairs, max_iterations=max_iterations)
    rep_losers = comp.filter(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    member_losers = (
        th.join(groups, "_th").filter(F.col(id_col) != F.col("_rep")).select(F.col(id_col))
    )
    losers = member_losers.unionByName(rep_losers)
    return df.join(losers, id_col, "left_anti")


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 64,
    threshold: float = 0.95,
    fit_fraction: float | None = None,
    seed: int = 42,
    max_iterations: int = 20,
    quantizer: str = "ml",
    round_to: int | None = None,
    max_fit_rows: int | None = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    k-means cluster the vectors, compare pairs only WITHIN each cluster,
    and drop all but one representative (min id) of every group connected
    by cosine >= threshold.

    The published recipe for semantic (not just lexical) training-data
    dedup: the coarse quantizer bounds the pairwise work to Σ m_c² over
    cluster sizes instead of n² — size ``n_clusters`` so clusters hold
    thousands, not millions, of vectors at the target scale, and fit the
    centroids on a sample (``fit_fraction``) rather than the full corpus.
    Cross-cluster near-dups are missed by construction (nearly identical
    vectors co-assign to the same centroid almost surely, so the loss is
    boundary-straddling pairs only — the standard SemDeDup tradeoff).

    Plan shape: one ml.KMeans fit (sampled), one assign projection, a
    cluster-keyed self-join for candidates (shuffle on cluster id), Arrow
    einsum rescore, min-label components, then the tiny loser set
    anti-joins (broadcast at scale) against the corpus scan.
    """
    from etl_file_loader_spark.operators.similarity import (
        IVFIndex,
        IVFIndexDF,
        dot_vectorized,
        norm,
    )

    fit_df = (
        df.sample(fraction=fit_fraction, seed=seed) if fit_fraction else df
    )
    if quantizer == "df":
        # the REPLAYABLE configuration: the deterministic
        # KMeansDF coarse quantizer — with round_to set, the whole
        # operator (fit, assignment, pair threshold, components) has a
        # DuckDB value oracle (suite semantic_dedup_replay). The fit is
        # enforced-bounded even when fit_fraction is None (the default):
        # KMeansDF collects at most max_fit_rows rows (deterministic
        # md5-order prefix), so a full-corpus driver collect cannot happen
        # regardless of caller configuration.
        idx: IVFIndex = IVFIndexDF(
            n_lists=n_clusters, max_fit_rows=max_fit_rows
        ).fit(fit_df, vec_col, id_col=id_col)
    else:
        idx = IVFIndex(n_lists=n_clusters, seed=seed).fit(fit_df, vec_col)
    assigned = idx.assign(df, vec_col).select(F.col(id_col), F.col("_ivf_bucket"))
    cand = _bucket_join_pairs(assigned, id_col, ["_ivf_bucket"])
    va = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        norm(F.col(vec_col)).alias("_na"),
    )
    vb = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        norm(F.col(vec_col)).alias("_nb"),
    )
    dup_pairs = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                dot_vectorized(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb"))
            ).alias("cosine"),
        )
        .filter(
            (
                F.round(F.col("cosine"), round_to)
                if round_to is not None
                else F.col("cosine")
            )
            >= threshold
        )
        .select("id_a", "id_b")
    )
    comp = connected_components(dup_pairs, max_iterations=max_iterations)
    losers = comp.filter(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Flag each NEW doc against an already-ingested corpus (continuous
    ingest: dedup the delta, never re-scan old-vs-old).

    Output: every new doc with ``matched_corpus_id`` (smallest corpus id
    sharing its canonical fingerprint, null if unique) and ``is_dup``.
    Join key is the fingerprint hash, so the corpus side reduces to its
    distinct (fingerprint, min id) index — at scale that index is the
    persisted artifact (one row per distinct content), and a small delta
    batch broadcasts against it. New-vs-new duplicates are left to the
    batch's own dedup pass; this operator's contract is delta-vs-corpus.
    """
    from etl_file_loader_spark.operators.text import fingerprint

    corpus_index = (
        corpus_df.select(
            fingerprint(F.col(text_col)).alias("_fp"),
            F.col(id_col).alias("_cid"),
        )
        .groupBy("_fp")
        .agg(F.min("_cid").alias("matched_corpus_id"))
    )
    flagged = new_df.select(
        F.col(id_col), fingerprint(F.col(text_col)).alias("_fp")
    ).join(corpus_index, "_fp", "left")
    return flagged.select(
        F.col(id_col),
        F.col("matched_corpus_id"),
        F.col("matched_corpus_id").isNotNull().cast("int").alias("is_dup"),
    )


def incremental_near_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    n: int = 5,
    bands: int = 4,
    rows_per_band: int = 4,
) -> DataFrame:
    """Flag each NEW doc as a NEAR-duplicate of the ingested corpus — the
    MinHash-banded analog of ``incremental_dedup`` (which only catches
    canonical-exact matches).

    The corpus side reduces to its band index: one row per distinct
    (band_idx, band_hash) with the smallest corpus id in that bucket. At
    scale that index IS the persisted artifact — it grows with distinct
    band buckets (∝ distinct content, not corpus rows), is maintainable
    incrementally (union new batch's bands, re-min), and a delta batch
    joins against it without ever re-scanning old-vs-old. Output: every
    new doc with ``matched_corpus_id`` (smallest corpus id sharing ANY
    band bucket, null if none) and ``is_near_dup``.

    Same recall semantics as ``lsh_candidate_pairs``: a true near-dup pair
    collides with prob 1-(1-p^r)^b for row-agreement p; tune bands/rows
    exactly as the batch path.
    """
    new_bands = _band_rows(
        minhash_signatures(new_df, id_col, text_col, num_hashes=num_hashes, n=n),
        id_col,
        bands,
        rows_per_band,
    )
    corpus_index = (
        _band_rows(
            minhash_signatures(corpus_df, id_col, text_col, num_hashes=num_hashes, n=n),
            id_col,
            bands,
            rows_per_band,
        )
        .groupBy("band_idx", "band_hash")
        .agg(F.min(F.col(id_col)).alias("_cid"))
    )
    flagged = (
        new_bands.join(corpus_index, ["band_idx", "band_hash"], "left")
        .groupBy(id_col)
        .agg(F.min("_cid").alias("matched_corpus_id"))
    )
    return flagged.select(
        F.col(id_col),
        F.col("matched_corpus_id"),
        F.col("matched_corpus_id").isNotNull().cast("int").alias("is_near_dup"),
    )


def _band_fold(df: DataFrame) -> DataFrame:
    """TieredState fold for the band index: one row per bucket, canonical
    id = min over contributions. Idempotent + associative across tiers
    (min), which is exactly NearDupIndex's confluence contract."""
    return df.groupBy("band_idx", "band_hash").agg(F.min("_cid").alias("_cid"))


class NearDupIndex(MaintainedIndex):
    """MAINTAINED MinHash band index over an ingested corpus — the
    executable form of :func:`incremental_near_dedup`'s "at scale that
    index IS the persisted artifact" note, which that one-shot operator
    states but cannot act on (it rebuilds the corpus index per call).

    Build once from the seed corpus, :meth:`flag` each arriving batch
    against the index (same output contract as
    ``incremental_near_dedup``: matched_corpus_id = smallest indexed doc
    sharing ANY band bucket, NULL -> unique), then :meth:`absorb` the
    batch so later batches see it. The index holds one row per distinct
    (band_idx, band_hash) per tier — it grows with distinct CONTENT,
    not corpus rows — and absorption is CONFLUENT because min is
    commutative/associative/idempotent: any absorption order of the same
    batches yields the same flags, so out-of-order ingest cannot corrupt
    dedup decisions (the suite oracle exploits this: it replays the
    final flags from the batch numbering alone).

    Absorb is O(batch), not O(state): the state is an LSM-style
    :class:`~etl_file_loader_spark.operators.tiered.TieredState` ladder
    whose fold is the per-bucket canonical-id ``min``. An absorb signs
    and checkpoints ONLY the batch's band rows; geometric cascade merges
    keep tier count O(log(state/batch)) and re-copy each band row only
    O(log n) times over a stream's lifetime (measured per-absorb in
    tools/measure_absorb_release.py). :meth:`flag` takes its per-doc
    ``min`` over the tier union, so tiering is invisible to every
    answer. ``save``/``load`` (operators/persist.py) write the folded
    index as one frame and resume from it as the single base tier;
    confluence makes the boundary unobservable.

    Measured at sf10 (500k docs, 62.5k seed + 7 arriving batches, warm):
    17.0 s maintained vs 29.0 s calling incremental_near_dedup per batch
    against the growing corpus — and the asymptotics diverge (the
    one-shot re-signatures the whole corpus per batch, O(F^2) docs
    signed over F batches; the index signs each doc once).
    """

    PARAMS = ("id_col", "text_col", "num_hashes", "n", "bands", "rows_per_band")

    def __init__(
        self,
        corpus: DataFrame,
        id_col: str,
        text_col: str,
        num_hashes: int = 16,
        n: int = 5,
        bands: int = 4,
        rows_per_band: int = 4,
    ):
        from etl_file_loader_spark.operators.tiered import TieredState

        self.id_col = id_col
        self.text_col = text_col
        self.num_hashes = num_hashes
        self.n = n
        self.bands = bands
        self.rows_per_band = rows_per_band
        self._pending = None  # (batch frame, its checkpointed band rows)
        self._state = TieredState.build(self._band_raw(corpus), _band_fold)

    def _restore(self, frame: DataFrame) -> None:
        from etl_file_loader_spark.operators.tiered import TieredState

        self._pending = None
        self._state = TieredState.restored(frame, _band_fold)

    def _band_raw(self, df: DataFrame) -> DataFrame:
        """(band_idx, band_hash, _cid) band rows of ``df`` — the raw
        tier contribution; the state's fold min-reduces per bucket."""
        return _band_rows(
            minhash_signatures(
                df, self.id_col, self.text_col,
                num_hashes=self.num_hashes, n=self.n,
            ),
            self.id_col,
            self.bands,
            self.rows_per_band,
        ).select(
            "band_idx", "band_hash", F.col(self.id_col).alias("_cid")
        )

    def _batch_bands(self, new_df: DataFrame) -> DataFrame:
        """The batch's band rows, signed ONCE per batch frame
        (guide §1.2 — flag-then-absorb is the documented stream shape
        and both steps need the same band rows, so the Arrow minhash pass
        runs once per batch, as the class's "signs each doc once"
        contract says).
        Single-slot memo: a strong reference to the batch frame (so the
        identity can never be a recycled id) plus an eager checkpoint of
        its band rows. Consumed by :meth:`absorb`, superseded by the
        next distinct batch, freed by :meth:`release`."""
        from etl_file_loader_spark.operators.cache import release_local_checkpoint

        if self._pending is not None:
            pdf, bands = self._pending
            if pdf is new_df:
                return bands
            release_local_checkpoint(bands)
            self._pending = None
        bands = self._band_raw(new_df).localCheckpoint(eager=True)
        self._pending = (new_df, bands)
        return bands

    def flag(self, new_df: DataFrame) -> DataFrame:
        """(id, matched_corpus_id, is_near_dup) for every doc of the
        batch, against the CURRENT index (docs absorbed so far). The
        batch's band rows materialize eagerly at this call (one job) and
        are reused verbatim by a following ``absorb(new_df)`` — the
        signature pass runs once per batch, not once per step."""
        new_bands = self._batch_bands(new_df).select(
            F.col("_cid").alias(self.id_col), "band_idx", "band_hash"
        )
        flagged = (
            new_bands.join(self._state.view(), ["band_idx", "band_hash"], "left")
            .groupBy(self.id_col)
            .agg(F.min("_cid").alias("matched_corpus_id"))
        )
        return flagged.select(
            F.col(self.id_col),
            F.col("matched_corpus_id"),
            F.col("matched_corpus_id").isNotNull().cast("int").alias("is_near_dup"),
        )

    def absorb(self, new_df: DataFrame) -> None:
        """Fold the batch's band buckets into the index — O(batch): only
        the batch is signed, min-reduced, and checkpointed; the tiered
        state's geometric cascade bounds tier count and releases every
        superseded checkpoint once its merge materialized. Reuses
        (and consumes) the band rows a preceding ``flag(new_df)`` on the
        same frame already materialized."""
        from etl_file_loader_spark.operators.cache import release_local_checkpoint

        bands = self._batch_bands(new_df)
        self._state.absorb(bands)
        # the state's fold checkpointed its own copy inside absorb —
        # the batch bands are consumed; free them now
        release_local_checkpoint(bands)
        self._pending = None

    def index_frame(self) -> DataFrame:
        """The fully-folded (band_idx, band_hash, _cid) index — one row
        per bucket across all tiers. Lazy; the save/export shape."""
        return self._state.compacted()

    _frame = index_frame

    def release(self) -> None:
        """Free the index's block-manager state (all tiers, plus any
        pending batch bands a flag() left for its absorb); the object
        is unusable afterwards."""
        from etl_file_loader_spark.operators.cache import release_local_checkpoint

        if self._pending is not None:
            release_local_checkpoint(self._pending[1])
            self._pending = None
        self._state.release()


def semantic_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    num_bands: int = 8,
    planes_per_band: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """Embedding-level benchmark decontamination: corpus rows whose vector
    is within cosine >= threshold of ANY benchmark vector — the semantic
    counterpart of the n-gram ``contamination`` op (paraphrased test-set
    leakage that shares no exact n-grams).

    Cross-frame banded LSH: the hyperplanes are data-independent
    (md5-derived), so both frames band identically and candidates meet on
    a (band, bucket) equi-join restricted to cross-side pairs. The bench
    side is benchmark-sized (broadcast); the corpus side is one banding
    pass + a bucket join — the corpus never self-joins and never shuffles
    its vectors. Candidates rescore with the Arrow einsum dot.

    Output: (id, max_cosine, n_bench_hits) for contaminated corpus rows.
    Recall follows the banding model (1-(1-p^r)^b); gate it like the other
    approximate paths.
    """
    from etl_file_loader_spark.operators.similarity import (
        dot_vectorized,
        hyperplane_lsh_bands,
        norm,
    )

    cb = hyperplane_lsh_bands(corpus, id_col, vec_col, num_bands, planes_per_band).select(
        F.col(id_col).alias("_cid"), "band", "bucket"
    )
    bb = hyperplane_lsh_bands(bench, id_col, vec_col, num_bands, planes_per_band).select(
        F.col(id_col).alias("_bid"), "band", "bucket"
    )
    cand = cb.join(F.broadcast(bb), ["band", "bucket"]).select("_cid", "_bid").distinct()
    cv = corpus.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cv"),
        norm(F.col(vec_col)).alias("_cn"),
    )
    bv = bench.select(
        F.col(id_col).alias("_bid"),
        F.col(vec_col).alias("_bv"),
        norm(F.col(vec_col)).alias("_bn"),
    )
    scored = (
        cand.join(cv, "_cid")
        .join(F.broadcast(bv), "_bid")
        .select(
            "_cid",
            F.round(
                dot_vectorized(F.col("_cv"), F.col("_bv")) / (F.col("_cn") * F.col("_bn")),
                round_to,
            ).alias("cosine"),
        )
    )
    return (
        scored.filter(F.col("cosine") >= threshold)
        .groupBy("_cid")
        .agg(
            F.max("cosine").alias("max_cosine"),
            F.count(F.lit(1)).cast("long").alias("n_bench_hits"),
        )
        .select(F.col("_cid").alias(id_col), "max_cosine", "n_bench_hits")
    )


# ---------------------------------------------------------------------------
# fuzzy record matching: exact edit-distance joins, PassJoin
# ---------------------------------------------------------------------------


def _pj_base(df: DataFrame, id_col: str, str_col: str) -> DataFrame:
    """Lowered (id, string, length) frame for the PassJoin operators,
    spread across the cluster BEFORE the fan-out join: a small input (one
    parquet file, a union of two scans) otherwise enters the broadcast
    join with 1-2 partitions and the 100M+-row candidate loop runs on as
    many cores (measured at sf0.1: 136 s at 2 partitions -> 19 s at 32).
    Guarded so an already-well-partitioned corpus (the cluster case) is
    never reshuffled just to hit a number."""
    from etl_file_loader_spark.operators.skew import fan_out_scan

    s = F.lower(F.col(str_col))
    slim = df.select(
        F.col(id_col).alias("_id"), s.alias("_s"), F.length(s).alias("_l")
    )
    # memoized split probe (fan_out_scan): the raw .rdd probe ran full
    # query planning per call, ~0.4 s of driver time
    return fan_out_scan(slim)


def _pj_seg_len(La: Column, i: int, k: int) -> Column:
    """Length of segment i of a length-La string: base = La div k, the
    first (La mod k) segments take one extra char."""
    return (
        F.floor(La / k) + F.when(F.lit(i) < F.pmod(La, k), 1).otherwise(0)
    ).cast("int")


def _pj_seg_start(La: Column, i: int, k: int) -> Column:
    """0-based start of segment i: i * (La div k) + min(i, La mod k)."""
    return (
        F.lit(i) * F.floor(La / k) + F.least(F.lit(i), F.pmod(La, k))
    ).cast("int")


def _pj_segments(
    base: DataFrame, k: int, id_alias: str, str_alias: str,
    split: bool = True,
) -> DataFrame:
    """Indexed side: the k segments of every record with len >= k, keyed
    (segment, length, ordinal). With ``split=True`` each segment row
    carries the LEFT and RIGHT remainders (``<str_alias>l`` /
    ``<str_alias>r`` — the string around the segment) instead of the
    whole string: the split verification (:func:`_pj_split_verify`)
    compares remainders only, and slicing them HERE costs one substr per
    segment row (O(k) per record) instead of one per candidate meeting
    (the meeting-side substrs measured as large as the banded verify
    itself). With ``split=False`` the row carries the whole
    string for the classic full banded verify — the cheaper-to-PLAN
    shape the per-tier/per-feed link paths use (see _rs_probe)."""
    if split:
        fields = lambda i: [  # noqa: E731
            F.substring(
                F.col("_s"), 1, _pj_seg_start(F.col("_l"), i, k)
            ).alias("_rem_l"),
            F.substring(
                F.col("_s"),
                _pj_seg_start(F.col("_l"), i, k)
                + _pj_seg_len(F.col("_l"), i, k)
                + 1,
                F.col("_l"),
            ).alias("_rem_r"),
        ]
        out_cols = [
            F.col("_g._rem_l").alias(f"{str_alias}l"),
            F.col("_g._rem_r").alias(f"{str_alias}r"),
        ]
        head: list = []
    else:
        fields = lambda i: []  # noqa: E731
        out_cols = []
        head = [F.col("_s").alias(str_alias)]
    return (
        base.filter(F.col("_l") >= k)
        .select(
            F.col("_id").alias(id_alias),
            *head,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.col("_l").cast("int").alias("_la"),
                            F.lit(i).alias("_i"),
                            F.substring(
                                F.col("_s"),
                                _pj_seg_start(F.col("_l"), i, k) + 1,
                                _pj_seg_len(F.col("_l"), i, k),
                            ).alias("_seg"),
                            *fields(i),
                        )
                        for i in range(k)
                    ]
                )
            ).alias("_g"),
        )
        .select(
            id_alias,
            *([str_alias] if not split else []),
            "_g._la",
            "_g._i",
            "_g._seg",
            *out_cols,
        )
    )


def _pj_substrings(
    base: DataFrame,
    d: int,
    include_longer: bool,
    id_alias: str,
    str_alias: str,
    split: bool = True,
) -> DataFrame:
    """Probe side: multi-match-aware substrings (Li et al. 2011, Lemma 3)
    toward every partner length La in [max(k, Lb-d), Lb] (self-join: the
    probe-from-the-longer halving) or [max(k, Lb-d), Lb+d] when
    ``include_longer`` (the R-S join, where partners on both sides of the
    length window must be reachable from the one probe direction). Each
    substring is tagged with the exact (La, i) its window was derived
    for, so the downstream equi-join IS the position filter. Like
    :func:`_pj_segments`, ``split=True`` makes every generated substring
    row carry its LEFT and RIGHT remainders (``<str_alias>l`` /
    ``<str_alias>r``) sliced once at generation for the split
    verification; ``split=False`` carries the whole string
    for the classic full banded verify."""
    k = d + 1
    up = d if include_longer else 0
    _empty = (
        "array<struct<_la:int,_i:int,_seg:string,"
        "_rem_l:string,_rem_r:string>>"
        if split
        else "array<struct<_la:int,_i:int,_seg:string>>"
    )

    def _subs_for_i(i: int) -> Column:
        # closure factory, not default args: PySpark HOFs dispatch on the
        # lambda's parameter count
        def per_la(La: Column) -> Column:
            La = La.cast("int")
            l_i = _pj_seg_len(La, i, k)
            p_i = _pj_seg_start(La, i, k)
            delta = F.col("_l").cast("int") - La
            lo = F.greatest(
                F.lit(0), p_i - F.lit(i), p_i + delta - F.lit(d - i)
            ).cast("int")
            hi = F.least(
                F.col("_l").cast("int") - l_i,
                p_i + F.lit(i),
                p_i + delta + F.lit(d - i),
            ).cast("int")

            def per_pos(pos: Column) -> Column:
                extra = (
                    [
                        F.substring(F.col("_s"), 1, pos).alias("_rem_l"),
                        F.substring(
                            F.col("_s"), pos + l_i + 1, F.col("_l")
                        ).alias("_rem_r"),
                    ]
                    if split
                    else []
                )
                return F.struct(
                    La.alias("_la"),
                    F.lit(i).alias("_i"),
                    F.substring(F.col("_s"), pos + 1, l_i).alias("_seg"),
                    *extra,
                )

            return F.when(
                hi >= lo, F.transform(F.sequence(lo, hi), per_pos)
            ).otherwise(F.array().cast(_empty))

        return F.flatten(
            F.transform(
                F.sequence(
                    F.greatest(F.lit(k), F.col("_l").cast("int") - d),
                    F.col("_l").cast("int") + up,
                ),
                per_la,
            )
        )

    out_cols = (
        [
            F.col("_g._rem_l").alias(f"{str_alias}l"),
            F.col("_g._rem_r").alias(f"{str_alias}r"),
        ]
        if split
        else []
    )
    # the La sequence must ascend: Lb + up >= k  <=>  Lb >= k - up
    return (
        base.filter(F.col("_l") >= k - up)
        .select(
            F.col("_id").alias(id_alias),
            *([] if split else [F.col("_s").alias(str_alias)]),
            F.explode(F.concat(*[_subs_for_i(i) for i in range(k)])).alias(
                "_g"
            ),
        )
        .select(
            id_alias,
            *([] if split else [str_alias]),
            "_g._la",
            "_g._i",
            "_g._seg",
            *out_cols,
        )
    )


def _pj_split_verify(
    cand: DataFrame, sa: str, sb: str, d: int
) -> DataFrame:
    """EXTENSION-BASED verification (PassJoin, Li et al. 2011 §5) for one
    candidate meeting of the (segment, La, i) equi-join, in place of the
    full banded ``levenshtein(sa, sb, d)`` per meeting. The meeting says: segment ``_i`` of the indexed string
    (length ``_la``) occurs VERBATIM in the probe string at a window
    position. The matched block contributes 0 edits, so only the
    REMAINDERS need verifying — both sides arrive pre-sliced from
    generation (``{sa}l``/``{sa}r`` around the segment, ``{sb}l``/
    ``{sb}r`` around the matched substring; slicing per exploded row is
    O(segments + substrings), never per meeting): the left remainders
    verify against threshold ``i`` and the right against ``d - i``:

    - if either banded distance exceeds its budget, or their sum exceeds
      ``d``, this MEETING proves nothing — the pair may still qualify
      via another meeting;
    - Lemma (exactness of min-over-meetings): for an optimal transcript
      of cost ``c <= d``, walk ``L_j - j`` (edits strictly left of
      segment j, minus j) from 0 down to ``c - d - 1``; every -1 step is
      an untouched segment, so some untouched segment ``i`` has exactly
      ``L_i = c - d + i`` <= i left edits and ``d - i`` right edits, its
      window position is generated (the same windows that make candidate
      generation lossless), and at that meeting
      ``ld + rd <= L_i + R_i = c`` while ``ld + rd >= ed(sa, sb) = c``
      always (transcript concatenation) — so the meeting yields exactly
      ``c``, and no meeting of any pair can yield less than the true
      distance. Aggregating ``min(distance)`` per pair therefore equals
      the full-string levenshtein, while each meeting now verifies two
      SHORTER strings under TIGHTER thresholds (i=0/i=d degenerate to an
      empty side — the window pins ``_sp`` so the left/right remainders
      are both empty — leaving ONE banded pass over the non-segment
      remainder instead of a (2d+1)-wide band over the whole strings;
      mismatching meetings exit their narrower band far earlier, and
      ~3/4 of meetings mismatch on this workload).

    Cost per meeting (d=2, ~35-char part names, measured shape): the old
    full verify walks a 5-wide band over the whole string (~175 cells);
    the split walks a (2i+1)-band over the left remainder plus a
    (2(d-i)+1)-band over the right (~70-115 cells), of strings the
    equi-join already co-located — no extra shuffle, same stage.

    SINGLE-EVALUATION shape (this matters more than the band math): the
    downstream ``filter`` on ``_dist`` is pushed into the candidate
    join's non-equi condition, and join-condition codegen performs NO
    subexpression elimination — a first cut that wrote
    ``when(ld>=0 & rd>=0 & ld+rd<=d, ld+rd)`` inlined each banded
    levenshtein FIVE times into the condition and measured 10x the
    baseline's verify CPU. So the failure sentinel is encoded
    arithmetically instead of conditionally: each branch wraps its
    banded call as ``pmod(levenshtein(l, r, t), BIG)`` — a failed band
    (-1) becomes BIG-1 while in-band values pass through — and
    ``_dist = ld + rd`` is in [0, d] iff both sides verified and the sum
    is within distance. The consumer's whole filter is ``_dist <= d``:
    ONE reference to ``_dist``, one evaluation of each levenshtein in
    the pushed condition (the survivor projection re-evaluates once
    more, same as the full-verify shape).
    """
    big = 1 << 20  # failure sentinel: far above any max_distance
    i_col = F.col("_i")
    left_a, right_a = F.col(f"{sa}l"), F.col(f"{sa}r")
    left_b, right_b = F.col(f"{sb}l"), F.col(f"{sb}r")
    # levenshtein's threshold must be a literal: CASE over the d+1
    # ordinals. i=0 pins the window so both left remainders are empty;
    # i=d pins it so both right remainders are empty — those branches
    # are literal 0.
    ld: Column = F.lit(0)
    for j in range(d, 0, -1):
        ld = F.when(
            i_col == j,
            F.pmod(F.levenshtein(left_a, left_b, j), F.lit(big)),
        ).otherwise(ld)
    rd: Column = F.lit(0)
    for j in range(d - 1, -1, -1):
        rd = F.when(
            i_col == j,
            F.pmod(F.levenshtein(right_a, right_b, d - j), F.lit(big)),
        ).otherwise(rd)
    return cand.withColumn("_dist", ld + rd)


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
    split: bool = True,
) -> DataFrame:
    """Exact edit-distance R-S join (record linkage across TWO tables —
    match a dirty feed against a master table) with the same PassJoin
    machinery as :func:`edit_distance_pairs`: segments indexed over the
    LEFT table, multi-match-aware substrings probed from the RIGHT toward
    every left length in [Lb-d, Lb+d] (both window directions, since the
    R-S join has no probe-from-the-longer symmetry to exploit), banded
    levenshtein fused into the (segment, La, i) equi-join, and a tiny
    cross bucket for left records too short to segment (len <= 2d; their
    partners are <= 3d long). Lossless — the suite oracle computes the
    all-pairs R x S answer. Strings are lowercased for matching. Returns
    (left_id, right_id, distance), one row per matched pair.

    100 TB shape: identical to the self-join (O(d^2) probe keys per
    record, candidates never shuffled, shuffle ∝ verified matches), with
    the master table's segments built once — the incremental-linkage loop
    reuses them against each arriving feed.
    """
    d = max_distance
    if d < 1:
        raise ValueError("max_distance must be >= 1")
    lbase = pin(_pj_base(left, left_id, left_col))
    segs = _pj_segments(lbase, d + 1, "_lid", "_sl", split=split)
    return _rs_probe(
        lbase, segs, d, right, left_id, right_id, right_col, split=split
    )


def _rs_probe(
    lbase: DataFrame,
    segs: DataFrame,
    d: int,
    right: DataFrame,
    left_id: str,
    right_id: str,
    right_col: str,
    split: bool = True,
) -> DataFrame:
    """Probe a feed against a PREBUILT master base/segment pair — the
    shared core of :func:`edit_distance_join` (one-shot) and
    :class:`LinkageIndex` (standing master, many feeds).

    ``split`` picks the verification shape — MEASURED both ways (round
    15): the split verify cuts the verify stage's CPU ~28% on a big
    one-shot probe (it is what the probe cost is made of there), but its
    larger generator/verify expression trees cost ~+0.2 s of
    plan+codegen PER LINK CALL, which dominates the tiered/incremental
    link paths (many small probes per rep: fuzzy_link_best/tiers/
    incremental measured 13-23% slower warm with split=True). One-shot
    callers pass True; LinkageIndex's standing-master paths pass False.
    Both shapes are exact (the oracle pins them); `segs` must be built
    with the SAME ``split`` flag."""
    rbase = pin(_pj_base(right, right_id, right_col))
    subs = _pj_substrings(
        rbase, d, include_longer=True, id_alias="_rid", str_alias="_sr",
        split=split,
    )
    if split:
        matched = _pj_split_verify(
            segs.join(subs, ["_la", "_i", "_seg"]), "_sl", "_sr", d
        )
    else:
        matched = segs.join(subs, ["_la", "_i", "_seg"]).withColumn(
            "_dist", F.pmod(F.levenshtein(F.col("_sl"), F.col("_sr"), d),
                            F.lit(1 << 20))
        )
    matched = (
        matched.filter(F.col("_dist") <= d)
        .select(
            F.col("_lid").alias(left_id),
            F.col("_rid").alias(right_id),
            F.col("_dist").alias("distance"),
        )
    )
    tiny_l = lbase.filter(F.col("_l") <= 2 * d).select(
        F.col("_id").alias("_lid"), F.col("_s").alias("_sl")
    )
    tiny_r = rbase.filter(F.col("_l") <= 3 * d).select(
        F.col("_id").alias("_rid"), F.col("_s").alias("_sr")
    )
    tiny_matched = (
        tiny_l.crossJoin(tiny_r)
        .withColumn("_dist", F.levenshtein(F.col("_sl"), F.col("_sr"), d))
        .filter(F.col("_dist") >= 0)
        .select(
            F.col("_lid").alias(left_id),
            F.col("_rid").alias(right_id),
            F.col("_dist").alias("distance"),
        )
    )
    # min over meetings = exact distance (see _pj_split_verify's lemma);
    # the tiny path's full levenshtein is exact and never below the sums
    return (
        matched.unionAll(tiny_matched)
        .groupBy(left_id, right_id)
        .agg(F.min("distance").alias("distance"))
    )


class LinkageIndex(MaintainedIndex):
    """Standing-master incremental record linkage: build the master's
    lowered PassJoin base ONCE, then link every arriving feed against it
    without re-scanning, re-lowering, or re-spreading the master — the
    production entity-resolution shape (a large, slowly-changing master;
    a stream of dirty feed files). ``edit_distance_join`` rebuilds the
    master side per call; over F feeds and T escalation tiers that is
    F*T master scans, all but one redundant.

    What to pin is MEASURED, not assumed (NOTES_r11 §7b, sf10 2M-row
    master, 4 feeds, warm): pinning only the base beats pinning the
    per-tier SEGMENT tables too (36.1 s vs 37.8 s vs 39.3 s per-feed
    rebuild) — a cached exploded-segment table pays memory-format
    serialization and breaks the codegen fusion that otherwise pipelines
    segment generation straight into the candidate join, so segments are
    recomputed per link from the cached base (a cheap projection). The
    same experiment explains the modest local win: on localhost the
    master scan is a small share of link cost; at cluster scale — where
    re-scanning a 100 TB master F*T times is the dominating term — the
    base would be WRITTEN once (parquet, bucketed) and the win grows
    with master size. The pinned frames route through the operator cache
    registry: call :meth:`release` (or the batch driver's
    ``release_operator_caches()``) when the master changes.

    ``link`` returns all pairs within ``max_distance`` (identical to
    ``edit_distance_join`` — same ``fuzzy_join_feed``-shape all-pairs
    answer); ``link_best`` returns the tiered top-1 resolution
    (identical to ``link_best_match(tiered=True)``), with every tier's
    master-side work served from the standing base.

    The master can GROW without a rebuild: :meth:`absorb` lowers ONLY
    the newly-arrived entities into TieredState extension tiers
    (O(batch) per absorb, geometric cascade bounding tier count; the
    seed base stays pinned untouched), and every link thereafter probes
    seed ∪ extensions. Links after absorbing B equal links from an index
    rebuilt over master ∪ B — pinned by test and by the
    ``fuzzy_link_absorb`` suite oracle (the candidate structure is a
    pure function of the lowered rows, so absorption is unobservable).

    ``save``/``load`` (operators/persist.py) write the lowered base with
    the absorbed tiers folded in, so the master is scanned and lowered
    once per master version across sessions. A restored base gets the
    parallelism spread guard again (a single-file parquet would
    otherwise enter the fan-out join on 1-2 partitions — the measured
    136s-vs-19s hazard _pj_base exists to prevent) and is pinned.
    """

    PARAMS = ("master_id", "master_col", "max_distance")

    def __init__(
        self,
        master: DataFrame,
        master_id: str,
        master_col: str,
        max_distance: int = 2,
    ):
        if max_distance < 1:
            raise ValueError("max_distance must be >= 1")
        self.master_id = master_id
        self.master_col = master_col
        self.max_distance = max_distance
        self._lbase = pin(_pj_base(master, master_id, master_col))
        self._extra = None  # TieredState of absorbed master additions

    def _restore(self, frame: DataFrame) -> None:
        from etl_file_loader_spark.operators.skew import fan_out_scan

        self._lbase = pin(fan_out_scan(frame))
        self._extra = None

    def _base_all(self) -> DataFrame:
        """The standing lowered base: the pinned seed master plus any
        absorbed extension tiers. Identical to ``self._lbase`` (same
        object, same plan) until the first :meth:`absorb`."""
        if self._extra is None:
            return self._lbase
        return self._lbase.unionByName(self._extra.view())

    def absorb(self, new_master: DataFrame) -> None:
        """Extend the standing master with newly-arrived entities —
        lowers ONLY the new rows (the maintained-index-family O(batch)
        absorb via TieredState; lowered rows are append-only,
        so the fold is identity like BM25Index's postings). Absorption
        is invisible to answers: link/link_best after absorbing B
        equals rebuilding the index over master ∪ B (pinned by test —
        the candidate structure is a pure function of the lowered
        rows). Exactly-once per master row is the caller's contract
        (a duplicated absorb duplicates its pairs)."""
        from etl_file_loader_spark.operators.tiered import TieredState

        lowered = _pj_base(new_master, self.master_id, self.master_col)
        if self._extra is None:
            self._extra = TieredState.build(lowered)
        else:
            self._extra.absorb(lowered)

    def link(
        self, feed: DataFrame, feed_id: str, feed_col: str,
        max_distance: int | None = None,
        split: bool = True,
    ) -> DataFrame:
        """All (master_id, feed_id, distance) pairs within the tier —
        the standing-master twin of :func:`edit_distance_join`.
        ``split`` as in :func:`edit_distance_join`: True (default) for
        one-shot full-feed links, False for the tiered escalation's
        small remainder probes (see _rs_probe's measured trade)."""
        d = self.max_distance if max_distance is None else max_distance
        if not 1 <= d <= self.max_distance:
            raise ValueError(
                f"max_distance must be in [1, {self.max_distance}], got {d}"
            )
        # segments recomputed per link ON PURPOSE: from the cached base
        # they are a projection that fuses into the candidate join's
        # codegen; caching them measured SLOWER (see class docstring)
        base = self._base_all()
        segs = _pj_segments(base, d + 1, "_lid", "_sl", split=split)
        return _rs_probe(
            base, segs, d, feed, self.master_id, feed_id, feed_col,
            split=split,
        )

    def link_best(
        self, feed: DataFrame, feed_id: str, feed_col: str
    ) -> DataFrame:
        """Tiered top-1 resolution (same contract as
        :func:`link_best_match` with ``tiered=True``) against the
        standing master."""
        w = Window.partitionBy(feed_id).orderBy(
            F.col("distance"), F.col(self.master_id)
        )

        def _best(pairs: DataFrame) -> DataFrame:
            return (
                pairs.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select(feed_id, self.master_id, "distance")
            )

        resolved: list[DataFrame] = []
        unresolved = feed
        for d in range(0, self.max_distance + 1):
            # early exit: a drained tier would still pay the
            # master-side segment projection over the full standing base —
            # see link_best_match; the remainder probe is one limit(1)
            if d > 0 and not unresolved.limit(1).take(1):
                break
            if d == 0:
                r0 = unresolved.select(
                    F.col(feed_id), F.lower(F.col(feed_col)).alias("_k")
                )
                exact = self._base_all().select(
                    F.col("_id").alias(self.master_id), F.col("_s").alias("_k")
                )
                tier_pairs = r0.join(exact, "_k").select(
                    feed_id, self.master_id, F.lit(0).cast("int").alias("distance")
                )
            else:
                # split=False: small per-tier remainder probes (see
                # _rs_probe's measured trade)
                tier_pairs = self.link(
                    unresolved, feed_id, feed_col, d, split=False
                )
            # registered for release between workloads (same rationale
            # as link_best_match's tier checkpoints)
            tier_best = pin_checkpoint(_best(tier_pairs).localCheckpoint(eager=True))
            resolved.append(tier_best)
            unresolved = unresolved.join(
                tier_best.select(feed_id), feed_id, "left_anti"
            )
        out = resolved[0]
        for part in resolved[1:]:
            out = out.unionByName(part)
        return out

    def release(self) -> None:
        """Unpersist the standing base (also covered by
        ``release_operator_caches()``) and any absorbed tiers."""
        try:
            self._lbase.unpersist()
        except Exception:
            pass
        if self._extra is not None:
            self._extra.release()
            self._extra = None

    _frame = _base_all


def jaccard_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.5,
    candidate_budget_per_doc: int = 4_000,
) -> DataFrame:
    """Self-tuning exact Jaccard self-join: MEASURE the corpus, then
    dispatch to whichever lossless path wins on its shape. The decision
    statistic is the inverted-index join's candidate-row count,
    ``sum over shingles of freq^2`` (one bounded aggregation — exactly
    the rows that join would push through its pair groupBy); per doc it
    separates the two regimes by ~two orders of magnitude on measured
    corpora (NOTES_r10 §4/§12: 55-556 candidates/doc on hot-shingle-free
    corpora, where the plain inverted join wins ~1.5x, vs 45k-454k/doc
    on boilerplate-heavy ones, where it loses 6.7x and then never
    finishes). Over budget -> :func:`jaccard_join_prefix` (rare-prefix
    candidates); under -> :func:`ngram_jaccard_pairs` (no frequency
    table, no per-doc sort). Both are exact, so the result — and the
    suite oracle — is path-independent; the probe costs one shingle
    aggregation and a 1-row collect before either path runs.
    """
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {t}")
    # pin the input: the eager probe collect below materializes df once,
    # and the chosen join path then reads the SAME cached frame instead of
    # recomputing df's lineage (inside CurationPipeline that lineage is
    # the un-barriered upstream filter stages — ADVICE r10 measured the
    # double execution). The pin routes through the operator cache
    # registry so bench/suite drivers release it between workloads.
    df = pin(df)
    sh = _ppjoin_sets(df, id_col, text_col, n)
    probe = (
        sh.groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(
            F.sum(F.col("_c") * F.col("_c")).alias("_c2"),
        )
        .crossJoin(df.agg(F.count(F.lit(1)).alias("_docs")))
        .collect()[0]
    )
    c2, docs = int(probe["_c2"] or 0), int(probe["_docs"] or 0)
    use_prefix = docs > 0 and c2 > candidate_budget_per_doc * docs
    logger.info(
        "jaccard_pairs_auto: sum_freq2=%d docs=%d (%.0f/doc, budget %d) -> %s",
        c2, docs, c2 / max(docs, 1), candidate_budget_per_doc,
        "prefix" if use_prefix else "inverted",
    )
    out = (
        jaccard_join_prefix(df, id_col, text_col, n, t)
        if use_prefix
        else ngram_jaccard_pairs(df, id_col, text_col, n, t)
    )
    return out.select(
        "id_a",
        "id_b",
        F.col("intersection").cast("long").alias("intersection"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        "jaccard",
    )


def link_best_match(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_col: str,
    right_col: str,
    max_distance: int = 2,
    tiered: bool = True,
) -> DataFrame:
    """Feed-to-master RESOLUTION on top of :func:`edit_distance_join` —
    the last step of the record-linkage workflow: for every feed (right)
    record with at least one master within ``max_distance``, keep the
    single best match (min distance, ties to the smallest master id,
    both deterministic so the row is oracle-checkable). Feed records
    with no match within distance simply don't appear — the caller's
    anti-join finds the unmatched remainder. Returns
    (right_id, left_id, distance), one row per matched feed record.

    ``tiered=True`` (the standard ER escalation) resolves feed records at
    the CHEAPEST sufficient threshold: d=0 is a plain lowercase equi-join
    (no segments, no levenshtein), and only the still-unresolved
    remainder escalates to the d=1 then d=2 PassJoin. The result is
    IDENTICAL to the single-shot join by construction — a record resolved
    at tier d has its global minimum distance d (it had no match at any
    smaller tier), and the within-tier row_number applies the same
    (distance, master-id) tiebreak — so the ``fuzzy_link_best`` oracle is
    path-independent. On mostly-clean feeds (real-world linkage: most
    records match exactly or at one edit) this skips the expensive
    top-tier substring fan-out for the bulk of the feed; the per-tier
    resolution counts are themselves oracle-checked by
    ``fuzzy_link_tiers``. Each tier's top-1 frame is localCheckpoint-ed:
    it feeds both the result union and the next tier's anti-join, and an
    un-barriered lineage would re-run every earlier tier's join once per
    downstream consumer.

    100 TB shape: the pair join's shuffle ∝ verified matches; the top-1
    is a WindowGroupLimit over the feed key (rank pushdown keeps only
    one row per group before the final sort); tiering additionally makes
    verify work ∝ the DIRTY fraction of the feed, not its size."""
    w = Window.partitionBy(right_id).orderBy(F.col("distance"), F.col(left_id))

    def _best(pairs: DataFrame) -> DataFrame:
        return (
            pairs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(right_id, left_id, "distance")
        )

    if not tiered:
        return _best(
            edit_distance_join(
                left, right, left_id, right_id, left_col, right_col, max_distance
            )
        )

    l0 = left.select(F.col(left_id), F.lower(F.col(left_col)).alias("_k"))
    resolved: list[DataFrame] = []
    unresolved = right
    for d in range(0, max_distance + 1):
        # early exit: every escalation tier pays the MASTER-side
        # segment generation over the full left table even when nothing is
        # left to resolve — measured at sf10 (2M master) a drained d=2 tier
        # still cost a full-master segment scan. One cheap remainder probe
        # per tier (limit(1) on an anti-joined frame) skips the rest; the
        # result is identical (an empty tier contributes no rows).
        if d > 0 and not unresolved.limit(1).take(1):
            break
        if d == 0:
            r0 = unresolved.select(
                F.col(right_id), F.lower(F.col(right_col)).alias("_k")
            )
            tier_pairs = r0.join(l0, "_k").select(
                right_id, left_id, F.lit(0).cast("int").alias("distance")
            )
        else:
            # split=False: each escalation tier is a SMALL probe (the
            # still-unresolved remainder), where the split verify's
            # per-call plan+codegen cost exceeds its per-meeting savings
            # (measured — see _rs_probe's docstring)
            tier_pairs = edit_distance_join(
                left, unresolved, left_id, right_id, left_col, right_col,
                d, split=False,
            )
        # per-tier checkpoints are registered for release: checkpoint
        # entries are strong-referenced by SparkContext until an explicit
        # RDD unpersist, so a session composing many link calls would
        # otherwise accumulate one dead block set per tier per call —
        # release_operator_caches() frees them between workloads
        tier_best = pin_checkpoint(_best(tier_pairs).localCheckpoint(eager=True))
        resolved.append(tier_best)
        unresolved = unresolved.join(
            tier_best.select(right_id), right_id, "left_anti"
        )
    out = resolved[0]
    for part in resolved[1:]:
        out = out.unionByName(part)
    return out


def edit_distance_pairs(
    df: DataFrame, id_col: str, str_col: str, max_distance: int = 2
) -> DataFrame:
    """Exact edit-distance self-join (entity resolution / fuzzy record
    dedup) without the n² cross join — the PassJoin segment-pigeonhole
    (Li et al. 2011): partition each string into ``d+1`` contiguous
    segments; if ``ed(a, b) <= d`` then at most d segments are touched by
    an edit, so b contains at least one of a's segments VERBATIM, at a
    position shifted by at most d. Candidates therefore meet on a plain
    segment-string equi-join (shuffle ∝ segments + substrings of the
    corpus, never pairs), a position/length window prunes them, and exact
    ``levenshtein`` verifies — the result is EXACTLY the all-pairs answer
    (the suite oracle computes the all-pairs answer in SQL and they must
    match), never a recall trade.

    Strings are lowercased for matching. Records with ``len <= 2d`` take
    a single tiny cross bucket (their segments could be empty; any
    partner within d is itself ``<= 3d`` long), records longer than d go
    through the segment path — the two overlap on purpose and pairs
    dedupe. Returns (id_a, id_b, distance) with id_a < id_b.

    The candidate join uses the paper's two volume refinements in full:

    - **probe-from-the-longer**: substrings are generated only toward
      partner lengths ``La <= Lb`` (the pigeonhole holds for either fixed
      direction, so one suffices; equal lengths meet from both sides and
      dedupe) — (d+1) target lengths per record instead of (2d+1);
    - **multi-match-aware selection** (Li et al. 2011, Lemma 3): a
      substring of b can match segment i of a length-La partner only if
      its start s satisfies ``|s - p_i| <= i`` (at most i edits may fall
      left of segment i) and ``|s - p_i - (Lb-La)| <= d-i`` (at most d-i
      to its right), so each (La, i) contributes at most
      ``min(2i, 2(d-i)) + 1`` starts — and the join key carries
      ``(segment_string, La, i)``, so a hot segment string only meets
      partners of the exact length/ordinal its window was derived for.

    100 TB shape: substring generation is O(d^2) keys per record
    (constant, never per-char), the equi-join shuffles on
    (segment, La, i), and levenshtein runs only on survivors. Candidate
    volume still sums bucket-size PRODUCTS over join-key values, but the
    (La, i)-qualified key keeps buckets small even on low-entropy corpora
    (TPC-H part names: "red bolt " opens 300+ names under a bare-substring
    key, but only same-length, same-ordinal, window-aligned partners
    here) — measured at sf0.1 the full 20k-part self-join went from
    216.8 s (bare-substring key, r9) to 19.1 s, bounded below by its own
    8.79M-pair ANSWER (this corpus averages ~330 true partners per
    record; NOTES_r10 §2 has the stage accounting). On high-entropy keys
    (names, addresses, titles) buckets are near-unique and the join is
    effectively linear. This is the classic scalable EXACT fuzzy join —
    blocking-with-recall variants (soundex, first-k) are strictly weaker.

    The lowered base table is pinned through
    :mod:`etl_file_loader_spark.operators.cache` — long-lived sessions
    call ``release_operator_caches()`` after materializing the result.
    """
    d = max_distance
    if d < 1:
        raise ValueError("max_distance must be >= 1")
    k = d + 1
    base = pin(_pj_base(df, id_col, str_col))
    segs = _pj_segments(base, k, "_aid", "_sa")
    # probe-from-the-longer: substrings only toward La <= Lb
    subs = _pj_substrings(base, d, include_longer=False, id_alias="_bid",
                          str_alias="_sb")

    # the (segment, La, i) equi-join IS the position filter (windows were
    # enforced at generation), and the SPLIT verification (extension-based,
    # _pj_split_verify: left remainder vs threshold i + right remainder vs
    # d-i) runs INSIDE the join's codegen stage — raw candidates are never
    # shuffled; only verified meetings reach the per-pair min. On the
    # sf0.1 low-entropy workload this is the difference between shuffling
    # 140M candidate rows and shuffling the ~2x-duplicated true answer.
    matched = (
        _pj_split_verify(
            segs.join(subs, ["_la", "_i", "_seg"]).filter(
                F.col("_aid") != F.col("_bid")
            ),
            "_sa",
            "_sb",
            d,
        )
        .filter(F.col("_dist") <= d)
        .select(
            F.least(F.col("_aid"), F.col("_bid")).alias("id_a"),
            F.greatest(F.col("_aid"), F.col("_bid")).alias("id_b"),
            F.col("_dist").alias("distance"),
        )
    )
    # tiny-string bucket: segments can be empty below L = k; partners sit
    # within d chars, so the whole bucket is <= 3d-long strings
    tiny = base.filter(F.col("_l") <= 2 * d).select(
        F.col("_id").alias("_aid"), F.col("_s").alias("_sa")
    )
    tiny_partners = base.filter(F.col("_l") <= 3 * d).select(
        F.col("_id").alias("_bid"), F.col("_s").alias("_sb")
    )
    tiny_matched = (
        tiny.crossJoin(tiny_partners)
        .filter(F.col("_aid") != F.col("_bid"))
        .withColumn("_dist", F.levenshtein(F.col("_sa"), F.col("_sb"), d))
        .filter(F.col("_dist") >= 0)
        .select(
            F.least(F.col("_aid"), F.col("_bid")).alias("id_a"),
            F.greatest(F.col("_aid"), F.col("_bid")).alias("id_b"),
            F.col("_dist").alias("distance"),
        )
    )
    # min over meetings = exact distance (see _pj_split_verify's lemma);
    # the tiny path's full levenshtein is exact and never below the sums
    return (
        matched.unionAll(tiny_matched)
        .groupBy("id_a", "id_b")
        .agg(F.min("distance").alias("distance"))
    )


def jaccard_join_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-Jaccard self-join with PREFIX FILTERING (the
    PPJoin/AllPairs principle, Chaudhuri et al. 2006 / Xiao et al. 2008)
    — the lossless upgrade over :func:`ngram_jaccard_pairs`' full
    inverted-index join: under one global canonical order (rarest
    shingle first, ties lexicographic), two sets with Jaccard >= t must
    intersect within their PREFIXES of length ``|x| - ceil(t*|x|) + 1``
    (if all of a's matches sat in its suffix, the overlap would be
    < t*|a|, below what J >= t demands; the size filter
    ``t*|a| <= |b| <= |a|/t`` completes the classic argument for
    prefix-vs-prefix). Candidates therefore meet ONLY on each doc's
    rarest few shingles — Zipf-hot boilerplate shingles sit at the BACK
    of the order and never generate candidates, where the plain inverted
    join pays bucket² for exactly those. PPJoin's POSITIONAL filter (see
    :func:`_ppjoin_candidates`) adds to it: each prefix token carries its
    ordinal, and a match prunes when the remaining
    suffixes can't reach the equivalent overlap bound —
    :func:`jaccard_prefix_candidate_stats` accounts the reduction as a
    checked number. Verification computes exact intersections from the
    per-doc sorted sets (one JVM array_intersect per candidate).

    Returns the same shape as :func:`ngram_jaccard_pairs`
    ((id_a, id_b, intersection, size_a, size_b, jaccard), rounded-6
    jaccard >= threshold) and — being lossless — the same ROWS as an
    all-pairs scan, which is exactly what the ``jaccard_join_prefix``
    suite oracle computes in SQL. 100 TB shape: shingle-frequency
    table + per-doc sort (shuffle ∝ shingles), prefix join on rare keys,
    candidate-only verification; at scale the per-doc set arrays are the
    same rows the verify join fetches by id (no driver state).

    MEASURED vs the inverted-index join (NOTES_r10 §4, 32 cores): on a
    boilerplate-heavy corpus (one 13-word footer shared by every doc —
    the web-crawl shape) this is 7.2 s vs 48.5 s at 5k docs (6.7x) and
    15.3 s vs DNF >560 s at 50k docs: the inverted join's hot-shingle
    buckets grow its candidate volume quadratically with corpus size
    while the prefix join's rare keys keep it near the true pair count.
    The honest flip side: on a corpus with NO hot shingles the simple
    inverted join is ~1.5x FASTER (8.4 s vs 12.4 s at 50k docs) — the
    global frequency table + per-doc sort are pure overhead there, so
    prefer :func:`ngram_jaccard_pairs` when a natural block key already
    bounds its buckets.
    """
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {t}")
    per_doc = _ppjoin_per_doc(df, id_col, text_col, n, t)
    cand = _ppjoin_candidates(per_doc, id_col, t, positional=True)
    return _ppjoin_verify(per_doc, cand, id_col, t)


def _ppjoin_sets(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Exploded distinct (id, shingle) rows for the PPJoin operators."""
    return df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("_sh")
    ).distinct()


def _ppjoin_per_doc(
    df: DataFrame, id_col: str, text_col: str, n: int, t: float
) -> DataFrame:
    """The pinned per-doc table: shingle set sorted by the global
    rare-first canonical order, set size, and the lossless prefix."""
    sh = _ppjoin_sets(df, id_col, text_col, n)
    freq = sh.groupBy("_sh").agg(F.count(F.lit(1)).alias("_cnt"))
    return _ppjoin_per_doc_from(sh, id_col, t, freq)


def _ppjoin_per_doc_from(
    sh: DataFrame, id_col: str, t: float, freq: DataFrame
) -> DataFrame:
    """Per-doc sorted-set table under a CALLER-SUPPLIED frequency table —
    the R-S join passes frequencies over the union of both tables so the
    canonical order is one total order shared by every prefix."""
    per_doc = (
        sh.join(freq, "_sh")
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_cnt"), F.col("_sh")))
            ).alias("_ord")
        )
        .select(
            F.col(id_col),
            F.transform(F.col("_ord"), lambda s: s["_sh"]).alias("_set"),
            F.size(F.col("_ord")).alias("_n"),
        )
        .withColumn(
            "_prefix",
            # epsilon-guarded ceil: for thresholds whose double repr sits
            # a hair ABOVE the rational value (e.g. 0.1), t*size can land
            # at n + 1ulp for integral products and ceil would inflate,
            # SHORTENING the prefix below the lossless bound; rounding to
            # 9 decimals first restores integer products exactly
            F.expr(
                f"slice(_set, 1, size(_set) - CAST(ceil(round({t!r} * size(_set), 9)) AS INT) + 1)"
            ),
        )
    )
    return pin(per_doc)


def _ppjoin_candidates(
    per_doc: DataFrame, id_col: str, t: float, positional: bool = True
) -> DataFrame:
    """Distinct candidate pairs from the prefix join; ``positional=True``
    adds PPJoin's positional filter (Xiao et al. 2008 §3): a common
    prefix token at 1-based ordinals (pa, pb) bounds the achievable
    overlap by ``1 + min(|a|-pa, |b|-pb)`` (every other common token
    ranks later in BOTH sorted sets), so a candidate survives only if
    that bound reaches the equivalent overlap threshold
    ``alpha = ceil(t/(1+t) * (|a|+|b|))``. Lossless: for any qualifying
    pair the FIRST common token in the canonical order sits inside both
    prefixes and satisfies the bound, so its join row always survives."""
    pref = per_doc.select(
        F.col(id_col),
        F.col("_n"),
        F.posexplode("_prefix").alias("_pos", "_p"),
    )
    a = pref.select(
        F.col(id_col).alias("id_a"),
        F.col("_n").alias("_na"),
        (F.col("_pos") + 1).alias("_pa"),
        "_p",
    )
    b = pref.select(
        F.col(id_col).alias("id_b"),
        F.col("_n").alias("_nb"),
        (F.col("_pos") + 1).alias("_pb"),
        "_p",
    )
    j = a.join(b, "_p").filter(
        (F.col("id_a") < F.col("id_b"))
        # J >= t is infeasible unless the smaller set covers t of the
        # larger — prunes before the exact verify AND completes the
        # prefix-vs-prefix losslessness argument
        & (
            F.least(F.col("_na"), F.col("_nb")).cast("double")
            >= F.lit(t) * F.greatest(F.col("_na"), F.col("_nb"))
        )
    )
    if positional:
        # same epsilon-guarded ceil as the prefix length (alpha must
        # never ROUND UP past the rational bound, or pairs drop)
        alpha = F.ceil(
            F.round(
                F.lit(t / (1.0 + t)) * (F.col("_na") + F.col("_nb")), 9
            )
        )
        j = j.filter(
            F.lit(1)
            + F.least(
                F.col("_na") - F.col("_pa"), F.col("_nb") - F.col("_pb")
            )
            >= alpha
        )
    return j.select("id_a", "id_b").distinct()


def _ppjoin_verify(
    per_doc: DataFrame, cand: DataFrame, id_col: str, t: float
) -> DataFrame:
    """Exact intersection/jaccard for candidate pairs from the per-doc
    sorted set arrays (one JVM array_intersect per candidate)."""
    sa = per_doc.select(
        F.col(id_col).alias("id_a"),
        F.col("_set").alias("_seta"),
        F.col("_n").alias("size_a"),
    )
    sb = per_doc.select(
        F.col(id_col).alias("id_b"),
        F.col("_set").alias("_setb"),
        F.col("_n").alias("size_b"),
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect(F.col("_seta"), F.col("_setb")))
            .cast("long")
            .alias("intersection"),
            F.col("size_a").cast("long"),
            F.col("size_b").cast("long"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersection")
                / (F.col("size_a") + F.col("size_b") - F.col("intersection")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= t)
    )


def jaccard_prefix_candidate_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate-volume accounting for the PPJoin filters (the house
    density pattern): ONE row (candidates_prefix, candidates_positional,
    verified_pairs). The positional filter is a pure candidate-volume
    optimization — verified_pairs is identical with or without it
    (:func:`jaccard_join_prefix`'s all-pairs oracle pins that); this row
    makes the reduction itself a checked number instead of a claim."""
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {t}")
    per_doc = _ppjoin_per_doc(df, id_col, text_col, n, t)
    prefix_only = _ppjoin_candidates(per_doc, id_col, t, positional=False)
    positional = _ppjoin_candidates(per_doc, id_col, t, positional=True)
    verified = _ppjoin_verify(per_doc, positional, id_col, t)
    return (
        prefix_only.agg(
            F.count(F.lit(1)).cast("long").alias("candidates_prefix")
        )
        .crossJoin(
            positional.agg(
                F.count(F.lit(1)).cast("long").alias("candidates_positional")
            )
        )
        .crossJoin(
            verified.agg(
                F.count(F.lit(1)).cast("long").alias("verified_pairs")
            )
        )
    )


def jaccard_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_col: str,
    right_col: str,
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-Jaccard R-S join (match a feed against a master
    corpus across TWO tables) with the same PPJoin prefix + positional
    filtering as :func:`jaccard_join_prefix`. The one cross-table
    requirement: the canonical rare-first order must be ONE total order
    shared by both sides, so shingle frequencies are counted over the
    UNION of both tables before either prefix is sliced — a prefix
    computed under a per-table order would break the
    first-common-token losslessness argument. Lossless: the suite oracle
    computes the all-pairs left x right answer. Returns
    (id_left, id_right, intersection, size_left, size_right, jaccard).

    100 TB shape: the master side's sorted-set table is buildable once
    and reused across arriving feeds as long as the frequency order is
    refreshed with them (rare shingles stay rare under unions; a stale
    order only costs candidates, never pairs, when prefixes are sliced
    under the SAME order for both sides)."""
    t = float(threshold)
    if not 0.0 < t <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {t}")
    lsh = _ppjoin_sets(
        left.select(
            F.col(left_id).alias("id_left"), F.col(left_col).alias("_txt")
        ),
        "id_left",
        "_txt",
        n,
    )
    rsh = _ppjoin_sets(
        right.select(
            F.col(right_id).alias("id_right"), F.col(right_col).alias("_txt")
        ),
        "id_right",
        "_txt",
        n,
    )
    freq = (
        lsh.select("_sh")
        .unionAll(rsh.select("_sh"))
        .groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    lper = _ppjoin_per_doc_from(lsh, "id_left", t, freq)
    rper = _ppjoin_per_doc_from(rsh, "id_right", t, freq)
    a = lper.select(
        F.col("id_left"),
        F.col("_n").alias("_na"),
        F.posexplode("_prefix").alias("_pos", "_p"),
    ).select("id_left", "_na", (F.col("_pos") + 1).alias("_pa"), "_p")
    b = rper.select(
        F.col("id_right"),
        F.col("_n").alias("_nb"),
        F.posexplode("_prefix").alias("_pos", "_p"),
    ).select("id_right", "_nb", (F.col("_pos") + 1).alias("_pb"), "_p")
    alpha = F.ceil(
        F.round(F.lit(t / (1.0 + t)) * (F.col("_na") + F.col("_nb")), 9)
    )
    cand = (
        a.join(b, "_p")
        .filter(
            (
                F.least(F.col("_na"), F.col("_nb")).cast("double")
                >= F.lit(t) * F.greatest(F.col("_na"), F.col("_nb"))
            )
            & (
                F.lit(1)
                + F.least(
                    F.col("_na") - F.col("_pa"), F.col("_nb") - F.col("_pb")
                )
                >= alpha
            )
        )
        .select("id_left", "id_right")
        .distinct()
    )
    sa = lper.select(
        "id_left", F.col("_set").alias("_seta"), F.col("_n").alias("size_left")
    )
    sb = rper.select(
        "id_right",
        F.col("_set").alias("_setb"),
        F.col("_n").alias("size_right"),
    )
    return (
        cand.join(sa, "id_left")
        .join(sb, "id_right")
        .select(
            "id_left",
            "id_right",
            F.size(F.array_intersect(F.col("_seta"), F.col("_setb")))
            .cast("long")
            .alias("intersection"),
            F.col("size_left").cast("long"),
            F.col("size_right").cast("long"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersection")
                / (
                    F.col("size_left")
                    + F.col("size_right")
                    - F.col("intersection")
                ),
                6,
            ),
        )
        .filter(F.col("jaccard") >= t)
    )
