"""Text analysis: stats, quality/lang, fingerprints, PII, Gopher, decontamination.

Split from the monolithic suite.py (round 4); unit text unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from etl_file_loader_spark.operators import text as text_ops
from etl_file_loader_spark.suite._shared import (
    JAVA_WS,
    ORACLES,
    QUERIES,
    _epoch_snapshot,
    _suite_ckpt_dir,
    _t,
)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in text_ops.EN_STOPWORDS)


_MARKER_SCORES_SQL = ",\n       ".join(
    "len(list_filter(toks, w -> w IN ("
    + ", ".join(f"'{m}'" for m in text_ops.LANG_MARKERS[lang])
    + f"))) AS s_{lang}"
    for lang in sorted(text_ops.LANG_MARKERS)
)


_BEST_SQL = "greatest(" + ", ".join(f"s_{lang}" for lang in sorted(text_ops.LANG_MARKERS)) + ")"


_LANG_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN s_{lang} = {_BEST_SQL} AND {_BEST_SQL} > 0 THEN '{lang}'"
        for lang in sorted(text_ops.LANG_MARKERS)
    )
    + " ELSE 'und' END"
)


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char/subword counts + ratio metrics per document."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text_ops.token_count(t).cast("long").alias("n_tokens"),
        text_ops.subword_estimate(t).alias("n_subwords"),
        F.length(t).cast("long").alias("n_chars"),
        text_ops.stopword_ratio(t).alias("stopword_ratio"),
        text_ops.punct_ratio(t).alias("punct_ratio"),
        text_ops.mean_word_length(t).alias("mean_word_len"),
    )


Q_TEXT_STATS_SQL = rf"""
WITH base AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '{JAVA_WS}') END AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(list_sum(list_transform(toks, w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0) AS BIGINT) AS n_subwords,
       CAST(length(text) AS BIGINT) AS n_chars,
       CASE WHEN len(toks) = 0 THEN 0.0
            ELSE round(len(list_filter(toks, w -> lower(w) IN ({_STOPWORDS_SQL}))) / len(toks), 6) END AS stopword_ratio,
       CASE WHEN length(text) = 0 THEN 0.0
            ELSE round((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) / length(text), 6) END AS punct_ratio,
       CASE WHEN len(toks) = 0 THEN 0.0
            ELSE round(list_sum(list_transform(toks, w -> length(w))) / len(toks), 6) END AS mean_word_len
FROM base ORDER BY doc_id
"""


def q_kn_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram fluency scoring (fixed D = 0.75):
    per-doc mean of ``ln((c-D)/ctx + D*f/ctx*pc/B)`` under the corpus's
    own counts — the KN-smoothed rung of the LM ladder
    (operators/text.py:kn_bigram_logprob). The oracle recomputes the
    identical type-table-derived quantities and the identical
    left-to-right mixture expression."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.kn_bigram_logprob(docs, "doc_id", "text").orderBy("doc_id")


Q_KN_BIGRAM_LOGPROB_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         list_transform(
           CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                ELSE string_split_regex(trim(text), '{JAVA_WS}') END,
           t -> lower(t)) AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, toks[i] AS p, toks[i + 1] AS w
  FROM base, unnest(range(1, len(toks))) t(i)
  WHERE len(toks) >= 2
),
cb AS (SELECT p, w, count(*) AS c FROM bg GROUP BY p, w),
ctxf AS (SELECT p, sum(c) AS ctx, count(*) AS f FROM cb GROUP BY p),
pcs AS (SELECT w, count(*) AS pc FROM cb GROUP BY w),
bt AS (SELECT count(*) AS bt FROM cb),
j AS (
  SELECT bg.doc_id, cb.c, ctxf.ctx, ctxf.f, pcs.pc
  FROM bg JOIN cb USING (p, w) JOIN ctxf USING (p) JOIN pcs USING (w)
),
prof AS (
  SELECT doc_id, c, ctx, f, pc, count(*) AS m
  FROM j GROUP BY doc_id, c, ctx, f, pc
),
doc AS (
  SELECT doc_id,
         CAST(sum(m) AS BIGINT) AS n_bigrams,
         list(struct_pack(c := c, ctx := ctx, f := f, pc := pc, m := m)
              ORDER BY c, ctx, f, pc) AS profile
  FROM prof GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(doc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CASE WHEN doc.n_bigrams IS NULL THEN NULL
            ELSE round(
              list_reduce(
                list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(doc.profile,
                    s -> CAST(s.m AS DOUBLE) * ln(
                      (CAST(s.c AS DOUBLE) - 0.75) / CAST(s.ctx AS DOUBLE)
                      + 0.75 * CAST(s.f AS DOUBLE) / CAST(s.ctx AS DOUBLE)
                        * CAST(s.pc AS DOUBLE) / CAST(bt.bt AS DOUBLE)))),
                (a, b) -> a + b)
              / doc.n_bigrams, 6) END AS mean_logprob
FROM documents d LEFT JOIN doc USING (doc_id) CROSS JOIN bt
ORDER BY d.doc_id
"""


def q_text_quality_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score + heuristic language ID + canonical fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        text_ops.quality_score(t).alias("quality"),
        text_ops.language_id(t).alias("lang_pred"),
        text_ops.fingerprint(t).alias("fingerprint"),
    )


Q_TEXT_QUALITY_LANG_SQL = rf"""
WITH base AS (
  SELECT doc_id, text,
         list_transform(
           CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                ELSE string_split_regex(trim(text), '{JAVA_WS}') END,
           w -> lower(w)) AS toks,
         length(text) AS n
  FROM documents
),
scored AS (
  SELECT doc_id, text, toks, n,
       CASE WHEN n <= 0 THEN 0.0
            WHEN n < 50 THEN n / 50.0
            WHEN n <= 5000 THEN 1.0
            ELSE greatest(0.2, 5000.0 / n) END AS len_score,
       CASE WHEN n = 0 THEN 0.0
            ELSE round((n - length(regexp_replace(text, '[^\w\s]', '', 'g'))) / n, 6) END AS p,
       CASE WHEN len(toks) = 0 THEN 0.0
            ELSE round(len(list_filter(toks, w -> w IN ({_STOPWORDS_SQL}))) / len(toks), 6) END AS s,
       {_MARKER_SCORES_SQL}
  FROM base
)
SELECT doc_id,
       round(0.4 * len_score
             + 0.3 * greatest(0.0, 1.0 - p / 0.3)
             + 0.3 * (CASE WHEN s >= 0.02 AND s <= 0.6 THEN 1.0 ELSE 0.5 END), 6) AS quality,
       {_LANG_CASE_SQL} AS lang_pred,
       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
FROM scored ORDER BY doc_id
"""


def q_doc_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats (decimal-exact averages)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(18,0)")).alias("_sc"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .select(
            "lang",
            "n_docs",
            (F.col("_sc").cast("double") / F.col("n_docs")).alias("avg_chars"),
            "min_chars",
            "max_chars",
        )
    )


Q_DOC_LENGTH_STATS_SQL = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(CAST(n_chars AS DECIMAL(18,0))) AS DOUBLE) / count(*) AS avg_chars,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation: quality-filter -> exact dedup ->
    per-language survivor stats. The composite flow a 100 TB text pipeline
    runs before tokenization."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        "doc_id", "lang", "text",
        text_ops.quality_score(t).alias("q"),
        text_ops.token_count(t).cast("long").alias("n_tokens"),
    ).filter(F.col("q") >= 0.5)
    reps = (
        scored.groupBy(F.md5("text").alias("th"), F.col("lang"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("copies"),
            F.min("n_tokens").alias("n_tokens"),
        )
    )
    return (
        reps.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens").cast("decimal(18,0)")).alias("_tok"),
            F.sum((F.col("copies") - 1).cast("long")).alias("dups_removed"),
        )
        .select(
            "lang",
            "n_docs",
            F.col("_tok").cast("double").alias("total_tokens"),
            "dups_removed",
        )
    )


Q_CORPUS_CURATION_SQL = rf"""
WITH scored AS (
  SELECT doc_id, lang, text,
         round(0.4 * (CASE WHEN length(text) <= 0 THEN 0.0
                           WHEN length(text) < 50 THEN length(text) / 50.0
                           WHEN length(text) <= 5000 THEN 1.0
                           ELSE greatest(0.2, 5000.0 / length(text)) END)
               + 0.3 * greatest(0.0, 1.0 - (CASE WHEN length(text) = 0 THEN 0.0
                     ELSE round((length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) / length(text), 6) END) / 0.3)
               + 0.3 * (CASE WHEN (CASE WHEN len(string_split_regex(trim(text), '{JAVA_WS}')) = 0 THEN 0.0
                     ELSE round(len(list_filter(list_transform(string_split_regex(trim(text), '{JAVA_WS}'), w -> lower(w)),
                                                w -> w IN ({_STOPWORDS_SQL}))) / len(string_split_regex(trim(text), '{JAVA_WS}')), 6) END)
                     BETWEEN 0.02 AND 0.6 THEN 1.0 ELSE 0.5 END), 6) AS q,
         CAST(len(string_split_regex(trim(text), '{JAVA_WS}')) AS BIGINT) AS n_tokens
  FROM documents
),
reps AS (
  SELECT md5(text) AS th, lang, min(doc_id) AS doc_id,
         count(*) AS copies, min(n_tokens) AS n_tokens
  FROM scored WHERE q >= 0.5 GROUP BY 1, 2
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CAST(n_tokens AS DECIMAL(18,0))) AS DOUBLE) AS total_tokens,
       CAST(sum(copies - 1) AS BIGINT) AS dups_removed
FROM reps GROUP BY lang
"""


def q_text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (Rabin-Karp fold)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text_ops.rolling_fingerprint(F.col("text")).alias("rolling_fp")
    )


Q_TEXT_ROLLING_FINGERPRINT_SQL = """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                          c -> CAST(ascii(c) AS BIGINT))),
         (acc, x) -> (acc * 31 + x) % 2147483647) AS rolling_fp
FROM documents
"""


# ---------------------------------------------------------------------------
# corpus privacy / quality / decontamination (LLM training-data pipeline)
# ---------------------------------------------------------------------------


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus: counts + scrubbed-text digest.

    Synthetic PII (email for every doc, phone for doc_id%3==0, SSN for
    doc_id%5==0 — built identically in the oracle) is appended to the text,
    then counted and redacted with the shared Java-regex/RE2 pattern set.
    Pure regexp expressions: scan-speed, no shuffle, codegen'd — the shape
    a 100 TB privacy pass must have."""
    from etl_file_loader_spark.operators import text as text_ops

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@example.com"),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" or 555-"),
                F.lpad((d * 7 % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((d * 13 % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit(" ssn 987-65-4321")).otherwise(F.lit("")),
    )
    counts = text_ops.pii_counts(pii_text)
    return docs.select(
        d.alias("doc_id"),
        counts["n_email"].alias("n_email"),
        counts["n_ssn"].alias("n_ssn"),
        counts["n_phone"].alias("n_phone"),
        F.md5(text_ops.scrub_pii(pii_text)).alias("scrubbed_md5"),
    ).orderBy("doc_id")


Q_PII_SCRUB_SQL = r"""
WITH p AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         || CASE WHEN doc_id % 3 = 0
                 THEN ' or 555-' || lpad(CAST(doc_id * 7 % 1000 AS VARCHAR), 3, '0')
                      || '-' || lpad(CAST(doc_id * 13 % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' ssn 987-65-4321' ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
       CAST(len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS INTEGER) AS n_ssn,
       CAST(len(regexp_extract_all(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INTEGER) AS n_phone,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
           '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
           '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g')) AS scrubbed_md5
FROM p
ORDER BY doc_id
"""


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: per-doc top-bigram token share.

    explode bigrams -> per-(doc, gram) count -> per-doc max; one shuffle
    proportional to corpus tokens with map-side partial aggregation (the
    array-expression alternative is O(tokens^2) per doc and dies on long
    documents). Flag = share > 0.08."""
    from etl_file_loader_spark.operators import text as text_ops

    docs = _t(spark, sf_dir, "documents")
    stats = text_ops.repetition_stats(docs, "doc_id", "text", n=2)
    return stats.select(
        "doc_id",
        "n_tokens",
        "top_gram_count",
        "top_gram_share",
        (F.col("top_gram_share") > 0.08).cast("int").alias("repetitive"),
    ).orderBy("doc_id")


Q_GOPHER_REPETITION_SQL = rf"""
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '{JAVA_WS}') AS w FROM documents
),
g AS (
  SELECT doc_id, len(w) AS n_tokens, w[i] || ' ' || w[i+1] AS gram
  FROM d, unnest(range(1, len(w))) t(i)
  WHERE len(w) >= 2
),
c AS (
  SELECT doc_id, n_tokens, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3
),
m AS (
  SELECT doc_id, n_tokens, max(cnt) AS top FROM c GROUP BY 1, 2
)
SELECT doc_id,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(top AS BIGINT) AS top_gram_count,
       round(top * 2 / n_tokens, 6) AS top_gram_share,
       CAST(CASE WHEN round(top * 2 / n_tokens, 6) > 0.08 THEN 1 ELSE 0 END AS INTEGER) AS repetitive
FROM m
ORDER BY doc_id
"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 5-gram with a
    held-out set (doc_id < 20 plays the benchmark). Benchmark grams are
    DISTINCT'd and broadcast — the corpus side is scan + broadcast hash
    join, no corpus shuffle; exactly how test-set leakage scans run at
    100 TB."""
    from etl_file_loader_spark.operators import text as text_ops

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    return (
        text_ops.contamination(corpus, bench, "doc_id", "text", n=5)
        .select("doc_id", F.col("matched_grams").cast("long").alias("matched_grams"))
        .orderBy("doc_id")
    )


Q_CONTAMINATION_SQL = rf"""
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '{JAVA_WS}') AS w FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
  FROM d, unnest(range(1, len(w) - 5 + 2)) t(i)
  WHERE len(w) >= 5
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
corp AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id >= 20)
SELECT doc_id, CAST(count(*) AS BIGINT) AS matched_grams
FROM corp JOIN bench USING (g)
GROUP BY doc_id
ORDER BY doc_id
"""


def q_duplicated_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring duplication at 5-token-window granularity: per doc,
    how many of its windows occur verbatim in >= 2 distinct documents.
    The scalable stand-in for suffix-array exact-substring dedup — the
    generated corpus's exact-duplicate docs surface at dup_share = 1.0."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.duplicated_window_stats(docs, "doc_id", "text", window=5).orderBy(
        "doc_id"
    )


Q_DUPLICATED_WINDOWS_SQL = rf"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '{JAVA_WS}') END AS w
  FROM documents
),
base AS (
  SELECT doc_id, CAST(greatest(len(w) - 5 + 1, 0) AS BIGINT) AS n_windows FROM d
),
occ AS (
  SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
  FROM d, unnest(range(1, len(w) - 5 + 2)) t(i)
  WHERE len(w) >= 5
),
dup AS (
  SELECT g FROM occ GROUP BY g HAVING count(DISTINCT doc_id) >= 2
),
dc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_windows
  FROM occ JOIN dup USING (g) GROUP BY doc_id
)
SELECT b.doc_id, b.n_windows,
       CAST(COALESCE(dc.dup_windows, 0) AS BIGINT) AS dup_windows,
       round(CASE WHEN b.n_windows > 0
                  THEN COALESCE(dc.dup_windows, 0) * 1.0 / b.n_windows
                  ELSE 0.0 END, 4) AS dup_share
FROM base b LEFT JOIN dc USING (doc_id)
ORDER BY b.doc_id
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher document-shape rules (Rae et al. 2021 App. A)
    over the documents table: word-count band, mean-word-length band,
    symbol ratio, bullet/ellipsis line shares, alphabetic-word share,
    stop-word presence, and the conjunctive keep decision
    (operators/text.py:gopher_quality). Full per-doc value check."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.gopher_quality(docs, "doc_id", "text").orderBy("doc_id")


_GOPHER_STOPS_SQL = ", ".join(f"'{w}'" for w in text_ops.GOPHER_STOPWORDS)

Q_GOPHER_QUALITY_SQL = rf"""
WITH d AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '{JAVA_WS}') END AS w,
         list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS ls
  FROM documents
),
s AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CASE WHEN len(w) > 0
              THEN round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w), 6)
              ELSE 0.0 END AS mean_word_len,
         CASE WHEN len(w) > 0
              THEN round(CAST(len(list_filter(w, x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE) / len(w), 6)
              ELSE 0.0 END AS symbol_ratio,
         CAST(len(ls) AS BIGINT) AS n_lines,
         CASE WHEN len(ls) > 0
              THEN round(CAST(len(list_filter(ls, l -> starts_with(trim(l), '-') OR starts_with(trim(l), '*') OR starts_with(trim(l), '•'))) AS DOUBLE) / len(ls), 6)
              ELSE 0.0 END AS bullet_line_share,
         CASE WHEN len(ls) > 0
              THEN round(CAST(len(list_filter(ls, l -> ends_with(trim(l), '...') OR ends_with(trim(l), '…'))) AS DOUBLE) / len(ls), 6)
              ELSE 0.0 END AS ellipsis_line_share,
         CASE WHEN len(w) > 0
              THEN round(CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(w), 6)
              ELSE 0.0 END AS alpha_word_share,
         CAST(len(list_intersect(list_transform(w, x -> lower(x)),
                                 [{_GOPHER_STOPS_SQL}])) AS BIGINT) AS n_stop_hits
  FROM d
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, n_lines,
       bullet_line_share, ellipsis_line_share, alpha_word_share, n_stop_hits,
       CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
                  AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                  AND symbol_ratio <= 0.1
                  AND bullet_line_share < 0.9
                  AND ellipsis_line_share <= 0.3
                  AND alpha_word_share >= 0.8
                  AND n_stop_hits >= 2
             THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM s ORDER BY doc_id
"""


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring SPAN removal (Lee et al. 2021 semantics at 5-token
    windows): duplicated windows — >= 2 occurrences corpus-wide, same-doc
    repeats included — are cut out of every doc except the globally-first
    occurrence, overlapping windows merging into maximal spans; docs
    rebuild from their uncovered tokens. The oracle replays the identical
    count/rank/island-merge/rebuild pipeline in DuckDB window functions."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.remove_duplicate_spans(docs, "doc_id", "text", window=5).orderBy(
        "doc_id"
    )


Q_SPAN_DEDUP_SQL = rf"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '{JAVA_WS}') END AS w
  FROM documents
),
occ AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+4], ' ') AS g
  FROM d, unnest(range(1, len(w) - 5 + 2)) t(i)
  WHERE len(w) >= 5
),
marked AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           count(*) OVER (PARTITION BY g) AS cnt,
           row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk
    FROM occ
  ) WHERE cnt >= 2 AND rk >= 2
),
isl AS (
  SELECT doc_id, pos, pos + 5 AS e,
         max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM marked
),
isl2 AS (
  SELECT doc_id, pos, e,
         sum(CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END)
             OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, min(pos) AS s, max(e) AS e
  FROM isl2 GROUP BY doc_id, island
),
toks AS (
  SELECT doc_id, i - 1 AS pos, w[i] AS tok
  FROM d, unnest(range(1, len(w) + 1)) t(i)
),
keptt AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM toks t
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = t.doc_id AND t.pos >= s.s AND t.pos < s.e)
),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS cleaned_text
  FROM keptt GROUP BY doc_id
),
sp AS (
  SELECT doc_id,
         CAST(sum(e - s) AS BIGINT) AS removed_tokens,
         CAST(count(*) AS BIGINT) AS n_spans
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.w) AS BIGINT) AS n_tokens,
       CAST(COALESCE(sp.removed_tokens, 0) AS BIGINT) AS removed_tokens,
       CAST(COALESCE(sp.n_spans, 0) AS BIGINT) AS n_spans,
       COALESCE(a.cleaned_text, '') AS cleaned_text
FROM d LEFT JOIN sp USING (doc_id) LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style global line dedup over the documents table: first occurrence
    of every distinct non-blank line survives, docs rebuild from surviving
    lines. On the synthetic corpus (single-line docs) this degenerates to
    exact-doc dedup with first-doc retention — still a full cross-engine
    value check of the ranking + rebuild machinery."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.line_dedup(docs, "doc_id", "text").orderBy("doc_id")


Q_LINE_DEDUP_SQL = r"""
WITH d AS (
  SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM documents
),
lines AS (
  SELECT doc_id, i - 1 AS pos, ls[i] AS line
  FROM d, unnest(range(1, len(ls) + 1)) t(i)
),
nonblank AS (SELECT * FROM lines WHERE trim(line) <> ''),
blank AS (SELECT * FROM lines WHERE trim(line) = ''),
first_occ AS (
  SELECT doc_id, pos, line FROM (
    SELECT doc_id, pos, line,
           row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk
    FROM nonblank
  ) WHERE rk = 1
),
kept AS (
  SELECT doc_id, pos, line FROM first_occ
  UNION ALL
  SELECT doc_id, pos, line FROM blank
),
rebuilt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_lines,
         string_agg(line, chr(10) ORDER BY pos) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.ls) AS BIGINT) AS n_lines,
       CAST(COALESCE(r.kept_lines, 0) AS BIGINT) AS kept_lines,
       COALESCE(r.cleaned_text, '') AS cleaned_text
FROM d LEFT JOIN rebuilt r USING (doc_id)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# model-based quality filtering (hashed linear classifier + unigram LM)
# ---------------------------------------------------------------------------

# FITTED model (round 5): closed-form NB log-odds weights trained by
# tools/fit_quality_weights.py on sf0.001 documents with silver labels
# from the quality_score heuristic at its perfect-score boundary
# (balanced accuracy 0.85 vs the teacher at this dim; see the tool's
# docstring for the dim study). Regenerate with that tool; the oracle SQL
# below is built from these constants, so query and oracle always score
# the same model.
_CLF_DIM = 64
_CLF_WEIGHTS_MILLI = [-159, -81, -3047, -3047, -3047, -117, -3047, -3047, -3047, -3047, 23, -3047, 33, -184, -1137, -3047, -3047, -3047, -3047, 37, -3047, -3047, -221, 103, -3047, -275, -3047, -85, -3047, -3047, -24, -52, 80, -3047, -3047, -3047, 490, -3047, -3047, -144, -3047, 340, -3047, -3047, -3047, 764, -3047, -3047, -129, 154, -3047, -3047, -3047, -3047, -3047, -193, -151, 1993, -38, -3047, -3047, -39, -3047, -3047]
_CLF_BIAS_MILLI = 2420
_CLF_THRESHOLD_MILLI = 2420  # keep iff mean feature log-odds >= 0
_CLF_WEIGHTS_SQL = "[" + ", ".join(str(w) for w in _CLF_WEIGHTS_MILLI) + "]"


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: hashed linear (fastText/CCNet-style)
    classifier over the corpus — mean-pooled bag-of-words logit + keep flag.
    Integer milli-unit weights keep the pooled sum exact in both engines."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.classifier_score(
        docs,
        "doc_id",
        "text",
        weights_milli=_CLF_WEIGHTS_MILLI,
        bias_milli=_CLF_BIAS_MILLI,
        threshold_milli=_CLF_THRESHOLD_MILLI,
    ).orderBy("doc_id")


Q_QUALITY_CLASSIFIER_SQL = rf"""
WITH w AS (SELECT {_CLF_WEIGHTS_SQL} AS wts),
base AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '{JAVA_WS}') END AS toks
  FROM documents
),
f AS (
  SELECT doc_id, len(toks) AS n,
         list_transform(toks,
           t -> CAST(('0x' || substr(md5(lower(t)), 1, 8)) AS BIGINT) % {_CLF_DIM}) AS idx
  FROM base
),
scored AS (
  SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         CASE WHEN n = 0 THEN {_CLF_BIAS_MILLI / 1000.0!r}
              ELSE {_CLF_BIAS_MILLI / 1000.0!r}
                   + CAST(list_sum(list_transform(idx, i -> wts[CAST(i + 1 AS INT)])) AS DOUBLE)
                     / (1000.0 * n) END AS logit
  FROM f, w
)
SELECT doc_id, n_tokens, logit,
       CAST(logit >= {_CLF_THRESHOLD_MILLI / 1000.0!r} AS INT) AS keep
FROM scored ORDER BY doc_id
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style fluency filter: per-doc mean log-prob under the
    corpus's own unigram LM (min_count=2, so hapax tokens score as OOV)."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.unigram_logprob(docs, "doc_id", "text", min_count=2).orderBy(
        "doc_id"
    )


Q_UNIGRAM_LOGPROB_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         list_transform(
           CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                ELSE string_split_regex(trim(text), '{JAVA_WS}') END,
           t -> lower(t)) AS toks
  FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
vocab AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT CAST(sum(c) AS DOUBLE) AS T FROM vocab),
j AS (
  SELECT t.doc_id, v.c
  FROM tok t LEFT JOIN (SELECT tok, c FROM vocab WHERE c >= 2) v USING (tok)
),
prof AS (SELECT doc_id, c, count(*) AS m FROM j GROUP BY doc_id, c),
doc AS (
  SELECT doc_id,
         CAST(sum(m) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN c IS NULL THEN m ELSE 0 END) AS BIGINT) AS n_oov,
         list(struct_pack(c := c, m := m) ORDER BY c) FILTER (WHERE c IS NOT NULL) AS profile
  FROM prof GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(doc.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(doc.n_oov, 0) AS BIGINT) AS n_oov,
       CASE WHEN COALESCE(doc.n_tokens, 0) - COALESCE(doc.n_oov, 0) = 0 THEN NULL
            ELSE round(
              list_reduce(
                list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(doc.profile,
                    s -> CAST(s.m AS DOUBLE) * (ln(CAST(s.c AS DOUBLE)) - ln(tot.T)))),
                (a, b) -> a + b)
              / (doc.n_tokens - doc.n_oov), 6) END AS mean_logprob
FROM documents d LEFT JOIN doc USING (doc_id), tot
ORDER BY d.doc_id
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring: per-doc mean conditional log-prob under
    the corpus's own bigram model (exact-count MLE with context-count
    normalization)."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.bigram_logprob(docs, "doc_id", "text").orderBy("doc_id")


Q_BIGRAM_LOGPROB_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         list_transform(
           CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                ELSE string_split_regex(trim(text), '{JAVA_WS}') END,
           t -> lower(t)) AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, toks[i] AS p, toks[i + 1] AS w
  FROM base, unnest(range(1, len(toks))) t(i)
  WHERE len(toks) >= 2
),
cb AS (SELECT p, w, count(*) AS cb FROM bg GROUP BY p, w),
ctx AS (SELECT p, count(*) AS ctx FROM bg GROUP BY p),
j AS (
  SELECT bg.doc_id, cb.cb, ctx.ctx
  FROM bg JOIN cb USING (p, w) JOIN ctx USING (p)
),
prof AS (SELECT doc_id, cb, ctx, count(*) AS m FROM j GROUP BY doc_id, cb, ctx),
doc AS (
  SELECT doc_id,
         CAST(sum(m) AS BIGINT) AS n_bigrams,
         list(struct_pack(cb := cb, ctx := ctx, m := m) ORDER BY cb, ctx) AS profile
  FROM prof GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(doc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CASE WHEN doc.n_bigrams IS NULL THEN NULL
            ELSE round(
              list_reduce(
                list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(doc.profile,
                    s -> CAST(s.m AS DOUBLE) * (ln(CAST(s.cb AS DOUBLE)) - ln(CAST(s.ctx AS DOUBLE))))),
                (a, b) -> a + b)
              / doc.n_bigrams, 6) END AS mean_logprob
FROM documents d LEFT JOIN doc USING (doc_id)
ORDER BY d.doc_id
"""


def q_trigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-LM fluency scoring with interpolated (Jelinek-Mercer)
    backoff: per-doc mean of ``ln(0.6*P3 + 0.3*P2 + 0.1*P1)`` under the
    corpus's own counts — the order-3 rung above ``bigram_logprob``
    (operators/text.py:trigram_logprob)."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.trigram_logprob(docs, "doc_id", "text").orderBy("doc_id")


# Twin discipline (same as the bigram oracle, one order up): the mixture is
# ONE fixed left-to-right double expression, and the per-doc sum folds over
# the (c3, x3, c2, x2, c1 -> m) profile in ascending sorted order — the
# canonical fold that keeps 1-ulp ln() engine drift inside the round(6) grid.
Q_TRIGRAM_LOGPROB_SQL = rf"""
WITH base AS (
  SELECT doc_id,
         list_transform(
           CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                ELSE string_split_regex(trim(text), '{JAVA_WS}') END,
           t -> lower(t)) AS toks
  FROM documents
),
tg AS (
  SELECT doc_id, toks[i] AS p2, toks[i + 1] AS p1, toks[i + 2] AS w
  FROM base, unnest(range(1, len(toks) - 1)) t(i)
  WHERE len(toks) >= 3
),
bg AS (
  SELECT toks[i] AS p1, toks[i + 1] AS w
  FROM base, unnest(range(1, len(toks))) t(i)
  WHERE len(toks) >= 2
),
ug AS (SELECT u.w FROM base, unnest(toks) u(w)),
c3 AS (SELECT p2, p1, w, count(*) AS c3 FROM tg GROUP BY p2, p1, w),
x3 AS (SELECT p2, p1, count(*) AS x3 FROM tg GROUP BY p2, p1),
c2 AS (SELECT p1, w, count(*) AS c2 FROM bg GROUP BY p1, w),
x2 AS (SELECT p1, count(*) AS x2 FROM bg GROUP BY p1),
c1 AS (SELECT w, count(*) AS c1 FROM ug GROUP BY w),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS T1 FROM ug),
j AS (
  SELECT tg.doc_id, c3.c3, x3.x3, c2.c2, x2.x2, c1.c1
  FROM tg JOIN c3 USING (p2, p1, w) JOIN x3 USING (p2, p1)
          JOIN c2 USING (p1, w) JOIN x2 USING (p1) JOIN c1 USING (w)
),
prof AS (
  SELECT doc_id, c3, x3, c2, x2, c1, count(*) AS m
  FROM j GROUP BY doc_id, c3, x3, c2, x2, c1
),
doc AS (
  SELECT doc_id,
         CAST(sum(m) AS BIGINT) AS n_trigrams,
         list(struct_pack(c3 := c3, x3 := x3, c2 := c2, x2 := x2, c1 := c1, m := m)
              ORDER BY c3, x3, c2, x2, c1) AS profile
  FROM prof GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(doc.n_trigrams, 0) AS BIGINT) AS n_trigrams,
       CASE WHEN doc.n_trigrams IS NULL THEN NULL
            ELSE round(
              list_reduce(
                list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(doc.profile,
                    s -> CAST(s.m AS DOUBLE) * ln(
                      0.6 * (CAST(s.c3 AS DOUBLE) / CAST(s.x3 AS DOUBLE))
                      + 0.3 * (CAST(s.c2 AS DOUBLE) / CAST(s.x2 AS DOUBLE))
                      + 0.1 * (CAST(s.c1 AS DOUBLE) / tot.T1)))),
                (a, b) -> a + b)
              / doc.n_trigrams, 6) END AS mean_logprob
FROM documents d LEFT JOIN doc USING (doc_id), tot
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# HTML / boilerplate extraction (round 6 — curation front door)
# ---------------------------------------------------------------------------

# Deterministic HTML fixture synthesized from the documents table in BOTH
# engines: nav/footer link bars (boilerplate to drop), a doc_id-dependent
# promo block (id % 3), the real document text as the body paragraph, an
# entity-bearing appendix with an inline link (id % 2 — content that must
# SURVIVE despite containing a link), plus script/style/comment junk.
_HTML_FIX_HEAD = (
    '<html><head><title>Doc {id}</title>'
    '<style>body {{ color: #333; font-size: 14px; }}</style>'
    '<script type="text/javascript">if (1 < 2 && nav) {{ track("{id}"); }}</script>'
    '</head><body><!-- generated: do not edit -->'
    '<div class="nav"><ul><li><a href="/home">Home</a></li>'
    '<li><a href="/about">About&nbsp;Us</a></li>'
    '<li><a href="/contact">Contact</a></li></ul></div>'
)
_HTML_FIX_PROMO = (
    '<div class="promo"><a href="/buy">Buy now &amp; save</a> '
    '<a href="/deals">See deals</a></div>'
)
_HTML_FIX_H1 = '<h1>Document &quot;{id}&quot; report</h1>'
_HTML_FIX_APPENDIX = (
    '<p>Appendix with a <a href="/ref">reference link</a>: '
    'rating 4 &lt; 5 &amp; rising; it&#39;s fine. '
)
_HTML_FIX_FOOTER = (
    '<div class="footer"><a href="/tos">Terms of Service</a> | '
    '<a href="/privacy">Privacy</a></div></body></html>'
)


def _html_fixture_expr():
    istr = F.col("doc_id").cast("string")
    head_pre, head_post = _HTML_FIX_HEAD.replace("{{", "{").replace("}}", "}").split(
        "{id}", 1
    )
    script_pre, script_post = head_post.split("{id}", 1)
    h1_pre, h1_post = _HTML_FIX_H1.split("{id}", 1)
    return F.concat(
        F.lit(head_pre), istr, F.lit(script_pre), istr, F.lit(script_post),
        F.when(F.col("doc_id") % 3 == 0, F.lit(_HTML_FIX_PROMO)).otherwise(F.lit("")),
        F.lit(h1_pre), istr, F.lit(h1_post),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit(_HTML_FIX_APPENDIX),
                F.substring(F.col("text"), 1, 120),
                F.lit("</p>"),
            ),
        ).otherwise(F.lit("")),
        F.lit(_HTML_FIX_FOOTER),
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-stripped visible text of synthetic HTML pages.

    Plan shape: documents scan -> one projection (regex + array HOFs, zero
    Python, zero shuffle) -> presentation sort. The extraction itself is
    scan-shaped and scales with input bytes.
    """
    from etl_file_loader_spark.operators import html as html_ops

    docs = _t(spark, sf_dir, "documents")
    s = html_ops.extract_struct(_html_fixture_expr())
    return docs.withColumn("_s", s).select(
        "doc_id",
        F.col("_s")["text"].alias("extracted"),
        F.col("_s")["n_lines"].alias("n_lines"),
        F.col("_s")["n_kept"].alias("n_kept"),
    ).orderBy("doc_id")


def _html_fixture_sql() -> str:
    head = _HTML_FIX_HEAD.replace("{{", "{").replace("}}", "}")
    head_sql = "' || CAST(doc_id AS VARCHAR) || '".join(
        p.replace("'", "''") for p in head.split("{id}")
    )
    h1_sql = "' || CAST(doc_id AS VARCHAR) || '".join(
        p.replace("'", "''") for p in _HTML_FIX_H1.split("{id}")
    )
    return (
        f"'{head_sql}'"
        f" || CASE WHEN doc_id % 3 = 0 THEN '{_HTML_FIX_PROMO}' ELSE '' END"
        f" || '{h1_sql}'"
        " || '<p>' || text || '</p>'"
        f" || CASE WHEN doc_id % 2 = 0 THEN '{_HTML_FIX_APPENDIX.replace(chr(39), chr(39) * 2)}'"
        " || substr(text, 1, 120) || '</p>' ELSE '' END"
        f" || '{_HTML_FIX_FOOTER}'"
    )


def _q_html_extract_sql() -> str:
    from etl_file_loader_spark.operators import html as html_ops

    cs = html_ops.duckdb_line_structs_sql("html")
    frag = html_ops.duckdb_extract_sql("cs")
    return f"""
WITH pages AS (SELECT doc_id, {_html_fixture_sql()} AS html FROM documents),
L AS (SELECT doc_id, {cs} AS cs FROM pages)
SELECT doc_id,
       {frag["text"]} AS extracted,
       {frag["n_lines"]} AS n_lines,
       {frag["n_kept"]} AS n_kept
FROM L ORDER BY doc_id
"""


Q_HTML_EXTRACT_SQL = _q_html_extract_sql()


def q_gopher_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL published Gopher repetition rule set (Rae et al. 2021
    Table A1) over the documents table: dup line/paragraph (char)
    fractions, top 2-4-gram char fractions, dup 5-10-gram coverage char
    fractions, conjunctive keep (operators/text.py:gopher_repetition).
    Full per-doc value check; `gopher_repetition` (top-bigram share) is
    the single-signal fast path, this is the whole table."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.gopher_repetition(docs, "doc_id", "text").orderBy("doc_id")


_GRR_TH = text_ops.GOPHER_REPETITION_THRESHOLDS

# the Gopher oracle's token and gram replay: d(doc_id, text, w) with the
# whitespace tokens w, and g(doc_id, n, pos, gram), one row per word
# n-gram occurrence for n = 2..10 (pos is the 0-based first token)
GOPHER_GRAMS_CTE = rf"""d AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '{JAVA_WS}') END AS w
  FROM documents
),
g AS (
  SELECT d.doc_id, tn.n, ti.i - 1 AS pos,
         array_to_string(w[ti.i:ti.i + tn.n - 1], ' ') AS gram
  FROM d,
       unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) tn(n),
       unnest(range(1, len(w) - tn.n + 2)) ti(i)
  WHERE len(w) >= tn.n
)"""

Q_GOPHER_REPETITION_RULES_SQL = rf"""
WITH {GOPHER_GRAMS_CTE},
le AS (
  SELECT doc_id, elem FROM (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS elem FROM d
  ) WHERE length(trim(elem)) > 0
),
pe AS (
  SELECT doc_id, elem FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\n{{2,}}')) AS elem FROM d
  ) WHERE length(trim(elem)) > 0
),
lc AS (SELECT doc_id, elem, count(*) AS cnt FROM le GROUP BY 1, 2),
pc AS (SELECT doc_id, elem, count(*) AS cnt FROM pe GROUP BY 1, 2),
lstats AS (
  SELECT doc_id, sum(cnt) AS n, sum(cnt - 1) AS dups,
         sum((cnt - 1) * length(elem)) AS dupchars,
         sum(cnt * length(elem)) AS chars
  FROM lc GROUP BY doc_id
),
pstats AS (
  SELECT doc_id, sum(cnt) AS n, sum(cnt - 1) AS dups,
         sum((cnt - 1) * length(elem)) AS dupchars,
         sum(cnt * length(elem)) AS chars
  FROM pc GROUP BY doc_id
),
ws AS (
  SELECT doc_id,
         COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS content_chars
  FROM d
),
c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
topg AS (
  SELECT doc_id, n, cnt * (length(gram) - (n - 1)) AS covered,
         row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, gram ASC) AS rn
  FROM c WHERE n <= 4
),
top AS (
  SELECT doc_id,
         max(CASE WHEN n = 2 THEN covered END) AS top2,
         max(CASE WHEN n = 3 THEN covered END) AS top3,
         max(CASE WHEN n = 4 THEN covered END) AS top4
  FROM topg WHERE rn = 1 GROUP BY doc_id
),
cov AS (
  SELECT DISTINCT g.doc_id, g.n, g.pos + tk.k AS idx
  FROM g
  JOIN c ON g.doc_id = c.doc_id AND g.n = c.n AND g.gram = c.gram,
       unnest(range(0, g.n)) tk(k)
  WHERE g.n >= 5 AND c.cnt > 1
),
covchars AS (
  SELECT cov.doc_id,
         max(CASE WHEN cov.n = 5 THEN ch END) AS cov5,
         max(CASE WHEN cov.n = 6 THEN ch END) AS cov6,
         max(CASE WHEN cov.n = 7 THEN ch END) AS cov7,
         max(CASE WHEN cov.n = 8 THEN ch END) AS cov8,
         max(CASE WHEN cov.n = 9 THEN ch END) AS cov9,
         max(CASE WHEN cov.n = 10 THEN ch END) AS cov10
  FROM (
    SELECT cov.doc_id, cov.n, sum(length(d.w[cov.idx + 1])) AS ch
    FROM cov JOIN d ON cov.doc_id = d.doc_id
    GROUP BY 1, 2
  ) cov GROUP BY cov.doc_id
),
sig AS (
  SELECT d.doc_id,
         CAST(COALESCE(l.n, 0) AS BIGINT) AS n_lines,
         CAST(COALESCE(p.n, 0) AS BIGINT) AS n_paras,
         round(CASE WHEN COALESCE(l.n, 0) > 0 THEN CAST(l.dups AS DOUBLE) / l.n ELSE 0 END, 6) AS dup_line_frac,
         round(CASE WHEN COALESCE(p.n, 0) > 0 THEN CAST(p.dups AS DOUBLE) / p.n ELSE 0 END, 6) AS dup_para_frac,
         round(CASE WHEN COALESCE(l.chars, 0) > 0 THEN CAST(l.dupchars AS DOUBLE) / l.chars ELSE 0 END, 6) AS dup_line_char_frac,
         round(CASE WHEN COALESCE(p.chars, 0) > 0 THEN CAST(p.dupchars AS DOUBLE) / p.chars ELSE 0 END, 6) AS dup_para_char_frac,
         round(CASE WHEN ws.content_chars > 0 THEN CAST(COALESCE(t.top2, 0) AS DOUBLE) / ws.content_chars ELSE 0 END, 6) AS top_2gram_char_frac,
         round(CASE WHEN ws.content_chars > 0 THEN CAST(COALESCE(t.top3, 0) AS DOUBLE) / ws.content_chars ELSE 0 END, 6) AS top_3gram_char_frac,
         round(CASE WHEN ws.content_chars > 0 THEN CAST(COALESCE(t.top4, 0) AS DOUBLE) / ws.content_chars ELSE 0 END, 6) AS top_4gram_char_frac,
         round(CASE WHEN ws.content_chars > 0 THEN CAST(COALESCE(cc.cov5, 0) AS DOUBLE) / ws.content_chars ELSE 0 END, 6) AS dup_5gram_char_frac,
         round(CASE WHEN ws.content_chars > 0 THEN CAST(COALESCE(cc.cov6, 0) AS DOUBLE) / ws.content_chars ELSE 0 END, 6) AS dup_6gram_char_frac,
         round(CASE WHEN ws.content_chars > 0 THEN CAST(COALESCE(cc.cov7, 0) AS DOUBLE) / ws.content_chars ELSE 0 END, 6) AS dup_7gram_char_frac,
         round(CASE WHEN ws.content_chars > 0 THEN CAST(COALESCE(cc.cov8, 0) AS DOUBLE) / ws.content_chars ELSE 0 END, 6) AS dup_8gram_char_frac,
         round(CASE WHEN ws.content_chars > 0 THEN CAST(COALESCE(cc.cov9, 0) AS DOUBLE) / ws.content_chars ELSE 0 END, 6) AS dup_9gram_char_frac,
         round(CASE WHEN ws.content_chars > 0 THEN CAST(COALESCE(cc.cov10, 0) AS DOUBLE) / ws.content_chars ELSE 0 END, 6) AS dup_10gram_char_frac
  FROM d
  JOIN ws USING (doc_id)
  LEFT JOIN lstats l USING (doc_id)
  LEFT JOIN pstats p USING (doc_id)
  LEFT JOIN top t USING (doc_id)
  LEFT JOIN covchars cc USING (doc_id)
)
SELECT sig.*,
       CAST(CASE WHEN dup_line_frac <= {_GRR_TH["dup_line_frac"]}
                  AND dup_para_frac <= {_GRR_TH["dup_para_frac"]}
                  AND dup_line_char_frac <= {_GRR_TH["dup_line_char_frac"]}
                  AND dup_para_char_frac <= {_GRR_TH["dup_para_char_frac"]}
                  AND top_2gram_char_frac <= {_GRR_TH["top_2gram_char_frac"]}
                  AND top_3gram_char_frac <= {_GRR_TH["top_3gram_char_frac"]}
                  AND top_4gram_char_frac <= {_GRR_TH["top_4gram_char_frac"]}
                  AND dup_5gram_char_frac <= {_GRR_TH["dup_5gram_char_frac"]}
                  AND dup_6gram_char_frac <= {_GRR_TH["dup_6gram_char_frac"]}
                  AND dup_7gram_char_frac <= {_GRR_TH["dup_7gram_char_frac"]}
                  AND dup_8gram_char_frac <= {_GRR_TH["dup_8gram_char_frac"]}
                  AND dup_9gram_char_frac <= {_GRR_TH["dup_9gram_char_frac"]}
                  AND dup_10gram_char_frac <= {_GRR_TH["dup_10gram_char_frac"]}
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM sig
ORDER BY doc_id
"""


_BM25_TERMS = ["window", "merge", "scan"]
_BM25_K = 50
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval over the documents table: top-50 docs
    for a fixed bag-of-words query (operators/text.py:bm25_score). One
    scan (per-term tf via in-place filters over the bound token array) +
    one scalar-aggregate corpus-stats row broadcast back + a
    TakeOrderedAndProject top-k — no global sort. Deterministic cut:
    rounded score DESC, doc_id ASC."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.bm25_topk(
        docs, "doc_id", "text", _BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B
    )


def _bm25_oracle_sql(where: str = "", limit: int | None = None) -> str:
    # identical Python doubles on both engines; left-associated term sum.
    # ``where``/``limit`` parameterize the source slice and the cut so the
    # maintained-index stream row can replay each epoch from batch
    # numbering alone (round 13).
    if limit is None:
        limit = _BM25_K
    tf_cols = ",\n         ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    k1, b, k1p1 = repr(_BM25_K1), repr(_BM25_B), repr(_BM25_K1 + 1.0)
    one_minus_b = repr(1.0 - _BM25_B)
    term_sum = "\n         + ".join(
        f"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df{i} AS DOUBLE) + 0.5))"
        f" * CAST(tf{i} AS DOUBLE) * {k1p1}"
        f" / (CAST(tf{i} AS DOUBLE) + {k1} * ({one_minus_b}"
        f" + {b} * CAST(dl AS DOUBLE)"
        f" / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
        for i in range(len(_BM25_TERMS))
    )
    return rf"""
WITH d AS (
  SELECT doc_id,
         list_transform(
           CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                ELSE string_split_regex(trim(text), '{JAVA_WS}') END,
           t -> lower(t)) AS w
  FROM documents {where}
),
base AS (
  SELECT doc_id, len(w) AS dl,
         {tf_cols}
  FROM d
),
st AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
         {df_cols}
  FROM base
)
SELECT doc_id, CAST(dl AS BIGINT) AS n_tokens,
       round(0.0 + {term_sum}, 6) AS bm25
FROM base CROSS JOIN st
ORDER BY bm25 DESC, doc_id
LIMIT {limit}
"""


Q_BM25_RETRIEVAL_SQL = _bm25_oracle_sql()


_BM25_STREAM_K = 5


def q_bm25_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAINTAINED fixed-query BM25 postings (operators/text.py:BM25Index):
    seed from the doc_id%4==0 quarter of documents, absorb the three
    remaining quarters IN ORDER, and emit the top-5 ranking after every
    epoch — each ranking reflects the FULL absorbed corpus (idf/avgdl
    recomputed from postings; no text re-tokenized after its one absorb).
    Absorb is append (exactly-once per doc, like the quantile/CMS
    sum-merge family) and the batches are disjoint by construction, so
    the oracle replays epoch k's ranking from batch numbering alone:
    BM25 over rows with doc_id%4 <= k. The stream CROSSES a save/load
    boundary between epochs 1 and 2 (the index-family durability
    discipline)."""
    from etl_file_loader_spark.operators.text import BM25Index

    docs = _t(spark, sf_dir, "documents")
    idx = BM25Index(
        docs.filter(F.col("doc_id") % 4 == 0),
        "doc_id", "text", _BM25_TERMS, k1=_BM25_K1, b=_BM25_B,
    )

    def snapshot(epoch: int) -> DataFrame:
        return _epoch_snapshot(
            idx.topk(_BM25_STREAM_K).select(
                F.lit(epoch).alias("epoch"), "doc_id", "n_tokens", "bm25"
            )
        )

    outs = [snapshot(0)]
    for k in (1, 2, 3):
        if k == 2:
            ckpt = _suite_ckpt_dir(spark) + "/bm25_idx"
            idx.save(ckpt)
            idx = BM25Index.load(spark, ckpt)
        idx.absorb(docs.filter(F.col("doc_id") % 4 == k))
        outs.append(snapshot(k))
    out = outs[0]
    for part in outs[1:]:
        out = out.unionByName(part)
    return out.orderBy("epoch", F.col("bm25").desc(), "doc_id")


def _bm25_index_stream_sql() -> str:
    def epoch(k: int) -> str:
        inner = _bm25_oracle_sql(
            where=f"WHERE doc_id % 4 <= {k}", limit=_BM25_STREAM_K
        )
        return f"  SELECT {k} AS epoch, * FROM ({inner})"

    return (
        "SELECT * FROM ("
        + "\n  UNION ALL\n".join(epoch(k) for k in range(4))
        + "\n) ORDER BY epoch, bm25 DESC, doc_id"
    )


Q_BM25_INDEX_STREAM_SQL = _bm25_index_stream_sql()

QUERIES.update({"bm25_index_stream": q_bm25_index_stream})
ORACLES.update({"bm25_index_stream": Q_BM25_INDEX_STREAM_SQL})


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published C4 cleaning heuristics (Raffel et al. 2020 §2.2)
    over the documents table: terminal-punctuation + min-words +
    javascript line filters, lorem-ipsum / curly-brace / min-sentences
    page rules, kept-text rebuild as md5
    (operators/text.py:c4_filter). Full per-doc value check."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.c4_filter(docs, "doc_id", "text").orderBy("doc_id")


Q_C4_FILTER_SQL = rf"""
WITH d AS (
  SELECT doc_id, text,
         list_filter(string_split(text, chr(10)), l -> length(trim(l)) > 0) AS ls
  FROM documents
),
k AS (
  SELECT doc_id, text, ls,
         list_filter(ls, l ->
           (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
            OR ends_with(trim(l), '?') OR ends_with(trim(l), '"'))
           AND len(string_split_regex(trim(l), '{JAVA_WS}')) >= 5
           AND NOT contains(lower(l), 'javascript')) AS kept
  FROM d
),
s AS (
  SELECT doc_id, text,
         CAST(len(ls) AS BIGINT) AS n_lines,
         CAST(len(kept) AS BIGINT) AS n_kept_lines,
         COALESCE(array_to_string(kept, chr(10)), '') AS kept_text
  FROM k
)
SELECT doc_id, n_lines, n_kept_lines,
       CAST(length(kept_text)
            - length(regexp_replace(kept_text, '[.!?]', '', 'g')) AS BIGINT)
         AS n_sentences,
       CAST(CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END AS BIGINT)
         AS has_lorem_ipsum,
       CAST(CASE WHEN contains(text, '{{') THEN 1 ELSE 0 END AS BIGINT)
         AS has_curly_brace,
       md5(kept_text) AS kept_md5,
       CAST(CASE WHEN length(kept_text)
                      - length(regexp_replace(kept_text, '[.!?]', '', 'g')) >= 3
                  AND NOT contains(lower(text), 'lorem ipsum')
                  AND NOT contains(text, '{{')
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM s
ORDER BY doc_id
"""


QUERIES.update(
    {
        "text_stats": q_text_stats,
        "bigram_logprob": q_bigram_logprob,
        "trigram_logprob": q_trigram_logprob,
        "kn_bigram_logprob": q_kn_bigram_logprob,
        "text_quality_lang": q_text_quality_lang,
        "doc_length_stats": q_doc_length_stats,
        "corpus_curation": q_corpus_curation,
        "text_rolling_fingerprint": q_text_rolling_fingerprint,
        "pii_scrub": q_pii_scrub,
        "gopher_repetition": q_gopher_repetition,
        "contamination_check": q_contamination_check,
        "duplicated_windows": q_duplicated_windows,
        "line_dedup": q_line_dedup,
        "span_dedup": q_span_dedup,
        "gopher_quality": q_gopher_quality,
        "gopher_repetition_rules": q_gopher_repetition_rules,
        "bm25_retrieval": q_bm25_retrieval,
        "c4_filter": q_c4_filter,
        "quality_classifier": q_quality_classifier,
        "unigram_logprob": q_unigram_logprob,
        "html_extract": q_html_extract,
    }
)


ORACLES.update(
    {
        "text_stats": Q_TEXT_STATS_SQL,
        "text_quality_lang": Q_TEXT_QUALITY_LANG_SQL,
        "doc_length_stats": Q_DOC_LENGTH_STATS_SQL,
        "corpus_curation": Q_CORPUS_CURATION_SQL,
        "text_rolling_fingerprint": Q_TEXT_ROLLING_FINGERPRINT_SQL,
        "pii_scrub": Q_PII_SCRUB_SQL,
        "gopher_repetition": Q_GOPHER_REPETITION_SQL,
        "contamination_check": Q_CONTAMINATION_SQL,
        "duplicated_windows": Q_DUPLICATED_WINDOWS_SQL,
        "line_dedup": Q_LINE_DEDUP_SQL,
        "span_dedup": Q_SPAN_DEDUP_SQL,
        "gopher_quality": Q_GOPHER_QUALITY_SQL,
        "gopher_repetition_rules": Q_GOPHER_REPETITION_RULES_SQL,
        "bm25_retrieval": Q_BM25_RETRIEVAL_SQL,
        "c4_filter": Q_C4_FILTER_SQL,
        "quality_classifier": Q_QUALITY_CLASSIFIER_SQL,
        "unigram_logprob": Q_UNIGRAM_LOGPROB_SQL,
        "bigram_logprob": Q_BIGRAM_LOGPROB_SQL,
        "trigram_logprob": Q_TRIGRAM_LOGPROB_SQL,
        "kn_bigram_logprob": Q_KN_BIGRAM_LOGPROB_SQL,
        "html_extract": Q_HTML_EXTRACT_SQL,
    }
)


def q_unicode_normalize_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization + control-char strip (operators/text.py:
    normalize_unicode, strip_control_chars). The synthetic corpus is
    ASCII -- where NFC is the identity -- so the query INJECTS a
    DECOMPOSED combining sequence (cycling e+ACUTE / n+TILDE /
    u+DIAERESIS / A+RING by doc_id) plus a C0 control char; the check
    pins that composition happened (len drops by 2: one composed pair,
    one stripped control) and that the cleaned bytes match DuckDB's
    nfc_normalize exactly (md5)."""
    docs = _t(spark, sf_dir, "documents")
    mark = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("e\u0301"))
        .when(F.col("doc_id") % 4 == 1, F.lit("n\u0303"))
        .when(F.col("doc_id") % 4 == 2, F.lit("u\u0308"))
        .otherwise(F.lit("A\u030a"))
    )
    dirty = F.concat(F.col("text"), F.lit(" "), mark, F.lit("\x01ctl"))
    cleaned = text_ops.strip_control_chars(text_ops.normalize_unicode(dirty))
    return docs.select(
        "doc_id",
        F.length(dirty).alias("len_dirty"),
        F.length(cleaned).alias("len_clean"),
        F.md5(cleaned).alias("clean_md5"),
    ).orderBy("doc_id")


Q_UNICODE_NORMALIZE_SQL = r"""
WITH dirty AS (
  SELECT doc_id,
         text || ' ' || CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN 'e' || chr(769)
           WHEN 1 THEN 'n' || chr(771)
           WHEN 2 THEN 'u' || chr(776)
           ELSE 'A' || chr(778) END || chr(1) || 'ctl' AS d
  FROM documents
),
clean AS (
  SELECT doc_id, d,
         regexp_replace(nfc_normalize(d),
                        '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g') AS c
  FROM dirty
)
SELECT doc_id,
       length(d) AS len_dirty,
       length(c) AS len_clean,
       md5(c) AS clean_md5
FROM clean
ORDER BY doc_id
"""

QUERIES.update({"unicode_normalize_check": q_unicode_normalize_check})
ORACLES.update({"unicode_normalize_check": Q_UNICODE_NORMALIZE_SQL})


_PHRASES = [["order", "order"], ["big", "order", "scan"]]


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index + exact phrase search (operators/text.py:
    inverted_index, phrase_search): build the (term, doc, positions)
    index once, then match two fixed phrases — a self-overlapping
    2-gram ('order order', where 'order order order' must count twice)
    and a 3-term chain ('big order scan'). The oracle re-derives both
    from raw token positions."""
    docs = _t(spark, sf_dir, "documents")
    idx = text_ops.inverted_index(docs, "doc_id", "text")
    parts = []
    for terms in _PHRASES:
        parts.append(
            text_ops.phrase_search(idx, "doc_id", terms).select(
                F.lit(" ".join(terms)).alias("phrase"), "doc_id", "n_occurrences"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("phrase", "doc_id")


def _phrase_sql() -> str:
    branches = []
    for terms in _PHRASES:
        cond = " AND ".join(
            f"ws[i + {k}] = '{t}'" for k, t in enumerate(terms)
        )
        branches.append(f"""
  SELECT '{" ".join(terms)}' AS phrase, doc_id,
         count(*) AS n_occurrences
  FROM w WHERE {cond} GROUP BY doc_id""")
    u = "\n  UNION ALL".join(branches)
    return rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '{JAVA_WS}') AS ws FROM documents
),
w AS (
  SELECT doc_id, ws, i FROM t, unnest(range(1, len(ws) + 1)) u(i)
)
SELECT * FROM ({u})
ORDER BY phrase, doc_id
"""


Q_PHRASE_SEARCH_SQL = _phrase_sql()

QUERIES.update({"phrase_search": q_phrase_search})
ORACLES.update({"phrase_search": Q_PHRASE_SEARCH_SQL})


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy per document (operators/text.py:
    char_entropy) — counts exact, the c*ln(c) fold in canonical char-ASC
    order, ONE division: the LM ladder's cross-engine float discipline."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.char_entropy(docs, "doc_id", "text").orderBy("doc_id")


Q_CHAR_ENTROPY_SQL = """
WITH ch AS (
  SELECT doc_id, u.ch FROM (
    SELECT doc_id, string_split(text, '') AS cs
    FROM documents WHERE length(text) > 0
  ), unnest(cs) u(ch)
),
cnt AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
prof AS (
  SELECT doc_id, sum(c) AS n, count(*) AS d,
         list(c ORDER BY ch) AS pr
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars, CAST(d AS BIGINT) AS n_distinct_chars,
       round(ln(CAST(n AS DOUBLE))
         - list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(pr, c -> CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))),
               (a, b) -> a + b) / CAST(n AS DOUBLE), 12) AS entropy
FROM prof ORDER BY doc_id
"""

QUERIES.update({"char_entropy": q_char_entropy})
ORACLES.update({"char_entropy": Q_CHAR_ENTROPY_SQL})


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 5-gram novelty (operators/text.py:ngram_novelty):
    the share of a doc's n-gram occurrences found nowhere else in the
    corpus — exact BIGINT counts, one division."""
    docs = _t(spark, sf_dir, "documents")
    return text_ops.ngram_novelty(docs, "doc_id", "text", n=5).orderBy("doc_id")


Q_NGRAM_NOVELTY_SQL = rf"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '{JAVA_WS}') AS ws FROM documents
),
g AS (
  SELECT doc_id, array_to_string(ws[i : i + 4], ' ') AS gram
  FROM t, unnest(range(1, len(ws) - 5 + 2)) u(i)
  WHERE len(ws) >= 5
),
dg AS (SELECT doc_id, gram, count(*) AS dc FROM g GROUP BY doc_id, gram),
cg AS (SELECT gram, sum(dc) AS cc FROM dg GROUP BY gram)
SELECT dg.doc_id,
       CAST(sum(dg.dc) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN cg.cc = dg.dc THEN dg.dc ELSE 0 END) AS BIGINT)
         AS novel_grams,
       CAST(sum(CASE WHEN cg.cc = dg.dc THEN dg.dc ELSE 0 END) AS DOUBLE)
         / sum(dg.dc) AS novelty
FROM dg JOIN cg ON cg.gram = dg.gram
GROUP BY dg.doc_id
ORDER BY dg.doc_id
"""

QUERIES.update({"ngram_novelty": q_ngram_novelty})
ORACLES.update({"ngram_novelty": Q_NGRAM_NOVELTY_SQL})


def q_curation_text_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed shared-gram-table stage (operators/text.py:text_signals):
    Gopher repetition rules + 5-gram novelty + benchmark contamination
    (doc_id < 20 plays the benchmark) + span-removal accounting, all
    derived from ONE persisted (doc, n, gram) count table instead of four
    independent explodes. The oracle is composed from the four
    independent oracle queries LEFT-JOINed per doc, so the fused plan is
    value-checked against the unfused semantics."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    return text_ops.text_signals(
        docs, "doc_id", "text", benchmark=bench
    ).orderBy("doc_id")


# composed from the independent green oracles by plain concatenation (NOT an
# f-string: the member SQL bodies contain regex braces)
Q_CURATION_TEXT_SIGNALS_SQL = (
    """
SELECT r.doc_id, r.n_lines, r.n_paras,
       r.dup_line_frac, r.dup_para_frac, r.dup_line_char_frac,
       r.dup_para_char_frac,
       r.top_2gram_char_frac, r.top_3gram_char_frac, r.top_4gram_char_frac,
       r.dup_5gram_char_frac, r.dup_6gram_char_frac, r.dup_7gram_char_frac,
       r.dup_8gram_char_frac, r.dup_9gram_char_frac, r.dup_10gram_char_frac,
       r.keep AS rep_keep,
       CAST(COALESCE(nv.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(nv.novel_grams, 0) AS BIGINT) AS novel_grams,
       nv.novelty AS novelty,
       sp.n_tokens, sp.removed_tokens, sp.n_spans,
       md5(sp.cleaned_text) AS cleaned_md5,
       CAST(COALESCE(ct.matched_grams, 0) AS BIGINT) AS matched_grams
FROM ("""
    + Q_GOPHER_REPETITION_RULES_SQL
    + """) r
LEFT JOIN ("""
    + Q_NGRAM_NOVELTY_SQL
    + """) nv USING (doc_id)
JOIN ("""
    + Q_SPAN_DEDUP_SQL
    + rf""") sp USING (doc_id)
LEFT JOIN (
  WITH d AS (
    SELECT doc_id, string_split_regex(trim(text), '{JAVA_WS}') AS w FROM documents
  ),
  grams AS (
    SELECT doc_id, array_to_string(w[i:i+4], ' ') AS g
    FROM d, unnest(range(1, len(w) - 5 + 2)) t(i)
    WHERE len(w) >= 5
  ),
  bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 20),
  corp AS (SELECT DISTINCT doc_id, g FROM grams)
  SELECT doc_id, count(*) AS matched_grams
  FROM corp JOIN bench USING (g) GROUP BY doc_id
) ct USING (doc_id)
ORDER BY r.doc_id
"""
)

QUERIES.update({"curation_text_signals": q_curation_text_signals})
ORACLES.update({"curation_text_signals": Q_CURATION_TEXT_SIGNALS_SQL})


# ---------------------------------------------------------------------------
# learnable language-ID fixture (round 9, VERDICT r8 ask 6)
# ---------------------------------------------------------------------------

# Multiclass hashed-NB language model fitted ONCE on the lang-balanced 75%
# train split of fixtures.langid_corpus (tools/fit_langid_weights.py — the
# fit_quality_weights.py precedent): integer milli-unit per-language
# weights + log-prior biases. Measured balanced accuracy at dim=64:
# train 0.9987, holdout 0.9940 (hash collisions present and survivable;
# dim=128 reaches 1.0000 — kept at 64 to exercise the collision regime).
_LANGID_DIM = 64
_LANGID_MODELS = {
    'aa': ([-5730, -9026, -5693, -3969, -3995, -3549, -3884, -9026, -9026, -5807, -4205, -9026, -9026, -3896, -3384, -4197, -9026, -3245, -9026, -9026, -9026, -3394, -6081, -5890, -9026, -5219, -3500, -3508, -4158, -9026, -6461, -9026, -3047, -3442, -9026, -4022, -4063, -2939, -3438, -4120, -3065, -3902, -9026, -5658, -4056, -9026, -3477, -4056, -5312, -4316, -3641, -3553, -3957, -4106, -3914, -3083, -3450, -4077, -9026, -9026, -6318, -3024, -4372, -3957], -1386),
    'bb': ([-5807, -4214, -5935, -3896, -4222, -3438, -3995, -4316, -4214, -6192, -9026, -9026, -4362, -3349, -3951, -4344, -3623, -2974, -9026, -4272, -9026, -3405, -5807, -4049, -9026, -5176, -4197, -9026, -3446, -9026, -4070, -4493, -3027, -5074, -9026, -4166, -3488, -3342, -4098, -3529, -3431, -3101, -4255, -3529, -3524, -9026, -3890, -3442, -3878, -9026, -4247, -9026, -3890, -4022, -5312, -6030, -6135, -5807, -9026, -4307, -4143, -3299, -9026, -3969], -1386),
    'cc': ([-3461, -9026, -5890, -3951, -3545, -3562, -5499, -4362, -9026, -4022, -9026, -4401, -9026, -3356, -2574, -3558, -4289, -3305, -9026, -9026, -9026, -3129, -5807, -5693, -4482, -3140, -3366, -9026, -6135, -3579, -4222, -9026, -3861, -5219, -3646, -4247, -5362, -3844, -4135, -4182, -3896, -3822, -4214, -4113, -4022, -9026, -5018, -6081, -3481, -9026, -9026, -9026, -2969, -3989, -3346, -5890, -6461, -6253, -3596, -9026, -4063, -3932, -4264, -3833], -1386),
    'dd': ([-5981, -9026, -3614, -3017, -4049, -3976, -4035, -9026, -9026, -5768, -9026, -9026, -4205, -3795, -3339, -9026, -9026, -3405, -4264, -4281, -9026, -3000, -3541, -4070, -9026, -3391, -4084, -9026, -5848, -9026, -4182, -4205, -3435, -3435, -9026, -3619, -2799, -3427, -4008, -3391, -3091, -3914, -4272, -3541, -4106, -9026, -5000, -5592, -5312, -9026, -9026, -9026, -3352, -4150, -5154, -6192, -5807, -3541, -9026, -9026, -5890, -3322, -4344, -3512], -1386),
}


def q_langid_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID over the LEARNABLE fixture (operators/text.py:
    langid_score over fixtures.langid_corpus): the driver documents table
    shares one vocab across languages (TESTDATA.md - lang unlearnable),
    so this fixture provides disjoint per-language strata + shared filler
    + cross-language noise, every token an md5 function of (doc, pos).
    The oracle REGENERATES the corpus from range() and replays the
    multiclass scoring (per-language exact int64 milli sums, argmax CASE
    chain, lex-min tie-break) - full per-doc value verification of
    fixture, feature hashing, pooled scores, and predictions.
    sf-independent (fixed n=2000)."""
    from etl_file_loader_spark import fixtures

    docs = fixtures.langid_corpus(spark)
    scored = text_ops.langid_score(docs, "doc_id", "text", _LANGID_MODELS)
    langs = sorted(_LANGID_MODELS)
    return (
        scored.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            *[F.col(f"logit_{lg}") for lg in langs],
            "lang_pred",
            (F.col("lang_pred") == F.col("lang")).cast("int").cast("long").alias("correct"),
        )
        .orderBy("doc_id")
    )


def _langid_sql() -> str:
    langs = sorted(_LANGID_MODELS)
    w_cols = ",\n       ".join(
        f"[{', '.join(str(int(x)) for x in _LANGID_MODELS[lg][0])}] AS w_{lg}"
        for lg in langs
    )
    sums = ",\n         ".join(
        f"sum(w_{lg}[CAST(feature + 1 AS INT)]) AS s_{lg}" for lg in langs
    )
    logits = ",\n         ".join(
        f"CASE WHEN n = 0 THEN {_LANGID_MODELS[lg][1] / 1000.0!r} "
        f"ELSE {_LANGID_MODELS[lg][1] / 1000.0!r} + CAST(s_{lg} AS DOUBLE) / (1000.0 * n) END AS logit_{lg}"
        for lg in langs
    )
    # argmax CASE chain in ascending language order: ties go lex-min,
    # exactly the chain langid_score builds
    branches = []
    for k in range(len(langs) - 1):
        cond = " AND ".join(
            f"logit_{langs[k]} >= logit_{m}" for m in langs[k + 1 :]
        )
        branches.append(f"WHEN {cond} THEN '{langs[k]}'")
    chain = "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"
    lang_arr = "[" + ", ".join(f"'{lg}'" for lg in langs) + "]"
    return f"""
WITH params AS (
  SELECT {w_cols}
),
docs AS (
  SELECT i AS doc_id,
         {lang_arr}[CAST(i % 4 AS INT) + 1] AS lang,
         20 + CAST(i % 5 AS INT) AS len
  FROM range(0, 2000) t(i)
),
toks AS (
  SELECT d.doc_id, d.lang,
         CASE
           WHEN j % 3 = 0 THEN 'zz_' || CAST(
             CAST(('0x' || substr(md5('lid:' || d.doc_id || ':' || j), 1, 8)) AS BIGINT) % 20 AS VARCHAR)
           WHEN j % 7 = 1 THEN {lang_arr}[CAST(
             CAST(('0x' || substr(md5('lid:' || d.doc_id || ':' || j), 1, 8)) AS BIGINT) % 4 AS INT) + 1]
             || '_' || CAST(
             CAST(('0x' || substr(md5('lid:' || d.doc_id || ':' || j), 1, 8)) AS BIGINT) % 40 AS VARCHAR)
           ELSE d.lang || '_' || CAST(
             CAST(('0x' || substr(md5('lid:' || d.doc_id || ':' || j), 1, 8)) AS BIGINT) % 40 AS VARCHAR)
         END AS tok
  FROM docs d, unnest(range(0, d.len)) u(j)
),
feats AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(lower(tok)), 1, 8)) AS BIGINT) % {_LANGID_DIM} AS feature
  FROM toks
),
pooled AS (
  SELECT doc_id, lang, count(*) AS n,
         {sums}
  FROM feats, params GROUP BY doc_id, lang
),
scored AS (
  SELECT doc_id, lang, CAST(n AS BIGINT) AS n_tokens,
         {logits}
  FROM pooled
)
SELECT doc_id, lang, n_tokens,
       {", ".join(f"logit_{lg}" for lg in langs)},
       {chain} AS lang_pred,
       CAST(({chain}) = lang AS BIGINT) AS correct
FROM scored
ORDER BY doc_id
"""


Q_LANGID_FIXTURE_SQL = _langid_sql()

QUERIES.update({"langid_fixture": q_langid_fixture})
ORACLES.update({"langid_fixture": Q_LANGID_FIXTURE_SQL})


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 ⊕ dense cosine via reciprocal rank fusion (round 12)
# ---------------------------------------------------------------------------


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse+dense fusion (operators/text.py:rrf_fuse): the BM25 top-50
    (fixed term query) and the cosine top-50 (vec_id 0's embedding as the
    query) fuse by reciprocal rank — score = Σ 1/(60 + rank) — into a
    top-10 candidate pool, the hard-negative-mining / RAG-pooling shape.
    Full value oracle: both rankings and the fusion replay in SQL (rank
    math over already-rounded scores; every fused term is 1/(60+int), so
    the doubles agree bit-for-bit)."""
    from pyspark.sql.window import Window as W

    from etl_file_loader_spark.operators import similarity as sim_ops
    from etl_file_loader_spark.suite.similarity import _query_vec

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    sparse = text_ops.bm25_topk(
        docs, "doc_id", "text", _BM25_TERMS, k=_BM25_K, k1=_BM25_K1, b=_BM25_B
    )
    ws = W.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    sparse_r = sparse.select(
        "doc_id", F.row_number().over(ws).alias("rank")
    )
    dense = sim_ops.cosine_topk(
        emb, "vec_id", "embedding", _query_vec(spark, sf_dir), k=_BM25_K
    )
    wd = W.orderBy(F.col("score").desc(), F.col("vec_id"))
    dense_r = dense.select(
        F.col("vec_id").alias("doc_id"), F.row_number().over(wd).alias("rank")
    )
    return text_ops.rrf_fuse([sparse_r, dense_r], "doc_id", k0=60, k=10)


Q_HYBRID_RETRIEVAL_SQL = f"""
WITH sparse AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank_0
  FROM ({Q_BM25_RETRIEVAL_SQL})
),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
dense_scored AS (
  SELECT vec_id AS doc_id,
         round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qv, q.qv))), 4) AS score
  FROM embeddings e, q
  ORDER BY score DESC, vec_id
  LIMIT {_BM25_K}
),
dense AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank_1
  FROM dense_scored
)
SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id, s.rank_0, d.rank_1,
       round(COALESCE(1.0 / (60.0 + CAST(s.rank_0 AS DOUBLE)), 0.0)
             + COALESCE(1.0 / (60.0 + CAST(d.rank_1 AS DOUBLE)), 0.0), 6) AS rrf
FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
ORDER BY rrf DESC, doc_id
LIMIT 10
"""

QUERIES.update({"hybrid_retrieval": q_hybrid_retrieval})
ORACLES.update({"hybrid_retrieval": Q_HYBRID_RETRIEVAL_SQL})
