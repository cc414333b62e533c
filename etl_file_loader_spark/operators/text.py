"""Text-analysis operators for document pipelines.

All pure Column expressions (whole-stage codegen, no UDFs): language-ID
(stopword-marker heuristic), quality scoring (length/punctuation/stopword
ratios), token counting (whitespace + BPE-ish subword estimate), document
fingerprinting (canonicalized word-set hash). Each is a narrow projection —
at 100 TB these run at scan speed with zero shuffle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from etl_file_loader_spark.functions import token_hash32, tokens
from etl_file_loader_spark.operators.cache import pin
from etl_file_loader_spark.operators.persist import MaintainedIndex

# tiny per-language stopword marker sets (heuristic language ID)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "es": ["el", "la", "que", "los", "es"],
    "fr": ["le", "la", "les", "est", "une"],
}

EN_STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def token_count(text: Column) -> Column:
    """Whitespace token count; empty/blank text -> 0."""
    return F.size(tokens(text))


def subword_estimate(text: Column) -> Column:
    """BPE-ish token estimate: word-boundary pieces + long words split ~4 chars.

    count = Σ ceil(len(word)/4) over whitespace words — a deterministic,
    vocabulary-free stand-in for a real tokenizer's piece count.
    """
    return F.aggregate(
        tokens(text),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("long"),
    )


# The three ratio helpers are BRANCH-FREE on purpose (round 12, the
# measured CSE rule): the old `when(empty, 0.0).otherwise(ratio)` guards
# put the tokenize/regex subtree inside a conditional branch, which
# excludes it from Spark's runtime subexpression elimination — so a
# composite like quality_score (or any filter that inlines it) re-ran the
# split per reference. `x / greatest(denominator, 1)` is value-identical:
# an empty input has numerator exactly 0, so 0/1 == the old literal 0.0,
# and a null input propagates null through both forms.


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    sw = [s.lower() for s in (stopwords or EN_STOPWORDS)]
    toks = tokens(text)
    n_stop = F.size(F.filter(toks, lambda w: F.lower(w).isin(sw)))
    return F.round(n_stop / F.greatest(F.size(toks), F.lit(1)), 6)


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.round(n_punct / F.greatest(F.length(text), F.lit(1)), 6)


def mean_word_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
    return F.round(total / F.greatest(F.size(toks), F.lit(1)), 6)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic.

    0.4 * length-band score (50..5000 chars full credit)
    + 0.3 * (1 - punct_ratio clipped at 0.3 scale)
    + 0.3 * stopword presence band (0.02..0.6 full credit)
    Deterministic, expression-only; thresholds are engine constants.
    """
    n = F.length(text)
    len_score = (
        F.when(n <= 0, 0.0)
        .when(n < 50, n / F.lit(50.0))
        .when(n <= 5000, F.lit(1.0))
        .otherwise(F.greatest(F.lit(0.2), F.lit(5000.0) / n))
    )
    p = punct_ratio(text)
    punct_score = F.greatest(F.lit(0.0), F.lit(1.0) - p / F.lit(0.3))
    s = stopword_ratio(text)
    stop_score = F.when((s >= 0.02) & (s <= 0.6), 1.0).otherwise(0.5)
    return F.round(0.4 * len_score + 0.3 * punct_score + 0.3 * stop_score, 6)


def language_id(text: Column, markers: dict[str, list[str]] | None = None) -> Column:
    """Argmax of per-language stopword-marker hit counts; tie/zero -> 'und'.

    Ties break by language code ascending (deterministic). Branch-free
    argmax (round 12, the langid_score CSE rule): each score occurs
    exactly once, inside an UNCONDITIONAL struct array, so the token
    transform is subexpression-eliminated even when a downstream filter
    inlines this whole expression; the old when-chain put every score
    reference in a conditional and re-ran the tokenize per language.
    """
    markers = markers or LANG_MARKERS
    toks = F.transform(tokens(text), lambda w: F.lower(w))
    scores = [
        (lang, F.size(F.filter(toks, lambda w: w.isin(words))))
        for lang, words in sorted(markers.items())
    ]
    best = F.array_min(
        F.array(
            *[
                F.struct((-s).alias("ns"), F.lit(lang).alias("lg"))
                for lang, s in scores
            ]
        )
    )
    return F.when(best.getField("ns") < 0, best.getField("lg")).otherwise(
        F.lit("und")
    )


def fingerprint(text: Column) -> Column:
    """Canonical word-set fingerprint: md5 of sorted distinct lowercased words.

    The classic key-collapsing fingerprint (case/order/duplication invariant).
    """
    canon = F.concat_ws(
        " ", F.array_sort(F.array_distinct(F.transform(tokens(text), lambda w: F.lower(w))))
    )
    return F.md5(canon)


def profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-pass text profile with all analysis columns."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        subword_estimate(t).alias("n_subwords"),
        F.length(t).alias("n_chars"),
        stopword_ratio(t).alias("stopword_ratio"),
        punct_ratio(t).alias("punct_ratio"),
        mean_word_length(t).alias("mean_word_len"),
        quality_score(t).alias("quality"),
        language_id(t).alias("lang_pred"),
        fingerprint(t).alias("fingerprint"),
    )


def rolling_fingerprint(text: Column, prime: int = 2147483647) -> Column:
    """Polynomial (Rabin-Karp-style) rolling hash over the character stream.

    acc = (acc * 31 + codepoint) mod p — order-sensitive (unlike the
    word-set ``fingerprint``), so it distinguishes permuted documents.
    Pure expression fold; identical in any engine with a list reduce.
    """
    chars = F.filter(F.split(text, ""), lambda c: c != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % prime,
    )


# ---------------------------------------------------------------------------
# model-based quality filtering (fastText/CCNet-style linear classifiers)
# ---------------------------------------------------------------------------


def hashed_feature_indices(text: Column, dim: int) -> Column:
    """Hashing-trick feature index per token: portable md5-hash mod dim.

    The fastText deployment shape — no vocabulary table, just a hash into a
    fixed weight array. Engine-portable: DuckDB computes the same index as
    ``CAST('0x' || substr(md5(lower(w)),1,8) AS BIGINT) % dim``.
    """
    return F.transform(
        tokens(text), lambda w: F.pmod(token_hash32(F.lower(w)), F.lit(dim))
    )


def classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights_milli: list[int],
    bias_milli: int = 0,
    threshold_milli: int = 0,
) -> DataFrame:
    """Hashed linear quality classifier: mean-pooled bag-of-words logit.

    The model-based corpus filter (CCNet / GPT-3's LR filter, fastText
    quality heads): ``logit = bias + mean(weight[hash(token) % dim])``,
    ``keep = logit >= threshold``. Weights arrive as INTEGER milli-units so
    the pooled sum accumulates exactly in int64 (order-free, engine-exact);
    the only float ops are one division and one addition at the end — the
    whole score is a deterministic pure-column expression, scan-speed and
    shuffle-free at any scale. Thresholding on the logit is equivalent to
    thresholding the sigmoid (monotone), so no transcendental is needed.

    This inline form embeds the weight array in the plan — right for hashed
    models up to ~10^5 dims. For vocabulary-sized models use
    :func:`classifier_score_joined` (weights as a table).
    """
    dim = len(weights_milli)
    warr = F.array(*[F.lit(int(w)) for w in weights_milli])
    # Alias the feature-index array in its OWN projection: the null-safety
    # wrapper below references n (hence size of the index array) six times,
    # and Catalyst does not CSE the expensive tokenize+md5 subtree across
    # When/Coalesce branches in this non-codegen (HOF) projection — inlining
    # idx at every reference measured 2.1x slower at sf0.1 (the round-5
    # bench regression). CollapseProject keeps the two projections separate
    # exactly because the alias is expensive and multiply-referenced, so the
    # array is computed once per row and every later reference is a cheap
    # attribute read.
    base = df.select(
        F.col(id_col), hashed_feature_indices(F.col(text_col), dim).alias("_f")
    )
    ix = F.col("_f")
    # null text -> tokens() yields a null array -> size() is null/-1; coalesce
    # so null behaves as empty (n=0 -> logit=bias), bit-identical to the
    # joined form's explode_outer path.
    n = F.coalesce(F.size(ix), F.lit(0))
    n = F.when(n < 0, F.lit(0)).otherwise(n)
    s = F.aggregate(
        ix,
        F.lit(0).cast("long"),
        lambda acc, i: acc + F.element_at(warr, (i + 1).cast("int")),
    )
    bias = float(bias_milli) / 1000.0
    logit = F.when(n == 0, F.lit(bias)).otherwise(
        F.lit(bias) + s.cast("double") / (F.lit(1000.0) * n)
    )
    return base.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        logit.alias("logit"),
    ).withColumn(
        "keep", (F.col("logit") >= F.lit(float(threshold_milli) / 1000.0)).cast("int")
    )


def fit_classifier_nb(
    df: DataFrame,
    text_col: str,
    label_col: str,
    dim: int = 64,
    alpha: float = 1.0,
) -> tuple[list[int], int]:
    """Closed-form distributed fit for :func:`classifier_score`:
    per-feature Naive-Bayes log-odds over hashed token counts.

    ``weight[f] = 1000 * (ln((pos_f + a)/(P + a*dim)) - ln((neg_f + a)/(N + a*dim)))``
    with P/N the total positive/negative token mass and ``a`` the Laplace
    smoothing; ``bias = 1000 * ln(pos_docs + a / neg_docs + a)``. This is
    the SGD-free trainable path (multinomial NB is the classic
    linear-classifier closed form — one aggregation, no iterations):
    explode tokens -> hash -> ONE feature-keyed aggregation (shuffle
    bounded by ``dim``), then only ``dim`` count rows ever reach the
    driver. Works at any corpus size.

    Returns integer MILLI-UNIT weights that plug straight into
    :func:`classifier_score` / :func:`classifier_score_joined`, keeping the
    fitted model oracle-checkable (thresholding mean log-odds at
    ``threshold_milli=bias_milli`` keeps docs whose mean feature log-odds
    favor the positive class).
    """
    import math

    y = F.when(F.col(label_col).cast("int") >= 1, 1).otherwise(0)
    ex = df.select(
        y.alias("_y"),
        F.explode(hashed_feature_indices(F.col(text_col), dim)).alias("feature"),
    )
    agg = ex.groupBy("feature").agg(
        F.sum(F.col("_y")).cast("long").alias("pos"),
        F.sum(1 - F.col("_y")).cast("long").alias("neg"),
    )
    counts = {int(r["feature"]): (r["pos"], r["neg"]) for r in agg.collect()}
    total_pos = sum(p for p, _ in counts.values())
    total_neg = sum(n for _, n in counts.values())
    doc_tot = df.agg(
        F.sum(y).alias("dp"), F.count(F.lit(1)).alias("dt")
    ).collect()[0]
    dp, dn = int(doc_tot["dp"] or 0), int(doc_tot["dt"]) - int(doc_tot["dp"] or 0)
    weights = [
        round(
            1000.0
            * (
                math.log((counts.get(f, (0, 0))[0] + alpha) / (total_pos + alpha * dim))
                - math.log((counts.get(f, (0, 0))[1] + alpha) / (total_neg + alpha * dim))
            )
        )
        for f in range(dim)
    ]
    bias = round(1000.0 * math.log((dp + alpha) / (dn + alpha)))
    return weights, bias


def fit_classifier_lr(
    df: DataFrame,
    text_col: str,
    label_col: str,
    dim: int = 64,
    max_iter: int = 50,
    reg_param: float = 0.0,
) -> tuple[list[int], int]:
    """Iterative twin of :func:`fit_classifier_nb`: distributed logistic
    regression (``pyspark.ml``) on mean-pooled hashed bag-of-words
    features — the SAME feature map :func:`classifier_score` applies
    (md5-hash mod dim, counts normalized by doc length), so the exported
    milli-unit coefficients reproduce the trained model's logit exactly
    (modulo milli rounding) in the pure-expression scorer and its DuckDB
    oracle.

    Fit cost is the usual L-BFGS passes over the labeled seed set; labeled
    seed sets are small by construction (CCNet fits on ~10^5 docs), so the
    per-doc vector-assembly UDF sits outside any corpus-scale hot path —
    SCORING always runs through the expression engine.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import SparseVector, VectorUDT

    idx = hashed_feature_indices(F.col(text_col), dim)

    @F.udf(VectorUDT())
    def to_vec(idxs):
        from collections import Counter

        if not idxs:
            return SparseVector(dim, {})
        c = Counter(int(i) for i in idxs)
        n = len(idxs)
        return SparseVector(dim, {k: v / n for k, v in sorted(c.items())})

    train = df.select(
        F.when(F.col(label_col).cast("int") >= 1, 1.0).otherwise(0.0).alias("label"),
        to_vec(idx).alias("features"),
    )
    model = LogisticRegression(maxIter=max_iter, regParam=reg_param).fit(train)
    weights = [round(1000.0 * float(c)) for c in model.coefficients]
    bias = round(1000.0 * float(model.intercept))
    return weights, bias


def fit_langid_nb(
    df: DataFrame,
    text_col: str,
    lang_col: str,
    dim: int = 128,
    alpha: float = 1.0,
) -> dict[str, tuple[list[int], int]]:
    """Multiclass twin of :func:`fit_classifier_nb` for language ID:
    per-language multinomial Naive Bayes over hashed token counts,
    fitted in ONE feature-keyed aggregation (groupBy(feature, lang) —
    shuffle bounded by dim x n_languages; only that many count rows
    reach the driver, so the fit works at any corpus size).

    ``weights[L][f] = round(1000 * ln((cnt[f,L] + a) / (tok_L + a*dim)))``
    and ``bias[L] = round(1000 * ln((docs_L + a) / (docs + a*n_langs)))``
    — integer MILLI-unit scores that plug into :func:`langid_score`,
    keeping the fitted model oracle-checkable (argmax over mean-pooled
    class log-probabilities)."""
    import math

    ex = df.select(
        F.col(lang_col).alias("_lang"),
        F.explode(hashed_feature_indices(F.col(text_col), dim)).alias("feature"),
    )
    agg = ex.groupBy("feature", "_lang").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    counts: dict[str, dict[int, int]] = {}
    for r in agg.collect():
        counts.setdefault(r["_lang"], {})[int(r["feature"])] = int(r["cnt"])
    doc_counts = {
        r["_lang"]: int(r["cnt"])
        for r in df.groupBy(F.col(lang_col).alias("_lang"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    total_docs = sum(doc_counts.values())
    n_langs = len(doc_counts)
    models: dict[str, tuple[list[int], int]] = {}
    for lang in sorted(doc_counts):
        per_f = counts.get(lang, {})
        tok_total = sum(per_f.values())
        weights = [
            round(
                1000.0
                * math.log((per_f.get(f, 0) + alpha) / (tok_total + alpha * dim))
            )
            for f in range(dim)
        ]
        bias = round(
            1000.0
            * math.log((doc_counts[lang] + alpha) / (total_docs + alpha * n_langs))
        )
        models[lang] = (weights, bias)
    return models


def langid_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    models: dict[str, tuple[list[int], int]],
) -> DataFrame:
    """Multiclass hashed-NB language ID scorer — pure column expressions
    (the :func:`classifier_score` discipline): ONE shared hashed-feature
    array per doc (aliased in its own projection so the expensive
    tokenize+md5 subtree is computed once, not once per language), one
    exact int64 milli-unit sum per language, then a BRANCH-FREE argmax —
    ``array_min`` over ``struct(-logit, lang)`` structs, which picks the
    max logit with ties to the lexicographically smallest language
    (identical semantics to the CASE-chain argmax the SQL oracles replay;
    exact-double comparisons both ways).

    Branch-free is load-bearing, not style (round 12, the same measured
    CSE rule as the URL operators): a CASE-chain argmax puts every logit
    reference inside a CONDITIONAL, and conditional occurrences are
    excluded from Spark's runtime subexpression elimination — so when a
    downstream gate filters on ``lang_pred`` (CurationPipeline stage 1c),
    Catalyst collapses the projections and the tokenize+md5 fold re-runs
    per logit reference, ~12x for four languages. Measured at sf10
    (500k extracted docs, the composed-curation probe): the langid
    semi-join stage cost 74.3 s with the CASE chain vs 9.0 s scoring the
    same frame once; the struct-array argmax keeps every occurrence
    unconditional so CSE collapses them — see NOTES_r12 §8.

    Output: (id, n_tokens, logit_<lang>... in sorted order, lang_pred).
    """
    langs = sorted(models)
    dims = {len(w) for w, _ in models.values()}
    if len(dims) != 1:
        raise ValueError(f"inconsistent model dims: {sorted(dims)}")
    dim = dims.pop()
    base = df.select(
        F.col(id_col).alias("_id"),
        hashed_feature_indices(F.col(text_col), dim).alias("_f"),
    )
    ix = F.col("_f")
    # branch-free throughout (same CSE rule as the argmax below): the
    # empty-doc guard is algebraic, not a CASE — greatest() instead of
    # when() for the size clamp, and greatest(n, 1) as the divisor: for
    # n = 0 the fold over the empty array is exactly 0, so
    # b + 0/1000.0 == b bit-for-bit, the old when(n == 0, b) value. A
    # when() here would wrap every fold in a conditional and exclude the
    # shared _f hashing from runtime subexpression elimination the moment
    # a downstream filter inlines these expressions.
    n = F.greatest(F.coalesce(F.size(ix), F.lit(0)), F.lit(0))
    cols = [F.col("_id").alias(id_col), n.cast("long").alias("n_tokens")]

    def weight_sum(warr: Column):
        # closure factory, NOT a default param: PySpark infers HOF arity
        # from the lambda's parameter count, so `lambda acc, i, w=warr`
        # would be dispatched as a 3-arg merge and break
        return lambda acc, i: acc + F.element_at(warr, (i + 1).cast("int"))

    logits: dict[str, Column] = {}
    for lang in langs:
        weights, bias_milli = models[lang]
        warr = F.array(*[F.lit(int(w)) for w in weights])
        s = F.coalesce(
            F.aggregate(ix, F.lit(0).cast("long"), weight_sum(warr)),
            F.lit(0).cast("long"),
        )
        b = float(bias_milli) / 1000.0
        logits[lang] = F.lit(b) + s.cast("double") / (
            F.lit(1000.0) * F.greatest(n, F.lit(1)).cast("double")
        )
        cols.append(logits[lang].alias(f"logit_{lang}"))
    # branch-free argmax: each logit expression occurs exactly twice in
    # ONE projection (its output column + one struct slot), both
    # UNCONDITIONAL, so runtime CSE evaluates the fold + the shared _f
    # hashing once per row no matter how a downstream filter inlines this
    # (negating a double is exact; struct order = (-logit, lang) ==
    # max-logit-ties-to-smallest-lang, the CASE chain's exact semantics)
    pred = F.array_min(
        F.array(
            *[
                F.struct((-logits[lang]).alias("nl"), F.lit(lang).alias("lg"))
                for lang in langs
            ]
        )
    ).getField("lg")
    return base.select(*cols, pred.alias("lang_pred"))


def classifier_score_joined(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    dim: int,
    bias_milli: int = 0,
    threshold_milli: int = 0,
) -> DataFrame:
    """The table-weights twin of :func:`classifier_score` for models too
    large to inline: ``weights`` is (feature INT, w_milli LONG).

    explode tokens -> hash index -> join weights -> re-aggregate per doc.
    The join keys on the feature index; for classifier-sized tables (10^5 -
    10^7 rows) AQE broadcasts the weight side, so the corpus never
    shuffles — the scan streams through a broadcast hash join and one
    doc-keyed partial aggregation. Missing features weigh 0. Results are
    bit-identical to the inline form on the same weights.
    """
    ex = df.select(
        F.col(id_col),
        F.explode_outer(hashed_feature_indices(F.col(text_col), dim)).alias("feature"),
    )
    j = ex.join(weights, "feature", "left")
    agg = j.groupBy(id_col).agg(
        F.sum(F.when(F.col("feature").isNotNull(), F.coalesce(F.col("w_milli"), F.lit(0))))
        .cast("long")
        .alias("_s"),
        F.count(F.col("feature")).alias("_n"),
    )
    bias = float(bias_milli) / 1000.0
    logit = F.when(F.col("_n") == 0, F.lit(bias)).otherwise(
        F.lit(bias) + F.col("_s").cast("double") / (F.lit(1000.0) * F.col("_n"))
    )
    return agg.select(
        F.col(id_col),
        F.col("_n").cast("long").alias("n_tokens"),
        logit.alias("logit"),
    ).withColumn(
        "keep", (F.col("logit") >= F.lit(float(threshold_milli) / 1000.0)).cast("int")
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 1,
) -> DataFrame:
    """Corpus-trained unigram LM scoring: per-doc mean log-probability —
    the perplexity-style fluency filter (CCNet's LM stage, with the corpus
    itself as the LM here; swap ``df``-derived vocab for a reference-corpus
    vocab table to score against an external LM).

    Shape at scale: explode tokens (shuffle ∝ corpus tokens) -> vocab count
    aggregate -> token-keyed join back -> per-doc aggregate. The per-doc
    log-prob sum is folded over the doc's (count -> multiplicity) profile
    in ascending-count order — a canonical, engine-reproducible float
    summation order (ln itself may differ by 1 ulp between libm
    implementations; with the fixed fold order the accumulated divergence
    stays ~1e-13, far inside the round(6) grid).

    Tokens with corpus count < ``min_count`` are OOV: counted in ``n_oov``
    and excluded from the mean. Docs with no scored tokens get NULL.
    Output: (id, n_tokens, n_oov, mean_logprob).

    Skew note: the token-keyed join back is 1:N with Zipf-hot keys ("the"
    lands one shuffle partition). It never explodes (one vocab row per
    token) and AQE's skew-join split applies to the streaming side of this
    left join; for an external-LM variant, broadcast the head vocabulary
    (top ~10^4 tokens carry most occurrences) and shuffle only the tail.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.transform(tokens(F.col(text_col)), lambda w: F.lower(w))).alias(
            "tok"
        ),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("_T"))
    kept = vocab.filter(F.col("c") >= min_count)
    j = toks.join(kept, "tok", "left")
    prof = j.groupBy(id_col, "c").agg(F.count(F.lit(1)).alias("m"))
    doc = prof.groupBy(id_col).agg(
        F.sum("m").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("c").isNull(), F.col("m")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_oov"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("c").isNotNull(),
                    F.struct(
                        F.col("c").cast("long").alias("c"),
                        F.col("m").cast("long").alias("m"),
                    ),
                )
            )
        ).alias("_profile"),
    )
    scored = doc.crossJoin(F.broadcast(total))
    n_scored = F.col("n_tokens") - F.col("n_oov")
    lp_sum = F.aggregate(
        F.col("_profile"),
        F.lit(0.0),
        lambda acc, s: acc
        + s["m"].cast("double") * (F.log(s["c"].cast("double")) - F.log(F.col("_T"))),
    )
    out = scored.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("n_oov"),
        F.when(n_scored == 0, F.lit(None).cast("double"))
        .otherwise(F.round(lp_sum / n_scored, 6))
        .alias("mean_logprob"),
    )
    # docs whose text has zero tokens vanish at the explode — reinstate
    base = df.select(F.col(id_col))
    return base.join(out, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce(F.col("n_oov"), F.lit(0)).cast("long").alias("n_oov"),
        F.col("mean_logprob"),
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Corpus-trained bigram LM scoring: per-doc mean conditional
    log-probability ``mean(ln(c(prev,w) / ctx(prev)))`` — the next rung of
    the fluency-filter ladder after :func:`unigram_logprob` (real pipelines
    use 5-gram KenLM; the bigram is the same estimator with the same
    distributed shape, one order up).

    ``ctx(prev)`` is the CONTEXT count (occurrences of ``prev`` as a bigram
    left side, Σ_w c(prev,w)), so probabilities normalize exactly:
    Σ_w P(w|prev) = 1 with no boundary slack.

    Shape: one bigram explode (shuffle ∝ tokens) -> bigram + context count
    aggregates -> key-joined back -> per-doc aggregate. The per-doc sum
    folds over the (c_bigram, ctx -> multiplicity) profile in ascending
    order — the same canonical, engine-reproducible summation order as the
    unigram op (ln is 1-ulp engine-dependent). Docs with < 2 tokens have
    no bigrams: n_bigrams = 0, NULL score.
    """
    toks = F.transform(tokens(F.col(text_col)), lambda w: F.lower(w))
    bg_arr = F.when(F.size(toks) < 2, F.array().cast("array<struct<p:string,w:string>>")).otherwise(
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda p, w: F.struct(p.alias("p"), w.alias("w")),
        )
    )
    bg = df.select(F.col(id_col), F.explode(bg_arr).alias("_b")).select(
        F.col(id_col), F.col("_b.p").alias("p"), F.col("_b.w").alias("w")
    )
    cb = bg.groupBy("p", "w").agg(F.count(F.lit(1)).alias("cb"))
    # ctx derives from the TYPE table (Σ_w cb(p,w) == occurrences of p as
    # a left side — exact integer algebra), and the count tables pre-join
    # into one scored type table so the bigram STREAM is joined (and
    # shuffled) once on (p, w) — reusing cb's exchange — instead of once
    # per count table (round 15, guide §2.4; the old shape re-exploded
    # the stream for ctx and reshuffled the full stream+payload by p).
    ctx = cb.groupBy("p").agg(F.sum("cb").alias("ctx"))
    typ = cb.join(ctx, "p")
    j = bg.join(typ, ["p", "w"])
    prof = j.groupBy(id_col, "cb", "ctx").agg(F.count(F.lit(1)).alias("m"))
    doc = prof.groupBy(id_col).agg(
        F.sum("m").cast("long").alias("n_bigrams"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("cb").cast("long").alias("cb"),
                    F.col("ctx").cast("long").alias("ctx"),
                    F.col("m").cast("long").alias("m"),
                )
            )
        ).alias("_profile"),
    )
    lp_sum = F.aggregate(
        F.col("_profile"),
        F.lit(0.0),
        lambda acc, s: acc
        + s["m"].cast("double")
        * (F.log(s["cb"].cast("double")) - F.log(s["ctx"].cast("double"))),
    )
    out = doc.select(
        F.col(id_col),
        F.col("n_bigrams"),
        F.round(lp_sum / F.col("n_bigrams"), 6).alias("mean_logprob"),
    )
    base = df.select(F.col(id_col))
    return base.join(out, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.col("mean_logprob"),
    )


def trigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Corpus-trained trigram LM with interpolated (Jelinek-Mercer) backoff:
    per-doc mean of ``ln(0.6*P3 + 0.3*P2 + 0.1*P1)`` over trigram positions
    — the order-3 rung of the CCNet fluency-filter ladder (round 7, one up
    from :func:`bigram_logprob`; real pipelines run 5-gram KenLM, which is
    this estimator with Kneser-Ney discounts instead of fixed lambdas).

    Each order is exactly normalized over its own event space (context
    counts are sums over the order's events, so Σ_w P_k(w|·) = 1), and the
    fixed-lambda mixture therefore normalizes too — no boundary slack, and
    unseen-in-context words still score via the lower orders (the backoff
    property the pure trigram MLE lacks).

    Distributed shape: three event explodes (shuffle ∝ tokens) -> count
    aggregates per order -> key-joined back to the trigram stream -> one
    per-doc aggregate. Cross-engine parity discipline: the mixture is
    computed in ONE fixed left-to-right double expression (identical parse
    in Spark and DuckDB), and the per-doc sum folds over the
    (c3, x3, c2, x2, c1 -> multiplicity) profile in ascending sorted order
    — the canonical-fold rule that keeps 1-ulp ``ln`` engine drift from
    compounding differently per engine. Docs with < 3 tokens: n_trigrams =
    0, NULL score.
    """
    toks_expr = F.transform(tokens(F.col(text_col)), lambda w: F.lower(w))
    # bind-once: the token array feeds three event builders below
    base = df.select(F.col(id_col), toks_expr.alias("_toks"))
    t = F.col("_toks")

    tg_arr = F.when(
        F.size(t) < 3, F.array().cast("array<struct<p2:string,p1:string,w:string>>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(t) - 3),
            lambda i: F.struct(
                F.get(t, i).alias("p2"),
                F.get(t, i + 1).alias("p1"),
                F.get(t, i + 2).alias("w"),
            ),
        )
    )
    bg_arr = F.when(
        F.size(t) < 2, F.array().cast("array<struct<p1:string,w:string>>")
    ).otherwise(
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda p, w: F.struct(p.alias("p1"), w.alias("w")),
        )
    )

    tg = base.select(F.col(id_col), F.explode(tg_arr).alias("_t")).select(
        F.col(id_col), "_t.p2", "_t.p1", "_t.w"
    )
    bg = base.select(F.explode(bg_arr).alias("_b")).select("_b.p1", "_b.w")
    ug = base.select(F.explode(t).alias("w"))

    # context totals derive from the TYPE tables (Σ over the last key ==
    # the context's occurrence count — exact integer algebra) instead of
    # re-aggregating the exploded streams, and the five count tables
    # pre-join into ONE scored type table keyed (p2, p1, w) so the
    # trigram STREAM is joined/shuffled once — reusing c3's exchange —
    # instead of five times with the full doc_id payload (round 15,
    # guide §2.4; the old shape also re-tokenized the corpus for each
    # context aggregate).
    c3 = tg.groupBy("p2", "p1", "w").agg(F.count(F.lit(1)).alias("c3"))
    x3 = c3.groupBy("p2", "p1").agg(F.sum("c3").alias("x3"))
    c2 = bg.groupBy("p1", "w").agg(F.count(F.lit(1)).alias("c2"))
    x2 = c2.groupBy("p1").agg(F.sum("c2").alias("x2"))
    c1 = ug.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    n1 = c1.agg(F.sum("c1").alias("n1"))

    typ = (
        c3.join(x3, ["p2", "p1"])
        .join(c2, ["p1", "w"])
        .join(x2, ["p1"])
        .join(c1, ["w"])
    )
    j = tg.join(typ, ["p2", "p1", "w"])
    prof = j.groupBy(id_col, "c3", "x3", "c2", "x2", "c1").agg(
        F.count(F.lit(1)).alias("m")
    )
    doc = prof.groupBy(id_col).agg(
        F.sum("m").cast("long").alias("n_trigrams"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("c3").cast("long").alias("c3"),
                    F.col("x3").cast("long").alias("x3"),
                    F.col("c2").cast("long").alias("c2"),
                    F.col("x2").cast("long").alias("x2"),
                    F.col("c1").cast("long").alias("c1"),
                    F.col("m").cast("long").alias("m"),
                )
            )
        ).alias("_profile"),
    ).crossJoin(F.broadcast(n1))
    # ONE left-to-right mixture expression, identical in the SQL twin
    lp_sum = F.aggregate(
        F.col("_profile"),
        F.lit(0.0),
        lambda acc, s: acc
        + s["m"].cast("double")
        * F.log(
            F.lit(0.6) * (s["c3"].cast("double") / s["x3"].cast("double"))
            + F.lit(0.3) * (s["c2"].cast("double") / s["x2"].cast("double"))
            + F.lit(0.1) * (s["c1"].cast("double") / F.col("n1").cast("double"))
        ),
    )
    out = doc.select(
        F.col(id_col),
        F.col("n_trigrams"),
        F.round(lp_sum / F.col("n_trigrams"), 6).alias("mean_logprob"),
    )
    return df.select(F.col(id_col)).join(out, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_trigrams"), F.lit(0)).cast("long").alias("n_trigrams"),
        F.col("mean_logprob"),
    )


def kn_bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    discount: float = 0.75,
) -> DataFrame:
    """Corpus-trained INTERPOLATED KNESER-NEY bigram LM scoring — the
    smoothing real fluency filters use (CCNet's 5-gram KenLM is exactly
    this estimator at order 5): per-doc mean of

        ``ln( (c(p,w) - D)/ctx(p) + D * f(p)/ctx(p) * pc(w)/B )``

    where ``c`` is the bigram count, ``ctx(p)`` the context total,
    ``f(p) = N1+(p,·)`` the distinct-follower count of ``p``,
    ``pc(w) = N1+(·,w)`` the distinct-predecessor count of ``w`` (the
    Kneser-Ney CONTINUATION numerator — "how many contexts does ``w``
    complete", not "how often does ``w`` occur"), and ``B`` the total
    distinct bigram types. ``D`` is the fixed absolute discount (0.75,
    the standard default; the Chen-Goodman estimate n1/(n1+2 n2) lands
    near it on natural text). The estimator normalizes EXACTLY over the
    full vocabulary: observed types sum to ``(ctx - D·f)/ctx`` and the
    reserved mass ``D·f/ctx`` distributes over ALL continuations, whose
    probabilities ``pc/B`` sum to 1 — so scoring unseen pairs would need
    no renormalization (here every scored bigram is corpus-observed, as
    in the other rungs; the backoff term still reshapes every score by
    continuation probability, which is what distinguishes KN from the
    Jelinek-Mercer mixture of :func:`trigram_logprob`).

    Distributed shape — CHEAPER than the bigram MLE rung despite the
    richer model: one bigram explode (shuffle ∝ tokens) -> ONE bigram-type
    aggregate; ``ctx``+``f`` derive from a groupBy of that TYPE table
    (rows ∝ distinct bigrams, not tokens), ``pc`` from another, ``B`` from
    a 1-row scalar aggregate (broadcast) -> key-joined back -> one per-doc
    fold over the ascending-sorted (c, ctx, f, pc -> multiplicity)
    profile with the mixture written as ONE fixed left-to-right double
    expression — the canonical cross-engine discipline of the LM ladder.
    Docs with < 2 tokens: n_bigrams = 0, NULL score.
    """
    toks = F.transform(tokens(F.col(text_col)), lambda w: F.lower(w))
    bg_arr = F.when(
        F.size(toks) < 2, F.array().cast("array<struct<p:string,w:string>>")
    ).otherwise(
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda p, w: F.struct(p.alias("p"), w.alias("w")),
        )
    )
    bg = df.select(F.col(id_col), F.explode(bg_arr).alias("_b")).select(
        F.col(id_col), F.col("_b.p").alias("p"), F.col("_b.w").alias("w")
    )
    cb = bg.groupBy("p", "w").agg(F.count(F.lit(1)).alias("c"))
    ctxf = cb.groupBy("p").agg(
        F.sum("c").alias("ctx"), F.count(F.lit(1)).alias("f")
    )
    pc = cb.groupBy("w").agg(F.count(F.lit(1)).alias("pc"))
    bt = cb.agg(F.count(F.lit(1)).alias("bt"))
    # pre-join the count tables into one scored type table so the bigram
    # STREAM is joined/shuffled once on (p, w) — reusing cb's exchange —
    # instead of three times with the doc_id payload (round 15, §2.4)
    typ = cb.join(ctxf, "p").join(pc, "w")
    j = bg.join(typ, ["p", "w"])
    prof = j.groupBy(id_col, "c", "ctx", "f", "pc").agg(
        F.count(F.lit(1)).alias("m")
    )
    doc = prof.groupBy(id_col).agg(
        F.sum("m").cast("long").alias("n_bigrams"),
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("c").cast("long").alias("c"),
                    F.col("ctx").cast("long").alias("ctx"),
                    F.col("f").cast("long").alias("f"),
                    F.col("pc").cast("long").alias("pc"),
                    F.col("m").cast("long").alias("m"),
                )
            )
        ).alias("_profile"),
    ).crossJoin(F.broadcast(bt))
    # ONE left-to-right mixture expression, identical in the SQL twin
    lp_sum = F.aggregate(
        F.col("_profile"),
        F.lit(0.0),
        lambda acc, s: acc
        + s["m"].cast("double")
        * F.log(
            (s["c"].cast("double") - F.lit(discount)) / s["ctx"].cast("double")
            + F.lit(discount)
            * s["f"].cast("double")
            / s["ctx"].cast("double")
            * s["pc"].cast("double")
            / F.col("bt").cast("double")
        ),
    )
    out = doc.select(
        F.col(id_col),
        F.col("n_bigrams"),
        F.round(lp_sum / F.col("n_bigrams"), 6).alias("mean_logprob"),
    )
    return df.select(F.col(id_col)).join(out, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long").alias("n_bigrams"),
        F.col("mean_logprob"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns stay inside the Java-regex / RE2 common subset (no backrefs, no
# lookaround) so the DuckDB oracle evaluates the exact same automata.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}
# Redaction order matters: SSN (3-2-4) before phone (3-3-4) so neither
# partially consumes the other; email first because it may contain digits.
PII_ORDER = ["email", "ssn", "phone"]


def ngram_novelty(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """Per-document n-gram novelty — the dedup-adjacent quality signal
    (RefinedWeb/FineWeb report it as 'fraction of text not duplicated
    elsewhere'): for each doc, the share of its n-gram OCCURRENCES whose
    n-gram appears nowhere else in the corpus (corpus count == its count
    in this doc). Low novelty = boilerplate/template text even when no
    single document is a near-duplicate.

    Plan: token n-grams (scan-side HOF) -> (doc, gram) counts -> corpus
    count per gram as ONE window over the gram (guide §2.4: the old
    groupBy(gram) + join back shuffled the count table twice for the
    same key; an int-sum window over identical rows is the identical
    value) -> per-doc ratio of exact BIGINTs with ONE division.
    Shuffle ∝ distinct grams — the contamination/span-dedup shape.
    """
    from etl_file_loader_spark.operators.skew import fan_out_scan

    df = fan_out_scan(df, key_cols=[id_col])  # guide §2.5, no-op at scale
    toks = tokens(F.col(text_col))
    # guard short docs: Spark's sequence(0, -1) is DESCENDING, not empty
    gram_arr = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = df.select(F.col(id_col), F.explode(gram_arr).alias("gram"))
    per_doc_gram = grams.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("dc")
    )
    j = per_doc_gram.withColumn(
        "cc", F.sum("dc").over(Window.partitionBy("gram"))
    )
    return (
        j.groupBy(id_col)
        .agg(
            F.sum("dc").alias("n_grams"),
            F.sum(F.when(F.col("cc") == F.col("dc"), F.col("dc")).otherwise(0)).alias(
                "novel_grams"
            ),
        )
        .select(
            id_col,
            "n_grams",
            "novel_grams",
            (F.col("novel_grams").cast("double") / F.col("n_grams")).alias(
                "novelty"
            ),
        )
    )


def char_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document character-distribution entropy (nats) — the classic
    gibberish/boilerplate quality signal (near-zero = repeated filler,
    high = encrypted/random junk; natural text sits in a stable band).

    H = ln(n) - (Σ c·ln c) / n over per-char counts c (algebraically
    -Σ p ln p, but in a form with ONE division). Cross-engine: counts
    are exact; the Σ c·ln c fold runs over the doc's (char ASC)-sorted
    count profile — the LM ladder's canonical summation order, so 1-ulp
    ``ln`` drift cannot be amplified by engine-dependent fold orders.

    Plan: explode chars -> (doc, char) hash agg -> per-doc agg folding
    the collected profile. Shuffle ∝ distinct (doc, char) pairs — the
    same scan+agg shape as the token ops. Empty docs emit no row.
    """
    chars = df.filter(F.length(F.col(text_col)) > 0).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    )
    counts = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    prof = counts.groupBy(id_col).agg(
        F.sum("c").alias("_n"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sort_array(
            F.collect_list(F.struct(F.col("ch"), F.col("c")))
        ).alias("_pr"),
    )
    n = F.col("_n").cast("double")
    s = F.aggregate(
        F.col("_pr"),
        F.lit(0.0),
        lambda acc, st: acc
        + st["c"].cast("double") * F.log(st["c"].cast("double")),
    )
    return prof.select(
        id_col,
        F.col("_n").alias("n_chars"),
        "n_distinct_chars",
        # ln differs by 1 ulp between libms on SOME inputs (unlike the LM
        # ladder's count ratios, raw ln(count) hits them): round past it
        F.round(F.log(n) - s / n, 12).alias("entropy"),
    )


def inverted_index(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Positional inverted index over whitespace tokens (the retrieval
    artifact next to ``bm25_topk``'s scan-time scoring): one row per
    (term, doc) with the sorted position list and term frequency.

    Plan shape (100 TB): posexplode (scan-shaped) + ONE hash aggregation
    keyed on (term, doc) — map-side partials, shuffle ∝ postings. The
    output is the classic sharded index: partition it by term to serve
    lookups, or keep it as a co-partitioned join input. Zipf-hot terms
    skew the shuffle; at extreme scale pre-salt the (term, doc) key —
    the agg is reassociable — or drop stopword terms first.
    """
    pos = df.select(
        F.col(id_col), F.posexplode(tokens(F.col(text_col))).alias("pos", "term")
    )
    return pos.groupBy("term", id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("positions"),
        F.count(F.lit(1)).alias("tf"),
    )


def phrase_search(
    postings: DataFrame, id_col: str, phrase_terms: list[str]
) -> DataFrame:
    """Exact phrase match over a positional index: docs where the terms
    appear CONSECUTIVELY, with the occurrence count (overlapping matches
    count — 'x x x' contains 'x x' twice).

    Implementation: one postings row per phrase term (equality filter —
    a partition-pruned point lookup on a term-partitioned index), inner
    equi-joins on the doc id (k-1 joins of doc-level rows, each side
    already one row per doc), then the match positions are computed
    JVM-side as array_intersect of the i-th term's positions shifted
    left by i. No explode of positions, no window.
    """
    if not phrase_terms:
        raise ValueError("phrase_terms must be non-empty")
    # NAME-based equi-joins (on=id_col): a phrase can repeat a term, which
    # makes the per-term parts share lineage — a Column-equality condition
    # between them resolves ambiguously (trivially-true join), while a
    # name join is lineage-safe and dedups the key
    parts = []
    for i, t in enumerate(phrase_terms):
        parts.append(
            postings.filter(F.col("term") == t).select(
                F.col(id_col), F.col("positions").alias(f"_p{i}")
            )
        )
    j = parts[0]
    for i in range(1, len(parts)):
        j = j.join(parts[i], on=id_col, how="inner")
    def _shift(col: Column, k: int) -> Column:
        # NOTE: the lambda must take exactly ONE parameter — pyspark
        # dispatches a two-parameter lambda (even with a default) to the
        # (element, index) transform form, silently binding the second
        # name to the array index
        return F.transform(col, lambda x: x - F.lit(k))

    starts = F.col("_p0")
    for i in range(1, len(parts)):
        starts = F.array_intersect(starts, _shift(F.col(f"_p{i}"), i))
    return (
        j.select(F.col(id_col), F.size(starts).alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


# C0 controls except \t \n \r, plus DEL — the characters every web-corpus
# cleaner strips before anything else (CCNet/C4 normalize first)
_CONTROL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def strip_control_chars(text: Column) -> Column:
    """Remove C0 control characters (keeping tab/newline/CR) and DEL —
    a pure column regexp, scan-speed, no Python."""
    return F.regexp_replace(text, _CONTROL_CLASS, "")


def normalize_unicode(text: Column, form: str = "NFC") -> Column:
    """Unicode-normalize a string column (NFC by default — canonical
    composition, the first stage of web-corpus cleaning; NFKC/NFD/NFKD
    also accepted). Spark has no built-in normalizer, so this is an
    Arrow-batched pandas UDF — vectorized transfer, one Python call per
    batch, still a narrow projection (zero shuffle; at 100 TB it rides
    the scan like the codec UDFs).

    Cross-engine: DuckDB's ``nfc_normalize`` implements the same Unicode
    canonical composition, so NFC outputs are value-verified by the
    ``unicode_normalize_check`` oracle on composed/decomposed pairs the
    query itself injects (the synthetic corpus is ASCII, where NFC is the
    identity — the injected sequences are what make the check real).
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form: {form}")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None
        )

    return _norm(text)


def pii_counts(text: Column) -> Column:
    """Struct of per-category PII match counts (email / ssn / phone).

    Pure ``regexp_count`` expressions — codegen'd, zero shuffle; at 100 TB
    this is a scan-speed projection.
    """
    return F.struct(
        *[
            F.regexp_count(text, F.lit(PII_PATTERNS[k])).alias(f"n_{k}")
            for k in PII_ORDER
        ]
    )


def scrub_pii(text: Column) -> Column:
    """Redact emails, SSNs, and phone numbers with ``[CATEGORY]`` tokens.

    Chained global ``regexp_replace`` (reference analog: the field-cleaner
    hooks in src/validation/cleaners — here applied corpus-wide as a
    pre-training privacy pass).
    """
    out = text
    for k in PII_ORDER:
        out = F.regexp_replace(out, PII_PATTERNS[k], f"[{k.upper()}]")
    return out


def duplicated_window_stats(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 5,
) -> DataFrame:
    """Per-doc exact substring-duplication stats at token-window granularity.

    The scalable form of exact-substring dedup (the primitive behind
    suffix-array training-data dedup): every w-token window is keyed by its
    exact string; a window occurring in >= 2 DISTINCT documents marks each
    of its occurrences as duplicated text. Per doc: total windows,
    duplicated-window occurrences, and their share — the signal a curation
    pipeline thresholds to drop boilerplate-heavy docs or clip spans.

    Plan shape (100 TB): one explode to (doc, window-string) rows
    [∝ corpus tokens], one gram-keyed aggregation for cross-doc document
    counts (map-side combinable), one gram-keyed join back restricted to
    duplicated grams (shuffle ∝ duplicated occurrences on the probe side).
    No pairwise comparison anywhere — same shuffle shape as exact dedup.
    Cross-engine: pure string/agg relational ops, DuckDB-oracle-checked.
    """
    toks = tokens(F.col(text_col))
    base = corpus.select(
        F.col(id_col),
        F.greatest(F.size(toks) - window + 1, F.lit(0)).cast("long").alias("n_windows"),
    )
    occ = corpus.select(
        F.col(id_col), F.explode(_gram_array(toks, window)).alias("_gram")
    )
    dup_grams = (
        occ.groupBy("_gram")
        .agg(F.countDistinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("_gram")
    )
    dup_counts = (
        occ.join(dup_grams, "_gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("dup_windows"))
    )
    return base.join(dup_counts, id_col, "left").select(
        F.col(id_col),
        F.col("n_windows"),
        F.coalesce(F.col("dup_windows"), F.lit(0).cast("long")).alias("dup_windows"),
        F.round(
            F.when(
                F.col("n_windows") > 0,
                F.coalesce(F.col("dup_windows"), F.lit(0)) / F.col("n_windows"),
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_share"),
    )


def line_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C4-style global line-level dedup: keep the FIRST occurrence (by
    (doc id, line position)) of every distinct non-blank line corpus-wide,
    drop later occurrences, and rebuild each document from its surviving
    lines in original order.

    The boilerplate-removal pass of web-corpus curation (nav bars, cookie
    banners, repeated footers appear verbatim across thousands of pages).
    Blank lines bypass the dedup entirely — they are structure, not
    content, and ranking them would funnel every blank line in the corpus
    into one shuffle partition.

    Plan shape: one explode (∝ corpus lines), one window keyed on the line
    string for first-occurrence ranking (shuffle bytes ∝ lines; a line's
    partition holds only its own occurrences), one per-doc rebuild
    aggregation. Per-line state is a single rank counter — no pairwise
    work. Output: (id, n_lines, kept_lines, cleaned_text).
    """
    from pyspark.sql.window import Window

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    nonblank = lines.filter(F.trim(F.col("line")) != "")
    blank = lines.filter(F.trim(F.col("line")) == "")
    w = Window.partitionBy("line").orderBy(F.col(id_col), F.col("pos"))
    first = (
        nonblank.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    kept = first.unionByName(blank)
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("kept_lines"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("cleaned_text"),
    )
    totals = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
    )
    return totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.col("n_lines"),
        F.coalesce(F.col("kept_lines"), F.lit(0).cast("long")).alias("kept_lines"),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# repetition (Gopher-style quality filter)
# ---------------------------------------------------------------------------


def _gram_array(toks: Column, n: int) -> Column:
    """Word n-grams of a token array (empty when < n tokens).

    The token array is let-bound (``bind_once``) before the gram lambda
    touches it: HOF bodies re-evaluate outer expressions per element, so an
    unbound ``tokens(text)`` here would re-split the text once per gram.
    """
    from etl_file_loader_spark.functions import bind_once

    def grams(t: Column) -> Column:
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(t, i + j + 1) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(toks, grams)


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 2, engine: str = "expr"
) -> DataFrame:
    """Per-document top-n-gram share: the Gopher repetition filter signal.

    share = (occurrences of the single most frequent word n-gram × n) /
    token count — repetitive/boilerplate docs score high.

    engine="expr" (default): every gram of a doc already lives in that
    doc's row, so the mode is computed IN PLACE — sort the gram array and
    fold a longest-run accumulator over it. O(tokens·log tokens) per doc,
    whole-stage codegen, ZERO shuffle: at 100 TB the filter runs at scan
    speed like the other quality signals.

    engine="explode": explode → per-(doc, gram) count → per-doc max. One
    shuffle proportional to corpus tokens (map-side partials). Use when
    single documents are so long (many millions of tokens) that their gram
    arrays shouldn't be sorted in task memory.

    Ungrammable docs (< n tokens) report count/share 0.
    """
    toks = tokens(F.col(text_col))
    grams = _gram_array(toks, n)
    if engine == "expr":
        # longest equal-run in the sorted gram array = max gram frequency
        acc0 = F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        )
        top = F.aggregate(
            F.array_sort(grams),
            acc0,
            lambda acc, g: F.struct(
                g.alias("prev"),
                F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        out = df.select(
            F.col(id_col),
            F.size(toks).alias("_n_tokens"),
            top.alias("_top"),
        )
    elif engine == "explode":
        exploded = df.select(
            F.col(id_col),
            F.size(toks).alias("_n_tokens"),
            F.explode_outer(grams).alias("_gram"),
        )
        per_gram = exploded.groupBy(id_col, "_n_tokens", "_gram").agg(
            F.count(F.lit(1)).alias("_c")
        )
        out = per_gram.groupBy(id_col, "_n_tokens").agg(
            F.max(
                F.when(F.col("_gram").isNotNull(), F.col("_c")).otherwise(0)
            ).cast("int").alias("_top")
        )
    else:  # pragma: no cover - guarded upstream
        raise ValueError(f"unknown engine {engine!r}")
    return out.select(
        F.col(id_col),
        F.col("_n_tokens").alias("n_tokens"),
        F.col("_top").cast("long").alias("top_gram_count"),
        F.round(
            F.when(
                F.col("_n_tokens") > 0,
                F.col("_top") * n / F.col("_n_tokens"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("top_gram_share"),
    )


# ---------------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------------


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Docs sharing any word n-gram with a benchmark set (test-set leakage).

    The standard decontamination pass for pre-training corpora: benchmark
    n-grams are DISTINCT'd and broadcast (benchmark suites are tiny next to
    a 100 TB corpus), so the corpus side is a scan + broadcast hash join —
    no corpus-wide shuffle. The per-doc gram dedup happens AFTER the join,
    on matched rows only (shuffle ∝ contamination hits, which are rare by
    construction — never ∝ corpus grams). Returns one row per contaminated
    doc with the count of distinct matching n-grams.
    """

    def grams_of(df: DataFrame) -> DataFrame:
        toks = tokens(F.col(text_col))
        return df.select(F.col(id_col), F.explode(_gram_array(toks, n)).alias("_gram"))

    bench_grams = grams_of(benchmark).select("_gram").distinct()
    return (
        grams_of(corpus)
        .join(F.broadcast(bench_grams), "_gram")
        .dropDuplicates([id_col, "_gram"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("matched_grams"))
    )


# ---------------------------------------------------------------------------
# exact substring span removal (self-dedup of duplicated text, not docs)
# ---------------------------------------------------------------------------


def remove_duplicate_spans(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 5,
) -> DataFrame:
    """Remove verbatim-duplicated token spans from documents, keeping the
    globally-FIRST occurrence of each duplicated window.

    The span-level counterpart of suffix-array exact-substring dedup
    (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): instead of dropping whole documents, cut the duplicated
    SPANS out of each doc and keep the unique remainder. Granularity is
    the w-token window (the same primitive as
    :func:`duplicated_window_stats`): any window string occurring >= 2
    times corpus-wide (same-doc repeats count) is duplicated text; every
    occurrence EXCEPT the global first — min ``(doc id, position)`` — is
    marked, marked windows ``[p, p+w)`` merge per doc into maximal spans
    (overlapping or touching windows coalesce), and the doc rebuilds from
    its uncovered tokens. A doc duplicated in full rebuilds to ''.
    Whitespace canonicalizes to single spaces in the rebuilt text (same
    contract as :func:`line_dedup`'s rebuild).

    Plan shape (100 TB): one posexplode to (doc, pos, window-string) rows
    [shuffle ∝ corpus tokens]; ONE map-side-combinable gram aggregation
    computing (count, min (doc,pos)) per window string; a gram-keyed join
    back restricted to duplicated grams (Zipf-hot boilerplate grams ride
    AQE skew-join); then all per-doc work — interval island-merge via one
    (doc, pos)-sorted window chain and the span/token rebuild — in a
    single doc-keyed shuffle. No pairwise comparison, no driver state.
    Cross-engine: integers + strings only, DuckDB-oracle-checked
    (suite ``span_dedup``).

    Returns (id, n_tokens, removed_tokens, n_spans, cleaned_text).
    """
    from pyspark.sql.window import Window

    toks = tokens(F.col(text_col))
    base = pin(corpus.select(F.col(id_col), toks.alias("_toks")))
    occ = base.select(
        F.col(id_col),
        F.posexplode(_gram_array(F.col("_toks"), window)).alias("_pos", "_gram"),
    )
    # one combinable aggregate per window string: total occurrences + the
    # lexicographic-min (doc, pos) = the occurrence that survives
    firsts = (
        occ.groupBy("_gram")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.min(F.struct(F.col(id_col).alias("_fid"), F.col("_pos").alias("_fpos"))).alias("_first"),
        )
        .filter(F.col("_cnt") >= 2)
        .select("_gram", "_first")
    )
    marked = (
        occ.join(firsts, "_gram")
        .filter(
            ~(
                (F.col(id_col) == F.col("_first._fid"))
                & (F.col("_pos") == F.col("_first._fpos"))
            )
        )
        .select(F.col(id_col), F.col("_pos"))
    )
    return _rebuild_without_spans(marked, base, id_col, window)


def _rebuild_without_spans(
    marked: DataFrame, base: DataFrame, id_col: str, window: int
) -> DataFrame:
    """Shared tail of :func:`remove_duplicate_spans` and
    :func:`text_signals`: merge marked window starts ``(id, _pos)`` into
    maximal spans (island merge over one doc-keyed sort) and rebuild each
    doc in ``base`` = (id, _toks) from its uncovered tokens."""
    from pyspark.sql.window import Window

    # island merge: one doc-keyed sort shared by the whole window chain
    wd = Window.partitionBy(id_col).orderBy("_pos")
    m = (
        marked.withColumn("_end", F.col("_pos") + F.lit(window))
        .withColumn(
            "_pmax",
            F.max("_end").over(wd.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "_new",
            F.when(
                F.col("_pmax").isNull() | (F.col("_pos") > F.col("_pmax")), 1
            ).otherwise(0),
        )
        .withColumn("_isl", F.sum("_new").over(wd))
    )
    spans = (
        m.groupBy(id_col, "_isl")
        .agg(F.min("_pos").alias("_s"), F.max("_end").alias("_e"))
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("_s"), F.col("_e")))
            ).alias("_spans")
        )
    )
    joined = base.join(spans, id_col, "left")
    empty_spans = F.array().cast("array<struct<_s:long,_e:long>>")
    sp = F.coalesce(F.col("_spans").cast("array<struct<_s:long,_e:long>>"), empty_spans)
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.exists(
            F.col("_spans"), lambda s: (i >= s["_s"]) & (i < s["_e"])
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size(F.col("_toks")).cast("long").alias("n_tokens"),
        F.coalesce(
            F.aggregate(
                sp, F.lit(0).cast("long"), lambda acc, s: acc + s["_e"] - s["_s"]
            ),
            F.lit(0).cast("long"),
        ).alias("removed_tokens"),
        F.coalesce(F.size(F.col("_spans")), F.lit(0)).cast("long").alias("n_spans"),
        F.when(
            F.col("_spans").isNull(), F.array_join(F.col("_toks"), " ")
        ).otherwise(F.array_join(kept, " ")).alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Appendix A)
# ---------------------------------------------------------------------------

# the Gopher "stop words" (presence check, not the ratio stopword list)
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_share: float = 0.9,
    max_ellipsis_share: float = 0.3,
    min_alpha_share: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The published Gopher quality-filter rule set (Rae et al. 2021,
    Appendix A) as one scan-shaped projection — per doc, every signal plus
    the conjunctive keep decision:

    - word count in [min_words, max_words]
    - mean word length in [min_mean_word_len, max_mean_word_len]
    - symbol-to-word ratio (``#`` or ``...``) <= max_symbol_ratio
    - share of lines starting with a bullet < max_bullet_share
      (Gopher: "90% of lines must not start with a bullet point")
    - share of lines ending with an ellipsis <= max_ellipsis_share
    - share of words containing >= 1 alphabetic char >= min_alpha_share
    - >= min_stop_hits of the Gopher stop words present

    Pure Column expressions (no UDFs, no shuffle — at 100 TB this runs at
    scan speed next to the other quality signals); every ratio is rounded
    to 6 places under the house cross-engine discipline, and the keep
    decision compares the ROUNDED ratios so both engines threshold the
    identical values. Empty docs fail the word-count floor. The
    repetition signals live in :func:`repetition_stats`; this op is the
    document-shape half of the Gopher filter.
    """
    from etl_file_loader_spark.functions import bind_once

    toks = tokens(F.col(text_col))

    def stats(t: Column) -> Column:
        n_words = F.size(t)
        mean_len = F.when(
            n_words > 0,
            F.round(
                F.aggregate(
                    t, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
                ).cast("double")
                / n_words,
                6,
            ),
        ).otherwise(F.lit(0.0))
        n_symbols = F.aggregate(
            t,
            F.lit(0).cast("long"),
            lambda a, w: a
            + F.when(w.contains("#") | w.contains("..."), F.lit(1)).otherwise(F.lit(0)),
        )
        symbol_ratio = F.when(
            n_words > 0, F.round(n_symbols.cast("double") / n_words, 6)
        ).otherwise(F.lit(0.0))
        n_alpha = F.aggregate(
            t,
            F.lit(0).cast("long"),
            lambda a, w: a
            + F.when(w.rlike("[A-Za-z]"), F.lit(1)).otherwise(F.lit(0)),
        )
        alpha_share = F.when(
            n_words > 0, F.round(n_alpha.cast("double") / n_words, 6)
        ).otherwise(F.lit(0.0))
        stop_hits = F.size(
            F.array_intersect(
                F.transform(t, lambda w: F.lower(w)),
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            )
        )
        return F.struct(
            n_words.cast("long").alias("n_words"),
            mean_len.alias("mean_word_len"),
            symbol_ratio.alias("symbol_ratio"),
            alpha_share.alias("alpha_word_share"),
            stop_hits.cast("long").alias("n_stop_hits"),
        )

    # line structure: split on \n only (blank lines are structure)
    lines_expr = F.filter(
        F.split(F.col(text_col), "\n", -1), lambda l: F.length(F.trim(l)) > 0
    )

    def line_stats(ls: Column) -> Column:
        n_lines = F.size(ls)
        bullets = F.size(
            F.filter(
                ls,
                lambda l: F.trim(l).startswith("-")
                | F.trim(l).startswith("*")
                | F.trim(l).startswith("•"),
            )
        )
        ellipsis = F.size(
            F.filter(ls, lambda l: F.trim(l).endswith("...") | F.trim(l).endswith("…"))
        )
        share = lambda c: F.when(  # noqa: E731
            n_lines > 0, F.round(c.cast("double") / n_lines, 6)
        ).otherwise(F.lit(0.0))
        return F.struct(
            n_lines.cast("long").alias("n_lines"),
            share(bullets).alias("bullet_line_share"),
            share(ellipsis).alias("ellipsis_line_share"),
        )

    out = df.select(
        F.col(id_col),
        bind_once(toks, stats).alias("_w"),
        bind_once(lines_expr, line_stats).alias("_l"),
    )
    w, l = F.col("_w"), F.col("_l")
    keep = (
        (w["n_words"] >= min_words)
        & (w["n_words"] <= max_words)
        & (w["mean_word_len"] >= min_mean_word_len)
        & (w["mean_word_len"] <= max_mean_word_len)
        & (w["symbol_ratio"] <= max_symbol_ratio)
        & (l["bullet_line_share"] < max_bullet_share)
        & (l["ellipsis_line_share"] <= max_ellipsis_share)
        & (w["alpha_word_share"] >= min_alpha_share)
        & (w["n_stop_hits"] >= min_stop_hits)
    )
    return out.select(
        F.col(id_col),
        w["n_words"].alias("n_words"),
        w["mean_word_len"].alias("mean_word_len"),
        w["symbol_ratio"].alias("symbol_ratio"),
        l["n_lines"].alias("n_lines"),
        l["bullet_line_share"].alias("bullet_line_share"),
        l["ellipsis_line_share"].alias("ellipsis_line_share"),
        w["alpha_word_share"].alias("alpha_word_share"),
        w["n_stop_hits"].alias("n_stop_hits"),
        keep.cast("int").cast("long").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Gopher repetition rules (Rae et al. 2021, Appendix A / Table A1)
# ---------------------------------------------------------------------------

# (signal, threshold) pairs exactly as published; keep = every signal <= its
# threshold (the paper phrases each as "remove if fraction > t").
GOPHER_REPETITION_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def _dup_run_stats(elems: Column) -> Column:
    """Fold over the SORTED element array: (n, dup_count, dup_chars,
    total_chars), where dup_count = sum over distinct values of (count-1)
    — i.e. every occurrence after the first — and dup_chars the same sum
    weighted by element length. In-place per row, no shuffle."""
    from etl_file_loader_spark.functions import bind_once

    def fold(sorted_elems: Column) -> Column:
        acc0 = F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("dups"),
            F.lit(0).cast("long").alias("dupchars"),
            F.lit(0).cast("long").alias("chars"),
        )
        is_dup = lambda acc, e: acc["prev"].isNotNull() & (e == acc["prev"])  # noqa: E731
        folded = F.aggregate(
            sorted_elems,
            acc0,
            lambda acc, e: F.struct(
                e.alias("prev"),
                (acc["dups"] + F.when(is_dup(acc, e), 1).otherwise(0)).alias("dups"),
                (
                    acc["dupchars"]
                    + F.when(is_dup(acc, e), F.length(e).cast("long")).otherwise(0)
                ).alias("dupchars"),
                (acc["chars"] + F.length(e)).alias("chars"),
            ),
        )
        return F.struct(
            F.size(sorted_elems).cast("long").alias("n"),
            folded["dups"].alias("dups"),
            folded["dupchars"].alias("dupchars"),
            folded["chars"].alias("chars"),
        )

    return bind_once(F.array_sort(elems), fold)


def gopher_repetition(
    df: DataFrame,
    id_col: str,
    text_col: str,
    thresholds: dict[str, float] | None = None,
    engine: str = "arrow",
) -> DataFrame:
    """The published Gopher repetition-filter rule set (Rae et al. 2021,
    Appendix A, Table A1) — the other half of the Gopher filter next to
    :func:`gopher_quality`'s document-shape rules. Per document, all
    thirteen signals plus the conjunctive keep decision:

    - duplicate line / paragraph fraction: occurrences after the first of
      a repeated line (split ``\\n``, blank lines dropped) or paragraph
      (split on blank-line runs, ``\\n{2,}``), over the line/para count
    - duplicate line / paragraph CHARACTER fraction: the same occurrences
      weighted by element length, over total element characters
    - top n-gram character fraction (n = 2, 3, 4): occurrences of the
      single most frequent word n-gram x its word characters, over total
      word characters (ties broken lexicographically-smallest so both
      engines pick the identical gram)
    - duplicate n-gram character fraction (n = 5..10): characters of words
      covered by at least one n-gram occurring more than once, overlaps
      counted ONCE (the union-of-covered-token-positions form — an
      order-independent restatement of the linear left-to-right scan in
      published reimplementations, chosen because a declarative engine has
      no scan order; documented difference: the scan variant skips ahead
      n tokens after a hit, so it can report slightly fewer covered chars)

    keep = every ROUNDED signal <= its threshold (both engines threshold
    identical 6-decimal values). Docs too short for an n produce 0 for
    that signal (nothing repeats). Character denominators are word/element
    characters (whitespace excluded), engine-portable.

    Plan shape (``engine="arrow"``, the default — optimization round 14,
    guide §4.2 + §2.4): every signal is a pure function of its own
    document, so the whole rule set is ONE zero-shuffle ``mapInArrow``
    pass (:func:`_gopher_doc_signals_arrow`) followed by the expression
    fraction/threshold tail. ``engine="explode"`` keeps the previous
    shape — explode of (n, pos, gram) for all nine n values ->
    groupBy(doc, n, gram) with map-side partial aggregation ->
    per-(doc, n) reduce -> two slim per-doc joins; shuffle ~ 9x corpus
    tokens, but counting never happens in task memory, so corpora with
    multi-million-token documents cannot blow an executor (same
    reasoning as repetition_stats engine="explode").
    """
    th = dict(GOPHER_REPETITION_THRESHOLDS)
    if thresholds:
        unknown = set(thresholds) - set(th)
        if unknown:
            raise ValueError(f"unknown gopher repetition signals: {sorted(unknown)}")
        th.update(thresholds)

    if engine == "arrow":
        return _gopher_select(
            _gopher_doc_signals_arrow(df, id_col, text_col),
            id_col, th, _gopher_arrow_cov_chars(),
        )
    if engine != "explode":
        raise ValueError(f"unknown gopher engine: {engine!r}")
    doc_side = _gopher_doc_side(df, id_col, text_col)
    # positions feed only the n >= 5 duplicated-coverage signals — the
    # top-gram slices (2..4) shuffle counts alone (guide §2.3)
    counts = _gram_count_table(
        df, id_col, text_col, range(2, 11), pos_ns=range(5, 11),
        engine="explode",
    )
    return _gopher_from_counts(counts, doc_side, id_col, th)


def _gram_count_table(
    df: DataFrame, id_col: str, text_col: str, ns, pos_ns=None,
    engine: str = "arrow",
) -> DataFrame:
    """The shared (doc, n, gram) count table behind the n-gram text
    signals (Gopher repetition, n-gram novelty, contamination, span
    dedup): per doc and n in ``ns``, one row per distinct gram with the
    occurrence count and the in-doc position list. :func:`text_signals`
    persists this table and derives all four signals from it so the cost
    is paid once per pipeline, not once per signal (VERDICT r8 ask 2).

    ``pos_ns`` (optimization round 14, guide §2.3 — shuffle fewer
    bytes): the n values whose rows need the position list. Only the
    duplicated-n-gram coverage signals (n >= 5) and the span window
    consume ``_poss``; the top-gram (n = 2..4) and novelty slices use
    counts alone, so their rows carry an empty list instead of one int
    per occurrence.

    ``engine="arrow"`` (optimization round 14, guide §4.2) counts grams
    PER DOC in one ``mapInArrow`` pass: every output row is a pure
    function of its own document (counts never cross docs — ids are the
    frame's grain), so the old explode -> groupBy(doc, n, gram) exchange
    moved ~9x corpus tokens only to co-locate rows that already sat in
    the same task. The Arrow pass tokenizes with :func:`py_tokens` (the
    pinned JVM-exact mirror) and joins gram tokens with single spaces —
    byte-identical rows to the expression ladder, proven by
    tests/test_gram_table_arrow.py over the real corpus and the edge
    shapes (empty/whitespace/unicode-ws/None text). Stage-profiled
    before the change: ~50 s of interpreted-HOF executor CPU at sf0.1
    against ~2 s of Python for the same counts. Trade (documented, like
    the minhash signer): transient per-doc Python memory ∝ doc tokens —
    ``engine="explode"`` keeps the constant-memory expression shape for
    corpora with multi-million-token documents.
    """
    from etl_file_loader_spark.operators.skew import fan_out_scan

    # single-split scans leave the per-doc gram work on one core
    # (guide §2.5; no-op when the scan already fills the cluster)
    df = fan_out_scan(df, key_cols=[id_col])
    ns = sorted(set(ns))
    pos_ns = set(ns) if pos_ns is None else set(pos_ns)
    if engine == "explode":
        return _gram_count_table_expr(df, id_col, text_col, ns, pos_ns)
    if engine != "arrow":
        raise ValueError(f"unknown gram-table engine: {engine!r}")

    import pyarrow as pa

    from etl_file_loader_spark.functions import py_tokens

    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("_n", T.IntegerType()),
            T.StructField("_gram", T.StringType()),
            T.StructField("_cnt", T.LongType()),
            T.StructField("_poss", T.ArrayType(T.IntegerType())),
        ]
    )
    ns_local = list(ns)
    pos_local = frozenset(pos_ns)

    def count_grams(batches):
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            out_i: list[int] = []
            out_n: list[int] = []
            out_g: list[str] = []
            out_c: list[int] = []
            out_p: list[list[int]] = []
            for row_idx, s in enumerate(texts):
                if s is None:
                    continue  # explode of a NULL gram array emits no rows
                tk = py_tokens(s)
                n_tok = len(tk)
                prev: list[str] | None = None
                prev_n = 0
                for n in ns_local:
                    if n_tok < n:
                        break  # ns ascending: longer grams can't fit either
                    # chained extension where possible — same strings as
                    # the expression ladder (join n tokens with spaces)
                    if prev is not None and n == prev_n + 1:
                        grams = [
                            prev[i] + " " + tk[i + n - 1]
                            for i in range(n_tok - n + 1)
                        ]
                    else:
                        grams = [
                            " ".join(tk[i : i + n])
                            for i in range(n_tok - n + 1)
                        ]
                    prev, prev_n = grams, n
                    if n in pos_local:
                        withpos: dict[str, list] = {}
                        for p, g in enumerate(grams):
                            e = withpos.get(g)
                            if e is None:
                                withpos[g] = [1, [p]]
                            else:
                                e[0] += 1
                                e[1].append(p)
                        for g, (c, poss) in withpos.items():
                            out_i.append(row_idx)
                            out_n.append(n)
                            out_g.append(g)
                            out_c.append(c)
                            out_p.append(poss)
                    else:
                        nopos: dict[str, int] = {}
                        for g in grams:
                            nopos[g] = nopos.get(g, 0) + 1
                        for g, c in nopos.items():
                            out_i.append(row_idx)
                            out_n.append(n)
                            out_g.append(g)
                            out_c.append(c)
                            out_p.append([])
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(out_i, type=pa.int32())),
                    pa.array(out_n, type=pa.int32()),
                    pa.array(out_g, type=pa.string()),
                    pa.array(out_c, type=pa.int64()),
                    pa.array(out_p, type=pa.list_(pa.int32())),
                ],
                names=[id_col, "_n", "_gram", "_cnt", "_poss"],
            )

    # project to exactly the two consumed columns before the opaque op
    # (guide §4.1: Spark cannot prune through mapInArrow)
    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(
        count_grams, out_schema
    )


def _gram_count_table_expr(
    df: DataFrame, id_col: str, text_col: str, ns, pos_ns
) -> DataFrame:
    """Expression-engine twin of :func:`_gram_count_table`: ONE explode
    of (n, pos, gram) structs for every n -> groupBy(doc, n, gram) with
    map-side partial aggregation. Constant task memory (counting happens
    in the aggregate, never per doc), at the cost of shuffling ~9x corpus
    tokens; the equivalence test pins it against the arrow engine."""
    from etl_file_loader_spark.functions import bind_once, tokens

    ns = list(ns)
    pos_ns = set(ns) if pos_ns is None else set(pos_ns)
    toks = tokens(F.col(text_col))

    def all_grams(t: Column) -> Column:
        """Chained gram ladder (optimization round 14, guide §1.2): level
        n's gram strings extend level n-1's by one token — 2 element_at +
        1 concat per gram instead of concat_ws over n element_at calls —
        so per-gram interpreted-HOF work stops growing with n, and the
        expression tree (whose size drives analysis, codegen-compile and
        the cold first-run cost of every gram-table consumer) shrinks to
        ~constant per level. A level whose predecessor is not on the
        ``ns`` path builds directly (same as the old shape); identical
        gram strings either way — both forms join the same n tokens with
        single spaces."""
        _empty_s = F.array().cast("array<string>")
        _empty_g = F.array().cast("array<struct<n:int,pos:int,gram:string>>")
        ns_sorted = sorted(set(ns))
        want = set(ns_sorted)

        def direct(n: int) -> Column:
            return F.when(
                F.size(t) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - n),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(t, i + j + 1) for j in range(n)]
                    ),
                ),
            ).otherwise(_empty_s)

        def chained(g: Column, n: int) -> Column:
            # g = level n-1 gram array: g[i] (1-based) covers 1-based
            # tokens i..i+n-2, so level n's gram i appends token i+n-1
            return F.when(
                F.size(g) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(g) - 1),
                    lambda i: F.concat(
                        F.element_at(g, i),
                        F.lit(" "),
                        F.element_at(t, i + (n - 1)),
                    ),
                ),
            ).otherwise(_empty_s)

        def structs(g: Column, n: int) -> Column:
            # 2-arg transform: the second lambda arg is the 0-based array
            # index == the gram's 0-based token start, the old pos value
            return F.transform(
                g,
                lambda x, i: F.struct(
                    F.lit(n).alias("n"), i.alias("pos"), x.alias("gram")
                ),
            )

        def build_from(idx: int, g_prev: Column | None, n_prev: int) -> Column:
            n = ns_sorted[idx]
            g_expr = (
                chained(g_prev, n)
                if g_prev is not None and n == n_prev + 1
                else direct(n)
            )

            def with_g(g: Column) -> Column:
                head = structs(g, n)
                if idx + 1 == len(ns_sorted):
                    return head
                return F.concat(head, build_from(idx + 1, g, n))

            return bind_once(g_expr, with_g)

        if not ns_sorted:
            return _empty_g
        return build_from(0, None, 0)

    ex = df.select(
        F.col(id_col), F.explode(bind_once(toks, all_grams)).alias("_g")
    )
    return ex.groupBy(
        F.col(id_col),
        F.col("_g")["n"].alias("_n"),
        F.col("_g")["gram"].alias("_gram"),
    ).agg(
        F.count(F.lit(1)).alias("_cnt"),
        # collect_list skips nulls: rows of an n outside pos_ns aggregate
        # an empty list at no per-occurrence cost
        F.collect_list(
            F.when(
                F.col("_g")["n"].isin(sorted(pos_ns))
                if pos_ns
                else F.lit(False),
                F.col("_g")["pos"],
            )
        ).alias("_poss"),
    )


def _gopher_doc_side(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc scan branch of the Gopher repetition rules (line/paragraph
    dup-run stats + token char accounting), expression engine — the
    constant-task-memory twin used by the ``engine="explode"`` paths
    (the arrow paths fuse these stats into
    :func:`_gopher_doc_signals_arrow`). Kept separate from the gram
    branch — a shared struct would drag the 9x-token gram array through
    the per-doc branch, because the bind_once encoding hides the struct
    from SimplifyExtractValueOps — so per-doc stats stay shuffle-free.
    The fan-out below adds the one exchange a single-split scan needs to
    parallelize the line/paragraph folds (guide §2.5; no-op at scale)."""
    from etl_file_loader_spark.functions import bind_once, tokens
    from etl_file_loader_spark.operators.skew import fan_out_scan

    df = fan_out_scan(df, key_cols=[id_col])
    text = F.col(text_col)
    lines = F.filter(F.split(text, "\n", -1), lambda l: F.length(F.trim(l)) > 0)
    paras = F.filter(F.split(text, r"\n{2,}", -1), lambda p: F.length(F.trim(p)) > 0)
    toks = tokens(text)
    return df.select(
        F.col(id_col),
        _dup_run_stats(lines).alias("_l"),
        _dup_run_stats(paras).alias("_p"),
        bind_once(
            toks,
            lambda t: F.struct(
                F.aggregate(
                    t, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
                ).alias("content_chars"),
                F.transform(t, lambda w: F.length(w).cast("long")).alias("tok_lens"),
            ),
        ).alias("_w"),
    ).select(
        F.col(id_col),
        "_l",
        "_p",
        F.col("_w")["content_chars"].alias("_content_chars"),
        F.col("_w")["tok_lens"].alias("_tok_lens"),
    )


def _gopher_from_counts(
    counts: DataFrame, doc_side: DataFrame, id_col: str, th: dict[str, float]
) -> DataFrame:
    """Gopher repetition signals from a prebuilt (doc, n, gram) count
    table (``_gram_count_table`` shape, n = 2..10 rows only)."""
    # ONE downstream chain off the count table (computing the top-gram and
    # coverage reductions as separate frames would re-run the explode +
    # count shuffle per branch — Spark has no common-plan sharing):
    # per (doc, n) reduce BOTH signals, then one per-doc pivot.
    # - top n-gram (n=2..4): arg-min of (-count, gram) = max count, lex-min
    #   gram; covered word chars = count * (gram length minus its n-1
    #   spaces)
    # - duplicated n-grams (n=5..10, count > 1): union of covered token
    #   positions (overlaps once), word-length summed via the per-doc
    #   token-length array after the join
    per_n = counts.groupBy(id_col, "_n").agg(
        F.min(
            F.when(
                F.col("_n") <= 4,
                F.struct(
                    (-F.col("_cnt")).alias("negc"),
                    F.col("_gram").alias("gram"),
                    (
                        F.col("_cnt")
                        * (F.length(F.col("_gram")) - (F.col("_n") - 1))
                    ).cast("long").alias("covered"),
                ),
            )
        )["covered"].alias("_covered"),
        F.array_distinct(
            F.flatten(
                F.collect_list(
                    F.when(
                        (F.col("_n") >= 5) & (F.col("_cnt") > 1),
                        F.flatten(
                            F.transform(
                                F.col("_poss"),
                                lambda p: F.sequence(p, p + F.col("_n") - 1),
                            )
                        ),
                    )
                )
            )
        ).alias("_idxs"),
    )
    pivoted = per_n.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("_n") == n, F.col("_covered"))).alias(f"_top{n}")
            for n in (2, 3, 4)
        ],
        *[
            F.max(F.when(F.col("_n") == n, F.col("_idxs"))).alias(f"_idx{n}")
            for n in range(5, 11)
        ],
    )

    joined = doc_side.join(pivoted, id_col, "left")

    lens = F.col("_tok_lens")
    cov_chars = {
        n: F.when(
            F.col(f"_idx{n}").isNull(), F.lit(0).cast("long")
        ).otherwise(
            F.aggregate(
                F.col(f"_idx{n}"),
                F.lit(0).cast("long"),
                lambda a, i: a + F.element_at(lens, i + 1),
            )
        )
        for n in range(5, 11)
    }
    return _gopher_select(joined, id_col, th, cov_chars)


def _gopher_select(
    joined: DataFrame, id_col: str, th: dict[str, float], cov_chars
) -> DataFrame:
    """Shared signal/threshold tail of the Gopher repetition paths:
    ``joined`` carries the per-doc integer ingredients (_l/_p dup-run
    structs, _content_chars, _top{2..4} covered chars); ``cov_chars[n]``
    is the covered-characters Column for the n>=5 dup-coverage signals.
    Every fraction/round/threshold is computed HERE, in the expression
    engine, from exact integers — so the arrow and explode producers
    yield identical doubles by construction."""

    def frac(num: Column, den: Column) -> Column:
        return F.round(
            F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0)), 6
        )

    content = F.col("_content_chars")
    sig = {
        "dup_line_frac": frac(F.col("_l")["dups"], F.col("_l")["n"]),
        "dup_para_frac": frac(F.col("_p")["dups"], F.col("_p")["n"]),
        "dup_line_char_frac": frac(F.col("_l")["dupchars"], F.col("_l")["chars"]),
        "dup_para_char_frac": frac(F.col("_p")["dupchars"], F.col("_p")["chars"]),
    }
    for n in (2, 3, 4):
        sig[f"top_{n}gram_char_frac"] = frac(
            F.coalesce(F.col(f"_top{n}"), F.lit(0)), content
        )
    for n in range(5, 11):
        sig[f"dup_{n}gram_char_frac"] = frac(cov_chars[n], content)

    keep = F.lit(True)
    for name, t in th.items():
        keep = keep & (sig[name] <= F.lit(t))

    return joined.select(
        F.col(id_col),
        F.col("_l")["n"].alias("n_lines"),
        F.col("_p")["n"].alias("n_paras"),
        *[sig[name].alias(name) for name in GOPHER_REPETITION_THRESHOLDS],
        keep.cast("int").cast("long").alias("keep"),
    )


def _gopher_doc_signals_arrow(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Fused per-doc Gopher pass (optimization round 14, guide §4.2 +
    §2.4): every one of the thirteen repetition signals is a pure
    function of its OWN document, so the whole branch — line/paragraph
    dup-run stats, token char accounting, top-gram covered chars
    (n=2..4), dup-n-gram covered chars (n=5..10) — comes out of ONE
    ``mapInArrow`` pass with ZERO shuffle. The explode path moved ~9x
    corpus tokens through a groupBy(doc, n, gram) exchange, reduced per
    (doc, n), pivoted per doc and joined back to a separate doc-stats
    scan, only to co-locate rows that already sat in the same task
    (stage-profiled at ~50 s of interpreted-HOF executor CPU at sf0.1).

    Only INTEGERS leave Python — fractions, rounding and thresholds stay
    in :func:`_gopher_select`'s expressions — and tokenization mirrors
    the JVM exactly (:func:`py_tokens`, ASCII-space trim, literal-\\n /
    \\n{2,} splits, code-point lengths, byte-order = code-point-order
    tie-breaks), so the output is bit-identical to the explode twin
    (pinned by tests/test_gram_table_arrow.py over the real corpus and
    the edge shapes). Trade (documented, like the minhash signer):
    transient per-doc Python memory ∝ doc tokens; ``engine="explode"``
    on the callers keeps the constant-memory expression shape for
    corpora with multi-million-token documents."""
    import re as _re
    from collections import Counter

    import pyarrow as pa

    from etl_file_loader_spark.functions import py_tokens
    from etl_file_loader_spark.operators.skew import fan_out_scan

    df = fan_out_scan(df, key_cols=[id_col])
    stats_t = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("dups", T.LongType()),
            T.StructField("dupchars", T.LongType()),
            T.StructField("chars", T.LongType()),
        ]
    )
    out_schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType),
            T.StructField("_l", stats_t),
            T.StructField("_p", stats_t),
            T.StructField("_content_chars", T.LongType()),
            *[T.StructField(f"_top{n}", T.LongType()) for n in (2, 3, 4)],
            *[T.StructField(f"_cov{n}", T.LongType()) for n in range(5, 11)],
        ]
    )
    para_re = _re.compile(r"\n{2,}")
    pa_stats = pa.struct(
        [("n", pa.int64()), ("dups", pa.int64()),
         ("dupchars", pa.int64()), ("chars", pa.int64())]
    )

    def dup_stats(elems: list[str]) -> tuple[int, int, int, int]:
        # identical integers to the sorted-array fold: dups = sum over
        # distinct values of (count - 1), dupchars the same weighted by
        # element length, chars = total chars over every occurrence
        c = Counter(elems)
        return (
            len(elems),
            sum(v - 1 for v in c.values()),
            sum((v - 1) * len(k) for k, v in c.items()),
            sum(len(e) for e in elems),
        )

    def doc_signals(batches):
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1).to_pylist()
            l_rows: list[tuple] = []
            p_rows: list[tuple] = []
            cc: list[int | None] = []
            grams_cols: list[list[int | None]] = [[] for _ in range(9)]
            for s in texts:
                if s is None:
                    # explode twin on NULL text: structs with NULL fields
                    # (size/aggregate of a NULL array), NULL everywhere else
                    l_rows.append((None, None, None, None))
                    p_rows.append((None, None, None, None))
                    cc.append(None)
                    for col in grams_cols:
                        col.append(None)
                    continue
                # Spark trim strips ONLY ASCII space 0x20
                lines = [l for l in s.split("\n") if l.strip(" ")]
                paras = [p for p in para_re.split(s) if p.strip(" ")]
                tk = py_tokens(s)
                n_tok = len(tk)
                l_rows.append(dup_stats(lines))
                p_rows.append(dup_stats(paras))
                cc.append(sum(len(w) for w in tk))
                prev: list[str] | None = None
                for slot, n in enumerate(range(2, 11)):
                    if n_tok < n:
                        # no n-grams: the explode table had no (doc, n)
                        # group, so the pivot's left join produced NULL
                        grams_cols[slot].append(None)
                        prev = None
                        continue
                    if prev is not None:
                        grams = [
                            prev[i] + " " + tk[i + n - 1]
                            for i in range(n_tok - n + 1)
                        ]
                    else:
                        grams = [
                            " ".join(tk[i : i + n])
                            for i in range(n_tok - n + 1)
                        ]
                    prev = grams
                    c = Counter(grams)
                    if n <= 4:
                        # arg-min of (-count, gram): max count, lex-min
                        # gram (UTF-8 byte order == code-point order, the
                        # Spark struct-min tie-break); covered chars =
                        # count * (gram length minus its n-1 spaces)
                        negc, g = min((-v, k) for k, v in c.items())
                        grams_cols[slot].append((-negc) * (len(g) - (n - 1)))
                    else:
                        covered: set[int] = set()
                        for p, g in enumerate(grams):
                            if c[g] > 1:
                                covered.update(range(p, p + n))
                        grams_cols[slot].append(
                            sum(len(tk[i]) for i in covered)
                        )
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(l_rows, type=pa_stats),
                    pa.array(p_rows, type=pa_stats),
                    pa.array(cc, type=pa.int64()),
                    *[
                        pa.array(col, type=pa.int64())
                        for col in grams_cols
                    ],
                ],
                names=[id_col, "_l", "_p", "_content_chars",
                       "_top2", "_top3", "_top4",
                       *[f"_cov{n}" for n in range(5, 11)]],
            )

    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(
        doc_signals, out_schema
    )


def _gopher_arrow_cov_chars() -> dict[int, Column]:
    """cov_chars mapping for :func:`_gopher_select` over the arrow
    doc-signals frame: the integers are already computed per doc; NULL
    (doc too short for n) maps to 0 exactly like the explode pivot's
    missing group."""
    return {
        n: F.coalesce(F.col(f"_cov{n}"), F.lit(0).cast("long"))
        for n in range(5, 11)
    }


def text_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    benchmark: DataFrame | None = None,
    n_novel: int = 5,
    window: int = 5,
    thresholds: dict[str, float] | None = None,
    engine: str = "arrow",
) -> DataFrame:
    """ALL FOUR n-gram corpus-hygiene signals off one scan family
    (VERDICT r8 ask 2): Gopher repetition rules, n-gram novelty,
    benchmark contamination, and exact-substring span-removal accounting.

    ``engine="arrow"`` (default — optimization round 14, guide §4.2 +
    §2.4): the repetition rules are purely per-doc, so they come out of
    ONE zero-shuffle ``mapInArrow`` pass; the shared
    :func:`_gram_count_table` is built (and persisted) ONLY for the n
    values the CROSS-doc signals need — ``{n_novel, window}`` for
    novelty/contamination and the span window — instead of 2..10, so
    the pinned cache that the remaining consumers re-scan shrinks ~8x
    (128 MB -> ~15 MB at sf0.1). ``engine="explode"`` keeps the previous
    all-expression shape (full 2..10 table, gopher derived from it) —
    constant task memory for corpora with multi-million-token docs. At
    100 TB the persisted table would be a written-out parquet stage
    instead of a Spark cache — same shape.

    Per input doc, one output row:

    - ``n_lines``/``n_paras`` + the 13 published repetition signals +
      ``rep_keep`` (exactly :func:`gopher_repetition`, keep renamed)
    - ``n_grams``/``novel_grams``/``novelty`` (:func:`ngram_novelty` at
      ``n_novel``; docs with < n_novel tokens get 0/0/NULL instead of
      being dropped)
    - ``n_tokens``/``removed_tokens``/``n_spans``/``cleaned_md5``
      (:func:`remove_duplicate_spans` at ``window``, rebuilt text
      carried as its md5 so the composed row stays slim)
    - ``matched_grams`` (:func:`contamination` vs ``benchmark`` at
      ``n_novel``, 0 when clean; column present only when a benchmark
      frame is given)

    Each derivation is the SAME algebra as its standalone operator (the
    span marking swaps per-occurrence min/count for the equivalent
    per-doc-grouped form: lexicographic min (doc, pos) == min over docs
    of (doc, min in-doc pos), total count == sum of per-doc counts), so
    results match the independents row-for-row — pinned by the
    ``curation_text_signals`` suite oracle, which is composed from the
    four independent oracle queries.
    """
    from etl_file_loader_spark.functions import tokens

    th = dict(GOPHER_REPETITION_THRESHOLDS)
    if thresholds:
        unknown = set(thresholds) - set(th)
        if unknown:
            raise ValueError(f"unknown gopher repetition signals: {sorted(unknown)}")
        th.update(thresholds)

    if engine == "arrow":
        # gopher is per-doc: one fused zero-shuffle Arrow pass; the
        # pinned table carries only the cross-doc slices (novelty /
        # contamination at n_novel, span at window), positions only for
        # the span window (guide §2.3)
        counts = pin(
            _gram_count_table(
                df, id_col, text_col, sorted({n_novel, window}),
                pos_ns={window},
            )
        )
        gopher = _gopher_select(
            _gopher_doc_signals_arrow(df, id_col, text_col),
            id_col, th, _gopher_arrow_cov_chars(),
        ).withColumnRenamed("keep", "rep_keep")
    elif engine == "explode":
        ns = sorted(set(range(2, 11)) | {n_novel, window})
        # positions feed the n>=5 duplicated-coverage signals and the
        # span window slice; novelty and the top-gram slices use counts
        # alone, so their rows shuffle/cache an empty list (guide §2.3)
        counts = pin(
            _gram_count_table(
                df, id_col, text_col, ns,
                pos_ns=(set(range(5, 11)) & set(ns)) | {window},
                engine="explode",
            )
        )
        gopher = _gopher_from_counts(
            counts.filter(F.col("_n").between(2, 10)),
            _gopher_doc_side(df, id_col, text_col),
            id_col,
            th,
        ).withColumnRenamed("keep", "rep_keep")
    else:
        raise ValueError(f"unknown text-signals engine: {engine!r}")

    # novelty: per-doc gram counts are exactly the n == n_novel slice.
    # Corpus counts as ONE window over the gram (guide §2.4: aggregate +
    # self-join keyed the same way collapses into a single exchange) —
    # the old groupBy(gram) + join read the cached slice twice and
    # shuffled it twice; sum over an int window is the identical value.
    dg = counts.filter(F.col("_n") == n_novel).select(
        F.col(id_col), F.col("_gram"), F.col("_cnt").alias("_dc")
    )
    novelty = (
        dg.withColumn(
            "_cc", F.sum("_dc").over(Window.partitionBy("_gram"))
        )
        .groupBy(id_col)
        .agg(
            F.sum("_dc").alias("n_grams"),
            F.sum(
                F.when(F.col("_cc") == F.col("_dc"), F.col("_dc")).otherwise(0)
            ).alias("novel_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "novel_grams",
            (F.col("novel_grams").cast("double") / F.col("n_grams")).alias(
                "novelty"
            ),
        )
    )

    # span dedup: per-gram global first = min over docs of
    # (doc, min in-doc pos); total occurrences = sum of per-doc counts.
    # Both per-gram reductions run as ONE window over the (doc, gram)
    # slice (guide §2.4) — the old groupBy(gram) + join back shuffled
    # the slice twice and read the cache twice; sum/min over the same
    # rows are the identical values, and the _tot >= 2 gate that the
    # inner join used to apply becomes an explicit filter.
    sl = counts.filter(F.col("_n") == window)
    wg = Window.partitionBy("_gram")
    marked = (
        sl.select(
            F.col(id_col),
            F.col("_gram"),
            F.col("_cnt"),
            F.col("_poss"),
        )
        .withColumn("_tot", F.sum("_cnt").over(wg))
        .withColumn(
            "_first",
            F.min(
                F.struct(
                    F.col(id_col).alias("_fid"),
                    F.array_min("_poss").alias("_fpos"),
                )
            ).over(wg),
        )
        .filter(F.col("_tot") >= 2)
        .select(F.col(id_col), F.col("_first"), F.explode("_poss").alias("_pos"))
        .filter(
            ~(
                (F.col(id_col) == F.col("_first._fid"))
                & (F.col("_pos") == F.col("_first._fpos"))
            )
        )
        .select(F.col(id_col), F.col("_pos"))
    )
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    spans = _rebuild_without_spans(marked, base, id_col, window).select(
        F.col(id_col),
        "n_tokens",
        "removed_tokens",
        "n_spans",
        F.md5(F.col("cleaned_text")).alias("cleaned_md5"),
    )

    out = gopher.join(novelty, id_col, "left").join(spans, id_col, "left")

    cols = [
        F.col(id_col),
        F.col("n_lines"),
        F.col("n_paras"),
        *[F.col(name) for name in GOPHER_REPETITION_THRESHOLDS],
        F.col("rep_keep"),
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.coalesce(F.col("novel_grams"), F.lit(0)).cast("long").alias(
            "novel_grams"
        ),
        F.col("novelty"),
        F.col("n_tokens"),
        F.col("removed_tokens"),
        F.col("n_spans"),
        F.col("cleaned_md5"),
    ]
    if benchmark is not None:
        bench = (
            benchmark.select(
                F.explode(
                    _gram_array(tokens(F.col(text_col)), n_novel)
                ).alias("_gram")
            )
            .distinct()
        )
        matched = (
            counts.filter(F.col("_n") == n_novel)
            .select(F.col(id_col), F.col("_gram"))
            .join(F.broadcast(bench), "_gram")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("matched_grams"))
        )
        out = out.join(matched, id_col, "left")
        cols.append(
            F.coalesce(F.col("matched_grams"), F.lit(0))
            .cast("long")
            .alias("matched_grams")
        )
    return out.select(*cols)


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------


def _eq_lit(term: str):
    # closure factory (PySpark infers HOF arity from the lambda's
    # parameter count, so `lambda w, t=term:` would bind the element index)
    return lambda w: w == F.lit(term)


def _bm25_terms(query_terms: list[str]) -> list[str]:
    """Lower + first-occurrence dedup (the bm25_score contract)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms: list[str] = []
    for t in query_terms:
        lt = t.lower()
        if lt not in terms:
            terms.append(lt)
    return terms


def _bm25_base(df: DataFrame, id_col: str, text_col: str, terms: list[str]) -> DataFrame:
    """Per-doc postings row (id, _dl, _tf0.._tfQ): the tokenization-
    dependent part of BM25, computed ONCE per doc — the maintained
    index stores exactly these rows so queries never re-tokenize."""
    from etl_file_loader_spark.functions import bind_once, tokens

    return df.select(
        F.col(id_col),
        bind_once(
            F.transform(tokens(F.col(text_col)), lambda w: F.lower(w)),
            lambda lt: F.struct(
                F.size(lt).cast("long").alias("dl"),
                *[
                    F.size(F.filter(lt, _eq_lit(term))).cast("long").alias(f"tf{i}")
                    for i, term in enumerate(terms)
                ],
            ),
        ).alias("_s"),
    ).select(
        F.col(id_col),
        F.col("_s")["dl"].alias("_dl"),
        *[F.col("_s")[f"tf{i}"].alias(f"_tf{i}") for i in range(len(terms))],
    )


def _bm25_score_from_base(
    base: DataFrame, id_col: str, nterms: int, k1: float, b: float
) -> DataFrame:
    """Score postings rows: ONE scalar-aggregate stats row broadcast back,
    per-term contributions summed left-associated (the bm25_score
    determinism contract)."""
    stats = base.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.sum("_dl").alias("_sum_dl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(nterms)
        ],
    )
    n = F.col("_n_docs").cast("double")
    avgdl = F.col("_sum_dl").cast("double") / n
    score = F.lit(0.0)
    for i in range(nterms):
        tf = F.col(f"_tf{i}").cast("double")
        dfi = F.col(f"_df{i}").cast("double")
        idf = F.log(F.lit(1.0) + (n - dfi + F.lit(0.5)) / (dfi + F.lit(0.5)))
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("_dl").cast("double") / avgdl
        )
        score = score + idf * tf * F.lit(k1 + 1.0) / denom
    return base.join(F.broadcast(stats)).select(
        F.col(id_col),
        F.col("_dl").alias("n_tokens"),
        F.round(score, 6).alias("bm25"),
    )


def bm25_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed bag-of-words
    query (Robertson/Sparck-Jones idf, the non-negative ``ln(1 + ...)``
    form): per doc

        score = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
        idf(t) = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))

    with tf the term's count in the doc, dl the doc token length, avgdl the
    corpus mean, df_t the term's document frequency, N the corpus size.

    Plan: per-doc tf for each of the Q query terms is an in-place filter
    over the bound token array (terms are literals — no explode, no
    vocabulary join); the corpus statistics (N, sum dl, per-term df)
    collapse into ONE scalar-aggregate row that broadcast-joins back. Total
    cost = one scan + one all-to-one aggregate: at 100 TB this is a scan
    plus Q counters, the minimal shape for fixed-query retrieval. (Ad-hoc
    many-query retrieval would instead explode into an inverted-index
    join — see similarity.py for the vector-side analog.)

    Cross-engine determinism: the per-term contributions are summed in
    query-term order as one left-associated expression, every constant is
    the identical Python double on both engines, and the score is rounded
    to 6 places (ln is the one 1-ulp-licensed primitive, invisible at 6dp).
    Duplicate query terms are collapsed (first occurrence wins).
    """
    terms = _bm25_terms(query_terms)
    base = _bm25_base(df, id_col, text_col, terms)
    return _bm25_score_from_base(base, id_col, len(terms), k1, b)


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by :func:`bm25_score` (score DESC, id ASC — the
    rounded score makes the cut deterministic across engines). The
    sort+limit compiles to TakeOrderedAndProject: per-partition top-k
    heaps, k rows to the driver — no global sort exchange."""
    scored = bm25_score(df, id_col, text_col, query_terms, k1=k1, b=b)
    return scored.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(k)


class BM25Index(MaintainedIndex):
    """MAINTAINED fixed-query BM25 postings — the retrieval rung of the
    maintained-index family (NearDup = near-dup membership, Linkage =
    record linkage, HLL/KMV = distinct, CMS = frequency, Quantile =
    percentiles; this = ranked retrieval).

    The state is the per-doc postings row (id, dl, tf per query term) —
    the ONLY tokenization-dependent quantity in Okapi BM25. Build once
    from the seed corpus, :meth:`absorb` each arriving batch (append;
    only the NEW docs tokenize), then :meth:`score`/:meth:`topk` at any
    epoch recompute idf/avgdl from the postings with one scalar
    aggregate — rankings always reflect the full absorbed corpus, and a
    query never re-reads or re-tokenizes a byte of text. At 100 TB this
    is the difference between a Q-counter scan over stored longs and
    re-tokenizing the corpus per query batch.

    Contracts, stated loudly:
    - State rows ∝ absorbed docs (like LinkageIndex's lowered master —
      the postings ARE the artifact), not register-bounded.
    - Absorb is APPEND: exactly-once per doc is the caller's contract
      (a batch absorbed twice double-counts its docs in N/df/avgdl —
      the quantile/CMS sum-merge caveat, not the HLL max confluence).
    - Absorb cost is O(batch), not O(state): the postings
      live in an LSM-style TieredState with identity fold — an absorb
      tokenizes and checkpoints ONLY the batch; geometric cascade
      merges (pure concatenation — postings never reduce) bound tier
      count at O(log(docs/batch)) and re-copy each posting row only
      O(log n) times over the stream's lifetime. Measured per-absorb in
      tools/measure_absorb_release.py.
    - The query terms are fixed at build (the fixed-query BM25 shape —
      decontamination probes, standing domain queries). Adding a term to
      a standing probe uses :meth:`add_terms` — one corpus pass counting
      ONLY the new terms, joined into the stored postings (proven equal
      to rebuild-with-all-terms by test). Ad-hoc queries use the
      scan-time :func:`bm25_score`.
    - Frames returned by :meth:`postings` are valid only until the next
      absorb (a cascade may release member tiers).
    - ``save``/``load`` (operators/persist.py) write the postings as
      plain long rows plus the query spec; DuckDB can score the saved
      postings directly.

    Reference parity anchor: the reference engine has no retrieval
    operator; this extends the training-data-pipeline surface
    (hybrid_retrieval's sparse side as a durable incremental artifact).
    """

    PARAMS = ("id_col", "text_col", "terms", "k1", "b")

    def __init__(
        self,
        seed: DataFrame,
        id_col: str,
        text_col: str,
        query_terms: list[str],
        k1: float = 1.2,
        b: float = 0.75,
    ):
        from etl_file_loader_spark.operators.tiered import TieredState

        self.id_col = id_col
        self.text_col = text_col
        self.terms = _bm25_terms(query_terms)
        self.k1 = float(k1)
        self.b = float(b)
        self._state = TieredState.build(
            _bm25_base(seed, id_col, text_col, self.terms)
        )

    def _frame(self) -> DataFrame:
        return self._state.compacted()

    def _restore(self, frame: DataFrame) -> None:
        from etl_file_loader_spark.operators.tiered import TieredState

        self._state = TieredState.restored(frame)

    def postings(self) -> DataFrame:
        return self._state.view()

    def absorb(self, batch: DataFrame) -> "BM25Index":
        """Append the batch's postings — tokenizes and checkpoints ONLY
        the batch (O(batch); the tiered-state contract above)."""
        self._state.absorb(
            _bm25_base(batch, self.id_col, self.text_col, self.terms)
        )
        return self

    def release(self) -> None:
        """Free the postings' block-manager state (all tiers); the index
        is unusable afterwards."""
        self._state.release()

    def add_terms(self, corpus: DataFrame, new_terms: list[str]) -> "BM25Index":
        """Watchlist-delta term addition: widens a standing
        decontamination probe without a full rebuild.

        ``corpus`` must contain EXACTLY the absorbed docs, once each
        (the exactly-once absorb contract, extended; validated — a
        missing or duplicated doc raises instead of silently skewing
        tf/df). One pass over the corpus counts ONLY the new terms'
        tf — dl and every existing term's tf come from the stored
        postings, so with Q standing terms the pass does q_new token
        probes per doc instead of a full rebuild's Q + q_new + dl.
        The widened postings join per-doc and re-checkpoint once
        (O(state), the unavoidable floor for a state whose schema
        widened); the old tiers release after the new state
        materializes. No-op for already-indexed terms.
        """
        from etl_file_loader_spark.functions import bind_once, tokens
        from etl_file_loader_spark.operators.tiered import TieredState

        fresh = [t for t in _bm25_terms(new_terms) if t not in self.terms]
        if not fresh:
            return self
        q0 = len(self.terms)
        delta = corpus.select(
            F.col(self.id_col),
            bind_once(
                F.transform(tokens(F.col(self.text_col)), lambda w: F.lower(w)),
                lambda lt: F.struct(
                    *[
                        F.size(F.filter(lt, _eq_lit(t))).cast("long").alias(f"tf{i}")
                        for i, t in enumerate(fresh)
                    ]
                ),
            ).alias("_s"),
        ).select(
            F.col(self.id_col),
            *[F.col("_s")[f"tf{i}"].alias(f"_tf{q0 + i}") for i in range(len(fresh))],
        )
        n_docs = self._state.rows
        widened = TieredState.build(
            self._state.compacted().join(delta, self.id_col, "left")
        )
        chk = widened.view().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(f"_tf{q0}").isNull().cast("long")).alias("miss"),
        ).head()
        if chk["n"] != n_docs or chk["miss"]:
            widened.release()  # keep the old state intact on failure
            raise ValueError(
                "add_terms corpus must contain exactly the absorbed docs "
                f"once each: postings hold {n_docs} docs, the join "
                f"produced {chk['n']} rows with {chk['miss']} missing "
                f"new-term counts (duplicate {self.id_col} fans out, a "
                "missing doc leaves nulls)"
            )
        old = self._state
        self._state = widened
        self.terms = self.terms + fresh
        old.release()
        return self

    def score(self) -> DataFrame:
        """(id, n_tokens, bm25) over every absorbed doc — identical to
        ``bm25_score`` over the union of all absorbed batches (pinned by
        test), from postings alone."""
        return _bm25_score_from_base(
            self.postings(), self.id_col, len(self.terms), self.k1, self.b
        )

    def topk(self, k: int) -> DataFrame:
        """Deterministic cut: rounded score DESC, id ASC (the bm25_topk
        contract; TakeOrderedAndProject — no global sort)."""
        return self.score().orderBy(F.col("bm25").desc(), F.col(self.id_col)).limit(k)


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str,
    k0: int = 60,
    k: int = 10,
    weights: list[float] | None = None,
) -> DataFrame:
    """Reciprocal rank fusion (Cormack et al. 2009) of N ranked lists:
    score(d) = Σ_i 1/(k0 + rank_i(d)), docs absent from a list contribute
    nothing from it. The standard sparse+dense retrieval combiner (BM25 ⊕
    embedding cosine) used for hard-negative mining and RAG candidate
    pooling — rank-based, so the two scorers' incomparable scales never
    need calibrating.

    ``weights`` (optional, default all-1.0) scale each list's
    contribution — w_i/(k0 + rank_i) — the common dense-heavier variant
    for hard-negative mining.

    Inputs: each frame carries (id_col, rank) with rank 1-based. Output:
    (id_col, rank_0..rank_{N-1} as nullable ints, rrf rounded to 6) —
    top-k by (rrf DESC, id).

    Scale shape: the INPUT lists are already top-k-sized (the expensive
    ranking happened upstream at corpus scale); fusion is full-outer
    joins over k-row frames + one left-associated double sum — driver-
    trivial at any corpus size, and every term is 1/(k0+int), so both
    engines compute identical doubles."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if weights is None:
        weights = [1.0] * len(rankings)
    if len(weights) != len(rankings):
        raise ValueError(
            f"{len(weights)} weights for {len(rankings)} rankings"
        )
    fused = rankings[0].select(F.col(id_col), F.col("rank").alias("rank_0"))
    for i, r in enumerate(rankings[1:], start=1):
        fused = fused.join(
            r.select(F.col(id_col), F.col("rank").alias(f"rank_{i}")),
            id_col,
            "full_outer",
        )
    score = None
    for i in range(len(rankings)):
        term = F.coalesce(
            F.lit(float(weights[i]))
            / (F.lit(float(k0)) + F.col(f"rank_{i}").cast("double")),
            F.lit(0.0),
        )
        score = term if score is None else score + term
    return (
        fused.withColumn("rrf", F.round(score, 6))
        .orderBy(F.col("rrf").desc(), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# C4 cleaning heuristics (Raffel et al. 2020, §2.2)
# ---------------------------------------------------------------------------


def c4_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words_per_line: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """The published C4 line/page cleaning rules (Raffel et al. 2020,
    §2.2) as one scan-shaped projection:

    line level (kept lines rebuild the doc, '\\n'-joined):
    - ends in a terminal punctuation mark (``.``, ``!``, ``?``, ``"``)
    - has at least ``min_words_per_line`` words
    - does not contain "javascript" (case-insensitive)

    page level (flags + conjunctive keep):
    - at least ``min_sentences`` sentences in the kept text (sentence ~
      one terminal ``[.!?]`` character — the C4 split-on-punctuation
      approximation; an ellipsis counts its dots)
    - does not contain "lorem ipsum" (case-insensitive)
    - does not contain a curly bracket ``{``

    (The remaining published rules live elsewhere: the bad-words list is
    a deployment wordlist, and the three-sentence-span global dedup is
    :func:`remove_duplicate_spans` / :func:`line_dedup`.)

    Pure Column expressions — filter/HOF over the split line array, zero
    shuffle, scan speed at 100 TB. The kept text is emitted as an md5
    (house style for large rebuilt strings) plus counts, so the oracle
    value-checks the rebuild without shipping doc bodies.
    """
    from etl_file_loader_spark.functions import bind_once

    text = F.col(text_col)
    lines = F.filter(F.split(text, "\n", -1), lambda l: F.length(F.trim(l)) > 0)

    def is_kept(l: Column) -> Column:
        t = F.trim(l)
        terminal = (
            t.endswith(".") | t.endswith("!") | t.endswith("?") | t.endswith('"')
        )
        n_words = F.size(F.split(t, r"\s+"))
        return (
            terminal
            & (n_words >= min_words_per_line)
            & ~F.lower(l).contains("javascript")
        )

    def stats(ls: Column) -> Column:
        kept = F.filter(ls, is_kept)
        kept_text = F.array_join(kept, "\n")
        n_sentences = F.length(kept_text) - F.length(
            F.regexp_replace(kept_text, r"[.!?]", "")
        )
        return F.struct(
            F.size(ls).cast("long").alias("n_lines"),
            F.size(kept).cast("long").alias("n_kept_lines"),
            n_sentences.cast("long").alias("n_sentences"),
            F.md5(kept_text).alias("kept_md5"),
        )

    out = df.select(
        F.col(id_col),
        bind_once(lines, stats).alias("_s"),
        F.lower(text).contains("lorem ipsum").alias("_lorem"),
        text.contains("{").alias("_brace"),
    )
    s = F.col("_s")
    keep = (
        (s["n_sentences"] >= min_sentences)
        & ~F.col("_lorem")
        & ~F.col("_brace")
    )
    return out.select(
        F.col(id_col),
        s["n_lines"].alias("n_lines"),
        s["n_kept_lines"].alias("n_kept_lines"),
        s["n_sentences"].alias("n_sentences"),
        F.col("_lorem").cast("int").cast("long").alias("has_lorem_ipsum"),
        F.col("_brace").cast("int").cast("long").alias("has_curly_brace"),
        s["kept_md5"].alias("kept_md5"),
        keep.cast("int").cast("long").alias("keep"),
    )
