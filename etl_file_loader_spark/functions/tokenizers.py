"""Pluggable tokenizer seam for the training-data layouts.

``functions.tokens()`` (whitespace) is right for dedup statistics but wrong
for TOKEN BUDGETS: training layouts (``sequence_chunks`` /
``packed_sequences`` / ``pack_shards``) count what a subword tokenizer
would produce, not words. This module is the seam: a tokenizer is an object
with

- ``name``       — stable identifier (manifests record it),
- ``tokens(col)`` — Column expression: text -> array<string>,
- ``duckdb_expr(expr)`` — the equivalent DuckDB SQL fragment, so every
  layout built on the tokenizer stays cross-engine value-verifiable
  (raises for tokenizers with no SQL form; the driver then records the
  weaker rows-only check).

Implementations, cheapest first:

- :class:`WhitespaceTokenizer` — the historical default; zero-cost alias
  of ``functions.tokens``.
- :class:`RegexTokenizer` — GPT-2-style PRE-tokenization (letter runs,
  digit runs, single punctuation marks). Pure ``regexp_extract_all``;
  scan-shaped in both engines.
- :class:`SubwordTokenizer` — regex pre-tokens split into fixed-width
  character pieces (width ~4 approximates the ~4 chars/token of byte-pair
  vocabularies). Deterministic, vocabulary-free, and expressible in both
  engines — the oracle-checkable subword approximation the token budgets
  use.
- :class:`GreedyVocabTokenizer` — WordPiece-style greedy longest-match
  against a LEARNED vocabulary (``fit_subword_vocab``), as an
  Arrow-batched pandas UDF. The real-subword scale path; no SQL twin
  (tests pin its invariants instead).

All tokenizers treat null text as empty (no tokens).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves lazy UDF type annotations
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_file_loader_spark.functions import tokens as _ws_tokens

# ASCII-explicit whitespace class: Java \s and RE2 \s disagree on \x0b, so
# portable patterns must spell it out.
_WS = r" \t\n\x0b\f\r"
DEFAULT_PRETOKEN_PATTERN = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS}]"


class WhitespaceTokenizer:
    name = "whitespace"

    def tokens(self, col: Column) -> Column:
        return _ws_tokens(col)

    def duckdb_expr(self, expr: str) -> str:
        # Explicit ASCII class, not \s: RE2 \s omits \x0b while Java \s
        # (the Spark side) includes it — 'x\x0by' must split identically.
        return (
            rf"CASE WHEN length(trim({expr})) = 0 THEN CAST([] AS VARCHAR[]) "
            rf"ELSE string_split_regex(trim({expr}), '[{_WS}]+') END"
        )


class RegexTokenizer:
    """Pre-tokenizer: one token per letter run / digit run / punctuation
    mark. The pattern must be portable between Java regex and RE2 — the
    default uses only explicit ASCII classes."""

    def __init__(self, pattern: str = DEFAULT_PRETOKEN_PATTERN, name: str = "regex"):
        self.pattern = pattern
        self.name = name

    def tokens(self, col: Column) -> Column:
        return F.coalesce(
            F.regexp_extract_all(col, F.lit(self.pattern), 0),
            F.array().cast("array<string>"),
        )

    def duckdb_expr(self, expr: str) -> str:
        pat = self.pattern.replace("'", "''")
        return (
            f"coalesce(regexp_extract_all({expr}, '{pat}'), "
            f"CAST([] AS VARCHAR[]))"
        )


class SubwordTokenizer:
    """Regex pre-tokens chopped into ``max_piece``-character pieces.

    ``ceil(len/4)`` tracks byte-pair token counts closely enough for
    budget math (BPE averages ~4 chars/token on English web text), is
    100% deterministic with no vocabulary artifact to ship, and has an
    exact SQL twin — so packed-sequence layouts stay value-verifiable
    under a non-whitespace tokenizer.
    """

    def __init__(self, max_piece: int = 4, pattern: str = DEFAULT_PRETOKEN_PATTERN):
        if max_piece < 1:
            raise ValueError("max_piece must be >= 1")
        self.max_piece = max_piece
        self.pattern = pattern
        self.name = f"subword{max_piece}"

    def tokens(self, col: Column) -> Column:
        L = self.max_piece
        pre = F.coalesce(
            F.regexp_extract_all(col, F.lit(self.pattern), 0),
            F.array().cast("array<string>"),
        )
        return F.flatten(
            F.transform(
                pre,
                lambda w: F.transform(
                    F.sequence(F.lit(0), F.floor((F.length(w) - 1) / L).cast("int")),
                    lambda i: F.substring(w, i * L + 1, L),
                ),
            )
        )

    def duckdb_expr(self, expr: str) -> str:
        L = self.max_piece
        pat = self.pattern.replace("'", "''")
        return (
            f"flatten(list_transform("
            f"coalesce(regexp_extract_all({expr}, '{pat}'), CAST([] AS VARCHAR[])), "
            f"w -> list_transform(range(0, ((length(w) - 1) // {L}) + 1), "
            f"i -> substr(w, CAST(i * {L} + 1 AS BIGINT), {L}))))"
        )


def fit_subword_vocab(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 4096,
    min_len: int = 2,
    max_len: int = 8,
    min_count: int = 2,
    pattern: str = DEFAULT_PRETOKEN_PATTERN,
) -> list[str]:
    """Learn a subword vocabulary from the corpus: the ``vocab_size`` most
    frequent word-internal character n-grams (length ``min_len..max_len``),
    ranked by count (ties by gram, so the artifact is deterministic).

    Distributed shape: regex pre-tokens -> per-word n-gram explode -> one
    hash aggregation -> top-K. The only driver-side materialization is the
    vocabulary itself (bounded by ``vocab_size``), the same artifact a BPE
    trainer ships. Frequency-ranked greedy matching is the WordPiece
    serving approximation — not a true merge-order BPE, but learned from
    data and honest about it.
    """
    from etl_file_loader_spark.operators.skew import fan_out_scan

    # single-split scans run the whole pre-token explode in one task
    # (guide §2.5; no-op at scale)
    df = fan_out_scan(df)

    words = df.select(
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)).alias("w")
    )
    grams = words.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(min_len), F.lit(max_len)),
                    lambda n: F.when(
                        F.length("w") >= n,
                        F.transform(
                            F.sequence(F.lit(0), F.length("w") - n),
                            lambda i: F.substring(F.col("w"), i + 1, n),
                        ),
                    ).otherwise(F.array().cast("array<string>")),
                )
            )
        ).alias("g")
    )
    top = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .orderBy(F.col("c").desc(), F.col("g"))
        .limit(vocab_size)
    )
    return [r["g"] for r in top.collect()]


class GreedyVocabTokenizer:
    """Greedy longest-match subword tokenization against a learned vocab
    (WordPiece serving): at each position take the longest vocab entry
    that prefixes the rest of the word, falling back to one character.

    Arrow-batched pandas UDF over the regex pre-tokens; the vocab rides
    the UDF closure (broadcast once per executor) — fine up to ~10^6
    entries, which covers every real subword vocabulary.

    Oracle story: no per-COLUMN SQL form (``duckdb_expr`` raises — greedy
    matching is a sequential scan, not a scalar expression), but the
    LAYOUT-level oracle exists since round 6: ``packed_sequences_greedy``
    (suite/sampling.py) re-learns the same vocabulary in SQL and replays
    greedy longest-match as a recursive CTE over distinct words, so
    sequences built on this tokenizer are value-verified cross-engine.
    Invariants (coverage, concatenation identity, vocab membership) are
    additionally pinned in tests.
    """

    def __init__(self, vocab: list[str], pattern: str = DEFAULT_PRETOKEN_PATTERN,
                 max_piece: int = 16):
        # Entries longer than max_piece can never match (the scan caps its
        # lookahead at max_piece) — drop them so self.vocab reports exactly
        # the reachable vocabulary instead of silently advertising dead
        # entries.
        self.vocab = frozenset(v for v in vocab if len(v) <= max_piece)
        self.pattern = pattern
        self.max_piece = min(max(map(len, self.vocab), default=1), max_piece)
        self.name = f"greedy{len(self.vocab)}"

    def tokens(self, col: Column) -> Column:
        import re as _re

        from pyspark.sql.functions import pandas_udf

        vocab = self.vocab
        longest = self.max_piece
        rx = _re.compile(self.pattern)

        @pandas_udf("array<string>")
        def _tok(texts: pd.Series) -> pd.Series:
            out = []
            for text in texts:
                pieces: list[str] = []
                for w in rx.findall(text or ""):
                    i, m = 0, len(w)
                    while i < m:
                        step = 1
                        for ln in range(min(longest, m - i), 1, -1):
                            if w[i : i + ln] in vocab:
                                step = ln
                                break
                        pieces.append(w[i : i + step])
                        i += step
                out.append(pieces)
            return pd.Series(out)

        return _tok(col)

    def duckdb_expr(self, expr: str) -> str:
        raise NotImplementedError(
            "greedy vocab matching has no scalar SQL form (it is a "
            "sequential scan); layout-level oracles exist instead — see "
            "packed_sequences_greedy (recursive-CTE replay) or use "
            "SubwordTokenizer for expression-level oracle checks"
        )


def token_count(tokenizer, col: Column) -> Column:
    """Token-budget column under ``tokenizer`` (null text -> 0)."""
    return F.coalesce(F.size(tokenizer.tokens(col)), F.lit(0)).cast("long")


def _merge_pass(seg: list[str], a: str, b: str) -> list[str]:
    """One left-to-right merge pass: every non-overlapping (a, b) adjacency
    becomes a||b (the T.81-of-BPE single-pass rule both engines replay:
    after a merge the scan resumes AFTER the merged token)."""
    out: list[str] = []
    i, n = 0, len(seg)
    while i < n:
        if i + 1 < n and seg[i] == a and seg[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(seg[i])
            i += 1
    return out


def fit_bpe_merges(
    df: DataFrame,
    text_col: str,
    num_merges: int = 12,
    min_count: int = 2,
    pattern: str = DEFAULT_PRETOKEN_PATTERN,
    max_words: int | None = 2_000_000,
) -> list[tuple[str, str]]:
    """Learn a TRUE byte-pair-encoding merges table (ranked pair merges,
    the GPT-style artifact) from the corpus.

    Algorithm: words start as character sequences; ``num_merges`` times,
    the most frequent adjacent symbol pair (weighted by word occurrence
    count; ties broken by pair lexicographic order so the artifact is
    deterministic) is recorded and merged everywhere. Stops early when no
    pair reaches ``min_count``.

    Distributed shape — the same split real BPE trainers use: the corpus-
    sized work is ONE aggregation (pre-token explode -> word counts,
    shuffle ∝ distinct words); merge learning then runs over the bounded
    word-count table on the driver (HuggingFace/SentencePiece train
    in-memory over exactly this table). The driver collect is bounded BY
    DEFAULT: ``max_words`` keeps the top-K words by count (ties by word —
    logged loudly when it truncates; the dropped tail is the
    low-frequency words that barely move pair counts). 2M is the
    HF/SentencePiece-convention scale for trainer word tables; pass
    ``max_words=None`` to opt out explicitly. Truncation detection rides
    the same TakeOrdered job (top K+1 rows), no extra count pass.

    The SQL oracle (``packed_sequences_bpe``) RE-LEARNS these merges with
    the identical counting, tie-break, and single-pass merge rules, so
    the artifact itself is cross-engine verified — not just trusted.
    """
    from etl_file_loader_spark.operators.skew import fan_out_scan

    # single-split scans run the whole pre-token explode in one task
    # (guide §2.5; no-op at scale)
    df = fan_out_scan(df)

    import logging

    words = df.select(
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)).alias("w")
    )
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    if max_words is not None:
        # K+1 rows through the same global TakeOrdered: row K+1 existing IS
        # the truncation signal — no separate counts.count() job
        rows = counts.orderBy(F.col("c").desc(), F.col("w")).limit(max_words + 1).collect()
        if len(rows) > max_words:
            logging.getLogger(__name__).warning(
                "fit_bpe_merges: word table truncated to top %d by count; "
                "pair statistics exclude the dropped low-frequency tail "
                "(pass max_words=None to collect the full table)",
                max_words,
            )
            rows = rows[:max_words]
    else:
        rows = counts.collect()
    wc = [(r["w"], int(r["c"])) for r in rows]

    segs: list[list[str]] = [list(w) for w, _ in wc]
    freqs = [c for _, c in wc]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for seg, c in zip(segs, freqs):
            for i in range(len(seg) - 1):
                p = (seg[i], seg[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        best = None
        for p, c in pair_counts.items():
            if c < min_count:
                continue
            # max count; ties -> lexicographically SMALLEST pair
            if best is None or c > best[1] or (c == best[1] and p < best[0]):
                best = (p, c)
        if best is None:
            break
        a, b = best[0]
        merges.append((a, b))
        segs = [_merge_pass(s, a, b) if a in s else s for s in segs]
    return merges


class BPETokenizer:
    """True BPE encode against a learned merges table: start from
    characters, repeatedly apply the LOWEST-RANK merge present until none
    applies — the GPT-2 serving algorithm. Equivalent to applying the
    merges in rank order (a later merge can never outrank an earlier one,
    since its components must already exist), which is what the SQL twin
    replays.

    Arrow-batched pandas UDF over regex pre-tokens with a per-batch word
    cache (web text repeats words heavily); the ranks table rides the UDF
    closure. No scalar SQL form — the layout-level oracle is
    ``packed_sequences_bpe`` (suite/sampling.py), which re-learns the
    merges in SQL and replays them over DISTINCT words.
    """

    def __init__(self, merges: list[tuple[str, str]], pattern: str = DEFAULT_PRETOKEN_PATTERN):
        self.merges = [tuple(m) for m in merges]
        self.ranks = {tuple(m): i for i, m in enumerate(self.merges)}
        self.pattern = pattern
        self.name = f"bpe{len(self.merges)}"

    def _encode_word(self, w: str) -> list[str]:
        seg = list(w)
        ranks = self.ranks
        while len(seg) > 1:
            best = None
            for i in range(len(seg) - 1):
                r = ranks.get((seg[i], seg[i + 1]))
                if r is not None and (best is None or r < best):
                    best = r
            if best is None:
                break
            a, b = self.merges[best]
            seg = _merge_pass(seg, a, b)
        return seg

    def tokens(self, col: Column) -> Column:
        import re as _re

        from pyspark.sql.functions import pandas_udf

        rx = _re.compile(self.pattern)
        encode = self._encode_word

        @pandas_udf("array<string>")
        def _tok(texts: pd.Series) -> pd.Series:
            cache: dict[str, list[str]] = {}
            out = []
            for text in texts:
                pieces: list[str] = []
                for w in rx.findall(text or ""):
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode(w)
                        cache[w] = enc
                    pieces.extend(enc)
                out.append(pieces)
            return pd.Series(out)

        return _tok(col)

    def duckdb_expr(self, expr: str) -> str:
        raise NotImplementedError(
            "BPE encode has no scalar SQL form (rank-ordered merge passes); "
            "the layout-level oracle packed_sequences_bpe re-learns the "
            "merges table in SQL and replays it over distinct words"
        )


# ---------------------------------------------------------------------------
# WordPiece: likelihood-scored merges + greedy longest-match serving
# ---------------------------------------------------------------------------


def _wp_merge_pass(seg: list[str], a: str, b: str) -> list[str]:
    """One left-to-right WordPiece merge pass: (a, b) -> a + b-without-##.

    The second element of any adjacency is a continuation symbol (##-
    prefixed — s0 puts ## on every non-initial char and merges preserve
    the first element's prefix), so the merged symbol strips b's ##."""
    out: list[str] = []
    i, n = 0, len(seg)
    while i < n:
        if i + 1 < n and seg[i] == a and seg[i + 1] == b:
            out.append(a + b[2:])
            i += 2
        else:
            out.append(seg[i])
            i += 1
    return out


def fit_wordpiece_vocab(
    df: DataFrame,
    text_col: str,
    num_merges: int = 12,
    min_count: int = 2,
    pattern: str = DEFAULT_PRETOKEN_PATTERN,
    max_words: int | None = 2_000_000,
) -> list[str]:
    """Learn a WordPiece vocabulary (the BERT trainer): like BPE, but each
    round merges the pair with the highest LIKELIHOOD score
    ``count(ab) / (count(a) * count(b))`` instead of the raw pair count
    (ties -> lexicographically smallest pair). Words are represented as
    first-char + ##-prefixed continuations; a merge of (a, ##b) yields
    ``ab``, of (##a, ##b) yields ``##ab``.

    Returns the vocabulary: the full alphabet of initial symbols (word-
    start chars + ##-chars), sorted, followed by the merge products in
    learn order. Serving is greedy longest-match (``WordPieceTokenizer``).

    Distributed shape: identical to ``fit_bpe_merges`` — ONE word-count
    aggregation (shuffle ∝ distinct words), then merge learning over the
    bounded driver-side word table (``max_words`` top-K cap with the same
    loud truncation warning, rides the TakeOrdered job).

    Cross-engine determinism of the score compare: counts are exact
    BIGINTs < 2^26, so ``cnt_a * cnt_b`` < 2^52 is exactly representable
    and the single IEEE division is correctly rounded identically in
    Python and DuckDB — score ordering is bit-reproducible, no epsilon.
    The SQL oracle (``packed_sequences_wordpiece``) RE-LEARNS the vocab
    with the same counting, scoring, and single-pass merge rules, then
    replays greedy matching — artifact and layout both value-verified.
    """
    from etl_file_loader_spark.operators.skew import fan_out_scan

    # single-split scans run the whole pre-token explode in one task
    # (guide §2.5; no-op at scale)
    df = fan_out_scan(df)

    import logging

    words = df.select(
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)).alias("w")
    )
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    if max_words is not None:
        rows = counts.orderBy(F.col("c").desc(), F.col("w")).limit(max_words + 1).collect()
        if len(rows) > max_words:
            logging.getLogger(__name__).warning(
                "fit_wordpiece_vocab: word table truncated to top %d by "
                "count; pair statistics exclude the dropped low-frequency "
                "tail (pass max_words=None to collect the full table)",
                max_words,
            )
            rows = rows[:max_words]
    else:
        rows = counts.collect()
    wc = [(r["w"], int(r["c"])) for r in rows]

    segs: list[list[str]] = [
        [w[0]] + ["##" + ch for ch in w[1:]] for w, _ in wc
    ]
    freqs = [c for _, c in wc]
    alphabet = sorted({s for seg in segs for s in seg})
    pieces: list[str] = []
    for _ in range(num_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        sym_counts: dict[str, int] = {}
        for seg, c in zip(segs, freqs):
            for s in seg:
                sym_counts[s] = sym_counts.get(s, 0) + c
            for i in range(len(seg) - 1):
                p = (seg[i], seg[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        best = None
        for p, c in pair_counts.items():
            if c < min_count:
                continue
            score = c / (sym_counts[p[0]] * sym_counts[p[1]])
            if (
                best is None
                or score > best[1]
                or (score == best[1] and p < best[0])
            ):
                best = (p, score)
        if best is None:
            break
        a, b = best[0]
        pieces.append(a + b[2:])
        segs = [_wp_merge_pass(s, a, b) if a in s else s for s in segs]
    return alphabet + pieces


class WordPieceTokenizer:
    """WordPiece greedy longest-match serving (the BERT algorithm): at the
    word start match the longest vocabulary prefix, then repeatedly the
    longest ##-continuation piece; any position with no match turns the
    WHOLE word into ``[UNK]``.

    Arrow-batched pandas UDF over regex pre-tokens with a per-batch word
    cache. No scalar SQL form — the layout-level oracle is
    ``packed_sequences_wordpiece`` (suite/sampling.py), which re-learns
    the vocabulary in SQL and replays greedy matching over DISTINCT
    words as a recursive CTE.
    """

    UNK = "[UNK]"

    def __init__(self, vocab: list[str], pattern: str = DEFAULT_PRETOKEN_PATTERN):
        self.vocab = set(vocab)
        self.pattern = pattern
        self.name = f"wordpiece{len(self.vocab)}"

    def _encode_word(self, w: str) -> list[str]:
        vocab = self.vocab
        out: list[str] = []
        i, n = 0, len(w)
        while i < n:
            end = n
            piece = None
            while end > i:
                sub = w[i:end]
                if i > 0:
                    sub = "##" + sub
                if sub in vocab:
                    piece = sub
                    break
                end -= 1
            if piece is None:
                return [self.UNK]
            out.append(piece)
            i = end
        return out

    def tokens(self, col: Column) -> Column:
        import re as _re

        from pyspark.sql.functions import pandas_udf

        rx = _re.compile(self.pattern)
        encode = self._encode_word

        @pandas_udf("array<string>")
        def _tok(texts: pd.Series) -> pd.Series:
            cache: dict[str, list[str]] = {}
            out = []
            for text in texts:
                pieces: list[str] = []
                for w in rx.findall(text or ""):
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode(w)
                        cache[w] = enc
                    pieces.extend(enc)
                out.append(pieces)
            return pd.Series(out)

        return _tok(col)

    def duckdb_expr(self, expr: str) -> str:
        raise NotImplementedError(
            "WordPiece encode has no scalar SQL form (greedy longest-match "
            "over a learned vocab); the layout-level oracle "
            "packed_sequences_wordpiece re-learns the vocab in SQL and "
            "replays greedy matching over distinct words"
        )


# ---------------------------------------------------------------------------
# unigram-LM (SentencePiece-style) tokenizer: Viterbi under piece log-probs
# ---------------------------------------------------------------------------


def _round_half_away(x: float) -> int:
    """Round half AWAY from zero — SQL ``round`` semantics. Python's
    built-in ``round`` is banker's rounding; every engine-shared integer
    quantization in this module must use THIS rule."""
    import math

    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _viterbi_segment(
    w: str, scores: dict[str, int], max_len: int, unk_milli: int
) -> tuple[tuple[int, ...], int]:
    """Best segmentation of ``w`` under integer milli-log-prob ``scores``.

    Maximizes (total score, piece-length sequence lexicographically) —
    the length-sequence tie-break is TOTAL (two same-coverage paths can
    never be prefix-ordered: equal coverage forces equal length sums, so
    they differ at some element), which makes the argmax deterministic
    and exactly replayable as ``max(struct(score, lens))`` in SQL.
    Positions whose character is outside the inventory fall back to a
    1-char piece at ``unk_milli``. Returns (lens, score).
    """
    n = len(w)
    # dp[i]: best (score, lens) covering w[:i]
    dp: list[tuple[int, tuple[int, ...]] | None] = [None] * (n + 1)
    dp[0] = (0, ())
    for i in range(1, n + 1):
        best = None
        for j in range(1, min(max_len, i) + 1):
            prev = dp[i - j]
            if prev is None:
                continue
            piece = w[i - j : i]
            sc = scores.get(piece)
            if sc is None:
                if j != 1:
                    continue
                sc = unk_milli  # uncovered single char
            cand = (prev[0] + sc, prev[1] + (j,))
            if best is None or cand > best:
                best = cand
        dp[i] = best
    assert dp[n] is not None  # 1-char fallback guarantees a path
    return dp[n][1], dp[n][0]


def fit_unigram_pieces(
    df: DataFrame,
    text_col: str,
    vocab_size: int = 64,
    max_piece_len: int = 4,
    seed_multiplier: int = 4,
    min_count: int = 2,
    pattern: str = DEFAULT_PRETOKEN_PATTERN,
    max_words: int | None = 2_000_000,
) -> list[tuple[str, int]]:
    """Learn a unigram-LM piece inventory (the SentencePiece algorithm
    family, Kudo 2018) with ONE deterministic hard-EM round:

    1. SEED: all single characters (coverage floor, always kept) + the
       ``vocab_size * seed_multiplier`` most frequent word-internal
       substrings of length 2..``max_piece_len`` (occurrence-weighted,
       count >= ``min_count``, ties by piece). Seed scores are integer
       MILLI-log-probs ``round(1000 * ln(cnt / total))`` — the integer
       quantization is what makes every downstream Viterbi argmax
       engine-exact instead of 1-ulp-fragile.
    2. E-STEP (hard): Viterbi-segment every distinct word under the seed
       scores (:func:`_viterbi_segment`'s total tie-break).
    3. M-STEP + PRUNE: piece usage = Σ word_freq × uses; the final
       inventory is every single char + the top ``vocab_size - n_chars``
       multi-char pieces by (usage DESC, piece ASC) among usage >= 1;
       final scores are Laplace-smoothed milli-log-probs
       ``round(1000 * ln((usage+1) / (total_usage + |V|)))`` (the +1
       keeps never-chosen chars finite).

    Distributed shape — the same trainer split as :func:`fit_bpe_merges`:
    corpus-sized work is TWO aggregations (word counts; substring seed
    counts — both shuffle ∝ distinct keys, map-side combinable); Viterbi
    + usage counting run over the bounded word table on the driver
    (``max_words`` top-K cap by default, loud truncation, K+1-row
    detection on the same TakeOrdered job). The SQL oracle
    (``packed_sequences_unigram``) RE-LEARNS the inventory end-to-end —
    seed counting, the unrolled Viterbi DP, usage pruning, re-scoring —
    so the artifact is cross-engine verified, not just trusted.
    """
    from etl_file_loader_spark.operators.skew import fan_out_scan

    # single-split scans run the whole pre-token explode in one task
    # (guide §2.5; no-op at scale)
    df = fan_out_scan(df)

    import logging
    import math

    words = df.select(
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(pattern), 0)).alias("w")
    )
    # ONE corpus pass (round 15, guide §1.2/§2.4): the word-count TYPE
    # table is the only corpus-sized aggregate; substring seed counts
    # derive from it exactly (pc(p) = Σ_w c(w) · occurrences of p in w —
    # the old shape re-exploded every word OCCURRENCE's substrings and,
    # because chars and multis were separate collect() actions, ran that
    # corpus explode twice more). chars + top-K multis + the bounded
    # word table then come back in ONE collect, so the word-count
    # exchange under all three branches is computed once and reused.
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    subs = counts.select(
        F.col("c"),
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.lit(max_piece_len)),
                    lambda n: F.when(
                        F.length("w") >= n,
                        F.transform(
                            F.sequence(F.lit(0), F.length("w") - n),
                            lambda i: F.substring(F.col("w"), i + 1, n),
                        ),
                    ).otherwise(F.array().cast("array<string>")),
                )
            )
        ).alias("p"),
    )
    pc = subs.groupBy("p").agg(F.sum("c").alias("c"))
    chars_df = pc.filter(F.length("p") == 1).select(
        F.lit(0).alias("_t"), "p", "c"
    )
    multi_df = (
        pc.filter((F.length("p") >= 2) & (F.col("c") >= min_count))
        .orderBy(F.col("c").desc(), F.col("p"))
        .limit(vocab_size * seed_multiplier)
        .select(F.lit(1).alias("_t"), "p", "c")
    )
    if max_words is None:
        words_kept = counts
    else:
        words_kept = counts.orderBy(F.col("c").desc(), F.col("w")).limit(max_words + 1)
    word_df = words_kept.select(F.lit(2).alias("_t"), F.col("w").alias("p"), "c")
    all_rows = chars_df.unionByName(multi_df).unionByName(word_df).collect()
    chars = {r["p"]: int(r["c"]) for r in all_rows if r["_t"] == 0}
    multi = {r["p"]: int(r["c"]) for r in all_rows if r["_t"] == 1}
    seed_counts = {**chars, **multi}
    total0 = sum(seed_counts.values())
    scores0 = {
        p: _round_half_away(1000.0 * math.log(c / total0))
        for p, c in seed_counts.items()
    }
    inv_maxlen = max((len(p) for p in scores0), default=1)

    # bounded word table (identical discipline to fit_bpe_merges)
    rows = [r for r in all_rows if r["_t"] == 2]
    if max_words is not None and len(rows) > max_words:
        logging.getLogger(__name__).warning(
            "fit_unigram_pieces: word table truncated to top %d by "
            "count; usage statistics exclude the dropped tail "
            "(pass max_words=None to collect the full table)",
            max_words,
        )
        rows = sorted(rows, key=lambda r: (-int(r["c"]), r["p"]))[:max_words]

    usage: dict[str, int] = {}
    for r in rows:
        w, c = r["p"], int(r["c"])
        lens, _ = _viterbi_segment(w, scores0, inv_maxlen, unk_milli=0)
        off = 0
        for ln in lens:
            piece = w[off : off + ln]
            usage[piece] = usage.get(piece, 0) + c
            off += ln
    final: dict[str, int] = {ch: usage.get(ch, 0) for ch in chars}
    n_multi = max(vocab_size - len(chars), 0)
    ranked = sorted(
        ((p, u) for p, u in usage.items() if len(p) >= 2 and u >= 1),
        key=lambda x: (-x[1], x[0]),
    )[:n_multi]
    final.update(dict(ranked))
    tot_u = sum(final.values())
    v = len(final)
    return sorted(
        (p, _round_half_away(1000.0 * math.log((u + 1) / (tot_u + v))))
        for p, u in final.items()
    )


class UnigramTokenizer:
    """Viterbi segmentation against a learned unigram-LM inventory (the
    SentencePiece serving algorithm): each regex pre-token is split into
    the piece sequence maximizing the summed integer milli-log-prob
    scores, with :func:`_viterbi_segment`'s total tie-break.

    Arrow-batched pandas UDF with a per-batch word cache; the inventory
    rides the UDF closure. Characters outside the inventory become 1-char
    pieces at ``unk_milli``. No scalar SQL form — the layout-level oracle
    is ``packed_sequences_unigram`` (suite/sampling.py), which re-learns
    the inventory in SQL and replays the identical DP over distinct
    words.
    """

    def __init__(
        self,
        pieces: list[tuple[str, int]],
        pattern: str = DEFAULT_PRETOKEN_PATTERN,
        unk_milli: int = -10_000_000,
    ):
        self.scores = {p: int(s) for p, s in pieces}
        self.pattern = pattern
        self.unk_milli = unk_milli
        self.max_piece = max((len(p) for p in self.scores), default=1)
        self.name = f"unigram{len(self.scores)}"

    def _encode_word(self, w: str) -> list[str]:
        lens, _ = _viterbi_segment(w, self.scores, self.max_piece, self.unk_milli)
        out, off = [], 0
        for ln in lens:
            out.append(w[off : off + ln])
            off += ln
        return out

    def tokens(self, col: Column) -> Column:
        import re as _re

        from pyspark.sql.functions import pandas_udf

        rx = _re.compile(self.pattern)
        encode = self._encode_word

        @pandas_udf("array<string>")
        def _tok(texts: pd.Series) -> pd.Series:
            cache: dict[str, list[str]] = {}
            out = []
            for text in texts:
                pieces: list[str] = []
                for w in rx.findall(text or ""):
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode(w)
                        cache[w] = enc
                    pieces.extend(enc)
                out.append(pieces)
            return pd.Series(out)

        return _tok(col)

    def duckdb_expr(self, expr: str) -> str:
        raise NotImplementedError(
            "unigram-LM Viterbi has no scalar SQL form (a DP over word "
            "positions); the layout-level oracle packed_sequences_unigram "
            "re-learns the inventory in SQL and replays the identical DP "
            "over distinct words"
        )
