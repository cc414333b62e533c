"""End-to-end corpus curation driver: the training-data counterpart of the
ingestion ``Processor``.

One configured object chains the curation operators in the order a
pretraining pipeline actually runs them — quality filter (heuristic and/or
model-based) -> PII scrub -> near-dedup -> held-out split -> deterministic
shuffle -> token-budget shard packing -> on-disk shard layout — and reports
per-stage document counts so data loss is attributable.

Every stage is one of the already-verified operators; this module adds no
new distributed logic, only composition + accounting. Counts cost one job
per enabled stage (a count over the stage frame — bounded by the number of
stages, never per-row driver work).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_file_loader_spark.operators import dedup as dedup_ops
from etl_file_loader_spark.operators import sampling as sampling_ops
from etl_file_loader_spark.operators import text as text_ops


@dataclass
class CurationConfig:
    """Declarative curation recipe (every stage optional)."""

    id_col: str = "doc_id"
    text_col: str = "text"
    # stage 0a: URL-level policing (round 11) — runs BEFORE html
    # extraction because it is the cheapest filter in the whole recipe
    # (a regexp projection + broadcast anti-join + bounded-key window,
    # no text processing at all): drop blocked registrable domains and
    # cap docs per domain (anti-dominance). Requires ``url_col``; both
    # guards optional and independent.
    url_col: str | None = None
    blocked_domains: tuple[str, ...] = ()
    domain_cap: int | None = None
    # public-suffix rules for the registrable-domain key: None = built-in
    # subset; a list of two-label suffixes; or load_psl() output (a dict
    # with wildcard/exception rules from a real Mozilla PSL snapshot)
    second_level_tlds: tuple[str, ...] | list[str] | dict | None = None
    # stage 0: HTML -> visible text (the web-crawl front door; the raw
    # text_col is REPLACED by the extracted main text before any
    # quality/dedup stage sees it)
    html_extract: bool = False
    html_min_words: int = 3
    html_max_link_density_milli: int = 500
    # stage 1: heuristic quality floor (None disables)
    min_quality: float | None = 0.5
    # stage 1b: the published Gopher rules (Rae et al. 2021 Appendix A) —
    # document-shape rules (gopher_quality: word counts, word lengths,
    # symbol/bullet/ellipsis shares, alpha share, stop-word hits) AND the
    # full repetition table (gopher_repetition: dup line/para fractions,
    # top/dup n-gram char fractions). Shape rules are scan-speed; the
    # repetition rules pay the (doc, n, gram) shuffle PRE-dedup — exactly
    # where the published recipe runs them. Thresholds overridable via
    # the operator-level dicts.
    gopher_rules: bool = False
    gopher_quality_overrides: dict | None = None
    gopher_repetition_thresholds: dict | None = None
    # stage 1c: language-ID gate (the CCNet/RefinedWeb pipeline position —
    # after the shape/quality rules, before the model-based quality
    # classifier): score every doc with the fitted multiclass NB models
    # (operators/text.fit_langid_nb's {lang: (weights_milli, bias_milli)}
    # dict) and keep docs whose argmax lands in ``langid_keep``. Scoring
    # is pure column expressions (one hashed-feature array per doc);
    # None disables. An empty langid_keep with models set is a config
    # error (it would silently drop the whole corpus).
    langid_models: dict | None = None
    langid_keep: tuple[str, ...] = ()
    # stage 2: hashed linear classifier (milli-unit weights; None disables)
    classifier_weights_milli: list[int] | None = None
    classifier_bias_milli: int = 0
    classifier_threshold_milli: int = 0
    # stage 3: PII redaction
    scrub_pii: bool = True
    # stage 4: near-dedup (MinHash+LSH collapse on the exact-text quotient)
    near_dedup: bool = True
    minhash_hashes: int = 16
    lsh_bands: int = 4
    lsh_rows_per_band: int = 4
    # stage 4 exact variant (round 10): true-Jaccard edges via the
    # self-tuning exact join instead of LSH candidates — survivors become
    # a pure function of the data (no recall trade) at the cost of the
    # candidate-verify join; threshold is the jaccard floor for an edge.
    # Measured crossover (NOTES_r11 §6, CurationPipeline end-to-end on the
    # duplication-heavy documents corpus): below ~100k docs exact is FREE
    # OR CHEAPER than LSH (16.0 s vs 19.6 s at 50k); above it exact grows
    # superlinearly in the distinct-text quotient (49 s @ 150k, 489 s @
    # 500k vs LSH's 38/92 s). The premium buys a scale-invariant answer:
    # exact returns the same 4,756 survivors at every corpus size while
    # LSH's misses compound with scale (4,812 -> 5,435 survivors from
    # 50k -> 500k docs). Prefer exact below the crossover, and above it
    # run exact on a sample to measure the LSH miss rate before choosing.
    near_dedup_exact: bool = False
    near_dedup_threshold: float = 0.5
    # stage 4b: SimHash hamming-ball dedup AFTER the MinHash pass — the
    # scale composition from NOTES_r6 §8: MinHash collapse removes the
    # near-identical families FIRST, so SimHash's exact per-pair hamming
    # verification (inherently Σ family² on duplication-dense corpora)
    # runs over family representatives, not full families. Optional
    # simhash_max_family_size additionally caps hot block buckets with
    # loud truncation accounting (dedup._cap_buckets).
    simhash_dedup: bool = False
    simhash_bits: int = 60
    simhash_max_hamming: int = 3
    simhash_blocks: int = 4
    simhash_max_family_size: int | None = None
    # stage 4d ordering note: span removal runs AFTER doc-level dedup (4/4b)
    # and BEFORE the perplexity filter (4c follows 4d in run()) — the Lee
    # et al. 2021 recipe: cut duplicated spans once whole-doc duplicates are
    # gone, then score fluency on the deduplicated remainder. Duplicated
    # w-token spans are removed from every doc but the globally-first
    # occurrence; docs whose text rebuilds to '' drop.
    span_dedup: bool = False
    span_window: int = 5
    # stage 4c: corpus-trained LM fluency filter (CCNet's discipline:
    # perplexity-filter AFTER dedup so boilerplate mass can't dominate the
    # model the corpus trains on itself). Docs whose interpolated
    # Kneser-Ney mean log-probability (operators/text.kn_bigram_logprob)
    # falls below the floor are dropped; docs too short to score
    # (n_bigrams = 0) pass through — length floors are stage 1's job.
    perplexity_filter: bool = False
    min_mean_logprob: float = -8.0
    # stage 4c band variant — CCNet's ACTUAL per-language discipline
    # (Wenzek et al. 2020 keep the head/middle perplexity tertiles per
    # language, not an absolute floor): keep docs whose mean_logprob lies
    # within the per-group [lo_milli, hi_milli] quantile band, bounds from
    # the portable quantile sketch (operators/sketches.quantile_trim —
    # register-bounded, SQL-replayable). E.g. (333, 1000) keeps the most
    # fluent two thirds of each language. Mutually exclusive with the
    # absolute floor; unscoreable docs (n_bigrams = 0) pass through
    # either way (length floors are stage 1's job), and so do docs with
    # a NULL in any perplexity_band_by column (no group distribution to
    # trim against — e.g. unidentified language; ADVICE r13: the
    # equi-join used to drop them silently regardless of fluency).
    perplexity_band: tuple[int, int] | None = None
    perplexity_band_by: list[str] = field(default_factory=lambda: ["lang"])
    # stage 5: held-out split (label -> fraction; None disables)
    split_fractions: dict[str, float] | None = None
    keep_splits: tuple[str, ...] = ("train",)
    # stage 6/7: deterministic shuffle + shard packing
    shuffle_seed: str = "shuffle"
    shard_budget_tokens: int = 100_000
    partition_cols: list[str] = field(default_factory=lambda: ["lang"])
    # tokenizer (functions.tokenizers protocol) for the token budgets; None
    # keeps the historical whitespace counts. A subword tokenizer makes
    # shard_budget_tokens a real training-token budget.
    tokenizer: object | None = None
    # Lineage barriers after the plan-exploding dedup stages (4/4b/4d):
    # the connected-components lineage inside the dedup operators makes
    # EVERY downstream frame re-pay Catalyst optimization over the whole
    # tree — measured at sf10 (500k docs), the perplexity stage costs
    # 391 s with the full lineage vs 2.5 s behind a localCheckpoint
    # barrier (driver-side planning, not cluster work). eager=True also
    # makes each stage count cheap. On a real cluster the equivalent is
    # writing the stage frame to storage (what VersionedCorpus.ingest
    # does); localCheckpoint keeps the one-shot run() self-contained.
    stage_barriers: bool = True


@dataclass
class CurationResult:
    packed: DataFrame  # curated docs + n_tokens, split, shard_id
    stage_counts: dict[str, int]

    @property
    def kept_docs(self) -> int:
        return self.stage_counts["packed"]


class CurationPipeline:
    """Run a :class:`CurationConfig` over a documents frame.

    ``run`` returns the packed frame + per-stage counts; ``run_and_write``
    additionally persists the shard layout (data partitioned by
    (partition..., shard_id) + manifest) via ``write_training_shards``.

    ``on_stage`` (optional) is the live per-stage hook, mirroring
    ``PipelineRunner``'s: called with ``(stage_name, doc_count,
    seconds_since_previous_stage)`` right after each stage's count
    materializes — per-stage wall attribution for free, since every stage
    already ends in exactly one count job (the measured-composition tool
    tools/measure_curation_composed.py consumes it).
    """

    def __init__(self, config: CurationConfig, on_stage=None):
        self.config = config
        self.on_stage = on_stage

    def _stage_counts(self, docs: DataFrame) -> dict:
        """The per-stage count dict; a timing subclass when on_stage is
        set (every stage writes through __setitem__ exactly once)."""
        import time as _time

        if self.on_stage is None:
            return {"input": docs.count()}
        hook = self.on_stage

        class _Timed(dict):
            def __init__(self):
                super().__init__()
                self._t = _time.perf_counter()

            def __setitem__(self, k, v):
                now = _time.perf_counter()
                hook(k, v, round(now - self._t, 3))
                self._t = now
                super().__setitem__(k, v)

        out = _Timed()
        out["input"] = docs.count()
        return out

    def _token_count(self, col):
        """Token-budget column under the configured tokenizer (default:
        historical whitespace counts)."""
        if self.config.tokenizer is not None:
            from etl_file_loader_spark.functions.tokenizers import token_count

            return token_count(self.config.tokenizer, col)
        return text_ops.token_count(col).cast("long")

    def _apply_filters(self, docs: DataFrame, counts: dict[str, int]) -> DataFrame:
        """Stages 1-3 (quality floor, classifier, PII scrub) — shared by the
        one-shot ``run`` and the versioned incremental driver."""
        c = self.config
        did, txt = c.id_col, c.text_col
        cur = docs

        if c.url_col is not None and (c.blocked_domains or c.domain_cap is not None):
            from etl_file_loader_spark.operators import web as web_ops

            if c.blocked_domains:
                from etl_file_loader_spark.functions import local_rows_df

                # LocalRelation, not a Python RDD (guide §4, optimization r14)
                blocked = local_rows_df(
                    docs.sparkSession,
                    [(d,) for d in c.blocked_domains],
                    "domain string",
                )
                cur = web_ops.blocklist_filter(
                    cur, c.url_col, blocked,
                    second_level_tlds=c.second_level_tlds,
                ).drop("domain")
            if c.domain_cap is not None:
                cur = web_ops.domain_cap(
                    cur, c.url_col, c.domain_cap, did,
                    second_level_tlds=c.second_level_tlds,
                ).drop("domain")
            # barrier: every later stage re-evaluates its full upstream
            # lineage per count job (and the semi-join gates evaluate it
            # TWICE — build and probe sides); cutting here keeps the URL
            # regex parse a once-per-corpus cost (measured composed at
            # sf0.1: the unbarriered filter chain re-ran the HTML/URL
            # projections so often the langid stage alone cost 34.6 s on
            # 5k docs; barriered, the whole pipeline runs in seconds)
            cur = self._barrier(cur)
            counts["url_guard"] = cur.count()

        if c.html_extract:
            from etl_file_loader_spark.operators import html as html_ops

            cur = cur.withColumn(
                txt,
                html_ops.extract_text(
                    F.col(txt), c.html_min_words, c.html_max_link_density_milli
                ),
            )
            # extraction rewrites text in place, never drops rows; no count.
            # Barrier anyway: this regex+HOF projection is the most
            # expensive per-row transform in the chain, and every later
            # gate's BUILD side (quality/langid/classifier scoring) and
            # PROBE side would otherwise each re-run it per stage
            cur = self._barrier(cur)

        if c.min_quality is not None:
            cur = cur.filter(text_ops.quality_score(F.col(txt)) >= c.min_quality)
            counts["quality_filter"] = cur.count()

        if c.gopher_rules:
            shape_keep = text_ops.gopher_quality(
                cur, did, txt, **(c.gopher_quality_overrides or {})
            ).filter(F.col("keep") == 1).select(did)
            rep_keep = text_ops.gopher_repetition(
                cur, did, txt, thresholds=c.gopher_repetition_thresholds
            ).filter(F.col("keep") == 1).select(did)
            cur = self._barrier(
                cur.join(shape_keep, did, "left_semi").join(
                    rep_keep, did, "left_semi"
                )
            )
            counts["gopher_rules"] = cur.count()

        if c.langid_models is not None:
            if not c.langid_keep:
                raise ValueError(
                    "langid_models set but langid_keep is empty — the "
                    "language gate would drop every document"
                )
            scored = text_ops.langid_score(cur, did, txt, c.langid_models)
            keep_ids = scored.filter(
                F.col("lang_pred").isin(*[str(lang) for lang in c.langid_keep])
            ).select(did)
            # barrier after the self-semi-join: without it the lineage
            # DOUBLES per gate (both sides re-derive cur), compounding
            # geometrically across langid -> classifier -> packing
            cur = self._barrier(cur.join(keep_ids, did, "left_semi"))
            counts["langid_filter"] = cur.count()

        if c.classifier_weights_milli is not None:
            scores = text_ops.classifier_score(
                cur,
                did,
                txt,
                weights_milli=c.classifier_weights_milli,
                bias_milli=c.classifier_bias_milli,
                threshold_milli=c.classifier_threshold_milli,
            )
            keep_ids = scores.filter(F.col("keep") == 1).select(did)
            cur = self._barrier(cur.join(keep_ids, did, "left_semi"))
            counts["classifier_filter"] = cur.count()

        if c.scrub_pii:
            cur = cur.withColumn(txt, text_ops.scrub_pii(F.col(txt)))
            # redaction never drops rows; no count job needed
        return cur

    def _barrier(self, df: DataFrame) -> DataFrame:
        """Truncate lineage at a dedup-stage boundary (see
        CurationConfig.stage_barriers): the stage output materializes to
        executor blocks and downstream plans start from a LogicalRDD
        instead of the full connected-components tree."""
        if not self.config.stage_barriers:
            return df
        return df.localCheckpoint(eager=True)

    def _apply_simhash(self, cur: DataFrame, counts: dict[str, int]) -> DataFrame:
        """Stage 4b: SimHash dedup, always AFTER any MinHash near-dedup —
        shared by ``run`` and the versioned incremental driver."""
        c = self.config
        if not c.simhash_dedup:
            return cur
        cur = self._barrier(
            dedup_ops.simhash_dedup(
                cur,
                c.id_col,
                c.text_col,
                bits=c.simhash_bits,
                max_hamming=c.simhash_max_hamming,
                blocks=c.simhash_blocks,
                max_family_size=c.simhash_max_family_size,
            )
        )
        counts["simhash_dedup"] = cur.count()
        return cur

    def _apply_span_dedup(self, cur: DataFrame, counts: dict[str, int]) -> DataFrame:
        """Stage 4d: exact-substring span removal (Lee et al.), always AFTER
        doc-level dedup and BEFORE the perplexity filter — shared by ``run``
        and the versioned incremental driver. Rewrites text_col in place with
        the span-removed rebuild; fully-duplicated docs (rebuilt to '') drop.
        """
        c = self.config
        if not c.span_dedup:
            return cur
        cleaned = text_ops.remove_duplicate_spans(
            cur, c.id_col, c.text_col, window=c.span_window
        )
        cur = self._barrier(
            cur.drop(c.text_col).join(
                cleaned.filter(F.length("cleaned_text") > 0).select(
                    F.col(c.id_col), F.col("cleaned_text").alias(c.text_col)
                ),
                c.id_col,
            )
        )
        counts["span_dedup"] = cur.count()
        return cur

    def _apply_perplexity(self, cur: DataFrame, counts: dict[str, int]) -> DataFrame:
        """Stage 4c: Kneser-Ney fluency gate, always AFTER dedup — shared
        by ``run`` and the versioned incremental driver. Two forms: the
        absolute floor (``min_mean_logprob``) or the CCNet per-language
        quantile band (``perplexity_band``)."""
        c = self.config
        if c.perplexity_filter and c.perplexity_band is not None:
            raise ValueError(
                "perplexity_filter and perplexity_band are mutually "
                "exclusive — pick the absolute floor or the quantile band"
            )
        if not c.perplexity_filter and c.perplexity_band is None:
            return cur
        scored = text_ops.kn_bigram_logprob(cur, c.id_col, c.text_col)
        if c.perplexity_band is not None:
            from etl_file_loader_spark.operators.sketches import quantile_trim

            lo, hi = c.perplexity_band
            scoreable = scored.filter(F.col("n_bigrams") > 0).join(
                cur.select(c.id_col, *c.perplexity_band_by), c.id_col
            )
            # NULL-group docs (e.g. missing lang) have no distribution
            # to trim against — pass through like n_bigrams == 0
            # (ADVICE r13: quantile_trim's equi-join on the group keys
            # never matches NULL, so they were dropped silently)
            null_grp = F.lit(False)
            for g in c.perplexity_band_by:
                null_grp = null_grp | F.col(g).isNull()
            kept = quantile_trim(
                scoreable.filter(~null_grp),
                c.perplexity_band_by, "mean_logprob", lo, hi,
            )
            keep_ids = (
                kept.select(c.id_col)
                .unionByName(
                    scored.filter(F.col("n_bigrams") == 0).select(c.id_col)
                )
                .unionByName(scoreable.filter(null_grp).select(c.id_col))
            )
        else:
            keep_ids = scored.filter(
                (F.col("n_bigrams") == 0)
                | (F.col("mean_logprob") >= F.lit(float(c.min_mean_logprob)))
            ).select(c.id_col)
        cur = cur.join(keep_ids, c.id_col, "left_semi")
        counts["perplexity_filter"] = cur.count()
        return cur

    def text_signals(self, docs: DataFrame, benchmark: DataFrame | None = None) -> DataFrame:
        """The fused shared-gram-table signal stage (operators/text.py:
        text_signals) under this pipeline's column config and Gopher
        repetition thresholds: Gopher repetition rules + n-gram novelty
        + span-removal accounting (+ contamination when a benchmark frame
        is given) off ONE persisted (doc, n, gram) table — run it to
        SCORE a corpus before deciding filter thresholds, where the four
        independent operators would each re-pay the gram shuffle."""
        c = self.config
        return text_ops.text_signals(
            docs,
            c.id_col,
            c.text_col,
            benchmark=benchmark,
            window=c.span_window,
            thresholds=c.gopher_repetition_thresholds,
        )

    def run(self, docs: DataFrame) -> CurationResult:
        c = self.config
        did, txt = c.id_col, c.text_col
        counts: dict[str, int] = self._stage_counts(docs)
        cur = self._apply_filters(docs, counts)

        if c.near_dedup:
            if c.near_dedup_exact:
                deduped = dedup_ops.remove_near_duplicates_exact(
                    cur, did, txt, threshold=c.near_dedup_threshold
                )
            else:
                deduped = dedup_ops.remove_near_duplicates(
                    cur,
                    did,
                    txt,
                    num_hashes=c.minhash_hashes,
                    bands=c.lsh_bands,
                    rows_per_band=c.lsh_rows_per_band,
                )
            cur = self._barrier(deduped)
            counts["near_dedup"] = cur.count()

        cur = self._apply_simhash(cur, counts)
        cur = self._apply_span_dedup(cur, counts)
        cur = self._apply_perplexity(cur, counts)

        if c.split_fractions is not None:
            cur = sampling_ops.hash_split(cur, did, c.split_fractions)
            cur = cur.filter(F.col("split").isin(list(c.keep_splits)))
            counts["split_kept"] = cur.count()

        with_tokens = cur.withColumn(
            "n_tokens", self._token_count(F.col(txt))
        ).withColumn(
            "_sk", sampling_ops.shuffle_key(F.col(did), seed=c.shuffle_seed)
        )
        packed = sampling_ops.pack_shards(
            with_tokens,
            did,
            "n_tokens",
            budget=c.shard_budget_tokens,
            partition_cols=c.partition_cols,
            order_col="_sk",
        ).drop("_sk")
        counts["packed"] = packed.count()
        return CurationResult(packed=packed, stage_counts=counts)

    def run_and_write(self, docs: DataFrame, path: str) -> CurationResult:
        result = self.run(docs)
        sampling_ops.write_training_shards(
            result.packed, path, "n_tokens", self.config.partition_cols
        )
        return result


# ---------------------------------------------------------------------------
# versioned incremental curation (round 5)
# ---------------------------------------------------------------------------


@dataclass
class IngestResult:
    version: int
    stage_counts: dict[str, int]


class VersionedCorpus:
    """Grow a curated corpus across runs WITHOUT reworking old data:
    ``corpus v(N) = delta_1 ∪ ... ∪ delta_N``.

    Each :meth:`ingest` call curates only the new batch — filters, then
    delta-vs-corpus dedup via the index-reducing incremental operators
    (``incremental_dedup`` + ``incremental_near_dedup``: the corpus side
    collapses to a fingerprint / band index ∝ distinct content, never a
    rescan of old docs), then within-delta near-dedup — and commits ONE new
    immutable delta directory. Old deltas
    are never rewritten (at 100 TB a version bump touches only the new
    batch), shard layouts of prior versions are stable by construction,
    and the held-out split is stable under growth because ``hash_split``
    is a pure function of the doc id.

    Layout under ``root`` (each ``delta_v{N}`` published by
    :func:`etl_file_loader_spark.snapshots.commit`; the committed deltas
    are the versions)::

        delta_v{N}/docs/     curated delta (id, ..., split, n_tokens, shard_id)
        delta_v{N}/shards/   training shard layout for the delta

    A trainer addresses shards as (version, partition..., shard_id);
    :meth:`manifest` unions the per-delta manifests with the version key.
    """

    def __init__(self, spark, root: str, config: CurationConfig):
        self.spark = spark
        self.root = root.rstrip("/")
        self.config = config
        self.pipeline = CurationPipeline(config)

    # -- registry ----------------------------------------------------------

    def versions(self) -> list[int]:
        from etl_file_loader_spark import snapshots
        from etl_file_loader_spark.fs import FS

        fs = FS(self.spark)
        if fs.exists(f"{self.root}/_versions"):
            # older layout: deltas registered in a _versions table, with no
            # marker; reading it as marker-less would drop and overwrite them
            raise RuntimeError(
                f"{self.root} uses the _versions registry layout; migrate it "
                f"by writing an empty {snapshots.MARKER} file into each "
                "registered delta_v<N> directory, then removing _versions"
            )
        return snapshots.committed(fs, self.root, "delta_v")

    def latest_version(self) -> int:
        vs = self.versions()
        return vs[-1] if vs else 0

    # -- reads -------------------------------------------------------------

    def read_docs(self, version: int | None = None) -> DataFrame:
        """Corpus as of ``version`` (default latest): union of delta docs.
        Spark unions are metadata-only — the scan still prunes columns and
        pushes filters into every delta's parquet."""
        v = self.latest_version() if version is None else version
        out = None
        for i in range(1, v + 1):
            d = self.spark.read.parquet(f"{self.root}/delta_v{i}/docs").withColumn(
                "corpus_version", F.lit(i)
            )
            out = d if out is None else out.unionByName(d)
        if out is None:
            raise FileNotFoundError(f"no versions under {self.root}")
        return out

    def manifest(self, version: int | None = None) -> DataFrame:
        v = self.latest_version() if version is None else version
        out = None
        for i in range(1, v + 1):
            m = self.spark.read.parquet(
                f"{self.root}/delta_v{i}/shards/_manifest"
            ).withColumn("corpus_version", F.lit(i))
            out = m if out is None else out.unionByName(m)
        if out is None:
            raise FileNotFoundError(f"no versions under {self.root}")
        return out

    # -- ingest ------------------------------------------------------------

    def ingest(self, new_docs: DataFrame) -> IngestResult:
        from etl_file_loader_spark.operators import dedup as dedup_ops2

        c = self.config
        did, txt = c.id_col, c.text_col
        counts: dict[str, int] = {"input": new_docs.count()}
        cur = self.pipeline._apply_filters(new_docs, counts)

        prior_v = self.latest_version()
        if c.near_dedup and prior_v:
            prior = self.read_docs(prior_v).select(F.col(did), F.col(txt))
            exact = dedup_ops2.incremental_dedup(cur, prior, did, txt)
            cur = cur.join(
                exact.filter("is_dup = 0").select(did), did, "left_semi"
            )
            counts["delta_vs_corpus_exact"] = cur.count()
            near = dedup_ops2.incremental_near_dedup(
                cur,
                prior,
                did,
                txt,
                num_hashes=c.minhash_hashes,
                bands=c.lsh_bands,
                rows_per_band=c.lsh_rows_per_band,
            )
            cur = cur.join(
                near.filter("is_near_dup = 0").select(did), did, "left_semi"
            )
            counts["delta_vs_corpus_near"] = cur.count()
        if c.near_dedup:
            cur = self.pipeline._barrier(
                dedup_ops2.remove_near_duplicates(
                    cur,
                    did,
                    txt,
                    num_hashes=c.minhash_hashes,
                    bands=c.lsh_bands,
                    rows_per_band=c.lsh_rows_per_band,
                )
            )
            counts["within_delta_dedup"] = cur.count()

        cur = self.pipeline._apply_simhash(cur, counts)
        cur = self.pipeline._apply_span_dedup(cur, counts)
        cur = self.pipeline._apply_perplexity(cur, counts)

        # split is a pure function of the id -> stable across versions; the
        # docs frame KEEPS every split (held-out rows are part of the
        # corpus); only keep_splits are packed into training shards
        if c.split_fractions is not None:
            cur = sampling_ops.hash_split(cur, did, c.split_fractions)
        else:
            cur = cur.withColumn("split", F.lit(c.keep_splits[0]))

        with_tokens = cur.withColumn(
            "n_tokens", self.pipeline._token_count(F.col(txt))
        )
        trainable = with_tokens.filter(F.col("split").isin(list(c.keep_splits)))
        packed = sampling_ops.pack_shards(
            trainable.withColumn(
                "_sk", sampling_ops.shuffle_key(F.col(did), seed=c.shuffle_seed)
            ),
            did,
            "n_tokens",
            budget=c.shard_budget_tokens,
            partition_cols=c.partition_cols,
            order_col="_sk",
        ).drop("_sk")

        # the whole delta (docs + shard layout) commits as one snapshot: a
        # crash at any step leaves the corpus at prior_v
        from etl_file_loader_spark import snapshots
        from etl_file_loader_spark.fs import FS

        docs_out = with_tokens.join(
            packed.select(F.col(did), F.col("shard_id")), did, "left"
        )

        def write(staging: str) -> None:
            docs_out.write.parquet(f"{staging}/docs")
            sampling_ops.write_training_shards(
                packed, f"{staging}/shards", "n_tokens", c.partition_cols
            )

        version = prior_v + 1
        delta = snapshots.commit(FS(self.spark), self.root, "delta_v", version, write)
        counts["delta_docs"] = self.spark.read.parquet(f"{delta}/docs").count()
        return IngestResult(version=version, stage_counts=counts)
