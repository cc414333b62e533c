"""KMV (K-minimum-values) distinct-count sketch: deterministic, mergeable,
cross-engine replayable.

The complement to the HLL++ gate (suite ``sketch_distinct_check``): HLL
is engine-internal, so only its ERROR is checkable; KMV's state is a
pure function of the data (the k smallest md5-derived 60-bit hashes of
the distinct values), so the sketch itself, its merge, and its estimate
are all EXACTLY replayable in SQL — the 100 TB distinct-count path when
you also need auditability or cross-system agreement (two engines
hashing the same keys produce the same sketch bit-for-bit).

Estimator (Bar-Yossef et al.): with hashes uniform on [0, M), if the
k-th smallest distinct hash is h_k, the distinct count ≈ (k-1) * M /
h_k; groups with fewer than k distinct values are EXACT (the sketch
holds all their hashes). Union-merge: union the hash sets, keep the k
smallest — the same estimator then covers the union (set semantics make
re-merging idempotent and order-free).

Plan shape: dedup to (group, hash) — one hash agg with map-side
partials — then a per-group k-smallest via row_number, which Spark's
WindowGroupLimit pushes BELOW the exchange (each map task pre-keeps only
its local k smallest), then one group agg packing the array. No
collect_set of a whole group's values anywhere; per-group state is k
longs regardless of cardinality.
"""

from __future__ import annotations


from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_file_loader_spark.operators.cache import release_local_checkpoint
from etl_file_loader_spark.operators.persist import MaintainedIndex

# 15 hex digits = 60 bits: fits signed int64, dense enough that hash
# collisions are ~n^2 / 2^60 — negligible at any verification scale
_HEX_DIGITS = 15
KMV_M = 1 << (4 * _HEX_DIGITS)


def kmv_hash(col: Column) -> Column:
    """60-bit md5-prefix hash (the house portable idiom: DuckDB twin is
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``)."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, _HEX_DIGITS), 16, 10
    ).cast("long")


def kmv_sketch(
    df: DataFrame, keys: list[str], col: str, k: int = 64
) -> DataFrame:
    """Per-group KMV state: ``kmv`` = sorted array of the k smallest
    distinct hashes of ``col``, ``n_kept`` = its length (< k means the
    group's distinct count is exact)."""
    d = (
        df.select(*keys, kmv_hash(F.col(col)).alias("_h"))
        .groupBy(*keys, "_h")
        .agg(F.count(F.lit(1)).alias("_"))
        .drop("_")
    )
    w = Window.partitionBy(*keys).orderBy("_h")
    top = d.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") <= k)
    return top.groupBy(*keys).agg(
        F.sort_array(F.collect_list("_h")).alias("kmv"),
        F.count(F.lit(1)).alias("n_kept"),
    )


def kmv_merge(states: list[DataFrame], keys: list[str], k: int = 64) -> DataFrame:
    """Union-merge KMV states built with the same hash: explode, set-union
    per group, keep the k smallest. Same WindowGroupLimit shape as the
    build — merge cost ∝ groups * k, never data size."""
    from functools import reduce

    u = reduce(
        lambda a, b: a.unionByName(b),
        [s.select(*keys, F.explode("kmv").alias("_h")) for s in states],
    )
    d = u.groupBy(*keys, "_h").agg(F.count(F.lit(1)).alias("_")).drop("_")
    w = Window.partitionBy(*keys).orderBy("_h")
    top = d.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") <= k)
    return top.groupBy(*keys).agg(
        F.sort_array(F.collect_list("_h")).alias("kmv"),
        F.count(F.lit(1)).alias("n_kept"),
    )


def cms_hash(col: Column, row: int, width: int) -> Column:
    """CMS cell index for hash row ``row``: md5-prefix of 'r|value' mod
    width — deterministic, engine-portable (DuckDB twin:
    ``CAST('0x' || substr(md5(r || '|' || x), 1, 15) AS BIGINT) % w``)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(str(row)), col.cast("string"))),
                1,
                _HEX_DIGITS,
            ),
            16,
            10,
        ).cast("long")
        % width
    )


CMS_WIDTH_MIN = 256
# depth*2^18 cells ≈ 1M rows / ~8 MB — still comfortably broadcastable;
# key spaces beyond this cap are only meaningfully sketchable for HEAVY
# hitters (whose true count dominates the ~N/width collision mass)
CMS_WIDTH_MAX = 1 << 18


def auto_cms_width(
    df: DataFrame, col: str, oversize: int = 4, k: int = 1024
) -> int:
    """Size the CMS width off a KMV distinct estimate of ``col``.

    The sf10 probe (NOTES_r12 §15) made the regime rule undeniable:
    width must scale with the distinct-key count — 100k uniform keys
    over width 1024 over-estimate ~97x, silently. This is that rule as
    code (the reference auto-sizes its stage batches off driver
    knowledge the same way, settings.py:64): one cheap KMV pass (k
    smallest md5 hashes, ±~3% at k=1024, deterministic — KMV is a pure
    function of the data), then the power of two >= oversize * estimate,
    clamped to [CMS_WIDTH_MIN, CMS_WIDTH_MAX]. At the cap, point queries
    are only trustworthy for heavy hitters; the returned width is the
    loudest honest answer short of refusing.
    """
    import warnings

    row = kmv_estimate(kmv_sketch(df.select(col), [], col, k), k).head()
    est = 0.0 if row is None else float(row.distinct_est)
    if est * oversize > CMS_WIDTH_MAX:
        # the last silent path of the r12 width hazard: at the cap the
        # sketch re-enters the over-estimate regime the auto-sizer was
        # built to kill — say so LOUDLY instead of silently clamping
        warnings.warn(
            f"auto_cms_width: estimated ~{est:.0f} distinct values of "
            f"{col!r}; oversize x{oversize} wants width "
            f"{int(est * oversize)} but the cap is {CMS_WIDTH_MAX} "
            f"(2^18, ~{4 * CMS_WIDTH_MAX} cells at depth 4 — the "
            "broadcastability bound). Point estimates at this width are "
            "only trustworthy for HEAVY HITTERS (true count >> "
            f"~N/{CMS_WIDTH_MAX} collision mass); for faithful counts "
            "of arbitrary keys use an exact groupBy or KMV/HLL per key "
            "group instead.",
            stacklevel=2,
        )
    target = min(max(est * oversize, float(CMS_WIDTH_MIN)), float(CMS_WIDTH_MAX))
    width = CMS_WIDTH_MIN
    while width < target:
        width <<= 1
    return min(width, CMS_WIDTH_MAX)


def cms_sketch(
    df: DataFrame, col: str, depth: int = 4, width: int | None = None
) -> DataFrame:
    """Count-min sketch of ``col``'s frequency distribution: a
    depth x width counter matrix as rows (r, c, cnt) — the heavy-hitter
    complement to KMV's distinct counting. Deterministic md5 row hashes,
    so the sketch is cross-engine replayable; mergeable by cell-wise
    addition (``cms_merge``); point estimates never undercount
    (``cms_query`` = min over rows, classic CMS upper-bound guarantee).

    ``width=None`` (the default) auto-sizes from a KMV distinct estimate
    (:func:`auto_cms_width`) — an explicit width skips that pass but
    puts the regime rule on the caller: width must scale with the
    distinct-key count or queries must target heavy hitters. When you
    need the width later (``cms_query``/``cms_merge`` of separately
    built sketches), call ``auto_cms_width`` yourself and pass it, or
    use :class:`CMSIndex`, which records it.

    Plan shape: explode each record into ``depth`` (r, c) cells — still
    scan-shaped — then ONE hash agg whose map-side partials collapse to
    at most depth*width cells per task: shuffle is O(depth*width)
    regardless of data size. The sketch fits in a broadcast at any scale.
    """
    if width is None:
        width = auto_cms_width(df, col)
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        cms_hash(F.col(col), r, width).alias("c"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("_cell")
    ).select("_cell.r", "_cell.c")
    return cells.groupBy("r", "c").agg(F.count(F.lit(1)).alias("cnt"))


def cms_merge(sketches: list[DataFrame]) -> DataFrame:
    """Merge CMS sketches built with the same (depth, width): cell-wise
    addition — one group-sized agg."""
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), sketches)
    return u.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def cms_query(
    sketch: DataFrame, items: DataFrame, item_col: str, depth: int, width: int
) -> DataFrame:
    """Point-estimate the frequency of each row of ``items``: min over
    the depth cells the item hashes to (>= the true count always; equal
    when the item's cells saw no collisions). The sketch side is
    depth*width rows — Catalyst broadcasts it; the probe is a narrow
    join per hash row, no shuffle of the item side beyond the final agg."""
    probes = items.select(
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        cms_hash(F.col(item_col), r, width).alias("c"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("_cell"),
    ).select(item_col, "_cell.r", "_cell.c")
    j = probes.join(F.broadcast(sketch), ["r", "c"], "left").select(
        item_col, F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return j.groupBy(item_col).agg(F.min("cnt").alias("est_count"))


def kmv_estimate(state: DataFrame, k: int = 64) -> DataFrame:
    """Distinct-count estimate per group: exact ``n_kept`` below k, else
    ``(k-1) * M / h_k`` (one IEEE division — replayable). Adds
    ``distinct_est`` (double) and ``is_exact``."""
    h_k = F.element_at(F.col("kmv"), k)
    return state.withColumn(
        "is_exact", (F.col("n_kept") < k).cast("int")
    ).withColumn(
        "distinct_est",
        F.when(
            F.col("n_kept") < k, F.col("n_kept").cast("double")
        ).otherwise(F.lit(float(k - 1)) * F.lit(float(KMV_M)) / h_k.cast("double")),
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog (round 11): replayable registers + merge + estimate
# ---------------------------------------------------------------------------
# Spark's approx_count_distinct is HLL++ but engine-INTERNAL: only its
# error is checkable (suite sketch_distinct_check). This HLL makes the
# registers themselves a pure function of the data — the same md5-prefix
# hash as KMV/CMS — so sketch, merge, and estimate are all exactly
# replayable in SQL, while keeping HLL's constant-size state (m registers
# of one small int, vs KMV's k hashes): the shape you persist per
# partition/day at 100 TB and fold with max() forever after.

_HLL_HASH_BITS = 4 * _HEX_DIGITS  # 60
# estimator power cap: sum of 2^(cap - rho) over m <= 2^14 registers stays
# < 2^54 -> exact int64 arithmetic in BOTH engines (no float harmonic sum)
_HLL_RHO_CAP = 40


def hll_registers(
    df: DataFrame, keys: list[str], col: str, p: int = 10
) -> DataFrame:
    """Per-group HLL state: rows (keys..., bucket, rho) for the NON-EMPTY
    registers only (sparse; empties are implicit in the estimator).
    bucket = low p bits of the 60-bit md5 hash; rho = 1 + leading zeros
    of the remaining 60-p bits, computed EXACTLY via binary-string length
    (length(bin(x)) — no float log2 anywhere). One hash agg with map-side
    max partials; per-group state <= 2^p small ints at any data size."""
    m = 1 << p
    w = _HLL_HASH_BITS - p
    h = kmv_hash(F.col(col))
    bucket = h.bitwiseAND(F.lit(m - 1))
    suffix = F.shiftright(h, p)  # h >= 0, so arithmetic shift == h // m
    rho = F.when(suffix == 0, F.lit(w + 1)).otherwise(
        F.lit(w + 1) - F.length(F.bin(suffix))
    )
    return (
        df.select(*keys, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Union-merge HLL states built with the same p: register-wise max —
    the monoid fold (commutative, associative, idempotent), so partial
    sketches from any partitioning/time-slicing combine exactly."""
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), states)
    return u.groupBy(*keys, "bucket").agg(F.max("rho").alias("rho"))


def hll_estimate(registers: DataFrame, keys: list[str], p: int = 10) -> DataFrame:
    """Flajolet et al. HLL estimate per group, engine-portably: the
    harmonic sum runs in EXACT int64 (2^(cap - min(rho, cap)) per
    register, empties contribute 2^cap), then one double division for the
    raw estimate and the standard small-range linear-counting correction
    (E <= 2.5m and empty registers exist -> m * ln(m / V)). Emits
    ``hll_est`` (double) plus ``n_regs``."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    cap = _HLL_RHO_CAP
    agg = registers.groupBy(*keys).agg(
        F.sum(
            F.pow(F.lit(2.0), F.lit(cap) - F.least(F.col("rho"), F.lit(cap)))
            .cast("long")
        ).alias("_s_present"),
        F.count(F.lit(1)).alias("n_regs"),
    )
    s = F.col("_s_present") + (F.lit(m) - F.col("n_regs")) * F.lit(1 << cap)
    v = (F.lit(m) - F.col("n_regs")).cast("double")
    e_raw = F.lit(alpha * m * m * float(1 << cap)) / s.cast("double")
    est = F.when(
        (e_raw <= 2.5 * m) & (F.col("n_regs") < m),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(e_raw)
    return agg.withColumn("hll_est", est).drop("_s_present")


class RegisterIndex(MaintainedIndex):
    """A maintained sketch over arriving batches: build from a seed,
    :meth:`absorb` each batch, read the sketch at any epoch.

    The state is one sketch frame whose size is bounded by the sketch
    (registers, cells, k hashes per group), never by the data, so each
    absorb merges the whole state with the batch's sketch and
    localCheckpoints the result; per-epoch lineage stays one merge deep.
    A subclass sets its ``PARAMS`` in its constructor, then calls
    ``super().__init__(seed)``; it supplies ``_sketch(df)`` (one frame's
    sketch), ``_merge(frames)`` (the sketch's merge) and its read method.
    Durable via ``save(path)``/``load(spark, path)`` (operators/persist.py)."""

    def __init__(self, seed: DataFrame):
        self._state = self._sketch(seed).localCheckpoint(eager=True)

    def _sketch(self, df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _merge(self, frames: list[DataFrame]) -> DataFrame:
        raise NotImplementedError

    def state(self) -> DataFrame:
        """The sketch frame. Valid until the next :meth:`absorb`, which
        releases it."""
        return self._state

    def absorb(self, batch: DataFrame) -> "RegisterIndex":
        old = self._state
        self._state = self._merge([old, self._sketch(batch)]).localCheckpoint(
            eager=True
        )
        # the new eager checkpoint is materialized, so the predecessor's
        # blocks are dead weight — release, don't accumulate per absorb
        release_local_checkpoint(old)
        return self

    def release(self) -> None:
        """Free the state checkpoint; a parquet-restored state has none."""
        release_local_checkpoint(self._state)

    def _frame(self) -> DataFrame:
        return self._state

    def _restore(self, frame: DataFrame) -> None:
        self._state = frame


class HLLIndex(RegisterIndex):
    """MAINTAINED distinct-count registers over arriving batches — the
    streaming form of the portable HLL.

    Absorb is a register-wise max merge; :meth:`estimate` reads the
    count at any epoch. The state is <= 2^p small ints per group FOREVER
    — it never grows with data — and absorption is CONFLUENT (max is
    commutative/associative/idempotent): any arrival order of the same
    batches yields the same registers, so out-of-order or replayed
    ingest cannot corrupt the count (the suite oracle replays every
    epoch's estimate from batch numbering alone). The saved state is
    plain (keys, bucket, rho) rows that DuckDB reads directly.

    This is the 100 TB "distinct users/keys per day, all-time" shape:
    sketch each partition/day once, fold forever, never recount.
    """

    PARAMS = ("keys", "col", "p")

    def __init__(self, seed: DataFrame, keys: list[str], col: str, p: int = 10):
        self.keys, self.col, self.p = keys, col, p
        super().__init__(seed)

    def _sketch(self, df: DataFrame) -> DataFrame:
        return hll_registers(df, self.keys, self.col, self.p)

    def _merge(self, frames: list[DataFrame]) -> DataFrame:
        return hll_merge(frames, self.keys)

    def estimate(self) -> DataFrame:
        return hll_estimate(self._state, self.keys, self.p)


# ---------------------------------------------------------------------------
# Bloom filter (round 9): portable build / merge / probe + semi-join pruning
# ---------------------------------------------------------------------------

# 48 bits per packed word: every word value is < 2^48 < 2^53, so the bit
# test can run as EXACT double arithmetic (floor(word / 2^bit) % 2) inside
# HOF lambdas in BOTH engines — Spark's shiftright() only takes a literal
# shift, and int64 '/' detours through doubles, so 48-bit words are what
# keeps the probe a pure scan-side expression with zero precision risk.
_BLOOM_WORD_BITS = 48


def bloom_positions(
    key: Column, num_hashes: int = 4, num_bits: int = 4096, fast: bool = False
) -> Column:
    """The k set-bit positions for a key (distinct — double hashes within a
    key collapse): position_i = md5-int64('<key>:<i>') % num_bits, the house
    portable idiom, so DuckDB derives the identical positions.

    ``fast=True`` swaps md5 for the JVM-native ``xxhash64(key, i)`` —
    measured at sf10 (60M-row probe side) the md5 probe costs 38 s of the
    39 s bloom path (4 string-concat md5s per row) while xxhash64 keeps
    the probe at scan speed. The fast positions are NOT DuckDB-derivable,
    so only result-equality contracts (``bloom_semi_join`` == plain
    semi-join, true for ANY hash) can oracle-check the fast path;
    bit-for-bit filter rows stay on the portable md5 hash."""
    if fast:
        return F.array_distinct(
            F.array(
                *[
                    F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
                    for i in range(num_hashes)
                ]
            )
        )
    from etl_file_loader_spark.functions import token_hash32

    return F.array_distinct(
        F.array(
            *[
                F.pmod(
                    token_hash32(
                        F.concat(key.cast("string"), F.lit(f":{i}"))
                    ),
                    F.lit(num_bits),
                )
                for i in range(num_hashes)
            ]
        )
    )


def build_bloom(
    df: DataFrame,
    key_col: str,
    num_hashes: int = 4,
    num_bits: int = 4096,
    fast: bool = False,
) -> list[int]:
    """Distributed Bloom build: explode each key's positions, fold them
    into 48-bit words executor-side (groupBy word + bit_or — one
    map-side-combinable aggregation), collect only the touched words. At
    most ``ceil(num_bits / 48)`` rows ever reach the driver, whatever the
    corpus size — the collect is bounded by the packed FILTER size, not
    the data, the same contract as the runtime bloom filters engines push
    to scans.

    Merge = build over a union, or bitwise-OR of two word lists
    (:func:`merge_blooms`) — set semantics make it order-free/idempotent.
    """
    # distributed pack: positions fold into 48-bit words EXECUTOR-side
    # (groupBy word ordinal + bit_or, one shuffle with map-side partial
    # aggregation — bit_or is idempotent so no distinct pass is needed),
    # and the driver receives only the TOUCHED words: the collect is
    # bounded by min(ceil(num_bits/48), |keys| * num_hashes) rows, so a
    # 10^9-bit filter costs the driver ~2*10^7 packed words, never
    # 10^9 per-position rows. NULL keys hash to a [null] positions array
    # and are dropped (a null key matches nothing in the exact join the
    # bloom prefilters, so excluding it preserves semi-join semantics).
    p2 = F.array(*[F.lit(1 << b) for b in range(_BLOOM_WORD_BITS)])
    rows = (
        df.select(
            F.explode(
                bloom_positions(F.col(key_col), num_hashes, num_bits, fast)
            ).alias("p")
        )
        .filter(F.col("p").isNotNull())
        .groupBy((F.col("p") / _BLOOM_WORD_BITS).cast("int").alias("w"))
        .agg(
            F.bit_or(
                F.element_at(
                    p2, F.pmod(F.col("p"), _BLOOM_WORD_BITS).cast("int") + 1
                )
            ).alias("bits")
        )
        .collect()
    )
    words = [0] * ((num_bits + _BLOOM_WORD_BITS - 1) // _BLOOM_WORD_BITS)
    for r in rows:
        words[int(r["w"])] = int(r["bits"])
    return words


def merge_blooms(a: list[int], b: list[int]) -> list[int]:
    """Bitwise-OR merge of two same-shape Bloom filters (shard-and-merge:
    each shard builds over its slice, the union filter ORs together)."""
    if len(a) != len(b):
        raise ValueError(f"bloom shape mismatch: {len(a)} vs {len(b)} words")
    return [x | y for x, y in zip(a, b)]


def bloom_contains(
    key: Column,
    words: list[int],
    num_hashes: int = 4,
    num_bits: int = 4096,
    fast: bool = False,
) -> Column:
    """Scan-side membership test: ALL k positions set. Pure column
    expression against the literal word array (no shuffle, no UDF) — the
    shape of an engine-pushed runtime filter. False positives possible
    (resolved by the exact join in :func:`bloom_semi_join`), false
    negatives impossible.

    Probe shape, tuned at sf10 against a 60M-row probe side (NOTES_r10
    §13): the k bit-tests are UNROLLED into a plain conjunction (an
    ``F.forall`` over a positions array runs interpreted outside
    whole-stage codegen — 4.6x slower), and the packed words ride as ONE
    BINARY literal probed with a byte-slice substring + hex/conv +
    bit_get. A words-as-literal-ARRAY carrier rematerializes the array
    constant per row — measured probe time grew LINEARLY with filter
    size (2.1 s at 683 words -> 23.7 s at 43,691 words for the same
    scan) where the binary carrier holds at 2.8 s regardless of size.
    Testing a duplicate position twice (the old array_distinct would
    have collapsed it) is semantically free under AND; conv(hex(6
    bytes)) is exact below 2^48, which is why the words are 48-bit."""
    import operator
    from functools import reduce

    wb = b"".join(int(w).to_bytes(6, "big") for w in words)
    bl = F.lit(bytearray(wb))

    def bit_set(p: Column) -> Column:
        # byte-slice the 6-byte word (O(1) on BinaryType — a STRING
        # literal here would re-scan to the char offset per row), then
        # hex -> conv -> exact long below 2^48
        wbin = F.substring(bl, (p / _BLOOM_WORD_BITS).cast("int") * 6 + 1, 6)
        wlong = F.conv(F.hex(wbin), 16, 10).cast("long")
        return F.bit_get(wlong, F.pmod(p, _BLOOM_WORD_BITS).cast("int")) == 1

    if fast:
        positions = [
            F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]
        # xxhash64 SKIPS null inputs (yields a seed-derived hash) where the
        # md5 path yields NULL — without this guard fast=True could return
        # TRUE for a NULL key, violating build_bloom's "null keys dropped"
        # contract (the md5 path's NULL propagates to NULL and the row is
        # filtered). Make both hash families agree: NULL key -> not member.
        return key.isNotNull() & reduce(
            operator.and_, (bit_set(p) for p in positions)
        )
    from etl_file_loader_spark.functions import token_hash32

    positions = [
        F.pmod(
            token_hash32(F.concat(key.cast("string"), F.lit(f":{i}"))),
            F.lit(num_bits),
        )
        for i in range(num_hashes)
    ]
    return reduce(operator.and_, (bit_set(p) for p in positions))


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str | None = None,
    num_hashes: int = 4,
    num_bits: int = 16384,
    fast: bool = False,
) -> DataFrame:
    """Bloom-pruned semi-join — the 100 TB join-pruning idiom: build the
    filter from the SMALL side (driver-bounded by num_bits), prefilter the
    big side with the scan-side :func:`bloom_contains` expression, then an
    exact left-semi join removes the false positives. The result EQUALS
    ``big ⋉ small`` exactly (no false negatives by construction — suite
    ``bloom_semi_join`` pins it against the plain semi-join oracle); the
    win is that the shuffle semi-join runs over only the bloom survivors,
    so shuffled bytes track |matches| + FP rate instead of |big|."""
    sk = small_key or big_key
    words = build_bloom(small, sk, num_hashes, num_bits, fast)
    pruned = big.filter(
        bloom_contains(F.col(big_key), words, num_hashes, num_bits, fast)
    )
    rhs = small.select(F.col(sk).alias(big_key)).distinct()
    return pruned.join(rhs, big_key, "left_semi")


# ---------------------------------------------------------------------------
# Portable mergeable quantile sketch (round 12): decimal log-histogram
# ---------------------------------------------------------------------------
# The quantile rung of the portable-sketch family (KMV = distinct with
# auditability, HLL = distinct at constant size, CMS = frequency, bloom =
# membership; this = percentiles). percentile_approx is engine-internal —
# only its error is checkable; these registers are DATA: a pure
# string/int64 function of the values, so the sketch, its merge, AND its
# estimate replay bit-for-bit in SQL, persist as plain parquet, and
# combine across engines/days — the "p99 latency per day, all-time" shape
# at 100 TB (sketch each partition once, sum-merge forever, never re-scan).
#
# Bucketing: v is quantized to integer sub-units (iv = floor(|v|·scale),
# exact IEEE multiply + floor, identical in both engines), then bucketed
# by its decimal prefix: d = digits(iv), p = min(d, sig_digits),
# prefix = first p digits, exp = d - p. Bucket magnitude range
# [prefix·10^exp, (prefix+1)·10^exp) — relative width <= 10^(1-sig), so a
# within-bucket interpolated estimate carries a GUARANTEED relative error
# bound (<= ~1% at sig=3), and values with <= sig digits are EXACT. All
# bucket math is string/int ops — no transcendentals, no float rounding
# ambiguity anywhere in the state.
#
# Merge = SUM of counts per (keys, sign, exp, prefix). NOTE the contract
# difference from the max/min-confluent family (HLL/NearDup/Linkage):
# addition is commutative/associative but NOT idempotent — absorbing a
# batch twice double-counts. Exactly-once absorb is the caller's contract
# (the same one any COUNT aggregation has); the suite oracle still
# replays every epoch from batch numbering because the batches are
# disjoint by construction.

QUANTILE_SIG_DIGITS = 3
# Supported magnitude ceiling for the quantized value |v|*unit_scale.
# Above ~9.2e18 the int64 cast itself saturates, and the estimate-side
# bucket bound hi = (prefix+1)*10^exp can reach 1e19 and wrap negative
# under non-ANSI Spark, corrupting the _ord sort (ADVICE r12). 9e15 keeps
# every derived quantity comfortably in-range (hi <= 1e16) AND below
# 2^53, so the double->int64 conversion is exact in both engines.
# Values beyond the ceiling saturate into the top bucket — clamping is
# monotone, so every rank below the saturated mass is unaffected; only
# quantiles that land INSIDE the clamped tail read the ceiling value.
QUANTILE_MAX_IV = 9_000_000_000_000_000  # 9e15


def quantile_histogram(
    df: DataFrame,
    keys: list[str],
    col: str,
    sig_digits: int = QUANTILE_SIG_DIGITS,
    unit_scale: int = 100,
) -> DataFrame:
    """Per-group decimal log-histogram registers:
    (keys..., sign, exp, prefix, cnt). One hash agg with map-side
    partials; per-group state is bounded by ~(decades x 9*10^(sig-1) + 2)
    rows FOREVER, regardless of data size. Nulls and NaNs are excluded
    (nulls like every SQL aggregate; a NaN would otherwise produce a
    null-fielded register that corrupts the cumulative rank walk).

    Supported magnitude: |v| * unit_scale <= QUANTILE_MAX_IV (9e15) —
    larger values clamp into the top bucket (monotone: ranks below the
    clamped mass are exact as ever; quantiles inside it read the
    ceiling). The previous behavior silently overflowed int64 near
    9.2e18 and wrapped the estimate-side bucket bounds negative."""
    v = F.col(col).cast("double")
    sign = F.signum(v).cast("int")
    # clamp BEFORE floor, on doubles: floor(double) returns int64, so an
    # unclamped product overflows inside floor itself for huge inputs
    iv = F.floor(
        F.least(F.abs(v) * F.lit(float(unit_scale)), F.lit(float(QUANTILE_MAX_IV)))
    ).cast("long")
    s = iv.cast("string")
    d = F.length(s)
    p = F.least(d, F.lit(sig_digits))
    prefix = F.substring(s, 1, sig_digits).cast("long")
    exp = (d - p).cast("int")
    return (
        df.filter(v.isNotNull() & ~F.isnan(v))
        .select(
            *keys,
            sign.alias("sign"),
            exp.alias("exp"),
            prefix.alias("prefix"),
        )
        .groupBy(*keys, "sign", "exp", "prefix")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantile_hist_merge(states: list[DataFrame], keys: list[str]) -> DataFrame:
    """Sum-merge histograms built with the same (sig_digits, unit_scale)."""
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), states)
    return u.groupBy(*keys, "sign", "exp", "prefix").agg(
        F.sum("cnt").alias("cnt")
    )


def quantile_estimate(
    hist: DataFrame,
    keys: list[str],
    qs_milli: list[int],
    unit_scale: int = 100,
) -> DataFrame:
    """Per-group quantile estimates from the registers, one row per
    (group, q): ``q_milli``, ``est`` (double), plus ``n`` (group count).

    Rank r = ceil(q·n) computed in EXACT integer milli arithmetic
    ((q_milli·n + 999) div 1000) — no float rank boundary anywhere. The
    register holding rank r is found by a cumulative-count window (tiny:
    windows run over REGISTERS, never rows), and the estimate
    interpolates linearly inside its bucket — guaranteed within the
    bucket, so |est - true| <= bucket width <= true·10^(1-sig)."""
    bad = [q for q in qs_milli if not 0 < q <= 1000]
    if bad:
        raise ValueError(f"qs_milli must be in (0, 1000]: {bad}")
    # secondary sort on sign: the three zero-magnitude buckets (sign
    # -1/0/+1 with prefix 0) all have _ord = 0 and must order by value
    # (negative epsilon < zero < positive epsilon)
    cw = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_ord"), F.col("sign"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lo = F.col("prefix") * F.pow(F.lit(10.0), F.col("exp")).cast("long")
    hi = (F.col("prefix") + 1) * F.pow(F.lit(10.0), F.col("exp")).cast("long")
    base = (
        hist.withColumn("_lo", lo)
        .withColumn("_hi", hi)
        .withColumn("_ord", F.col("sign") * F.col("_lo"))
        .withColumn("_cum", F.sum("cnt").over(cw))
    )
    # ONE pass for all quantiles: explode the q list against the totals,
    # join the cum-registers once, and bracket each (group, q)'s rank —
    # plan size (and job count) stays O(1) in len(qs_milli) instead of a
    # per-q union of join+filter branches (measured at sf10: the unioned
    # form spent ~4.6 s of pure plan/job overhead on a 5,669-row state)
    totals = (
        hist.groupBy(*keys)
        .agg(F.sum("cnt").alias("_n"))
        .select(
            *keys,
            "_n",
            F.explode(F.array(*[F.lit(int(q)) for q in qs_milli])).alias(
                "q_milli"
            ),
        )
        .withColumn(
            "_r",
            F.floor((F.col("q_milli") * F.col("_n") + 999) / 1000).cast("long"),
        )
    )
    picked = base.join(totals, keys).filter(
        (F.col("_cum") >= F.col("_r"))
        & (F.col("_cum") - F.col("cnt") < F.col("_r"))
    )
    frac = (F.col("_r") - (F.col("_cum") - F.col("cnt"))).cast("double") / F.col(
        "cnt"
    ).cast("double")
    est_mag = F.col("_lo") + frac * (F.col("_hi") - F.col("_lo"))
    est_neg = -(F.col("_hi") - frac * (F.col("_hi") - F.col("_lo")))
    est = (
        F.when(F.col("sign") >= 0, est_mag).otherwise(est_neg)
        / F.lit(float(unit_scale))
    )
    return picked.select(
        *keys,
        F.col("q_milli").cast("int").alias("q_milli"),
        F.round(est, 6).alias("est"),
        F.col("_n").alias("n"),
    )


def quantile_trim(
    df: DataFrame,
    keys: list[str],
    col: str,
    lo_milli: int | None = None,
    hi_milli: int | None = None,
    sig_digits: int = QUANTILE_SIG_DIGITS,
    unit_scale: int = 100,
    keep_bounds: bool = False,
    broadcast_bounds: bool = True,
) -> DataFrame:
    """Per-group quantile band filter: keep rows whose ``col`` lies within
    the group's [q_lo, q_hi] estimated from the portable quantile sketch —
    the CCNet recipe (per-language perplexity bands) generalized to any
    (group, score) pair: tail-trimming outliers per domain/language before
    training without ever sorting the corpus.

    Bounds come from :func:`quantile_estimate` over the group's decimal
    log-histogram, so the whole trim — registers, ranks, interpolated
    bounds, and the final comparison — replays bit-for-bit in SQL (the
    estimates are rounded to 6 dp in both engines before comparing).
    Rows with NULL/NaN ``col`` are dropped, as are groups whose values
    are all NULL/NaN (no registers -> no bounds -> no rows).

    Either bound may be None (one-sided trim); ``keep_bounds=True``
    appends the applied ``_q_lo``/``_q_hi`` columns (whichever exist).

    Plan shape (100 TB): one map-side-combinable aggregate to the
    register-bounded histogram (the estimate's totals REUSE the register
    exchange — verified: one source scan for the whole sketch side), a
    register-sized estimate, then ONE equi-join of the corpus against
    |groups| bound rows with the band predicate fused into the join.
    Two passes over the data, which is the floor for any data-dependent
    threshold. ``broadcast_bounds`` (default True) pins the build side
    to the bounds frame — without the hint the optimizer broadcast the
    CORPUS side at small scale (observed at sf0.01: BuildLeft on the
    full scan), a choice that inverts catastrophically at 100 TB; set it
    False only for extreme group cardinalities where |groups| rows of
    two doubles outgrow the broadcast budget.
    """
    if lo_milli is None and hi_milli is None:
        raise ValueError("at least one of lo_milli / hi_milli is required")
    if lo_milli is not None and hi_milli is not None and lo_milli > hi_milli:
        raise ValueError(f"lo_milli > hi_milli: {lo_milli} > {hi_milli}")
    qs = sorted({q for q in (lo_milli, hi_milli) if q is not None})
    hist = quantile_histogram(df, keys, col, sig_digits, unit_scale)
    est = quantile_estimate(hist, keys, qs, unit_scale)
    aggs = []
    if lo_milli is not None:
        aggs.append(
            F.min(F.when(F.col("q_milli") == lo_milli, F.col("est"))).alias("_q_lo")
        )
    if hi_milli is not None:
        aggs.append(
            F.min(F.when(F.col("q_milli") == hi_milli, F.col("est"))).alias("_q_hi")
        )
    bounds = est.groupBy(*keys).agg(*aggs)
    v = F.col(col).cast("double")
    cond = v.isNotNull() & ~F.isnan(v)
    if lo_milli is not None:
        cond = cond & (v >= F.col("_q_lo"))
    if hi_milli is not None:
        cond = cond & (v <= F.col("_q_hi"))
    rhs = F.broadcast(bounds) if broadcast_bounds else bounds
    out = df.join(rhs, keys).filter(cond)
    if keep_bounds:
        return out
    drop = [c for c in ("_q_lo", "_q_hi") if c in out.columns]
    return out.drop(*drop)


class QuantileIndex(RegisterIndex):
    """MAINTAINED quantile registers over arriving batches.

    Absorb is a sum-merge; :meth:`estimate` reads quantiles at any epoch;
    state stays register-bounded forever. Contract difference from the
    confluent indexes, stated loudly: sum is NOT idempotent — each batch
    must be absorbed EXACTLY ONCE (the contract every COUNT/SUM
    aggregation has; the confluent max/min indexes tolerate replays,
    this one does not)."""

    PARAMS = ("keys", "col", "sig_digits", "unit_scale")

    def __init__(
        self,
        seed: DataFrame,
        keys: list[str],
        col: str,
        sig_digits: int = QUANTILE_SIG_DIGITS,
        unit_scale: int = 100,
    ):
        self.keys, self.col = keys, col
        self.sig_digits, self.unit_scale = sig_digits, unit_scale
        super().__init__(seed)

    def _sketch(self, df: DataFrame) -> DataFrame:
        return quantile_histogram(
            df, self.keys, self.col, self.sig_digits, self.unit_scale
        )

    def _merge(self, frames: list[DataFrame]) -> DataFrame:
        return quantile_hist_merge(frames, self.keys)

    def estimate(self, qs_milli: list[int]) -> DataFrame:
        return quantile_estimate(self._state, self.keys, qs_milli, self.unit_scale)


class CMSIndex(RegisterIndex):
    """MAINTAINED count-min sketch over arriving batches — the
    heavy-hitter member of the maintained-index family.

    Absorb is a cell-wise sum, with the exactly-once contract of
    :class:`QuantileIndex` (adding a batch twice double-counts, same as
    any COUNT aggregate); :meth:`query` returns point estimates at any
    epoch (never undercounting, the CMS guarantee). State is depth x
    width cells FOREVER — the "top talkers per day, all-time" shape at
    100 TB."""

    PARAMS = ("col", "depth", "width")

    def __init__(
        self, seed: DataFrame, col: str, depth: int = 4, width: int | None = None
    ):
        # width=None sizes off the seed's KMV distinct estimate (the sf10
        # regime rule as code — see auto_cms_width); the resolved value is
        # used by every absorb/query and persisted by save
        self.col, self.depth = col, depth
        self.width = auto_cms_width(seed, col) if width is None else width
        super().__init__(seed)

    def _sketch(self, df: DataFrame) -> DataFrame:
        return cms_sketch(df, self.col, self.depth, self.width)

    def _merge(self, frames: list[DataFrame]) -> DataFrame:
        return cms_merge(frames)

    def query(self, items: DataFrame, item_col: str) -> DataFrame:
        return cms_query(self._state, items, item_col, self.depth, self.width)


class KMVIndex(RegisterIndex):
    """MAINTAINED KMV distinct-count sketch — the set-union member of the
    maintained-index family.

    The AUDITABLE complement of :class:`HLLIndex`: the state is the k
    smallest distinct hashes themselves (a pure function of the data,
    exactly replayable in SQL), not lossy registers. Union-merge keeps
    the k smallest — idempotent / commutative / associative, so like the
    min/max-confluent indexes (and UNLIKE Quantile/CMS) replayed or
    out-of-order absorbs cannot corrupt the estimate. State is groups x k
    longs forever."""

    PARAMS = ("keys", "col", "k")

    def __init__(self, seed: DataFrame, keys: list[str], col: str, k: int = 64):
        self.keys, self.col, self.k = keys, col, k
        super().__init__(seed)

    def _sketch(self, df: DataFrame) -> DataFrame:
        return kmv_sketch(df, self.keys, self.col, self.k)

    def _merge(self, frames: list[DataFrame]) -> DataFrame:
        return kmv_merge(frames, self.keys, self.k)

    def estimate(self) -> DataFrame:
        return kmv_estimate(self._state, self.k)
