"""Publish / MERGE upsert (SURVEY §2.5 J2-J4, §2.4 A5).

Reference semantics (publish/postgresql.py:24-43 and dialect twins, driver
publish/base.py:80-97):

    MERGE INTO target USING stage ON <grain equi-join>
    WHEN MATCHED AND stage.etl_row_hash != target.etl_row_hash
        THEN UPDATE SET <business cols>, etl_row_hash, source_filename,
                        file_load_log_id, etl_updated_at = now
    WHEN NOT MATCHED THEN INSERT (..., etl_created_at = now)

Matched-but-unchanged rows are untouched (etl_created_at preserved,
etl_updated_at untouched).

Spark-first implementation: a **full-outer-join rewrite** on the grain key so
the core has zero non-Spark dependencies (Delta's MERGE INTO is the drop-in
alternative when its jars are on the classpath — same logical plan underneath:
join on the merge condition + per-column conditional projection).

Scale: one shuffle on the grain key for both sides. On a real cluster, bucket
the target table by grain (``write.bucketBy(n, *grain)``) so repeated loads
shuffle only the (much smaller) stage side. The insert/update/unchanged
counts (reference publish/base.py:40-74) cost no join of their own: each
joined row already knows its outcome, so ``merge_upsert`` sums the outcomes
in an ``Observation`` that the write of the merged frame fills.

Skew: the grain is unique on BOTH sides by construction (the grain-uniqueness
audit gates publish), so the full-outer join is 1:1 per key — no per-key row
explosion is possible, and a "one grain = 10% of rows" hot key cannot reach
this operator. Note AQE's skew-join splitting does NOT apply to full-outer
joins, so it is not the protection here; the residual exposure is
hash-partition imbalance over *distinct* keys (adversarial or unlucky key
sets colliding into one shuffle partition). ``salt_buckets`` closes that:
both sides gain a salt column that is a *deterministic pure function of the
grain* (murmur3 with a different seed mix), the join adds it as an equi-key,
and the shuffle then partitions on hash(grain, salt) — redistributing any
collision cluster crafted against hash(grain) while preserving full-outer
semantics exactly (equal grains always produce equal salts).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from etl_file_loader_spark.operators.hashing import HASH_COL

CREATED_COL = "etl_created_at"
UPDATED_COL = "etl_updated_at"
FILENAME_COL = "source_filename"
LOG_ID_COL = "file_load_log_id"

SYSTEM_COLS = [HASH_COL, FILENAME_COL, LOG_ID_COL, CREATED_COL, UPDATED_COL]


# seed mix for the deterministic merge salt: any constant works as long as
# the salt hash differs from the shuffle's plain hash(grain)
_SALT_SEED = 0x5A17


def merge_salt(grain: list[str], salt_buckets: int) -> Column:
    """Deterministic per-grain salt: pmod(murmur3(grain, seed), n).

    A pure function of the grain, so equal grains on the two merge sides
    always carry equal salts — adding it as a join key never changes which
    rows match, it only re-keys the shuffle partitioning."""
    return F.pmod(
        F.hash(*[F.col(g) for g in grain], F.lit(_SALT_SEED)), F.lit(salt_buckets)
    )


def merge_upsert(
    target: DataFrame,
    stage: DataFrame,
    grain: list[str],
    business_cols: list[str],
    now: Column | None = None,
    salt_buckets: int | None = None,
    observation: Observation | None = None,
) -> DataFrame:
    """Full-outer-join MERGE rewrite; returns the new target contents.

    ``stage`` must carry business cols + etl_row_hash + source_filename +
    file_load_log_id. ``target`` additionally carries etl_created_at /
    etl_updated_at. Grain columns are assumed non-null (enforced upstream by
    validation - grain fields are non-nullable).

    ``salt_buckets`` adds a deterministic grain-derived salt as an extra
    equi-join key (see module docstring: redistributes hash-partition
    collision clusters; semantics unchanged).

    ``observation`` receives ``inserts``, ``updates`` and ``unchanged``,
    the fields of :class:`PublishCounts`, once an action such as the write
    of the returned frame has run.
    """
    now = now if now is not None else F.current_timestamp()
    data_cols = [c for c in business_cols if c not in grain]

    salt_keys: list[str] = []
    if salt_buckets:
        stage = stage.withColumn("_merge_salt", merge_salt(grain, salt_buckets))
        target = target.withColumn("_merge_salt", merge_salt(grain, salt_buckets))
        salt_keys = ["_merge_salt"]

    s = stage.select(
        *[F.col(g).alias(f"s_{g}") for g in grain + salt_keys],
        *[F.col(c).alias(f"s_{c}") for c in data_cols],
        F.col(HASH_COL).alias(f"s_{HASH_COL}"),
        F.col(FILENAME_COL).alias(f"s_{FILENAME_COL}"),
        F.col(LOG_ID_COL).alias(f"s_{LOG_ID_COL}"),
    )
    t = target.select(
        *[F.col(g).alias(f"t_{g}") for g in grain + salt_keys],
        *[F.col(c).alias(f"t_{c}") for c in data_cols],
        *[F.col(c).alias(f"t_{c}") for c in SYSTEM_COLS],
    )
    cond = [s[f"s_{g}"] == t[f"t_{g}"] for g in grain + salt_keys]
    joined = s.join(t, on=cond if cond else None, how="full_outer")

    s_exists = F.col(f"s_{grain[0]}").isNotNull()
    t_exists = F.col(f"t_{grain[0]}").isNotNull()
    changed = s_exists & t_exists & (F.col(f"s_{HASH_COL}") != F.col(f"t_{HASH_COL}"))
    # the UPDATE branch only fires on hash mismatch (reference
    # publish/postgresql.py:24-43); matched-but-unchanged rows keep every
    # target value including source_filename / file_load_log_id
    take_stage = changed | (s_exists & ~t_exists)
    if observation is not None:
        joined = joined.observe(
            observation,
            F.count_if(s_exists & ~t_exists).alias("inserts"),
            F.count_if(changed).alias("updates"),
            F.count_if(s_exists & t_exists & ~changed).alias("unchanged"),
        )

    def pick(c: str) -> Column:
        return F.when(take_stage, F.col(f"s_{c}")).otherwise(F.col(f"t_{c}")).alias(c)

    out = [F.coalesce(F.col(f"s_{g}"), F.col(f"t_{g}")).alias(g) for g in grain]
    out += [pick(c) for c in data_cols]
    out += [pick(HASH_COL), pick(FILENAME_COL), pick(LOG_ID_COL)]
    out.append(F.when(t_exists, F.col(f"t_{CREATED_COL}")).otherwise(now).alias(CREATED_COL))
    out.append(F.when(changed, now).otherwise(F.col(f"t_{UPDATED_COL}")).alias(UPDATED_COL))
    return joined.select(*out)


@dataclass
class PublishCounts:
    inserts: int
    updates: int
    unchanged: int


def is_file_loaded(target: DataFrame, filename: str) -> bool:
    """Duplicate-file check (reference db_utils.py:243-258): filter+limit, not a join."""
    return not target.filter(F.col(FILENAME_COL) == filename).limit(1).isEmpty()


def cdc_apply(
    target: DataFrame,
    changes: DataFrame,
    keys: list[str],
    tracked: list[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change feed (insert/update/delete rows tagged with a
    monotone sequence) to a keyed snapshot table — the third merge flavor
    next to ``merge_upsert`` (Type-1) and ``scd2_apply`` (Type-2), the
    Spark-first analog of Delta Live Tables' APPLY CHANGES INTO.

    ``target`` carries ``keys + tracked + seq_col`` (the sequence that
    last touched each row); ``changes`` carries ``keys + tracked +
    seq_col + op_col`` with op in {'I','U','D'} ('I' and 'U' are both
    upserts — CDC feeds rarely distinguish reliably). Semantics:

    - per key, only the LATEST change in the batch applies (max seq;
      deterministic tie-break: delete beats upsert at equal seq, then
      the house row-hash orders equal-seq upserts)
    - a change with seq <= the target row's seq is STALE and ignored
      (out-of-order replay protection; also makes re-applying the same
      batch a no-op — idempotent recovery)
    - latest op D  -> the key's row is removed (absent key: no-op)
    - latest op I/U -> row upserted with the change's seq

    Plan shape (100 TB): one window shuffle on ``keys`` over the change
    batch (batch-sized, not target-sized) + ONE full-outer equi-join
    against the target (AQE broadcasts small deduped batches). No
    target-side window, no second pass. The output is the complete new
    target; publish it with ``Warehouse.overwrite`` under
    ``Warehouse.mutate``. Cross-engine: window + join + case logic only,
    DuckDB-oracle-checked (suite ``cdc_apply``).
    """
    from pyspark.sql import Window

    out_cols = [*keys, *tracked, seq_col]
    # delete beats upsert at equal seq (a feed that emits U then D with one
    # LSN means the row ended deleted); equal-seq equal-op ties fall back to
    # the house row-hash so the winner is a pure function of the data.
    tie_hash = F.md5(
        F.concat_ws(
            "|",
            *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in sorted(tracked)],
        )
    )
    latest = _cdc_latest(changes, keys, tracked, seq_col, op_col, tie_hash)
    tgt = target.select(
        *[F.col(k).alias(f"_tk_{k}") for k in keys],
        *[F.col(c).alias(f"_t_{c}") for c in tracked],
        F.col(seq_col).alias("_t_seq"),
        F.lit(True).alias("_in_t"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"_tk_{k}") == F.col(f"_uk_{k}")
        cond = eq if cond is None else (cond & eq)
    j = tgt.join(latest, cond, "full_outer")
    in_t = F.coalesce(F.col("_in_t"), F.lit(False))
    in_u = F.coalesce(F.col("_in_u"), F.lit(False))
    # a change applies when the key is new, or its seq beats the target's
    applies = in_u & (~in_t | (F.col("_u_seq") > F.col("_t_seq")))
    keep_change = applies & ~F.col("_u_del")
    keep_target = in_t & ~(applies & F.col("_u_del"))
    return (
        j.filter(keep_change | keep_target)
        .select(
            *[
                F.coalesce(F.col(f"_tk_{k}"), F.col(f"_uk_{k}")).alias(k)
                for k in keys
            ],
            *[
                F.when(keep_change, F.col(f"_u_{c}"))
                .otherwise(F.col(f"_t_{c}"))
                .alias(c)
                for c in tracked
            ],
            F.when(keep_change, F.col("_u_seq"))
            .otherwise(F.col("_t_seq"))
            .alias(seq_col),
        )
        .select(*out_cols)
    )


def _cdc_latest(changes, keys, tracked, seq_col, op_col, tie_hash):
    """Per-key latest change in a batch (shared by :func:`cdc_apply` and
    :func:`cdc_apply_tombstoned`): max seq, delete-beats-upsert at equal
    seq, then the house row-hash — a pure function of the data."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(
        F.col(seq_col).desc(),
        F.when(F.col(op_col) == "D", 1).otherwise(0).desc(),
        tie_hash.desc(),
    )
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            *[F.col(k).alias(f"_uk_{k}") for k in keys],
            *[F.col(c).alias(f"_u_{c}") for c in tracked],
            F.col(seq_col).alias("_u_seq"),
            (F.col(op_col) == "D").alias("_u_del"),
            F.lit(True).alias("_in_u"),
        )
    )


def cdc_apply_tombstoned(
    state: DataFrame,
    changes: DataFrame,
    keys: list[str],
    tracked: list[str],
    seq_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Incremental (micro-batch / streaming) form of :func:`cdc_apply`:
    deletes leave TOMBSTONES instead of removing rows, which is the
    confluence requirement for applying a CDC feed batch-by-batch when
    batches can arrive out of sequence order. Without a tombstone, a
    delete at seq 210 applied in batch N would erase the key entirely,
    and a LATE upsert at seq 50 arriving in batch N+1 would look like a
    brand-new key and resurrect the row; the tombstone keeps the delete's
    seq in the state so the stale change loses the same comparison it
    would have lost in one big batch.

    ``state`` schema = keys + tracked + seq_col + ``_deleted`` (int 0/1);
    initialize from a snapshot with ``withColumn("_deleted", lit(0))``.
    Returns the NEXT state (every key retained). The visible table is
    ``state.filter("_deleted = 0").drop("_deleted")``, and after applying
    every batch it equals one-shot :func:`cdc_apply` over the full feed —
    pinned by the ``streaming_cdc_apply`` suite query, which replays the
    SAME DuckDB oracle as the batch ``cdc_apply`` row. Equal-seq ties are
    resolved within a batch (delete beats upsert); across batches the
    first-arrived winner stands — no CDC consumer can order equal-seq
    events across arrival boundaries without a total order.

    Plan shape per batch: one window shuffle over the batch + one
    full-outer join against the state — identical to :func:`cdc_apply`;
    at 100 TB the state lives in a keyed table (Delta/parquet buckets)
    and this is the MERGE each micro-batch runs.
    """
    tie_hash = F.md5(
        F.concat_ws(
            "|",
            *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in sorted(tracked)],
        )
    )
    latest = _cdc_latest(changes, keys, tracked, seq_col, op_col, tie_hash)
    tgt = state.select(
        *[F.col(k).alias(f"_tk_{k}") for k in keys],
        *[F.col(c).alias(f"_t_{c}") for c in tracked],
        F.col(seq_col).alias("_t_seq"),
        F.coalesce(F.col("_deleted"), F.lit(0)).alias("_t_del"),
        F.lit(True).alias("_in_t"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"_tk_{k}") == F.col(f"_uk_{k}")
        cond = eq if cond is None else (cond & eq)
    j = tgt.join(latest, cond, "full_outer")
    in_t = F.coalesce(F.col("_in_t"), F.lit(False))
    in_u = F.coalesce(F.col("_in_u"), F.lit(False))
    applies = in_u & (~in_t | (F.col("_u_seq") > F.col("_t_seq")))
    return j.select(
        *[
            F.coalesce(F.col(f"_tk_{k}"), F.col(f"_uk_{k}")).alias(k)
            for k in keys
        ],
        *[
            F.when(applies, F.col(f"_u_{c}")).otherwise(F.col(f"_t_{c}")).alias(c)
            for c in tracked
        ],
        F.when(applies, F.col("_u_seq")).otherwise(F.col("_t_seq")).alias(seq_col),
        F.when(applies, F.col("_u_del").cast("int"))
        .otherwise(F.col("_t_del"))
        .cast("int")
        .alias("_deleted"),
    )


def scd2_apply(
    current: DataFrame,
    updates: DataFrame,
    keys: list[str],
    tracked: list[str],
    effective_ts: str,
    close_missing: bool = False,
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: apply a batch of ``updates``
    to an SCD2 ``current`` table, preserving full history.

    ``current`` carries ``keys + tracked + valid_from, valid_to,
    is_current`` (``valid_to`` NULL on current rows; validity columns are
    strings — callers with DATE columns cast at the boundary).
    ``updates`` carries ``keys + tracked``. Change detection is the house
    row-hash discipline (md5 over '|'-joined, null->'' values in sorted
    column name order — the same semantics as ``etl_row_hash``):

    - new key                -> insert current row (valid_from = ts)
    - changed hash           -> close old (valid_to = ts, is_current = 0)
                                + insert new current row
    - unchanged hash         -> row passes through untouched
    - key absent from batch  -> untouched, or closed when
                                ``close_missing`` (full-snapshot feeds)
    - history rows           -> pass through untouched, never rescanned
                                for change detection

    Plan shape (100 TB): ONE equi-join between the is_current slice and
    the batch (shuffle ∝ current keys + batch rows; AQE broadcasts small
    batches); history is a pass-through union — no shuffle touches it.
    Output is the complete new SCD2 state; publish it as one new snapshot
    with ``Warehouse.overwrite`` under ``Warehouse.mutate``, as
    ``plans.pipeline.publish`` does for ``merge_upsert``.
    Cross-engine: hash + case logic only, DuckDB-oracle-checked
    (suite ``scd2_merge``).
    """
    meta = ["valid_from", "valid_to", "is_current"]
    out_cols = [*keys, *tracked, *meta]

    # pre-project both sides into disjoint column names BEFORE the join:
    # applying scd2_apply to its own output (the incremental loop) makes
    # `updates` part of `current`'s lineage, and a string-key join between
    # frames sharing lineage hits Spark's self-join attribute ambiguity —
    # renamed projections give the join distinct attributes to resolve.
    # The explicit _in_u marker exists because a full-outer row missing the
    # updates side has all-null u data columns but a NON-null md5 of
    # empties, so side presence must not be inferred from data columns.
    cur = current.filter(F.col("is_current") == 1).select(
        *[F.col(k).alias(f"_ck_{k}") for k in keys],
        *[F.col(c).alias(f"_c_{c}") for c in tracked],
        F.col("valid_from").alias("_c_valid_from"),
        F.col("valid_to").alias("_c_valid_to"),
        F.lit(True).alias("_in_c"),
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit(""))
                    for c in sorted(tracked)
                ],
            )
        ).alias("_hc"),
    )
    hist = current.filter(F.col("is_current") == 0).select(*out_cols)
    upd = updates.select(
        *[F.col(k).alias(f"_uk_{k}") for k in keys],
        *[F.col(c).alias(f"_u_{c}") for c in tracked],
        F.lit(True).alias("_in_u"),
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit(""))
                    for c in sorted(tracked)
                ],
            )
        ).alias("_hu"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"_ck_{k}") == F.col(f"_uk_{k}")
        cond = eq if cond is None else (cond & eq)
    j = cur.join(upd, cond, "full_outer").select(
        *[
            F.coalesce(F.col(f"_ck_{k}"), F.col(f"_uk_{k}")).alias(k)
            for k in keys
        ],
        *[F.col(f"_c_{c}") for c in tracked],
        *[F.col(f"_u_{c}") for c in tracked],
        "_c_valid_from",
        "_c_valid_to",
        F.coalesce(F.col("_in_c"), F.lit(False)).alias("_in_c"),
        F.coalesce(F.col("_in_u"), F.lit(False)).alias("_in_u"),
        "_hc",
        "_hu",
    )
    changed = F.col("_in_c") & F.col("_in_u") & (F.col("_hc") != F.col("_hu"))
    close = changed | (
        F.col("_in_c") & ~F.col("_in_u") & F.lit(bool(close_missing))
    )
    from_cur = j.filter(F.col("_in_c")).select(
        *keys,
        *[F.col(f"_c_{c}").alias(c) for c in tracked],
        F.col("_c_valid_from").alias("valid_from"),
        F.when(close, F.lit(effective_ts)).otherwise(F.col("_c_valid_to")).alias(
            "valid_to"
        ),
        F.when(close, F.lit(0)).otherwise(F.lit(1)).cast("long").alias("is_current"),
    )
    from_upd = j.filter(F.col("_in_u") & (~F.col("_in_c") | changed)).select(
        *keys,
        *[F.col(f"_u_{c}").alias(c) for c in tracked],
        F.lit(effective_ts).alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(1).cast("long").alias("is_current"),
    )
    return hist.unionByName(from_cur).unionByName(from_upd)
