"""LSM-style tiered state for doc-proportional maintained indexes.

NearDupIndex's band rows, BM25Index's postings and LinkageIndex's
absorbed master rows grow with the data, so an absorb that rewrote the
whole state would cost O(state) per batch and O(K·state) over K batches.
The register-bounded indexes (HLL/KMV/CMS/Quantile) hold sketch-sized
state and keep a single-checkpoint absorb (operators/sketches.py:
RegisterIndex). This module is the log-structured-merge discipline:

- State is a LIST of tiers (each an eager ``localCheckpoint``), oldest
  first. The logical state is the union of tiers — consumers that
  already reduce at read time (NearDupIndex.flag's per-doc ``min``,
  BM25Index.score's postings aggregate) are correct on the raw union
  because their fold is associative/commutative over tiers.
- ``absorb`` checkpoints ONLY the new batch's contribution — O(batch)
  rows shuffled and materialized, regardless of how large the absorbed
  state has grown (tools/measure_absorb_release.py records per-absorb
  wall time over long streams: flat at fixed batch size).
- A geometric CASCADE bounds tier count: after appending, while the
  newest tier has grown to within ``1/growth`` of its predecessor, the
  two merge (fold over their union, fresh checkpoint, both predecessors
  released). Equal-sized batches therefore behave like a binary counter:
  live tiers stay O(log(state/batch)), and each row is re-copied only
  O(log n) times over the stream's lifetime — amortized O(batch·log n)
  per absorb instead of O(state). The plan over ``view()`` stays
  register-narrow (≤ ~40 unions even at 2^40 rows per 1-row batch).

``fold`` is the state's reduction: NearDupIndex passes the per-bucket
canonical-id ``min`` (tiers shrink as duplicate buckets merge);
BM25Index and LinkageIndex pass identity (their rows are append-only —
merges are pure concatenation, done only to bound tier count). Fold
MUST be idempotent over its own output and associative across tiers.

Durability (operators/persist.py: MaintainedIndex): ``compacted()`` is
the one-frame save shape (fold over all tiers, not checkpointed — the
parquet write materializes it), and ``restored()`` adopts a saved
parquet frame as the single base tier without re-checkpointing it (the
parquet IS durable; ``release_local_checkpoint`` no-ops on it, so the
cascade and ``release`` may pass it unconditionally).
"""

from __future__ import annotations

from typing import Callable, List, Tuple

from pyspark.sql import DataFrame

Fold = Callable[[DataFrame], DataFrame]


def _identity(df: DataFrame) -> DataFrame:
    return df


class TieredState:
    """Tiered checkpointed DataFrame state with geometric compaction.

    Not constructed directly — use :meth:`build` (fold + checkpoint a
    seed frame) or :meth:`restored` (adopt a durable frame as-is).
    """

    def __init__(
        self,
        tiers: List[Tuple[DataFrame, int]],
        fold: Fold,
        growth: int = 2,
    ):
        if growth < 2:
            raise ValueError(f"growth must be >= 2: {growth}")
        self._tiers = tiers
        self._fold = fold
        self._growth = growth

    # -- construction -----------------------------------------------------
    @classmethod
    def build(cls, raw: DataFrame, fold: Fold = _identity, growth: int = 2) -> "TieredState":
        """Seed from a raw contribution frame: fold, checkpoint, count."""
        t0 = fold(raw).localCheckpoint(eager=True)
        return cls([(t0, t0.count())], fold, growth)

    @classmethod
    def restored(cls, state: DataFrame, fold: Fold = _identity, growth: int = 2) -> "TieredState":
        """Adopt an already-durable frame (parquet restore) as the base
        tier. No checkpoint — the storage is the durability; the count
        is one metadata-cheap job so the cascade knows the base size."""
        return cls([(state, state.count())], fold, growth)

    # -- reads ------------------------------------------------------------
    def view(self) -> DataFrame:
        """The logical state as a lazy union of tiers. Valid only until
        the next :meth:`absorb` (a cascade may release members) — the
        same materialize-before-absorb contract the index family's
        stream rows already follow."""
        out = self._tiers[0][0]
        for df, _ in self._tiers[1:]:
            out = out.unionByName(df)
        return out

    def compacted(self) -> DataFrame:
        """One folded frame over all tiers — the save/export shape.
        Lazy (not checkpointed): the caller's write materializes it."""
        if len(self._tiers) == 1:
            return self._tiers[0][0]
        return self._fold(self.view())

    @property
    def tier_sizes(self) -> List[int]:
        return [n for _, n in self._tiers]

    @property
    def rows(self) -> int:
        return sum(n for _, n in self._tiers)

    # -- writes -----------------------------------------------------------
    def absorb(self, raw_delta: DataFrame) -> None:
        """Fold + checkpoint ONLY the delta (O(batch)), append it as the
        newest tier, then cascade-merge while geometry demands."""
        d = self._fold(raw_delta).localCheckpoint(eager=True)
        n = d.count()
        if n == 0:
            from etl_file_loader_spark.operators.cache import release_local_checkpoint

            release_local_checkpoint(d)
            return
        self._tiers.append((d, n))
        self._cascade()

    def _cascade(self) -> None:
        from etl_file_loader_spark.operators.cache import release_local_checkpoint

        while (
            len(self._tiers) >= 2
            and self._tiers[-1][1] * self._growth >= self._tiers[-2][1]
        ):
            (a, _), (b, _) = self._tiers[-2], self._tiers[-1]
            merged = self._fold(a.unionByName(b)).localCheckpoint(eager=True)
            n = merged.count()
            self._tiers = self._tiers[:-2] + [(merged, n)]
            # release AFTER the merge materialized (eager=True above):
            # the superseded tiers' blocks are unreachable from any
            # live plan once the checkpoint holds the merged rows
            release_local_checkpoint(a)
            release_local_checkpoint(b)

    def release(self) -> int:
        """Free every tier's block-manager state (the LinkageIndex
        release idiom for the whole ladder). The state is unusable
        afterwards; returns the number of checkpoints actually freed
        (parquet-restored base tiers are no-ops)."""
        from etl_file_loader_spark.operators.cache import release_local_checkpoint

        n = 0
        for df, _ in self._tiers:
            if release_local_checkpoint(df):
                n += 1
        self._tiers = []
        return n
