"""Durable state for the maintained-index family.

The maintained indexes (HLL/Quantile/CMS/KMV registers, NearDup and BM25
tiers, the Linkage base) keep their state in-session as localCheckpointed
or pinned frames. :class:`MaintainedIndex` gives them one ``save``/``load``
so a later session resumes without re-signing, re-lowering or
re-sketching anything. State is plain parquet on any path or Hadoop-FS
URI the session can reach, and stays engine-portable: DuckDB reads the
registers/bands directly, which the suite oracles exploit.

Layout: each save is one versioned snapshot ``path/snapshot_v<N>`` holding
``state/`` (the index frame) and ``meta/`` (one JSON row of the index's
``PARAMS``), published by :func:`etl_file_loader_spark.snapshots.commit`.
``load`` reads the latest committed snapshot, so a crash at any step of a
save leaves the previous save loadable; older snapshots are deleted after
the commit. A saved index then reads the snapshot it just committed, never
an older one, so saving it again to the same path is safe. Only one live
handle per path is supported: a second handle loaded from the path reads a
snapshot that the next save of either handle deletes.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from etl_file_loader_spark import snapshots
from etl_file_loader_spark.fs import FS

PREFIX = "snapshot_v"


def _write_meta(spark: SparkSession, meta: dict, path: str) -> None:
    """One-row meta parquet, built JVM-side: a ``range(1).select(lit(...))``
    plan writes it in one JVM task, where ``createDataFrame`` would pay a
    Python-worker round trip per partition."""
    from pyspark.sql import functions as F

    spark.range(1).select(F.lit(json.dumps(meta)).alias("meta")).write.mode(
        "overwrite"
    ).parquet(path)


def save_index_state(state: DataFrame, meta: dict, path: str) -> str:
    """Commit ``state`` and ``meta`` as the next snapshot at ``path``;
    returns the committed snapshot directory."""
    spark = state.sparkSession
    fs = FS(spark)
    base = path.rstrip("/")
    versions = snapshots.committed(fs, base, PREFIX)

    def write(staging: str) -> None:
        state.write.mode("overwrite").parquet(f"{staging}/state")
        _write_meta(spark, meta, f"{staging}/meta")

    snap = snapshots.commit(
        fs, base, PREFIX, versions[-1] + 1 if versions else 0, write
    )
    for v in versions:
        fs.rmtree(f"{base}/{PREFIX}{v}")
    return snap


def load_index_state(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    fs = FS(spark)
    base = path.rstrip("/")
    versions = snapshots.committed(fs, base, PREFIX)
    if not versions:
        raise FileNotFoundError(
            f"no index state at {base}: no {PREFIX}<N> directory holds a "
            f"{snapshots.MARKER} marker (is the path right, and did a save "
            "complete?)"
        )
    snap = f"{base}/{PREFIX}{versions[-1]}"
    meta = json.loads(spark.read.parquet(f"{snap}/meta").head().meta)
    return spark.read.parquet(f"{snap}/state"), meta


class MaintainedIndex:
    """Save/load for a maintained index.

    A subclass names the attributes that configure it in ``PARAMS`` (they
    are written as the snapshot's meta and set again on load) and supplies
    three hooks: ``_frame()`` returns the one frame to write, ``_restore(
    frame)`` adopts a durable frame as the whole state (and resets any
    other in-session state), and ``release()`` frees the in-session state.
    """

    PARAMS: tuple[str, ...] = ()

    def _frame(self) -> DataFrame:
        raise NotImplementedError

    def _restore(self, frame: DataFrame) -> None:
        raise NotImplementedError

    def release(self) -> None:
        raise NotImplementedError

    def save(self, path: str) -> None:
        """Write the state as the next snapshot at ``path``, then continue
        from that snapshot: the in-session state is released and the index
        reads what :meth:`load` would return, so it never reads a snapshot
        a later save deletes. The cost: every later read or absorb scans
        that parquet snapshot (the Linkage base is re-spread on its next
        link), where the index read in-memory checkpoints before."""
        frame = self._frame()
        snap = save_index_state(
            frame, {name: getattr(self, name) for name in self.PARAMS}, path
        )
        self.release()
        self._restore(frame.sparkSession.read.parquet(f"{snap}/state"))

    @classmethod
    def load(cls, spark: SparkSession, path: str):
        """The index as last saved at ``path``; answers and further absorbs
        equal those of the index that was saved."""
        state, meta = load_index_state(spark, path)
        obj = cls.__new__(cls)
        for name in cls.PARAMS:
            setattr(obj, name, meta[name])
        obj._restore(state)
        return obj
