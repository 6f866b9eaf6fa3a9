"""CDC apply — last-write-wins materialization of a change log into a
keyed "collection" state (SURVEY §2.1 R1/B2/K*, §2.2 A6/C6).

Reference semantics being reproduced (made correct where the reference is
lossy):
- op routing (pipeline.go:182-258): delete → remove key; insert/update →
  upsert keyed by id; rows failing the empty-text guard are *skipped*
  (pipeline.go:204-208) — they never reach the sink, so prior state for
  that key survives.
- last-write-wins per key, ordered by LSN (the reference gets this for
  free by being single-threaded; we get it by `row_number() OVER
  (PARTITION BY key ORDER BY lsn DESC)`).
- unlike the reference, a replayed batch cannot regress state: the merge
  keeps max-LSN per key across old state and new changes (SURVEY §7
  "exact-once CDC apply ... max-LSN-per-key guard").

Every engine state is a segment log (cdc.segments): ParquetCollection,
the keyed row state, is one. An apply writes the batch's winners once
and never reads the state; reads union the live segments under one
window on the key. runner.PointsCollection, the IVF and lexical indexes
(operators.ann_index, operators.lex_index), the IVM views of cdc.ivm and
cdc.delta_join, the cdc.scd2 history and streaming.neardup are the same
store. swap_write remains only for report directories that outside
readers open as plain parquet.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import transform
from .envelope import OP_DELETE


def swap_write(df: DataFrame, path: str) -> None:
    """Replace the plain parquet dir at `path` with df: write
    `<path>.tmp`, then rename it over `path`. For report dirs that
    outside readers open as plain parquet; a crash between the two
    renames leaves the report missing until the next write. Engine
    state commits through cdc.segments instead."""
    tmp, old = path + ".tmp", path + ".old"
    df.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def eligible_events(changes: DataFrame, text_cols: Sequence[str]) -> DataFrame:
    """Changes that would actually hit the sink: deletes always; upserts
    only when their extracted text is non-empty (F2 skip)."""
    txt = transform.concat_text(list(text_cols))
    return transform.guard_nonempty(changes.withColumn("_txt", txt), "_txt").drop("_txt")


def compact_changes(
    changes: DataFrame,
    horizon: int,
    key_cols: Sequence[str] = ("tbl", "pk"),
    lsn_col: str = "lsn",
    op_col: str = "op",
) -> DataFrame:
    """Kafka-style log compaction of a CDC change log at an LSN horizon
    (the operation that bounds replay cost — the reference
    replays its WAL from the last committed LSN, pipeline.go:154-165,
    and a compacted log is the smallest prefix replacement that
    preserves that replay):

    - events at or below ``horizon``: only each key's max-LSN event
      survives, and it is dropped entirely when it is a delete (the
      tombstone has done its work — compaction collects it);
    - events above ``horizon``: kept verbatim (the raw tail).

    The invariant (pinned in tests/test_compaction.py): last-write-wins
    replay of the compacted log equals replay of the full log, for ANY
    horizon — so checkpoints can replace their history prefix with the
    compacted snapshot and lose nothing. Compacting is idempotent and
    composes monotonically: compact(compact(log, h1), h2) ==
    compact(log, h2) for h1 <= h2.

    Plan/scale: the head is ONE row_number window = one hash exchange on
    the key columns (per-key skew bounded by per-key history length);
    the tail is a pure filter that reaches the scan. At 100 TB this is
    the same shape as the a6/latest_state materialization — compaction
    IS a snapshot plus a filter, not a new primitive."""
    head = changes.where(F.col(lsn_col) <= F.lit(horizon))
    w = Window.partitionBy(*key_cols).orderBy(F.col(lsn_col).desc())
    snap = (
        head.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col(op_col) != OP_DELETE))
        .drop("_rn")
    )
    tail = changes.where(F.col(lsn_col) > F.lit(horizon))
    return snap.unionByName(tail)


def latest_state(
    changes: DataFrame,
    text_cols: Sequence[str] = ("after_title", "after_content"),
    key_cols: Sequence[str] = ("tbl", "pk"),
    lsn_col: str = "lsn",
) -> DataFrame:
    """Batch materialization: final collection state for a change log.

    Returns (pk, after_*) for keys whose latest *eligible* event is not a
    delete. One shuffle (window by key)."""
    ev = eligible_events(changes, text_cols)
    w = Window.partitionBy(*key_cols).orderBy(F.col(lsn_col).desc())
    ranked = ev.withColumn("_rn", F.row_number().over(w))
    out_cols = ["pk", *[c for c in changes.columns if c.startswith("after_")]]
    return ranked.where((F.col("_rn") == 1) & (F.col("op") != OP_DELETE)).select(*out_cols)


def merge_batch(
    state: DataFrame | None,
    batch: DataFrame,
    text_cols: Sequence[str] = ("after_title", "after_content"),
    key_cols: Sequence[str] = ("tbl", "pk"),
) -> DataFrame:
    """MERGE emulation for one micro-batch: existing state (rows carry the
    lsn that produced them) ∪ new eligible events → keep max-LSN winner per
    key. Deleted keys stay as tombstones (op='d') so a stale upsert
    replayed in a later batch cannot resurrect them — the max-LSN-per-key
    guard SURVEY §7 calls out. Idempotent: replaying any batch reproduces
    the same state. Whole-row last-write-wins, which is what the A6/C6
    SQL oracle specifies."""
    ev = eligible_events(batch, text_cols)
    cols = ["op", "tbl", "pk", "lsn", *[c for c in batch.columns if c.startswith("after_")]]
    ev = ev.select(*cols)
    if state is not None:
        ev = state.select(*cols).unionByName(ev)
    w = Window.partitionBy(*key_cols).orderBy(F.col("lsn").desc())
    ranked = ev.withColumn("_rn", F.row_number().over(w))
    return ranked.where(F.col("_rn") == 1).drop("_rn")


BUCKET_COL = "bucket"


def bucket_expr(key_cols: Sequence[str], n_buckets: int):
    """Deterministic hash bucket of the key — the state table's partition
    key. xxhash64 (not rand/monotonic id) so a retried task recomputes the
    identical bucket."""
    return F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")


def recover_buckets(path: str, col: str = BUCKET_COL) -> None:
    """Promote any `<col>=<i>` partition a crash stranded under
    `<path>.old/` (the earlier rename-swapped bucket layout, between its
    two renames)."""
    oldroot = path + ".old"
    if os.path.isdir(oldroot):
        for name in os.listdir(oldroot):
            if name.startswith(f"{col}="):
                dst = os.path.join(path, name)
                if not os.path.exists(dst):  # crashed between the renames
                    os.makedirs(path, exist_ok=True)
                    os.rename(os.path.join(oldroot, name), dst)
        shutil.rmtree(oldroot, ignore_errors=True)


class ParquetCollection:
    """Keyed row state: each (tbl, pk)'s latest eligible change, deletes
    kept as tombstones, the engine-native analogue of the reference's
    vector sinks (qdrant.go upsert/delete) minus the HTTP. The row-state
    twin of runner.PointsCollection, on the same segment log
    (cdc.segments.SegmentStore).

    The stored columns are the batch's op, tbl, pk, lsn and after_*
    columns. The merge rule is merge_batch with no prior state: the
    empty-text guard first, then each key's max-LSN event. An apply
    writes the batch's winners as one segment and never reads the
    state; read/state(as_of=v) time-travel over the retained manifest
    generations (``store.manifests.versions()``)."""

    def __init__(self, spark: SparkSession, path: str):
        from .segments import SegmentStore  # segments imports this module

        self.spark = spark
        self.path = path
        self.store = SegmentStore(spark, path, None, self._resolve)

    @staticmethod
    def _resolve(rows: DataFrame) -> DataFrame:
        return merge_batch(None, rows)

    def read(self, as_of: int | None = None) -> DataFrame | None:
        """Each key's winning row, tombstones included."""
        return self.store.read(as_of)

    def apply_batch(self, batch: DataFrame, _epoch_id: int | None = None) -> None:
        """foreachBatch hook: append the batch's winning events."""
        self.store.append(batch)

    def state(self, as_of: int | None = None) -> DataFrame | None:
        """Live rows only (tombstones filtered)."""
        df = self.read(as_of)
        if df is None:
            return None
        return df.where(F.col("op") != OP_DELETE).select(
            "pk", *[c for c in df.columns if c.startswith("after_")]
        )
