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

Two state layouts live here:
- ParquetCollection, the keyed row state, is a segment log
  (cdc.segments): an apply writes the batch's winners once and never
  reads the state; reads union the live segments under one window on
  the key. runner.PointsCollection and the IVF and lexical indexes
  (operators.ann_index, operators.lex_index) are the same store.
- swap_buckets/read_bucketed_state keep hash-bucketed ``bucket=<i>/``
  dirs swapped by rename. They serve only the stores that read, modify
  and write aggregates per batch: cdc.ivm, cdc.delta_join, cdc.scd2 and
  streaming.neardup.
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
    """Write df to `path` via tmp-then-rename with crash recovery.

    The two renames are not jointly atomic; a crash between them would
    leave only `<path>.old`. read_state compensates by promoting `.old`
    when `path` is missing — so the worst post-crash outcome is the
    pre-batch state (the batch replays from the checkpoint), never an
    empty store. Rename-based, so local-filesystem only. It and
    swap_buckets serve the stores that read, modify and write per batch
    (cdc.ivm, cdc.delta_join, cdc.scd2, streaming.neardup). The keyed
    row and point stores and the two indexes (cdc.segments) commit
    through cdc.manifest.ManifestStore generations instead, which also
    work on object stores."""
    swap_write_begin(df, path)
    swap_write_commit(path)


def swap_write_begin(df: DataFrame, path: str) -> None:
    """Phase 1 of swap_write: materialize df to `<path>.tmp` (the one
    Spark job) WITHOUT touching `path`. Lets a caller whose df reads
    files that other swaps are about to replace write first and promote
    later — one write job instead of an eager checkpoint + a write
    (the IVM per-batch constant)."""
    tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)


def swap_write_commit(path: str) -> None:
    """Phase 2 of swap_write: atomically promote `<path>.tmp`. Crash
    semantics identical to the fused swap_write (read_state promotes
    `.old` if the second rename never ran)."""
    tmp = path + ".tmp"
    old = path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def read_state(spark: SparkSession, path: str) -> DataFrame | None:
    """Read swap_write state; promotes `<path>.old` if a crash stranded it."""
    old = path + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)  # crash between the two renames — recover
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


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
    coalesce_unchanged: bool = False,
    cluster_col: str | None = None,
    cluster_partitions: int | None = None,
) -> DataFrame:
    """MERGE emulation for one micro-batch: existing state (rows carry the
    lsn that produced them) ∪ new eligible events → keep max-LSN winner per
    key. Deleted keys stay as tombstones (op='d') so a stale upsert
    replayed in a later batch cannot resurrect them — the max-LSN-per-key
    guard SURVEY §7 calls out. Idempotent: replaying any batch reproduces
    the same state.

    ``coalesce_unchanged=True`` is the TOAST-repair divergence (SURVEY §7):
    pgoutput sends unchanged TOAST columns as nil ('u', postgres.go:
    621-647), which the reference then LOSES at re-embed time. When
    enabled, a null after_* column on an update is backfilled from the
    key's prior state (first non-null down the LSN-ordered history, never
    across a tombstone — a delete resets the key). Default off: plain
    whole-row last-write-wins, which is what the A6/C6 SQL oracle
    specifies.

    ``cluster_col`` (with ``cluster_partitions``) is the hook of the
    bucketed aggregate stores (cdc.ivm): the column must pre-exist on
    both sides and be a pure function of the key (so adding it to the
    window PARTITION BY changes nothing semantically). The union is
    repartitioned on it, which Catalyst accepts as satisfying the
    window's clustered distribution — one shuffle total, and the writer
    downstream gets data clustered by bucket (one file per bucket
    instead of files × shuffle-partitions)."""
    ev = eligible_events(batch, text_cols)
    cols = ["op", "tbl", "pk", "lsn", *[c for c in batch.columns if c.startswith("after_")]]
    if cluster_col is not None:
        cols.append(cluster_col)
    ev = ev.select(*cols)
    if state is not None:
        ev = state.select(*cols).unionByName(ev)
    win_keys = list(key_cols) if cluster_col is None else [cluster_col, *key_cols]
    if cluster_col is not None:
        ev = ev.repartition(cluster_partitions or 1, cluster_col)
    w = Window.partitionBy(*win_keys).orderBy(F.col("lsn").desc())
    ranked = ev.withColumn("_rn", F.row_number().over(w))
    if coalesce_unchanged:
        # delete-epoch: running tombstone count in LSN-desc order. A
        # delete starts a new epoch, so an upsert can only backfill from
        # rows in ITS epoch — never from values older than a delete.
        ranked = ranked.withColumn(
            "_epoch",
            F.sum((F.col("op") == OP_DELETE).cast("int")).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        hist = (
            Window.partitionBy(*win_keys, "_epoch")
            .orderBy(F.col("lsn").desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        for c in ev.columns:
            if c.startswith("after_"):
                masked = F.when(F.col("op") != OP_DELETE, F.col(c))
                ranked = ranked.withColumn(
                    c,
                    F.when(
                        F.col("op") == OP_DELETE, F.col(c)
                    ).otherwise(F.first(masked, ignorenulls=True).over(hist)),
                )
        ranked = ranked.drop("_epoch")
    return ranked.where(F.col("_rn") == 1).drop("_rn")


BUCKET_COL = "bucket"


def bucket_expr(key_cols: Sequence[str], n_buckets: int):
    """Deterministic hash bucket of the key — the state table's partition
    key. xxhash64 (not rand/monotonic id) so a retried task recomputes the
    identical bucket."""
    return F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets)).cast("int")


def recover_buckets(path: str, col: str = BUCKET_COL) -> None:
    """Promote any `<col>=<i>` partition a crash stranded under
    `<path>.old/` (swap_buckets_commit between its two renames)."""
    oldroot = path + ".old"
    if os.path.isdir(oldroot):
        for name in os.listdir(oldroot):
            if name.startswith(f"{col}="):
                dst = os.path.join(path, name)
                if not os.path.exists(dst):  # crashed between the renames
                    os.makedirs(path, exist_ok=True)
                    os.rename(os.path.join(oldroot, name), dst)
        shutil.rmtree(oldroot, ignore_errors=True)


def read_bucketed_state(
    spark: SparkSession,
    path: str,
    col: str = BUCKET_COL,
    buckets: Sequence[int] | None = None,
) -> DataFrame | None:
    """Read `path/<col>=<i>/` partitioned state, recovering any partition a
    crash left stranded under `<path>.old/` (the per-bucket analogue of
    read_state's promotion). ``col`` is the partition column.

    ``buckets`` prunes the read to exactly those partition DIRECTORIES:
    Spark's file index then never lists the untouched ones. A whole-table
    read + `.where(col.isin(...))` prunes the SCAN but still pays a full
    partition-discovery listing per call — at the production bucket count
    (10^4-10^5 dirs on an object store) that listing alone dominates a
    small batch, exactly the touched-file-set economy a Delta/Iceberg
    MERGE gets from its transaction log."""
    recover_buckets(path, col)
    if buckets is not None:
        dirs = [
            d
            for b in buckets
            if os.path.isdir(d := os.path.join(path, f"{col}={b}"))
        ]
        if not dirs:
            return None
        # basePath keeps <col> as a real column parsed from the dir name
        return spark.read.option("basePath", path).parquet(*dirs)
    if not os.path.isdir(path) or not any(
        n.startswith(f"{col}=") for n in os.listdir(path)
    ):
        return None
    return spark.read.parquet(path)


def swap_buckets(
    merged: DataFrame, path: str, touched: Sequence[int], col: str = BUCKET_COL
) -> None:
    """Replace exactly the `touched` bucket directories of `path` with the
    corresponding partitions of `merged` (which must carry BUCKET_COL).

    Write-then-rename per bucket: each bucket flip is atomic, and a crash
    mid-loop leaves every bucket either pre- or post-batch — merge_batch
    is idempotent, so the checkpoint replay converges. Untouched buckets
    are never read, rewritten, or even listed. On a real cluster this is
    `MERGE INTO state` on a table partitioned/clustered by bucket —
    Delta/Iceberg prune to the same touched file set."""
    swap_buckets_begin(merged, path, col)
    swap_buckets_commit(path, touched, col)


def swap_buckets_begin(
    merged: DataFrame, path: str, col: str = BUCKET_COL
) -> None:
    """Phase 1 of swap_buckets: the one Spark job, materializing merged
    to `<path>.tmp/<col>=<i>/` WITHOUT touching `path` — so a caller can
    run it concurrently with other jobs that still READ `path` (the IVM
    per-batch fold) and flip directories later."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    merged.write.mode("overwrite").partitionBy(col).parquet(tmp)


def swap_buckets_commit(
    path: str, touched: Sequence[int], col: str = BUCKET_COL
) -> None:
    """Phase 2 of swap_buckets: per-bucket atomic directory flips (crash
    semantics identical to the fused call — read_bucketed_state recovers
    any bucket stranded under `.old`)."""
    tmp = path + ".tmp"
    os.makedirs(path, exist_ok=True)
    oldroot = path + ".old"
    for b in touched:
        src = os.path.join(tmp, f"{col}={b}")
        dst = os.path.join(path, f"{col}={b}")
        old = os.path.join(oldroot, f"{col}={b}")
        os.makedirs(oldroot, exist_ok=True)
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(dst):
            os.rename(dst, old)
        if os.path.exists(src):
            os.rename(src, dst)
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
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
