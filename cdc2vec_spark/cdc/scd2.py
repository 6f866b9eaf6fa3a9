"""CDC-maintained SCD Type-2 history — c21's STREAMING face.

c21_scd2_history (changelog.py) derives Kimball row-validity intervals
from a complete change log in one window. This module maintains the
same history INCREMENTALLY from the live stream (``sink.type=
scd2_history`` in the config, runner.sink_hook_for), so "what did this
row look like at LSN t" is answerable at any moment without replaying
the log — the dimension-history twin of the keyed LWW collection the
engine always maintains (reference parity: cdc2vec keeps only the live
state, qdrant.go upsert/delete; SCD2 is the warehouse-side extension).

State layout: ``path/bucket=<i>/`` parquet of EVENT rows — every upsert
event IS a version row (valid_from = its lsn); delete events are kept
as internal CLOSURE MARKERS (op='d', filtered from ``history()``) so a
bucket is self-contained for recomputing interval columns. ``valid_to``
/ ``is_current`` are recomputed per TOUCHED bucket on write with ONE
lead(lsn) window on the key — exact because all of a key's events hash
to one bucket, and bounded because untouched buckets are never read or
rewritten (the swap_buckets discipline, apply.py).

Idempotence: merge = prior ∪ batch, dropDuplicates(key, lsn), then
recompute — replaying any batch reproduces byte-identical state (the
same window over the same event set). Per-batch cost is
O(batch + touched_buckets × bucket_size); at 100 TB size n_buckets so a
bucket holds a few GB of history and this is the touched-file set a
Delta MERGE on a bucket-clustered history table would write.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .apply import (
    BUCKET_COL,
    bucket_expr,
    read_bucketed_state,
    swap_buckets,
)
from .envelope import OP_DELETE


class Scd2History:
    """Incrementally maintained SCD Type-2 validity intervals.

    ``apply_batch`` expects (key_col, lsn, op, *payload_cols) rows —
    the payload columns are carried verbatim on each version row.
    ``history()`` returns (key, *payload, valid_from, valid_to,
    is_current); the open (is_current) versions together are exactly
    the live LWW collection, the containment invariant c21 pins."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str = "id",
        payload_cols: Sequence[str] = ("author",),
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.payload_cols = tuple(payload_cols)
        self.n_buckets = n_buckets

    def _event_cols(self) -> list[str]:
        return [self.key_col, "lsn", "op", *self.payload_cols]

    def apply_batch(self, batch: DataFrame, _epoch_id: int | None = None) -> None:
        """Merge one micro-batch of change events into the touched
        buckets and recompute their interval columns."""
        bexpr = bucket_expr((self.key_col,), self.n_buckets)
        ev = batch.select(*self._event_cols()).withColumn(BUCKET_COL, bexpr)
        touched = sorted(
            r[0] for r in ev.select(BUCKET_COL).distinct().collect()
        )
        if not touched:
            return
        prior = read_bucketed_state(self.spark, self.path, buckets=touched)
        if prior is not None:
            ev = prior.select(*ev.columns).unionByName(ev)
        # replay-idempotent: the same (key, lsn) event merges to one row
        ev = ev.dropDuplicates([self.key_col, "lsn"])
        w = Window.partitionBy(self.key_col).orderBy("lsn")
        merged = ev.withColumn("valid_to", F.lead("lsn").over(w))
        swap_buckets(
            merged.repartition(len(touched), BUCKET_COL), self.path, touched
        )

    def read(self) -> DataFrame | None:
        """Raw state incl. delete closure markers (internal)."""
        return read_bucketed_state(self.spark, self.path)

    def history(self) -> DataFrame | None:
        """The SCD2 history: one row per version, delete markers
        filtered (they exist to close intervals, not to be versions)."""
        df = self.read()
        if df is None:
            return None
        return df.where(F.col("op") != OP_DELETE).select(
            self.key_col,
            *self.payload_cols,
            F.col("lsn").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )

    def current(self) -> DataFrame | None:
        """Open versions only — must equal the keyed LWW live state."""
        h = self.history()
        if h is None:
            return None
        return h.where(F.col("is_current")).drop("is_current")

    def prune(self, before_lsn: int) -> None:
        """Retention — the SCD2 analogue of log compaction
        (apply.py:compact_changes): drop versions that were CLOSED
        before ``before_lsn`` and delete markers at/below it. Because
        validity intervals are contiguous and increasing per key, the
        surviving rows are exactly the tail of each key's event chain,
        so a later ``apply_batch`` recomputing intervals over the
        pruned bucket reproduces the same ``valid_to`` values — pruning
        never corrupts future maintenance (pinned in
        tests/test_scd2.py). After pruning, ``as_of(t)`` stays exact
        for every t >= before_lsn; older points in time are forgotten —
        that is the retention contract. Idempotent; rewrites every
        bucket that holds prunable rows (run it on a compaction
        cadence, not per batch)."""
        df = self.read()
        if df is None:
            return
        h = F.lit(before_lsn)
        prunable = (
            ((F.col("op") != OP_DELETE)
             & F.col("valid_to").isNotNull() & (F.col("valid_to") <= h))
            | ((F.col("op") == OP_DELETE) & (F.col("lsn") <= h))
        )
        touched = sorted(
            r[0]
            for r in df.where(prunable).select(BUCKET_COL).distinct().collect()
        )
        if not touched:
            return
        keep = read_bucketed_state(
            self.spark, self.path, buckets=touched
        ).where(~prunable)
        swap_buckets(
            keep.repartition(len(touched), BUCKET_COL), self.path, touched
        )

    def as_of(self, lsn: int) -> DataFrame | None:
        """Point-in-time read: each key's version valid at ``lsn``
        (valid_from <= lsn < valid_to) — the row-level time travel that
        complements the manifest's snapshot-level form (manifest.py)."""
        h = self.history()
        if h is None:
            return None
        return h.where(
            (F.col("valid_from") <= F.lit(lsn))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(lsn)))
        ).drop("is_current")
