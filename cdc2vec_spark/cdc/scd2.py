"""CDC-maintained SCD Type-2 history — c21's STREAMING face.

c21_scd2_history (changelog.py) derives Kimball row-validity intervals
from a complete change log in one window. This module maintains the
same history INCREMENTALLY from the live stream (``sink.type=
scd2_history`` in the config, runner.sink_hook_for), so "what did this
row look like at LSN t" is answerable at any moment without replaying
the log — the dimension-history twin of the keyed LWW collection the
engine always maintains (reference parity: cdc2vec keeps only the live
state, qdrant.go upsert/delete; SCD2 is the warehouse-side extension).

State layout: ``path`` is a segment log (cdc.segments.SegmentStore) of
EVENT rows (key, lsn, op, *payload) — every upsert event IS a version
row (valid_from = its lsn); delete events are kept as internal CLOSURE
MARKERS (op='d', filtered from ``history()``). An apply appends the
batch's events as one segment and reads nothing; the merge rule is
``dropDuplicates(key, lsn)``, so a replayed batch resolves to the same
event set. ``valid_to`` / ``is_current`` are derived on read with ONE
lead(lsn) window on the key over the resolved events; ``prune``
rewrites the surviving events as one segment (``store.replace``).

Crash semantics are the segment log's: a crash before a segment's
manifest publish leaves the history as it was. A history written by the
earlier layout (root ``bucket=<i>/`` dirs of event rows with a stored
``valid_to``, swapped in place) opens as one adopted segment; the
stored ``valid_to`` is dropped and re-derived on read.

Cost: an apply is O(batch), one write plus the size-tiered compaction
that rewrites each event O(log_FAN_IN(batches)) times in all; a read of
the history is O(history) and one hash exchange on the key.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .envelope import OP_DELETE
from .segments import SegmentStore


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
    ):
        self.spark = spark
        self.path = path
        self.key_col = key_col
        self.payload_cols = tuple(payload_cols)
        self.store = SegmentStore(
            spark, path, (key_col, "lsn", "op", *self.payload_cols),
            lambda rows: rows.dropDuplicates([key_col, "lsn"]),
        )

    def apply_batch(self, batch: DataFrame, _epoch_id: int | None = None) -> None:
        """Append one micro-batch of change events as a segment."""
        self.store.append(batch)

    def read(self) -> DataFrame | None:
        """Every event row with its ``valid_to`` (the key's next event
        lsn), delete closure markers included (internal)."""
        df = self.store.read()
        if df is None:
            return None
        w = Window.partitionBy(self.key_col).orderBy("lsn")
        return df.withColumn("valid_to", F.lead("lsn").over(w))

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
        so the ``valid_to`` values read over the pruned state, and over
        it plus later batches, are the ones the full history reads —
        pruning never corrupts future maintenance (pinned in
        tests/test_scd2.py). After pruning, ``as_of(t)`` stays exact
        for every t >= before_lsn; older points in time are forgotten —
        that is the retention contract. Idempotent; rewrites the whole
        history as one segment when any row is prunable (run it on a
        compaction cadence, not per batch)."""
        df = self.read()
        if df is None:
            return
        h = F.lit(before_lsn)
        prunable = (
            ((F.col("op") != OP_DELETE)
             & F.col("valid_to").isNotNull() & (F.col("valid_to") <= h))
            | ((F.col("op") == OP_DELETE) & (F.col("lsn") <= h))
        )
        if not df.where(prunable).isEmpty():
            self.store.replace(df.where(~prunable))

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
