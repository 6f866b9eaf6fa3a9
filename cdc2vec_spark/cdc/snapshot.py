"""Initial-snapshot bootstrap — engine extension; the reference has NO
snapshot path (grep of /root/reference finds none): a cdc2vec
deployment only ever indexes rows that change AFTER the replication
slot exists, so every pre-existing row is invisible to the vector
store. Debezium's initial snapshot (op='r' read events ahead of the
stream) is the industry-standard fix; this module brings that
semantics to the engine, reusing the audited hot path end to end.

Protocol (the Debezium initial-snapshot ordering):

1. provision the slot/publication FIRST (cdc/postgres.py
   ``provision_slot``) — the slot pins WAL from its creation point;
2. read the table's current state and record ``snapshot_lsn`` (in
   production ``pg_current_wal_lsn()`` taken after slot creation; the
   fixture tests pass the max LSN covered by the snapshot);
3. synthesize one upsert event per row at ``lsn = snapshot_lsn`` and
   run it through the SAME ``build_points`` pipeline (F1→F2→P1→P3→P2→
   M1→M2) into the SAME collection — snapshot rows are not a special
   case anywhere downstream;
4. start streaming from the slot.

The snapshot/stream overlap needs no coordination BECAUSE the
collection merge is idempotent last-write-wins on (key, lsn): any
replayed change with lsn ≤ snapshot_lsn loses to the snapshot row, any
post-snapshot change wins — replaying the whole topic from offset 0
after a bootstrap converges to the identical state
(tests/test_snapshot.py pins both properties).

Debezium parity note: Debezium tags snapshot reads op='r'; our decoder
already folds 'r' into the upsert path (cdc/debezium.py:78), and this
module emits the folded form directly (envelope.OP_INSERT).

Scale: the snapshot is one narrow projection over the table scan + the
existing partition-parallel embed pipeline — at 100 TB it is exactly a
batch run of the hot path, with no driver-side anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import Mapping
from .envelope import OP_INSERT
from .pipeline import build_points


def snapshot_events(
    table: DataFrame,
    table_name: str,
    id_col: str,
    snapshot_lsn: int,
) -> DataFrame:
    """One flattened upsert event per current row, at the snapshot LSN.

    Columns other than ``id_col`` become ``after_<col>`` (string-cast:
    the wire envelope carries text values — cdc/extract.py re-types
    downstream exactly as for streamed changes). Already-flattened
    inputs (columns named ``after_*``, e.g. a state read back from
    ``apply.latest_state``) pass through unprefixed."""
    after = [
        F.col(c).cast("string").alias(c if c.startswith("after_") else f"after_{c}")
        for c in table.columns
        if c != id_col
    ]
    return table.select(
        F.lit(snapshot_lsn).cast("long").alias("lsn"),
        F.lit(OP_INSERT).alias("op"),
        F.lit(table_name).alias("tbl"),
        F.col(id_col).cast("string").alias("pk"),
        *after,
    )


def bootstrap_collection(
    table: DataFrame,
    mapping: Mapping,
    provider,
    collection,
    snapshot_lsn: int,
    id_col: str = "pk",
    chunk: tuple[int, int] | None = None,
    keep_text: bool = False,
) -> None:
    """Step 3 of the protocol: seed ``collection`` (any apply_points
    store — PointsCollection or ChunkedPointsCollection) with the table's current state through the audited
    pipeline. Call before starting ``runner.boot`` on the stream."""
    ev = snapshot_events(table, mapping.table, id_col, snapshot_lsn)
    pts = build_points(ev, mapping, provider, chunk=chunk, keep_text=keep_text)
    collection.apply_points(pts, None)
