"""Append-only segment log: keyed state that a micro-batch extends by one
write and never reads (a size-tiered log-structured merge layout, O'Neil
et al. 1996, with the max-LSN-per-key merge as its merge rule).

Layout of a store directory:

- ``seg-<level>-<seq>/``: one immutable parquet segment. A micro-batch
  lands as a level-0 segment holding only its winning events; ``seq``
  grows with every segment published, so within a level a smaller ``seq``
  is older.
- ``_tmp-<hex>/``: a segment still being written. Readers never list it;
  the next append sweeps any a crash left behind.
- ``bucket=<i>/``: the rename-swapped bucket layout this store replaces.
  It is read as the oldest level-0 segment and folded into the first
  compaction, which deletes it, so an existing deployment restarts with
  its state intact.

The merge rule is a ``resolve`` function that reduces rows to each key's
winning event and keeps tombstones (a delete must keep beating a stale
upsert replayed later). Because it is idempotent and order-free, the
same rule serves three places: it reduces a batch before the write, it
merges segments in a compaction, and it resolves the union of all live
segments on read. Duplicate copies of an event, from a replayed batch or
from a compaction output that sits next to inputs a crash kept from
being deleted, resolve to the same winner.

Costs: an append is O(batch), one Spark write. Compaction is size-tiered
with fan-in ``FAN_IN``: when that many segments share a level they merge
into one segment at the next level, so a row is rewritten once per level,
O(log_FAN_IN(batches)) times in all, and a store holds at most
``FAN_IN - 1`` segments per level. Reads union the live segments under
one window on the key.

Crash semantics: a segment is published by one directory rename, so it is
either whole or absent. A compaction renames its output in before it
deletes its inputs. Rename-based, so local-filesystem only, like
``apply.swap_write``; object stores use ``cdc.manifest``.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from collections.abc import Callable, Sequence
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .apply import BUCKET_COL, read_bucketed_state, recover_buckets

FAN_IN = 4
TMP_PREFIX = "_tmp-"
_SEGMENT = re.compile(r"seg-(\d+)-(\d+)")
_LEGACY = f"{BUCKET_COL}="


class Segment(NamedTuple):
    level: int
    seq: int  # -1 for the legacy bucket layout: older than any segment
    dirs: tuple[str, ...]


class SegmentStore:
    """Keyed state at ``path`` as a segment log (module docstring).
    ``cols`` are the stored columns; ``resolve`` is the merge rule."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        cols: Sequence[str],
        resolve: Callable[[DataFrame], DataFrame],
    ):
        self.spark = spark
        self.path = path
        self.cols = tuple(cols)
        self.resolve = resolve

    def segments(self) -> list[Segment]:
        """Live segments, ordered by level, then oldest first."""
        if not os.path.isdir(self.path):
            return []
        recover_buckets(self.path)
        segs, legacy = [], []
        for name in os.listdir(self.path):
            if m := _SEGMENT.fullmatch(name):
                level, seq = map(int, m.groups())
                segs.append(Segment(level, seq, (os.path.join(self.path, name),)))
            elif name.startswith(_LEGACY):
                legacy.append(os.path.join(self.path, name))
        if legacy:
            segs.append(Segment(0, -1, tuple(sorted(legacy))))
        return sorted(segs)

    def read(self) -> DataFrame | None:
        """Each key's winning row (tombstones included)."""
        segs = self.segments()
        df = self._load(segs)
        # a lone segment already holds one winner per key
        return df if len(segs) < 2 else self.resolve(df)

    def append(self, batch: DataFrame) -> None:
        """Write the batch's winning events as a level-0 segment, then
        compact. The stored state is never read here."""
        for name in os.listdir(self.path) if os.path.isdir(self.path) else ():
            if name.startswith(TMP_PREFIX):
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        obs = Observation()
        rows = self.resolve(batch.select(*self.cols))
        tmp = self._write(rows.observe(obs, F.count(F.lit(1)).alias("rows")))
        if not obs.get["rows"]:
            shutil.rmtree(tmp)
            return
        self._publish(tmp, 0)
        self._compact()

    def _compact(self) -> None:
        level = 0
        while len(at := [s for s in self.segments() if s.level == level]) >= FAN_IN:
            inputs = at[:FAN_IN]
            self._publish(self._write(self.resolve(self._load(inputs))), level + 1)
            for d in (d for s in inputs for d in s.dirs):
                shutil.rmtree(d)
            level += 1

    def _load(self, segs: Sequence[Segment]) -> DataFrame | None:
        parts = []
        if dirs := [d for s in segs if s.seq >= 0 for d in s.dirs]:
            parts.append(self.spark.read.parquet(*dirs))
        if legacy := [d for s in segs if s.seq < 0 for d in s.dirs]:
            buckets = [int(os.path.basename(d)[len(_LEGACY):]) for d in legacy]
            parts.append(read_bucketed_state(self.spark, self.path, buckets=buckets))
        if not parts:
            return None
        return reduce(DataFrame.unionByName, (p.select(*self.cols) for p in parts))

    def _write(self, df: DataFrame) -> str:
        tmp = os.path.join(self.path, TMP_PREFIX + uuid.uuid4().hex)
        df.write.parquet(tmp)
        return tmp

    def _publish(self, tmp: str, level: int) -> None:
        seq = max((s.seq for s in self.segments()), default=0) + 1
        os.rename(tmp, os.path.join(self.path, f"seg-{level}-{seq:08d}"))
