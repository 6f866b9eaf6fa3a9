"""Append-only segment log: keyed state that a micro-batch extends by one
write and never reads (a size-tiered log-structured merge layout, O'Neil
et al. 1996, with the max-LSN-per-key merge as its merge rule), committed
through the manifest generations of ``cdc.manifest.ManifestStore``. It
holds the keyed points (``runner.PointsCollection`` and its chunked
subclass) and the keyed row state (``cdc.apply.ParquetCollection``).

Layout of a store directory:

- ``data/seg-<level>-<hex>/``: one immutable parquet segment, written
  once under a fresh name. A micro-batch lands as a level-0 segment
  holding only its winning events.
- ``_manifests/manifest-<version>.json``: one generation of the store,
  mapping each live segment's ``seq`` to its directory name. ``seq``
  grows with every segment published, so within a level a smaller
  ``seq`` is older. An append publishes the next generation; a
  compaction publishes one that adds its output and drops its inputs.

The merge rule is a ``resolve`` function that reduces rows to each key's
winning event and keeps tombstones (a delete must keep beating a stale
upsert replayed later). Because it is idempotent and order-free, the
same rule serves three places: it reduces a batch before the write, it
merges segments in a compaction, and it resolves the union of all live
segments on read. Duplicate copies of an event, from a replayed batch,
resolve to the same winner.

Costs: an append is O(batch), one Spark write. Compaction is size-tiered
with fan-in ``FAN_IN``: when that many segments share a level they merge
into one segment at the next level, so a row is rewritten once per level,
O(log_FAN_IN(batches)) times in all, and a store holds at most
``FAN_IN - 1`` segments per level. Reads union the live segments under
one window on the key.

Crash semantics: publishing the manifest is the commit point, and
readers only follow the newest manifest that parses. A write that
crashes before its manifest leaves an unreferenced directory, and a
compaction that crashes there leaves its inputs live; either way the
state reads as before. No segment is ever renamed or overwritten, so the
store works on object stores as well as local filesystems.
``ManifestStore.gc()``, run after every publish, is the only code that
deletes a segment: orphans at once, compaction inputs once
``keep_manifests`` newer generations no longer reference them.
Single writer, like every keyed store here.

Upgrades: state written by earlier layouts restarts intact, read as the
oldest segment(s) and folded in by the first compaction:

- a store of the bucket manifest protocol (points, or row state of the
  former ``ManifestCollection``): entries that map a bucket ``i`` to
  ``data/commit-*/`` read together as one level-0 segment older than
  any other;
- the rename-published layouts, root ``seg-<level>-<seq>/`` dirs and the
  older root ``bucket=<i>/`` dirs (points, or row state of the former
  bucketed ``ParquetCollection``), which only existed on local
  filesystems: the first call moves them into ``data/`` once, the
  ``seg-*`` dirs under their own names and seqs and the bucket dirs into
  one segment ``seg-0-buckets`` of seq -1, a name and seq no rename-era
  segment had. It publishes their manifest before the move, so a crash
  mid-move resumes, and before any append publishes. Stranded ``_tmp-*``
  writes move in unreferenced, for gc.
"""

from __future__ import annotations

import os
import re
import uuid
from collections.abc import Callable, Iterable, Sequence
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .apply import BUCKET_COL, recover_buckets
from .manifest import ManifestStore

FAN_IN = 4
_SEGMENT = re.compile(r"seg-(\d+)-.+")
_RENAMED = re.compile(r"seg-\d+-(\d+)")  # a root segment of the rename era
# the adopted root bucket layout: a name and seq no rename-era segment had
_BUCKETS, _BUCKETS_SEQ = "seg-0-buckets", -1


class Segment(NamedTuple):
    level: int
    seq: int  # -1 for the bucket layouts: older than any segment
    keys: tuple[int, ...]  # its manifest entries
    dirs: tuple[str, ...]


class SegmentStore:
    """Keyed state at ``path`` as a segment log (module docstring).
    ``cols`` are the stored columns, or None to store the columns
    ``resolve`` returns; ``resolve`` is the merge rule."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        cols: Sequence[str] | None,
        resolve: Callable[[DataFrame], DataFrame],
    ):
        self.spark = spark
        self.path = path
        self.cols = None if cols is None else tuple(cols)
        self.resolve = resolve
        self.manifests = ManifestStore(path)

    def segments(self, as_of: int | None = None) -> list[Segment]:
        """Live segments, ordered by level, then oldest first: of the
        newest generation, or of the retained generation ``as_of``."""
        self._adopt()
        mapping = (
            self.manifests.latest()[1] if as_of is None else self.manifests.at(as_of)
        )
        segs, buckets = [], {}
        for key, name in mapping.items():
            d = os.path.join(self.manifests.data_root, name)
            if m := _SEGMENT.fullmatch(name):
                segs.append(Segment(int(m[1]), key, (key,), (d,)))
            else:  # bucket -> commit dir of the bucket manifest protocol
                buckets[key] = os.path.join(d, f"{BUCKET_COL}={key}")
        if buckets:
            segs.append(Segment(0, -1, tuple(buckets), tuple(buckets.values())))
        return sorted(segs)

    def read(self, as_of: int | None = None) -> DataFrame | None:
        """Each key's winning row (tombstones included), as of the newest
        generation or of the retained generation ``as_of``."""
        segs = self.segments(as_of)
        df = self._load(segs)
        # a lone segment already holds one winner per key
        return df if len(segs) < 2 else self.resolve(df)

    def append(self, batch: DataFrame) -> None:
        """Write the batch's winning events as a level-0 segment, then
        compact. The stored state is never read here."""
        self._adopt()  # before the first publish, which would reuse its seqs
        obs = Observation()
        rows = self.resolve(self._project(batch))
        name = self._write(rows.observe(obs, F.count(F.lit(1)).alias("rows")), 0)
        if obs.get["rows"]:  # an empty batch's write stays an orphan
            self._publish(name, ())
            self._compact()

    def _compact(self) -> None:
        level = 0
        while len(at := [s for s in self.segments() if s.level == level]) >= FAN_IN:
            inputs = at[:FAN_IN]
            name = self._write(self.resolve(self._load(inputs)), level + 1)
            self._publish(name, (k for s in inputs for k in s.keys))
            level += 1

    def _load(self, segs: Sequence[Segment]) -> DataFrame | None:
        if not (dirs := [d for s in segs for d in s.dirs]):
            return None
        # plain file lists: the adopted bucket layout nests its files in
        # bucket=<i>/ dirs, which must not become a partition column
        reader = self.spark.read.option("recursiveFileLookup", "true")
        return self._project(reader.parquet(*dirs))

    def _project(self, df: DataFrame) -> DataFrame:
        return df if self.cols is None else df.select(*self.cols)

    def _write(self, df: DataFrame, level: int) -> str:
        name = f"seg-{level}-{uuid.uuid4().hex}"
        df.write.mode("errorifexists").parquet(
            os.path.join(self.manifests.data_root, name)
        )
        return name

    def _publish(self, name: str, drop: Iterable[int]) -> None:
        _, mapping, max_seen = self.manifests.latest()
        drop = set(drop)
        live = {k: d for k, d in mapping.items() if k not in drop}
        live[max(mapping, default=0) + 1] = name
        self.manifests.publish(max_seen + 1, live)  # past a torn version
        self.manifests.gc()

    def _adopt(self) -> None:
        """Move a rename-published store into ``data/`` (module
        docstring); a no-op listing of the root once that is done."""
        if not os.path.isdir(self.path):
            return
        recover_buckets(self.path)
        seqs, moves = {}, {}  # seq -> segment; root name -> its data/ path
        for name in os.listdir(self.path):
            if m := _RENAMED.fullmatch(name):
                seqs[int(m[1])] = moves[name] = name
            elif name.startswith(f"{BUCKET_COL}="):
                seqs[_BUCKETS_SEQ] = _BUCKETS
                moves[name] = os.path.join(_BUCKETS, name)
            elif name.startswith("_tmp-"):
                moves[name] = name
        if not moves:
            return
        _, mapping, max_seen = self.manifests.latest()
        live = dict(mapping)
        for seq, name in sorted(seqs.items()):
            if name not in mapping.values():  # never displace a live entry
                live[seq if seq not in live else max(live) + 1] = name
        if live != mapping:
            self.manifests.publish(max_seen + 1, live)
        for name, dst in moves.items():
            dst = os.path.join(self.manifests.data_root, dst)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(os.path.join(self.path, name), dst)
