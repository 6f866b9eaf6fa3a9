"""Append-only segment log: keyed state that a micro-batch extends by one
write and never reads (a size-tiered log-structured merge layout, O'Neil
et al. 1996, with the max-LSN-per-key merge as its merge rule), committed
through the manifest generations of ``cdc.manifest.ManifestStore``. It
is the one commit path of every engine state:

- the keyed points (``runner.PointsCollection`` and its chunked
  subclass) and the keyed row state (``cdc.apply.ParquetCollection``);
- the two in-engine indexes (``operators.ann_index.IncrementalIvfIndex``,
  ``operators.lex_index.IncrementalLexicalIndex``);
- the IVM views of ``cdc.ivm``: the LWW row state, partitioned by
  ``bucket``, the value level ``dv``, partitioned by ``dvbucket``, and
  the one-row-per-group ``agg``;
- the join view of ``cdc.delta_join``: the two base states and the
  derived ``fkidx`` and ``view``, partitioned by ``jbucket``, and its
  ``agg``;
- the event rows of ``cdc.scd2.Scd2History``;
- the ``index``, ``docs`` and ``pairs`` of ``streaming.neardup``.

A derived store (``dv``, ``fkidx``, ``view``, the neardup tables) appends
each batch's changed rows as after-images: a row whose key the batch
drops is appended as a tombstone, and readers filter tombstones. Each
``agg`` is rewritten per batch by ``replace``. An IVM state and its
derived stores commit separately, joined by epoch stamps (cdc.ivm
docstring).

Layout of a store directory:

- ``data/seg-<level>-<hex>/``: one immutable parquet segment, written
  once under a fresh name. A micro-batch lands as a level-0 segment
  holding only its winning events. A store with a partition column
  (the indexes' ``cell`` or ``bucket``, the IVM states' ``bucket`` and
  ``dvbucket``, the join view's ``jbucket``, the neardup tables'
  ``bucket``, ``dbucket`` and ``pbucket``) writes each segment as ``<col>=<v>/`` dirs,
  one file per partition, and a read can list just the partitions it
  needs in each live segment. Spark lists more than
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) paths
  with a job of one task per path, so a read names at most that many
  dirs per ``spark.read`` and lists them on the driver.
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

``replace`` writes a whole new state (an index's build or garbage
collection) as one segment at ``BASE_LEVEL``, which size-tiered merges
never reach, and publishes a generation holding only that segment.

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
  older root ``<col>=<i>/`` dirs (points, row state of the former
  bucketed ``ParquetCollection``, an index's root ``cell=<i>/`` or
  ``bucket=<i>/`` dirs, an IVM state's ``bucket=<i>/`` or value level's
  ``dvbucket=<i>/``, a join base state's or derived store's
  ``jbucket=<i>/``, the SCD2 history's ``bucket=<i>/`` or a neardup
  table's ``bucket=``/``dbucket=``/``pbucket=<i>/`` dirs, matched on the
  store's own partition column or ``bucket``), which only existed on
  local filesystems: the first call promotes any partition a crash
  stranded under ``<path>.old/``, then moves them into ``data/`` once,
  the ``seg-*`` dirs under their own names and seqs and the partition
  dirs into one segment ``seg-0-buckets`` of seq -1, a name and seq no
  rename-era segment had. It publishes their manifest before the move,
  so a crash mid-move resumes, and before any append publishes. Stranded
  ``_tmp-*`` writes move in unreferenced, for gc. The derived stores of
  that layout stored no version and no op: their rows read as upserts
  (op ``c``) at version (``lsn``) 0, older than any later write.
"""

from __future__ import annotations

import os
import re
import uuid
from collections.abc import Callable, Iterable, Sequence
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from .apply import BUCKET_COL, recover_buckets
from .manifest import ManifestStore

FAN_IN = 4
# the columns that rows of an earlier layout may lack: upserts at version 0
_EARLIER = {"lsn": (0, "long"), "op": ("c", "string")}
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
BASE_LEVEL = 64  # a replaced state: size-tiered merges never reach it
_SEGMENT = re.compile(r"seg-(\d+)-.+")
_RENAMED = re.compile(r"seg-\d+-(\d+)")  # a root segment of the rename era
# the adopted root bucket layout: a name and seq no rename-era segment had
_BUCKETS, _BUCKETS_SEQ = "seg-0-buckets", -1


class Segment(NamedTuple):
    level: int
    seq: int  # -1 for the bucket layouts: older than any segment
    keys: tuple[int, ...]  # its manifest entries
    dirs: tuple[str, ...]


def _clustered(df: DataFrame, col: str) -> DataFrame:
    """``df`` hash-partitioned on ``col`` over one task per core: each
    value of ``col`` lands in one task, so a partitioned write puts it in
    one file. The explicit count keeps adaptive execution from
    coalescing the write into one task that creates every file in turn."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, col)


def max_lsn_per(col: str, *keys: str | Column) -> Callable[[DataFrame], DataFrame]:
    """The merge rule of a store partitioned by ``col``: each
    ``(col, *keys)``'s max-lsn row. Clustering on ``col`` satisfies the
    window without a second exchange."""
    w = Window.partitionBy(col, *keys).orderBy(F.col("lsn").desc())

    def resolve(rows: DataFrame) -> DataFrame:
        ranked = _clustered(rows, col).withColumn("_rn", F.row_number().over(w))
        return ranked.where(F.col("_rn") == 1).drop("_rn")

    return resolve


class SegmentStore:
    """Keyed state at ``path`` as a segment log (module docstring).
    ``cols`` are the stored columns, or None to store the columns
    ``resolve`` returns; ``resolve`` is the merge rule; ``col``, if set,
    the column each segment is partitioned by."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        cols: Sequence[str] | None,
        resolve: Callable[[DataFrame], DataFrame],
        col: str | None = None,
    ):
        self.spark = spark
        self.path = path
        self.cols = None if cols is None else tuple(cols)
        self.resolve = resolve
        self.col = col
        self.manifests = ManifestStore(path)
        self._schemas: dict[str, StructType] = {}  # segment dir -> schema

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

    def read(
        self, as_of: int | None = None, parts: Iterable[int] | None = None
    ) -> DataFrame | None:
        """Each key's winning row (tombstones included), as of the newest
        generation or of the retained generation ``as_of``; with
        ``parts``, only the rows of those partition values."""
        segs = self.segments(as_of)
        df = self._load(segs, parts)
        # a lone segment already holds one winner per key
        return df if df is None or len(segs) < 2 else self.resolve(df)

    def append(self, batch: DataFrame) -> int:
        """Write the batch's winning events as a level-0 segment, then
        compact; returns the rows written. The stored state is never
        read here."""
        self._adopt()  # before the first publish, which would reuse its seqs
        obs = Observation()
        rows = self.resolve(self._project(batch))
        name = self._write(rows.observe(obs, F.count(F.lit(1)).alias("rows")), 0)
        written = obs.get["rows"]
        if written:  # an empty batch's write stays an orphan
            self._publish(name, ())
            self._compact()
        return written

    def replace(self, state: DataFrame) -> None:
        """Write ``state`` as one segment at ``BASE_LEVEL`` and publish a
        generation holding only it. The live segments stay readable
        until the publish, so ``state`` may be derived from them."""
        self._adopt()
        if self.col is not None:
            state = _clustered(state, self.col)
        name = self._write(self._project(state), BASE_LEVEL)
        self._publish(name, self.manifests.latest()[1])

    def _compact(self) -> None:
        level = 0
        while len(at := [s for s in self.segments() if s.level == level]) >= FAN_IN:
            inputs = at[:FAN_IN]
            name = self._write(self.resolve(self._load(inputs)), level + 1)
            self._publish(name, (k for s in inputs for k in s.keys))
            level += 1

    def _load(
        self, segs: Sequence[Segment], parts: Iterable[int] | None = None
    ) -> DataFrame | None:
        dirs = [d for s in segs for d in s.dirs]
        if self.col is None:
            if not dirs:
                return None
            # plain file lists: the adopted bucket layout nests its files
            # in bucket=<i>/ dirs, which must not become a column
            reader = self.spark.read.option("recursiveFileLookup", "true")
            return self._project(reader.parquet(*dirs))
        # reads per segment, with the segment as basePath so <col> is
        # parsed from the dir names: one read over several segments
        # fails on their conflicting directory structures. Spark lists
        # more than `threshold` paths with a job of one task per path,
        # so each read names at most that many partition dirs. A
        # segment is immutable, so its schema is kept from its write, or
        # from its first read (a segment of an earlier session)
        prefix = f"{self.col}="
        want = None if parts is None else {f"{prefix}{p}" for p in parts}
        limit = int(self.spark.conf.get(_LISTING_THRESHOLD, "32"))
        frames = []
        for d in dirs:
            sub = [
                os.path.join(d, n)
                for n in sorted(os.listdir(d))
                if n.startswith(prefix) and (want is None or n in want)
            ]
            for i in range(0, len(sub), limit):
                reader = self.spark.read.option("basePath", d)
                if d in self._schemas:
                    reader = reader.schema(self._schemas[d])
                df = reader.parquet(*sub[i : i + limit])
                self._schemas[d] = df.schema
                frames.append(self._project(self._versioned(df)))
        if not frames:
            return None
        return reduce(DataFrame.unionByName, frames)

    def _project(self, df: DataFrame) -> DataFrame:
        return df if self.cols is None else df.select(*self.cols)

    def _versioned(self, rows: DataFrame) -> DataFrame:
        """Stored rows with the stored columns that rows of an earlier
        layout lack: they read as upserts at version 0."""
        for col, (value, kind) in _EARLIER.items():
            if col in (self.cols or ()) and col not in rows.columns:
                rows = rows.withColumn(col, F.lit(value).cast(kind))
        return rows

    def _write(self, df: DataFrame, level: int) -> str:
        name = f"seg-{level}-{uuid.uuid4().hex}"
        path = os.path.join(self.manifests.data_root, name)
        writer = df.write.mode("errorifexists")
        if self.col is not None:
            writer = writer.partitionBy(self.col)
            # the schema a read infers: the partition column comes last
            fields = [f for f in df.schema if f.name != self.col]
            self._schemas[path] = StructType([*fields, df.schema[self.col]])
        writer.parquet(path)
        return name

    def _publish(self, name: str, drop: Iterable[int]) -> None:
        _, mapping, max_seen = self.manifests.latest()
        drop = set(drop)
        for k in drop:  # only an as_of read opens a dropped segment again
            self._schemas.pop(os.path.join(self.manifests.data_root, mapping[k]), None)
        live = {k: d for k, d in mapping.items() if k not in drop}
        live[max(mapping, default=0) + 1] = name
        self.manifests.publish(max_seen + 1, live)  # past a torn version
        self.manifests.gc()

    def _adopt(self) -> None:
        """Move a rename-published store into ``data/`` (module
        docstring); a no-op listing of the root once that is done."""
        if not os.path.isdir(self.path):
            return
        col = self.col or BUCKET_COL
        recover_buckets(self.path, col)
        seqs, moves = {}, {}  # seq -> segment; root name -> its data/ path
        for name in os.listdir(self.path):
            if m := _RENAMED.fullmatch(name):
                seqs[int(m[1])] = moves[name] = name
            elif name.startswith(f"{col}="):
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
