"""The segment log (cdc/segments.py) behind runner.PointsCollection,
runner.ChunkedPointsCollection and the row state cdc.apply.ParquetCollection.

The LWW, no-rename, torn-manifest, crashed-write, time-travel and
upgrade cases run on every collection; the compaction-crash and
segment-count cases on the two point stores. One pure-Python
reference covers them all: an event is a key plus its rows (one row
per id for the plain point collection and the row state; the chunk
rows, or one tombstone, per base_id for the chunked one), and the state
holds each key's max-LSN eligible event. Only the row state has ineligible events: an
upsert with empty text, which must leave the key's prior row in place.
"""

from __future__ import annotations

import os
import random
import re
import shutil

import pytest
from pyspark.sql import functions as F

from cdc2vec_spark import runner
from cdc2vec_spark.cdc import segments
from cdc2vec_spark.cdc.apply import (
    BUCKET_COL,
    ParquetCollection,
    bucket_expr,
    swap_buckets,
)
from cdc2vec_spark.cdc.manifest import ManifestStore

PLAIN_DDL = (
    "id string, vector array<float>, metadata map<string,string>, "
    "op string, lsn long"
)
CHUNKED_DDL = (
    "id string, base_id string, vector array<float>, "
    "metadata map<string,string>, op string, lsn long"
)
ROW_DDL = (
    "lsn long, op string, tbl string, pk string, "
    "after_title string, after_content string, after_author string"
)


class Plain:
    cls = runner.PointsCollection
    ddl = PLAIN_DDL
    key_col = id_col = "id"
    live_cols = ("id", "lsn", "vector")
    upserts = "cu"

    @staticmethod
    def event(key, lsn, op, n_chunks=1):
        if op == "d":
            return key, [(key, None, None, "d", lsn)]
        return key, [(key, [float(lsn), 1.0], {"pk": key}, op, lsn)]

    @staticmethod
    def apply(coll, df):
        coll.apply_points(df)

    @staticmethod
    def live(coll, as_of):
        return coll.live(as_of)

    @staticmethod
    def eligible(row):
        return True


class Chunked(Plain):
    cls = runner.ChunkedPointsCollection
    ddl = CHUNKED_DDL
    key_col = "base_id"

    @staticmethod
    def event(key, lsn, op, n_chunks=1):
        if op == "d":
            return key, [(key, key, None, None, "d", lsn)]
        return key, [
            (f"{key}#{k}", key, [float(lsn), float(k)], {"pk": key}, op, lsn)
            for k in range(n_chunks)
        ]


class Row:
    """Row state keyed on (tbl, pk). Op ``x`` is an update whose text is
    empty: the empty-text guard drops it."""

    cls = ParquetCollection
    ddl = ROW_DDL
    key_col = id_col = "pk"
    live_cols = ("pk", "after_title", "after_content", "after_author")
    upserts = "cux"

    @staticmethod
    def event(key, lsn, op, n_chunks=1):
        if op == "d":
            return key, [(lsn, "d", "t", key, None, None, None)]
        if op == "x":
            return key, [(lsn, "u", "t", key, "", None, f"a{lsn}")]
        return key, [(lsn, op, "t", key, f"v{lsn}", "c" * n_chunks, f"a{lsn}")]

    @staticmethod
    def apply(coll, df):
        coll.apply_batch(df)

    @staticmethod
    def live(coll, as_of):
        return coll.state(as_of)

    @staticmethod
    def eligible(row):
        return row["op"] == "d" or bool(row["after_title"] or row["after_content"])


FLAVORS = pytest.mark.parametrize("fl", [Plain, Chunked], ids=["plain", "chunked"])
ALL_FLAVORS = pytest.mark.parametrize(
    "fl", [Plain, Chunked, Row], ids=["plain", "chunked", "row"]
)


def _names(fl):
    return [c.split()[0] for c in fl.ddl.split(", ")]


def _reference(fl, events):
    """The rows of each key's max-LSN eligible event, as dicts."""
    state: dict = {}
    for key, rows in events:
        rows = [dict(zip(_names(fl), r)) for r in rows]
        lsn = rows[0]["lsn"]
        if fl.eligible(rows[0]) and (key not in state or lsn > state[key][0]):
            state[key] = (lsn, rows)
    return [r for _, rows in state.values() for r in rows]


def _apply(spark, fl, coll, events):
    rows = [r for _, rs in events for r in rs]
    fl.apply(coll, spark.createDataFrame(rows, fl.ddl))


def _stored(fl, df):
    return sorted((r[fl.id_col], r["op"], r["lsn"]) for r in df.collect())


def _canon(fl, row):
    return tuple(
        tuple(v) if isinstance(v, list) else v for v in (row[c] for c in fl.live_cols)
    )


def _live(fl, coll, as_of=None):
    df = fl.live(coll, as_of)
    if df is None:
        return []
    return sorted(_canon(fl, r) for r in df.collect())


def _ref_live(fl, ref):
    return sorted(_canon(fl, r) for r in ref if r["op"] != "d")


def _ref_stored(fl, ref):
    return sorted((r[fl.id_col], r["op"], r["lsn"]) for r in ref)


def _assert_matches(fl, coll, events):
    ref = _reference(fl, events)
    assert _stored(fl, coll.read()) == _ref_stored(fl, ref)
    assert _live(fl, coll) == _ref_live(fl, ref)


@ALL_FLAVORS
def test_randomized_lww_matches_reference(spark, tmp_path, fl):
    """Inserts, updates, deletes and duplicate keys within a batch (and,
    for the row state, empty-text updates); batches applied out of LSN
    order, then an old batch replayed and an empty-text update of a live
    key. Eleven applies cross two compactions; the state is checked after
    each one, the first while a lone segment holds it."""
    rng = random.Random(7)
    keys = [f"t:{i}" for i in range(10)]
    lsn = 0
    batches = []
    for _ in range(9):
        batch = []
        for j in range(6):
            lsn += 1
            # the last event repeats the first event's key
            key = batch[0][0] if j == 5 else rng.choice(keys)
            op = "d" if rng.random() < 0.25 else rng.choice(fl.upserts)
            batch.append(fl.event(key, lsn, op, rng.randint(1, 3)))
        batches.append(batch)
    order = batches[:]
    rng.shuffle(order)
    order.append(order[2])  # redelivery of an already-applied batch

    coll = fl.cls(spark, str(tmp_path / "pts"))
    applied = []
    for batch in order:
        _apply(spark, fl, coll, batch)
        applied += batch
        _assert_matches(fl, coll, applied)
    # a live key's newest event, then the flavor's last upsert kind on
    # it: for the row state an empty-text update, which must keep it
    live = max(_reference(fl, applied), key=lambda r: (r["op"] != "d", r["lsn"]))
    key = live[fl.key_col]
    applied.append(fl.event(key, lsn + 1, fl.upserts[-1]))
    _apply(spark, fl, coll, applied[-1:])
    _assert_matches(fl, coll, applied)
    assert any(r[0].split("#")[0] == key for r in _live(fl, coll))
    assert len(coll.store.segments()) < 11  # the compactions ran


@ALL_FLAVORS
def test_stale_upsert_cannot_resurrect_deleted_key(spark, tmp_path, fl):
    """The tombstone survives compaction and still beats an upsert
    replayed with an older LSN."""
    coll = fl.cls(spark, str(tmp_path / "pts"))
    events = [fl.event("t:a", 5, "c", 2), fl.event("t:b", 6, "c")]
    _apply(spark, fl, coll, events)
    events.append(fl.event("t:a", 10, "d"))
    _apply(spark, fl, coll, events[-1:])
    for lsn in (20, 21):  # fills level 0, so the tombstone is compacted
        events.append(fl.event(f"t:{lsn}", lsn, "c"))
        _apply(spark, fl, coll, events[-1:])
    assert [s.level for s in coll.store.segments()] == [1]
    _apply(spark, fl, coll, [fl.event("t:a", 7, "u", 3)])  # stale upsert
    assert not any(r[0].startswith("t:a") for r in _live(fl, coll))
    _assert_matches(fl, coll, events)


def _files(root):
    """Every data file under ``root`` with its size and mtime."""
    return {
        os.path.join(d, f): (os.path.getsize(os.path.join(d, f)),
                             os.path.getmtime(os.path.join(d, f)))
        for d, _, fs in os.walk(root)
        for f in fs
    }


@ALL_FLAVORS
def test_no_rename_and_no_data_overwrite(spark, tmp_path, monkeypatch, fl):
    """Appends and a compaction run with os.rename/os.replace/shutil.move
    forbidden, and every segment file written stays byte-identical for
    as long as it exists: a segment is committed by its manifest alone."""

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("rename/move used by the segment store")

    monkeypatch.setattr(os, "rename", boom)
    monkeypatch.setattr(os, "replace", boom)
    monkeypatch.setattr(shutil, "move", boom)
    coll = fl.cls(spark, str(tmp_path / "pts"))
    events, seen = [], {}
    for i in range(5):  # the fourth apply compacts level 0
        batch = [fl.event(f"t:{i % 3}", 10 + i, "d" if i == 2 else "u", 2)]
        _apply(spark, fl, coll, batch)
        events += batch
        now = _files(coll.store.manifests.data_root)
        assert all(now[p] == v for p, v in seen.items() if p in now)
        seen.update(now)
    assert [s.level for s in coll.store.segments()] == [0, 1]
    assert coll.store.manifests.latest()[0] == 6  # 5 appends + 1 compaction
    _assert_matches(fl, coll, events)


@ALL_FLAVORS
def test_torn_manifest_falls_back_and_version_not_reused(spark, tmp_path, fl):
    coll = fl.cls(spark, str(tmp_path / "pts"))
    events = [fl.event("t:a", 5, "c"), fl.event("t:b", 6, "c")]
    _apply(spark, fl, coll, events)
    store = coll.store.manifests
    good_v, good_map, _ = store.latest()
    # crash mid-PUT of the next generation: invalid JSON
    with open(store._manifest_path(good_v + 1), "w") as fh:
        fh.write('{"version": 2, "buck')
    assert store.latest() == (good_v, good_map, good_v + 1)
    _assert_matches(fl, coll, events)
    events.append(fl.event("t:a", 9, "d"))
    _apply(spark, fl, coll, events[-1:])
    assert store.latest()[0] == good_v + 2  # allocated past the torn one
    _assert_matches(fl, coll, events)


@ALL_FLAVORS
def test_crashed_write_is_invisible_then_gced(spark, tmp_path, fl):
    """A write that crashed before its manifest was published leaves an
    unreferenced ``data/seg-*`` dir: readers never see it and the gc of
    the next publish deletes it."""
    coll = fl.cls(spark, str(tmp_path / "pts"))
    events = [fl.event("t:a", 5, "c"), fl.event("t:b", 6, "d")]
    _apply(spark, fl, coll, events)
    _, rows = fl.event("t:b", 9, "u")  # a newer upsert, never published
    orphan = os.path.join(coll.store.manifests.data_root, "seg-0-crashed")
    spark.createDataFrame(rows, fl.ddl).write.parquet(orphan)
    _assert_matches(fl, coll, events)
    events.append(fl.event("t:c", 7, "c"))
    _apply(spark, fl, coll, events[-1:])
    assert not os.path.exists(orphan)
    _assert_matches(fl, coll, events)


@FLAVORS
def test_compaction_crash_before_publish(spark, tmp_path, monkeypatch, fl):
    """A crash after a compaction wrote its output but before it
    published the manifest leaves the inputs live and the output an
    orphan; the state reads the same, and the next append compacts
    again and gcs the orphan."""
    coll = fl.cls(spark, str(tmp_path / "pts"))
    events = []
    for i in range(3):
        batch = [fl.event(f"t:{i % 2}", 10 + i, "d" if i == 1 else "u", 2)]
        _apply(spark, fl, coll, batch)
        events += batch
    store = coll.store.manifests
    real = store.publish

    def publish(version, mapping):
        if len(mapping) < 4:  # the compaction's generation: 4 inputs -> 1
            raise RuntimeError("crash before the compaction's manifest")
        real(version, mapping)

    monkeypatch.setattr(store, "publish", publish)
    events.append(fl.event("t:2", 20, "u"))
    with pytest.raises(RuntimeError, match="crash"):
        _apply(spark, fl, coll, events[-1:])
    monkeypatch.setattr(store, "publish", real)
    assert [s.level for s in coll.store.segments()] == [0] * 4
    live = {os.path.basename(s.dirs[0]) for s in coll.store.segments()}
    orphans = set(os.listdir(store.data_root)) - live
    assert [n.split("-")[1] for n in orphans] == ["1"]
    _assert_matches(fl, coll, events)
    events.append(fl.event("t:3", 21, "c"))
    _apply(spark, fl, coll, events[-1:])
    assert [s.level for s in coll.store.segments()] == [0, 1]
    assert not orphans & set(os.listdir(store.data_root))
    _assert_matches(fl, coll, events)


@FLAVORS
def test_segment_count_is_logarithmic(spark, tmp_path, fl):
    """20 applies leave one segment per nonzero base-4 digit of 20
    (= 110 in base 4): two, where the bucket layout would hold 64
    directories and a log without compaction 20 segments."""
    coll = fl.cls(spark, str(tmp_path / "pts"))
    events = []
    for i in range(20):
        batch = [fl.event(f"t:{i % 7}", i + 1, "u")]
        _apply(spark, fl, coll, batch)
        events += batch
    segs = coll.store.segments()
    assert sorted(s.level for s in segs) == [1, 2]
    assert len(segs) <= (segments.FAN_IN - 1) * 3  # log4(20) < 3 levels
    _assert_matches(fl, coll, events)


def _old_bucket_layout(spark, fl, path, events):
    """The root ``bucket=<i>/`` layout, written by swap_buckets."""
    df = _old_frame(spark, fl, events)
    swap_buckets(df, path, _touched(df))


def _renamed_segments(spark, fl, path, parts, first_seq):
    """Level-0 root segments the way the rename-published log wrote them:
    into ``_tmp-<hex>/``, then renamed to ``seg-0-<seq>/``, its seq one
    past the largest live seq (-1 for a bucket layout, else 0)."""
    for seq, part in enumerate(parts, start=first_seq):
        tmp = os.path.join(path, f"_tmp-{seq}")
        spark.createDataFrame([r for _, rs in part for r in rs], fl.ddl).write.parquet(tmp)
        os.rename(tmp, os.path.join(path, f"seg-0-{seq:08d}"))


def _old_rename_segments(spark, fl, path, events):
    """Root ``seg-<level>-<seq>/`` dirs of the rename-published log: two
    level-0 segments, plus a write that crashed before its rename."""
    _renamed_segments(spark, fl, path, (events[:2], events[2:]), 1)
    spark.createDataFrame(events[0][1], fl.ddl).write.parquet(
        os.path.join(path, "_tmp-crashed")
    )


def _old_buckets_then_segments(spark, fl, path, events):
    """A ``bucket=<i>/`` store upgraded by the rename-published log and
    appended to twice since: the bucket dirs beside ``seg-0-00000000/``
    and ``seg-0-00000001/``."""
    _old_bucket_layout(spark, fl, path, events[:1])
    _renamed_segments(spark, fl, path, (events[1:2], events[2:]), 0)


def _old_manifest_buckets(spark, fl, path, events):
    """A store of the bucket manifest protocol (a ``state_protocol:
    manifest`` points store, or a ManifestCollection row store) after
    two generations: each wrote the merged state of the buckets it
    touched to a fresh ``data/commit-*/`` dir, partitioned by bucket,
    and published a manifest mapping those buckets to it."""
    store, done, mapping = ManifestStore(path), [], {}
    for version, part in enumerate((events[:2], events[2:]), start=1):
        done += part
        touched = _touched(_old_frame(spark, fl, part))
        cdir = f"commit-{version:09d}-{version:08x}"
        merged = _old_frame(spark, fl, done).where(F.col(BUCKET_COL).isin(touched))
        merged.write.partitionBy(BUCKET_COL).parquet(os.path.join(store.data_root, cdir))
        mapping.update(dict.fromkeys(touched, cdir))
        store.publish(version, mapping)


def _old_frame(spark, fl, events):
    df = spark.createDataFrame([r for _, rs in events for r in rs], fl.ddl)
    return df.withColumn(BUCKET_COL, bucket_expr((fl.key_col,), 8))


def _touched(df):
    return sorted(r[0] for r in df.select(BUCKET_COL).distinct().collect())


_OLD = {
    "buckets": _old_bucket_layout,
    "buckets+segments": _old_buckets_then_segments,
    "renamed-segments": _old_rename_segments,
    "manifest-buckets": _old_manifest_buckets,
}
OLD_FORMATS = pytest.mark.parametrize("write_old", list(_OLD.values()), ids=list(_OLD))
# the row state only ever had the two bucket layouts: the bucketed
# ParquetCollection and ManifestCollection
_UPGRADES = [
    pytest.param(fl, _OLD[name], id=f"{name}-{fl.__name__.lower()}")
    for name in _OLD
    for fl in (Plain, Chunked, Row)
    if fl is not Row or name in ("buckets", "manifest-buckets")
]
FRESH = re.compile(r"seg-\d-[0-9a-f]{32}")  # a segment written by the store


@pytest.mark.parametrize("fl, write_old", _UPGRADES)
def test_bucket_layout_upgrades_in_place(spark, tmp_path, fl, write_old):
    """State left by each earlier layout reads as the oldest segment(s);
    the first compaction folds it in, after which the store holds only
    its manifests and segments, and gc has removed the old directories."""
    path = str(tmp_path / "pts")
    old = [
        fl.event("t:a", 5, "c", 2),
        fl.event("t:b", 6, "c"),
        fl.event("t:c", 8, "d"),
    ]
    write_old(spark, fl, path, old)

    coll = fl.cls(spark, path)
    _assert_matches(fl, coll, old)
    assert sorted(os.listdir(path)) == ["_manifests", "data"]
    events = old + [fl.event("t:a", 9, "u", 1)]
    _apply(spark, fl, coll, events[-1:])
    events.append(fl.event("t:c", 7, "u"))  # stale: the old delete wins
    _apply(spark, fl, coll, events[-1:])
    _assert_matches(fl, coll, events)
    while not any(s.level for s in coll.store.segments()):
        events.append(fl.event(f"t:{len(events)}", len(events) + 20, "c"))
        _apply(spark, fl, coll, events[-1:])
    live = coll.store.manifests.latest()[1].values()
    assert all(FRESH.fullmatch(n) for n in live)  # folded in
    coll.store.manifests.keep_manifests = 1
    coll.store.manifests.gc()  # no retained generation references them
    data = os.listdir(coll.store.manifests.data_root)
    assert all(FRESH.fullmatch(n) for n in data)
    _assert_matches(fl, coll, events)


@OLD_FORMATS
@pytest.mark.parametrize("reverse", [False, True], ids=["asc", "desc"])
def test_upgrade_starts_with_an_apply(spark, tmp_path, monkeypatch, write_old, reverse):
    """A restarted stream's first call on an old store is an apply. The
    old state is adopted before the apply publishes, so the old segments
    and the new batch each stay live, whichever order the root lists
    its directories in."""
    path = str(tmp_path / "pts")
    events = [
        Plain.event("t:a", 5, "c"),
        Plain.event("t:b", 6, "c"),
        Plain.event("t:c", 8, "d"),
    ]
    write_old(spark, Plain, path, events)
    fl, listdir = Plain, os.listdir
    monkeypatch.setattr(
        os, "listdir", lambda p=".": sorted(listdir(p), reverse=reverse)
    )
    coll = Plain.cls(spark, path)
    for ev in (Plain.event("t:a", 9, "u"), Plain.event("t:d", 10, "c")):
        events.append(ev)
        _apply(spark, Plain, coll, [ev])
        _assert_matches(fl, coll, events)
    assert sorted(listdir(path)) == ["_manifests", "data"]


def test_interrupted_upgrade_move_resumes(spark, tmp_path, monkeypatch):
    """A crash partway through the one-time move of a rename-era store
    into ``data/`` (its manifest already published) resumes on the next
    call and loses nothing."""
    path = str(tmp_path / "pts")
    fl = Plain
    old = [fl.event(f"t:{i}", 5 + i, "d" if i == 3 else "c") for i in range(6)]
    _old_bucket_layout(spark, fl, path, old[:3])
    _renamed_segments(spark, fl, path, (old[3:5], old[5:]), 0)
    rename, calls = os.rename, []

    def crash_on_third(src, dst):
        calls.append(src)
        if len(calls) == 3:
            raise OSError("crash mid-move")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_on_third)
    coll = Plain.cls(spark, path)
    with pytest.raises(OSError, match="mid-move"):
        coll.store.segments()
    monkeypatch.setattr(os, "rename", rename)
    assert any(n != "_manifests" and n != "data" for n in os.listdir(path))
    _assert_matches(fl, coll, old)
    assert sorted(os.listdir(path)) == ["_manifests", "data"]
    assert coll.store.manifests.latest()[0] == 1  # published once


@ALL_FLAVORS
def test_time_travel_reads_each_generation(spark, tmp_path, fl):
    """read/live(as_of=v) give the state as of each retained generation,
    a compaction's inputs included while a retained generation still
    references them; a version never published is an error."""
    coll = fl.cls(spark, str(tmp_path / "pts"))
    events, snaps = [], {}
    for i in range(5):  # the fourth apply compacts level 0
        batch = [fl.event(f"t:{i % 3}", 10 + i, "d" if i == 2 else "u", 2)]
        _apply(spark, fl, coll, batch)
        events += batch
        snaps[coll.store.manifests.latest()[0]] = list(events)
    assert coll.store.manifests.versions() == [1, 2, 3, 4, 5, 6]
    snaps[4] = snaps[5]  # the generation just before the compaction
    for v, evs in sorted(snaps.items()):
        ref = _reference(fl, evs)
        assert _stored(fl, coll.read(as_of=v)) == _ref_stored(fl, ref)
        assert _live(fl, coll, as_of=v) == _ref_live(fl, ref)
    assert [s.level for s in coll.store.segments(as_of=4)] == [0] * 4
    with pytest.raises(ValueError, match="not retained"):
        coll.read(as_of=99)


def test_empty_batch_writes_no_segment(spark, tmp_path):
    coll = runner.PointsCollection(spark, str(tmp_path / "pts"))
    empty = spark.createDataFrame([], PLAIN_DDL)
    coll.apply_points(empty)
    assert coll.store.segments() == [] and coll.read() is None
    _apply(spark, Plain, coll, [Plain.event("t:a", 1, "c")])
    coll.apply_points(empty)
    assert len(coll.store.segments()) == 1


_LISTING_PROBE = """
import sys
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from cdc2vec_spark.cdc.segments import SegmentStore, max_lsn_per

spark = SparkSession.builder.master("local[4]").getOrCreate()
store = SegmentStore(spark, sys.argv[1], None, max_lsn_per("cell", "id"), col="cell")
for s in range(3):
    store.append(spark.range(s * 4000, (s + 1) * 4000).select(
        "id", (F.col("id") % 127).cast("int").alias("cell"),
        F.lit(s).cast("long").alias("lsn"),
    ))
# a reader attaching to the store, with no schema kept from the writes
store = SegmentStore(spark, sys.argv[1], None, max_lsn_per("cell", "id"), col="cell")
sc = spark.sparkContext
sc.setJobGroup("read", "read")
store.read()
tracker = sc.statusTracker()
print("TASKS", [
    tracker.getStageInfo(st).numTasks
    for job in tracker.getJobIdsForGroup("read")
    for st in tracker.getJobInfo(job).stageIds
])
"""


def test_partitioned_read_starts_no_listing_job(tmp_path):
    """Creating a read over a store partitioned into more values than
    Spark lists on the driver (its parallel-partition-discovery
    threshold, 32) starts no file-listing job of one task per path:
    under a bare session, only the one-task schema reads of a reader
    attaching to the store remain."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _LISTING_PROBE, str(tmp_path / "s")],
        cwd=repo, env={**os.environ, "PYTHONPATH": repo},
        capture_output=True, text=True, check=True,
    ).stdout
    tasks = eval(re.search(r"^TASKS (.*)$", out, re.M)[1])
    assert tasks and max(tasks) == 1, tasks
