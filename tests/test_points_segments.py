"""Segment-log keyed point state (cdc/segments.py) behind
runner.PointsCollection and runner.ChunkedPointsCollection.

Every case runs on both collections. One pure-Python reference covers
both: an event is a key plus its rows (one row per id for the plain
collection; the chunk rows, or one tombstone, per base_id for the
chunked one), and the state holds each key's max-LSN event.
"""

from __future__ import annotations

import os
import random
import shutil

import pytest

from cdc2vec_spark import runner
from cdc2vec_spark.cdc import segments
from cdc2vec_spark.cdc.apply import BUCKET_COL, bucket_expr, swap_buckets

PLAIN_DDL = (
    "id string, vector array<float>, metadata map<string,string>, "
    "op string, lsn long"
)
CHUNKED_DDL = (
    "id string, base_id string, vector array<float>, "
    "metadata map<string,string>, op string, lsn long"
)


class Plain:
    cls = runner.PointsCollection
    ddl = PLAIN_DDL
    key_col = "id"

    @staticmethod
    def event(key, lsn, op, n_chunks=1):
        if op == "d":
            return key, [(key, None, None, "d", lsn)]
        return key, [(key, [float(lsn), 1.0], {"pk": key}, op, lsn)]


class Chunked:
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


FLAVORS = pytest.mark.parametrize("fl", [Plain, Chunked], ids=["plain", "chunked"])


def _reference(events):
    """key -> rows of its max-LSN event."""
    state: dict = {}
    for key, rows in events:
        lsn = rows[0][-1]
        if key not in state or lsn > state[key][0]:
            state[key] = (lsn, rows)
    return [r for _, rows in state.values() for r in rows]


def _apply(spark, fl, coll, events):
    rows = [r for _, rs in events for r in rs]
    coll.apply_points(spark.createDataFrame(rows, fl.ddl))


def _stored(df):
    return sorted((r["id"], r["op"], r["lsn"]) for r in df.collect())


def _live(coll):
    df = coll.live()
    if df is None:
        return []
    return sorted((r["id"], r["lsn"], tuple(r["vector"])) for r in df.collect())


def _ref_live(ref):
    return sorted((r[0], r[-1], tuple(r[-4])) for r in ref if r[-2] != "d")


def _ref_stored(ref):
    return sorted((r[0], r[-2], r[-1]) for r in ref)


def _assert_matches(coll, events):
    ref = _reference(events)
    assert _stored(coll.read()) == _ref_stored(ref)
    assert _live(coll) == _ref_live(ref)


@FLAVORS
def test_randomized_lww_matches_reference(spark, tmp_path, fl):
    """Inserts, updates, deletes and duplicate keys within a batch;
    batches applied out of LSN order, then an old batch replayed. Ten
    applies cross two compactions; the state is checked after each one,
    the first while a lone segment holds it."""
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
            op = "d" if rng.random() < 0.25 else rng.choice("cu")
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
        _assert_matches(coll, applied)
    assert len(coll.store.segments()) < 10  # the compactions ran


@FLAVORS
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
    assert not any(r[0].startswith("t:a") for r in _live(coll))
    _assert_matches(coll, events)


@FLAVORS
def test_stranded_tmp_segment_is_ignored(spark, tmp_path, fl):
    path = str(tmp_path / "pts")
    coll = fl.cls(spark, path)
    events = [fl.event("t:a", 5, "c"), fl.event("t:b", 6, "d")]
    _apply(spark, fl, coll, events)
    # a crashed write: a newer upsert that never got renamed in
    _, rows = fl.event("t:b", 9, "u")
    tmp = os.path.join(path, segments.TMP_PREFIX + "crashed")
    spark.createDataFrame(rows, fl.ddl).write.parquet(tmp)
    _assert_matches(coll, events)
    events.append(fl.event("t:c", 7, "c"))
    _apply(spark, fl, coll, events[-1:])
    assert not os.path.exists(tmp)  # the next append swept it
    _assert_matches(coll, events)


@FLAVORS
def test_compaction_output_beside_its_inputs(spark, tmp_path, monkeypatch, fl):
    """A crash after a compaction renamed its output in but before it
    deleted its inputs leaves both; the state reads the same."""
    path = str(tmp_path / "pts")
    coll = fl.cls(spark, path)
    monkeypatch.setattr(segments, "FAN_IN", 100)
    events = []
    for i in range(4):
        batch = [fl.event(f"t:{i % 3}", 10 + i, "d" if i == 2 else "u", 2)]
        _apply(spark, fl, coll, batch)
        events += batch
    inputs = coll.store.segments()
    assert len(inputs) == 4
    saved = str(tmp_path / "saved")
    for s in inputs:
        shutil.copytree(s.dirs[0], os.path.join(saved, os.path.basename(s.dirs[0])))
    monkeypatch.setattr(segments, "FAN_IN", 4)
    coll.store._compact()
    assert [s.level for s in coll.store.segments()] == [1]
    _assert_matches(coll, events)
    for name in os.listdir(saved):
        shutil.copytree(os.path.join(saved, name), os.path.join(path, name))
    assert len(coll.store.segments()) == 5
    _assert_matches(coll, events)


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
    _assert_matches(coll, events)


@FLAVORS
def test_bucket_layout_upgrades_in_place(spark, tmp_path, fl):
    """A state directory left by the rename-swapped bucket layout reads
    as the oldest segment, and the first compaction folds it in and
    deletes its bucket directories."""
    path = str(tmp_path / "pts")
    old = [
        fl.event("t:a", 5, "c", 2),
        fl.event("t:b", 6, "c"),
        fl.event("t:c", 8, "d"),
    ]
    legacy = spark.createDataFrame([r for _, rs in old for r in rs], fl.ddl)
    legacy = legacy.withColumn(BUCKET_COL, bucket_expr((fl.key_col,), 8))
    touched = [r[0] for r in legacy.select(BUCKET_COL).distinct().collect()]
    swap_buckets(legacy, path, touched)
    assert any(n.startswith("bucket=") for n in os.listdir(path))

    coll = fl.cls(spark, path)
    _assert_matches(coll, old)
    events = old + [fl.event("t:a", 9, "u", 1)]
    _apply(spark, fl, coll, events[-1:])
    events.append(fl.event("t:c", 7, "u"))  # stale: the legacy delete wins
    _apply(spark, fl, coll, events[-1:])
    _assert_matches(coll, events)
    events.append(fl.event("t:b", 12, "d"))
    _apply(spark, fl, coll, events[-1:])  # legacy + 3 segments: compaction
    assert not any(n.startswith("bucket=") for n in os.listdir(path))
    assert [s.level for s in coll.store.segments()] == [1]
    _assert_matches(coll, events)


def test_empty_batch_writes_no_segment(spark, tmp_path):
    coll = runner.PointsCollection(spark, str(tmp_path / "pts"))
    empty = spark.createDataFrame([], PLAIN_DDL)
    coll.apply_points(empty)
    assert coll.store.segments() == [] and coll.read() is None
    _apply(spark, Plain, coll, [Plain.event("t:a", 1, "c")])
    coll.apply_points(empty)
    assert len(coll.store.segments()) == 1
