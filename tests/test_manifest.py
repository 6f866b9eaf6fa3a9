"""Manifest-generation commits (cdc/manifest.py) under the keyed row
state: orphan directories invisible then GC'd, idempotent replay, GC
keeping reachable history, per-generation time travel over the fixture
and its GC-bounded horizon, and the keyed point store of runner.boot
committing one generation per micro-batch. The rename-free, torn
manifest and crash cases of the segment log run for every keyed store
in tests/test_points_segments.py.
"""

import json
import os

import pytest

# long e2e suite: deselected under the default driver-budget run
# (pytest.ini); the full suite is opt-in via -m ""
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from cdc2vec_spark.cdc import apply
from cdc2vec_spark.cdc.changelog import MAPPED, changes_df
from cdc2vec_spark.cdc.transform import filter_mapped

SCHEMA = (
    "lsn long, op string, tbl string, pk string, "
    "after_title string, after_content string, after_author string"
)


def _log(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _state_map(coll):
    df = coll.state()
    return (
        {}
        if df is None
        else {r["pk"]: (r["after_title"], r["after_content"]) for r in df.collect()}
    )


def _batches(spark, sf_dir, n=3):
    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED).persist()
    lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
    step = (hi - lo) // n + 1
    return ch, [
        ch.where((F.col("lsn") >= lo + i * step) & (F.col("lsn") < lo + (i + 1) * step))
        for i in range(n)
    ]


def test_orphan_commit_dir_invisible_then_gced(spark, tmp_path):
    mc = apply.ParquetCollection(spark, str(tmp_path / "m"))
    mc.store.manifests.keep_manifests = 1
    mc.apply_batch(_log(spark, [(1, "c", "t", "1", "a", "c", "x")]))
    before = _state_map(mc)
    # crash after the data write, before the manifest PUT: orphan dir
    orphan = os.path.join(mc.store.manifests.data_root, "seg-0-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    assert _state_map(mc) == before  # readers never see it
    removed_dirs, _ = mc.store.manifests.gc()
    assert removed_dirs == 1
    assert not os.path.exists(orphan)
    assert _state_map(mc) == before


def test_idempotent_replay(spark, tmp_path):
    mc = apply.ParquetCollection(spark, str(tmp_path / "m"))
    b1 = _log(spark, [(1, "c", "t", "1", "a", "c", "x"),
                      (2, "c", "t", "2", "b", "c", "x")])
    b2 = _log(spark, [(3, "d", "t", "1", None, None, None)])
    mc.apply_batch(b1)
    mc.apply_batch(b2)
    after = _state_map(mc)
    mc.apply_batch(b2)  # checkpoint replay
    mc.apply_batch(b1)  # stale re-delivery cannot resurrect pk=1
    assert _state_map(mc) == after == {"2": ("b", "c")}


def test_gc_keeps_reachable_history(spark, tmp_path):
    mc = apply.ParquetCollection(spark, str(tmp_path / "m"))
    store = mc.store.manifests
    store.keep_manifests = 2
    for i in range(5):  # the fourth apply compacts
        mc.apply_batch(_log(spark, [(i + 1, "c", "t", str(i), f"v{i}", "c", "x")]))
    state_before = _state_map(mc)
    store.gc()
    versions = store._versions_on_disk()
    assert len(versions) == 2  # keep_manifests
    assert _state_map(mc) == state_before
    # every directory the surviving manifests reference still exists
    for v in versions:
        with open(store._manifest_path(v)) as fh:
            for d in json.load(fh)["buckets"].values():
                assert os.path.isdir(os.path.join(store.data_root, d))


def test_boot_commits_one_generation_per_batch(spark, sf_dir, tmp_path):
    """A default-config runner.boot commits its keyed point store through
    manifest generations: one new generation per micro-batch (no
    compaction within two), and the final live ids equal the batch
    last-write-wins answer."""
    from cdc2vec_spark import runner
    from cdc2vec_spark.streaming.source import write_chunks

    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=2, order_col="lsn")
    q, coll, _ = runner.boot(
        spark,
        None,
        changes_dir=chunks,
        changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    assert len(batches) == 2
    assert coll.store.manifests.latest()[0] == len(batches)
    assert coll.store.manifests.versions() == [1, 2]
    got = sorted(r["id"] for r in coll.live().select("id").collect())
    want = sorted(
        "public.documents:" + r["pk"]
        for r in apply.latest_state(ch).select("pk").collect()
    )
    assert got == want


def test_time_travel_reads_each_generation(spark, sf_dir, tmp_path):
    """read(as_of=v)/state(as_of=v) reproduce the state EXACTLY as it was
    after each commit (immutable commit dirs make this free); versions()
    lists the readable horizon; a GC'd or unknown version is a loud
    error, never a silent fall-back to a neighboring generation."""
    import pytest as _pytest

    ch, batches = _batches(spark, sf_dir)
    mc = apply.ParquetCollection(spark, str(tmp_path / "tt"))
    snaps = []
    for b in batches:
        mc.apply_batch(b)
        snaps.append(_state_map(mc))
    versions = mc.store.manifests.versions()
    assert len(versions) == len(batches)

    for v, want in zip(versions, snaps):
        got = {
            r["pk"]: (r["after_title"], r["after_content"])
            for r in mc.state(as_of=v).collect()
        }
        assert got == want
    assert snaps[0] != snaps[-1]  # the generations genuinely differ

    with _pytest.raises(ValueError, match="not retained"):
        mc.read(as_of=versions[-1] + 100)
    ch.unpersist()


def test_time_travel_horizon_bounded_by_gc(spark, sf_dir, tmp_path):
    """After gc() with a small keep_manifests, old generations age out of
    versions() and as_of on them raises — Delta/Iceberg-style retention."""
    import pytest as _pytest

    ch, batches = _batches(spark, sf_dir, n=4)
    mc = apply.ParquetCollection(spark, str(tmp_path / "ttgc"))
    for b in batches:
        mc.apply_batch(b)
    store = mc.store.manifests
    all_versions = store.versions()
    store.keep_manifests = 2
    store.gc()
    kept = store.versions()
    assert len(kept) == 2 and kept == all_versions[-2:]
    with _pytest.raises(ValueError, match="not retained"):
        mc.read(as_of=all_versions[0])
    # the retained generations still read fine after GC
    assert mc.state(as_of=kept[0]).count() > 0
    ch.unpersist()
