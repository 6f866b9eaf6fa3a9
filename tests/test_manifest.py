"""Manifest-generation commit protocol (object-store-safe state):
equivalence with ParquetCollection, no data renames/overwrites ever,
torn-manifest fallback, orphan-commit tolerance + GC, idempotent replay,
untouched commit directories staying byte-identical, and the keyed
point store of runner.boot committing one generation per micro-batch.
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
from cdc2vec_spark.cdc.manifest import ManifestCollection, ManifestStore
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


def test_manifest_equals_parquet_collection(spark, sf_dir, tmp_path):
    ch, batches = _batches(spark, sf_dir)
    pc = apply.ParquetCollection(spark, str(tmp_path / "swap"), n_buckets=8)
    mc = ManifestCollection(spark, str(tmp_path / "manifest"), n_buckets=8)
    for b in batches:
        pc.apply_batch(b)
        mc.apply_batch(b)
    assert _state_map(mc) == _state_map(pc) != {}
    ch.unpersist()


def test_no_rename_and_no_data_overwrite(spark, tmp_path, monkeypatch):
    """The protocol's core claim: data objects are written once to unique
    paths and never renamed or replaced — os.rename/os.replace/shutil.move
    are forbidden for the whole apply."""
    import shutil as _sh

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("rename/move used in manifest protocol")

    monkeypatch.setattr(os, "rename", boom)
    monkeypatch.setattr(os, "replace", boom)
    monkeypatch.setattr(_sh, "move", boom)
    mc = ManifestCollection(spark, str(tmp_path / "m"), n_buckets=4)
    mc.apply_batch(_log(spark, [(1, "c", "t", "1", "a", "c", "x")]))
    mc.apply_batch(_log(spark, [(2, "u", "t", "1", "b", "c", "x")]))
    assert _state_map(mc) == {"1": ("b", "c")}


def test_torn_manifest_falls_back_and_version_not_reused(spark, tmp_path):
    mc = ManifestCollection(spark, str(tmp_path / "m"), n_buckets=4)
    mc.apply_batch(_log(spark, [(1, "c", "t", "1", "a", "c", "x")]))
    good_v, good_map, _ = mc.store.latest()
    # crash mid-PUT: version 2 exists but is invalid JSON
    torn = mc.store._manifest_path(good_v + 1)
    with open(torn, "w") as fh:
        fh.write('{"version": 2, "buck')
    v, mapping, max_seen = mc.store.latest()
    assert (v, mapping) == (good_v, good_map)  # reader falls back
    assert max_seen == good_v + 1
    # the next commit allocates PAST the torn version
    mc.apply_batch(_log(spark, [(2, "u", "t", "1", "b", "c", "x")]))
    v2, _, _ = mc.store.latest()
    assert v2 == good_v + 2
    assert _state_map(mc) == {"1": ("b", "c")}


def test_orphan_commit_dir_invisible_then_gced(spark, tmp_path):
    mc = ManifestCollection(spark, str(tmp_path / "m"), n_buckets=4,
                            keep_manifests=1)
    mc.apply_batch(_log(spark, [(1, "c", "t", "1", "a", "c", "x")]))
    before = _state_map(mc)
    # crash after the data write, before the manifest PUT: orphan dir
    orphan = os.path.join(mc.store.data_root, "commit-000000099-deadbeef")
    os.makedirs(os.path.join(orphan, "bucket=0"))
    with open(os.path.join(orphan, "bucket=0", "junk.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    assert _state_map(mc) == before  # readers never see it
    removed_dirs, _ = mc.store.gc()
    assert removed_dirs == 1
    assert not os.path.exists(orphan)
    assert _state_map(mc) == before


def test_idempotent_replay(spark, tmp_path):
    mc = ManifestCollection(spark, str(tmp_path / "m"), n_buckets=4)
    b1 = _log(spark, [(1, "c", "t", "1", "a", "c", "x"),
                      (2, "c", "t", "2", "b", "c", "x")])
    b2 = _log(spark, [(3, "d", "t", "1", None, None, None)])
    mc.apply_batch(b1)
    mc.apply_batch(b2)
    after = _state_map(mc)
    mc.apply_batch(b2)  # checkpoint replay
    mc.apply_batch(b1)  # stale re-delivery cannot resurrect pk=1
    assert _state_map(mc) == after == {"2": ("b", "c")}


def test_untouched_commit_dirs_stay_byte_identical(spark, tmp_path):
    mc = ManifestCollection(spark, str(tmp_path / "m"), n_buckets=64)
    mc.apply_batch(_log(spark, [(1, "c", "t", "a", "va", "c", "x"),
                                (2, "c", "t", "b", "vb", "c", "x")]))
    _, mapping1, _ = mc.store.latest()

    def snapshot(dirs):
        out = {}
        for d in dirs:
            root = os.path.join(mc.store.data_root, d)
            for dirpath, _, files in os.walk(root):
                for f in files:
                    p = os.path.join(dirpath, f)
                    out[p] = (os.path.getmtime(p), os.path.getsize(p))
        return out

    snap1 = snapshot(set(mapping1.values()))
    # touch ONLY pk=a's bucket
    mc.apply_batch(_log(spark, [(3, "u", "t", "a", "va2", "c", "x")]))
    _, mapping2, _ = mc.store.latest()
    ba = {b for b, d in mapping2.items() if d != mapping1.get(b)}
    assert len(ba) == 1  # exactly one bucket moved to the new commit
    snap2 = snapshot(set(mapping1.values()))
    assert snap1 == snap2  # prior commit dirs untouched, byte-for-byte
    assert _state_map(mc) == {"a": ("va2", "c"), "b": ("vb", "c")}


def test_gc_keeps_reachable_history(spark, tmp_path):
    mc = ManifestCollection(spark, str(tmp_path / "m"), n_buckets=4,
                            keep_manifests=2, auto_gc_every=0)
    for i in range(5):
        mc.apply_batch(_log(spark, [(i + 1, "c", "t", str(i), f"v{i}", "c", "x")]))
    state_before = _state_map(mc)
    mc.store.gc()
    versions = mc.store._versions_on_disk()
    assert len(versions) == 2  # keep_manifests
    assert _state_map(mc) == state_before
    # every directory the surviving manifests reference still exists
    for v in versions:
        with open(mc.store._manifest_path(v)) as fh:
            for d in json.load(fh)["buckets"].values():
                assert os.path.isdir(os.path.join(mc.store.data_root, d))


def test_read_prunes_bucket_directories(spark, tmp_path):
    mc = ManifestCollection(spark, str(tmp_path / "m"), n_buckets=8)
    rows = [(i + 1, "c", "t", str(i), f"v{i}", "c", "x") for i in range(20)]
    mc.apply_batch(_log(spark, rows))
    df = mc.read()
    assert df is not None
    plan = df.where(F.col("bucket") == df.select("bucket").first()[0])
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in s


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


@pytest.mark.parametrize("n", [2])
def test_fixture_stream_matches_batch_oracle(spark, sf_dir, tmp_path, n):
    ch, batches = _batches(spark, sf_dir, n=n)
    mc = ManifestCollection(spark, str(tmp_path / "m"), n_buckets=8)
    for b in batches:
        mc.apply_batch(b)
    want = {
        r["pk"]: (r["after_title"], r["after_content"])
        for r in apply.latest_state(ch).collect()
    }
    assert _state_map(mc) == want
    ch.unpersist()


def test_time_travel_reads_each_generation(spark, sf_dir, tmp_path):
    """read(as_of=v)/state(as_of=v) reproduce the state EXACTLY as it was
    after each commit (immutable commit dirs make this free); versions()
    lists the readable horizon; a GC'd or unknown version is a loud
    error, never a silent fall-back to a neighboring generation."""
    import pytest as _pytest

    ch, batches = _batches(spark, sf_dir)
    mc = ManifestCollection(
        spark, str(tmp_path / "tt"), n_buckets=8, auto_gc_every=0
    )
    snaps = []
    for b in batches:
        mc.apply_batch(b)
        snaps.append(_state_map(mc))
    versions = mc.store.versions()
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
    mc = ManifestCollection(
        spark, str(tmp_path / "ttgc"), n_buckets=8,
        keep_manifests=2, auto_gc_every=0,
    )
    for b in batches:
        mc.apply_batch(b)
    all_versions = mc.store.versions()
    mc.store.gc()
    kept = mc.store.versions()
    assert len(kept) == 2 and kept == all_versions[-2:]
    with _pytest.raises(ValueError, match="not retained"):
        mc.read(as_of=all_versions[0])
    # the retained generations still read fine after GC
    assert mc.state(as_of=kept[0]).count() > 0
    ch.unpersist()
