"""CDC apply semantics: last-write-wins, skip-empty, delete routing,
batch merge idempotence, and incremental == batch (SURVEY §2.2 A6/C6)."""

import pytest

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


def test_last_write_wins(spark):
    log = _log(
        spark,
        [
            (1, "c", "t", "1", "v1", "c", "a"),
            (2, "u", "t", "1", "v2", "c", "a"),
            (3, "c", "t", "2", "x", "y", "b"),
        ],
    )
    out = {r["pk"]: r["after_title"] for r in apply.latest_state(log).collect()}
    assert out == {"1": "v2", "2": "x"}


def test_delete_wins(spark):
    log = _log(spark, [(1, "c", "t", "1", "v", "c", "a"), (2, "d", "t", "1", None, None, None)])
    assert apply.latest_state(log).count() == 0


def test_delete_then_reinsert(spark):
    log = _log(
        spark,
        [
            (1, "c", "t", "1", "old", "c", "a"),
            (2, "d", "t", "1", None, None, None),
            (3, "c", "t", "1", "new", "c", "a"),
        ],
    )
    rows = apply.latest_state(log).collect()
    assert len(rows) == 1 and rows[0]["after_title"] == "new"


def test_empty_text_update_skipped_keeps_prior(spark):
    # pipeline.go:204-208: an empty-text upsert never reaches the sink,
    # so the previous state survives — the subtle reference semantic.
    log = _log(
        spark,
        [(1, "c", "t", "1", "keep", "c", "a"), (2, "u", "t", "1", "", None, "a")],
    )
    rows = apply.latest_state(log).collect()
    assert len(rows) == 1 and rows[0]["after_title"] == "keep"


def test_merge_batch_idempotent_replay(spark):
    b1 = _log(spark, [(1, "c", "t", "1", "v1", "c", "a")])
    b2 = _log(spark, [(2, "u", "t", "1", "v2", "c", "a")])
    s1 = apply.merge_batch(None, b1)
    s2 = apply.merge_batch(s1, b2)
    s2_replay = apply.merge_batch(s2, b2)  # replay after restart
    assert [(r["pk"], r["after_title"]) for r in s2_replay.collect()] == [("1", "v2")]
    # stale batch replay cannot regress state (max-LSN guard)
    s2_stale = apply.merge_batch(s2, b1)
    assert [(r["pk"], r["after_title"]) for r in s2_stale.collect()] == [("1", "v2")]


@pytest.mark.slow
def test_incremental_equals_batch_on_fixture(spark, sf_dir, tmp_path):
    """Split the derived changelog into 3 LSN-ordered batches, apply via
    ParquetCollection, compare with the one-shot latest_state answer."""
    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED).cache()
    lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
    step = (hi - lo) // 3 + 1
    coll = apply.ParquetCollection(spark, str(tmp_path / "state"))
    for i in range(3):
        batch = ch.where(
            (F.col("lsn") >= lo + i * step) & (F.col("lsn") < lo + (i + 1) * step)
        )
        coll.apply_batch(batch)
    got = sorted(
        (r["pk"], r["after_title"], r["after_content"]) for r in coll.state().collect()
    )
    want = sorted(
        (r["pk"], r["after_title"], r["after_content"])
        for r in apply.latest_state(ch).collect()
    )
    assert got == want and len(got) > 0


def test_swap_write_crash_recovery(spark, tmp_path):
    """A crash between swap_write's two renames leaves only <path>.old;
    the next swap_write still lands its report and clears the stranded
    copy."""
    import os

    path = str(tmp_path / "report")
    apply.swap_write(spark.createDataFrame([(1, "a")], "id long, v string"), path)
    # simulate the crash window: report renamed away, new one never promoted
    os.rename(path, path + ".old")
    apply.swap_write(spark.createDataFrame([(2, "b")], "id long, v string"), path)
    got = [(r["id"], r["v"]) for r in spark.read.parquet(path).collect()]
    assert got == [(2, "b")]
    assert not os.path.exists(path + ".old") and not os.path.exists(path + ".tmp")


def test_apply_batch_never_reads_stored_state(spark, tmp_path, monkeypatch):
    """The O(batch) claim, checked directly: against a 1000-key state,
    the applies that stay below FAN_IN segments run with every Spark
    read forbidden, so they never read the stored state; the apply that
    reaches FAN_IN compacts, which is the one that reads."""
    from pyspark.sql import SparkSession

    from cdc2vec_spark.cdc.segments import FAN_IN

    coll = apply.ParquetCollection(spark, str(tmp_path / "state"))
    coll.apply_batch(
        spark.range(1000).select(
            F.col("id").alias("lsn"),
            F.lit("c").alias("op"),
            F.lit("t").alias("tbl"),
            F.col("id").cast("string").alias("pk"),
            F.lit("title").alias("after_title"),
            F.lit("content").alias("after_content"),
            F.lit("a").alias("after_author"),
        )
    )
    batches = [
        _log(spark, [(5000 + i, "u", "t", str(i), f"new{i}", "c", "a")])
        for i in range(FAN_IN - 1)
    ]
    batches[-1] = _log(spark, [(5002, "d", "t", "7", None, None, None)])

    def no_read(self):
        raise AssertionError("apply_batch read the stored state")

    monkeypatch.setattr(SparkSession, "read", property(no_read))
    for b in batches[:-1]:
        coll.apply_batch(b)
    assert len(coll.store.segments()) == FAN_IN - 1
    with pytest.raises(AssertionError, match="read the stored state"):
        coll.apply_batch(batches[-1])  # the FAN_IN-th segment compacts
    monkeypatch.undo()

    # the batch's segment was published before its compaction failed
    assert len(coll.store.segments()) == FAN_IN
    got = {r["pk"]: r["after_title"] for r in coll.state().collect()}
    assert got["0"] == "new0" and got["1"] == "new1" and got["3"] == "title"
    assert "7" not in got and len(got) == 999


def test_bucketed_crash_recovery(spark, tmp_path):
    """A crash between the per-bucket renames of the earlier bucket
    layout leaves a bucket only under <path>.old/; recover_buckets must
    promote it."""
    import os

    path = str(tmp_path / "state")
    df = _log(
        spark, [(1, "c", "t", "1", "v", "c", "a"), (2, "c", "t", "2", "w", "c", "a")]
    ).withColumn(apply.BUCKET_COL, apply.bucket_expr(("tbl", "pk"), 4))
    df.write.partitionBy(apply.BUCKET_COL).parquet(path)
    buckets = [n for n in os.listdir(path) if n.startswith("bucket=")]
    victim = buckets[0]
    os.makedirs(path + ".old", exist_ok=True)
    os.rename(os.path.join(path, victim), os.path.join(path + ".old", victim))
    apply.recover_buckets(path)
    got = {r["pk"] for r in spark.read.parquet(path).collect()}
    assert got == {"1", "2"}
    assert os.path.exists(os.path.join(path, victim))
    assert not os.path.exists(path + ".old")


def test_replay_batched_equals_sequential(spark, tmp_path, sf_dir):
    """Applying a known change log as ONE apply_batch call must land a
    state byte-identical to a 4-LSN-quartile sequential replay — the
    max-LSN LWW merge (tombstones retained, empty-text guard) makes the
    final state invariant under ANY batch partitioning of the same log.
    This is the invariant c6_cdc_apply's one-call replay rests on."""
    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED).persist()
    try:
        lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
        step = (hi - lo) // 4 + 1
        seq = apply.ParquetCollection(spark, str(tmp_path / "seq"))
        for i in range(4):
            seq.apply_batch(
                ch.where(
                    (F.col("lsn") >= lo + i * step)
                    & (F.col("lsn") < lo + (i + 1) * step)
                )
            )
        one = apply.ParquetCollection(spark, str(tmp_path / "one"))
        one.apply_batch(ch)
        cols = ["op", "lsn", "pk", "after_title", "after_content", "after_author"]
        a = sorted(map(tuple, seq.read().select(*cols).collect()))
        b = sorted(map(tuple, one.read().select(*cols).collect()))
        assert a == b and len(a) > 0
    finally:
        ch.unpersist()
