"""c21 — SCD Type-2 row-validity history from the CDC change log.

Exact DuckDB oracle at two SFs via the driver's comparator; the
is_current slice must equal the A6 live state's key/author surface
(containment invariant — current versions ARE the collection); interval
semantics pinned on a hand-built walkthrough (update chains, deletes
closing without opening, delete + re-insert gaps).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oracle_check import compare_one, duckdb_conn

from cdc2vec_spark.cdc import changelog
from cdc2vec_spark.cdc.changelog import c21_scd2_history
from tests.conftest import SF0001, SF001


@pytest.mark.parametrize("sf", [SF0001, SF001])
def test_c21_matches_duckdb_oracle(spark, sf):
    con = duckdb_conn(sf)
    problems = compare_one(
        spark, con, "c21_scd2_history", c21_scd2_history,
        changelog.ORACLES["c21_scd2_history"], sf,
    )
    assert not problems, (sf, problems)


def test_current_versions_are_the_live_state(spark, sf_dir):
    """The is_current slice must be exactly the last-write-wins live
    rows (same pk set, same author per pk) — note c21 is UNFILTERED by
    the F2 empty-text guard (history keeps every upsert version), so the
    comparison uses the raw LWW closure, not A6's guarded form."""
    hist = c21_scd2_history(spark, sf_dir)
    cur = {
        (r["pk"], r["author"])
        for r in hist.where("is_current").select("pk", "author").collect()
    }
    from pyspark.sql.window import Window

    ch = changelog.changes_df(spark, sf_dir).where(
        F.col("tbl") == "public.documents"
    )
    w = Window.partitionBy("pk").orderBy(F.col("lsn").desc())
    live = {
        (r["pk"], r["after_author"])
        for r in ch.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") != "d"))
        .select("pk", "after_author")
        .collect()
    }
    assert cur == live and cur


def test_intervals_partition_each_keys_timeline(spark, sf_dir):
    """Per key: versions are ordered, non-overlapping and contiguous —
    each version's valid_to equals the key's next EVENT lsn (which is
    the next version's valid_from unless a delete sits between), and
    exactly the final non-delete version is open."""
    rows = (
        c21_scd2_history(spark, sf_dir)
        .orderBy("pk", "valid_from")
        .collect()
    )
    assert rows
    by_pk: dict = {}
    for r in rows:
        by_pk.setdefault(r["pk"], []).append(r)
    n_open = 0
    for pk, versions in by_pk.items():
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to"] is not None, (pk, "non-final open version")
            assert a["valid_to"] <= b["valid_from"], (pk, "overlap")
        last = versions[-1]
        assert last["is_current"] == (last["valid_to"] is None)
        n_open += int(last["is_current"])
    assert n_open  # non-vacuous: some keys end live


def test_walkthrough_semantics(spark, tmp_path):
    """Hand-built micro log: update chain, delete closing without
    opening, re-insert starting a fresh interval after a gap."""
    from cdc2vec_spark.cdc import changelog as m

    ch = spark.createDataFrame(
        [
            ("c", 1, "public.documents", "p1", "a1"),
            ("u", 3, "public.documents", "p1", "a2"),
            ("d", 5, "public.documents", "p1", None),
            ("c", 9, "public.documents", "p1", "a3"),
            ("c", 2, "public.documents", "p2", "b1"),
            ("c", 4, "public.ignored", "px", "zz"),
        ],
        "op string, lsn long, tbl string, pk string, after_author string",
    )
    orig = m.changes_df
    m.changes_df = lambda *_a, **_k: ch
    try:
        got = {
            tuple(r)
            for r in c21_scd2_history(spark, "unused").collect()
        }
    finally:
        m.changes_df = orig
    assert got == {
        ("p1", "a1", 1, 3, False),
        ("p1", "a2", 3, 5, False),   # closed BY the delete at lsn 5
        ("p1", "a3", 9, None, True),  # re-insert opens after the gap
        ("p2", "b1", 2, None, True),
    }


# ---------------------------------------------------------------- streaming

def _hist_rows(sh, key="pk"):
    h = sh.history()
    return sorted(
        map(tuple, h.select(
            key, "author", "valid_from", "valid_to", "is_current"
        ).collect())
    )


@pytest.mark.slow
def test_stream_equals_batch_any_split(spark, sf_dir, tmp_path):
    """Round 14: the incrementally maintained history (cdc/scd2.py —
    the scd2_history sink's engine) equals the one-window batch c21
    derivation under ANY batch split of the change log, including the
    degenerate 1-batch replay."""
    from cdc2vec_spark.cdc.scd2 import Scd2History

    ch = (
        changelog.changes_df(spark, sf_dir)
        .where(F.col("tbl") == "public.documents")
        .select("pk", "lsn", "op", F.col("after_author").alias("author"))
        .persist()
    )
    want = sorted(map(tuple, c21_scd2_history(spark, sf_dir).collect()))
    lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
    for n_batches in (1, 4):
        sh = Scd2History(
            spark, str(tmp_path / f"h{n_batches}"), key_col="pk",
            payload_cols=("author",),
        )
        step = (hi - lo) // n_batches + 1
        for i in range(n_batches):
            sh.apply_batch(ch.where(
                (F.col("lsn") >= lo + i * step)
                & (F.col("lsn") < lo + (i + 1) * step)
            ))
        assert _hist_rows(sh) == want, n_batches
    ch.unpersist()


def test_replay_idempotent_and_current_is_lww(spark, sf_dir, tmp_path):
    from cdc2vec_spark.cdc.scd2 import Scd2History
    from pyspark.sql.window import Window

    ch = (
        changelog.changes_df(spark, sf_dir)
        .where(F.col("tbl") == "public.documents")
        .select("pk", "lsn", "op", F.col("after_author").alias("author"))
        .persist()
    )
    lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
    mid = (lo + hi) // 2
    sh = Scd2History(
        spark, str(tmp_path / "h"), key_col="pk",
        payload_cols=("author",),
    )
    b1, b2 = ch.where(F.col("lsn") <= mid), ch.where(F.col("lsn") > mid)
    sh.apply_batch(b1)
    sh.apply_batch(b2)
    before = _hist_rows(sh)
    sh.apply_batch(b2)  # replay: byte-identical state
    sh.apply_batch(b1)  # even out of order — the window re-derives
    assert _hist_rows(sh) == before

    # the open versions ARE the raw LWW live state
    w = Window.partitionBy("pk").orderBy(F.col("lsn").desc())
    lww = (
        ch.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("op") != "d"))
        .select("pk", "author", F.col("lsn").alias("valid_from"))
    )
    cur = sh.current().select("pk", "author", "valid_from")
    assert sorted(map(tuple, cur.collect())) == sorted(
        map(tuple, lww.collect())
    )
    ch.unpersist()


def test_as_of_walkthrough(spark, tmp_path):
    """Point-in-time reads across insert→update→delete→re-insert."""
    from cdc2vec_spark.cdc.scd2 import Scd2History

    sh = Scd2History(
        spark, str(tmp_path / "h"), key_col="pk",
        payload_cols=("author",),
    )
    b1 = spark.createDataFrame(
        [("k1", 1, "c", "ann"), ("k1", 5, "u", "bob"), ("k2", 3, "c", "cyd")],
        "pk string, lsn long, op string, author string",
    )
    b2 = spark.createDataFrame(
        [("k1", 9, "d", None), ("k1", 12, "c", "dee")],
        "pk string, lsn long, op string, author string",
    )
    sh.apply_batch(b1)
    sh.apply_batch(b2)

    def snap(lsn):
        return sorted(
            (r["pk"], r["author"]) for r in sh.as_of(lsn).collect()
        )

    assert snap(0) == []
    assert snap(1) == [("k1", "ann")]
    assert snap(6) == [("k1", "bob"), ("k2", "cyd")]
    assert snap(10) == [("k2", "cyd")]          # k1 deleted at 9
    assert snap(12) == [("k1", "dee"), ("k2", "cyd")]
    # and the full history shape
    assert _hist_rows(sh) == [
        ("k1", "ann", 1, 5, False),
        ("k1", "bob", 5, 9, False),
        ("k1", "dee", 12, None, True),
        ("k2", "cyd", 3, None, True),
    ]


@pytest.mark.slow
def test_boot_scd2_sink_e2e(spark, sf_dir, tmp_path):
    """sink.type=scd2_history in the config: boot() maintains the
    validity-interval history live from the stream; the open versions
    must equal the engine's own keyed live collection (ids + authors),
    and every closed interval must be well-formed."""
    from cdc2vec_spark import runner
    from cdc2vec_spark.cdc import transform
    from cdc2vec_spark.cdc.scd2 import Scd2History
    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )
    from cdc2vec_spark.streaming import source

    spath = str(tmp_path / "scd2")
    cfg = PipelineConfig(
        engine=DEFAULT_CONFIG, source=SourceConfig(),
        sink=SinkConfig(
            type="scd2_history",
            options={"path": spath, "attrs": "after_author"},
        ),
    )
    ch = transform.filter_mapped(
        changelog.changes_df(spark, sf_dir), changelog.MAPPED
    )
    chunks = str(tmp_path / "chunks")
    source.write_chunks(ch, chunks, n_chunks=4, order_col="lsn")
    query, coll, _ = runner.boot(
        spark, config=cfg, changes_dir=chunks, changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    sh = Scd2History(
        spark, spath, key_col="id", payload_cols=("after_author",),
    )
    cur = {
        (r["id"], r["after_author"]) for r in sh.current().collect()
    }
    live = {
        (r["id"], r["metadata"]["after_author"])
        for r in coll.live().select("id", "metadata").collect()
    }
    assert cur == live and cur
    # interval sanity over the whole maintained history
    h = sh.history()
    assert h.where(
        F.col("valid_to").isNotNull()
        & (F.col("valid_to") <= F.col("valid_from"))
    ).count() == 0


@pytest.mark.parametrize("seed", [0, 1])
@pytest.mark.slow
def test_scd2_random_walk_matches_python_reference(spark, tmp_path, seed):
    """Seeded fuzz: random per-key event walks applied in random batch
    splits — the maintained history must equal a pure-Python SCD2
    reference (each upsert opens a version until the key's next event;
    deletes close without opening) after every batch."""
    import random

    from cdc2vec_spark.cdc.scd2 import Scd2History

    rng = random.Random(seed)
    keys = [f"k{i}" for i in range(5)]
    events = []
    for lsn in range(1, 41):
        op = "d" if rng.random() < 0.3 else rng.choice(["c", "u"])
        events.append((rng.choice(keys), lsn, op, f"a{rng.randint(0, 2)}"))

    sh = Scd2History(
        spark, str(tmp_path / "h"), key_col="pk",
        payload_cols=("author",),
    )
    applied = []
    cuts = sorted(rng.sample(range(2, 40), 3)) + [41]
    lo = 1
    for hi in cuts:
        batch = [e for e in events if lo <= e[1] < hi]
        lo = hi
        if not batch:
            continue
        applied += batch
        sh.apply_batch(spark.createDataFrame(
            batch, "pk string, lsn long, op string, author string"
        ))
        # python reference over everything applied so far
        by_key: dict = {}
        for pk, lsn, op, author in sorted(applied, key=lambda e: e[1]):
            by_key.setdefault(pk, []).append((lsn, op, author))
        want = []
        for pk, evts in by_key.items():
            for i, (lsn, op, author) in enumerate(evts):
                if op == "d":
                    continue
                nxt = evts[i + 1][0] if i + 1 < len(evts) else None
                want.append((pk, author, lsn, nxt, nxt is None))
        assert _hist_rows(sh) == sorted(want), (seed, hi)


def test_chunked_config_rejected(spark, tmp_path):
    """Chunked points version per CHUNK id, but a shrinking update emits
    no closure event for its dropped tail chunks — their versions would
    stay open forever. The sink factory must reject the combination
    loudly (same contract as the neardup sink)."""
    import dataclasses

    import pytest as _pytest

    from cdc2vec_spark import runner
    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )

    chunked_engine = dataclasses.replace(DEFAULT_CONFIG, chunk_tokens=128)
    for stype in ("scd2_history", "neardup"):
        cfg = PipelineConfig(
            engine=chunked_engine, source=SourceConfig(),
            sink=SinkConfig(type=stype, options={"path": str(tmp_path / stype)}),
        )
        with _pytest.raises(ValueError, match="chunked"):
            runner.sink_hook_for(cfg)


@pytest.mark.slow
def test_prune_retention_contract(spark, sf_dir, tmp_path):
    """prune(H): closed-before-H versions and spent delete markers go;
    as_of(t) stays exact for t >= H; and maintenance AFTER a prune
    recomputes the surviving intervals correctly (the contiguous-suffix
    argument in the docstring, exercised for real)."""
    from cdc2vec_spark.cdc.scd2 import Scd2History

    ch = (
        changelog.changes_df(spark, sf_dir)
        .where(F.col("tbl") == "public.documents")
        .select("pk", "lsn", "op", F.col("after_author").alias("author"))
        .persist()
    )
    lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
    mid = (lo + hi) // 2

    # full history, no prune — the reference
    full = Scd2History(spark, str(tmp_path / "full"), key_col="pk",
                       payload_cols=("author",))
    full.apply_batch(ch)

    # pruned run: first half, prune at mid, then second half
    pr = Scd2History(spark, str(tmp_path / "pr"), key_col="pk",
                     payload_cols=("author",))
    pr.apply_batch(ch.where(F.col("lsn") <= mid))
    before = pr.read().count()
    pr.prune(mid)
    after = pr.read().count()
    assert after < before  # the fixture has closed history below mid
    pr.prune(mid)  # idempotent
    assert pr.read().count() == after
    pr.apply_batch(ch.where(F.col("lsn") > mid))

    def hist(sh):
        return sorted(map(tuple, sh.history().collect()))

    # every surviving version row must match the full history exactly
    full_rows = set(hist(full))
    for row in hist(pr):
        assert row in full_rows, row
    # as_of at/after the horizon is exact
    for t in (mid, (mid + hi) // 2, hi):
        assert sorted(map(tuple, pr.as_of(t).collect())) == sorted(
            map(tuple, full.as_of(t).collect())
        ), t
    # current state identical
    assert sorted(map(tuple, pr.current().collect())) == sorted(
        map(tuple, full.current().collect())
    )
    ch.unpersist()


# ------------------------------------------------ the segment-log history

_EV_DDL = "pk string, lsn long, op string, author string"
_SCD2_BATCHES = [
    [("k1", 1, "c", "ann"), ("k2", 2, "c", "bob")],
    [("k1", 5, "u", "amy"), ("k3", 6, "c", "cyd")],
    [("k2", 9, "d", None), ("k3", 10, "u", "cat")],
    [("k2", 12, "c", "bea")],
    [("k1", 14, "d", None), ("k4", 15, "c", "dee")],
]


def _sh(spark, path):
    from cdc2vec_spark.cdc.scd2 import Scd2History

    return Scd2History(spark, path, key_col="pk", payload_cols=("author",))


def test_apply_appends_one_segment_and_modifies_no_file(spark, tmp_path):
    """An apply writes the batch's events as one new segment and leaves
    every file the history held as it was."""
    from tests.test_ann_index import _files, _new_segments

    root = str(tmp_path / "h")
    sh = _sh(spark, root)
    sh.apply_batch(spark.createDataFrame(_SCD2_BATCHES[0], _EV_DDL))
    before = _files(root)
    sh.apply_batch(spark.createDataFrame(_SCD2_BATCHES[1], _EV_DDL))
    assert len(_new_segments(before, _files(root))) == 1


def test_bucket_layout_history_upgrades_in_place(spark, tmp_path):
    """A history in the earlier layout — root bucket=<i>/ dirs of event
    rows carrying their stored valid_to, one bucket stranded under
    <path>.old/ by a crash — opens as one adopted segment and answers
    as the same history in segments does, after each later apply and
    after its first compaction."""
    import os

    from cdc2vec_spark.cdc.apply import bucket_expr

    ref = _sh(spark, str(tmp_path / "ref"))
    for b in _SCD2_BATCHES[:2]:
        ref.apply_batch(spark.createDataFrame(b, _EV_DDL))
    old = str(tmp_path / "old")
    ref.read().withColumn("bucket", bucket_expr(("pk",), 4)).write.partitionBy(
        "bucket"
    ).parquet(old)
    stranded = sorted(n for n in os.listdir(old) if n.startswith("bucket="))[0]
    os.makedirs(old + ".old")
    os.rename(os.path.join(old, stranded), os.path.join(old + ".old", stranded))

    sh = _sh(spark, old)
    assert _hist_rows(sh) == _hist_rows(ref)
    assert [s.seq for s in sh.store.segments()] == [-1]
    for b in _SCD2_BATCHES[2:]:  # the third apply compacts level 0
        for h in (ref, sh):
            h.apply_batch(spark.createDataFrame(b, _EV_DDL))
        assert _hist_rows(sh) == _hist_rows(ref)
    assert [s.level for s in sh.store.segments()] == [1]


def test_crash_before_publish_leaves_history_unchanged(spark, tmp_path, monkeypatch):
    """A crash between a batch's segment write and its manifest publish
    leaves the history as it was."""
    from cdc2vec_spark.cdc.segments import SegmentStore

    root = str(tmp_path / "h")
    sh = _sh(spark, root)
    sh.apply_batch(spark.createDataFrame(_SCD2_BATCHES[0], _EV_DDL))
    want = _hist_rows(sh)

    def crash(*a, **k):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(SegmentStore, "_publish", crash)
    with pytest.raises(RuntimeError, match="crash before publish"):
        sh.apply_batch(spark.createDataFrame(_SCD2_BATCHES[1], _EV_DDL))
    monkeypatch.undo()
    assert _hist_rows(_sh(spark, root)) == want
