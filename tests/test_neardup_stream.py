"""Streaming near-dup (dedup at ingestion): any batch split of the
corpus must emit exactly the batch operator's pairs; replay idempotence;
state growth bounded to touched buckets; tombstone order through
compaction; no renames; the earlier layout opens in place."""

import os
import shutil

from pyspark.sql import functions as F

from cdc2vec_spark.operators.dedup import minhash_neardup, neardup_corpus
from cdc2vec_spark.streaming.neardup import StreamingNearDup

import pytest

# long e2e suite: deselected under the default driver-budget run
# (pytest.ini); the full suite is opt-in via -m ""
pytestmark = pytest.mark.slow


def _pairs(df):
    return {(r["id_a"], r["id_b"], r["jac"]) for r in df.collect()}


def _live(store):
    """A store's live rows, read through the store."""
    return store.read().where(F.col("op") != "d")


def _state_rows(snd, id_col="doc_id"):
    """The live index rows and shingle sets of a StreamingNearDup."""
    idx = _live(snd.index_store).select(id_col, "band", "bv")
    docs = _live(snd.docs_store).select(id_col, "sh")
    return (
        sorted(map(tuple, idx.collect())),
        sorted((r[id_col], tuple(r["sh"])) for r in docs.collect()),
    )


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_stream_equals_batch_any_split(spark, sf_dir, tmp_path):
    corpus = neardup_corpus(spark, sf_dir).persist()
    want = _pairs(minhash_neardup(corpus, threshold=0.5))
    assert want  # fixture has near-dups

    snd = StreamingNearDup(spark, str(tmp_path / "nd"), threshold=0.5)
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    b1 = corpus.where(F.col("doc_id") <= cuts[0])
    b2 = corpus.where((F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1]))
    b3 = corpus.where(F.col("doc_id") > cuts[1])
    got = set()
    for b in (b1, b2, b3):
        got |= _pairs(snd.apply_batch(b))
    assert got == want
    corpus.unpersist()


def test_replay_idempotent(spark, sf_dir, tmp_path):
    corpus = neardup_corpus(spark, sf_dir).limit(120).persist()
    snd = StreamingNearDup(spark, str(tmp_path / "nd"), threshold=0.5)
    first = _pairs(snd.apply_batch(corpus))
    snap = _state_rows(snd)
    again = _pairs(snd.apply_batch(corpus))  # foreachBatch redelivery
    assert again == first
    # live state unchanged row-for-row (the replay re-appends live rows)
    assert _state_rows(snd) == snap
    corpus.unpersist()


def test_new_doc_matches_history(spark, tmp_path):
    snd = StreamingNearDup(
        spark, str(tmp_path / "nd"), threshold=0.5, shingle_n=2
    )
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    base = "spark streams merge batches into keyed state stores nightly"
    out1 = snd.apply_batch(mk([(1, base), (2, "completely different words here")]))
    assert _pairs(out1) == set()  # nothing similar yet
    # a near-copy arriving LATER must match doc 1 from history
    out2 = snd.apply_batch(
        mk([(3, base + " always"), (4, "unrelated content again")])
    )
    got = {(a, b) for a, b, _ in _pairs(out2)}
    assert (1, 3) in got
    assert all(4 not in p for p in got)


def test_batch_reads_prune_index_buckets(spark, tmp_path):
    snd = StreamingNearDup(spark, str(tmp_path / "nd"), n_buckets=32)
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    snd.apply_batch(
        mk([(i, f"doc number {i} talks about topic {i} in depth daily") for i in range(40)])
    )
    buckets = snd.index_store.read().select("bucket").distinct().count()
    assert 1 < buckets <= 32  # state actually spreads over buckets


def test_graph_reports_from_state_equal_from_scratch(spark, sf_dir, tmp_path):
    """After replaying the corpus in batches, every
    graph-family report computed FROM the maintained pair state equals
    the same report computed from scratch off the batch operator's pair
    set — and the pair state itself is replay-idempotent."""
    from cdc2vec_spark.operators.datacard import source_overlap_matrix
    from cdc2vec_spark.operators.dedup import (
        cluster_size_histogram,
        cluster_split,
        keep_canonical,
    )
    from cdc2vec_spark.operators.graph import pagerank

    corpus = neardup_corpus(spark, sf_dir).persist()
    snd = StreamingNearDup(spark, str(tmp_path / "nd"), threshold=0.5)
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    cuts = [ids[len(ids) // 3], ids[2 * len(ids) // 3]]
    batches = [
        corpus.where(F.col("doc_id") <= cuts[0]),
        corpus.where((F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])),
        corpus.where(F.col("doc_id") > cuts[1]),
    ]
    for b in batches:
        snd.apply_batch(b)

    # the maintained pair state is the batch operator's pair set
    batch_pairs = minhash_neardup(corpus, threshold=0.5)
    assert _pairs(snd.accumulated_pairs()) == _pairs(batch_pairs)

    got = snd.graph_reports(corpus)
    want = {
        "survivors": keep_canonical(corpus, batch_pairs)
        .select("doc_id").orderBy("doc_id"),
        "cluster_histogram": cluster_size_histogram(corpus, batch_pairs),
        "split": cluster_split(corpus, batch_pairs),
        "pagerank": pagerank(batch_pairs).withColumnRenamed("id", "doc_id"),
        "source_overlap": source_overlap_matrix(corpus, batch_pairs),
    }
    for name in want:
        g = sorted(tuple(r) for r in got[name].collect())
        w = sorted(tuple(r) for r in want[name].collect())
        assert g == w, f"{name}: from-state != from-scratch"
        assert g, f"{name}: vacuous report"

    # replaying a batch leaves the pair state unchanged row-for-row
    snap = _pairs(snd.accumulated_pairs())
    snd.apply_batch(batches[1])
    assert _pairs(snd.accumulated_pairs()) == snap
    corpus.unpersist()


def test_delete_retires_state_equals_never_ingested(spark, sf_dir, tmp_path):
    """After delete_batch, all three state stores are row-for-row
    identical to a stream that NEVER
    ingested the deleted docs — so every graph report from state equals
    the batch family on the surviving corpus by construction. Also:
    deleting an unknown id is a no-op, replaying the delete is
    idempotent, and a deleted doc re-ingests like a brand-new one."""
    corpus = neardup_corpus(spark, sf_dir).persist()
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    b1 = corpus.where(F.col("doc_id") <= cut)
    b2 = corpus.where(F.col("doc_id") > cut)

    snd = StreamingNearDup(spark, str(tmp_path / "nd"), threshold=0.5)
    for b in (b1, b2):
        snd.apply_batch(b)
    # delete a set that includes docs with verified pairs
    paired = {r["id_a"] for r in snd.accumulated_pairs().limit(5).collect()}
    assert paired, "fixture has near-dups"
    victims = sorted(paired)[:3] + [ids[0], 10**12]  # + unpaired + unknown
    vdf = spark.createDataFrame([(v,) for v in victims], "doc_id long")
    snd.delete_batch(vdf)

    survivors = corpus.where(~F.col("doc_id").isin(victims))
    ref = StreamingNearDup(spark, str(tmp_path / "nd_ref"), threshold=0.5)
    ref.apply_batch(survivors)

    assert _state_rows(snd) == _state_rows(ref)
    assert _pairs(snd.accumulated_pairs()) == _pairs(ref.accumulated_pairs())
    # report parity on the surviving corpus follows, but pin one anyway
    got = snd.graph_reports(survivors)["survivors"].collect()
    want = ref.graph_reports(survivors)["survivors"].collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # idempotent replay of the delete
    snd.delete_batch(vdf)
    assert _state_rows(snd) == _state_rows(ref)

    # a deleted doc re-ingests like a new one: its pairs re-verify
    back = corpus.where(F.col("doc_id") == victims[0])
    re_pairs = _pairs(snd.apply_batch(back))
    assert any(victims[0] in (a, b) for a, b, _ in re_pairs)
    corpus.unpersist()


def test_boot_neardup_sink_report_cadence(spark, sf_dir, tmp_path):
    """sink.type=neardup in the config:
    boot() maintains the streaming LSH state from the live stream and
    options.report_every materializes the five graph-family reports
    (survivors / cluster_histogram / split / pagerank / source_overlap)
    from the MAINTAINED state to path/reports/<name> — each re-readable
    and bit-equal to a fresh graph_reports() over the same state, with
    the source dimension carried from the configured metadata key."""
    from cdc2vec_spark import runner
    from cdc2vec_spark.cdc import transform
    from cdc2vec_spark.cdc.changelog import MAPPED, changes_df
    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )
    from cdc2vec_spark.streaming import source

    npath = str(tmp_path / "nd")
    cfg = PipelineConfig(
        engine=DEFAULT_CONFIG, source=SourceConfig(),
        sink=SinkConfig(
            type="neardup",
            options={"path": npath, "report_every": 2,
                     "source_key": "after_author", "n_buckets": 8},
        ),
    )
    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED)
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

    # 4 batches / report_every=2 -> written at batch 4, reflecting the
    # full ingested state; every report re-reads and matches a fresh
    # graph_reports() over the same maintained state
    from cdc2vec_spark.streaming.neardup import StreamingNearDup

    nd = StreamingNearDup(
        spark, npath, id_col="id", text_col="text",
        carry_cols=("source",), n_buckets=8,
    )
    want = nd.graph_reports(id_col="id")
    for name in (
        "survivors", "cluster_histogram", "split", "pagerank",
        "source_overlap",
    ):
        got = spark.read.parquet(f"{npath}/reports/{name}")
        w = want[name]
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, w.collect())
        ), name
    # the doc universe flowed: survivors is non-empty and ids are the
    # point ids; the contamination matrix's sources are real authors
    surv = spark.read.parquet(f"{npath}/reports/survivors")
    assert surv.count() > 0
    assert surv.first()["id"].startswith("public.documents:")
    srcs = {
        r["source_a"]
        for r in spark.read.parquet(f"{npath}/reports/source_overlap").collect()
    }
    assert srcs and "unknown" not in srcs
    # deletes flowed: the fixture stream
    # carries delete events, and every key whose FINAL event is a
    # delete must be absent from the docs state, the survivors report
    # and the maintained pair set — the live graph tracks the SURVIVING
    # collection
    from pyspark.sql.window import Window

    w = Window.partitionBy("pk").orderBy(F.col("lsn").desc())
    dead = {
        "public.documents:" + r["pk"]
        for r in ch.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") == "d"))
        .select("pk").collect()
    }
    assert dead, "fixture stream should end some keys deleted"
    docs_ids = {r["id"] for r in _live(nd.docs_store).select("id").collect()}
    assert not (dead & docs_ids)
    assert not (dead & {r["id"] for r in surv.collect()})
    pair_ids = {
        x
        for r in nd.accumulated_pairs().collect()
        for x in (r["id_a"], r["id_b"])
    }
    assert not (dead & pair_ids)


def test_hook_orders_by_final_event_within_batch(spark, tmp_path):
    """The neardup sink hook must reduce each
    micro-batch to per-id max-LSN OUTCOMES before routing (final_events,
    pipeline.go:154-165). A key deleted then RE-INSERTED within one batch
    (delete lsn < insert lsn) ends live and must be ingested — applying
    all upserts then all deletes would permanently erase it. Conversely a
    key whose final event is a delete must never enter the state, and of
    two upserts for one id only the max-LSN text may win."""
    from cdc2vec_spark import runner
    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )

    npath = str(tmp_path / "nd")
    cfg = PipelineConfig(
        engine=DEFAULT_CONFIG, source=SourceConfig(),
        sink=SinkConfig(type="neardup",
                        options={"path": npath, "n_buckets": 4}),
    )
    hook = runner.sink_hook_for(cfg)
    t_old = "the quick brown fox jumps over the lazy dog again and again"
    t_new = "a completely different final text that wins the lsn race ok"
    pts = spark.createDataFrame(
        [
            # X: delete (lsn 1) then re-insert (lsn 2) -> must survive
            ("X", None, "d", 1),
            ("X", t_old, "c", 2),
            # Y: insert (lsn 1) then delete (lsn 2) -> must be absent
            ("Y", t_old, "c", 1),
            ("Y", None, "d", 2),
            # Z: two upserts -> only the max-LSN text is ingested
            ("Z", t_old, "c", 1),
            ("Z", t_new, "u", 2),
        ],
        "id string, text string, op string, lsn long",
    )
    hook(pts)
    nd = StreamingNearDup(spark, npath, id_col="id", text_col="text", n_buckets=4)
    by_id = {r["id"]: r["sh"] for r in _live(nd.docs_store).collect()}
    assert set(by_id) == {"X", "Z"}

    # Z carries exactly the winning text's shingles: equal to a clean
    # single-event ingest of (Z, t_new) into a fresh state
    ref = StreamingNearDup(
        spark, str(tmp_path / "ref"), id_col="id", text_col="text",
        n_buckets=4,
    )
    ref.apply_batch(spark.createDataFrame([("Z", t_new)], "id string, text string"))
    want_sh = {r["id"]: r["sh"] for r in _live(ref.docs_store).collect()}["Z"]
    assert sorted(by_id["Z"]) == sorted(want_sh)


def test_update_replaces_the_stored_version(spark, tmp_path):
    """An upsert of an already-ingested id is an update: its old text's
    pairs and band rows go, its new text is what later docs match, and
    a replay of the update leaves the state unchanged."""
    snd = StreamingNearDup(spark, str(tmp_path / "nd"), threshold=0.5)
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    old = "spark streams merge batches into keyed state stores every night at nine"
    new = "a tiny cat sleeps on the warm windowsill while rain taps the old glass"
    snd.apply_batch(mk([(1, old), (2, old + " sharp")]))
    assert {(a, b) for a, b, _ in _pairs(snd.accumulated_pairs())} == {(1, 2)}

    update = mk([(1, new)])
    snd.apply_batch(update)
    assert _pairs(snd.accumulated_pairs()) == set()
    idx = _live(snd.index_store)
    assert idx.where(F.col("doc_id") == 1).count() == snd.bands

    snap = _state_rows(snd)
    snd.apply_batch(update)  # foreachBatch redelivery
    assert _state_rows(snd) == snap

    got = _pairs(snd.apply_batch(mk([(3, new + " outside")])))
    assert {(a, b) for a, b, _ in got} == {(1, 3)}
    assert {(a, b) for a, b, _ in _pairs(snd.accumulated_pairs())} == {(1, 3)}


_BASE = "spark streams merge batches into keyed state stores every night at nine"


def _compacted(snd):
    """Whether each of the three stores has compacted its level 0."""
    stores = (snd.index_store, snd.docs_store, snd.pairs_store)
    return all(any(seg.level for seg in st.segments()) for st in stores)


def _filler(spark, i):
    """A batch of two near-dups of each other, unrelated to _BASE."""
    text = f"filler {i} words about topic {i * 7} written for case {i * 13}"
    return _mk(spark, [(100 + 2 * i, text), (101 + 2 * i, text + " again")])


def test_delete_then_reingest_stays_live_through_compaction(spark, tmp_path):
    """An id deleted in one batch and re-ingested in the next is live,
    with its pairs, after level 0 of every store compacts: the re-ingest
    is appended at a later version than the tombstones."""
    snd = StreamingNearDup(spark, str(tmp_path / "nd"), threshold=0.5, n_buckets=8)
    ref = StreamingNearDup(spark, str(tmp_path / "ref"), threshold=0.5, n_buckets=8)
    first = _mk(spark, [(1, _BASE), (2, _BASE + " sharp")])
    snd.apply_batch(first)
    snd.delete_batch(spark.createDataFrame([(1,)], "doc_id long"))
    assert {(a, b) for a, b, _ in _pairs(snd.accumulated_pairs())} == set()
    snd.apply_batch(_mk(spark, [(1, _BASE)]))
    ref.apply_batch(first)
    i = 0
    while not _compacted(snd):
        assert i < 8, "level 0 never compacted"
        snd.apply_batch(_filler(spark, i))
        ref.apply_batch(_filler(spark, i))
        i += 1
    assert (1, 2) in {(a, b) for a, b, _ in _pairs(snd.accumulated_pairs())}
    assert _live(snd.docs_store).where(F.col("doc_id") == 1).count() == 1
    assert _state_rows(snd) == _state_rows(ref)
    assert _pairs(snd.accumulated_pairs()) == _pairs(ref.accumulated_pairs())


def test_update_keeps_its_shared_band_rows_live(spark, tmp_path):
    """An update whose new shingles share band keys with the old version
    retires the old rows and appends the new ones after them, so each
    shared (band, bv, id) row stays live, also through a compaction."""
    snd = StreamingNearDup(spark, str(tmp_path / "nd"), threshold=0.5, n_buckets=8)
    snd.apply_batch(_mk(spark, [(1, _BASE)]))
    old_keys = set(_state_rows(snd)[0])
    update = _mk(spark, [(1, _BASE + " and ten")])
    snd.apply_batch(update)
    ref = StreamingNearDup(spark, str(tmp_path / "ref"), threshold=0.5, n_buckets=8)
    ref.apply_batch(update)
    new_keys = set(_state_rows(ref)[0])
    assert old_keys & new_keys and old_keys != new_keys  # shared and retired
    assert _state_rows(snd) == _state_rows(ref)
    i = 0
    while not _compacted(snd):
        assert i < 8, "level 0 never compacted"
        snd.apply_batch(_filler(spark, i))
        ref.apply_batch(_filler(spark, i))
        i += 1
    assert _state_rows(snd) == _state_rows(ref)
    assert len([k for k in _state_rows(snd)[0] if k[0] == 1]) == snd.bands


def _nd_batches(spark):
    """(kind, frame) steps with an update and a delete, FAN_IN and more
    of them writing each store."""
    return [
        ("apply", _mk(spark, [(1, _BASE), (2, _BASE + " sharp"), (3, "a cat sleeps")])),
        ("apply", _filler(spark, 0)),
        ("apply", _mk(spark, [(1, "a tiny cat sleeps on the warm windowsill today")])),
        ("delete", spark.createDataFrame([(2,), (100,)], "doc_id long")),
        ("apply", _mk(spark, [(4, _BASE + " sharp"), (5, "a tiny cat sleeps on the warm windowsill")])),
        ("apply", _filler(spark, 1)),
    ]


def _nd_step(snd, kind, df):
    if kind == "apply":
        snd.apply_batch(df)
    else:
        snd.delete_batch(df)


def test_applies_rename_nothing(spark, tmp_path, monkeypatch):
    """The three stores commit by their manifests: applies with an
    update and a delete, through a compaction of each store, run with
    os.rename and shutil.move forbidden and answer as an unpatched
    instance."""
    steps = _nd_batches(spark)
    ref = StreamingNearDup(spark, str(tmp_path / "ref"), threshold=0.5, n_buckets=8)
    for kind, df in steps:
        _nd_step(ref, kind, df)
    want = (_state_rows(ref), _pairs(ref.accumulated_pairs()))

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("rename/move used by a neardup store")

    monkeypatch.setattr(os, "rename", boom)
    monkeypatch.setattr(shutil, "move", boom)
    snd = StreamingNearDup(spark, str(tmp_path / "nd"), threshold=0.5, n_buckets=8)
    for kind, df in steps:
        _nd_step(snd, kind, df)
    assert _compacted(snd)
    got = (_state_rows(snd), _pairs(snd.accumulated_pairs()))
    monkeypatch.undo()
    assert got == want
    live_pairs = {(a, b) for a, b, _ in want[1]}
    assert (102, 103) in live_pairs  # not vacuous
    assert not live_pairs & {(1, 2), (100, 101)}  # retired by update, delete


def test_earlier_layout_opens_in_place(spark, tmp_path):
    """Stores of the earlier rename-swapped layout — root bucket=,
    dbucket= and pbucket= dirs without versions, one partition of each
    stranded under <store>.old/ — are adopted as they are, their rows
    read as version 0: the same answers, and later deletes and updates
    of adopted docs apply as on the segment layout."""
    steps = _nd_batches(spark)
    ref = StreamingNearDup(spark, str(tmp_path / "ref"), threshold=0.5, n_buckets=8)
    for kind, df in steps[:2]:
        _nd_step(ref, kind, df)
    old = str(tmp_path / "old")
    for name, store in (("index", ref.index_store), ("docs", ref.docs_store),
                        ("pairs", ref.pairs_store)):
        path = f"{old}/{name}"
        _live(store).drop("op", "lsn").write.partitionBy(store.col).parquet(path)
        part = sorted(n for n in os.listdir(path) if n.startswith(store.col + "="))[0]
        os.makedirs(path + ".old")
        os.rename(os.path.join(path, part), os.path.join(path + ".old", part))

    snd = StreamingNearDup(spark, old, threshold=0.5, n_buckets=8)
    assert _state_rows(snd) == _state_rows(ref)
    assert _pairs(snd.accumulated_pairs()) == _pairs(ref.accumulated_pairs())
    for store in (snd.index_store, snd.docs_store, snd.pairs_store):
        assert [seg.seq for seg in store.segments()] == [-1]
    assert not any(n.endswith(".old") for n in os.listdir(old))
    for kind, df in steps[2:]:
        _nd_step(ref, kind, df)
        _nd_step(snd, kind, df)
        assert _state_rows(snd) == _state_rows(ref)
        assert _pairs(snd.accumulated_pairs()) == _pairs(ref.accumulated_pairs())
