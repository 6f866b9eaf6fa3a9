"""End-to-end boot test (SURVEY §3.1 parity): config → file-stream change
log → embed → normalize → keyed point store, with health endpoint.

The final store must agree with the batch A6 last-write-wins answer, and
every live vector must be unit-norm (M2 applied in the hot path).
"""

from __future__ import annotations

import json
import math
import urllib.request

from pyspark.sql import functions as F

from cdc2vec_spark import runner
from cdc2vec_spark.cdc.changelog import MAPPED, changes_df
from cdc2vec_spark.cdc.transform import filter_mapped
from cdc2vec_spark.cdc import apply as cdc_apply
from cdc2vec_spark.cdc.segments import FAN_IN
from cdc2vec_spark.streaming.source import write_chunks

import pytest

# long e2e suite: deselected under the default driver-budget run
# (pytest.ini); the full suite is opt-in via -m ""
pytestmark = pytest.mark.slow


def test_boot_end_to_end(spark, sf_dir, tmp_path):
    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=4, order_col="lsn")

    query, coll, server = runner.boot(
        spark,
        config=None,  # DEFAULT_CONFIG: public.documents mapping, dim 768
        changes_dir=chunks,
        changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        health_port=0,
    )
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.server_address[1]}/healthz", timeout=5
        ) as r:
            assert json.load(r)["status"] == "ok"
        query.processAllAvailable()
        # engine per-batch metrics ride the same endpoint (Observation-
        # counted points + batch wall, runner.boot batch_metrics)
        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.server_address[1]}/healthz", timeout=5
        ) as r:
            snap = json.load(r)
        assert snap["points_out"] > 0
        assert snap["batch_wall_ms"] > 0
        assert snap["epoch"] >= 0
        # at most four batches: level 0 compacted at the fourth, so one
        # level of the segment log holds 1..FAN_IN-1 segments
        assert 1 <= snap["state_segments"] < FAN_IN
        assert snap["state_segments"] == len(coll.store.segments())
    finally:
        query.stop()
        server.shutdown()

    live = coll.live()
    want = cdc_apply.latest_state(ch)
    want_ids = sorted(
        "public.documents:" + r["pk"] for r in want.select("pk").collect()
    )
    got = live.select("id", "vector").collect()
    assert sorted(r["id"] for r in got) == want_ids
    for r in got:
        norm = math.sqrt(sum(x * x for x in r["vector"]))
        assert abs(norm - 1.0) < 1e-6
        assert len(r["vector"]) == 768


def test_boot_restart_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """Second boot over the same checkpoint reprocesses nothing and the
    state survives (B2 parity: the offset log actually works — unlike the
    reference's write-only offset file)."""
    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=2, order_col="lsn")
    args = dict(
        changes_dir=chunks,
        changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q1, coll, _ = runner.boot(spark, None, **args)
    q1.processAllAvailable()
    q1.stop()
    before = sorted(r["id"] for r in coll.live().select("id").collect())

    q2, coll2, _ = runner.boot(spark, None, **args)
    q2.processAllAvailable()
    q2.stop()
    after = sorted(r["id"] for r in coll2.live().select("id").collect())
    assert after == before


def test_boot_routes_to_configured_qdrant_sink(spark, sf_dir, tmp_path):
    """main.go:66-100 sink-factory parity: with sink.type=qdrant in the
    config, every micro-batch's upserts AND deletes are delivered to the
    external sink (mock HTTP server) while the engine-native collection
    is still maintained; sink ids must equal the collection's history."""
    import http.server
    import json as _json
    import threading

    from cdc2vec_spark.config import (
        DOCUMENTS_MAPPING,
        EngineConfig,
        PipelineConfig,
        SinkConfig,
    )
    from cdc2vec_spark.sinks.qdrant import fnv1a64_py

    upserted, deleted, events = [], [], []

    class Handler(http.server.BaseHTTPRequestHandler):
        def _ok(self):
            body = b'{"status":"ok"}'
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_PUT(self):
            if not self.path.startswith("/collections/docs/points"):
                self._ok()  # ensure_collection create
                return
            n = int(self.headers["Content-Length"])
            pts = _json.loads(self.rfile.read(n))["points"]
            upserted.extend(pts)
            events.extend(("up", p["payload"]["ext_id"]) for p in pts)
            self._ok()

        def do_POST(self):
            assert self.path == "/collections/docs/points/delete?wait=true"
            n = int(self.headers["Content-Length"])
            ids = _json.loads(self.rfile.read(n))["points"]
            deleted.extend(ids)
            events.extend(("del", i) for i in ids)
            self._ok()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"

    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=2, order_col="lsn")
    cfg = PipelineConfig(
        engine=EngineConfig(mappings=(DOCUMENTS_MAPPING,), vector_size=8),
        sink=SinkConfig(type="qdrant", options={"url": url, "collection": "docs"}),
    )
    query, coll, _ = runner.boot(
        spark,
        config=cfg,
        changes_dir=chunks,
        changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        srv.shutdown()

    assert upserted and deleted
    # every upserted point carries its ext_id and the FNV-parity id
    for p in upserted:
        assert p["id"] == fnv1a64_py(p["payload"]["ext_id"])
    # the sink saw every live id the collection holds
    live_ids = {r["id"] for r in coll.live().select("id").collect()}
    assert live_ids <= {p["payload"]["ext_id"] for p in upserted}
    # every delivered delete corresponds to a real 'd' event; per-batch
    # final-event routing means a delete superseded by a later upsert in
    # the SAME batch is (correctly) never delivered
    want_deleted = {
        fnv1a64_py("public.documents:" + r["pk"])
        for r in ch.where(F.col("op") == "d").select("pk").distinct().collect()
    }
    assert set(deleted) <= want_deleted
    # sink-state consistency (the round-5 ADVICE contract): replaying the
    # delivered requests in arrival order must land the external sink on
    # EXACTLY the collection's live id set — no point missing because an
    # intra-batch delete was delivered after its superseding upsert, none
    # resurrected by a stale upsert. Batches are delivered sequentially
    # and each id appears in at most one request per batch, so arrival
    # order is a faithful replay order.
    ext_state: set[str] = set()
    fnv_to_ext = {fnv1a64_py(p["payload"]["ext_id"]): p["payload"]["ext_id"] for p in upserted}
    for kind, key in events:
        if kind == "up":
            ext_state.add(key)
        else:
            ext_state.discard(fnv_to_ext.get(key, key))
    assert ext_state == live_ids


def test_boot_maintains_ivf_index_sink(spark, sf_dir, tmp_path):
    """sink.type=ivf_index: the streaming boot maintains a disk ANN index
    incrementally — live ids retrievable by their own vector (sim 1.0),
    deleted ids absent."""
    import numpy as np

    from cdc2vec_spark.config import (
        DOCUMENTS_MAPPING,
        EngineConfig,
        PipelineConfig,
        SinkConfig,
    )
    from cdc2vec_spark.operators.ann_index import IncrementalIvfIndex

    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=2, order_col="lsn")
    ix_path = str(tmp_path / "ivf")
    cfg = PipelineConfig(
        engine=EngineConfig(mappings=(DOCUMENTS_MAPPING,), vector_size=8),
        sink=SinkConfig(type="ivf_index", options={"path": ix_path}),
    )
    query, coll, _ = runner.boot(
        spark,
        config=cfg,
        changes_dir=chunks,
        changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    ix = IncrementalIvfIndex(spark, ix_path)
    live = coll.live().select("id", "vector").collect()
    probe = live[0]
    top = ix.topk(
        np.asarray(probe["vector"], dtype=np.float64), k=1, nprobe=1_000_000
    ).first()
    assert top["id"] == probe["id"] and top["sim"] == 1.0

    # a deleted key must not be retrievable even by searching everywhere
    deleted_pk = ch.where(F.col("op") == "d").select("pk").first()["pk"]
    live_ids = {r["id"] for r in live}
    dead_id = f"public.documents:{deleted_pk}"
    if dead_id not in live_ids:  # not re-inserted later in the log
        got = {
            r["id"]
            for r in ix.topk(
                np.asarray(probe["vector"], dtype=np.float64),
                k=10_000, nprobe=1_000_000,
            ).collect()
        }
        assert dead_id not in got


def test_points_collection_replay_idempotent(spark, tmp_path):
    """Replaying the same points batch must reproduce identical state
    (foreachBatch redelivery after a crash-before-commit)."""
    pts = spark.createDataFrame(
        [
            ("t:1", [1.0, 0.0], {"pk": "1"}, "c", 1),
            ("t:1", [0.0, 1.0], {"pk": "1"}, "u", 2),
            ("t:2", [0.5, 0.5], {"pk": "2"}, "c", 3),
            ("t:2", None, None, "d", 4),
        ],
        "id string, vector array<float>, metadata map<string,string>, op string, lsn long",
    )
    coll = runner.PointsCollection(spark, str(tmp_path / "pts"))
    coll.apply_points(pts)
    first = sorted((r["id"], r["lsn"]) for r in coll.read().collect())
    coll.apply_points(pts)  # redelivery
    second = sorted((r["id"], r["lsn"]) for r in coll.read().collect())
    assert first == second == [("t:1", 2), ("t:2", 4)]
    live = coll.live().collect()
    assert [r["id"] for r in live] == ["t:1"]  # t:2 tombstoned
    assert list(live[0]["vector"]) == [0.0, 1.0]  # LWW picked lsn 2


def test_boot_ivf_index_sink_with_pq(spark, sf_dir, tmp_path):
    """options.pq='4,16': the streamed index carries PQ codes and ADC
    search works end-to-end (vector_size 8 → m=4 sub-spaces of 2)."""
    import numpy as np

    from cdc2vec_spark.config import (
        DOCUMENTS_MAPPING,
        EngineConfig,
        PipelineConfig,
        SinkConfig,
    )
    from cdc2vec_spark.operators.ann_index import IncrementalIvfIndex

    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=2, order_col="lsn")
    ix_path = str(tmp_path / "ivfpq")
    cfg = PipelineConfig(
        engine=EngineConfig(mappings=(DOCUMENTS_MAPPING,), vector_size=8),
        sink=SinkConfig(
            type="ivf_index", options={"path": ix_path, "pq": "4,16"}
        ),
    )
    query, coll, _ = runner.boot(
        spark,
        config=cfg,
        changes_dir=chunks,
        changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    ix = IncrementalIvfIndex(spark, ix_path, pq=(4, 16))
    probe = coll.live().select("id", "vector").first()
    top = ix.topk(
        np.asarray(probe["vector"], dtype=np.float64),
        k=1, nprobe=1_000_000, mode="adc", candidates=64,
    ).first()
    assert top["id"] == probe["id"] and top["sim"] == 1.0


def test_boot_chunked_mode_end_to_end(spark, sf_dir, tmp_path):
    """embed.chunk_tokens switches the whole pipeline to chunked points:
    every live point id is '<base>#<k>', the chunk set per key matches
    the final text's chunk count, and deleted keys have no chunks."""
    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )
    import dataclasses

    engine = dataclasses.replace(DEFAULT_CONFIG, chunk_tokens=16, chunk_stride=12)
    cfg = PipelineConfig(engine=engine, source=SourceConfig(), sink=SinkConfig())
    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=3, order_col="lsn")

    query, coll, _ = runner.boot(
        spark,
        config=cfg,
        changes_dir=chunks,
        changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    assert isinstance(coll, runner.ChunkedPointsCollection)
    live = coll.live().collect()
    assert live and all("#" in r["id"] for r in live)
    # per surviving key, the chunk count must match the FINAL text
    want = cdc_apply.latest_state(ch)
    import math as _math

    def n_chunks(txt):
        n = len(txt.split(" "))
        return 1 if n <= 16 else 1 + _math.ceil((n - 16) / 12)

    want_counts = {
        "public.documents:" + r["pk"]: n_chunks(
            " ".join(x for x in (r["after_title"], r["after_content"]) if x)
        )
        for r in want.collect()
    }
    got_counts: dict[str, int] = {}
    for r in live:
        got_counts[r["base_id"]] = got_counts.get(r["base_id"], 0) + 1
    assert got_counts == want_counts


def test_boot_chunked_in_engine_indexes_replace_set(spark, sf_dir, tmp_path):
    """Chunked mode composes with the in-engine index sinks: ivf_index
    and lex_index key tombstones on the base id, so a re-embedded key's
    stale tail chunks and a deleted key's whole chunk set die together —
    after the stream, each index's live id set equals the collection's
    live chunk-id set exactly."""
    import dataclasses

    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )
    from cdc2vec_spark.operators.ann_index import IncrementalIvfIndex
    import numpy as np

    from cdc2vec_spark.operators.lex_index import (
        DOC_BUCKET, IncrementalLexicalIndex,
    )

    ivf_path = str(tmp_path / "ivf")
    lex_path = str(tmp_path / "lex")
    engine = dataclasses.replace(DEFAULT_CONFIG, chunk_tokens=16, chunk_stride=12)
    cfg = PipelineConfig(
        engine=engine, source=SourceConfig(),
        sink=SinkConfig(type="ivf_index",
                        options={"path": ivf_path, "auto_compact_ratio": "none"}),
        extra_sinks=(
            SinkConfig(type="lex_index",
                       options={"path": lex_path, "auto_compact_ratio": "none"}),
        ),
    )
    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    # multiple micro-batches: updates/deletes land AFTER their key's
    # first version, exercising cross-batch replace-set supersession
    write_chunks(ch, chunks, n_chunks=3, order_col="lsn")

    query, coll, _ = runner.boot(
        spark, config=cfg, changes_dir=chunks, changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    live = {r["id"] for r in coll.live().select("id").collect()}
    assert live and all("#" in i for i in live)

    # reader attach: the chunked flag is restored from _meta.json
    ix = IncrementalIvfIndex(spark, ivf_path)
    assert ix.chunked
    probe = coll.live().select("vector").first()["vector"]
    got_ivf = {
        r["id"]
        for r in ix.topk(
            np.asarray(probe, dtype=np.float64), k=10 ** 6, nprobe=10 ** 6
        ).collect()
    }
    assert got_ivf == live

    lix = IncrementalLexicalIndex(spark, lex_path)
    assert lix.chunked
    docstats = lix.store.read(parts=[DOC_BUCKET])
    got_lex = {
        r["id"]
        for r in lix._alive(
            docstats.select("id", "lsn"), lix._tomb_maxlsn()
        ).collect()
    }
    assert got_lex == live


def test_boot_chunked_qdrant_replay_matches_collection(spark, sf_dir, tmp_path):
    """Chunked qdrant delivery: per base key the hook clears the chunk
    set via delete-by-filter (ext_base_id) then lands the winning
    upsert's chunk points. Replaying the captured requests in arrival
    order must land the external sink on exactly the collection's live
    chunk-id set — stale tail chunks cleared, deletes complete."""
    import dataclasses
    import http.server
    import json as _json
    import threading

    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )

    events = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def _ok(self):
            body = b'{"status":"ok"}'
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_PUT(self):
            if not self.path.startswith("/collections/docs/points"):
                self._ok()  # ensure_collection create
                return
            n = int(self.headers["Content-Length"])
            for p in _json.loads(self.rfile.read(n))["points"]:
                events.append(("up", p["payload"]["ext_base_id"],
                               p["payload"]["ext_id"]))
            self._ok()

        def do_POST(self):
            n = int(self.headers["Content-Length"])
            body = _json.loads(self.rfile.read(n))
            assert "filter" in body, "chunked deletes must be filter-form"
            for term in body["filter"]["should"]:
                assert term["key"] == "ext_base_id"
                events.append(("delbase", term["match"]["value"], None))
            self._ok()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"

    engine = dataclasses.replace(
        DEFAULT_CONFIG, vector_size=8, chunk_tokens=16, chunk_stride=12
    )
    cfg = PipelineConfig(
        engine=engine, source=SourceConfig(),
        sink=SinkConfig(type="qdrant", options={"url": url, "collection": "docs"}),
    )
    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=3, order_col="lsn")
    query, coll, _ = runner.boot(
        spark, config=cfg, changes_dir=chunks, changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        srv.shutdown()

    assert any(k == "delbase" for k, *_ in events)
    # replay: delete-by-base clears the set, upserts re-add chunk ids.
    # arrival order is a faithful replay order per base key: all of a
    # key's rows are written by one partition's writer, which sends the
    # key's filter-delete before any request carrying its chunks
    ext: dict[str, set] = {}
    for kind, base, ext_id in events:
        if kind == "delbase":
            ext[base] = set()
        else:
            ext.setdefault(base, set()).add(ext_id)
    ext_ids = set().union(*ext.values()) if ext else set()
    live_ids = {r["id"] for r in coll.live().select("id").collect()}
    assert ext_ids == live_ids


def test_boot_maintains_lex_index_sink(spark, sf_dir, tmp_path):
    """sink.type=lex_index: the streaming boot maintains a disk BM25
    inverted index from the same stream — the final top-k must equal the
    batch BM25 operator over the collection's surviving corpus."""
    from cdc2vec_spark.config import (
        DOCUMENTS_MAPPING,
        EngineConfig,
        PipelineConfig,
        SinkConfig,
    )
    from cdc2vec_spark.operators.lex_index import IncrementalLexicalIndex
    from cdc2vec_spark.operators.text import bm25_topk

    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=2, order_col="lsn")
    lex_path = str(tmp_path / "lex")
    cfg = PipelineConfig(
        engine=EngineConfig(mappings=(DOCUMENTS_MAPPING,), vector_size=8),
        sink=SinkConfig(type="lex_index", options={"path": lex_path}),
    )
    query, coll, _ = runner.boot(
        spark,
        config=cfg,
        changes_dir=chunks,
        changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    # surviving corpus per the engine-native collection (id, final text)
    surv = coll.live().select("id", "metadata")
    # reconstruct final text from the batch A6 state (title+content concat)
    want_state = cdc_apply.latest_state(ch)
    corpus = want_state.select(
        F.concat(F.lit("public.documents:"), F.col("pk")).alias("id"),
        F.concat_ws(
            " ",
            F.nullif(F.col("after_title"), F.lit("")),
            F.nullif(F.col("after_content"), F.lit("")),
        ).alias("text"),
    )
    ix = IncrementalLexicalIndex(spark, lex_path)
    got = [tuple(r) for r in ix.topk(("spark", "query", "window")).collect()]
    want = [
        tuple(r)
        for r in bm25_topk(corpus, ("spark", "query", "window"), id_col="id").collect()
    ]
    assert got and got == want
    # engine-native collection still maintained alongside the sink
    assert surv.count() == want_state.count()


def test_boot_chunked_milvus_replay_matches_collection(spark, sf_dir, tmp_path):
    """Chunked milvus delivery mirrors the qdrant shape with JSON-field
    filter deletes: replaying the captured requests lands the mock on
    exactly the collection's live chunk-id set."""
    import dataclasses
    import http.server
    import json as _json
    import re
    import threading

    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )

    events = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def _ok(self):
            body = b'{"code":0,"data":{}}'
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            n = int(self.headers["Content-Length"])
            body = _json.loads(self.rfile.read(n))
            if self.path.endswith("/entities/upsert"):
                for row in body["data"]:
                    events.append(
                        ("up", row["payload"]["ext_base_id"], row["id"])
                    )
            elif self.path.endswith("/entities/delete"):
                expr = body["filter"]
                assert 'payload["ext_base_id"]' in expr, expr
                for b in re.findall(r'payload\["ext_base_id"\] == "([^"]+)"', expr):
                    events.append(("delbase", b, None))
            self._ok()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"

    engine = dataclasses.replace(
        DEFAULT_CONFIG, vector_size=8, chunk_tokens=16, chunk_stride=12
    )
    cfg = PipelineConfig(
        engine=engine, source=SourceConfig(),
        sink=SinkConfig(type="milvus", options={"url": url, "collection": "docs"}),
    )
    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=3, order_col="lsn")
    query, coll, _ = runner.boot(
        spark, config=cfg, changes_dir=chunks, changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        srv.shutdown()

    assert any(k == "delbase" for k, *_ in events)
    # replayed per base key in arrival order, as in the qdrant case
    ext: dict[str, set] = {}
    for kind, base, ext_id in events:
        if kind == "delbase":
            ext[base] = set()
        else:
            ext.setdefault(base, set()).add(ext_id)
    ext_ids = set().union(*ext.values()) if ext else set()
    live_ids = {r["id"] for r in coll.live().select("id").collect()}
    assert ext_ids == live_ids


def test_boot_multi_sink_fanout(spark, sf_dir, tmp_path):
    """Round-7 (VERDICT r06 #7): one boot() stream fans out to several
    sinks — the external qdrant collection (mock), the incremental IVF
    index, and the incremental lexical index — and all three final
    states must be consistent with the engine-native collection."""
    import http.server
    import threading

    import numpy as np

    from cdc2vec_spark.config import (
        DOCUMENTS_MAPPING,
        EngineConfig,
        PipelineConfig,
        SinkConfig,
    )
    from cdc2vec_spark.operators.ann_index import IncrementalIvfIndex
    from cdc2vec_spark.operators.lex_index import IncrementalLexicalIndex
    from cdc2vec_spark.operators.text import bm25_topk
    from cdc2vec_spark.sinks.qdrant import fnv1a64_py

    upserted, deleted = [], []

    class Handler(http.server.BaseHTTPRequestHandler):
        def _ok(self):
            body = b'{"status":"ok"}'
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_PUT(self):
            if not self.path.startswith("/collections/docs/points"):
                self._ok()  # ensure_collection create
                return
            n = int(self.headers["Content-Length"])
            pts = json.loads(self.rfile.read(n))["points"]
            upserted.extend(p["payload"]["ext_id"] for p in pts)
            self._ok()

        def do_POST(self):
            n = int(self.headers["Content-Length"])
            deleted.extend(json.loads(self.rfile.read(n))["points"])
            self._ok()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"

    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=2, order_col="lsn")
    ivf_path, lex_path = str(tmp_path / "ivf"), str(tmp_path / "lex")
    cfg = PipelineConfig(
        engine=EngineConfig(mappings=(DOCUMENTS_MAPPING,), vector_size=8),
        sink=SinkConfig(type="qdrant", options={"url": url, "collection": "docs"}),
        extra_sinks=(
            SinkConfig(type="ivf_index", options={"path": ivf_path}),
            SinkConfig(type="lex_index", options={"path": lex_path}),
        ),
    )
    query, coll, _ = runner.boot(
        spark,
        config=cfg,
        changes_dir=chunks,
        changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    srv.shutdown()

    live = coll.live().select("id", "vector").collect()
    live_ids = sorted(r["id"] for r in live)
    want_state = cdc_apply.latest_state(ch)
    assert len(live_ids) == want_state.count()

    # 1. qdrant mock: last delivery outcome per external point id must
    # leave exactly the live set
    ext = {}
    for i in upserted:
        ext[fnv1a64_py(i)] = i
    # replay order isn't captured across PUT/POST here; assert set-level
    # consistency instead: every live id was upserted, every dead id's
    # point id was deleted at least once
    assert {fnv1a64_py(i) for i in live_ids} <= set(ext)
    dead_ids = set(ext.values()) - set(live_ids)
    assert {fnv1a64_py(i) for i in dead_ids} <= set(deleted)

    # 2. IVF index: full-probe top-5 for a live vector == exact cosine
    # over the collection's live vectors
    qrow = max(live, key=lambda r: r["id"])
    qv = np.asarray(qrow["vector"], dtype=np.float64)
    ix = IncrementalIvfIndex(spark, ivf_path)
    got_ann = [r["id"] for r in ix.topk(qv, k=5, nprobe=1_000_000).collect()]
    sims = []
    for r in live:
        v = np.asarray(r["vector"], dtype=np.float64)
        s = float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
        sims.append((round(s, 6), r["id"]))
    want_ann = [i for _, i in sorted(sims, key=lambda t: (-t[0], t[1]))[:5]]
    assert got_ann == want_ann

    # 3. lexical index: top-k == batch BM25 over the reconstructed corpus
    corpus = want_state.select(
        F.concat(F.lit("public.documents:"), F.col("pk")).alias("id"),
        F.concat_ws(
            " ",
            F.nullif(F.col("after_title"), F.lit("")),
            F.nullif(F.col("after_content"), F.lit("")),
        ).alias("text"),
    )
    lx = IncrementalLexicalIndex(spark, lex_path)
    got_lex = [tuple(r) for r in lx.topk(("spark", "query", "window")).collect()]
    want_lex = [
        tuple(r)
        for r in bm25_topk(corpus, ("spark", "query", "window"), id_col="id").collect()
    ]
    assert got_lex and got_lex == want_lex


def test_boot_chunked_matches_one_shot_apply(spark, sf_dir, tmp_path):
    """A chunked boot over three micro-batches leaves the same live
    state, row for row (vector column included: the provider is
    deterministic), as one ChunkedPointsCollection.apply_points of the
    whole change log."""
    import dataclasses

    from cdc2vec_spark.cdc.pipeline import run_batch
    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )

    engine = dataclasses.replace(
        DEFAULT_CONFIG, chunk_tokens=16, chunk_stride=12, vector_size=8
    )
    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=3, order_col="lsn")
    cfg = PipelineConfig(engine=engine, source=SourceConfig(), sink=SinkConfig(type=""))
    query, coll, _ = runner.boot(
        spark,
        config=cfg,
        changes_dir=chunks,
        changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert isinstance(coll, runner.ChunkedPointsCollection)
    one_shot = runner.ChunkedPointsCollection(spark, str(tmp_path / "one_shot"))
    one_shot.apply_points(run_batch(ch, engine, runner._provider_from(cfg)))

    def canon(c):
        return sorted(
            (r["id"], r["base_id"], tuple(r["vector"]), r["lsn"])
            for r in c.live().collect()
        )

    got, want = canon(coll), canon(one_shot)
    assert got == want and got


def test_boot_index_sinks_restart_without_reapplying(spark, sf_dir, tmp_path):
    """Checkpoint restart with the incremental-index sinks: a second
    boot over the same checkpoint reprocesses nothing, so both disk
    indexes are byte-stable (same tombstone count, same top-k) — the
    replay-safety contract the per-batch LSN merges promise."""
    from cdc2vec_spark.config import (
        DOCUMENTS_MAPPING,
        EngineConfig,
        PipelineConfig,
        SinkConfig,
    )
    from cdc2vec_spark.operators.lex_index import IncrementalLexicalIndex

    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    write_chunks(ch, chunks, n_chunks=2, order_col="lsn")
    lex_path = str(tmp_path / "lex")
    cfg = PipelineConfig(
        engine=EngineConfig(mappings=(DOCUMENTS_MAPPING,), vector_size=8),
        sink=SinkConfig(type="lex_index", options={"path": lex_path}),
    )
    args = dict(
        config=cfg,
        changes_dir=chunks,
        changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q1, _, _ = runner.boot(spark, **args)
    q1.processAllAvailable()
    q1.stop()

    def lex_fingerprint():
        ix = IncrementalLexicalIndex(spark, lex_path)
        top = [tuple(r) for r in ix.topk(("spark", "query", "window")).collect()]
        tombs = ix.store.read(parts=[-1])
        return top, tombs.count(), ix.store.segments()

    before = lex_fingerprint()
    q2, _, _ = runner.boot(spark, **args)
    q2.processAllAvailable()
    q2.stop()
    assert lex_fingerprint() == before and before[0]


def test_boot_hot_reloads_mapping_from_yaml(spark, sf_dir, tmp_path):
    """VERDICT r10 ask #7 (Mapping hot-reload): a metadata column added
    to the YAML config MID-STREAM starts populating in subsequent
    batches without a restart; rows last written before the reload keep
    their old (column-less) metadata."""
    import os
    import textwrap

    cfg_path = str(tmp_path / "pipeline.yaml")

    def write_cfg(metadata_columns):
        meta = "".join(f'\n      - "{c}"' for c in metadata_columns)
        meta_block = f"    metadata_columns:{meta}" if metadata_columns else ""
        open(cfg_path, "w").write(textwrap.dedent(f"""\
            embed:
              provider: "deterministic"
              vector_size: 32
            mapping:
              - table: "public.documents"
                id_column: "pk"
                text_columns:
                  - "after_title"
                  - "after_content"
            """) + meta_block + "\n")

    write_cfg([])
    ch = filter_mapped(changes_df(spark, sf_dir), MAPPED).persist()
    mid = ch.approxQuantile("lsn", [0.5], 0.0)[0]
    chunks = str(tmp_path / "chunks")
    write_chunks(ch.where(F.col("lsn") <= mid), chunks + "/w1", 2, "lsn")

    query, coll, _ = runner.boot(
        spark,
        config=cfg_path,
        changes_dir=chunks,
        changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=8,
    )
    try:
        query.processAllAvailable()
        before = coll.live().select("id", F.col("metadata")["after_author"].alias("a")).collect()
        assert before and all(r["a"] is None for r in before)
        pre_ids = {r["id"] for r in before}

        # config redeploy mid-stream: add the metadata column, bump mtime
        write_cfg(["after_author"])
        os.utime(cfg_path, (os.path.getmtime(cfg_path) + 5,) * 2)

        write_chunks(ch.where(F.col("lsn") > mid), chunks + "/w2", 2, "lsn")
        query.processAllAvailable()
    finally:
        query.stop()

    live = coll.live().select(
        "id", F.col("metadata")["after_author"].alias("a"), "lsn"
    ).collect()
    # rows last written AFTER the reload carry the new metadata column
    post = [r for r in live if r["lsn"] > mid]
    assert post and all(r["a"] is not None for r in post)
    # rows untouched since before the reload keep the old shape
    stale = [r for r in live if r["lsn"] <= mid]
    assert all(r["a"] is None for r in stale)
    assert {r["id"] for r in live} >= pre_ids - {r["id"] for r in post}
    ch.unpersist()
