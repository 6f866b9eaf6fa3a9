"""Sink parity tests: FNV-1a-64 id hash (qdrant.go:174-179), Kafka
message schema (kafka.go:19-26), Qdrant and Milvus request shapes, and
the one partition writer both external sinks deliver through."""

import json
import re

import pytest
from pyspark.sql import functions as F

from cdc2vec_spark.sinks import kafka, milvus, qdrant
from cdc2vec_spark.sinks.http import deliver_partition

# each external sink's point key as its delete-by-id request carries it
_DEL_KEY = {"qdrant": qdrant.fnv1a64_py, "milvus": str}
_SINKS = {"qdrant": qdrant, "milvus": milvus}


def test_fnv1a64_known_vectors():
    # published FNV-1a 64 test vectors
    assert qdrant.fnv1a64_py("") == 14695981039346656037
    assert qdrant.fnv1a64_py("a") == 12638187200555641996
    assert qdrant.fnv1a64_py("foobar") == 0x85944171F73967E8


def _points(spark):
    return spark.createDataFrame(
        [
            ("public.documents:1", [0.6, 0.8], {"table": "public.documents", "pk": "1"},
             "c", "public.documents", "1"),
            ("public.documents:2", None, {"table": "public.documents", "pk": "2"},
             "d", "public.documents", "2"),
        ],
        "id string, vector array<float>, metadata map<string,string>, "
        "op string, tbl string, pk string",
    )


def test_kafka_message_schema(spark):
    rows = kafka.to_kafka_messages(_points(spark)).collect()
    assert [f.name for f in kafka.to_kafka_messages(_points(spark)).schema.fields] == ["key", "value"]
    m1 = json.loads(bytes(rows[0]["value"]))
    # kafka.go:19-26 field set
    assert set(m1) == {"id", "vector", "metadata", "op", "table", "pk"}
    assert m1["op"] == "upsert" and bytes(rows[0]["key"]).decode() == m1["id"]
    m2 = json.loads(bytes(rows[1]["value"]))
    assert m2["op"] == "delete" and "vector" not in m2 or m2.get("vector") is None


def test_qdrant_point_bodies(spark):
    rows = {r["id"]: r for r in qdrant.point_bodies(_points(spark)).collect()}
    up = rows["public.documents:1"]
    assert up["op"] == "c"
    body = json.loads(up["body"])
    assert list(body) == ["vector", "payload"]  # the writer splices the id first
    assert body["payload"]["ext_id"] == "public.documents:1"
    assert body["vector"] == pytest.approx([0.6, 0.8])
    de = rows["public.documents:2"]
    assert de["op"] == "d" and de["body"] is None


@pytest.mark.parametrize("name", ["qdrant", "milvus"])
def test_point_bodies_send_float32_vectors(spark, name):
    """Vectors leave as float32 text (the reference sends []float32, and
    both servers store f32): every element parses back to exactly the
    float32 of the stored double, tiny and large magnitudes included."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = [rng.standard_normal(768) for _ in range(6)]
    vecs[1] = vecs[1] * 1e-30
    vecs[2] = vecs[2] * 1e30
    vecs[3][:9] = [1e-42, -1e-45, 3e-39, 1.1754943508222875e-38, 3.4e38, -3.4e38, 0.0, 1.0, 1 / 3]
    vecs[4] = vecs[4] / np.linalg.norm(vecs[4])
    pts = spark.createDataFrame(
        [(f"k{i}", [float(x) for x in v], {}, "c") for i, v in enumerate(vecs)],
        "id string, vector array<double>, metadata map<string,string>, op string",
    )
    bodies = {r["id"]: r["body"] for r in _SINKS[name].point_bodies(pts).collect()}
    assert "0.33333334," in bodies["k3"]  # float32 text, not 0.3333333333333333
    got = {k: json.loads(b)["vector"] for k, b in bodies.items()}
    for i, v in enumerate(vecs):
        sent = np.asarray(got[f"k{i}"], dtype=np.float64).astype(np.float32)
        np.testing.assert_array_equal(sent, v.astype(np.float32))


def _mock_http(reply=b'{"status":"ok"}'):
    """Records every (method, path, raw body) a sink writer sends and
    answers 200 with ``reply``; a GET (Qdrant's collection info) gets
    501, so ensure_collection falls through to its create PUT."""
    import http.server
    import threading

    calls = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def _reply(self):
            n = int(self.headers["Content-Length"])
            raw = self.rfile.read(n)
            calls.append((self.command, self.path, raw))
            body = reply
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        do_PUT = _reply
        do_POST = _reply

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}", calls


def _requests(name, calls):
    """The delivery requests a sink writer sent, in arrival order, as
    (kind, keys): "up" with the upserted ids, "del" with the deleted
    point keys, or "delbase" with the filter-deleted base ids."""
    out = []
    for method, path, raw in calls:
        body = json.loads(raw)
        if name == "qdrant":
            assert path.startswith("/collections/docs/points")
            if method == "PUT":
                assert path == "/collections/docs/points?wait=true"
                out.append(("up", [p["payload"]["ext_id"] for p in body["points"]]))
                continue
            assert path == "/collections/docs/points/delete?wait=true"
            if "filter" in body:
                out.append(("delbase", [t["match"]["value"] for t in body["filter"]["should"]]))
            else:
                out.append(("del", body["points"]))
        elif path == "/v2/vectordb/entities/upsert":
            assert body["collectionName"] == "docs"
            out.append(("up", [d["id"] for d in body["data"]]))
        else:
            assert path == "/v2/vectordb/entities/delete"
            expr = body["filter"]
            if expr.startswith("id in "):
                out.append(("del", json.loads(expr[len("id in "):])))
            else:
                out.append(("delbase", re.findall(r'payload\["ext_base_id"\] == "([^"]+)"', expr)))
    return out


@pytest.mark.parametrize("name", ["qdrant", "milvus"])
def test_deliver_partition_one_pass(spark, name):
    """One pass over a partition of mixed final events, larger than the
    request cap: upserts as ≤max_points requests, deletes by id as
    ≤max_points requests, every id sent once, no id both upserted and
    deleted. Qdrant splices the FNV-1a id in front of each JVM-built
    body (key order id, vector, payload)."""
    sink = _SINKS[name]
    rows = []
    for i in range(10):
        rows.append((f"u{i}", [i / 10, 0.5], {"pk": str(i)}, "u" if i % 2 else "c"))
        if i < 6:
            rows.append((f"d{i}", None, {}, "d"))
    pts = spark.createDataFrame(
        rows, "id string, vector array<float>, metadata map<string,string>, op string"
    )
    srv, url, calls = _mock_http()
    try:
        deliver_partition(
            iter(sink.point_bodies(pts).collect()), sink, url, "docs", max_points=4
        )
    finally:
        srv.shutdown()
    sent = _requests(name, calls)
    ups = [keys for kind, keys in sent if kind == "up"]
    dels = [keys for kind, keys in sent if kind == "del"]
    assert [len(b) for b in ups] == [4, 4, 2]
    assert [len(b) for b in dels] == [4, 2]
    assert len(ups) + len(dels) == len(sent)
    upserted = [i for b in ups for i in b]
    assert sorted(upserted) == sorted(f"u{i}" for i in range(10))
    deleted = {i for b in dels for i in b}
    assert deleted == {_DEL_KEY[name](f"d{i}") for i in range(6)}
    assert not deleted & {_DEL_KEY[name](i) for i in upserted}
    if name == "qdrant":
        puts = [raw for m, _, raw in calls if m == "PUT"]
        points = [pt for raw in puts for pt in json.loads(raw)["points"]]
        for pt in points:
            assert pt["id"] == qdrant.fnv1a64_py(pt["payload"]["ext_id"])
            assert list(pt) == ["id", "vector", "payload"]
        prefixed = [int(x) for raw in puts for x in re.findall(rb'\{"id":(\d+),"vector":', raw)]
        assert sorted(prefixed) == sorted(pt["id"] for pt in points)


@pytest.mark.parametrize("op", ["c", "d"])
def test_milvus_rejection_fails_the_partition(spark, op):
    """Milvus REST v2 reports a rejected request as HTTP 200 with a
    non-zero ``code``: an upsert or delete answered that way must fail
    the partition (so the micro-batch replays), and so must
    ensure_collection; ``code`` 0 passes."""
    pts = spark.createDataFrame(
        [("k", [0.6, 0.8] if op == "c" else None, {}, op)],
        "id string, vector array<float>, metadata map<string,string>, op string",
    )
    rows = milvus.point_bodies(pts).collect()
    srv, url, _ = _mock_http(b'{"code": 1100, "message": "invalid parameter"}')
    try:
        with pytest.raises(RuntimeError, match="1100: invalid parameter"):
            deliver_partition(iter(rows), milvus, url, "docs")
        with pytest.raises(RuntimeError, match="1100"):
            milvus.ensure_collection(url, "docs", dim=2)
    finally:
        srv.shutdown()
    srv, url, calls = _mock_http(b'{"code": 0, "data": {}}')
    try:
        deliver_partition(iter(rows), milvus, url, "docs")
    finally:
        srv.shutdown()
    assert len(calls) == 1


@pytest.mark.parametrize("name", ["qdrant", "milvus"])
def test_deliver_partition_chunked_deletes_each_base_before_its_chunks(spark, name):
    """Chunked delivery in one partition pass: every base key of the
    partition is filter-deleted once, and that delete arrives before any
    request carrying one of its chunks — even when the caps force many
    flushes and a base's chunks are spread over several upserts."""
    sink = _SINKS[name]
    rows = [  # one partition of final events; bases interleave
        ("b0#0", "b0", "c"), ("b1#0", "b1", "u"), ("b2", "b2", "d"),
        ("b0#1", "b0", "c"), ("b3#0", "b3", "u"), ("b1#1", "b1", "u"),
        ("b4", "b4", "d"), ("b3#1", "b3", "u"), ("b0#2", "b0", "c"),
        ("b5#0", "b5", "c"),
    ]
    pts = spark.createDataFrame(
        [(i, b, None if op == "d" else [0.5, 0.5], {"k": i}, op) for i, b, op in rows],
        "id string, base_id string, vector array<float>, "
        "metadata map<string,string>, op string",
    )
    srv, url, calls = _mock_http()
    try:
        deliver_partition(
            iter(sink.point_bodies(pts).collect()), sink, url, "docs",
            chunked=True, max_points=2, max_terms=2,
        )
    finally:
        srv.shutdown()
    sent = _requests(name, calls)
    assert {kind for kind, _ in sent} == {"up", "delbase"}
    assert max(len(keys) for _, keys in sent) == 2
    deleted_at: dict[str, list[int]] = {}
    upserted_at: dict[str, list[int]] = {}
    for n, (kind, keys) in enumerate(sent):
        for k in keys:
            base = k.split("#")[0]
            (deleted_at if kind == "delbase" else upserted_at).setdefault(base, []).append(n)
    assert {b: len(v) for b, v in deleted_at.items()} == {f"b{i}": 1 for i in range(6)}
    for base, at in upserted_at.items():
        assert deleted_at[base][0] < min(at), (base, sent)
    upserted = sorted(k for kind, keys in sent if kind == "up" for k in keys)
    assert upserted == sorted(i for i, _, op in rows if op != "d")


def _chunked_points(spark, n_bases=40):
    """One batch of chunked points: every base key shrinks from 3 chunks
    (lsn 1) to 2 (lsn 2), and every 5th base is then deleted (lsn 3)."""
    rows = []
    for b in range(n_bases):
        for lsn, n in ((1, 3), (2, 2)):
            rows += [(f"b{b}#{k}", f"b{b}", [0.5, 0.5], {}, "u", lsn) for k in range(n)]
        if b % 5 == 0:
            rows.append((f"b{b}", f"b{b}", None, {}, "d", 3))
    return spark.createDataFrame(
        rows,
        "id string, base_id string, vector array<float>, "
        "metadata map<string,string>, op string, lsn long",
    )


def test_final_events_chunked_keeps_each_base_in_one_partition(spark):
    """The chunked delivery pass deletes a base key's chunk set and
    upserts its winning chunks inside one partition, so every row of a
    base key must come out of final_events_chunked in one partition."""
    from cdc2vec_spark import runner

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) > 1
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")  # coalescing could hide a split
    try:
        fin = runner.final_events_chunked(_chunked_points(spark)).withColumn(
            "part", F.spark_partition_id()
        ).collect()
    finally:
        spark.conf.set(key, prev)
    parts: dict[str, set] = {}
    for r in fin:
        parts.setdefault(r["base_id"], set()).add(r["part"])
    assert len(parts) == 40
    assert {b: len(p) for b, p in parts.items() if len(p) > 1} == {}
    assert len({p for ps in parts.values() for p in ps}) > 1
    want = sorted(
        (f"b{b}", "d") if b % 5 == 0 else (f"b{b}#{k}", "u")
        for b in range(40) for k in ((0,) if b % 5 == 0 else (0, 1))
    )
    assert sorted((r["id"], r["op"]) for r in fin) == want


@pytest.mark.parametrize("name", ["qdrant", "milvus"])
@pytest.mark.parametrize("chunked", [False, True])
def test_external_hook_runs_one_job_per_batch(spark, name, chunked):
    """Each external sink hook, chunked or not, delivers a batch in one
    Spark job: reduce, build bodies and write in a single partition
    pass (AQE off, so a shuffle's map stage is not counted as a job of
    its own)."""
    import dataclasses

    from cdc2vec_spark import runner
    from cdc2vec_spark.config import EngineConfig, PipelineConfig, SinkConfig

    engine = EngineConfig(vector_size=2)
    if chunked:
        engine = dataclasses.replace(engine, chunk_tokens=16)
        pts = _chunked_points(spark, 8)
    else:
        pts = spark.createDataFrame(
            [(f"k{i}", [0.5, 0.5], {}, "d" if i % 4 == 0 else "u", i % 7) for i in range(40)],
            "id string, vector array<float>, metadata map<string,string>, "
            "op string, lsn long",
        )
    pts = pts.persist()
    pts.count()
    srv, url, calls = _mock_http()
    cfg = PipelineConfig(
        engine=engine,
        sink=SinkConfig(type=name, options={"url": url, "collection": "docs"}),
    )
    sc = spark.sparkContext
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    jobs = []
    try:
        hook = runner.sink_hook_for(cfg)
        for batch in range(2):
            group = f"one-job-{name}-{chunked}-{batch}"
            sc.setJobGroup(group, group)
            hook(pts)
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        srv.shutdown()
        pts.unpersist()
    assert jobs == [1, 1]
    assert calls  # the batch was delivered


def test_sink_delivery_respects_intra_batch_event_order(spark):
    """Round-5 ADVICE (medium): the hook must reduce a batch to the
    max-LSN event per id and route each id to exactly ONE of
    upsert/delete (pipeline.go applies events strictly in order).
    Crafted single batch:
      X: insert(lsn 1) then delete(lsn 2)   -> only a delete delivered
      Y: delete(lsn 3) then insert(lsn 4)   -> only an upsert delivered
      Z: upsert(lsn 5) then upsert(lsn 6)   -> exactly one upsert, lsn-6 vector
    """
    from cdc2vec_spark import runner
    from cdc2vec_spark.config import EngineConfig, PipelineConfig, SinkConfig
    from cdc2vec_spark.sinks.qdrant import fnv1a64_py

    srv, url, calls = _mock_http()

    cfg = PipelineConfig(
        engine=EngineConfig(vector_size=4),
        sink=SinkConfig(type="qdrant", options={"url": url, "collection": "docs"}),
    )
    hook = runner.sink_hook_for(cfg)
    assert hook is not None
    rows = [
        ("X", [0.1, 0.0, 0.0, 0.0], {"k": "x1"}, "c", "1"),
        ("X", None, {}, "d", "2"),
        ("Y", None, {}, "d", "3"),
        ("Y", [0.2, 0.0, 0.0, 0.0], {"k": "y4"}, "c", "4"),
        ("Z", [0.3, 0.0, 0.0, 0.0], {"k": "z5"}, "u", "5"),
        ("Z", [0.4, 0.0, 0.0, 0.0], {"k": "z6"}, "u", "6"),
    ]
    pts = spark.createDataFrame(
        rows,
        "id string, vector array<float>, metadata map<string,string>, op string, lsn string",
    ).repartition(4)  # spread events over partitions: ordering must not depend on partitioning
    try:
        hook(pts)
    finally:
        srv.shutdown()

    upserted = [
        pt for m, path, raw in calls
        if m == "PUT" and path == "/collections/docs/points?wait=true"
        for pt in json.loads(raw)["points"]
    ]
    deleted = [i for m, _, raw in calls if m == "POST" for i in json.loads(raw)["points"]]
    ups = {p["payload"]["ext_id"]: p for p in upserted}
    assert set(ups) == {"Y", "Z"}, f"upserted ids: {sorted(ups)}"
    assert len(upserted) == 2  # one request-point per id, not per event
    assert ups["Z"]["payload"]["k"] == "z6"  # max-LSN vector won
    assert abs(ups["Z"]["vector"][0] - 0.4) < 1e-6
    assert set(deleted) == {fnv1a64_py("X")}


def test_milvus_point_bodies(spark):
    rows = {r["id"]: r for r in milvus.point_bodies(_points(spark)).collect()}
    body = json.loads(rows["public.documents:1"]["body"])
    assert list(body) == ["id", "vector", "payload"]
    assert body["id"] == "public.documents:1" and body["payload"]["pk"] == "1"
    assert body["vector"] == pytest.approx([0.6, 0.8])
    assert rows["public.documents:2"]["body"] is None
    assert milvus.delete_expr(["a", 'b"c']) == 'id in ["a","b\\"c"]'


def _mock_milvus():
    """Minimal Milvus REST v2 mock: records every POST, answers /has from
    its own created-collections set, and keeps entities the way Milvus
    does — an insert appends (Milvus does not deduplicate primary keys
    on insert), an upsert replaces by id, a delete by ``id in [...]``
    removes."""
    import http.server
    import json as _json
    import threading

    state = {"calls": [], "collections": set(), "entities": []}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers["Content-Length"])
            body = _json.loads(self.rfile.read(n))
            state["calls"].append((self.path, body))
            out = {"code": 0, "data": {}}
            ents = state["entities"]
            if self.path == "/v2/vectordb/collections/has":
                out["data"] = {"has": body["collectionName"] in state["collections"]}
            elif self.path == "/v2/vectordb/collections/create":
                state["collections"].add(body["collectionName"])
            elif self.path == "/v2/vectordb/entities/insert":
                ents.extend(body["data"])
            elif self.path == "/v2/vectordb/entities/upsert":
                ids = {d["id"] for d in body["data"]}
                ents[:] = [e for e in ents if e["id"] not in ids] + body["data"]
            elif self.path == "/v2/vectordb/entities/delete":
                ids = set(_json.loads(body["filter"][len("id in "):]))
                ents[:] = [e for e in ents if e["id"] not in ids]
            payload = _json.dumps(out).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}", state


def test_milvus_writer_end_to_end(spark):
    """ensure → upsert → delete against a mock Milvus REST v2 server:
    the milvus.go:53-131 ensure flow (has → create varchar(512)-pk/
    vector/json schema → HNSW M=16 ef=200 IP index → load), then the
    partition writer's batched upserts and delete expr (160-177)."""
    srv, url, state = _mock_milvus()
    try:
        created = milvus.ensure_collection(url, "docs", dim=2)
        assert created
        paths = [p for p, _ in state["calls"]]
        assert paths == [
            "/v2/vectordb/collections/has",
            "/v2/vectordb/collections/create",
            "/v2/vectordb/indexes/create",
            "/v2/vectordb/collections/load",
        ]
        create_body = state["calls"][1][1]
        fields = {f["fieldName"]: f for f in create_body["schema"]["fields"]}
        assert fields["id"]["isPrimary"] and fields["id"]["elementTypeParams"]["max_length"] == 512
        assert fields["vector"]["elementTypeParams"]["dim"] == 2
        assert fields["payload"]["dataType"] == "JSON"
        idx = state["calls"][2][1]["indexParams"][0]
        # indexType must be a SIBLING of metricType (REST v2 contract;
        # nested under params a real server ignores it → AUTOINDEX)
        assert idx["metricType"] == "IP" and idx["indexType"] == "HNSW"
        assert idx["params"] == {"M": 16, "efConstruction": 200}
        # second ensure: has → load only, no re-create
        assert not milvus.ensure_collection(url, "docs", dim=2)
        assert [p for p, _ in state["calls"][4:]] == [
            "/v2/vectordb/collections/has",
            "/v2/vectordb/collections/load",
        ]

        state["calls"].clear()
        milvus.point_bodies(_points(spark)).repartition(2).foreachPartition(
            lambda rows: deliver_partition(rows, milvus, url, "docs")
        )
        upserts = [b for p, b in state["calls"] if p == "/v2/vectordb/entities/upsert"]
        sent = [d for b in upserts for d in b["data"]]
        assert {d["id"] for d in sent} == {"public.documents:1"}
        assert sent[0]["vector"] == pytest.approx([0.6, 0.8]) and sent[0]["payload"]["pk"] == "1"
        del_calls = [b for p, b in state["calls"] if p == "/v2/vectordb/entities/delete"]
        assert del_calls == [
            {"collectionName": "docs", "filter": 'id in ["public.documents:2"]'}
        ]
        assert not any(p.endswith("/entities/insert") for p, _ in state["calls"])
    finally:
        srv.shutdown()


def test_milvus_hook_upserts_one_entity_per_id(spark):
    """Milvus does not deduplicate primary keys on insert, so the hook
    must upsert: the same batch delivered twice (a retry or a
    micro-batch replay) and then an update of the same ids in a later
    batch leave exactly one entity per live id, holding its latest
    vector and payload."""
    from cdc2vec_spark import runner
    from cdc2vec_spark.config import EngineConfig, PipelineConfig, SinkConfig

    schema = (
        "id string, vector array<float>, metadata map<string,string>, "
        "op string, lsn long"
    )
    first = spark.createDataFrame(
        [(f"k{i}", [float(i), 1.0], {"v": "1"}, "c", 1) for i in range(4)], schema
    ).repartition(2)
    second = spark.createDataFrame(
        [("k0", [9.0, 9.0], {"v": "2"}, "u", 2), ("k1", None, {}, "d", 2)], schema
    )
    srv, url, state = _mock_milvus()
    cfg = PipelineConfig(
        engine=EngineConfig(vector_size=2),
        sink=SinkConfig(type="milvus", options={"url": url, "collection": "docs"}),
    )
    try:
        hook = runner.sink_hook_for(cfg)
        hook(first)
        hook(first)
        hook(second)
    finally:
        srv.shutdown()
    ents = state["entities"]
    assert sorted(e["id"] for e in ents) == ["k0", "k2", "k3"]
    k0 = next(e for e in ents if e["id"] == "k0")
    assert k0["vector"] == [9.0, 9.0] and k0["payload"] == {"v": "2"}


def test_qdrant_http_writer_end_to_end(spark):
    """foreachPartition → batched PUT /collections/{c}/points?wait=true
    (qdrant.go:196-233 contract; ours batches the partition instead of one
    request per point). The mock runs in the driver; executor workers hit
    it over HTTP like a real Qdrant."""
    srv, url, calls = _mock_http()
    try:
        pts = spark.createDataFrame(
            [
                ("public.documents:1", [0.6, 0.8], {"table": "documents"}, "c"),
                ("public.documents:2", [1.0, 0.0], {"table": "documents"}, "c"),
                ("public.documents:3", [0.0, 1.0], {"table": "documents"}, "u"),
            ],
            "id string, vector array<float>, metadata map<string,string>, op string",
        ).repartition(2)
        qdrant.point_bodies(pts).foreachPartition(
            lambda rows: deliver_partition(rows, qdrant, url, "docs")
        )
        assert {(m, path) for m, path, _ in calls} == {
            ("PUT", "/collections/docs/points?wait=true")
        }
        sent = [p for _, _, raw in calls for p in json.loads(raw)["points"]]
        assert len(sent) == 3
        assert {p["payload"]["ext_id"] for p in sent} == {
            "public.documents:1", "public.documents:2", "public.documents:3",
        }
        for p in sent:
            assert p["id"] == qdrant.fnv1a64_py(p["payload"]["ext_id"])
    finally:
        srv.shutdown()


def test_retry_absorbs_transient_errors_and_fails_fast_on_4xx():
    """sinks/http.py: 5xx/429/network errors retry with backoff; other
    4xx fail immediately (resending a malformed body never heals)."""
    import http.server
    import threading
    import urllib.error
    import urllib.request

    import pytest as _pytest

    from cdc2vec_spark.sinks.http import send_with_retry

    calls = {"n": 0, "codes": []}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            calls["n"] += 1
            code = calls["codes"].pop(0) if calls["codes"] else 200
            self.send_response(code)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"ok")

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}/x"
    try:
        # two transient failures, then success — absorbed by retries
        calls["codes"] = [503, 429]
        req = urllib.request.Request(url, data=b"{}", method="POST")
        assert send_with_retry(req, timeout_s=5, backoff_s=0.01) == b"ok"
        assert calls["n"] == 3

        # a 400 fails fast: exactly ONE request
        calls["n"], calls["codes"] = 0, [400]
        with _pytest.raises(urllib.error.HTTPError):
            send_with_retry(
                urllib.request.Request(url, data=b"{}", method="POST"),
                timeout_s=5, backoff_s=0.01,
            )
        assert calls["n"] == 1

        # retries exhausted: the final 503 propagates after 1+3 attempts
        calls["n"], calls["codes"] = 0, [503, 503, 503, 503]
        with _pytest.raises(urllib.error.HTTPError):
            send_with_retry(
                urllib.request.Request(url, data=b"{}", method="POST"),
                timeout_s=5, retries=3, backoff_s=0.01,
            )
        assert calls["n"] == 4
    finally:
        srv.shutdown()


def test_qdrant_writer_survives_transient_503(spark):
    """End-to-end: the partition writer lands its points even when the
    server 503s the first attempt of each request."""
    import http.server
    import json
    import threading

    from cdc2vec_spark.sinks import qdrant as q

    seen = {"PUT": [], "POST": [], "fail_next": {}}

    class Handler(http.server.BaseHTTPRequestHandler):
        def _reply(self):
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            if seen["fail_next"].get(self.command, 0) > 0:
                seen["fail_next"][self.command] -= 1
                self.send_response(503)
                self.end_headers()
                return
            seen[self.command].extend(json.loads(body)["points"])
            self.send_response(200)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"{}")

        do_PUT = _reply
        do_POST = _reply

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        rows = q.point_bodies(_points(spark)).collect()
        seen["fail_next"] = {"PUT": 1, "POST": 1}
        deliver_partition(iter(rows), q, url, "c")
        assert [p["payload"]["ext_id"] for p in seen["PUT"]] == ["public.documents:1"]
        assert seen["POST"] == [q.fnv1a64_py("public.documents:2")]
    finally:
        srv.shutdown()


def test_qdrant_ensure_collection_create_verify_and_mismatch():
    """qdrant.go:70-145 parity: absent collection → PUT create with the
    vectors config; present with matching dim → no create; present with a
    DIFFERENT dim → hard error (silent wrong-dim writes 400 every
    upsert). Only a 200 info response skips creation."""
    import http.server
    import json as _json
    import threading

    import pytest as _pytest

    from cdc2vec_spark.sinks.qdrant import ensure_collection

    state = {"exists_dim": None}
    created = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if state["exists_dim"] is None:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            body = _json.dumps({
                "result": {"config": {"params": {"vectors": {
                    "size": state["exists_dim"], "distance": "Cosine"}}}}
            }).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_PUT(self):
            n = int(self.headers["Content-Length"])
            created.append((self.path, _json.loads(self.rfile.read(n))))
            body = b'{"result":true,"status":"ok"}'
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        # absent → create with the right body
        assert ensure_collection(url, "docs", dim=4) == 4
        assert created == [(
            "/collections/docs",
            {"vectors": {"size": 4, "distance": "Cosine"}},
        )]
        # present, matching → verified, no second create
        state["exists_dim"] = 4
        assert ensure_collection(url, "docs", dim=4) == 4
        assert len(created) == 1
        # present, mismatched → refuse
        with _pytest.raises(ValueError, match="size=4.*dim=8"):
            ensure_collection(url, "docs", dim=8)
    finally:
        srv.shutdown()


def test_qdrant_ensure_collection_409_rechecks_dim():
    """A transiently failing info GET followed by a 409 on create must
    NOT skip the dim check: ensure_collection re-fetches the collection
    info and verifies the size (treating 409 as unconditional success
    would let a mismatched collection pass as verified, and every
    subsequent upsert would 400 opaquely)."""
    import http.server
    import json as _json
    import threading

    import pytest as _pytest

    from cdc2vec_spark.sinks.qdrant import ensure_collection

    state = {"get_codes": [], "exists_dim": 4}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            code = state["get_codes"].pop(0) if state["get_codes"] else 200
            if code != 200:
                self.send_response(code)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            body = _json.dumps({
                "result": {"config": {"params": {"vectors": {
                    "size": state["exists_dim"], "distance": "Cosine"}}}}
            }).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_PUT(self):
            n = int(self.headers["Content-Length"])
            self.rfile.read(n)
            self.send_response(409)  # concurrent creator / already exists
            self.send_header("Content-Length", "0")
            self.end_headers()

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        # transient 404 on info → create 409s → re-fetch sees size=4 but
        # the pipeline embeds dim=8 → refuse, do not report verified
        state["get_codes"] = [404]
        with _pytest.raises(ValueError, match="size=4.*dim=8"):
            ensure_collection(url, "docs", dim=8)
        # same dance with a MATCHING size → verified via the re-fetch
        state["get_codes"] = [404]
        assert ensure_collection(url, "docs", dim=4) == 4
    finally:
        srv.shutdown()
