"""Sink parity tests: FNV-1a-64 id hash (qdrant.go:174-179), Kafka
message schema (kafka.go:19-26), Milvus payload shape."""

import json

import pytest
from pyspark.sql import functions as F

from cdc2vec_spark.sinks import kafka, milvus, qdrant


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


def test_point_bodies_send_float32_vectors(spark):
    """Vectors leave as float32 text (the reference sends []float32 and
    Qdrant stores f32): every element parses back to exactly the float32
    of the stored double, tiny and large magnitudes included."""
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
    bodies = {r["id"]: r["body"] for r in qdrant.point_bodies(pts).collect()}
    assert "0.33333334," in bodies["k3"]  # float32 text, not 0.3333333333333333
    got = {k: json.loads(b)["vector"] for k, b in bodies.items()}
    for i, v in enumerate(vecs):
        sent = np.asarray(got[f"k{i}"], dtype=np.float64).astype(np.float32)
        np.testing.assert_array_equal(sent, v.astype(np.float32))


def _mock_qdrant():
    """Records every (method, path, raw body) a sink writer sends and
    answers 200; a GET (Qdrant's collection info) gets 501, so
    ensure_collection falls through to its create PUT."""
    import http.server
    import threading

    calls = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def _reply(self):
            n = int(self.headers["Content-Length"])
            raw = self.rfile.read(n)
            calls.append((self.command, self.path, raw))
            body = b'{"status":"ok"}'
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


def test_deliver_partition_http_one_pass():
    """One pass over mixed final events: upserts as ≤max_points PUTs with
    FNV-1a ids spliced in front of the body, deletes as ≤max_points
    POSTs, no id in both."""
    import re

    rows = []
    for i in range(10):
        body = json.dumps({"vector": [i / 10, 0.5], "payload": {"ext_id": f"u{i}"}})
        rows.append({"id": f"u{i}", "op": "u" if i % 2 else "c", "body": body})
        if i < 6:
            rows.append({"id": f"d{i}", "op": "d", "body": None})
    srv, url, calls = _mock_qdrant()
    try:
        qdrant.deliver_partition_http(iter(rows), url, "docs", max_points=4)
    finally:
        srv.shutdown()
    puts = [raw for m, p, raw in calls if m == "PUT"]
    posts = [raw for m, p, raw in calls if m == "POST"]
    assert {p for m, p, _ in calls if m == "PUT"} == {"/collections/docs/points?wait=true"}
    assert {p for m, p, _ in calls if m == "POST"} == {
        "/collections/docs/points/delete?wait=true"
    }
    put_points = [json.loads(raw)["points"] for raw in puts]
    assert [len(b) for b in put_points] == [4, 4, 2]
    sent = [pt for b in put_points for pt in b]
    assert sorted(pt["payload"]["ext_id"] for pt in sent) == sorted(f"u{i}" for i in range(10))
    for pt in sent:
        assert pt["id"] == qdrant.fnv1a64_py(pt["payload"]["ext_id"])
        assert list(pt) == ["id", "vector", "payload"]
    prefixed = [int(x) for raw in puts for x in re.findall(rb'\{"id":(\d+),"vector":', raw)]
    assert sorted(prefixed) == sorted(pt["id"] for pt in sent)
    del_points = [json.loads(raw)["points"] for raw in posts]
    assert [len(b) for b in del_points] == [4, 2]
    deleted = {i for b in del_points for i in b}
    assert deleted == {qdrant.fnv1a64_py(f"d{i}") for i in range(6)}
    assert not deleted & {pt["id"] for pt in sent}


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

    srv, url, calls = _mock_qdrant()

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


def test_milvus_payloads(spark):
    out = milvus.insert_payloads(_points(spark).where(F.col("op") != "d")).collect()
    assert json.loads(out[0]["payload_json"])["pk"] == "1"
    assert milvus.delete_expr(["a", 'b"c']) == 'id in ["a","b\\"c"]'


def _mock_milvus():
    """Minimal Milvus REST v2 mock: records every POST, answers /has from
    its own created-collections set."""
    import http.server
    import json as _json
    import threading

    state = {"calls": [], "collections": set()}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers["Content-Length"])
            body = _json.loads(self.rfile.read(n))
            state["calls"].append((self.path, body))
            out = {"code": 0, "data": {}}
            if self.path == "/v2/vectordb/collections/has":
                out["data"] = {"has": body["collectionName"] in state["collections"]}
            elif self.path == "/v2/vectordb/collections/create":
                state["collections"].add(body["collectionName"])
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
    """ensure → insert → delete against a mock Milvus REST v2 server:
    the milvus.go:53-131 ensure flow (has → create varchar(512)-pk/
    vector/json schema → HNSW M=16 ef=200 IP index → load), then batched
    partition inserts (134-158) and a batched delete expr (160-177)."""
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
        pts = _points(spark)
        up = milvus.insert_payloads(pts.where(F.col("op") != "d")).repartition(2)
        up.foreachPartition(lambda rows: milvus.write_partition_http(rows, url, "docs"))
        inserts = [b for p, b in state["calls"] if p == "/v2/vectordb/entities/insert"]
        sent = [d for b in inserts for d in b["data"]]
        assert {d["id"] for d in sent} == {"public.documents:1"}
        assert sent[0]["vector"] == pytest.approx([0.6, 0.8]) and sent[0]["payload"]["pk"] == "1"

        dels = pts.where(F.col("op") == "d").select("id").coalesce(1)
        dels.foreachPartition(lambda rows: milvus.delete_partition_http(rows, url, "docs"))
        del_calls = [b for p, b in state["calls"] if p == "/v2/vectordb/entities/delete"]
        assert del_calls == [
            {"collectionName": "docs", "filter": 'id in ["public.documents:2"]'}
        ]
    finally:
        srv.shutdown()


def test_qdrant_http_writer_end_to_end(spark):
    """foreachPartition → batched PUT /collections/{c}/points?wait=true
    (qdrant.go:196-233 contract; ours batches the partition instead of one
    request per point). The mock runs in the driver; executor workers hit
    it over HTTP like a real Qdrant."""
    srv, url, calls = _mock_qdrant()
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
            lambda rows: qdrant.deliver_partition_http(rows, url, "docs")
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


@pytest.mark.slow
def test_sink_writers_chunk_oversized_partitions(spark):
    """Round-5 verdict #4: one request per partition has an unbounded
    body (hundreds of MB at dim 768) that real servers reject. A
    partition larger than max_points must be split across >1 request,
    with no row lost or duplicated — for the qdrant upsert/delete AND
    milvus insert/delete writers."""
    srv, url, calls = _mock_qdrant()

    def sent(suffix):
        return [json.loads(raw) for _, p, raw in calls if p.endswith(suffix)]

    try:
        n = 10
        pts = spark.createDataFrame(
            [(f"doc:{i}", [float(i), 1.0], {"pk": str(i)}, "c") for i in range(n)],
            "id string, vector array<float>, metadata map<string,string>, op string",
        ).coalesce(1)  # ONE partition of 10 rows, cap 4 → 3 requests

        qdrant.point_bodies(pts).foreachPartition(
            lambda rows: qdrant.deliver_partition_http(rows, url, "docs", max_points=4)
        )
        bodies = [b["points"] for b in sent("/points?wait=true")]
        assert [len(b) for b in bodies] == [4, 4, 2]
        assert {pt["payload"]["ext_id"] for b in bodies for pt in b} == {
            f"doc:{i}" for i in range(n)
        }

        calls.clear()
        pts.select("id", F.lit("d").alias("op")).foreachPartition(
            lambda rows: qdrant.deliver_partition_http(rows, url, "docs", max_points=4)
        )
        del_bodies = [b["points"] for b in sent("/points/delete?wait=true")]
        assert [len(b) for b in del_bodies] == [4, 4, 2]
        assert {i for b in del_bodies for i in b} == {
            qdrant.fnv1a64_py(f"doc:{i}") for i in range(n)
        }

        calls.clear()
        milvus.insert_payloads(pts).foreachPartition(
            lambda rows: milvus.write_partition_http(rows, url, "docs", max_points=4)
        )
        ins = [b["data"] for b in sent("/entities/insert")]
        assert [len(b) for b in ins] == [4, 4, 2]
        assert {d["id"] for b in ins for d in b} == {f"doc:{i}" for i in range(n)}

        calls.clear()
        pts.select("id").foreachPartition(
            lambda rows: milvus.delete_partition_http(rows, url, "docs", max_points=4)
        )
        dels = [b["filter"] for b in sent("/entities/delete")]
        assert len(dels) == 3
        got = {i for f in dels for i in json.loads(f[len("id in "):])}
        assert got == {f"doc:{i}" for i in range(n)}
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
        q.deliver_partition_http(rows, url, "c")
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
