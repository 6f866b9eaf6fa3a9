"""Milvus sink parity (the reference's internal/sink/milvus/).

The reference creates a collection with fields (id varchar(512) pk,
vector float_vector(dim), payload json), HNSW index M=16 ef=200, metric
IP (milvus.go:53-131) and then *Inserts* — not upserts — so an updated
key, or any resent insert, becomes a second entity with the same primary
key (milvus.go:134-158, documented divergence in SURVEY §2.1 K3). We
send REST v2 upserts, so a key updated in a later batch and a request
replayed by a retry or a micro-batch replay both converge to one entity.

The reference speaks the gRPC SDK; this module speaks Milvus's public
REST v2 surface (/v2/vectordb/...) as the sink module of the shared
partition writer (``sinks.http.deliver_partition``), batched vs the
reference's one-RPC-per-point loop:

- ``point_bodies`` — each final event's entity JSON (float32 vector +
  payload), built columnar in the JVM;
- ``upsert`` / ``delete_ids`` / ``delete_bases`` — the batched requests
  the writer sends;
- ``ensure_collection`` — milvus.go's ensure() flow (has → create schema
  → create HNSW index → load) with the same field/index constants.

REST rather than gRPC keeps executors dependency-free (no pymilvus wheel
to ship), and both transports reach the same proxy endpoints with the
same default consistency semantics. A gRPC sink would be another module
with the same endpoints. The test suite has no Milvus server; tests
drive a mock server end-to-end.
"""

from __future__ import annotations

import json as _json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .http import point_rows, send_json

COLLECTION_FIELDS = {
    "id": "varchar(512), primary key",  # milvus.go:70-78
    "vector": "float_vector(dim)",  # milvus.go:79-88
    "payload": "json",  # milvus.go:89-93
}
INDEX = {"type": "HNSW", "M": 16, "efConstruction": 200, "metric": "IP"}  # milvus.go:99-118


def point_bodies(fin: DataFrame) -> DataFrame:
    """A batch's final events (id, vector, metadata, op[, base_id]) →
    (id, op[, base_id], body), built JVM-side with no Python pass. An
    upsert's ``body`` is its entity JSON, {"id", "vector", "payload"}
    (the three column values of milvus.go:134-150), with the vector as
    float32 — the reference sends ``[]float32``. Chunked points (a
    ``base_id`` column present) carry ``ext_base_id`` inside the payload
    so base_delete_expr can clear a key's whole chunk set server-side.
    A delete's body is null."""
    payload = F.col("metadata")
    if "base_id" in fin.columns:
        payload = F.map_concat(
            payload, F.create_map(F.lit("ext_base_id"), F.col("base_id"))
        )
    return point_rows(fin, F.struct(
        F.col("id"),
        F.col("vector").cast("array<float>").alias("vector"),
        payload.alias("payload"),
    ))


def _quote(s: str) -> str:
    """Escape a string literal for a Milvus filter expression:
    backslashes BEFORE quotes, else an id ending in a backslash would
    neutralize its own closing quote and malform the expression."""
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def delete_expr(ids: list[str]) -> str:
    """Milvus delete expression (milvus.go:160-177: `id in ["<id>"]`)."""
    return f"id in [{','.join(_quote(i) for i in ids)}]"


def base_delete_expr(bases: list[str]) -> str:
    """Chunked-mode delete expression: OR of JSON-field equalities over
    ``payload["ext_base_id"]`` — clears every chunk point of the listed
    base keys without knowing their chunk counts. Milvus supports JSON
    path filters since 2.3; like ensure_collection's index params this
    flow is mock-verified only (no server in this environment)."""
    return " or ".join(
        'payload["ext_base_id"] == ' + _quote(b) for b in bases
    )


def _post(url: str, path: str, body: dict | bytes, timeout_s: float) -> dict:
    """Every Milvus request goes through here. Milvus REST v2 answers a
    rejected request with HTTP 200 and a non-zero ``code``, so that
    raises too: the partition task fails and the micro-batch replays
    from the checkpoint instead of committing data that never arrived."""
    # transient failures retry with backoff (sinks/http.py): upsert and
    # delete bodies are idempotent, ensure-collection tolerates
    # already-exists — at-least-once is safe everywhere _post is used
    data = body if isinstance(body, bytes) else _json.dumps(body).encode()
    doc = _json.loads(send_json(url.rstrip("/") + path, data, timeout_s) or b"{}")
    if doc.get("code"):
        raise RuntimeError(
            f"Milvus {path} rejected: code {doc['code']}: {doc.get('message', '')}"
        )
    return doc


def ensure_collection(
    url: str, collection: str, dim: int, metric: str = "IP",
    index_type: str = "HNSW", timeout_s: float = 30.0,
) -> bool:
    """milvus.go ensure() (53-131) over REST v2: has → (create schema +
    HNSW M=16/ef=200 index) → load. Returns True if the collection was
    created. Driver-side, once per stream — not per batch (the reference
    re-checks per upsert; we cache at the caller via the returned flag)."""
    has = _post(url, "/v2/vectordb/collections/has",
                {"collectionName": collection}, timeout_s)
    exists = bool((has.get("data") or {}).get("has"))
    if not exists:
        schema = {
            "fields": [
                {
                    "fieldName": "id",
                    "dataType": "VarChar",
                    "isPrimary": True,
                    "elementTypeParams": {"max_length": 512},  # milvus.go:71
                },
                {
                    "fieldName": "vector",
                    "dataType": "FloatVector",
                    "elementTypeParams": {"dim": dim},  # milvus.go:72
                },
                {"fieldName": "payload", "dataType": "JSON"},  # milvus.go:73
            ]
        }
        _post(url, "/v2/vectordb/collections/create",
              {"collectionName": collection, "schema": schema}, timeout_s)
        _post(
            url,
            "/v2/vectordb/indexes/create",
            {
                "collectionName": collection,
                "indexParams": [
                    {
                        "fieldName": "vector",
                        "indexName": "vector",
                        "metricType": metric,  # milvus.go:99: default IP
                        # REST v2 documents indexType as a SIBLING of
                        # metricType; nested inside params a real server
                        # falls back to AUTOINDEX
                        "indexType": index_type,  # HNSW
                        "params": {
                            "M": INDEX["M"],
                            "efConstruction": INDEX["efConstruction"],
                        },
                    }
                ],
            },
            timeout_s,
        )
    _post(url, "/v2/vectordb/collections/load",
          {"collectionName": collection}, timeout_s)
    return not exists


# Points per HTTP request — same rationale and cap as sinks.qdrant: an
# unbounded per-partition body reaches hundreds of MB at dim 768 and real
# servers reject it (Milvus REST caps request size).
MAX_POINTS_PER_REQUEST = 2048
# Base keys per delete request: each term is ~40 chars and Milvus caps
# expression length.
MAX_BASE_TERMS = 256
# Per-request timeout in seconds.
TIMEOUT_S = 20.0


def upsert(url: str, collection: str, rows) -> None:
    """POST /v2/vectordb/entities/upsert of ``point_bodies`` upsert rows,
    joined as sent with no per-row JSON pass (milvus.go:134-158 inserts
    one point per RPC)."""
    _post(
        url, "/v2/vectordb/entities/upsert",
        ('{"collectionName":%s,"data":[%s]}' % (
            _json.dumps(collection), ",".join(r["body"] for r in rows)
        )).encode(),
        TIMEOUT_S,
    )


def delete_ids(url: str, collection: str, ids: list[str]) -> None:
    """POST /v2/vectordb/entities/delete with one ``id in [...]``
    expression (milvus.go:160-177 sends one single-id expr per RPC)."""
    _post(url, "/v2/vectordb/entities/delete",
          {"collectionName": collection, "filter": delete_expr(ids)}, TIMEOUT_S)


def delete_bases(url: str, collection: str, bases: list[str]) -> None:
    """POST /v2/vectordb/entities/delete with one base_delete_expr:
    clears every chunk entity of the listed base keys."""
    _post(url, "/v2/vectordb/entities/delete",
          {"collectionName": collection, "filter": base_delete_expr(bases)},
          TIMEOUT_S)
