"""Qdrant sink parity helpers (/root/reference/internal/sink/qdrant/).

The reference derives the numeric Qdrant point id by FNV-1a-64 hashing
the external id string (qdrant.go:174-179) and sends single-point HTTP
upserts (qdrant.go:196-203). Here:

- ``point_bodies`` — each final event's op and point JSON body
  (float32 vector + payload), built columnar in the JVM.
- ``deliver_partition_http`` — a ``foreachPartition`` writer that hashes
  the ids (``fnv1a64_py``: Spark's xxhash64 is a different function, so
  id-level compatibility with an existing Qdrant collection needs
  FNV-1a) and streams upserts and deletes out in one pass, in batched
  requests (vs. the reference's one request per point).

No Qdrant server exists in the test environment; tests pin hash parity
and payload shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cdc.envelope import OP_DELETE

_FNV_OFFSET = 14695981039346656037
_FNV_PRIME = 1099511628211
_MASK64 = (1 << 64) - 1


def fnv1a64_py(s: str) -> int:
    """Reference implementation (qdrant.go:174-179): FNV-1a over the
    UTF-8 bytes, unsigned 64-bit (plain ints — numpy uint64 scalar
    multiply warns on overflow)."""
    h = _FNV_OFFSET
    for b in s.encode("utf-8"):
        h = ((h ^ b) * _FNV_PRIME) & _MASK64
    return h


def point_bodies(fin: DataFrame) -> DataFrame:
    """A batch's final events (id, vector, metadata, op[, base_id]) →
    (id, op, body), built JVM-side with no Python pass. An upsert's
    ``body`` is its point JSON without the id:
    {"vector": [...], "payload": metadata ∪ {"ext_id": id}}
    (qdrant.go:196-233: the payload always carries the external id).
    Vectors go out as float32 — the reference sends ``[]float32`` and
    Qdrant stores f32 — which is ~40% fewer bytes than double text.
    Chunked points (a ``base_id`` column present) additionally carry
    ``ext_base_id`` so delete-by-filter can clear a key's whole chunk
    set server-side. A delete's body is null. The FNV-1a id is added by
    ``deliver_partition_http``, which is already in Python."""
    id_entries = [F.lit("ext_id"), F.col("id")]
    if "base_id" in fin.columns:
        id_entries += [F.lit("ext_base_id"), F.col("base_id")]
    payload = F.map_concat(F.col("metadata"), F.create_map(*id_entries))
    body = F.to_json(
        F.struct(
            F.col("vector").cast("array<float>").alias("vector"),
            payload.alias("payload"),
        )
    )
    return fin.select(
        "id", "op", F.when(F.col("op") != OP_DELETE, body).alias("body")
    )


# Points per HTTP request. One-request-per-partition is unbounded: a few
# hundred thousand 768-dim points in a partition is a multi-hundred-MB
# body that real servers reject (Qdrant's default payload cap is 32 MB).
# The reference's per-point requests are the other extreme (qdrant.go
# sends one point per PUT); 2048 points ≈ 20 MB of float32 text at dim
# 768 — large enough to amortize HTTP overhead, small enough for any
# default server limit.
MAX_POINTS_PER_REQUEST = 2048


def _chunks(it, n: int):
    buf = []
    for x in it:
        buf.append(x)
        if len(buf) >= n:
            yield buf
            buf = []
    if buf:
        yield buf


def _extract_vector_size(doc: dict) -> int:
    """result.config.params.vectors.size from a GET /collections/{c}
    body — the unnamed-vector layout the engine writes (the reference's
    extractVectorSize, qdrant.go:147-172; named-vector collections
    return 0 here and the dim check is skipped, same as the Go)."""
    try:
        sz = doc["result"]["config"]["params"]["vectors"]["size"]
    except (KeyError, TypeError):
        return 0
    return int(sz) if isinstance(sz, (int, float)) else 0


def ensure_collection(
    url: str, collection: str, dim: int, distance: str = "Cosine",
    timeout_s: float = 15.0,
) -> int:
    """Create the collection if absent; verify the dimension if present
    (qdrant.go:70-145). Qdrant does NOT auto-create collections on
    upsert, so a sink pointed at a fresh server 404s on the first batch
    without this. Returns the effective dimension. A dim mismatch with
    an existing collection raises — silently writing wrong-sized vectors
    would fail every upsert with an opaque 400. Driver-side, once per
    pipeline (the runner hook caches the call), never per batch/row."""
    import json
    import urllib.error
    import urllib.request

    from .http import send_with_retry

    info_url = f"{url}/collections/{collection}"
    try:
        with urllib.request.urlopen(
            urllib.request.Request(info_url), timeout=timeout_s
        ) as resp:
            existing = _extract_vector_size(json.loads(resp.read()))
        if existing > 0 and dim > 0 and existing != dim:
            raise ValueError(
                f"collection {collection!r} exists with size={existing} "
                f"but the pipeline embeds dim={dim}; drop or recreate it"
            )
        return existing or dim
    except (urllib.error.HTTPError, urllib.error.URLError):
        # reference semantics (qdrant.go:82): ONLY a 200 skips creation —
        # any failed/absent info response falls through to the create,
        # whose own error is the authoritative one if the server is down
        pass
    req = urllib.request.Request(
        info_url,
        data=json.dumps(
            {"vectors": {"size": dim, "distance": distance}}
        ).encode(),
        headers={"Content-Type": "application/json"},
        method="PUT",
    )
    try:
        send_with_retry(req, timeout_s)
    except urllib.error.HTTPError as e:
        if e.code != 409:
            raise
        # 409 = the collection already exists (concurrent creator, or the
        # info GET above failed transiently while the collection was
        # there all along). Do NOT treat that as verified: re-fetch the
        # info and run the dim check — otherwise a mismatched collection
        # slips past and every subsequent upsert fails with opaque 400s
        with urllib.request.urlopen(
            urllib.request.Request(info_url), timeout=timeout_s
        ) as resp:
            existing = _extract_vector_size(json.loads(resp.read()))
        if existing > 0 and dim > 0 and existing != dim:
            raise ValueError(
                f"collection {collection!r} exists with size={existing} "
                f"but the pipeline embeds dim={dim}; drop or recreate it"
            ) from e
        return existing or dim
    return dim


def deliver_partition_http(
    rows, url: str, collection: str, timeout_s: float = 15.0,
    max_points: int = MAX_POINTS_PER_REQUEST,
):
    """foreachPartition writer over ``point_bodies`` rows: upserts go out
    as chunked PUT {url}/collections/{collection}/points?wait=true
    requests and deletes as chunked POST .../points/delete?wait=true
    requests (≤ ``max_points`` points each), where the reference sends
    one request per point (qdrant.go:196-275; qdrant.go:42 sets the same
    15s timeout). Ids are FNV-1a hashed here. Both calls are idempotent,
    so transient failures retry with backoff (sinks/http.py).

    One pass in any order is correct only because the rows are a batch's
    final events: each id appears once, so the upsert and delete id sets
    are disjoint."""
    import json
    import urllib.request

    from .http import send_with_retry

    def put(points):
        # splice the id into the JVM-built body instead of a loads/dumps
        # round-trip; the result keeps the {"id","vector","payload"}
        # key order
        send_with_retry(urllib.request.Request(
            f"{url}/collections/{collection}/points?wait=true",
            data=('{"points":[' + ",".join(points) + "]}").encode(),
            headers={"Content-Type": "application/json"},
            method="PUT",
        ), timeout_s)

    def delete(ids):
        send_with_retry(urllib.request.Request(
            f"{url}/collections/{collection}/points/delete?wait=true",
            data=json.dumps({"points": ids}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        ), timeout_s)

    ups, dels = [], []
    for r in rows:
        h = fnv1a64_py(r["id"])
        if r["op"] == OP_DELETE:
            dels.append(h)
            if len(dels) >= max_points:
                delete(dels)
                dels = []
        else:
            ups.append('{"id":%d,' % h + r["body"][1:])
            if len(ups) >= max_points:
                put(ups)
                ups = []
    if ups:
        put(ups)
    if dels:
        delete(dels)


def delete_by_filter_partition_http(
    rows, url: str, collection: str, timeout_s: float = 15.0,
    max_terms: int = 1024,
):
    """foreachPartition delete over (base_id) rows via Qdrant's filter
    form: POST points/delete {"filter": {"should": [{key: ext_base_id,
    match: ...}, ...]}} — clears EVERY point whose payload carries one of
    the base ids, however many chunk points the key currently has. The
    chunked pipeline's delete path (a delete event knows only its base
    id, never the historical chunk count). Idempotent → retried."""
    import json
    import urllib.request

    from .http import send_with_retry

    for bases in _chunks((r["base_id"] for r in rows), max_terms):
        body = json.dumps(
            {
                "filter": {
                    "should": [
                        {"key": "ext_base_id", "match": {"value": b}}
                        for b in bases
                    ]
                }
            }
        ).encode()
        req = urllib.request.Request(
            f"{url}/collections/{collection}/points/delete?wait=true",
            data=body,
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        send_with_retry(req, timeout_s)
