"""Qdrant sink parity helpers (the reference's internal/sink/qdrant/).

The reference derives the numeric Qdrant point id by FNV-1a-64 hashing
the external id string (qdrant.go:174-179) and sends single-point HTTP
upserts (qdrant.go:196-203). Here, the sink module of the shared
partition writer (``sinks.http.deliver_partition``):

- ``point_bodies`` — each final event's op and point JSON body
  (float32 vector + payload), built columnar in the JVM;
- ``upsert`` / ``delete_ids`` / ``delete_bases`` — the batched requests
  the writer sends. Ids are FNV-1a hashed inside the writer
  (``fnv1a64_py``: Spark's xxhash64 is a different function, so
  id-level compatibility with an existing Qdrant collection needs
  FNV-1a).

No Qdrant server exists in the test environment; tests pin hash parity
and payload shape.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.request

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .http import point_rows, send_json

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
    (id, op[, base_id], body), built JVM-side with no Python pass. An
    upsert's ``body`` is its point JSON without the id:
    {"vector": [...], "payload": metadata ∪ {"ext_id": id}}
    (qdrant.go:196-233: the payload always carries the external id).
    Vectors go out as float32 — the reference sends ``[]float32`` and
    Qdrant stores f32 — which is ~40% fewer bytes than double text.
    Chunked points (a ``base_id`` column present) additionally carry
    ``ext_base_id`` so delete-by-filter can clear a key's whole chunk
    set server-side. A delete's body is null. The FNV-1a id is added by
    ``upsert``, which is already in Python."""
    id_entries = [F.lit("ext_id"), F.col("id")]
    if "base_id" in fin.columns:
        id_entries += [F.lit("ext_base_id"), F.col("base_id")]
    payload = F.map_concat(F.col("metadata"), F.create_map(*id_entries))
    return point_rows(fin, F.struct(
        F.col("vector").cast("array<float>").alias("vector"),
        payload.alias("payload"),
    ))


# Points per HTTP request. One-request-per-partition is unbounded: a few
# hundred thousand 768-dim points in a partition is a multi-hundred-MB
# body that real servers reject (Qdrant's default payload cap is 32 MB).
# The reference's per-point requests are the other extreme (qdrant.go
# sends one point per PUT); 2048 points ≈ 20 MB of float32 text at dim
# 768 — large enough to amortize HTTP overhead, small enough for any
# default server limit.
MAX_POINTS_PER_REQUEST = 2048
# Base keys per delete-by-filter request (one "should" term each).
MAX_BASE_TERMS = 1024
# Per-request timeout (qdrant.go:42).
TIMEOUT_S = 15.0


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
    timeout_s: float = TIMEOUT_S,
) -> int:
    """Create the collection if absent; verify the dimension if present
    (qdrant.go:70-145). Qdrant does NOT auto-create collections on
    upsert, so a sink pointed at a fresh server 404s on the first batch
    without this. Returns the effective dimension. A dim mismatch with
    an existing collection raises — silently writing wrong-sized vectors
    would fail every upsert with an opaque 400. Driver-side, once per
    pipeline (the runner hook caches the call), never per batch/row."""
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
    try:
        send_json(
            info_url,
            json.dumps({"vectors": {"size": dim, "distance": distance}}).encode(),
            timeout_s, method="PUT",
        )
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


def _points_url(url: str, collection: str, action: str = "") -> str:
    return f"{url}/collections/{collection}/points{action}?wait=true"


def upsert(url: str, collection: str, rows) -> None:
    """PUT .../points?wait=true of ``point_bodies`` upsert rows. The
    FNV-1a id is spliced in front of each JVM-built body instead of a
    loads/dumps round-trip, so points keep the {"id","vector","payload"}
    key order."""
    points = ",".join('{"id":%d,' % fnv1a64_py(r["id"]) + r["body"][1:] for r in rows)
    send_json(
        _points_url(url, collection), ('{"points":[' + points + "]}").encode(),
        TIMEOUT_S, method="PUT",
    )


def delete_ids(url: str, collection: str, ids: list[str]) -> None:
    """POST .../points/delete?wait=true by FNV-1a point id."""
    send_json(
        _points_url(url, collection, "/delete"),
        json.dumps({"points": [fnv1a64_py(i) for i in ids]}).encode(), TIMEOUT_S,
    )


def delete_bases(url: str, collection: str, bases: list[str]) -> None:
    """POST .../points/delete?wait=true in the filter form
    {"filter": {"should": [{key: ext_base_id, match: ...}, ...]}}: clears
    EVERY point whose payload carries one of the base ids, however many
    chunk points the key currently has (a chunked delete knows only its
    base id, never the historical chunk count)."""
    should = [{"key": "ext_base_id", "match": {"value": b}} for b in bases]
    send_json(
        _points_url(url, collection, "/delete"),
        json.dumps({"filter": {"should": should}}).encode(), TIMEOUT_S,
    )
