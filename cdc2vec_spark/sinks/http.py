"""Shared sink-HTTP plumbing: the partition writer every external
vector sink delivers through, and bounded retry with exponential
backoff.

The writer contract: a sink hook reduces its batch once (each id's or,
chunked, each base key's winning event), and its sink module's
``point_bodies`` turns that into rows ``(id, op[, base_id], body)``
JVM-side (``point_rows``). ``deliver_partition`` then streams one
partition out in batched requests through the sink module's three
endpoints — ``upsert(url, collection, rows)``, ``delete_ids(url,
collection, ids)`` and ``delete_bases(url, collection, bases)`` —
capped by its ``MAX_POINTS_PER_REQUEST`` and ``MAX_BASE_TERMS``.
``sinks.qdrant`` and ``sinks.milvus`` are the two sink modules.

The reference's sinks fail a whole pipeline batch on the first HTTP
error (qdrant.go:236-255 returns the error straight up; the pipeline
then DROPS the failed rows, pipeline.go:154-165). Our writer runs inside
foreachPartition, where an uncaught error fails the Spark task and the
micro-batch retries from the checkpoint — correct but heavyweight for a
transient 503/timeout. ``send_with_retry`` absorbs the transient class
at the request level:

- retried: network errors (URLError/timeout), HTTP 5xx, and 429
- fail-fast: any other 4xx (a malformed body never heals by resending)
- deterministic exponential backoff (0.5s, 1s, 2s, ... — no RNG), then
  the last error propagates and Spark's task retry takes over.

Safe because every request body the engine sends is idempotent: Qdrant
PUT upserts, Milvus upserts, and both delete forms converge under
at-least-once delivery (the same reason merge_batch tolerates replayed
micro-batches).
"""

from __future__ import annotations

import time
import urllib.error
import urllib.request

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cdc.envelope import OP_DELETE


def send_with_retry(
    req: "urllib.request.Request",
    timeout_s: float,
    retries: int = 3,
    backoff_s: float = 0.5,
) -> bytes:
    """Issue ``req``; on a retryable failure back off and resend up to
    ``retries`` more times. Returns the response body; raises the final
    error when attempts are exhausted or the error is not retryable."""
    attempt = 0
    while True:
        try:
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                return resp.read()
        except urllib.error.HTTPError as e:
            if not (e.code >= 500 or e.code == 429) or attempt >= retries:
                raise
        except (urllib.error.URLError, TimeoutError, ConnectionError):
            if attempt >= retries:
                raise
        time.sleep(backoff_s * (2**attempt))
        attempt += 1


def send_json(url: str, data: bytes, timeout_s: float, method: str = "POST") -> bytes:
    """``send_with_retry`` of one JSON request body."""
    return send_with_retry(urllib.request.Request(
        url, data=data, headers={"Content-Type": "application/json"},
        method=method,
    ), timeout_s)


def point_rows(fin: DataFrame, point: Column) -> DataFrame:
    """The writer's input rows (id, op[, base_id], body) from a batch's
    final events, built JVM-side: an upsert's ``body`` is the JSON of
    its ``point`` struct, a delete's is null."""
    keys = [c for c in ("id", "op", "base_id") if c in fin.columns]
    body = F.when(F.col("op") != OP_DELETE, F.to_json(point))
    return fin.select(*keys, body.alias("body"))


def deliver_partition(
    rows, sink, url: str, collection: str, chunked: bool = False,
    max_points: int | None = None, max_terms: int | None = None,
) -> None:
    """foreachPartition writer over ``sink.point_bodies`` rows of one
    reduced batch, in one pass: upserts go out ≤ ``max_points`` per
    request (default ``sink.MAX_POINTS_PER_REQUEST``), where the
    reference sends one request per point.

    Unchunked, each id appears once, routed by its final op to an
    upsert or a delete-by-id (≤ ``max_points`` ids per request); the two
    id sets are disjoint, so their requests may go out in any order.

    Chunked (rows carry ``base_id``), every base key in the partition is
    first filter-deleted (≤ ``max_terms`` per request, default
    ``sink.MAX_BASE_TERMS``) — that clears its old chunk set however
    many chunks it had — and a winning upsert's chunks are then upserted.
    Pending base deletes are flushed before every upsert request, so a
    base's delete always precedes its chunks. That is correct only
    because the batch's reduction (``final_events_chunked``) keeps all
    rows of one base key in one partition."""
    max_points = max_points or sink.MAX_POINTS_PER_REQUEST
    max_terms = max_terms or sink.MAX_BASE_TERMS
    ups, ids, bases, seen = [], [], [], set()

    def flush_bases():
        if bases:
            sink.delete_bases(url, collection, bases)
            bases.clear()

    for r in rows:
        if chunked and r["base_id"] not in seen:
            seen.add(r["base_id"])
            bases.append(r["base_id"])
            if len(bases) >= max_terms:
                flush_bases()
        if r["op"] != OP_DELETE:
            ups.append(r)
            if len(ups) >= max_points:
                flush_bases()
                sink.upsert(url, collection, ups)
                ups = []
        elif not chunked:
            ids.append(r["id"])
            if len(ids) >= max_points:
                sink.delete_ids(url, collection, ids)
                ids = []
    flush_bases()
    if ups:
        sink.upsert(url, collection, ups)
    if ids:
        sink.delete_ids(url, collection, ids)
