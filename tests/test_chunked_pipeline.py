"""Chunked CDC pipeline: build_points(chunk=...) + ChunkedPointsCollection.

A doc longer than the embedder context syncs as per-chunk points
(id='<base>#<k>'); the collection applies REPLACE-SET semantics per base
key — the failure modes under test are stale tail chunks surviving a
shrinking update and deletes that can't enumerate chunk ids.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc2vec_spark.cdc.pipeline import build_points
from cdc2vec_spark.config import DOCUMENTS_MAPPING
from cdc2vec_spark.embed.provider import DeterministicHashProvider
from cdc2vec_spark.runner import ChunkedPointsCollection

import pytest

# long e2e suite: deselected under the default driver-budget run
# (pytest.ini); the full suite is opt-in via -m ""
pytestmark = pytest.mark.slow

PROV = DeterministicHashProvider(dim=8)


def _changes(spark, rows):
    return spark.createDataFrame(
        rows,
        "op string, tbl string, pk string, lsn long, "
        "after_title string, after_content string, after_author string",
    )


def _doc(pk, lsn, n_tokens, op="c"):
    content = " ".join(f"tok{pk}_{i}" for i in range(n_tokens))
    return (op, "public.documents", pk, lsn, None, content, "au")


def test_chunked_build_points_shapes_and_ids(spark):
    ch = _changes(spark, [
        _doc("a", 10, 20),                      # 20 toks, C=8 S=6 -> 1+ceil(12/6)=3 chunks
        _doc("b", 11, 5),                       # short -> 1 chunk
        ("d", "public.documents", "c", 12, None, None, None),  # delete
    ])
    pts = build_points(ch, DOCUMENTS_MAPPING, PROV, chunk=(8, 6))
    rows = {r["id"]: r for r in pts.collect()}
    assert set(rows) == {
        "public.documents:a#0", "public.documents:a#1", "public.documents:a#2",
        "public.documents:b#0", "public.documents:c",
    }
    assert rows["public.documents:c"]["op"] == "d"
    assert rows["public.documents:c"]["vector"] is None
    assert rows["public.documents:c"]["base_id"] == "public.documents:c"
    assert rows["public.documents:a#1"]["base_id"] == "public.documents:a"
    # distinct chunk texts embed to distinct vectors
    assert (
        rows["public.documents:a#0"]["vector"]
        != rows["public.documents:a#1"]["vector"]
    )


def test_chunk_none_is_unchanged(spark):
    ch = _changes(spark, [_doc("a", 10, 20)])
    pts = build_points(ch, DOCUMENTS_MAPPING, PROV)
    assert "base_id" not in pts.columns
    assert [r["id"] for r in pts.collect()] == ["public.documents:a"]


def _apply(spark, coll, rows, chunk=(8, 6)):
    pts = build_points(_changes(spark, rows), DOCUMENTS_MAPPING, PROV, chunk=chunk)
    coll.apply_points(pts)


def test_replace_set_semantics(spark, tmp_path):
    coll = ChunkedPointsCollection(spark, str(tmp_path / "pts"))
    # batch 1: A long (3 chunks) + B short (1 chunk)
    _apply(spark, coll, [_doc("a", 10, 20), _doc("b", 11, 5)])
    live = {r["id"] for r in coll.live().collect()}
    assert live == {
        "public.documents:a#0", "public.documents:a#1", "public.documents:a#2",
        "public.documents:b#0",
    }
    # batch 2: A shrinks to 1 chunk — stale tail chunks MUST disappear
    _apply(spark, coll, [_doc("a", 20, 5, op="u")])
    live = {r["id"] for r in coll.live().collect()}
    assert live == {"public.documents:a#0", "public.documents:b#0"}
    # batch 3: delete B — every chunk of B gone, tombstone retained
    _apply(spark, coll, [("d", "public.documents", "b", 30, None, None, None)])
    live = {r["id"] for r in coll.live().collect()}
    assert live == {"public.documents:a#0"}
    state_ops = {(r["id"], r["op"]) for r in coll.read().collect()}
    assert ("public.documents:b", "d") in state_ops


def test_replay_and_stale_batch_are_noops(spark, tmp_path):
    coll = ChunkedPointsCollection(spark, str(tmp_path / "pts"))
    batch1 = [_doc("a", 10, 20)]
    batch2 = [_doc("a", 20, 5, op="u")]
    _apply(spark, coll, batch1)
    _apply(spark, coll, batch2)
    want = sorted(map(tuple, coll.read().drop("bucket").collect()))
    _apply(spark, coll, batch2)  # exact replay
    assert sorted(map(tuple, coll.read().drop("bucket").collect())) == want
    _apply(spark, coll, batch1)  # stale replay: must not resurrect chunks
    assert sorted(map(tuple, coll.read().drop("bucket").collect())) == want
