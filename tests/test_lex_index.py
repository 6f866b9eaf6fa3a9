"""Incremental lexical (BM25) index — operators/lex_index.py.

d18 rides inside x3_rowsonly_ann (registry at the 50-entry budget); the
exact DuckDB oracle of the full build→CDC→query loop is pinned here at
two scale factors via the driver's comparator.
"""

from __future__ import annotations

import os
import re
import shutil

import pytest

# long e2e suite: deselected under the default driver-budget run
# (pytest.ini); the full suite is opt-in via -m ""
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from oracle_check import compare_one, duckdb_conn

from cdc2vec_spark.cdc.segments import SegmentStore
from cdc2vec_spark.io import load_table
from cdc2vec_spark.operators import lex_index
from cdc2vec_spark.operators.lex_index import IncrementalLexicalIndex
from cdc2vec_spark.operators.text import bm25_topk
from tests.conftest import SF0001, SF001
from tests.test_ann_index import _files, _new_segments

BATCH_DDL = "id string, text string, op string, lsn long"


@pytest.mark.parametrize("sf", [SF0001, SF001])
def test_d18_matches_duckdb_oracle(spark, sf):
    con = duckdb_conn(sf)
    problems = compare_one(
        spark, con, "d18_cdc_bm25",
        lex_index.d18_cdc_bm25, lex_index.D18_ORACLE_SQL, sf,
    )
    assert not problems, problems


def test_fresh_index_equals_batch_bm25(spark, tmp_path):
    """A freshly-built index must reproduce the batch operator
    bit-for-bit (same fixed-point scores, same order)."""
    d = load_table(spark, SF0001, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    ix = IncrementalLexicalIndex(spark, str(tmp_path / "lex"))
    ix.build(d)
    got = [tuple(r) for r in ix.topk(("spark", "query", "window")).collect()]
    want = [
        tuple(r)
        for r in bm25_topk(d, ("spark", "query", "window"), id_col="id").collect()
    ]
    assert got == want


def test_cdc_update_delete_and_compact(spark, tmp_path):
    """Hand-built loop: a delete disappears, an update is re-scored on
    its new text (stale postings dead), compact() preserves results and
    physically clears the tombstone log."""
    docs = spark.createDataFrame(
        [("a", "spark spark filler"), ("b", "spark filler filler"),
         ("c", "nothing here")],
        "id string, text string",
    )
    path = str(tmp_path / "lex")
    ix = IncrementalLexicalIndex(spark, path, n_buckets=4)
    ix.build(docs)
    assert [r["id"] for r in ix.topk(("spark",)).collect()] == ["a", "b"]

    batch = spark.createDataFrame(
        [("a", None, "d", 10),
         ("c", "spark spark spark spark", "u", 11)],
        "id string, text string, op string, lsn long",
    )
    ix.apply_batch(batch)
    after = [r["id"] for r in ix.topk(("spark",)).collect()]
    assert after == ["c", "b"]  # a gone; c re-scored on its new text

    ix.apply_batch(batch)  # idempotent replay
    assert [r["id"] for r in ix.topk(("spark",)).collect()] == after

    want = [tuple(r) for r in ix.topk(("spark",)).collect()]
    ix.compact()
    assert [tuple(r) for r in ix.topk(("spark",)).collect()] == want
    assert len(ix.store.segments()) == 1
    assert ix.store.read(parts=[lex_index.TOMB_BUCKET]) is None


def test_topk_reads_only_query_and_meta_buckets(spark, tmp_path):
    """Scale contract: over two live segments, a query scans only its
    terms' bucket dirs plus the tombstone/docstats partitions of each —
    asserted on the scan paths in the executed plan."""
    d = load_table(spark, SF0001, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    ix = IncrementalLexicalIndex(spark, str(tmp_path / "lex"), n_buckets=16)
    ix.build(d)
    ix.apply_batch(spark.createDataFrame(
        [("new", "spark fresh words", "c", 10), ("0", None, "d", 11)], BATCH_DDL
    ))
    assert len(ix.store.segments()) == 2
    files = ix.topk(("spark",)).inputFiles()
    scanned = {m for f in files for m in re.findall(r"bucket=(-?\d+)", f)}
    assert {"-1", "-2"} <= scanned  # tombstones, docstats
    posting_buckets = {b for b in scanned if int(b) >= 0}
    assert len(posting_buckets) == 1  # exactly the one query term's bucket
    assert len({m for f in files for m in re.findall(r"seg-\d+-\w+", f)}) == 2


def test_auto_compaction_bounds_tombstone_log(spark, tmp_path):
    """Delete-heavy batches must trigger compact() automatically: the
    tombstone partition stays bounded without any manual call."""
    docs = spark.createDataFrame(
        [(str(i), f"tok{i} spark filler") for i in range(40)],
        "id string, text string",
    )
    path = str(tmp_path / "lex")
    ix = IncrementalLexicalIndex(
        spark, path, n_buckets=4, auto_compact_ratio=0.5, auto_compact_min=8
    )
    ix.build(docs)
    # delete 30 of 40 docs across several batches: tombstones would grow
    # to 30 without the trigger; ratio 0.5 × live forces compactions
    for lo in range(0, 30, 10):
        batch = spark.createDataFrame(
            [(str(i), None, "d", 100 + i) for i in range(lo, lo + 10)],
            "id string, text string, op string, lsn long",
        )
        ix.apply_batch(batch)
    tombs = ix.store.read(parts=[-1])
    n_tombs = tombs.count() if tombs is not None else 0
    live = {r["id"] for r in ix.topk(("spark",), k=50).collect()}
    assert live == {str(i) for i in range(30, 40)}
    # the log was compacted at least once: far fewer than 30 tombstones
    assert n_tombs <= 10, f"tombstone log unbounded: {n_tombs} rows"


def test_filtered_search_with_payload_columns(spark, tmp_path):
    """payload_cols + predicate: the result is the true top-k OF THE
    FILTERED SET with corpus-wide stats — i.e. exactly the unfiltered
    ranking restricted to predicate-satisfying docs; and a CDC update
    that changes a doc's payload filters by the NEW value."""
    d = load_table(spark, SF0001, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "text", "lang"
    )
    path = str(tmp_path / "lex")
    ix = IncrementalLexicalIndex(
        spark, path, n_buckets=8, payload_cols=("lang",)
    )
    ix.build(d)
    q = ("spark", "query")
    unfiltered = ix.topk(q, k=10**6).collect()  # full scored list
    want = [
        (r["id"], r["n_hit_terms"], r["score_micro"])
        for r in unfiltered
        if r["lang"] == "en"
    ][:5] if "lang" in (unfiltered[0].asDict() if unfiltered else {}) else None
    # topk output doesn't carry payload columns; recompute expectation
    # from the doc table instead
    en_ids = {r["id"] for r in d.where(F.col("lang") == "en").collect()}
    want = [
        (r["id"], r["n_hit_terms"], r["score_micro"])
        for r in unfiltered if r["id"] in en_ids
    ][:5]
    got = [
        (r["id"], r["n_hit_terms"], r["score_micro"])
        for r in ix.topk(q, k=5, predicate="lang = 'en'").collect()
    ]
    assert got == want and got

    # CDC: retag the top filtered doc to lang 'zz' — it must drop out
    top_id = got[0][0]
    top_text = d.where(F.col("id") == top_id).first()["text"]
    batch = spark.createDataFrame(
        [(top_id, top_text, "zz", "u", 99)],
        "id string, text string, lang string, op string, lsn long",
    )
    ix.apply_batch(batch)
    after = [r["id"] for r in ix.topk(q, k=5, predicate="lang = 'en'").collect()]
    assert top_id not in after
    zz = [r["id"] for r in ix.topk(q, k=5, predicate="lang = 'zz'").collect()]
    assert zz == [top_id]


def test_rebuild_wipes_stale_state(spark, tmp_path):
    """build() into a non-empty path must replace prior state —
    otherwise stale term buckets survive and old tombstones (lsn > 0)
    outrank every rebuilt row (lsn 0), silently dropping the whole
    rebuilt corpus from results."""
    path = str(tmp_path / "lex")
    a = spark.createDataFrame(
        [("a1", "spark alpha"), ("a2", "spark beta")], "id string, text string"
    )
    ix = IncrementalLexicalIndex(spark, path, n_buckets=4)
    ix.build(a)
    # delete a1 → a tombstone with lsn 5 in bucket=-1
    ix.apply_batch(
        spark.createDataFrame([("a1", None, "d", 5)],
                              "id string, text string, op string, lsn long")
    )
    b = spark.createDataFrame(
        [("b1", "spark gamma"), ("b2", "delta words")], "id string, text string"
    )
    ix2 = IncrementalLexicalIndex(spark, path, n_buckets=4)
    ix2.build(b)
    got = {r["id"] for r in ix2.topk(("spark",), k=10).collect()}
    assert got == {"b1"}  # no a-corpus leftovers, no tombstone shadowing


def test_schema_freeze_rejects_mismatched_writer(spark, tmp_path):
    """The build-time schema freeze makes a writer configured with
    different payload columns fail loudly instead of mis-merging into
    the bucket files."""
    path = str(tmp_path / "lex")
    docs = spark.createDataFrame(
        [("a", "spark words", "en")], "id string, text string, lang string"
    )
    ix = IncrementalLexicalIndex(spark, path, n_buckets=4, payload_cols=("lang",))
    ix.build(docs)
    bad = IncrementalLexicalIndex(spark, path, n_buckets=4)  # no payload_cols
    with pytest.raises(ValueError, match="schema"):
        bad.apply_batch(
            spark.createDataFrame([("b", "more words", "c", 7)],
                                  "id string, text string, op string, lsn long")
        )


def test_compaction_counters_track_disk_without_count_jobs(spark, tmp_path):
    """The compaction trigger reads Observation-fed counters fed by
    each write: they must equal the rows the live segments hold after
    build and after each batch, and the trigger check must not read
    state when the counters are warm."""
    from unittest import mock

    path = str(tmp_path / "lex")
    docs = spark.createDataFrame(
        [("a", "spark alpha"), ("b", "beta words"), ("c", "gamma spark")],
        "id string, text string",
    )
    ix = IncrementalLexicalIndex(spark, path, n_buckets=4)
    ix.build(docs)
    assert ix._tomb_rows == 0 and ix._doc_rows == 3
    ix.apply_batch(
        spark.createDataFrame(
            [("a", None, "d", 10), ("d", "fresh spark doc", "c", 11)],
            "id string, text string, op string, lsn long",
        )
    )
    stored = ix.store._load(ix.store.segments())  # no cross-segment resolve
    tombs = stored.where(F.col("bucket") == lex_index.TOMB_BUCKET).count()
    docstats = stored.where(F.col("bucket") == lex_index.DOC_BUCKET).count()
    assert (tombs, docstats) == (2, 4)
    assert ix._tomb_rows == tombs and ix._doc_rows == docstats
    # warm counters (below the compact floor): the trigger must decide
    # from the cached longs, not fresh count jobs
    no_read = AssertionError("trigger must not re-read state")
    with mock.patch.object(SegmentStore, "read", side_effect=no_read), \
            mock.patch.object(SegmentStore, "_load", side_effect=no_read):
        ix._maybe_compact()


def test_stats_track_live_corpus_through_cdc(spark, tmp_path):
    """stats() = the CDC-maintained t1/t6/t7 report: after build it
    matches batch truth over the corpus; after a delete + an update it
    matches batch truth over the SURVIVING corpus — no rescan."""
    docs = spark.createDataFrame(
        [("a", "spark query spark engine"), ("b", "window query plan"),
         ("c", "filler text here now")],
        "id string, text string",
    )
    path = str(tmp_path / "lex")
    ix = IncrementalLexicalIndex(spark, path, n_buckets=4)
    ix.build(docs)

    def batch_truth(surviving):
        rows = surviving.select(
            F.col("id"), F.size(F.split(F.lower("text"), " ")).alias("dl")
        ).collect()
        toks = {
            r["id"]: set(t.lower() for t in r2["text"].split(" "))
            for r, r2 in zip(rows, surviving.collect())
        }
        df_counts = {}
        for ts in toks.values():
            for t in ts:
                df_counts[t] = df_counts.get(t, 0) + 1
        top = sorted(df_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        return {
            "n_docs": len(rows),
            "total_tokens": sum(r["dl"] for r in rows),
            "top": top,
        }

    s = ix.stats(top_k=5)
    want = batch_truth(docs)
    assert s["n_docs"] == want["n_docs"]
    assert s["total_tokens"] == want["total_tokens"]
    assert s["top_terms"] == want["top"][:5]

    # delete b, rewrite c: stats must follow the live state
    ix.apply_batch(spark.createDataFrame(
        [("b", None, "d", 10), ("c", "spark spark only", "u", 11)],
        "id string, text string, op string, lsn long",
    ))
    surviving = spark.createDataFrame(
        [("a", "spark query spark engine"), ("c", "spark spark only")],
        "id string, text string",
    )
    s2 = ix.stats(top_k=5)
    want2 = batch_truth(surviving)
    assert s2["n_docs"] == want2["n_docs"]
    assert s2["total_tokens"] == want2["total_tokens"]
    assert s2["top_terms"] == want2["top"][:5]
    assert s2["p50_dl"] > 0 and s2["avg_dl"] > 0


def test_chunked_replace_set_tombstones(spark, tmp_path):
    """chunked=True (the ann_index contract): base-id tombstones give
    replace-set chunk semantics for the lexical index too."""
    from cdc2vec_spark.operators.lex_index import IncrementalLexicalIndex

    path = str(tmp_path / "clex")
    ix = IncrementalLexicalIndex(spark, path, auto_compact_ratio=None, chunked=True)
    b1 = spark.createDataFrame(
        [
            ("A#0", "alpha beta", "c", 1),
            ("A#1", "beta gamma", "c", 1),
            ("A#2", "gamma delta", "c", 1),
            ("B#0", "epsilon zeta", "c", 1),
        ],
        "id string, text string, op string, lsn long",
    )
    ix.apply_batch(b1)
    assert {r["id"] for r in ix.topk(("beta",), k=10).collect()} == {"A#0", "A#1"}

    # A shrinks to 2 chunks; B deleted as one base row
    b2 = spark.createDataFrame(
        [
            ("A#0", "alpha beta", "u", 2),
            ("A#1", "beta omega", "u", 2),
            ("B", None, "d", 3),
        ],
        "id string, text string, op string, lsn long",
    )
    ix.apply_batch(b2)
    assert {r["id"] for r in ix.topk(("gamma",), k=10).collect()} == set()
    assert {r["id"] for r in ix.topk(("epsilon",), k=10).collect()} == set()
    assert {r["id"] for r in ix.topk(("beta",), k=10).collect()} == {"A#0", "A#1"}

    # reader attach restores the flag from _meta.json; stats follow live
    rd = IncrementalLexicalIndex(spark, path)
    assert rd.chunked
    assert rd.stats()["n_docs"] == 2

    ix.compact()
    assert {r["id"] for r in ix.topk(("beta",), k=10).collect()} == {"A#0", "A#1"}


def _ranked(ix, terms=("spark",)):
    return [tuple(r) for r in ix.topk(terms, k=10).collect()]


def test_apply_writes_one_segment_and_modifies_no_file(spark, tmp_path):
    """An apply appends one segment — its term buckets, tombstones and
    docstats, one file per bucket — and leaves every existing file as
    it was."""
    ix = IncrementalLexicalIndex(spark, str(tmp_path / "lex"), n_buckets=4)
    ix.build(spark.createDataFrame(
        [("a", "spark alpha"), ("b", "beta words")], "id string, text string"
    ))
    before = _files(ix.path)
    ix.apply_batch(spark.createDataFrame(
        [("a", None, "d", 10), ("c", "spark gamma", "c", 11)], BATCH_DDL
    ))
    after = _files(ix.path)
    segs = _new_segments(before, after)
    assert len(segs) == 1
    seg = os.path.join(ix.path, "data", segs.pop())
    buckets = sorted(n for n in os.listdir(seg) if n.startswith("bucket="))
    assert {"bucket=-1", "bucket=-2"} <= set(buckets)
    for b in buckets:
        assert len([f for f in os.listdir(os.path.join(seg, b)) if f.endswith(".parquet")]) == 1


def test_bucket_layout_index_upgrades_in_place(spark, tmp_path):
    """An index in the earlier layout — root bucket=<i>/ dirs written by
    partitionBy, one bucket stranded under <path>.old/ by a crash, plus
    the sidecars — opens as one adopted segment and ranks exactly as the
    same index in segments does, after an apply and after its first
    compaction too."""
    d = load_table(spark, SF0001, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    ref = IncrementalLexicalIndex(spark, str(tmp_path / "ref"), n_buckets=8)
    ref.build(d)
    ref.apply_batch(spark.createDataFrame(
        [("0", None, "d", 10), ("1", "spark query window spark", "u", 11)], BATCH_DDL
    ))
    old = str(tmp_path / "old")
    ref.store.read().write.partitionBy("bucket").parquet(old)
    for suffix in ("_schema.json", "_meta.json"):
        shutil.copy(ref.path + suffix, old + suffix)
    stranded = "bucket=-1"
    os.makedirs(old + ".old")
    os.rename(os.path.join(old, stranded), os.path.join(old + ".old", stranded))

    ix = IncrementalLexicalIndex(spark, old)
    assert ix.n_buckets == 8
    q = ("spark", "query", "window")
    assert _ranked(ix, q) == _ranked(ref, q)
    assert not os.path.exists(old + ".old")
    assert not [n for n in os.listdir(old) if n.startswith("bucket=")]
    (seg,) = ix.store.segments()
    assert seg.seq == -1
    batch = spark.createDataFrame([("9999", "window window spark", "c", 12)], BATCH_DDL)
    for index in (ref, ix):
        index.apply_batch(batch)
    assert _ranked(ix, q) == _ranked(ref, q)
    ix.compact()
    assert _ranked(ix, q) == _ranked(ref, q)
    assert len(ix.store.segments()) == 1
    assert ix.stats() == ref.stats()


@pytest.mark.parametrize("step", ["apply", "compact"])
def test_crash_before_publish_leaves_topk_unchanged(spark, tmp_path, monkeypatch, step):
    """A crash between a segment's write and its manifest publish —
    an apply's, or a compaction's — leaves the index as it was."""
    ix = IncrementalLexicalIndex(spark, str(tmp_path / "lex"), n_buckets=4)
    ix.build(spark.createDataFrame(
        [("a", "spark alpha"), ("b", "spark beta spark")], "id string, text string"
    ))
    ix.apply_batch(spark.createDataFrame([("a", None, "d", 5)], BATCH_DDL))
    want = _ranked(ix)
    segs = ix.store.segments()

    def crash(*a, **k):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(SegmentStore, "_publish", crash)
    with pytest.raises(RuntimeError, match="crash before publish"):
        if step == "apply":
            ix.apply_batch(spark.createDataFrame(
                [("b", None, "d", 6), ("c", "spark spark spark", "c", 7)], BATCH_DDL
            ))
        else:
            ix.compact()
    monkeypatch.undo()
    assert ix.store.segments() == segs
    assert _ranked(IncrementalLexicalIndex(spark, ix.path)) == want
