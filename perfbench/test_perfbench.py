"""Tests of the benchmark's own machinery (no Spark needed):

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import urllib.request
from datetime import datetime, timezone

import numpy as np
import pytest

import gen
import run
import stats
from mock_sink import MockQdrant


def test_same_seed_same_files_and_reference():
    a_warm, a_files = gen.backfill_log(7, 50, 3, 200)
    b_warm, b_files = gen.backfill_log(7, 50, 3, 200)
    blobs = [gen.parquet_bytes(t) for t in (a_warm, *a_files)]
    assert blobs == [gen.parquet_bytes(t) for t in (b_warm, *b_files)]
    assert gen.reference_state([a_warm, *a_files]) == gen.reference_state([b_warm, *b_files])
    _, c_files = gen.backfill_log(8, 50, 3, 200)
    assert gen.parquet_bytes(c_files[0]) != blobs[1]


def test_corpus_tables_are_fixed():
    a, b = gen.corpus_tables(), gen.corpus_tables()
    assert all(a[k].equals(b[k]) for k in a)
    assert a["documents"].num_rows == 5000 and a["orders"].num_rows == 150000


def test_backfill_mix_and_lsn_order():
    warm, files = gen.backfill_log(1, 100, 4, 1000)
    rows = [r for t in files for r in t.to_pylist()]
    lsns = [r["lsn"] for t in (warm, *files) for r in t.to_pylist()]
    assert lsns == sorted(lsns) and len(set(lsns)) == len(lsns)
    mapped = [r for r in rows if r["tbl"] == gen.MAPPED]
    assert 0.07 < 1 - len(mapped) / len(rows) < 0.13
    ops = [r["op"] for r in mapped]
    assert 0.75 < ops.count("c") / len(ops) < 0.85
    assert 0.02 < ops.count("d") / len(ops) < 0.08


def test_reference_applies_guards_deletes_and_last_write():
    log = gen.ChangeLog(np.random.default_rng(0))
    log.add("c", 1, "alpha beta")
    log.add("u", 1, "gamma delta")
    log.add("c", 2, "one two")
    log.add("d", 2, None)
    log.add("c", 3, "x y")
    log.rows["after_title"][-1] = ""  # empty text: the engine skips it
    log.rows["after_content"][-1] = None
    log.add_unmapped("not indexed")
    ref = gen.reference_state([log.take()])
    assert ref == {"public.documents:1": (2, "gamma delta")}


def _checkpoint(tmp_path, batches, commit_times):
    src = tmp_path / "ckpt" / "sources" / "0"
    com = tmp_path / "ckpt" / "commits"
    src.mkdir(parents=True)
    com.mkdir(parents=True)
    for b, names in enumerate(batches):
        lines = ["v1"] + [
            json.dumps({"path": f"file:///x/{n}", "timestamp": 0, "batchId": b}) for n in names
        ]
        (src / str(b)).write_text("\n".join(lines) + "\n")
        (com / str(b)).write_text('v1\n{"nextBatchWatermarkMs":0}\n')
        os.utime(com / str(b), ns=(int(commit_times[b] * 1e9),) * 2)
    return str(tmp_path / "ckpt")


def test_freshness_and_percentiles_from_logs(tmp_path):
    ckpt = _checkpoint(tmp_path, [["a", "b"], ["c"]], [1000.5, 1002.0])
    files = [("a", 1000.0, 10), ("b", 1000.1, 30), ("c", 1001.0, 60), ("d", 1001.5, 5)]
    delivered = stats.delivery(files, ckpt)
    assert delivered[:3] == [(0, 1000.5), (0, 1000.5), (1, 1002.0)] and delivered[3] is None
    fresh = stats.freshness_ms(files, delivered)
    assert len(fresh) == 100
    assert sorted(set(np.round(fresh, 3))) == [400.0, 500.0, 1000.0]
    assert stats.median(fresh) == pytest.approx(1000.0)
    assert stats.percentile(fresh, 40) == pytest.approx(500.0)
    assert stats.percentile([1, 2, 3, 4], 50) == 2.0  # observed, not interpolated
    assert stats.percentile(list(range(101)), 99) == pytest.approx(99.0)

    def iso(t):
        return datetime.fromtimestamp(t, timezone.utc).isoformat()

    progress = [
        {"batchId": 0, "timestamp": iso(1000.2)},
        {"batchId": 1, "timestamp": iso(1001.2)},
    ]
    starts = stats.batch_starts(progress)
    assert stats.queue_wait_ms(files, delivered, starts) == pytest.approx([200, 100, 200])


def test_compacted_source_log(tmp_path):
    ckpt = _checkpoint(tmp_path, [["a"], ["b"]], [10.0, 11.0])
    src = tmp_path / "ckpt" / "sources" / "0"
    (src / "1").rename(src / "1.compact")
    assert stats.read_file_batches(ckpt) == {"a": 0, "b": 1}


def _points(ref):
    return [[k, lsn] for k, (lsn, _t) in ref.items()]


def test_planted_wrong_lsn_fails():
    warm, files = gen.backfill_log(5, 20, 2, 50)
    ref = gen.reference_state([warm, *files])

    def embed(text):
        return np.frombuffer(text.encode()[:8].ljust(8, b"x"), dtype=np.uint8).astype(float)

    sample = sorted(ref)[:3]
    vectors = []
    for k in sample:
        v = embed(ref[k][1])
        vectors.append([k, list(v / np.linalg.norm(v))])
    sink = {run.fnv1a64(k) for k in ref}
    live = _points(ref)
    attempted, failed = run.check_cdc(ref, live, vectors, sample, sink, 0, embed)
    assert failed == 0 and attempted > len(ref)
    # a stale row beside the right one: dict(live) alone would keep the last
    k, lsn = live[0]
    attempted, failed = run.check_cdc(ref, [[k, lsn - 1]] + live, vectors, sample, sink, 0, embed)
    assert failed == 1 and failed / attempted > 0
    _, failed = run.check_cdc(ref, live, vectors + [vectors[0]], sample, sink, 0, embed)
    assert failed == 1  # a sampled vector held twice
    live[0][1] += 1  # a wrong LSN in the state
    attempted, failed = run.check_cdc(ref, live, vectors, sample, sink, 0, embed)
    assert failed == 1 and failed / attempted > 0
    _, failed = run.check_cdc(ref, _points(ref), vectors, sample, sink - {min(sink)}, 1, embed)
    assert failed == 2  # one point missing at the sink, one errored request


def test_fnv1a64_matches_the_known_vector():
    assert run.fnv1a64("") == 0xCBF29CE484222325
    assert run.fnv1a64("a") == 0xAF63DC4C8601EC8C


def test_mock_sink_tracks_points():
    with MockQdrant(dim=4, threads=2) as mock:
        def call(method, path, body):
            req = urllib.request.Request(mock.url + path, data=body, method=method)
            with urllib.request.urlopen(req, timeout=10) as resp:
                return json.loads(resp.read())

        info = call("GET", "/collections/c", None)
        assert info["result"]["config"]["params"]["vectors"]["size"] == 4
        body = b'{"points":[{"id":11,"vector":[0.1],"payload":{}},{"id":12,"vector":[0.2],"payload":{}}]}'
        call("PUT", "/collections/c/points?wait=true", body)
        call("POST", "/collections/c/points/delete?wait=true", b'{"points":[12]}')
        call("PUT", "/collections/c/points?wait=true", b'{"points":[]}')
        assert mock.live_ids() == {11}
        requests, n_bytes, errors = mock.counters()
        assert (requests, errors) == (3, 1) and n_bytes > len(body)
