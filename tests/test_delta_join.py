"""c19/c20 — two-sided delta-join IVM (IncrementalJoinView) and the
composed join-AGGREGATE view maintained alongside it.

Exact DuckDB oracles at two SFs via the driver's comparator; per-batch
incremental≡recompute (view AND aggregate) on crafted streams covering
fact updates that MOVE the join key, dim updates fanning out to every
joined fact, dim deletes dropping their facts, fact deletes and
reinserts; replay idempotence; torn-commit rebuild of every derived
store; the segment-log base states (one segment per apply, the
bucket-layout upgrade, a crash before publish).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oracle_check import compare_one, duckdb_conn

from cdc2vec_spark.cdc.delta_join import (
    C19_ORACLE_SQL,
    C20_ORACLE_SQL,
    IncrementalJoinView,
    c19_incremental_join,
    c20_incremental_join_agg,
)
from cdc2vec_spark.cdc.ivm import _read_epoch, _write_epoch
from cdc2vec_spark.session import clear
from tests.conftest import SF0001, SF001


@pytest.mark.parametrize("sf", [SF0001, SF001])
def test_c19_matches_duckdb_oracle(spark, sf):
    clear()
    con = duckdb_conn(sf)
    problems = compare_one(
        spark, con, "c19_incremental_join", c19_incremental_join,
        C19_ORACLE_SQL, sf,
    )
    assert not problems, (sf, problems)


@pytest.mark.parametrize("sf", [SF0001, SF001])
def test_c20_matches_duckdb_oracle(spark, sf):
    """c20 (round 13): the composed join-AGGREGATE face — per-tier live
    fact count + total title chars maintained delta-driven alongside the
    view, vs the batch GROUP BY over the joined LWW closures."""
    clear()
    con = duckdb_conn(sf)
    problems = compare_one(
        spark, con, "c20_incremental_join_agg", c20_incremental_join_agg,
        C20_ORACLE_SQL, sf,
    )
    assert not problems, (sf, problems)


@pytest.mark.slow
def test_c19_exercises_dim_updates_and_deletes(spark, sf_dir):
    """Non-vacuity: the synthesized dim stream must actually change
    tiers mid-replay (even n) and delete authors (n%5=3), and the view
    must reflect both — otherwise the graded face silently degrades to
    a static-dim enrichment."""
    from cdc2vec_spark.cdc.delta_join import dim_changes_df

    ch = dim_changes_df(spark, sf_dir)
    ops = {r["op"] for r in ch.select("op").distinct().collect()}
    assert ops == {"c", "u", "d"}, ops
    clear()
    view = c19_incremental_join(spark, sf_dir)
    authors = {r["author"] for r in view.select("author").distinct().collect()}
    deleted = {
        r["akey"]
        for r in ch.where(F.col("op") == "d").select("akey").collect()
    }
    assert deleted and not (authors & deleted)
    # updated authors' tiers reflect the LAST write ((n+5)%3, not n%3)
    upd = {
        r["akey"] for r in ch.where(F.col("op") == "u").select("akey").collect()
    }
    got = {
        r["author"]: r["tier"]
        for r in view.select("author", "tier").distinct().collect()
    }
    for a in upd & set(got):
        n = int(a[3:])
        assert got[a] == (n + 5) % 3, (a, got[a])


def _mk(spark, rows, key, payload):
    return spark.createDataFrame(
        rows, f"op string, lsn long, {key} string, {payload}"
    )


def _view_rows(ivj):
    v = ivj.read()
    if v is None:
        return set()
    return {tuple(r) for r in v.collect()}


def _batch_join(l_rows, r_rows):
    """Python reference: LWW both sides, inner join."""
    lww_l: dict = {}
    for op, lsn, pk, fk, t in l_rows:
        if pk not in lww_l or lsn > lww_l[pk][0]:
            lww_l[pk] = (lsn, op, fk, t)
    lww_r: dict = {}
    for op, lsn, k, tier in r_rows:
        if k not in lww_r or lsn > lww_r[k][0]:
            lww_r[k] = (lsn, op, tier)
    out = set()
    for pk, (_, op, fk, t) in lww_l.items():
        if op == "d":
            continue
        r = lww_r.get(fk)
        if r is None or r[1] == "d":
            continue
        out.add((pk, fk, t, r[2]))
    return out


def _agg_ref(view_rows):
    """Python reference for the maintained join-agg: per tier, live
    fact count + sum(coalesce(length(t), 0)) over the reference view."""
    out: dict = {}
    for _pk, _fk, t, tier in view_rows:
        n, s = out.get(tier, (0, 0))
        out[tier] = (n + 1, s + (len(t) if t is not None else 0))
    return {(tier, n, s) for tier, (n, s) in out.items()}


def _agg_rows(ivj):
    a = ivj.read_agg()
    if a is None:
        return set()
    return {
        (r["tier"], r["_n"], r["tchars"])
        for r in a.collect()
    }


@pytest.mark.slow
def test_incremental_equals_recompute_every_batch(spark, tmp_path):
    """The crafted walk: fk-moving fact update, dim update fanning out,
    dim delete dropping facts, fact delete + reinsert — after EVERY
    batch the maintained view equals the batch join of the LWW states,
    and the maintained join-AGGREGATE (c20's engine) equals the same
    reference grouped per tier."""
    ivj = IncrementalJoinView(
        spark, str(tmp_path / "jv"),
        l_key="pk", l_fk="fk", l_payload=("t",),
        r_key="k", r_payload=("tier",), n_buckets=4,
        agg_group=("tier",),
        agg_sums={"tchars": "coalesce(length(t), 0)"},
    )
    batches = [
        # batch 1: plain inserts both sides
        (
            [("c", 1, "p1", "a", "x"), ("c", 2, "p2", "a", "y"),
             ("c", 3, "p3", "b", "z")],
            [("c", 1, "a", "t0"), ("c", 2, "b", "t1"), ("c", 3, "c", "t2")],
        ),
        # batch 2: p1 MOVES a→c (cross-bucket fkidx retire), dim b
        # updates (fans to p3), new fact p4 at dangling fk d (no
        # partner — stays out of the inner view)
        (
            [("u", 10, "p1", "c", "x2"), ("c", 11, "p4", "d", "w")],
            [("u", 10, "b", "t1b")],
        ),
        # batch 3: dim a DELETES (drops p2), p3 deletes, dim d arrives
        # late (p4 appears), p2's old fk a gets a stale replay (ignored)
        (
            [("d", 20, "p3", None, None), ("c", 2, "p2", "a", "y")],
            [("d", 20, "a", None), ("c", 21, "d", "t3")],
        ),
        # batch 4: p3 reinserts at fk d; dim c updates (fans to p1)
        (
            [("c", 30, "p3", "d", "z2")],
            [("u", 30, "c", "t2b")],
        ),
    ]
    seen_l: list = []
    seen_r: list = []
    for l_rows, r_rows in batches:
        seen_l += l_rows
        seen_r += r_rows
        ivj.apply_batch(
            _mk(spark, l_rows, "pk", "fk string, t string"),
            _mk(spark, r_rows, "k", "tier string"),
        )
        ref = _batch_join(seen_l, seen_r)
        assert _view_rows(ivj) == ref
        assert _agg_rows(ivj) == _agg_ref(ref)


@pytest.mark.slow
def test_replay_idempotent(spark, tmp_path):
    ivj = IncrementalJoinView(
        spark, str(tmp_path / "jv"),
        l_key="pk", l_fk="fk", l_payload=("t",),
        r_key="k", r_payload=("tier",), n_buckets=4,
    )
    l = [("c", 1, "p1", "a", "x"), ("c", 2, "p2", "b", "y")]
    r = [("c", 1, "a", "t0"), ("c", 2, "b", "t1")]
    lb = _mk(spark, l, "pk", "fk string, t string")
    rb = _mk(spark, r, "k", "tier string")
    ivj.apply_batch(lb, rb)
    first = _view_rows(ivj)
    ivj.apply_batch(lb, rb)  # foreachBatch redelivery
    assert _view_rows(ivj) == first == _batch_join(l, r)


@pytest.mark.slow
def test_one_sided_batches(spark, tmp_path):
    """Either stream may be quiet in a batch (None or empty)."""
    ivj = IncrementalJoinView(
        spark, str(tmp_path / "jv"),
        l_key="pk", l_fk="fk", l_payload=("t",),
        r_key="k", r_payload=("tier",), n_buckets=4,
    )
    l = [("c", 1, "p1", "a", "x")]
    ivj.apply_batch(_mk(spark, l, "pk", "fk string, t string"), None)
    assert _view_rows(ivj) == set()  # no dim yet: inner view empty
    r = [("c", 1, "a", "t0")]
    ivj.apply_batch(None, _mk(spark, r, "k", "tier string"))
    assert _view_rows(ivj) == _batch_join(l, r)
    # empty frames are no-ops
    ivj.apply_batch(
        _mk(spark, [], "pk", "fk string, t string"),
        _mk(spark, [], "k", "tier string"),
    )
    assert _view_rows(ivj) == _batch_join(l, r)


@pytest.mark.slow
def test_torn_commit_rebuilds_from_base_states(spark, tmp_path):
    ivj = IncrementalJoinView(
        spark, str(tmp_path / "jv"),
        l_key="pk", l_fk="fk", l_payload=("t",),
        r_key="k", r_payload=("tier",), n_buckets=4,
        agg_group=("tier",),
        agg_sums={"tchars": "coalesce(length(t), 0)"},
    )
    l = [("c", 1, "p1", "a", "x"), ("c", 2, "p2", "b", "y")]
    r = [("c", 1, "a", "t0"), ("c", 2, "b", "t1")]
    ivj.apply_batch(
        _mk(spark, l, "pk", "fk string, t string"),
        _mk(spark, r, "k", "tier string"),
    )
    want = _view_rows(ivj)
    want_agg = _agg_rows(ivj)
    # simulate a crash between the base swaps and the derived commits
    import shutil

    shutil.rmtree(ivj.view_store.path, ignore_errors=True)
    shutil.rmtree(ivj.agg_store.path, ignore_errors=True)
    _write_epoch(ivj._epoch_base, _read_epoch(ivj._epoch_base) + 1)
    assert _view_rows(ivj) == want  # read() rebuilt the derived stores
    assert _read_epoch(ivj._epoch_base) == _read_epoch(ivj._epoch_view)
    assert _agg_rows(ivj) == want_agg  # the join-agg rebuilt too


@pytest.mark.parametrize("seed", [7, 23, 91])
@pytest.mark.slow
def test_random_walk_matches_reference(spark, tmp_path, seed):
    """Seeded random-walk fuzz (the IVM family's topk/quantiles fuzz
    discipline applied to the join view): 5 batches of random
    insert/update/delete traffic on BOTH streams over small key spaces
    (so fk moves, dim churn, deletes and re-inserts all occur by
    density), after each batch view AND join-agg equal the Python LWW
    reference. Deterministic seeds — no runtime RNG in the engine."""
    import random

    rng = random.Random(seed)
    pks = [f"p{i}" for i in range(8)]
    fks = [f"k{i}" for i in range(4)]
    tiers = ["t0", "t1", "t2"]
    ivj = IncrementalJoinView(
        spark, str(tmp_path / "jv"),
        l_key="pk", l_fk="fk", l_payload=("t",),
        r_key="k", r_payload=("tier",), n_buckets=4,
        agg_group=("tier",),
        agg_sums={"tchars": "coalesce(length(t), 0)"},
    )
    seen_l: list = []
    seen_r: list = []
    lsn = 0
    for _ in range(5):
        l_rows, r_rows = [], []
        for _ in range(rng.randint(0, 6)):
            lsn += 1
            if rng.random() < 0.25:
                l_rows.append(("d", lsn, rng.choice(pks), None, None))
            else:
                l_rows.append(
                    ("u", lsn, rng.choice(pks), rng.choice(fks),
                     "x" * rng.randint(0, 5) or None)
                )
        for _ in range(rng.randint(0, 4)):
            lsn += 1
            if rng.random() < 0.25:
                r_rows.append(("d", lsn, rng.choice(fks), None))
            else:
                r_rows.append(("u", lsn, rng.choice(fks), rng.choice(tiers)))
        seen_l += l_rows
        seen_r += r_rows
        ivj.apply_batch(
            _mk(spark, l_rows, "pk", "fk string, t string")
            if l_rows else None,
            _mk(spark, r_rows, "k", "tier string") if r_rows else None,
        )
        ref = _batch_join(seen_l, seen_r)
        assert _view_rows(ivj) == ref
        assert _agg_rows(ivj) == _agg_ref(ref)


def test_c19_c20_empty_view_yields_empty_frames(spark, monkeypatch):
    """Round 14 (ADVICE r13 #3): when the maintained view/agg state is
    empty (all left rows deleted, or an empty corpus) read()/read_agg()
    return None — the graded wrappers must surface that as an EMPTY
    result with the declared schema, exactly like the oracle's join /
    GROUP BY over zero rows, not an AttributeError."""
    from cdc2vec_spark.cdc import delta_join as dj

    class _EmptyIVJ:
        def read(self):
            return None

        def read_agg(self):
            return None

    monkeypatch.setattr(
        dj, "_replayed_join_view", lambda spark, sf_dir: _EmptyIVJ()
    )
    v = dj.c19_incremental_join(spark, "ignored")
    assert v.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in v.schema.fields] == [
        ("pk", "string"), ("author", "string"), ("tier", "bigint"),
    ]
    a = dj.c20_incremental_join_agg(spark, "ignored")
    assert a.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in a.schema.fields] == [
        ("tier", "bigint"), ("n_facts", "bigint"), ("title_chars", "bigint"),
    ]


# ------------------------------------------- the segment-log base states

_L_DDL = "fk string, t string"
_R_DDL = "tier string"
_JV_BATCHES = [
    ([("c", 1, "p1", "a", "x"), ("c", 2, "p2", "b", "yy")],
     [("c", 1, "a", "t0"), ("c", 2, "b", "t1")]),
    ([("u", 10, "p1", "b", "x2"), ("c", 11, "p3", "a", "zzz")],
     [("u", 10, "a", "t0b")]),
    ([("d", 20, "p2", None, None)], [("c", 21, "c", "t2")]),
    ([("c", 30, "p4", "c", "w")], [("d", 30, "b", None)]),
    ([("u", 40, "p3", "c", "z")], [("c", 41, "b", "t1c")]),
]


def _jv(spark, path):
    return IncrementalJoinView(
        spark, path,
        l_key="pk", l_fk="fk", l_payload=("t",),
        r_key="k", r_payload=("tier",), n_buckets=4,
        agg_group=("tier",),
        agg_sums={"tchars": "coalesce(length(t), 0)"},
    )


def _jv_apply(spark, ivj, batch):
    l_rows, r_rows = batch
    ivj.apply_batch(_mk(spark, l_rows, "pk", _L_DDL), _mk(spark, r_rows, "k", _R_DDL))


def test_apply_appends_one_segment_per_base_state(spark, tmp_path):
    """An apply writes each stream's batch as one new segment of its base
    state and leaves every file the two states held as they were."""
    from tests.test_ann_index import _files, _new_segments

    root = str(tmp_path / "jv")
    ivj = _jv(spark, root)
    _jv_apply(spark, ivj, _JV_BATCHES[0])
    before = {s: _files(f"{root}/{s}") for s in ("lstate", "rstate")}
    _jv_apply(spark, ivj, _JV_BATCHES[1])
    for s in ("lstate", "rstate"):
        assert len(_new_segments(before[s], _files(f"{root}/{s}"))) == 1, s


@pytest.mark.slow
def test_applies_rename_nothing(spark, tmp_path, monkeypatch):
    """Every store of a join view commits by its manifest: more than
    FAN_IN applies, through a compaction of the base states, fkidx and
    view, run with os.rename and shutil.move forbidden (the epoch stamps
    keep their one-file os.replace), and answer as an unpatched view."""
    import os
    import shutil

    from cdc2vec_spark.cdc.segments import FAN_IN

    assert len(_JV_BATCHES) > FAN_IN
    ref = _jv(spark, str(tmp_path / "ref"))
    for b in _JV_BATCHES:
        _jv_apply(spark, ref, b)
    want = (_view_rows(ref), _agg_rows(ref))

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("rename/move used by a join-view store")

    monkeypatch.setattr(os, "rename", boom)
    monkeypatch.setattr(shutil, "move", boom)
    ivj = _jv(spark, str(tmp_path / "jv"))
    for b in _JV_BATCHES:
        _jv_apply(spark, ivj, b)
    stores = (ivj.l_store, ivj.r_store, ivj.fk_store, ivj.view_store)
    assert all(any(s.level for s in st.segments()) for st in stores)
    got = (_view_rows(ivj), _agg_rows(ivj))
    monkeypatch.undo()
    assert got == want
    l_rows = [r for b in _JV_BATCHES for r in b[0]]
    r_rows = [r for b in _JV_BATCHES for r in b[1]]
    assert got == (_batch_join(l_rows, r_rows), _agg_ref(_batch_join(l_rows, r_rows)))


def _old_store(df, path, col="jbucket"):
    """``df`` in the earlier rename-swapped layout at ``path``: root
    ``<col>=<i>/`` dirs, one of them stranded under ``<path>.old/``."""
    import os

    df.write.partitionBy(col).parquet(path)
    name = sorted(n for n in os.listdir(path) if n.startswith(col + "="))[0]
    os.makedirs(path + ".old")
    os.rename(os.path.join(path, name), os.path.join(path + ".old", name))


@pytest.mark.slow
def test_bucket_layout_base_states_upgrade_in_place(spark, tmp_path):
    """A view in the earlier layout — root jbucket=<i>/ dirs of lstate,
    rstate, fkidx and view written by partitionBy (one bucket of each
    stranded under <store>.old/), a plain parquet agg/ and both epoch
    files — opens in place, each base state as one adopted segment, and
    answers as the same view in segments does, after each later apply
    and after the first compaction."""
    import os
    import shutil

    ref = _jv(spark, str(tmp_path / "ref"))
    for b in _JV_BATCHES[:2]:
        _jv_apply(spark, ref, b)
    old = str(tmp_path / "old")
    _old_store(ref.l_store.read(), old + "/lstate")
    _old_store(ref.r_store.read(), old + "/rstate")
    for name, store in (("fkidx", ref.fk_store), ("view", ref.view_store)):
        live = store.read().where(F.col("op") != "d").drop("op", "lsn")
        _old_store(live, f"{old}/{name}")
    ref.agg_store.read().write.parquet(old + "/agg")
    for name in ("_epoch_base", "_epoch_view"):
        shutil.copy(str(tmp_path / "ref" / name), os.path.join(old, name))

    ivj = _jv(spark, old)
    assert (_view_rows(ivj), _agg_rows(ivj)) == (_view_rows(ref), _agg_rows(ref))
    for store in (ivj.l_store, ivj.r_store):
        assert [s.seq for s in store.segments()] == [-1]
    assert sorted(os.listdir(old + "/agg")) == ["_manifests", "data"]
    assert not any(n.endswith(".old") for n in os.listdir(old))
    for b in _JV_BATCHES[2:]:  # the third apply compacts level 0
        _jv_apply(spark, ref, b)
        _jv_apply(spark, ivj, b)
        assert (_view_rows(ivj), _agg_rows(ivj)) == (_view_rows(ref), _agg_rows(ref))
    for store in (ivj.l_store, ivj.r_store):
        assert [s.level for s in store.segments()] == [1]


@pytest.mark.slow
def test_crash_before_publish_leaves_view_unchanged(spark, tmp_path, monkeypatch):
    """A crash between a base state's segment write and its manifest
    publish leaves both base states as they were; the torn epoch
    rebuilds the view from them, and the replayed batch then folds in."""
    from cdc2vec_spark.cdc.segments import SegmentStore

    root = str(tmp_path / "jv")
    ivj = _jv(spark, root)
    _jv_apply(spark, ivj, _JV_BATCHES[0])
    want = (_view_rows(ivj), _agg_rows(ivj))
    segs = (ivj.l_store.segments(), ivj.r_store.segments())

    def crash(*a, **k):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(SegmentStore, "_publish", crash)
    with pytest.raises(RuntimeError, match="crash before publish"):
        _jv_apply(spark, ivj, _JV_BATCHES[1])
    monkeypatch.undo()
    fresh = _jv(spark, root)
    assert (fresh.l_store.segments(), fresh.r_store.segments()) == segs
    assert (_view_rows(fresh), _agg_rows(fresh)) == want
    _jv_apply(spark, fresh, _JV_BATCHES[1])
    ref = _batch_join(_JV_BATCHES[0][0] + _JV_BATCHES[1][0],
                      _JV_BATCHES[0][1] + _JV_BATCHES[1][1])
    assert (_view_rows(fresh), _agg_rows(fresh)) == (ref, _agg_ref(ref))
