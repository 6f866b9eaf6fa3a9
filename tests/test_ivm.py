"""c12 — incrementally-maintained GROUP BY materialization (IVM).

Exact DuckDB oracle (LWW winners → group agg) at two SFs via the
driver's comparator; incremental ≡ batch recompute after every single
micro-batch (not just the last); delta accounting drains groups to
exactly zero on full delete.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oracle_check import compare_one, duckdb_conn

from cdc2vec_spark.cdc import transform
from cdc2vec_spark.cdc.changelog import CHANGES_CTE, MAPPED, changes_df
from cdc2vec_spark.cdc.ivm import (
    C12_ORACLE_BODY,
    IncrementalGroupAgg,
    c12_incremental_agg,
)
from tests.conftest import SF0001, SF001


@pytest.mark.parametrize("sf", [SF0001, SF001])
def test_matches_duckdb_oracle(spark, sf):
    con = duckdb_conn(sf)
    problems = compare_one(
        spark, con, "c12_incremental_agg", c12_incremental_agg,
        CHANGES_CTE + C12_ORACLE_BODY, sf,
    )
    assert not problems, (sf, problems)


def _agg_of(df, group="after_author"):
    from cdc2vec_spark.cdc.envelope import OP_DELETE

    txt = F.concat_ws(
        " ",
        F.nullif(F.col("after_title"), F.lit("")),
        F.nullif(F.col("after_content"), F.lit("")),
    )
    return {
        r["grp"]: (r["n"], r["chars"])
        for r in df.where(F.col("op") != OP_DELETE)
        .groupBy(F.col(group).alias("grp"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.length(txt)).alias("chars"))
        .collect()
    }


@pytest.mark.slow
def test_incremental_equals_recompute_after_every_batch(spark, sf_dir, tmp_path):
    """After EACH micro-batch (not just the final one) the maintained agg
    equals a from-scratch GROUP BY over the collection's live state."""
    from cdc2vec_spark.cdc.apply import ParquetCollection

    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED).persist()
    lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
    step = (hi - lo) // 3 + 1
    ivm = IncrementalGroupAgg(spark, str(tmp_path / "ivm"), n_buckets=8)
    ref = ParquetCollection(spark, str(tmp_path / "ref"))
    for i in range(3):
        b = ch.where(
            (F.col("lsn") >= lo + i * step) & (F.col("lsn") < lo + (i + 1) * step)
        )
        ivm.apply_batch(b)
        ref.apply_batch(b)
        got = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}
        want = _agg_of(ref.read())
        assert got == want != {}, (i, got, want)
    ch.unpersist()


def test_groups_drain_to_zero_on_delete(spark, tmp_path):
    """Deleting a group's every key removes its agg row entirely."""
    ivm = IncrementalGroupAgg(spark, str(tmp_path / "z"), n_buckets=4)
    rows = [
        (1, "c", "public.documents", "k1", "aaa", "bbb", "g1"),
        (2, "c", "public.documents", "k2", "ccc", "", "g1"),
        (3, "c", "public.documents", "k3", "ddd", "eee", "g2"),
    ]
    schema = ("lsn long, op string, tbl string, pk string, "
              "after_title string, after_content string, after_author string")
    ivm.apply_batch(spark.createDataFrame(rows, schema))
    got = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}
    assert got == {"g1": (2, 10), "g2": (1, 7)}, got

    dels = [
        (4, "d", "public.documents", "k1", None, None, None),
        (5, "d", "public.documents", "k2", None, None, None),
    ]
    ivm.apply_batch(spark.createDataFrame(dels, schema))
    got = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}
    assert got == {"g2": (1, 7)}, got


@pytest.mark.slow
def test_streaming_foreachbatch_maintains_the_aggregate(spark, sf_dir, tmp_path):
    """The apply_batch signature IS a foreachBatch hook: a real file
    stream driving IncrementalGroupAgg converges to the same agg table
    as the batch replay."""
    from cdc2vec_spark.streaming import source

    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    source.write_chunks(ch, chunks, n_chunks=3, order_col="lsn")
    ivm = IncrementalGroupAgg(spark, str(tmp_path / "sivm"), n_buckets=8)
    stream = source.read_file_stream(spark, chunks, ch.schema)
    q = (
        stream.writeStream.foreachBatch(ivm.apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}
    want = _agg_of(
        __import__("cdc2vec_spark.cdc.apply", fromlist=["latest_state"])
        .latest_state(ch, text_cols=("after_title", "after_content"))
    )
    assert got == want != {}


@pytest.mark.slow
def test_randomized_cdc_sequences_match_python_reference(spark, tmp_path):
    """Fixed-seed fuzz: random op sequences (insert/update/delete/guard-
    fail/ignored-table/out-of-order lsn) through the IVM in 3 batches
    must equal a pure-Python LWW + aggregate reference."""
    import random

    schema = ("lsn long, op string, tbl string, pk string, "
              "after_title string, after_content string, after_author string")
    for seed in (7, 23):
        rng = random.Random(seed)
        rows = []
        for lsn in range(1, 121):
            pk = f"k{rng.randrange(12)}"
            op = rng.choice(["c", "u", "u", "d"])
            tbl = "public.documents" if rng.random() > 0.1 else "public.other"
            if op == "d":
                rows.append((lsn, op, tbl, pk, None, None, None))
            else:
                title = rng.choice(["", "alpha", "beta gamma", "x" * rng.randrange(1, 9)])
                content = rng.choice(["", "delta", None, "y" * rng.randrange(1, 6)])
                grp = rng.choice(["g1", "g2", "g3"])
                rows.append((lsn, op, tbl, pk, title, content, grp))
        rng.shuffle(rows)  # arrival order != lsn order within a batch

        # python reference: LWW by lsn with A6 semantics (guard-fail
        # upserts are SKIPPED: earlier state survives)
        state = {}

        def text_of(t, c):
            return " ".join(x for x in (t, c) if x)

        for lsn, op, tbl, pk, t, c, g in sorted(rows):
            if tbl != "public.documents":
                continue
            if op == "d":
                state[pk] = None
            elif len(text_of(t, c)) > 0:
                state[pk] = (g, len(text_of(t, c)))
        want = {}
        for v in state.values():
            if v is not None:
                g, n = v
                cnt, ch_ = want.get(g, (0, 0))
                want[g] = (cnt + 1, ch_ + n)

        ivm = IncrementalGroupAgg(
            spark, str(tmp_path / f"fz{seed}"), n_buckets=4
        )
        third = len(rows) // 3 + 1
        for i in range(3):
            b = rows[i * third:(i + 1) * third]
            if b:
                # production order: the mapping filter runs BEFORE apply
                # (runner pipeline); state keys on (tbl, pk), so unmapped
                # tables must not reach the collection
                ivm.apply_batch(
                    transform.filter_mapped(
                        spark.createDataFrame(b, schema), MAPPED
                    )
                )
        got = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}
        assert got == want, (seed, got, want)


@pytest.mark.slow
def test_boot_group_agg_sink_end_to_end(spark, sf_dir, tmp_path):
    """sink.type=group_agg in the config: boot() maintains the IVM agg
    table from the live stream; after the replay it equals the GROUP BY
    over the collection's live points (count per author + chars of the
    extracted text)."""
    from cdc2vec_spark import runner
    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )
    from cdc2vec_spark.streaming import source

    gpath = str(tmp_path / "gagg")
    cfg = PipelineConfig(
        engine=DEFAULT_CONFIG, source=SourceConfig(),
        sink=SinkConfig(
            type="group_agg",
            # the fixture mapping's metadata key is the raw change column
            options={"path": gpath, "group_key": "after_author"},
        ),
    )
    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    source.write_chunks(ch, chunks, n_chunks=3, order_col="lsn")
    query, coll, _ = runner.boot(
        spark, config=cfg, changes_dir=chunks, changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    from cdc2vec_spark.cdc.ivm import IncrementalGroupAgg

    agg = IncrementalGroupAgg(spark, gpath, group_col="after_grp",
                              text_cols=("after_text",))
    got = {r["grp"]: (r["n"], r["chars"]) for r in agg.read().collect()}
    # reference: LWW over the change log (the collection stores vectors,
    # not text; the agg's chars come from the same extracted text the
    # pipeline embeds, whose length equals the changes' concat form)
    from cdc2vec_spark.cdc.apply import latest_state

    want = _agg_of(latest_state(ch, text_cols=("after_title", "after_content")))
    assert got == want != {}
    # and the agg's live keys agree with the collection's live count
    assert sum(n for n, _ in got.values()) == coll.live().count()


# ---- NULL groups, torn-commit recovery, generalized aggs, chunked
# replace-set semantics -----------------------------------------------------

_SCHEMA = ("lsn long, op string, tbl string, pk string, "
           "after_title string, after_content string, after_author string")


def test_null_group_keys_aggregate_as_one_group(spark, tmp_path):
    """A join-based delta never matches NULL group keys, so a
    NULL author would gain duplicate rows each batch and deletes would
    never decrement it. The union+re-aggregate delta must maintain the
    NULL group exactly — GROUP BY semantics, matching the SQL oracle."""
    ivm = IncrementalGroupAgg(spark, str(tmp_path / "ng"), n_buckets=4)
    ivm.apply_batch(spark.createDataFrame([
        (1, "c", "public.documents", "k1", "aaa", "bb", None),
        (2, "c", "public.documents", "k2", "cc", "", None),
        (3, "c", "public.documents", "k3", "dddd", "", "g1"),
    ], _SCHEMA))
    got = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}
    assert got == {None: (2, 8), "g1": (1, 4)}, got

    # second batch touches the NULL group both ways: update k1 (chars
    # change within the NULL group) and delete k2
    ivm.apply_batch(spark.createDataFrame([
        (4, "u", "public.documents", "k1", "aaaaaa", "bb", None),
        (5, "d", "public.documents", "k2", None, None, None),
    ], _SCHEMA))
    got = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}
    assert got == {None: (1, 9), "g1": (1, 4)}, got

    # and the NULL group drains to zero like any other
    ivm.apply_batch(spark.createDataFrame(
        [(6, "d", "public.documents", "k1", None, None, None)], _SCHEMA))
    got = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}
    assert got == {"g1": (1, 4)}, got


def test_torn_commit_recovers_by_rebuild(spark, tmp_path):
    """A crash between the state swap and the agg swap leaves the two
    stores at different epochs; the next read()/apply_batch must detect
    the mismatch and rebuild the agg from the live state instead of
    serving (or folding onto) the stale agg — without the stamps the
    replayed delta is ~0 and the batch's contribution is lost forever."""
    import shutil

    from cdc2vec_spark.cdc.ivm import _read_epoch, _write_epoch

    root = str(tmp_path / "tc")
    ivm = IncrementalGroupAgg(spark, root, n_buckets=4)
    b1 = spark.createDataFrame([
        (1, "c", "public.documents", "k1", "aaa", "bb", "g1"),
        (2, "c", "public.documents", "k2", "cc", "", "g2"),
    ], _SCHEMA)
    b2 = spark.createDataFrame([
        (3, "u", "public.documents", "k1", "aaaaaa", "bb", "g1"),
        (4, "c", "public.documents", "k3", "ee", "", "g2"),
    ], _SCHEMA)
    ivm.apply_batch(b1)
    shutil.copytree(root + "/agg", str(tmp_path / "agg_stale"))
    ivm.apply_batch(b2)
    want = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}
    assert want == {"g1": (1, 9), "g2": (2, 4)}, want

    # simulate the crash: state is post-b2, agg rolled back to post-b1
    # with its epoch (exactly what a kill between the two swaps leaves)
    shutil.rmtree(root + "/agg")
    shutil.copytree(str(tmp_path / "agg_stale"), root + "/agg")
    _write_epoch(root + "/_epoch_agg", _read_epoch(root + "/_epoch_state") - 1)

    fresh = IncrementalGroupAgg(spark, root, n_buckets=4)
    got = {r["grp"]: (r["n"], r["chars"]) for r in fresh.read().collect()}
    assert got == want, (got, want)
    assert _read_epoch(root + "/_epoch_agg") == _read_epoch(root + "/_epoch_state")

    # checkpoint replay of the torn batch folds in idempotently
    fresh.apply_batch(b2)
    got = {r["grp"]: (r["n"], r["chars"]) for r in fresh.read().collect()}
    assert got == want, (got, want)


@pytest.mark.slow
def test_generalized_aggs_avg_var_and_multicolumn_grouping(spark, tmp_path):
    """Configurable self-maintainable aggs (sum/avg/var via additive
    accumulators) over a typed extracted column, grouped by TWO columns,
    must equal a from-scratch GROUP BY over the live state after a
    replay with updates and deletes."""
    import math

    schema = ("lsn long, op string, tbl string, pk string, "
              "after_title string, after_content string, "
              "after_author string, after_lang string")
    rows = [
        (1, "c", "public.documents", "k1", "t", "aaaa", "g1", "en"),
        (2, "c", "public.documents", "k2", "t", "bb", "g1", "en"),
        (3, "c", "public.documents", "k3", "t", "cccccc", "g1", "de"),
        (4, "c", "public.documents", "k4", "t", "dd", "g2", "en"),
        (5, "u", "public.documents", "k1", "t", "aaaaaaaa", "g1", "en"),
        (6, "d", "public.documents", "k2", None, None, None, None),
    ]
    aggs = [
        {"name": "n", "op": "count"},
        {"name": "len_sum", "op": "sum", "col": "length(after_content)"},
        {"name": "len_avg", "op": "avg", "col": "length(after_content)"},
        {"name": "len_var", "op": "var", "col": "length(after_content)"},
    ]
    ivm = IncrementalGroupAgg(
        spark, str(tmp_path / "ga"), group_cols=("after_author", "after_lang"),
        aggs=aggs, n_buckets=4,
    )
    # two batches so the avg/var accumulators must actually merge
    ivm.apply_batch(spark.createDataFrame(rows[:3], schema))
    ivm.apply_batch(spark.createDataFrame(rows[3:], schema))
    got = {
        (r["after_author"], r["after_lang"]):
            (r["n"], r["len_sum"], r["len_avg"], r["len_var"])
        for r in ivm.read().collect()
    }
    # live state: k1(g1,en,len 8), k3(g1,de,6), k4(g2,en,2)
    assert set(got) == {("g1", "en"), ("g1", "de"), ("g2", "en")}
    n, s, a, v = got[("g1", "en")]
    assert (n, s) == (1, 8) and a == 8.0 and v == 0.0
    n, s, a, v = got[("g1", "de")]
    assert (n, s, a, v) == (1, 6, 6.0, 0.0)

    # population variance check with two members: delete nothing, add a
    # second (g1, en) doc and verify against the closed form
    ivm.apply_batch(spark.createDataFrame(
        [(7, "c", "public.documents", "k5", "t", "xx", "g1", "en")], schema))
    n, s, a, v = {
        (r["after_author"], r["after_lang"]):
            (r["n"], r["len_sum"], r["len_avg"], r["len_var"])
        for r in ivm.read().collect()
    }[("g1", "en")]
    assert (n, s, a) == (2, 10, 5.0)
    assert math.isclose(v, ((8 - 5) ** 2 + (2 - 5) ** 2) / 2)


def test_minmax_specs_accepted_since_round_10():
    """min/max are supported via the documented
    recompute-on-delete fallback; the config-time gate now only rejects
    genuinely unknown ops and col-less extrema."""
    from cdc2vec_spark.cdc.ivm import agg_specs

    specs = agg_specs([
        {"name": "longest", "op": "max", "col": "length(after_content)"},
        {"name": "shortest", "op": "min", "col": "length(after_content)"},
    ])
    assert [s["op"] for s in specs] == ["max", "min"]
    with pytest.raises(ValueError, match="needs a 'col'"):
        agg_specs([{"name": "m", "op": "max"}])
    with pytest.raises(ValueError, match="unknown op"):
        agg_specs([{"name": "m", "op": "median", "col": "x"}])


_MM_AGGS = [
    {"name": "n", "op": "count", "col": None},
    {"name": "longest", "op": "max", "col": "length(after_content)"},
    {"name": "shortest", "op": "min", "col": "length(after_content)"},
]
_MM_SCHEMA = ("lsn long, op string, tbl string, pk string, "
              "after_title string, after_content string, after_author string")


@pytest.mark.slow
def test_minmax_maintained_through_inserts_deletes_and_updates(spark, tmp_path):
    """The extremum absorbs inserts monotonically; deleting (or updating
    away) the row CARRYING the extremum triggers the group re-scan and
    lands on the true survivor; all-NULL value groups read SQL NULL;
    drained groups disappear."""
    ivm = IncrementalGroupAgg(
        spark, str(tmp_path / "mm"), n_buckets=4, aggs=_MM_AGGS
    )

    def read():
        return {
            r["grp"]: (r["n"], r["longest"], r["shortest"])
            for r in ivm.read().collect()
        }

    ivm.apply_batch(spark.createDataFrame([
        (1, "c", "public.documents", "k1", "t", "aaaa", "g1"),   # len 4
        (2, "c", "public.documents", "k2", "t", "bb", "g1"),     # len 2
        (3, "c", "public.documents", "k3", "t", "cccccc", "g2"), # len 6
        (4, "c", "public.documents", "k5", "x", None, "g3"),     # NULL value
    ], _MM_SCHEMA))
    assert read() == {"g1": (2, 4, 2), "g2": (1, 6, 6), "g3": (1, None, None)}

    # delete the g1 max-carrier and update the g2 extremum away —
    # both are the recompute-on-delete case
    ivm.apply_batch(spark.createDataFrame([
        (5, "d", "public.documents", "k1", None, None, None),
        (6, "u", "public.documents", "k3", "t", "d", "g2"),      # 6 → 1
    ], _MM_SCHEMA))
    assert read() == {"g1": (1, 2, 2), "g2": (1, 1, 1), "g3": (1, None, None)}

    # pure insert: monotone absorb, no re-scan case
    ivm.apply_batch(spark.createDataFrame([
        (7, "c", "public.documents", "k4", "t", "eeeee", "g1"),  # len 5
    ], _MM_SCHEMA))
    assert read() == {"g1": (2, 5, 2), "g2": (1, 1, 1), "g3": (1, None, None)}

    # a non-null value lands in the all-NULL group; then drain g2
    ivm.apply_batch(spark.createDataFrame([
        (8, "u", "public.documents", "k5", "x", "zzz", "g3"),
        (9, "d", "public.documents", "k3", None, None, None),
    ], _MM_SCHEMA))
    assert read() == {"g1": (2, 5, 2), "g3": (1, 3, 3)}


@pytest.mark.slow
def test_minmax_randomized_sequences_match_python_reference(spark, tmp_path):
    """The incremental≡recompute fuzz extended to min/max: random insert/update/delete sequences — extremum removals
    included — must equal a pure-Python LWW + min/max reference after
    every batch."""
    import random

    col = ("length(concat_ws(' ', nullif(after_title, ''), "
           "nullif(after_content, '')))")
    aggs = [
        {"name": "n", "op": "count", "col": None},
        {"name": "hi", "op": "max", "col": col},
        {"name": "lo", "op": "min", "col": col},
    ]
    for seed in (11, 29):
        rng = random.Random(seed)
        rows = []
        for lsn in range(1, 121):
            pk = f"k{rng.randrange(10)}"
            op = rng.choice(["c", "u", "u", "d"])
            if op == "d":
                rows.append((lsn, op, "public.documents", pk, None, None, None))
            else:
                title = rng.choice(["", "alpha", "x" * rng.randrange(1, 9)])
                content = rng.choice(["", "beta gamma", None, "y" * rng.randrange(1, 7)])
                grp = rng.choice(["g1", "g2", None])
                rows.append((lsn, op, "public.documents", pk, title, content, grp))
        rng.shuffle(rows)

        state = {}
        for lsn, op, tbl, pk, t, c, g in sorted(rows):
            text = " ".join(x for x in (t, c) if x)
            if op == "d":
                state[pk] = None
            elif text:
                state[pk] = (g, len(text))

        ivm = IncrementalGroupAgg(
            spark, str(tmp_path / f"mmfz{seed}"), n_buckets=4, aggs=aggs
        )
        third = len(rows) // 3 + 1
        for i in range(3):
            b = rows[i * third:(i + 1) * third]
            if b:
                ivm.apply_batch(
                    transform.filter_mapped(
                        spark.createDataFrame(b, _MM_SCHEMA), MAPPED
                    )
                )
        want = {}
        for v in state.values():
            if v is not None:
                g, ln = v
                n, hi, lo = want.get(g, (0, None, None))
                want[g] = (
                    n + 1,
                    ln if hi is None else max(hi, ln),
                    ln if lo is None else min(lo, ln),
                )
        got = {
            r["grp"]: (r["n"], r["hi"], r["lo"])
            for r in ivm.read().collect()
        }
        assert got == want, (seed, got, want)


def test_chunked_replace_set_counts_base_docs(spark, tmp_path):
    """Chunked mode: state is per-chunk but COUNT specs count live BASE
    documents; a shrunk re-embed sheds its stale tail chunk and one
    base-id tombstone drops every chunk (the failure of per-pk
    LWW keyed on chunk ids never decrements on base-id deletes)."""
    schema = ("lsn long, op string, tbl string, pk string, base_pk string, "
              "after_text string, after_grp string")
    ivm = IncrementalGroupAgg(
        spark, str(tmp_path / "ck"), group_col="after_grp",
        text_cols=("after_text",), n_buckets=4, chunked=True,
    )
    ivm.apply_batch(spark.createDataFrame([
        (1, "c", "points", "A#0", "A", "aaaa", "g1"),
        (1, "c", "points", "A#1", "A", "bbbb", "g1"),
        (1, "c", "points", "A#2", "A", "cc", "g1"),
        (2, "c", "points", "B#0", "B", "ddd", "g1"),
    ], schema))
    got = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}
    assert got == {"g1": (2, 13)}, got  # 2 base docs, 10+3 chunk chars

    # re-embed A with fewer chunks: stale A#2 must not survive
    ivm.apply_batch(spark.createDataFrame([
        (3, "u", "points", "A#0", "A", "eeee", "g1"),
        (3, "u", "points", "A#1", "A", "ff", "g1"),
    ], schema))
    got = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}
    assert got == {"g1": (2, 9)}, got  # still 2 docs; 6+3 chars

    # one base-id tombstone removes every chunk of A
    ivm.apply_batch(spark.createDataFrame(
        [(4, "d", "points", "A", "A", None, None)], schema))
    got = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}
    assert got == {"g1": (1, 3)}, got


@pytest.mark.slow
def test_boot_chunked_group_agg_end_to_end(spark, sf_dir, tmp_path):
    """sink.type=group_agg composes with engine.chunk.
    After a chunked boot replay, the maintained agg counts live BASE
    documents per author (keys, not chunks) and sums CHUNK characters
    (documented overlap-inclusive semantics)."""
    import dataclasses

    from cdc2vec_spark import runner
    from cdc2vec_spark.cdc.apply import latest_state
    from cdc2vec_spark.cdc.pipeline import build_points
    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )
    from cdc2vec_spark.embed.provider import DeterministicHashProvider
    from cdc2vec_spark.streaming import source

    gpath = str(tmp_path / "gagg")
    eng = dataclasses.replace(DEFAULT_CONFIG, chunk_tokens=8, chunk_stride=6)
    cfg = PipelineConfig(
        engine=eng, source=SourceConfig(),
        sink=SinkConfig(
            type="group_agg",
            options={"path": gpath, "group_key": "after_author"},
        ),
    )
    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    source.write_chunks(ch, chunks, n_chunks=3, order_col="lsn")
    query, coll, _ = runner.boot(
        spark, config=cfg, changes_dir=chunks, changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    agg = IncrementalGroupAgg(
        spark, gpath, group_col="after_grp", text_cols=("after_text",),
        chunked=True,
    )
    got = {r["grp"]: (r["n"], r["chars"]) for r in agg.read().collect()}

    # reference: chunk the LWW winners' text with the same chunker and
    # aggregate per author — n over base docs, chars over chunk rows
    live = latest_state(ch).withColumn("op", F.lit("c")).withColumn(
        "lsn", F.lit(0)
    ).withColumn("tbl", F.lit("public.documents"))
    pts = build_points(
        live, eng.mappings[0], DeterministicHashProvider(dim=eng.vector_size),
        chunk=eng.chunk, keep_text=True,
    )
    want = {
        r["g"]: (r["n"], r["chars"])
        for r in pts.groupBy(
            F.element_at("metadata", "after_author").alias("g")
        ).agg(
            F.count_distinct("base_id").alias("n"),
            F.sum(F.length("text")).alias("chars"),
        ).collect()
    }
    assert got == want != {}, (got, want)


@pytest.mark.slow
def test_yaml_aggs_spec_drives_the_group_agg_sink(spark, sf_dir, tmp_path):
    """Config surface: sink.type=group_agg accepts
    an aggs spec straight from YAML — boot with count/sum/avg specs,
    then check the derived avg equals sum/count on every group; an
    unknown op must fail at hook construction (boot), not at batch N
    (min/max are accepted — recompute-on-delete)."""
    import math
    import textwrap

    from cdc2vec_spark import runner
    from cdc2vec_spark.config import load_yaml
    from cdc2vec_spark.streaming import source

    gpath = str(tmp_path / "gagg")
    cfg_path = str(tmp_path / "cfg.yaml")
    with open(cfg_path, "w") as fh:
        fh.write(textwrap.dedent(f"""
        engine:
          vector_size: 8
          provider: deterministic
        sink:
          type: group_agg
          group_agg:
            path: "{gpath}"
            group_key: "after_author"
            aggs:
              - {{name: n, op: count}}
              - {{name: chars, op: sum, col: "length(after_text)"}}
              - {{name: avg_chars, op: avg, col: "length(after_text)"}}
        mapping:
          - table: "public.documents"
            id_column: "id"
            text_columns: ["title", "content"]
            metadata_columns: ["author"]
        """))
    cfg = load_yaml(cfg_path)
    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    source.write_chunks(ch, chunks, n_chunks=2, order_col="lsn")
    query, _, _ = runner.boot(
        spark, config=cfg, changes_dir=chunks, changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    agg = IncrementalGroupAgg(
        spark, gpath, group_col="after_grp", text_cols=("after_text",),
        aggs=[
            {"name": "n", "op": "count"},
            {"name": "chars", "op": "sum", "col": "length(after_text)"},
            {"name": "avg_chars", "op": "avg", "col": "length(after_text)"},
        ],
    )
    rows = agg.read().collect()
    assert rows
    for r in rows:
        assert r["n"] > 0
        assert math.isclose(r["avg_chars"], r["chars"] / r["n"], rel_tol=1e-9)

    # an unknown op fails at config/boot time
    from cdc2vec_spark.config import PipelineConfig, SinkConfig, SourceConfig
    from cdc2vec_spark.config import DEFAULT_CONFIG

    bad = PipelineConfig(
        engine=DEFAULT_CONFIG, source=SourceConfig(),
        sink=SinkConfig(type="group_agg", options={
            "path": str(tmp_path / "bad"),
            "aggs": [{"name": "m", "op": "median", "col": "length(after_text)"}],
        }),
    )
    with pytest.raises(ValueError, match="unknown op"):
        runner.sink_hook_for(bad)


def test_sum_spec_drains_to_null_like_sql(spark, tmp_path):
    """SQL SUM over a group with zero non-null values is NULL, not 0:
    after the only non-null contributor is deleted, the maintained sum
    must read NULL (and agree with a crash-recovery rebuild), even
    though the additive accumulator is arithmetically 0."""
    schema = ("lsn long, op string, tbl string, pk string, "
              "after_title string, after_content string, after_author string")
    aggs = [
        {"name": "n", "op": "count"},
        {"name": "s", "op": "sum", "col": "nullif(length(after_content), 0)"},
    ]
    ivm = IncrementalGroupAgg(spark, str(tmp_path / "sn"), aggs=aggs, n_buckets=4)
    ivm.apply_batch(spark.createDataFrame([
        (1, "c", "public.documents", "kA", "t", "aaaaa", "g1"),   # col 5
        (2, "c", "public.documents", "kB", "t", "", "g1"),        # col NULL
    ], schema))
    got = {r["grp"]: (r["n"], r["s"]) for r in ivm.read().collect()}
    assert got == {"g1": (2, 5)}, got
    ivm.apply_batch(spark.createDataFrame(
        [(3, "d", "public.documents", "kA", None, None, None)], schema))
    got = {r["grp"]: (r["n"], r["s"]) for r in ivm.read().collect()}
    assert got == {"g1": (1, None)}, got
    # and the recovery rebuild agrees (the incremental-vs-rebuild
    # divergence this accumulator exists to prevent)
    from cdc2vec_spark.cdc.ivm import _write_epoch

    _write_epoch(str(tmp_path / "sn") + "/_epoch_agg", 0)
    fresh = IncrementalGroupAgg(spark, str(tmp_path / "sn"), aggs=aggs, n_buckets=4)
    got = {r["grp"]: (r["n"], r["s"]) for r in fresh.read().collect()}
    assert got == {"g1": (1, None)}, got


def test_stale_agg_schema_self_heals(spark, tmp_path):
    """An agg table written by an older build (or a different aggs
    spec) — equal epoch stamps, missing accumulator columns — must
    trigger a rebuild from state instead of failing every batch."""
    root = str(tmp_path / "mig")
    ivm = IncrementalGroupAgg(spark, root, n_buckets=4)
    ivm.apply_batch(spark.createDataFrame([
        (1, "c", "public.documents", "k1", "aaa", "bb", "g1"),
    ], _SCHEMA))
    want = {r["grp"]: (r["n"], r["chars"]) for r in ivm.read().collect()}

    # simulate the older layout: grp/n/chars, no _live, no __cnt
    import shutil

    legacy = spark.createDataFrame([("g1", 1, 5)], "grp string, n long, chars long")
    shutil.rmtree(root + "/agg")
    legacy.coalesce(1).write.parquet(root + "/agg")

    healed = IncrementalGroupAgg(spark, root, n_buckets=4)
    got = {r["grp"]: (r["n"], r["chars"]) for r in healed.read().collect()}
    assert got == want, (got, want)
    # and the next batch applies cleanly on the healed store
    healed.apply_batch(spark.createDataFrame([
        (2, "c", "public.documents", "k2", "cc", "", "g1"),
    ], _SCHEMA))
    got = {r["grp"]: (r["n"], r["chars"]) for r in healed.read().collect()}
    assert got == {"g1": (2, 8)}, got  # "aaa bb" (6) + "cc" (2)


def test_agg_spec_name_hygiene_rejected_at_config_time():
    from cdc2vec_spark.cdc.ivm import agg_specs

    with pytest.raises(ValueError, match="count takes no 'col'"):
        agg_specs([{"name": "x", "op": "count", "col": "after_lang"}])
    with pytest.raises(ValueError, match="internal accumulator"):
        agg_specs([{"name": "_live", "op": "sum", "col": "1"}])
    with pytest.raises(ValueError, match="internal accumulator"):
        agg_specs([{"name": "s__cnt", "op": "sum", "col": "1"}])
    with pytest.raises(ValueError, match="duplicate agg name"):
        agg_specs([{"name": "s", "op": "sum", "col": "1"},
                   {"name": "s", "op": "avg", "col": "1"}])
    with pytest.raises(ValueError, match="collide with group output"):
        IncrementalGroupAgg(
            None, "/tmp/never", group_cols=("after_author", "after_lang"),
            aggs=[{"name": "after_lang", "op": "count"}],
        )


@pytest.mark.slow
def test_chunked_minmax_recompute_on_replace_set(spark, tmp_path):
    """Chunked mode × min/max: extrema run over CHUNK rows (the sum
    discipline); a shrinking re-embed that sheds the extremum-carrying
    tail chunk and a base-id tombstone both drive the recompute path
    through the replace-set semantics."""
    schema = ("lsn long, op string, tbl string, pk string, base_pk string, "
              "after_text string, after_grp string")
    aggs = [
        {"name": "n", "op": "count", "col": None},
        {"name": "longest", "op": "max", "col": "length(after_text)"},
    ]
    ivm = IncrementalGroupAgg(
        spark, str(tmp_path / "ckmm"), group_col="after_grp",
        text_cols=("after_text",), n_buckets=4, chunked=True, aggs=aggs,
    )
    ivm.apply_batch(spark.createDataFrame([
        (1, "c", "points", "A#0", "A", "aaaa", "g1"),     # len 4
        (1, "c", "points", "A#1", "A", "bbbbbb", "g1"),   # len 6 (max)
        (2, "c", "points", "B#0", "B", "ddd", "g1"),      # len 3
    ], schema))
    got = {r["grp"]: (r["n"], r["longest"]) for r in ivm.read().collect()}
    assert got == {"g1": (2, 6)}, got

    # re-embed A to ONE shorter chunk: the max-carrier A#1 dies via the
    # replace-set rule -> recompute lands on len 4... new chunk is len 2,
    # so the survivor max is B's 3? A#0 also replaced: new A = ["ee"].
    ivm.apply_batch(spark.createDataFrame([
        (3, "u", "points", "A#0", "A", "ee", "g1"),       # len 2
    ], schema))
    got = {r["grp"]: (r["n"], r["longest"]) for r in ivm.read().collect()}
    assert got == {"g1": (2, 3)}, got  # max now B#0's 3

    # base-id tombstone removes B entirely -> recompute over A only
    ivm.apply_batch(spark.createDataFrame(
        [(4, "d", "points", "B", "B", None, None)], schema))
    got = {r["grp"]: (r["n"], r["longest"]) for r in ivm.read().collect()}
    assert got == {"g1": (1, 2)}, got


# ---------------- ref-counted COUNT(DISTINCT) IVM (c16) ----------------

def _dc(spark, path, **kw):
    from cdc2vec_spark.cdc.ivm import IncrementalDistinctCount

    return IncrementalDistinctCount(
        spark, str(path),
        specs=[{"name": "n_titles", "col": "after_title"},
               {"name": "n_clens", "col": "length(after_content)"}],
        n_buckets=4, dv_buckets=4, **kw,
    )


_DC_SCHEMA = ("lsn long, op string, tbl string, pk string, "
              "after_title string, after_content string, after_author string")


@pytest.mark.parametrize("sf", [SF0001, SF001])
def test_c16_matches_duckdb_oracle(spark, sf):
    from cdc2vec_spark.cdc.changelog import CHANGES_CTE
    from cdc2vec_spark.cdc.ivm import C16_ORACLE_BODY, c16_incremental_distinct

    con = duckdb_conn(sf)
    problems = compare_one(
        spark, con, "c16_incremental_distinct", c16_incremental_distinct,
        CHANGES_CTE + C16_ORACLE_BODY, sf,
    )
    assert not problems, (sf, problems)


@pytest.mark.slow
def test_distinct_refcounts_survive_partial_deletes(spark, tmp_path):
    """Deleting a row whose value ANOTHER live row still holds must NOT
    lower the distinct count; deleting the last holder must. This is
    exactly the case additive group-level state cannot express."""
    dc = _dc(spark, tmp_path / "dv")
    rows = [
        (1, "c", "public.documents", "k1", "tA", "xx", "g1"),
        (2, "c", "public.documents", "k2", "tA", "yyy", "g1"),
        (3, "c", "public.documents", "k3", "tB", "zz", "g1"),
    ]
    dc.apply_batch(spark.createDataFrame(rows, _DC_SCHEMA))
    got = {r["grp"]: (r["n_titles"], r["n_clens"]) for r in dc.read().collect()}
    # titles {tA, tB}; content lengths {2, 3, 2} -> {2, 3}
    assert got == {"g1": (2, 2)}, got

    # delete ONE tA holder: k2 also holds tA -> n_titles stays 2;
    # k1's length-2 content is still held by k3 -> n_clens stays 2
    dc.apply_batch(spark.createDataFrame(
        [(4, "d", "public.documents", "k1", None, None, None)], _DC_SCHEMA))
    got = {r["grp"]: (r["n_titles"], r["n_clens"]) for r in dc.read().collect()}
    assert got == {"g1": (2, 2)}, got

    # delete the LAST tA holder (k2): n_titles drops; length 3 vanishes
    dc.apply_batch(spark.createDataFrame(
        [(5, "d", "public.documents", "k2", None, None, None)], _DC_SCHEMA))
    got = {r["grp"]: (r["n_titles"], r["n_clens"]) for r in dc.read().collect()}
    assert got == {"g1": (1, 1)}, got

    # drain the group entirely -> row disappears
    dc.apply_batch(spark.createDataFrame(
        [(6, "d", "public.documents", "k3", None, None, None)], _DC_SCHEMA))
    assert dc.read().collect() == []


def test_distinct_update_moves_value_between_buckets(spark, tmp_path):
    """An UPDATE that changes a row's value is a remove+add at the value
    level; updates that move a row between GROUPS maintain both."""
    dc = _dc(spark, tmp_path / "dv")
    dc.apply_batch(spark.createDataFrame(
        [(1, "c", "public.documents", "k1", "tA", "xx", "g1"),
         (2, "c", "public.documents", "k2", "tB", "xx", "g1")], _DC_SCHEMA))
    # k1: tA -> tB (collapses titles to 1); also move k2 to group g2
    dc.apply_batch(spark.createDataFrame(
        [(3, "u", "public.documents", "k1", "tB", "xx", "g1"),
         (4, "u", "public.documents", "k2", "tB", "xx", "g2")], _DC_SCHEMA))
    got = {r["grp"]: (r["n_titles"], r["n_clens"]) for r in dc.read().collect()}
    assert got == {"g1": (1, 1), "g2": (1, 1)}, got


def test_distinct_null_values_and_null_groups(spark, tmp_path):
    """NULL values never count (SQL COUNT(DISTINCT) semantics); a NULL
    group key aggregates as one real group."""
    dc = _dc(spark, tmp_path / "dv")
    dc.apply_batch(spark.createDataFrame(
        [(1, "c", "public.documents", "k1", None, "xx", None),
         (2, "c", "public.documents", "k2", "tA", "yy", None)], _DC_SCHEMA))
    rows = dc.read().collect()
    assert len(rows) == 1 and rows[0]["grp"] is None
    assert (rows[0]["n_titles"], rows[0]["n_clens"]) == (1, 1)


@pytest.mark.slow
def test_distinct_incremental_equals_recompute_every_batch(spark, sf_dir, tmp_path):
    """After EACH replayed micro-batch the maintained distinct counts
    equal a from-scratch COUNT(DISTINCT) over the LWW live state."""
    from cdc2vec_spark.cdc.apply import ParquetCollection

    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED).persist()
    lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
    step = (hi - lo) // 4 + 1
    dc = _dc(spark, tmp_path / "dv")
    coll = ParquetCollection(spark, str(tmp_path / "coll"))
    for i in range(4):
        b = ch.where((F.col("lsn") >= lo + i * step)
                     & (F.col("lsn") < lo + (i + 1) * step))
        dc.apply_batch(b)
        coll.apply_batch(b)
        live = coll.read()
        want = {
            r["grp"]: (r["t"], r["c"])
            for r in live.where(F.col("op") != "d")
            .groupBy(F.col("after_author").alias("grp"))
            .agg(F.countDistinct("after_title").alias("t"),
                 F.countDistinct(F.length("after_content")).alias("c"))
            .collect()
        }
        got = {r["grp"]: (r["n_titles"], r["n_clens"])
               for r in dc.read().collect()}
        assert got == want, f"batch {i}: {got} != {want}"
    ch.unpersist()


def test_distinct_torn_commit_recovers_by_rebuild(spark, tmp_path):
    """Tearing the state/agg epoch stamps forces an O(state) rebuild
    that reproduces the exact counts."""
    from cdc2vec_spark.cdc.ivm import _read_epoch, _write_epoch

    dc = _dc(spark, tmp_path / "dv")
    dc.apply_batch(spark.createDataFrame(
        [(1, "c", "public.documents", "k1", "tA", "xx", "g1"),
         (2, "c", "public.documents", "k2", "tB", "yyy", "g1")], _DC_SCHEMA))
    want = {(r["grp"], r["n_titles"], r["n_clens"]) for r in dc.read().collect()}
    # simulate a crash between the swaps: advance the state stamp only
    _write_epoch(dc._epoch_state, _read_epoch(dc._epoch_state) + 1)
    got = {(r["grp"], r["n_titles"], r["n_clens"]) for r in dc.read().collect()}
    assert got == want


def test_distinct_spec_hygiene_rejected_at_config_time(spark, tmp_path):
    from cdc2vec_spark.cdc.ivm import IncrementalDistinctCount

    with pytest.raises(ValueError, match="at least one"):
        IncrementalDistinctCount(spark, str(tmp_path / "a"), specs=[])
    with pytest.raises(ValueError, match="duplicate"):
        IncrementalDistinctCount(
            spark, str(tmp_path / "b"),
            specs=[{"name": "x", "col": "a"}, {"name": "x", "col": "b"}])
    with pytest.raises(ValueError, match="needs a 'col'"):
        IncrementalDistinctCount(
            spark, str(tmp_path / "c"), specs=[{"name": "x"}])


@pytest.mark.slow
def test_boot_distinct_agg_sink_end_to_end(spark, sf_dir, tmp_path):
    """sink.type=distinct_agg in the config: boot() maintains the
    ref-counted COUNT(DISTINCT) table from the live stream; after the
    replay it equals COUNT(DISTINCT md5(text)) per author over the LWW
    live state — the live exact-dup audit."""
    from cdc2vec_spark import runner
    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )
    from cdc2vec_spark.streaming import source

    dpath = str(tmp_path / "dagg")
    cfg = PipelineConfig(
        engine=DEFAULT_CONFIG, source=SourceConfig(),
        sink=SinkConfig(
            type="distinct_agg",
            options={"path": dpath, "group_key": "after_author",
                     "n_buckets": 8, "dv_buckets": 8},
        ),
    )
    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    source.write_chunks(ch, chunks, n_chunks=3, order_col="lsn")
    query, coll, _ = runner.boot(
        spark, config=cfg, changes_dir=chunks, changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    from cdc2vec_spark.cdc.ivm import IncrementalDistinctCount

    dc = IncrementalDistinctCount(
        spark, dpath,
        specs=[{"name": "n_distinct_texts", "col": "md5(after_text)"}],
        group_col="after_grp", text_cols=("after_text",),
        n_buckets=8, dv_buckets=8,
    )
    got = {r["grp"]: r["n_distinct_texts"] for r in dc.read().collect()}

    from cdc2vec_spark.cdc.apply import latest_state

    live = latest_state(ch, text_cols=("after_title", "after_content"))
    txt = F.concat_ws(
        " ",
        F.nullif(F.col("after_title"), F.lit("")),
        F.nullif(F.col("after_content"), F.lit("")),
    )
    want = {
        r["grp"]: r["n"]
        for r in live.where(F.col("op") != "d")
        .groupBy(F.col("after_author").alias("grp"))
        .agg(F.countDistinct(F.md5(txt)).alias("n"))
        .collect()
    }
    assert got == want != {}


def test_distinct_agg_sink_rejects_bad_specs_at_boot():
    """Spec hygiene fails the BOOT, not micro-batch 1."""
    from cdc2vec_spark import runner
    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )

    cfg = PipelineConfig(
        engine=DEFAULT_CONFIG, source=SourceConfig(),
        sink=SinkConfig(
            type="distinct_agg",
            options={"path": "/tmp/x", "specs": [{"name": "x"}]},
        ),
    )
    with pytest.raises(ValueError, match="needs a 'col'"):
        runner.sink_hook_for(cfg)


# ---------------- ranked top-k report off the dv state (c17) -----------

@pytest.mark.parametrize("sf", [SF0001, SF001])
def test_c17_matches_duckdb_oracle(spark, sf):
    from cdc2vec_spark.cdc.ivm import C17_ORACLE_BODY, c17_incremental_topk

    con = duckdb_conn(sf)
    problems = compare_one(
        spark, con, "c17_incremental_topk", c17_incremental_topk,
        CHANGES_CTE + C17_ORACLE_BODY, sf,
    )
    assert not problems, (sf, problems)


def test_topk_ranking_ties_and_truncation(spark, tmp_path):
    """topk ranks by (cnt DESC, value ASC), truncates at k, and a value
    whose last holder leaves drops out of the report."""
    dc = _dc(spark, tmp_path / "dv")
    rows = [
        (1, "c", "public.documents", "k1", "tB", "xx", "g1"),
        (2, "c", "public.documents", "k2", "tB", "yy", "g1"),
        (3, "c", "public.documents", "k3", "tA", "zz", "g1"),
        (4, "c", "public.documents", "k4", "tC", "ww", "g1"),
    ]
    dc.apply_batch(spark.createDataFrame(rows, _DC_SCHEMA))
    got = [
        (r["rnk"], r["value"], r["cnt"])
        for r in dc.topk(2).where("spec = 'n_titles'")
        .orderBy("rnk").collect()
    ]
    # tB holds 2; tA/tC tie at 1 -> value ASC puts tA at rank 2; k=2
    # truncates tC
    assert got == [(1, "tB", 2), (2, "tA", 1)], got

    # delete BOTH tB holders: tB vanishes, tA/tC move up
    dc.apply_batch(spark.createDataFrame(
        [(5, "d", "public.documents", "k1", None, None, None),
         (6, "d", "public.documents", "k2", None, None, None)], _DC_SCHEMA))
    got = [
        (r["rnk"], r["value"], r["cnt"])
        for r in dc.topk(2).where("spec = 'n_titles'")
        .orderBy("rnk").collect()
    ]
    assert got == [(1, "tA", 1), (2, "tC", 1)], got


@pytest.mark.slow
def test_topk_equals_recompute_after_every_batch(spark, sf_dir, tmp_path):
    """After EACH replayed micro-batch, topk over the maintained dv
    state equals the same ranking recomputed from the LWW live rows."""
    from cdc2vec_spark.cdc.ivm import IncrementalDistinctCount

    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED).persist()
    lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
    step = (hi - lo) // 3 + 1
    dc = IncrementalDistinctCount(
        spark, str(tmp_path / "dv3"),
        specs=[{"name": "n_titles", "col": "after_title"}],
        n_buckets=4, dv_buckets=4,
    )
    from pyspark.sql.window import Window

    for i in range(3):
        cut = lo + (i + 1) * step
        dc.apply_batch(ch.where(
            (F.col("lsn") >= lo + i * step) & (F.col("lsn") < cut)))
        got = {
            (r["grp"], r["rnk"], r["value"], r["cnt"])
            for r in dc.topk(3).collect()
        }
        # recompute: eligible events (guard-skip on empty-text upserts,
        # the c16 oracle's WHERE) -> LWW winners over the prefix ->
        # per-(author, title) live counts -> rank (cnt DESC, value ASC)
        # -> top 3
        txt = F.concat_ws(
            " ",
            F.nullif(F.col("after_title"), F.lit("")),
            F.nullif(F.col("after_content"), F.lit("")),
        )
        prefix = ch.where(F.col("lsn") < cut).where(
            (F.col("op") == "d") | (F.length(txt) > 0)
        )
        w = Window.partitionBy("pk").orderBy(F.col("lsn").desc())
        live = (
            prefix.withColumn("rn", F.row_number().over(w))
            .where("rn = 1 AND op <> 'd'")
            .where(F.col("after_title").isNotNull())
        )
        vc = live.groupBy(
            F.col("after_author").alias("grp"),
            F.col("after_title").alias("value"),
        ).agg(F.count(F.lit(1)).alias("cnt"))
        rw = Window.partitionBy("grp").orderBy(
            F.col("cnt").desc(), F.col("value").asc())
        want = {
            (r["grp"], r["rnk"], r["value"], r["cnt"])
            for r in vc.withColumn(
                "rnk", F.row_number().over(rw).cast("int"))
            .where("rnk <= 3").collect()
        }
        assert got == want != set(), f"batch {i}"
    ch.unpersist()


def test_topk_rejects_bad_k(spark, tmp_path):
    dc = _dc(spark, tmp_path / "dv")
    with pytest.raises(ValueError, match="k must be"):
        dc.topk(0)


@pytest.mark.slow
def test_boot_distinct_agg_topk_cadence(spark, sf_dir, tmp_path):
    """options.topk_every materializes the ranked top-k report to
    path/topk from the live stream; after the replay it equals the
    ranking recomputed from the LWW live state."""
    from cdc2vec_spark import runner
    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )
    from cdc2vec_spark.streaming import source

    dpath = str(tmp_path / "dagg")
    cfg = PipelineConfig(
        engine=DEFAULT_CONFIG, source=SourceConfig(),
        sink=SinkConfig(
            type="distinct_agg",
            options={"path": dpath, "group_key": "after_author",
                     "n_buckets": 8, "dv_buckets": 8,
                     "topk_every": 2, "topk_k": 2},
        ),
    )
    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED)
    chunks = str(tmp_path / "chunks")
    source.write_chunks(ch, chunks, n_chunks=4, order_col="lsn")
    query, coll, _ = runner.boot(
        spark, config=cfg, changes_dir=chunks, changes_schema=ch.schema,
        state_dir=str(tmp_path / "state"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    # 4 batches / topk_every=2 -> the report was written (batch 4 is the
    # last multiple) and reflects the FULL replayed state
    got = {
        (r["grp"], r["spec"], r["rnk"], r["value"], r["cnt"])
        for r in spark.read.parquet(dpath + "/topk").collect()
    }

    from pyspark.sql.window import Window

    from cdc2vec_spark.cdc.apply import latest_state

    live = latest_state(ch, text_cols=("after_title", "after_content"))
    txt = F.concat_ws(
        " ",
        F.nullif(F.col("after_title"), F.lit("")),
        F.nullif(F.col("after_content"), F.lit("")),
    )
    vc = (
        live.where(F.col("op") != "d")
        .groupBy(
            F.col("after_author").alias("grp"),
            F.md5(txt).alias("value"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rw = Window.partitionBy("grp").orderBy(
        F.col("cnt").desc(), F.col("value").asc())
    want = {
        (r["grp"], "n_distinct_texts", r["rnk"], r["value"], r["cnt"])
        for r in vc.withColumn("rnk", F.row_number().over(rw).cast("int"))
        .where("rnk <= 2").collect()
    }
    assert got == want != set()


def test_distinct_agg_sink_rejects_bad_topk_at_boot():
    from cdc2vec_spark import runner
    from cdc2vec_spark.config import (
        DEFAULT_CONFIG, PipelineConfig, SinkConfig, SourceConfig,
    )

    cfg = PipelineConfig(
        engine=DEFAULT_CONFIG, source=SourceConfig(),
        sink=SinkConfig(
            type="distinct_agg",
            options={"path": "/tmp/x", "topk_every": 1, "topk_k": 0},
        ),
    )
    with pytest.raises(ValueError, match="topk_k"):
        runner.sink_hook_for(cfg)


# ---------- exact quantiles off the dv state (c18) --------------------

@pytest.mark.parametrize("sf", [SF0001, SF001])
def test_c18_matches_duckdb_oracle(spark, sf):
    from cdc2vec_spark.cdc.ivm import C18_ORACLE_BODY, c18_incremental_quantiles

    con = duckdb_conn(sf)
    problems = compare_one(
        spark, con, "c18_incremental_quantiles", c18_incremental_quantiles,
        CHANGES_CTE + C18_ORACLE_BODY, sf,
    )
    assert not problems, (sf, problems)


def test_quantiles_hand_built_type1_semantics(spark, tmp_path):
    """Type-1 discrete quantile: the smallest value whose cumulative
    live-row count reaches ceil(q·n/100) — including duplicated values
    (ref counts > 1) and deletes shifting the distribution."""
    dc = _dc(spark, tmp_path / "dv")
    # content lengths: 2,2,3,5 (xx/yy share length 2 via two rows)
    rows = [
        (1, "c", "public.documents", "k1", "t1", "xx", "g1"),
        (2, "c", "public.documents", "k2", "t2", "yy", "g1"),
        (3, "c", "public.documents", "k3", "t3", "zzz", "g1"),
        (4, "c", "public.documents", "k4", "t4", "wwwww", "g1"),
    ]
    dc.apply_batch(spark.createDataFrame(rows, _DC_SCHEMA))
    got = {
        (r["grp"], r["q"]): r["value"]
        for r in dc.quantiles((25, 50, 75, 100), spec="n_clens").collect()
    }
    # n=4: P25 -> cum>=1 -> 2; P50 -> cum>=2 -> 2; P75 -> cum>=3 -> 3;
    # P100 -> cum>=4 -> 5
    assert got == {
        ("g1", 25): 2, ("g1", 50): 2, ("g1", 75): 3, ("g1", 100): 5,
    }, got

    # delete both length-2 rows: distribution is now {3, 5}
    dc.apply_batch(spark.createDataFrame(
        [(5, "d", "public.documents", "k1", None, None, None),
         (6, "d", "public.documents", "k2", None, None, None)], _DC_SCHEMA))
    got = {
        (r["grp"], r["q"]): r["value"]
        for r in dc.quantiles((50, 100), spec="n_clens").collect()
    }
    assert got == {("g1", 50): 3, ("g1", 100): 5}, got


@pytest.mark.slow
def test_quantiles_equals_recompute_after_every_batch(spark, sf_dir, tmp_path):
    """After EACH replayed micro-batch, quantiles over the maintained dv
    state equal the type-1 rule recomputed from the LWW live rows."""
    from pyspark.sql.window import Window

    from cdc2vec_spark.cdc.ivm import IncrementalDistinctCount

    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED).persist()
    lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
    step = (hi - lo) // 3 + 1
    dc = IncrementalDistinctCount(
        spark, str(tmp_path / "dvq"),
        specs=[{"name": "n_clens", "col": "length(after_content)"}],
        n_buckets=4, dv_buckets=4,
    )
    for i in range(3):
        cut = lo + (i + 1) * step
        dc.apply_batch(ch.where(
            (F.col("lsn") >= lo + i * step) & (F.col("lsn") < cut)))
        got = {
            (r["grp"], r["q"]): r["value"]
            for r in dc.quantiles((50, 95)).collect()
        }
        txt = F.concat_ws(
            " ",
            F.nullif(F.col("after_title"), F.lit("")),
            F.nullif(F.col("after_content"), F.lit("")),
        )
        prefix = ch.where(F.col("lsn") < cut).where(
            (F.col("op") == "d") | (F.length(txt) > 0))
        w = Window.partitionBy("pk").orderBy(F.col("lsn").desc())
        live = (
            prefix.withColumn("rn", F.row_number().over(w))
            .where("rn = 1 AND op <> 'd'")
            .where(F.col("after_content").isNotNull())
            .select(
                F.col("after_author").alias("grp"),
                F.length("after_content").cast("long").alias("v"),
            )
        )
        vc = live.groupBy("grp", "v").agg(F.count(F.lit(1)).alias("cnt"))
        wc = Window.partitionBy("grp").orderBy("v")
        wt = Window.partitionBy("grp")
        cum = (
            vc.withColumn("c", F.sum("cnt").over(wc))
            .withColumn("n", F.sum("cnt").over(wt))
            .select("grp", "v", "c", "n",
                    F.explode(F.array(F.lit(50), F.lit(95))).alias("q"))
            .where(F.col("c") * 100 >= F.col("q") * F.col("n"))
            .groupBy("grp", "q").agg(F.min("v").alias("value"))
        )
        want = {(r["grp"], r["q"]): r["value"] for r in cum.collect()}
        assert got == want != {}, f"batch {i}"
    ch.unpersist()


def test_quantiles_rejects_bad_qs(spark, tmp_path):
    dc = _dc(spark, tmp_path / "dv")
    with pytest.raises(ValueError, match="percentiles"):
        dc.quantiles(())
    with pytest.raises(ValueError, match="percentiles"):
        dc.quantiles((0, 50))
    with pytest.raises(ValueError, match="percentiles"):
        dc.quantiles((101,))


@pytest.mark.slow
def test_c16_c17_c18_share_one_replay(spark, sf_dir, monkeypatch):
    """The three report faces must pay the 4-batch replay ONCE per
    (session, sf_dir) — the dedup shared-graph-stage discipline: one
    stream maintains the state, many dashboards read it."""
    from cdc2vec_spark import session
    from cdc2vec_spark.cdc import ivm

    calls = {"apply": 0}
    real_apply = ivm.IncrementalDistinctCount.apply_batch

    def counting_apply(*a, **kw):
        calls["apply"] += 1
        return real_apply(*a, **kw)

    monkeypatch.setattr(ivm.IncrementalDistinctCount, "apply_batch", counting_apply)
    session.clear()
    try:
        a = ivm.c16_incremental_distinct(spark, sf_dir)
        b = ivm.c17_incremental_topk(spark, sf_dir)
        c = ivm.c18_incremental_quantiles(spark, sf_dir)
        assert a.count() > 0 and b.count() > 0 and c.count() > 0
    finally:
        session.clear()
    assert calls == {"apply": 1}


@pytest.mark.slow
def test_randomized_topk_and_quantiles_match_python_reference(spark, tmp_path):
    """Fixed-seed fuzz: random op sequences through the distinct-count
    IVM in 3 batches; after the replay, topk and quantiles over the dv
    state must equal a pure-Python LWW + rank / type-1-quantile
    reference."""
    import random

    for seed in (11, 42):
        rng = random.Random(seed)
        rows = []
        for lsn in range(1, 101):
            pk = f"k{rng.randrange(10)}"
            op = rng.choice(["c", "u", "u", "d"])
            if op == "d":
                rows.append((lsn, op, "public.documents", pk, None, None, None))
            else:
                title = rng.choice(["tA", "tB", "tC", "tD"])
                content = rng.choice(["x", "yy", "zzz", "wwww", None])
                grp = rng.choice(["g1", "g2"])
                rows.append(
                    (lsn, op, "public.documents", pk, title, content, grp))
        rng.shuffle(rows)

        # python reference: LWW by lsn with A6 guard-skip semantics
        state = {}
        for lsn, op, tbl, pk, t, c, g in sorted(rows):
            if op == "d":
                state[pk] = None
            elif len(" ".join(x for x in (t, c) if x)) > 0:
                state[pk] = (g, t, c)
        live = [v for v in state.values() if v is not None]

        from collections import Counter

        want_topk = set()
        want_q = set()
        for grp in {v[0] for v in live}:
            titles = Counter(t for g, t, c in live if g == grp and t is not None)
            ranked = sorted(titles.items(), key=lambda kv: (-kv[1], kv[0]))
            for rnk, (val, cnt) in enumerate(ranked[:2], start=1):
                want_topk.add((grp, "n_titles", rnk, val, cnt))
            lens = sorted(
                len(c) for g, t, c in live if g == grp and c is not None)
            n = len(lens)
            for q in (50, 95):
                if n:
                    # type-1: smallest v with 100*cum >= q*n
                    idx = next(i for i in range(n) if (i + 1) * 100 >= q * n)
                    want_q.add((grp, "n_clens", q, lens[idx]))

        dc = _dc(spark, tmp_path / f"fz{seed}")
        third = len(rows) // 3 + 1
        for i in range(3):
            b = rows[i * third:(i + 1) * third]
            if b:
                dc.apply_batch(spark.createDataFrame(b, _DC_SCHEMA))
        got_topk = {
            (r["grp"], r["spec"], r["rnk"], r["value"], r["cnt"])
            for r in dc.topk(2).where("spec = 'n_titles'").collect()
        }
        got_q = {
            (r["grp"], r["spec"], r["q"], r["value"])
            for r in dc.quantiles((50, 95), spec="n_clens").collect()
        }
        assert got_topk == want_topk, (seed, got_topk, want_topk)
        assert got_q == want_q, (seed, got_q, want_q)


def test_group_agg_replay_batched_equals_sequential(spark, tmp_path, sf_dir):
    """The whole change log applied as ONE
    IncrementalGroupAgg.apply_batch call must read back the same agg
    table as a 4-LSN-quartile sequential replay — the per-epoch
    delta fold telescopes to live_agg(final state), which is invariant
    under any batch partitioning of the same log. This is the invariant
    c12_incremental_agg's one-call replay rests on."""
    from cdc2vec_spark.cdc.ivm import IncrementalGroupAgg

    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED).persist()
    try:
        lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
        step = (hi - lo) // 4 + 1
        seq = IncrementalGroupAgg(spark, str(tmp_path / "seq"), n_buckets=8)
        for i in range(4):
            seq.apply_batch(
                ch.where(
                    (F.col("lsn") >= lo + i * step)
                    & (F.col("lsn") < lo + (i + 1) * step)
                )
            )
        one = IncrementalGroupAgg(spark, str(tmp_path / "one"), n_buckets=8)
        one.apply_batch(ch)
        a = sorted(map(tuple, seq.read().collect()))
        b = sorted(map(tuple, one.read().collect()))
        assert a == b and len(a) > 0
    finally:
        ch.unpersist()


# ---------------------------------------------- the segment-log row state

def _ivm(spark, kind, path):
    if kind == "agg":
        return IncrementalGroupAgg(spark, path, n_buckets=4, aggs=_MM_AGGS)
    return _dc(spark, path)


def _answer(ivm):
    return sorted(map(tuple, ivm.read().collect()), key=repr)


def _ivm_batches(spark):
    rows = [
        [(1, "c", "public.documents", "k1", "aaa", "bb", "g1"),
         (2, "c", "public.documents", "k2", "cc", "d", "g2"),
         (3, "c", "public.documents", "k3", "eee", "ffff", "g1")],
        [(4, "u", "public.documents", "k1", "aaaaaa", "b", "g1"),
         (5, "d", "public.documents", "k2", None, None, None)],
        [(6, "c", "public.documents", "k4", "gg", "hhh", "g2"),
         (7, "d", "public.documents", "k3", None, None, None)],
        [(8, "u", "public.documents", "k4", "g", "hhhhh", "g1")],
        [(9, "c", "public.documents", "k2", "ii", "jj", "g2")],
    ]
    return [spark.createDataFrame(r, _SCHEMA) for r in rows]


@pytest.mark.parametrize("kind", ["agg", "distinct"])
def test_apply_appends_one_state_segment_and_modifies_no_file(spark, tmp_path, kind):
    """An apply writes its events as one new segment of the row state
    and leaves every file the state held as it was."""
    from tests.test_ann_index import _files, _new_segments

    root = str(tmp_path / "v")
    ivm = _ivm(spark, kind, root)
    b1, b2 = _ivm_batches(spark)[:2]
    ivm.apply_batch(b1)
    before = _files(root + "/state")
    ivm.apply_batch(b2)
    assert len(_new_segments(before, _files(root + "/state"))) == 1


@pytest.mark.slow
@pytest.mark.parametrize("kind", ["agg", "distinct"])
def test_bucket_layout_state_upgrades_in_place(spark, tmp_path, kind):
    """A view in the earlier layout — root state/bucket=<i>/ dirs written
    by partitionBy, one bucket stranded under state.old/ by a crash,
    the agg (and dv) stores and both epoch files — opens as one adopted
    segment and answers as the same view in segments does, after each
    later apply and after its first compaction."""
    import os
    import shutil

    batches = _ivm_batches(spark)
    ref = _ivm(spark, kind, str(tmp_path / "ref"))
    for b in batches[:2]:
        ref.apply_batch(b)
    old = str(tmp_path / "old")
    ref.state.store.read().write.partitionBy("bucket").parquet(old + "/state")
    for name in ("agg", "dv", "_epoch_state", "_epoch_agg"):
        src = os.path.join(str(tmp_path / "ref"), name)
        if os.path.isdir(src):
            shutil.copytree(src, os.path.join(old, name))
        elif os.path.exists(src):
            shutil.copy(src, os.path.join(old, name))
    stranded = sorted(n for n in os.listdir(old + "/state") if n.startswith("bucket="))[0]
    os.makedirs(old + "/state.old")
    os.rename(os.path.join(old, "state", stranded), os.path.join(old, "state.old", stranded))

    ivm = _ivm(spark, kind, old)
    assert _answer(ivm) == _answer(ref)
    assert [s.seq for s in ivm.state.store.segments()] == [-1]
    assert not os.path.exists(old + "/state.old")
    for b in batches[2:]:  # the third apply compacts level 0
        ref.apply_batch(b)
        ivm.apply_batch(b)
        assert _answer(ivm) == _answer(ref)
    assert [s.level for s in ivm.state.store.segments()] == [1]


@pytest.mark.slow
@pytest.mark.parametrize("kind", ["agg", "distinct"])
def test_crash_before_publish_leaves_answer_unchanged(spark, tmp_path, monkeypatch, kind):
    """A crash between the state segment's write and its manifest
    publish leaves the state as it was; the torn epoch rebuilds the
    derived stores from it, and the replayed batch then folds in."""
    from cdc2vec_spark.cdc.segments import SegmentStore

    root = str(tmp_path / "v")
    ivm = _ivm(spark, kind, root)
    b1, b2 = _ivm_batches(spark)[:2]
    ivm.apply_batch(b1)
    want = _answer(ivm)
    segs = ivm.state.store.segments()

    def crash(*a, **k):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(SegmentStore, "_publish", crash)
    with pytest.raises(RuntimeError, match="crash before publish"):
        ivm.apply_batch(b2)
    monkeypatch.undo()
    fresh = _ivm(spark, kind, root)
    assert fresh.state.store.segments() == segs
    assert _answer(fresh) == want
    fresh.apply_batch(b2)
    ref = _ivm(spark, kind, str(tmp_path / "ref"))
    for b in (b1, b2):
        ref.apply_batch(b)
    assert _answer(fresh) == _answer(ref)
