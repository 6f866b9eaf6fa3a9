"""Driver-contract guards: the __spark_entry__ registry must stay complete
and self-consistent, so a silent drop (import error, registry drift, a
query the driver never grades) fails the suite loudly instead of showing
up as a quietly shorter CORRECTNESS file.
"""

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402

from oracle_check import EXPECTED_QUERIES, check_registry  # noqa: E402


def test_registry_complete():
    qs = entrymod.queries()
    check_registry(qs)
    assert len(qs) == len(EXPECTED_QUERIES)


def test_oracles_subset_of_queries():
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    orphans = set(oracles) - set(qs)
    assert not orphans, f"oracle_sql() has entries with no query: {sorted(orphans)}"


def test_every_query_callable():
    for name, fn in entrymod.queries().items():
        assert callable(fn), name


@pytest.mark.parametrize("rows_only", [
    # documented rows-only (no SQL oracle) set: x1/x2/x4 carry full
    # UNION-ALL oracles of their
    # oracle-bearing components; x3 consolidates the genuinely
    # rows-only components and is the ONE no_oracle registry row.
    # Additions need a pinned engine test per SURVEY §5; removals should
    # convert the entry to a full oracle row.
    {"x3_rowsonly_ann"}
])
def test_rows_only_set_is_exactly_documented(rows_only):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    actual = set(qs) - set(oracles)
    assert actual == rows_only, (
        f"rows-only drift: newly_missing_oracle={sorted(actual - rows_only)} "
        f"gained_oracle={sorted(rows_only - actual)}"
    )


def test_registry_is_exactly_driver_budget():
    # the driver grades at most 50 entries (SURVEY §2.3 grading note);
    # the registry must fill the budget exactly — fewer wastes graded
    # slots, more silently drops the tail from CORRECTNESS
    assert len(entrymod.queries()) == 50


def test_composites_cover_all_consolidated_components():
    from cdc2vec_spark.operators import composite

    qs = entrymod.queries()
    for k in composite.CONSOLIDATED:
        assert k not in qs, f"{k} consolidated AND registered individually"
    assert set(composite.QUERIES) <= set(qs)


def test_composite_probes_execute_and_tag_components(spark, sf_dir):
    """Each composite runs end-to-end and its probe column carries every
    consolidated component (so a component silently dropping out of a
    composite fails here, not as a quietly smaller rows-only count)."""
    from cdc2vec_spark.operators import composite

    # x1/x2/x4 hold ONLY oracle-bearing
    # components (their membership is pinned against composite._X_MEMBERS
    # below, the same table the UNION-ALL oracles are generated from);
    # x3 holds every genuinely rows-only component.
    expected = {
        name: set(members) for name, members in composite._X_MEMBERS.items()
    }
    expected["x3_rowsonly_ann"] = {
        "a8_deterministic_embed", "a9_points_pipeline", "b16_sketches",
        "c4_watermark", "d10_split", "d10_pack",
        "d2_minhash_lsh", "d2_simhash", "d9_keep_canonical",
        "d6_features", "d12_semdedup",
        "d3_ivf_topk", "d3_hyperplane_topk", "d3_pq_topk",
        "d8_lsh_neardup", "d22_pca_topk", "d45_kmeans_refine",
        "t8_bpe",
    }
    assert set(composite._X_MEMBERS) == {
        "x1_rowsonly_pipeline", "x2_rowsonly_dedup", "x4_rowsonly_stable"
    }
    assert set().union(*expected.values()) == set(composite.CONSOLIDATED)
    for name, fn in composite.QUERIES.items():
        rows = fn(spark, sf_dir).collect()
        tags = {r["probe"] for r in rows}
        assert tags == expected[name], f"{name}: {tags} != {expected[name]}"
        assert rows and all(r["row"] is not None for r in rows)


def test_canon_schema_matches_live(spark, sf_dir):
    """_CANON_SCHEMA (the static table the DuckDB union oracles are
    generated from) must equal the live Spark schemas of the components,
    name-sorted — a component schema change without a table update would
    otherwise surface as an opaque driver hash mismatch on the
    composite."""
    from cdc2vec_spark.operators import composite

    comp = composite.component_queries()
    for probe, pinned in composite._CANON_SCHEMA.items():
        live = tuple(
            sorted(comp[probe](spark, sf_dir).dtypes, key=lambda ct: ct[0])
        )
        assert tuple(map(tuple, pinned)) == live, f"{probe}: {pinned} != {live}"


def test_composite_oracles_cover_exactly_their_members():
    from cdc2vec_spark.operators import composite

    oracle_sqls = composite._component_oracles()
    for xname, members in composite._X_MEMBERS.items():
        assert set(members) <= set(oracle_sqls), xname
        # every member appears as a probe literal in the union oracle
        for m in members:
            assert f"'{m}' AS probe" in composite.ORACLES[xname], (xname, m)
    assert set(composite.ORACLES) == set(composite._X_MEMBERS)


def test_oracle_gate_rejects_nul_bytes(spark):
    """A NUL-bearing oracle fails the gate even when its values match
    the Spark side; the printable NULL sentinel the composites render
    passes, and neither composite side renders a NUL."""
    import duckdb

    from cdc2vec_spark.operators import composite
    from oracle_check import compare_one

    con = duckdb.connect()

    def one(value):
        return lambda spark, _sf: spark.createDataFrame([(value,)], "s string")

    planted = compare_one(
        spark, con, "planted", one("\0NULL"), "SELECT chr(0) || 'NULL' AS s", ""
    )
    assert planted == ["oracle column 's' has strings with NUL/control bytes"]
    sentinel = f"SELECT '{composite.NULL_CELL}' AS s"
    assert compare_one(spark, con, "ok", one(composite.NULL_CELL), sentinel, "") == []
    assert composite.NULL_CELL.isprintable()
    assert all("chr(0)" not in sql for sql in composite.ORACLES.values())
