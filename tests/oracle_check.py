"""Local replica of the driver's DuckDB-oracle correctness gate.

For each query name: run the Spark DataFrame and the DuckDB oracle SQL on
the same parquet tables, then compare row count, column-name set, and an
order-insensitive canonical value multiset (columns sorted by name — the
driver's documented comparison). Used by tests/test_oracle.py and runnable
standalone:  python tests/oracle_check.py [sf_dir] [name ...]
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import re
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from cdc2vec_spark.io import TABLES  # noqa: E402


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_value(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        # round-trip shortest repr; oracle queries pre-round floats so this
        # is stable unless the engines genuinely disagree
        return f"f:{v!r}"
    if isinstance(v, _dt.datetime):
        return "t:" + v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return "d:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    if isinstance(v, bytes):
        return "x:" + v.hex()
    return f"s:{v}"


def canon_rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    canon = sorted("|".join(_canon_value(r[i]) for i in order) for r in rows)
    return sorted_cols, canon


def oracle_type_problems(con, sql: str) -> list[str]:
    """Lint the oracle's DuckDB result types.

    The driver's value hash is type-sensitive: an uncast integer ``sum()``
    comes back as HUGEINT (int128) in DuckDB where Spark produces BIGINT,
    and the hashes diverge even when every value matches (the d13/d16
    failure mode). Fail loudly here so the class of bug never reaches the
    driver — wrap integer sums in ``CAST(... AS BIGINT)``.
    """
    try:
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
    except Exception as e:  # noqa: BLE001 — lint must not mask the real compare
        return [f"DESCRIBE failed: {type(e).__name__}: {e}"]
    return [
        f"oracle column {row[0]!r} has driver-hash-unsafe DuckDB type {row[1]}"
        for row in desc
        if "HUGEINT" in str(row[1]).upper() or "INT128" in str(row[1]).upper()
    ]


# C0 control characters and DEL, except tab/newline/carriage return,
# which real text columns carry
_CONTROL = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")


def oracle_value_problems(cols: list[str], rows: list[tuple]) -> list[str]:
    """Lint the oracle's string values.

    The grader's value hash cannot compare strings holding NUL or other
    control bytes (a NUL NULL-sentinel in the x1/x4 canonical rows kept
    both probes from hash-matching while the local value compare passed).
    Fail loudly here so such values are caught locally."""

    def strings(v):
        if isinstance(v, str):
            yield v
        elif isinstance(v, (list, tuple)):
            for x in v:
                yield from strings(x)
        elif isinstance(v, dict):
            for kv in v.items():
                yield from strings(kv)

    bad = {
        c
        for r in rows
        for c, v in zip(cols, r)
        if any(_CONTROL.search(x) for x in strings(v))
    }
    return [
        f"oracle column {c!r} has strings with NUL/control bytes"
        for c in sorted(bad)
    ]


def compare_one(spark, con, name: str, fn, sql: str | None, sf_dir: str) -> list[str]:
    """Returns list of problem strings; empty = match."""
    problems: list[str] = []
    sdf = fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    if sql is None:
        if len(s_rows) == 0 and not name.startswith(("a8", "d6")):
            problems.append("rows-only check: 0 rows")
        return problems
    problems.extend(oracle_type_problems(con, sql))
    cur = con.execute(sql)
    d_cols = [d[0] for d in cur.description]
    d_rows = [tuple(r) for r in cur.fetchall()]
    problems.extend(oracle_value_problems(d_cols, d_rows))
    if len(s_rows) != len(d_rows):
        problems.append(f"row count spark={len(s_rows)} duckdb={len(d_rows)}")
    sc, sv = canon_rows(s_cols, s_rows)
    dc, dv = canon_rows(d_cols, d_rows)
    if sc != dc:
        problems.append(f"columns spark={sc} duckdb={dc}")
    elif sv != dv:
        diff = [(a, b) for a, b in zip(sv, dv) if a != b][:3]
        extra_s = [x for x in sv if x not in set(dv)][:3]
        extra_d = [x for x in dv if x not in set(sv)][:3]
        problems.append(f"values differ; first diffs={diff} only_spark={extra_s} only_duckdb={extra_d}")
    return problems


# every registered query, pinned: a silent drop anywhere (registry bug,
# driver-side enumeration skip, import error) must be LOUD, not a quietly
# shorter CORRECTNESS file. Update this set when a query is added.
EXPECTED_QUERIES = frozenset(
    ["a1_mapped_filter", "a2_guards", "a3_text_concat", "a4_key_derivation",
     "a5_metadata", "a6_last_write_wins", "a7_l2_normalize"]
    + ["c6_cdc_apply", "c7_stateful_lww"]
    + ["d1_exact_dedup", "d2_blocked_jaccard", "d2_lsh_exact",
       "d3_exact_topk",
       "d3_cdc_index",
       "d6_multimodal"]
    # corpus-composition anchor
    + ["d16_corpus_pipeline"]
    + ["d27_full_prep", "d32_web_prep", "d34_semantic_decontam"]
    + ["d36_quality_classifier",
       "d37_temperature_mix", "d38_context_pack"]
    # IVM anchor
    + ["c12_incremental_agg"]
    + ["d40_incremental_dedup", "d9_keep_exact", "d44_pagerank",
       "d46_dedup_clusters", "d47_source_overlap", "d48_cluster_split",
       "d41_expectations",
       "d39_hard_negatives", "d43_source_datacard",
       "t10_pmi_collocations", "t11_sentence_stats"]
    + ["c16_incremental_distinct", "c17_incremental_topk",
       "c18_incremental_quantiles", "d45_assign_exact",
       "d49_snapshot_diff", "d50_embedding_drift", "t12_repetition_stats"]
    + ["c19_incremental_join", "d51_balanced_sample"]
    + ["c20_incremental_join_agg", "c21_scd2_history", "d52_token_drift"]
    # the rows-only queries and the long-green queries moved out of
    # individual slots (oracles pinned in tests/test_rotated_oracles.py)
    # ride inside these 4 composites so the registry fits the driver's
    # 50-entry grading budget (SURVEY §2.3)
    + ["x1_rowsonly_pipeline", "x2_rowsonly_dedup", "x3_rowsonly_ann",
       "x4_rowsonly_stable"]
)


def check_registry(qs: dict) -> None:
    got = set(qs)
    missing, extra = EXPECTED_QUERIES - got, got - EXPECTED_QUERIES
    if missing or extra:
        raise AssertionError(
            f"queries() registry drifted: {len(got)} registered, "
            f"{len(EXPECTED_QUERIES)} expected; "
            f"missing={sorted(missing)} unexpected={sorted(extra)}"
        )


def run_all(sf_dir: str, only: list[str] | None = None) -> dict[str, list[str]]:
    sys.path.insert(0, REPO)
    import __spark_entry__ as entrymod

    from cdc2vec_spark.session import get_spark

    spark = get_spark("oracle_check")
    con = duckdb_conn(sf_dir)
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    check_registry(qs)
    results: dict[str, list[str]] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            results[name] = compare_one(spark, con, name, fn, oracles.get(name), sf_dir)
        except Exception as e:  # noqa: BLE001
            results[name] = [f"EXCEPTION: {type(e).__name__}: {e}"]
    return results


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = args[1:] if args and os.path.isdir(args[0]) else args
    res = run_all(sf_dir, only or None)
    bad = 0
    for name in sorted(res):
        probs = res[name]
        status = "OK" if not probs else "FAIL"
        if probs:
            bad += 1
        print(f"{status:4s} {name}" + ("" if not probs else f"  -> {probs}"))
    print(f"\n{len(res) - bad}/{len(res)} queries match")
    sys.exit(1 if bad else 0)
