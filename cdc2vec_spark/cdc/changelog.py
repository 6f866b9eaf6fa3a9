"""Deterministic CDC change-log fixture + Group A oracle queries.

The driver's DuckDB oracle only registers the ten fixture tables
(TESTDATA.md), so the `changes` log (FIXTURES.md §2) is *derived* — by
identical arithmetic rules — from `documents` on both sides: here with
DataFrame ops, in the oracle with the CHANGES_CTE SQL below. No
randomness, no hashing: pure doc_id modular arithmetic, so both engines
must agree bit-for-bit.

Per document (doc_id, text, source):
  n_upd    = doc_id % 3                    number of updates after insert
  del_flag = doc_id % 7 == 0               history ends with a delete
  reins    = doc_id % 14 == 0              deleted then re-inserted
  rows: seq 0 = 'c'; seq 1..n_upd = 'u'; then 'd' if del_flag; then 'c' if reins
  lsn  = doc_id * 8 + seq                  unique, per-pk monotonic
  tbl  = 'public.ignored' when doc_id % 10 == 0 else 'public.documents'   (F1 fodder)
  after_title   = NULL on 'd'; '' on 'u' when doc_id % 5 == 0; else substr(text, 1, 24)
  after_content = NULL on 'd'; NULL on 'u' when doc_id % 11 == 0 (TOAST 'u'
                  → nil, postgres.go:633); else substr(text, 25, 80)
  after_author  = NULL on 'd'; else source

This yields multi-change histories, deletes, re-inserts, unmapped-table
rows, empty-string and TOAST-null text — every edge SURVEY §2.1 F1/F2/P1
cares about. pks ≡ 0 (mod 55) end with title='' AND content NULL → their
final state is guard-excluded (F2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DOCUMENTS_MAPPING
from ..io import load_table
from . import transform
from .apply import compact_changes, latest_state
from .envelope import OP_DELETE, OP_INSERT, OP_UPDATE

MAPPED = ("public.documents",)

# DuckDB-dialect CTE defining the same relation; prepended to every Group A
# oracle query. Keep in lockstep with changes_df().
CHANGES_CTE = """
WITH seqs AS (
  SELECT 0 AS seq UNION ALL SELECT 1 UNION ALL SELECT 2
  UNION ALL SELECT 3 UNION ALL SELECT 4
),
base AS (
  SELECT d.doc_id, d.text, d.source, s.seq,
         d.doc_id % 3 AS n_upd,
         CASE WHEN d.doc_id % 7 = 0 THEN 1 ELSE 0 END AS del_flag,
         CASE WHEN d.doc_id % 14 = 0 THEN 1 ELSE 0 END AS reins
  FROM documents d CROSS JOIN seqs s
),
base2 AS (
  SELECT *,
         CASE WHEN seq = 0 THEN 'c'
              WHEN seq <= n_upd THEN 'u'
              WHEN seq = n_upd + 1 AND del_flag = 1 THEN 'd'
              ELSE 'c' END AS op
  FROM base
  WHERE seq < 1 + n_upd + del_flag + reins
),
changes AS (
  SELECT doc_id * 8 + seq AS lsn,
         op,
         CASE WHEN doc_id % 10 = 0 THEN 'public.ignored'
              ELSE 'public.documents' END AS tbl,
         CAST(doc_id AS VARCHAR) AS pk,
         CASE WHEN op = 'd' THEN NULL
              WHEN op = 'u' AND doc_id % 5 = 0 THEN ''
              ELSE substr(text, 1, 24) END AS after_title,
         CASE WHEN op = 'd' THEN NULL
              WHEN op = 'u' AND doc_id % 11 = 0 THEN NULL
              ELSE substr(text, 25, 80) END AS after_content,
         CASE WHEN op = 'd' THEN NULL ELSE source END AS after_author
  FROM base2
)
"""


def changes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the change log from documents — mirror of CHANGES_CTE.

    Scale note: the explode is a narrow transformation (no shuffle); at
    100 TB the change log would instead arrive from Kafka/Debezium with
    the same flattened shape (envelope.from_debezium_json)."""
    d = load_table(spark, sf_dir, "documents")
    base = (
        d.select(
            "doc_id",
            "text",
            "source",
            F.explode(F.sequence(F.lit(0), F.lit(4))).alias("seq"),
        )
        .withColumn("n_upd", F.col("doc_id") % 3)
        .withColumn("del_flag", F.when(F.col("doc_id") % 7 == 0, 1).otherwise(0))
        .withColumn("reins", F.when(F.col("doc_id") % 14 == 0, 1).otherwise(0))
        .where(
            F.col("seq")
            < 1 + F.col("n_upd") + F.col("del_flag") + F.col("reins")
        )
        .withColumn(
            "op",
            F.when(F.col("seq") == 0, OP_INSERT)
            .when(F.col("seq") <= F.col("n_upd"), OP_UPDATE)
            .when(
                (F.col("seq") == F.col("n_upd") + 1) & (F.col("del_flag") == 1),
                OP_DELETE,
            )
            .otherwise(OP_INSERT),
        )
    )
    is_del = F.col("op") == OP_DELETE
    is_upd = F.col("op") == OP_UPDATE
    return base.select(
        (F.col("doc_id") * 8 + F.col("seq")).alias("lsn"),
        "op",
        F.when(F.col("doc_id") % 10 == 0, "public.ignored")
        .otherwise("public.documents")
        .alias("tbl"),
        F.col("doc_id").cast("string").alias("pk"),
        F.when(is_del, F.lit(None).cast("string"))
        .when(is_upd & (F.col("doc_id") % 5 == 0), F.lit(""))
        .otherwise(F.substring("text", 1, 24))
        .alias("after_title"),
        F.when(is_del, F.lit(None).cast("string"))
        .when(is_upd & (F.col("doc_id") % 11 == 0), F.lit(None).cast("string"))
        .otherwise(F.substring("text", 25, 80))
        .alias("after_content"),
        F.when(is_del, F.lit(None).cast("string")).otherwise(F.col("source")).alias(
            "after_author"
        ),
    )


def _text_col():
    return transform.concat_text(["after_title", "after_content"])


# --- Group A queries (SURVEY §2.2) --------------------------------------

def a1_mapped_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: count of changes for mapped tables only."""
    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED)
    return ch.agg(F.count(F.lit(1)).alias("n"))


def a2_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: non-delete changes surviving the empty-text guard."""
    ch = changes_df(spark, sf_dir).withColumn("txt", _text_col())
    kept = transform.guard_nonempty(ch, "txt").where(F.col("op") != OP_DELETE)
    return kept.agg(F.count(F.lit(1)).alias("n"))


def a3_text_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: the extracted text per non-delete change (nil/'' skip rules)."""
    ch = changes_df(spark, sf_dir).where(F.col("op") != OP_DELETE)
    return ch.select("lsn", "pk", _text_col().alias("txt")).orderBy("lsn")


def a4_key_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: id = tbl:pk for every change."""
    ch = changes_df(spark, sf_dir)
    return ch.select("lsn", transform.derive_key().alias("id")).orderBy("lsn")


def a5_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: metadata map built with presence-filtering; author extracted
    back out so the oracle can check it columnar-ly."""
    ch = changes_df(spark, sf_dir).where(F.col("op") != OP_DELETE)
    meta = transform.metadata_map(DOCUMENTS_MAPPING)
    return ch.select(
        "lsn",
        "pk",
        F.element_at(meta, "after_author").alias("author"),
    ).orderBy("lsn")


def a6_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1/B2 collection semantics via apply.latest_state — see its
    docstring for the skip/delete rules."""
    return latest_state(
        transform.filter_mapped(changes_df(spark, sf_dir), MAPPED),
        text_cols=("after_title", "after_content"),
    ).orderBy("pk")


def a9_points_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full hot path (SURVEY §3.2): changes → filters → projections →
    embed → normalize → points. Rows-only oracle (embedding vector);
    every stage is individually oracle-checked via a1-a6, and the vector
    hash is process-stable (deterministic provider)."""
    from ..embed.provider import DeterministicHashProvider
    from .pipeline import build_points

    pts = build_points(
        changes_df(spark, sf_dir), DOCUMENTS_MAPPING, DeterministicHashProvider(dim=32)
    )
    vhash = F.md5(
        F.concat_ws(
            ",", F.transform(F.col("vector"), lambda x: F.round(x, 6).cast("string"))
        )
    )
    return pts.select(
        "lsn", "id", "op", F.element_at("metadata", "after_author").alias("author"),
        vhash.alias("vector_hash"),
    ).orderBy("lsn")


def c6_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 — incremental CDC apply: replay the change log through
    ParquetCollection.apply_batch (the same code path foreachBatch
    drives), then read back the materialized state. Must equal the
    one-shot A6 answer — checked against the same oracle SQL.

    The replay applies the known log as ONE apply_batch call: the merge
    is max-LSN LWW with tombstones retained, so the final state is the
    same under any LSN batch partitioning of the same log
    (tests/test_apply.py: test_replay_batched_equals_sequential).
    Production callers stream per batch through the same apply_batch,
    and the bench's cdc_apply_state_scale probe measures that per-batch
    cost against large states."""
    import shutil
    import tempfile

    from .apply import ParquetCollection

    ch = transform.filter_mapped(changes_df(spark, sf_dir), MAPPED)
    root = tempfile.mkdtemp(prefix="c6_apply_")
    try:
        coll = ParquetCollection(spark, f"{root}/state")
        coll.apply_batch(ch)
        out = coll.state().select(
            "pk", "after_title", "after_content", "after_author"
        )
        # materialize executor-side before the temp dir vanishes —
        # localCheckpoint avoids the collect + re-parallelize driver
        # round-trip (rows never pass through Python)
        return out.localCheckpoint(eager=True).orderBy("pk")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def c21_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C21 — SCD Type-2 dimension history from the CDC
    change log (Kimball's slowly-changing-dimension type 2, the standard
    warehouse answer to "what did this row look like at LSN t"): every
    upsert event opens a version valid from its LSN until the key's next
    event (a delete closes the open version without opening one);
    ``is_current`` marks the open versions — together they ARE the A6
    live state, which is the containment invariant pinned in tests.

    Plan: ONE window (lead(lsn) over pk) = one hash exchange on the key
    — the canonical SCD2 form; at 100 TB this partitions by key with no
    skew surface beyond per-key history length (bounded by the change
    log's per-key event count). Complements the manifest's
    snapshot-level time travel (cdc/manifest.py) with row-level validity
    intervals."""
    from pyspark.sql.window import Window

    ch = changes_df(spark, sf_dir).where(F.col("tbl") == "public.documents")
    w = Window.partitionBy("pk").orderBy("lsn")
    hist = ch.withColumn("valid_to", F.lead("lsn").over(w))
    return (
        hist.where(F.col("op") != OP_DELETE)
        .select(
            "pk",
            F.col("after_author").alias("author"),
            F.col("lsn").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
        .orderBy("pk", "valid_from")
    )


def c22_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C22 — Kafka-style log compaction of the change
    log at the midpoint LSN horizon (``cdc/apply.py:compact_changes``):
    per-key max-LSN winners at/below the horizon (delete winners
    collected), the raw tail above it verbatim. The graded face tags
    each surviving event with its segment so the oracle checks BOTH the
    snapshot reduction and the untouched tail hash-exactly; the
    replay-equivalence invariant (LWW state of compacted ≡ full, any
    horizon) plus idempotence/monotone-composition live in
    tests/test_compaction.py."""
    ch = (
        changes_df(spark, sf_dir)
        .where(F.col("tbl") == "public.documents")
        .persist()
    )
    try:
        lo, hi = ch.agg(F.min("lsn"), F.max("lsn")).first()
        horizon = (int(lo) + int(hi)) // 2
        comp = compact_changes(ch, horizon)
        seg = (
            F.when(F.col("lsn") <= F.lit(horizon), F.lit("snapshot"))
            .otherwise(F.lit("tail"))
        )
        out = comp.select(
            seg.alias("segment"),
            "pk",
            "op",
            "lsn",
            F.col("after_author").alias("author"),
        )
        return out.localCheckpoint(eager=True).orderBy("lsn")
    finally:
        ch.unpersist()


C22_ORACLE_BODY = """
, doc AS (SELECT * FROM changes WHERE tbl = 'public.documents'),
h AS (
  SELECT CAST(floor((min(lsn) + max(lsn)) / 2.0) AS BIGINT) AS horizon
  FROM doc
),
head AS (
  SELECT d.*, row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) AS rn
  FROM doc d, h WHERE d.lsn <= h.horizon
)
SELECT 'snapshot' AS segment, pk, op, lsn, after_author AS author
FROM head WHERE rn = 1 AND op <> 'd'
UNION ALL
SELECT 'tail', pk, op, lsn, after_author
FROM doc, h WHERE lsn > h.horizon
ORDER BY lsn
"""


C21_ORACLE_BODY = """
, doc AS (SELECT * FROM changes WHERE tbl = 'public.documents'),
hist AS (
  SELECT pk, op, after_author, lsn,
         lead(lsn) OVER (PARTITION BY pk ORDER BY lsn) AS valid_to
  FROM doc
)
SELECT pk, after_author AS author, lsn AS valid_from, valid_to,
       (valid_to IS NULL) AS is_current
FROM hist WHERE op <> 'd'
ORDER BY pk, valid_from
"""


A6_ORACLE_BODY = """
SELECT pk, after_title, after_content, after_author FROM (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY lsn DESC) AS rn
  FROM changes
  WHERE tbl IN ('public.documents')
    AND (op = 'd'
         OR length(concat_ws(' ', nullif(after_title, ''), nullif(after_content, ''))) > 0)
) t WHERE rn = 1 AND op <> 'd' ORDER BY pk
"""


QUERIES = {
    "a1_mapped_filter": a1_mapped_filter,
    "a2_guards": a2_guards,
    "a3_text_concat": a3_text_concat,
    "a4_key_derivation": a4_key_derivation,
    "a5_metadata": a5_metadata,
    "a6_last_write_wins": a6_last_write_wins,
    "a9_points_pipeline": a9_points_pipeline,
    "c6_cdc_apply": c6_cdc_apply,
    "c21_scd2_history": c21_scd2_history,
    "c22_log_compaction": c22_log_compaction,
}

ORACLES = {
    "a1_mapped_filter": CHANGES_CTE
    + "SELECT count(*) AS n FROM changes WHERE tbl IN ('public.documents')",
    "a2_guards": CHANGES_CTE
    + (
        "SELECT count(*) AS n FROM changes WHERE op <> 'd' AND "
        "length(concat_ws(' ', nullif(after_title, ''), nullif(after_content, ''))) > 0"
    ),
    "a3_text_concat": CHANGES_CTE
    + (
        "SELECT lsn, pk, concat_ws(' ', nullif(after_title, ''), nullif(after_content, '')) AS txt "
        "FROM changes WHERE op <> 'd' ORDER BY lsn"
    ),
    "a4_key_derivation": CHANGES_CTE
    + "SELECT lsn, concat(tbl, ':', pk) AS id FROM changes ORDER BY lsn",
    "a5_metadata": CHANGES_CTE
    + (
        "SELECT lsn, pk, after_author AS author FROM changes "
        "WHERE op <> 'd' ORDER BY lsn"
    ),
    "a6_last_write_wins": CHANGES_CTE + A6_ORACLE_BODY,
    "c6_cdc_apply": CHANGES_CTE + A6_ORACLE_BODY,
    "c21_scd2_history": CHANGES_CTE + C21_ORACLE_BODY,
    "c22_log_compaction": CHANGES_CTE + C22_ORACLE_BODY,
}
