"""Incrementally-maintained lexical (BM25) index — the text-side twin of
`operators.ann_index.IncrementalIvfIndex`.

cdc2vec's whole premise is "keep a derived search structure fresh from
CDC". The reference only keeps a VECTOR store fresh; this engine keeps
the LEXICAL index fresh too, on the same segment log
(cdc.segments.SegmentStore, partitioned by ``bucket``) and with the same
tombstone-log design the ANN index uses (Lucene's delete-bitmap idea):

- postings live in ``bucket = pmod(xxhash64(term), n_buckets)``
  partitions as (term, id, tf, lsn) rows — a query's terms prune to
  exactly their buckets of each live segment;
- EVERY event also writes a tombstone (id, lsn) to ``bucket=-1``. An
  upsert's stale postings (scattered across term buckets the new text
  doesn't touch) are never hunted down at write time: they die at query
  time because their lsn is below the id's tombstone lsn, and are
  physically removed by ``compact()``;
- per-document lengths live in ``bucket=-2`` (one row per doc version)
  so BM25's corpus stats (N, avgdl) come from a two-column scan.

Write protocol: a batch appends its max-LSN row per (bucket, id, term)
as one segment — O(batch), flat in index size, the index never read.
Reads resolve the same rule across the live segments. ``build()``,
``compact()`` and ``rebuild()`` write the whole index as one segment
and publish one generation that replaces every live segment.

Query-time scoring is the same fixed-point micro-nat BM25 as
``text.bm25_topk`` (exact integer ranking), so a freshly-built index
must reproduce the batch operator bit-for-bit and the post-CDC index
must match a DuckDB oracle computed over the reconstructed corpus —
both pinned in tests/test_lex_index.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cdc.envelope import OP_DELETE
from ..cdc.segments import SegmentStore, max_lsn_per

BUCKET_COL = "bucket"
TOMB_BUCKET = -1
DOC_BUCKET = -2

_K1, _B = 1.2, 0.75


def _term_bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


class IncrementalLexicalIndex:
    """Disk-resident inverted index kept fresh by CDC micro-batches."""

    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 16,
                 id_col: str = "id", text_col: str = "text",
                 payload_cols: tuple[str, ...] = (),
                 auto_compact_ratio: float | None = 0.5,
                 auto_compact_min: int = 4096,
                 chunked: bool = False):
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self.id_col = id_col
        self.text_col = text_col
        # Chunked replace-set mode (the IncrementalIvfIndex contract —
        # see its __init__ docstring): ids are "<base>#<chunk>" and
        # tombstones key on the base id, so one tombstone row supersedes
        # every chunk of a key (stale tail chunks on shrink, all chunks
        # on delete). Frozen to _meta.json so later readers derive the
        # same join key.
        self.chunked = bool(chunked)
        meta = self._stored_meta()
        if meta is not None:
            self.chunked = bool(meta.get("chunked", False))
            # the bucket layout is a physical property of the stored
            # index (rebuild() may have re-bucketed it) — a reader must
            # adopt it or topk would read the wrong term buckets
            self.n_buckets = int(meta.get("n_buckets", n_buckets))
        # FILTERED lexical search (the ann_index.payload_cols twin):
        # payload columns ride on the docstat rows, and topk's
        # ``predicate`` pre-filters candidate docs before scoring — the
        # top-k OF THE FILTERED SET, never a post-filtered short list.
        # BM25 stats (N, avgdl, df) stay corpus-wide, the standard
        # filtered-search semantics (scores don't change as filters do).
        self.payload_cols = tuple(payload_cols)
        # Auto-compaction: the tombstone log grows O(events since last
        # compact) — the same degradation the ANN index's trigger bounds
        # (ann_index.__init__: compact when tombstones exceed ratio ×
        # docstat rows AND the min floor). None disables (manual
        # compact() only).
        self.auto_compact_ratio = auto_compact_ratio
        self.auto_compact_min = auto_compact_min
        # Compaction-trigger counters: the tombstone and docstat rows
        # written since the last build/compact (an upper bound on what
        # the live segments hold), fed by Observation metrics on each
        # write, so the trigger reads no state. None = unknown (writer
        # attached to a pre-existing index) → one lazy count, once per
        # writer lifetime. Valid because the index is single-writer by
        # contract (one foreachBatch stream).
        self._tomb_rows: int | None = None
        self._doc_rows: int | None = None
        # one window covers all three partition kinds: postings key
        # (bucket, id, term), tombstone/docstat key (bucket, id, null)
        self.store = SegmentStore(
            spark, path, None,
            max_lsn_per(BUCKET_COL, "id", F.coalesce("term", F.lit(""))),
            col=BUCKET_COL,
        )

    # ------------------------------------------------------------ rows

    def _event_rows(self, batch: DataFrame, with_tombs: bool) -> DataFrame:
        """(term, id, tf, dl, lsn, bucket) rows for a batch of
        (id, text[, op], lsn): postings + docstats for upserts, plus —
        when ``with_tombs`` — one tombstone per event id."""
        has_op = "op" in batch.columns
        ups = batch.where(F.col("op") != OP_DELETE) if has_op else batch
        toks = F.split(F.lower(F.col(self.text_col)), " ")

        def _null_payloads():
            return [
                F.lit(None).cast("string").alias(c) for c in self.payload_cols
            ]

        base = ups.select(
            F.col(self.id_col).alias("id"),
            toks.alias("_t"),
            F.col("lsn").cast("long").alias("lsn"),
            *[F.col(c).cast("string") for c in self.payload_cols],
        ).withColumn("dl", F.size("_t"))
        postings = (
            base.select("id", "dl", "lsn", F.explode("_t").alias("term"))
            .groupBy("id", "lsn", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
            .select(
                "term", "id", F.col("tf").cast("long").alias("tf"),
                F.lit(None).cast("long").alias("dl"), "lsn",
                *_null_payloads(),
                _term_bucket(F.col("term"), self.n_buckets).alias(BUCKET_COL),
            )
        )
        docstats = base.select(
            F.lit(None).cast("string").alias("term"), F.col("id"),
            F.lit(None).cast("long").alias("tf"),
            F.col("dl").cast("long").alias("dl"), "lsn",
            *[F.col(c) for c in self.payload_cols],
            F.lit(DOC_BUCKET).cast("int").alias(BUCKET_COL),
        )
        out = postings.unionByName(docstats)
        if with_tombs:
            tombs = batch.select(
                F.lit(None).cast("string").alias("term"),
                # chunked: the tombstone keys on the BASE id (replace-set)
                self._tomb_key_expr(F.col(self.id_col)).alias("id"),
                F.lit(None).cast("long").alias("tf"),
                F.lit(None).cast("long").alias("dl"),
                F.col("lsn").cast("long").alias("lsn"),
                *_null_payloads(),
                F.lit(TOMB_BUCKET).cast("int").alias(BUCKET_COL),
            )
            out = out.unionByName(tombs)
        return out

    # ----------------------------------------------------------- build

    def build(self, docs: DataFrame, lsn_col: str | None = None) -> None:
        """Offline build from (id, text[, lsn]) — initial rows default to
        lsn 0 so ANY later CDC event outranks them; no tombstones.

        The build replaces every live segment, so no stale term bucket
        or tombstone (lsn > 0, which would outrank every rebuilt row at
        lsn 0) survives it. The event-row schema is frozen to
        ``_schema.json`` (the IncrementalIvfIndex contract) so later
        batches from a misconfigured writer fail loudly instead of
        mis-merging."""
        src = docs.select(
            F.col(self.id_col),
            F.col(self.text_col),
            (F.col(lsn_col) if lsn_col else F.lit(0)).cast("long").alias("lsn"),
            *[F.col(c) for c in self.payload_cols],
        )
        ev = self._event_rows(src, with_tombs=False)
        import json as _json

        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path + "_schema.json", "w") as fh:
            _json.dump(ev.schema.jsonValue(), fh)
        self._write_meta()
        self._replace(ev)

    def _stored_schema(self) -> T.StructType | None:
        """The event-row schema frozen by build() (None for an index
        built before the freeze existed — batches pass through as-is)."""
        p = self.path + "_schema.json"
        if not os.path.exists(p):
            return None
        import json as _json

        with open(p) as fh:
            return T.StructType.fromJson(_json.load(fh))

    def _write_meta(self) -> None:
        import json as _json

        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path + "_meta.json", "w") as fh:
            _json.dump({"chunked": self.chunked, "n_buckets": self.n_buckets}, fh)

    def _stored_meta(self) -> dict | None:
        p = self.path + "_meta.json"
        if not os.path.exists(p):
            return None
        import json as _json

        with open(p) as fh:
            return _json.load(fh)

    def _tomb_key_expr(self, c):
        return F.substring_index(c, "#", 1) if self.chunked else c

    # ----------------------------------------------------------- write

    def apply_batch(self, batch: DataFrame, _epoch_id: int | None = None) -> None:
        """foreachBatch hook: append the (id, text, op, lsn) rows'
        postings, docstats and tombstones as one segment. Idempotent
        (max-LSN per key within each partition kind); reads no state."""
        if self._stored_meta() is None:
            self._write_meta()  # sink path builds lazily on first batch
        ev = self._event_rows(batch, with_tombs=True)
        stored = self._stored_schema()
        if stored is not None:
            # conform to the build-time schema freeze: a writer
            # configured with different id/text/payload columns must
            # fail loudly, not merge mismatched rows into the buckets
            want = {f.name for f in stored.fields}
            missing = sorted(want - set(ev.columns))
            extra = sorted(set(ev.columns) - want)
            if missing or extra:
                raise ValueError(
                    f"batch schema does not match the index schema frozen "
                    f"at build ({self.path}_schema.json): missing={missing} "
                    f"extra={extra} — rebuild, or configure this writer "
                    f"with the index's id/text/payload_cols"
                )
            ev = ev.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in stored.fields]
            )
        obs = Observation()
        self.store.append(self._observed(ev, obs))
        got = obs.get
        if self._tomb_rows is not None:
            self._tomb_rows += int(got["tombs"] or 0)
        if self._doc_rows is not None:
            self._doc_rows += int(got["docs"] or 0)
        if self.auto_compact_ratio is not None:
            self._maybe_compact()

    @staticmethod
    def _observed(rows: DataFrame, obs: Observation) -> DataFrame:
        """``rows`` with its tombstone and docstat counts fed to ``obs``
        by the write that consumes it."""
        return rows.observe(
            obs,
            F.sum((F.col(BUCKET_COL) == TOMB_BUCKET).cast("long")).alias("tombs"),
            F.sum((F.col(BUCKET_COL) == DOC_BUCKET).cast("long")).alias("docs"),
        )

    def _replace(self, rows: DataFrame) -> None:
        """Publish ``rows`` (no tombstones) as the whole index and reset
        the compaction counters from the write's own row counts."""
        obs = Observation()
        self.store.replace(self._observed(rows, obs))
        self._doc_rows = int(obs.get["docs"] or 0)
        self._tomb_rows = 0

    def _maybe_compact(self) -> None:
        """Trigger compact() when the tombstone log outgrows the live doc
        set. Reads the Observation-fed counters; a pruned count scan runs
        only when a counter is unknown (writer attached to a pre-existing
        index), once per writer lifetime."""
        if self._tomb_rows is None:
            t = self.store.read(parts=[TOMB_BUCKET])
            self._tomb_rows = t.count() if t is not None else 0
        if self._tomb_rows < self.auto_compact_min:
            return
        if self._doc_rows is None:
            d = self.store.read(parts=[DOC_BUCKET])
            self._doc_rows = d.count() if d is not None else 0
        if self._tomb_rows > self.auto_compact_ratio * max(self._doc_rows, 1):
            self.compact()

    # ----------------------------------------------------------- query

    def _tomb_maxlsn(self) -> DataFrame | None:
        t = self.store.read(parts=[TOMB_BUCKET])
        if t is None:
            return None
        return t.groupBy("id").agg(F.max("lsn").alias("_tlsn"))

    def _alive(self, df: DataFrame, tomb: DataFrame | None) -> DataFrame:
        """Rows whose lsn is not superseded by the (base) id's tombstone
        — an upsert's own rows carry the tombstone's lsn and survive;
        older versions (and anything under a delete tombstone) die. In
        chunked mode the join key is the base id, so stale tail chunks
        and deleted keys' chunks die together."""
        if tomb is None:
            return df
        if not self.chunked:
            return df.join(F.broadcast(tomb), "id", "left").where(
                F.col("_tlsn").isNull() | (F.col("lsn") >= F.col("_tlsn"))
            ).drop("_tlsn")
        t = tomb.withColumnRenamed("id", "_tkey")
        return (
            df.withColumn("_tkey", self._tomb_key_expr(F.col("id")))
            .join(F.broadcast(t), "_tkey", "left")
            .where(F.col("_tlsn").isNull() | (F.col("lsn") >= F.col("_tlsn")))
            .drop("_tkey", "_tlsn")
        )

    def topk(
        self,
        query_terms: tuple[str, ...],
        k: int = 10,
        predicate=None,
    ) -> DataFrame:
        """BM25 top-k over the index's LIVE state: reads exactly the
        query terms' buckets + the tombstone and docstats partitions.

        ``predicate`` (Column or SQL string over the configured
        ``payload_cols``) PRE-filters the candidate documents — the
        result is the true top-k of the filtered set. Corpus stats stay
        corpus-wide (filtered-search semantics: a filter narrows the
        candidates, it doesn't re-weight the model)."""
        tbuckets = sorted(
            {
                r[0]
                for r in self.spark.createDataFrame(
                    [(t,) for t in query_terms], "term string"
                )
                .select(_term_bucket(F.col("term"), self.n_buckets))
                .collect()
            }
        )
        tomb = self._tomb_maxlsn()
        docstats = self.store.read(parts=[DOC_BUCKET])
        if docstats is None:
            raise ValueError(f"empty lexical index at {self.path}")
        live_docs = self._alive(
            docstats.select("id", "dl", "lsn", *self.payload_cols), tomb
        )
        stats = live_docs.agg(
            F.count(F.lit(1)).alias("N"), F.avg("dl").alias("avgdl")
        )
        postings = self.store.read(parts=tbuckets)
        if postings is None:
            return live_docs.select(
                F.col("id"), F.lit(0).alias("n_hit_terms"),
                F.lit(0).cast("long").alias("score_micro"),
            ).limit(0)
        tf = self._alive(
            postings.where(F.col("term").isin(*query_terms)).select(
                "term", "id", "tf", "lsn"
            ),
            tomb,
        ).join(live_docs.select("id", "dl", *self.payload_cols), "id")
        # df over the WHOLE live corpus, before any predicate — filters
        # narrow the candidates, they don't re-weight the model (scores
        # must not change as filters do)
        df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        if predicate is not None:
            tf = tf.where(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        scored = (
            tf.join(F.broadcast(df_t), "term")
            .crossJoin(F.broadcast(stats))
            .withColumn(
                "_idf",
                F.log(1.0 + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
            )
            .withColumn(
                "_ts",
                F.col("_idf") * (F.col("tf") * (_K1 + 1))
                / (F.col("tf") + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl"))),
            )
        )
        return (
            scored.groupBy("id")
            .agg(
                F.count(F.lit(1)).alias("n_hit_terms"),
                F.sum(F.round(F.col("_ts") * 1e6).cast("long")).alias("score_micro"),
            )
            .orderBy(F.col("score_micro").desc(), F.col("id"))
            .limit(k)
        )

    # -------------------------------------------------------------- GC

    def stats(self, top_k: int = 20) -> dict:
        """Incremental corpus statistics FROM the index's live state —
        the CDC-maintained form of the batch t1/t6/t7 reports: doc
        count, token totals and length percentiles from the docstat
        partition, top-``top_k`` document-frequency terms from the
        postings. The stream already paid for this state, so corpus
        stats need NO rescan of the corpus.

        Reads the docstat + tombstone partitions plus every term bucket
        (the df report aggregates all postings — the index is far
        smaller than the corpus; at 100 TB this is a scheduled report,
        not a per-query call)."""
        tomb = self._tomb_maxlsn()
        docstats = self.store.read(parts=[DOC_BUCKET])
        if docstats is None:
            raise ValueError(f"empty lexical index at {self.path}")
        live = self._alive(docstats.select("id", "dl", "lsn"), tomb)
        row = live.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("total_tokens"),
            F.round(F.avg("dl"), 2).alias("avg_dl"),
            F.expr("round(percentile(dl, 0.5), 2)").alias("p50_dl"),
            F.expr("round(percentile(dl, 0.9), 2)").alias("p90_dl"),
        ).collect()[0]
        postings = self.store.read().where(F.col(BUCKET_COL) >= 0)
        top = (
            self._alive(postings.select("term", "id", "lsn"), tomb)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .orderBy(F.col("df").desc(), "term")
            .limit(top_k)
            .collect()
        )
        return {
            "n_docs": int(row["n_docs"]),
            "total_tokens": int(row["total_tokens"] or 0),
            "avg_dl": float(row["avg_dl"] or 0.0),
            "p50_dl": float(row["p50_dl"] or 0.0),
            "p90_dl": float(row["p90_dl"] or 0.0),
            "top_terms": [(r["term"], int(r["df"])) for r in top],
        }

    def compact(self) -> None:
        """Offline GC: drop dead postings/docstats and the tombstone log,
        publishing the survivors as the whole index (the
        ann_index.compact contract)."""
        self.rebuild()

    def rebuild(self, n_buckets: int | None = None) -> None:
        """Offline re-bucket + GC — the lexical twin of the IVF
        ``rebuild``: compact's garbage collection PLUS a reassignment of
        every live posting to the term-bucket layout of ``n_buckets``
        (default: the current layout, making this a plain compact).
        The cure for bucket skew the health policy detects
        (operators.index_health.lex_rebuild_policy): vocabulary drift
        piles postings into few buckets, so every pruned bucket read
        scans far more than its share — more buckets re-spread the
        hash. The new layout is frozen to ``_meta.json`` so later
        readers adopt it automatically."""
        state = self.store.read()
        if state is None:
            return
        live = self._alive(
            state.where(F.col(BUCKET_COL) != TOMB_BUCKET), self._tomb_maxlsn()
        )
        new_n = int(n_buckets) if n_buckets else self.n_buckets
        self._replace(live.withColumn(
            BUCKET_COL,
            F.when(F.col(BUCKET_COL) == DOC_BUCKET, F.lit(DOC_BUCKET))
            .otherwise(_term_bucket(F.col("term"), new_n)),
        ))
        self.n_buckets = new_n
        self._write_meta()


# --- graded component (rows-only inside x3; oracle pinned in tests) -------

_QUERY = ("spark", "query", "window", "vector")


def d18_cdc_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full incremental-lexical-index loop as one query: build from
    `documents`, apply a CDC batch (delete doc 0; rewrite doc 1's text;
    insert doc 9999), then BM25 top-10 — must equal BM25 over the
    reconstructed corpus, which the DuckDB oracle computes relationally
    (tests/test_lex_index.py pins it at two scale factors)."""
    import shutil
    import tempfile

    from ..io import load_table

    d = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"), "text"
    )
    root = tempfile.mkdtemp(prefix="d18_lex_")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        ix = IncrementalLexicalIndex(spark, f"{root}/lex")
        ix.build(d)
        batch = spark.createDataFrame(
            [
                ("0", None, "d", 10),
                ("1", "spark query window vector spark window filler words", "u", 11),
                ("9999", "vector vector spark window query fresh document", "c", 12),
            ],
            "id string, text string, op string, lsn long",
        )
        ix.apply_batch(batch)
        out = ix.topk(_QUERY, k=10)
        return out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(root, ignore_errors=True)


D18_ORACLE_SQL = """
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, text FROM documents
  WHERE doc_id NOT IN (0, 1)
  UNION ALL
  SELECT '1', 'spark query window vector spark window filler words'
  UNION ALL
  SELECT '9999', 'vector vector spark window query fresh document'
), base AS (
  SELECT id, string_split(lower(text), ' ') AS t,
         len(string_split(lower(text), ' ')) AS dl
  FROM corpus
), stats AS (
  SELECT count(*) AS N, avg(dl) AS avgdl FROM base
), expl AS (
  SELECT id, dl, unnest(t) AS term FROM base
), tf AS (
  SELECT id, dl, term, count(*) AS tf FROM expl
  WHERE term IN ('spark', 'query', 'window', 'vector')
  GROUP BY id, dl, term
), dft AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.id,
         ln(1.0 + (N - df + 0.5) / (df + 0.5))
         * (tf * (1.2 + 1))
         / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) AS ts
  FROM tf JOIN dft USING (term) CROSS JOIN stats
)
SELECT id, count(*) AS n_hit_terms,
       CAST(sum(CAST(round(ts * 1e6) AS BIGINT)) AS BIGINT) AS score_micro
FROM scored GROUP BY id
ORDER BY score_micro DESC, id LIMIT 10
"""

QUERIES = {"d18_cdc_bm25": d18_cdc_bm25}
ORACLES = {"d18_cdc_bm25": D18_ORACLE_SQL}
