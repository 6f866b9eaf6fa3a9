"""Incrementally-maintained ANN index — the engine's whole purpose
(CDC → embed → vector sink, pipeline.go:154-258) closed at INDEX
granularity: the "sink" is a disk-resident IVF index kept fresh by each
CDC micro-batch.

Layout (all plain parquet): a segment log (cdc.segments.SegmentStore,
the store of the keyed points and row state) at ``path`` whose segments
are partitioned by ``cell``:
- ``cell=<i>/`` — point versions assigned to centroid i
- ``cell=-1/``  — the tombstone log: (id, lsn) rows
- ``path_centroids`` — the fixed centroid table (standard IVF practice:
  centroids are trained once; re-clustering is an offline rebuild),
  beside ``path_schema.json``, ``path_meta.json`` and ``path_pq.npy``

Write protocol (per micro-batch, O(batch), flat in index size):
1. assign each upserted vector to its nearest centroid — one broadcast
   BLAS pass (the ivf_assign pattern), no shuffle;
2. EVERY batch row (upsert or delete) also writes a tombstone (id, lsn)
   to cell -1 — the Lucene/Milvus delete-bitmap design: an update may
   move a point to a DIFFERENT cell, and the tombstone is what
   invalidates the stale copy in the old cell without reading it;
3. append the batch's max-LSN row per (cell, id) as one segment. The
   index is never read on this path; size-tiered merges of the appended
   segments apply the same rule. Idempotent, replay-safe, and a crash
   before the manifest publish leaves the index as it was.

Read protocol (``topk``): score the centroid table for the query vector,
read ONLY the probed cells' dirs of each live segment (resolving the
max-LSN row per (cell, id) across segments), drop any candidate whose
lsn is below its id's max tombstone lsn (the tombstone log aggregates
to one tiny (id, max_lsn) map — broadcast join), BLAS rerank, k-heap. A
row's own tombstone has lsn equal to the row's, so a live row always
survives its own write.

``build()``, ``compact()`` and ``rebuild()`` write the whole index as
one segment and publish one generation that replaces every live
segment. ``compact()`` is the offline GC: resolve survivors globally,
drop the tombstone log. Cheap appends pay for themselves between
compactions; the same contract as Lucene segment merges or Milvus
compaction.

IVF-PQ option (``pq=(m, k)``): build() trains a product-quantization
codebook on the initial corpus (operators/quantize.py) and every stored
row carries an m-byte ``code`` next to its raw vector; ``topk(mode=
"adc")`` scores the probed cells from the codes alone — the scan stage
reads (id, lsn, code), never the vector column (parquet column pruning,
plan-asserted in tests) — then exact-reranks the candidate cut. This is
the Milvus/FAISS IVF_PQ memory/IO story on the same incremental index:
the hot scan shrinks from 4·d bytes/row to m bytes/row while the rerank
keeps reported similarities exact.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..cdc.envelope import OP_DELETE
from ..cdc.segments import SegmentStore, max_lsn_per

CELL_COL = "cell"
TOMB_CELL = -1


class IncrementalIvfIndex:
    """Disk-resident IVF index kept fresh by CDC micro-batches.

    ``payload_cols`` are carried through build/apply and stored inside
    the cell partitions, enabling FILTERED vector search: ``topk``'s
    ``predicate`` is a plain Spark expression evaluated on the pruned
    cell scan — pre-filtering (the Qdrant/Milvus design), so the k
    results are the top-k OF THE FILTERED SET, not a post-filtered
    top-k that can come back short."""

    def __init__(self, spark: SparkSession, path: str,
                 id_col: str = "id", vec_col: str = "vector",
                 payload_cols: tuple[str, ...] = (),
                 auto_compact_ratio: float | None = 0.5,
                 auto_compact_min: int = 4096,
                 pq: tuple[int, int] | None = None,
                 chunked: bool = False):
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.vec_col = vec_col
        self.payload_cols = tuple(payload_cols)
        # Chunked replace-set mode (engine chunk_tokens composing with
        # the in-engine indexes — SURVEY D15'): point ids are
        # "<base>#<chunk>", and tombstones key on the BASE id (the part
        # before '#'), so ONE tombstone row supersedes every chunk of a
        # key: a re-embedded doc that shrank from 3 chunks to 2 kills
        # its stale chunk #2 (lsn < tombstone lsn) and a delete kills
        # them all — the same replace-set semantics the qdrant/milvus
        # chunked hooks get from payload-filter deletes, at the same
        # cost as a plain tombstone. The flag is frozen to a _meta.json
        # sidecar so a reader attached later filters with the same key
        # derivation.
        self.chunked = bool(chunked)
        meta = self._stored_meta()
        if meta is not None:
            self.chunked = bool(meta.get("chunked", False))
        # Optional PQ compression (IVF-PQ): (m sub-spaces, k codes).
        # build() trains a codebook on the initial corpus (frozen until
        # the next build/rebuild — the standard practice; drift degrades
        # recall, never correctness, because ADC results are re-ranked
        # exactly), every stored row gains an m-byte `code` column, and
        # topk(mode="adc") scans ONLY (id, lsn, code) in the probed
        # cells — parquet column pruning keeps the vectors unread until
        # the candidate-cut rerank.
        self.pq = pq
        # Auto-compaction trigger: every event appends a tombstone (cell
        # -1), and superseded cell rows stay until compact(), so every
        # read scans more dead rows as a stream runs. compact() runs
        # inline after a batch when tombstone rows exceed
        # ``auto_compact_ratio`` × live rows AND ``auto_compact_min``
        # (floor: a full-index rewrite must not trigger on a toy log).
        # Ratio-based triggering amortizes the rewrite: the work per
        # compaction is O(index), but it runs at most every
        # ratio×index-growth events — the Lucene/Milvus cadence contract.
        # None disables (manual compact() only).
        self.auto_compact_ratio = auto_compact_ratio
        self.auto_compact_min = auto_compact_min
        # Compaction-trigger counters: the tombstone and upsert rows
        # written since the last build/compact (an upper bound on what
        # the live segments hold), fed by Observation metrics on each
        # write, so the trigger reads no state. None = unknown (writer
        # attached to a pre-existing index) → one lazy count, once per
        # writer lifetime. Valid because the index is single-writer by
        # contract (one foreachBatch stream).
        self._tomb_rows: int | None = None
        self._live_rows: int | None = None
        self.store = SegmentStore(
            spark, path, None, max_lsn_per(CELL_COL, id_col), col=CELL_COL
        )

    # ---------------------------------------------------------- build

    def build(self, points: DataFrame, centroid_every: int = 31,
              lsn_col: str | None = None) -> None:
        """Offline build from an initial corpus of (id, vector[, lsn])
        rows: centroids are a deterministic ~1/``centroid_every`` hash
        sample of the points (xxhash64 — no RNG, retry-stable), assign
        all points, write the cell partitions. Initial rows default to
        lsn 0 so ANY later CDC event outranks them.

        The hash-sample filter is a NARROW scan predicate; the only
        window runs over the sampled centroid subset (k ≈ n/every rows)
        to stamp dense centroid ids — sorting k rows in one task is the
        k-means-scale reality, never a global sort of the corpus. A
        production build would run k-means; determinism matters more
        here, and IVF correctness is independent of centroid quality."""
        # the build replaces every live segment: no stale cell or
        # tombstone (lsn > 0, which would outrank every rebuilt row at
        # lsn 0) survives it
        if self.pq is None and os.path.exists(self.path + "_pq.npy"):
            os.remove(self.path + "_pq.npy")
        src = points.select(
            F.col(self.id_col),
            F.col(self.vec_col),
            (F.col(lsn_col) if lsn_col else F.lit(0)).cast("long").alias("lsn"),
            *[F.col(c) for c in self.payload_cols],
        )
        sampled = src.where(
            F.pmod(F.xxhash64(F.col(self.id_col)), F.lit(centroid_every)) == 0
        )
        if sampled.isEmpty():  # tiny corpus missed by the sample: 1 centroid
            sampled = src.orderBy(self.id_col).limit(1)
        w = Window.orderBy(self.id_col)  # k sampled rows only
        cents = sampled.select(
            F.row_number().over(w).alias("centroid_id"), F.col(self.vec_col)
        )
        cents.write.mode("overwrite").parquet(self.path + "_centroids")
        # the build freezes the state schema; apply_batch conforms every
        # CDC batch to it (a batch arriving with e.g. long where the
        # corpus had int would otherwise write mixed parquet physical
        # types across cell dirs — unreadable once a pruned read infers
        # its schema from the other kind of file)
        import json as _json

        with open(self.path + "_schema.json", "w") as fh:
            _json.dump(src.schema.jsonValue(), fh)
        self._write_meta()
        if self.pq is not None:
            from .quantize import pq_train

            m, kc = self.pq
            cbs = pq_train(
                points, m=m, k=kc, id_col=self.id_col, vec_col=self.vec_col
            )
            np.save(self.path + "_pq.npy", cbs)
        self._replace(self._with_codes(self._assign_cells(src)))

    def _stored_schema(self) -> T.StructType | None:
        """The (id, vector, lsn, *payload) schema frozen by build()."""
        p = self.path + "_schema.json"
        if not os.path.exists(p):
            return None
        import json as _json

        with open(p) as fh:
            return T.StructType.fromJson(_json.load(fh))

    def _write_meta(self) -> None:
        import json as _json

        with open(self.path + "_meta.json", "w") as fh:
            _json.dump({"chunked": self.chunked}, fh)

    def _stored_meta(self) -> dict | None:
        p = self.path + "_meta.json"
        if not os.path.exists(p):
            return None
        import json as _json

        with open(p) as fh:
            return _json.load(fh)

    def _tomb_key(self):
        """The tombstone join key: the id itself, or the base id (before
        '#') in chunked replace-set mode."""
        c = F.col(self.id_col)
        return F.substring_index(c, "#", 1) if self.chunked else c

    def _codebooks(self) -> np.ndarray:
        p = self.path + "_pq.npy"
        if not os.path.exists(p):
            raise ValueError(f"no PQ codebook at {p} — build() with pq=(m, k) first")
        return np.load(p)

    def _with_codes(self, pts: DataFrame) -> DataFrame:
        """Append the m-byte PQ `code` column (no-op when pq is off) —
        one more BLAS step in the same narrow Arrow stage as assignment."""
        if self.pq is None:
            return pts
        import pandas as pd

        from .quantize import encode_matrix

        bc = self.spark.sparkContext.broadcast(self._codebooks())
        vec_col = self.vec_col
        out_schema = T.StructType(
            list(pts.schema.fields) + [T.StructField("code", T.BinaryType(), True)]
        )

        def enc(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    yield pdf.assign(code=pd.Series([], dtype=object))
                    continue
                codes = encode_matrix(np.stack(pdf[vec_col].to_numpy()), bc.value)
                yield pdf.assign(code=[c.tobytes() for c in codes])

        return pts.mapInPandas(enc, schema=out_schema)

    def _centroid_matrix(self) -> tuple[np.ndarray, np.ndarray]:
        rows = sorted(
            self.spark.read.parquet(self.path + "_centroids").collect(),
            key=lambda r: r["centroid_id"],
        )
        cids = np.array([r["centroid_id"] for r in rows], dtype=np.int64)
        cmat = np.array([r[self.vec_col] for r in rows], dtype=np.float64)
        norms = np.linalg.norm(cmat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        return cids, cmat / norms

    def _assign_cells(self, pts: DataFrame) -> DataFrame:
        """(id, vector, lsn) → + cell, one broadcast BLAS pass (narrow)."""
        import pandas as pd

        cids, cmat_n = self._centroid_matrix() if os.path.exists(
            self.path + "_centroids"
        ) else (None, None)
        if cids is None:
            raise ValueError(f"no centroid table at {self.path}_centroids — build() first")
        bc = self.spark.sparkContext.broadcast((cids, cmat_n))
        vec_col = self.vec_col
        out_schema = T.StructType(
            list(pts.schema.fields) + [T.StructField(CELL_COL, T.LongType(), False)]
        )

        def assign(batches):
            b_cids, b_cmat = bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    yield pdf.assign(**{CELL_COL: np.array([], dtype=np.int64)})
                    continue
                emat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                en = np.linalg.norm(emat, axis=1, keepdims=True)
                en[en == 0.0] = 1.0
                sims = (emat / en) @ b_cmat.T
                yield pdf.assign(**{CELL_COL: b_cids[np.argmax(sims, axis=1)]})

        return pts.mapInPandas(assign, schema=out_schema)

    # ---------------------------------------------------------- write

    def apply_batch(self, batch: DataFrame, _epoch_id: int | None = None) -> None:
        """foreachBatch hook: append one CDC point batch — rows of
        (id, vector, op, lsn); deletes carry a null vector — as one
        segment. Idempotent (max-LSN per (cell, id)); reads no state."""
        ups = batch.where(F.col("op") != OP_DELETE).select(
            self.id_col, self.vec_col, F.col("lsn").cast("long").alias("lsn"),
            *[F.col(c) for c in self.payload_cols],
        )
        stored = self._stored_schema()
        if stored is not None:
            # conform the batch to the build-time schema (see build())
            ups = ups.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in stored.fields]
            )
        assigned = self._with_codes(self._assign_cells(ups))
        # every event tombstones its id at its lsn: kills stale copies in
        # OTHER cells for updates, kills everything older for deletes

        def _null_as(col: str):
            src_fields = (stored or batch.schema).fields
            t = next(f.dataType for f in src_fields if f.name == col)
            return F.lit(None).cast(t).alias(col)

        if self._stored_meta() is None:
            self._write_meta()  # sink path builds lazily on first batch
        tombs = batch.select(
            # chunked: the tombstone keys on the BASE id, so one row
            # supersedes every chunk of the key (replace-set semantics)
            self._tomb_key().alias(self.id_col),
            _null_as(self.vec_col),
            F.col("lsn").cast("long").alias("lsn"),
            *[_null_as(c) for c in self.payload_cols],
            F.lit(TOMB_CELL).cast("long").alias(CELL_COL),
            *([F.lit(None).cast("binary").alias("code")] if self.pq is not None else []),
        )
        obs = Observation()
        self.store.append(assigned.unionByName(tombs).observe(
            obs,
            F.sum((F.col(CELL_COL) != TOMB_CELL).cast("long")).alias("live"),
            F.sum((F.col(CELL_COL) == TOMB_CELL).cast("long")).alias("tombs"),
        ))
        got = obs.get
        if self._tomb_rows is not None and self._live_rows is not None:
            self._tomb_rows += int(got["tombs"] or 0)
            self._live_rows += int(got["live"] or 0)
        if self.auto_compact_ratio is not None:
            self._maybe_compact()

    def _maybe_compact(self) -> None:
        """Trigger compact() when the tombstone log outgrows the live
        set. Reads the Observation-fed counters; the column-pruned count
        scan runs only when a counter is unknown (writer attached to a
        pre-existing index), once per writer lifetime."""
        if self._tomb_rows is None or self._live_rows is None:
            state = self.store.read()
            if state is None:
                return
            rows = (
                state.groupBy((F.col(CELL_COL) == TOMB_CELL).alias("_t"))
                .count()
                .collect()
            )
            self._tomb_rows = sum(r["count"] for r in rows if r["_t"])
            self._live_rows = sum(r["count"] for r in rows if not r["_t"])
        if self._tomb_rows >= self.auto_compact_min and self._tomb_rows > (
            self.auto_compact_ratio * max(self._live_rows, 1)
        ):
            self.compact()

    def _replace(self, rows: DataFrame) -> None:
        """Publish ``rows`` (no tombstones) as the whole index and reset
        the compaction counters from the write's own row count."""
        obs = Observation()
        self.store.replace(rows.observe(obs, F.count(F.lit(1)).alias("live")))
        self._live_rows = int(obs.get["live"] or 0)
        self._tomb_rows = 0

    # ----------------------------------------------------------- read

    def _tombstone_maxlsn(self) -> DataFrame | None:
        """Max delete-LSN per id from the tombstone log — reads ONLY the
        cell=-1 dirs; None when no tombstones exist (common case after
        compact())."""
        tombs = self.store.read(parts=[TOMB_CELL])
        if tombs is None:
            return None
        return tombs.groupBy(self.id_col).agg(F.max("lsn").alias("_tlsn"))

    def _live_candidates(self, nprobe: int, qv: np.ndarray, predicate):
        """Shared probe path: probed-cell pruned scan → payload
        pre-filter → tombstone filter (broadcast)."""
        cids, cmat_n = self._centroid_matrix()
        qn = np.linalg.norm(qv)
        sims = cmat_n @ (qv / qn if qn else qv)
        order = np.lexsort((cids, -sims))[:nprobe]
        probed = [int(cids[i]) for i in order]

        cand = self.store.read(parts=probed)
        if cand is None:
            # none of the probed cells has rows; empty candidates is a
            # valid answer, a missing index is not
            state = self.store.read()
            if state is None:
                raise ValueError(f"empty index at {self.path}")
            cand = state.limit(0)
        if predicate is not None:
            cand = cand.where(
                F.expr(predicate) if isinstance(predicate, str) else predicate
            )
        tomb = self._tombstone_maxlsn()
        if tomb is None:
            return cand
        return self._drop_tombstoned(cand, tomb)

    def _drop_tombstoned(self, df: DataFrame, tomb: DataFrame) -> DataFrame:
        """Filter rows superseded by their (base) id's tombstone. A row's
        own tombstone carries its lsn, so it survives; in chunked mode
        the join key is the base id, so stale tail chunks and deleted
        keys' chunks die together."""
        if not self.chunked:
            return df.join(F.broadcast(tomb), self.id_col, "left").where(
                F.col("_tlsn").isNull() | (F.col("lsn") >= F.col("_tlsn"))
            ).drop("_tlsn")
        t = tomb.withColumnRenamed(self.id_col, "_tkey")
        return (
            df.withColumn("_tkey", self._tomb_key())
            .join(F.broadcast(t), "_tkey", "left")
            .where(F.col("_tlsn").isNull() | (F.col("lsn") >= F.col("_tlsn")))
            .drop("_tkey", "_tlsn")
        )

    def topk(self, qv: np.ndarray, k: int = 10, nprobe: int = 4,
             predicate=None, mode: str = "exact",
             candidates: int = 50) -> DataFrame:
        """ANN top-k for an arbitrary query vector: probe cells → pruned
        scan → payload ``predicate`` pre-filter → tombstone filter
        (broadcast) → rank → k-heap. ``predicate`` is a Column or SQL
        string over the stored payload columns; filtering happens BEFORE
        scoring, so the result is the true top-k of the filtered set
        (with IVF's usual probed-cells recall caveat).

        ``mode="exact"`` BLAS-scores the probed cells' raw vectors.
        ``mode="adc"`` (requires ``pq``) first scores the probed cells'
        m-byte codes against a broadcast lookup table — that stage reads
        ONLY (id, lsn, code) thanks to parquet column pruning — and then
        exact-reranks the top ``candidates`` ids from the raw vectors.
        At production cell sizes the ADC stage touches ~1% of the bytes
        the exact scan would."""
        from .similarity import cosine_scores

        qv = np.asarray(qv, dtype=np.float64)
        cand = self._live_candidates(nprobe, qv, predicate)
        if mode == "exact":
            scored = cosine_scores(cand, qv, self.id_col, self.vec_col)
        elif mode == "adc":
            import pandas as pd

            from .quantize import adc_lut

            cbs = self._codebooks()
            m = cbs.shape[0]
            bc = self.spark.sparkContext.broadcast(adc_lut(qv, cbs))
            id_field = next(
                f for f in cand.schema.fields if f.name == self.id_col
            )
            out_schema = T.StructType(
                [id_field, T.StructField("score", T.DoubleType(), True)]
            )
            id_col = self.id_col

            def adc(batches):
                lut, rng = bc.value, np.arange(m)
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    cmat = np.frombuffer(
                        b"".join(pdf["code"].to_list()), dtype=np.uint8
                    ).reshape(-1, m)
                    yield pd.DataFrame(
                        {id_col: pdf[id_col], "score": lut[rng, cmat].sum(axis=1)}
                    )

            adc_top = (
                cand.select(self.id_col, "code")
                .mapInPandas(adc, schema=out_schema)
                .orderBy(F.col("score").desc(), F.col(self.id_col))
                .limit(candidates)
            )
            keep = [r[0] for r in adc_top.select(self.id_col).collect()]
            scored = cosine_scores(
                cand.where(F.col(self.id_col).isin(keep)),
                qv, self.id_col, self.vec_col,
            )
        else:
            raise ValueError(f"unknown topk mode: {mode!r}")
        return (
            scored.select(self.id_col, F.round("sim", 6).alias("sim"))
            .orderBy(F.col("sim").desc(), F.col(self.id_col))
            .limit(k)
        )

    # ------------------------------------------------------------ GC

    def stats(self) -> dict:
        """IVF health report from live index state (the lex_index.stats
        twin): live vector count, tombstone count, cell count, and the
        per-cell occupancy balance that governs probe cost and recall —
        min/avg/max live vectors per cell plus the max/avg imbalance
        ratio (a ratio far above ~3-5 says the centroids no longer fit
        the data and an offline rebuild is due). One aggregate over the
        index; no corpus access."""
        state = self.store.read()
        if state is None:
            raise ValueError(f"empty index at {self.path}")
        live = state.where(F.col(CELL_COL) != TOMB_CELL)
        tomb = self._tombstone_maxlsn()
        if tomb is not None:
            live = self._drop_tombstoned(live, tomb)
        per_cell = live.groupBy(CELL_COL).agg(F.count(F.lit(1)).alias("n"))
        row = per_cell.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n").alias("n_live"),
            F.min("n").alias("min_cell"),
            F.round(F.avg("n"), 2).alias("avg_cell"),
            F.max("n").alias("max_cell"),
        ).collect()[0]
        n_tomb = int(
            state.where(F.col(CELL_COL) == TOMB_CELL).count()
        )
        avg = float(row["avg_cell"] or 0.0)
        return {
            "n_live": int(row["n_live"] or 0),
            "n_tombstones": n_tomb,
            "n_cells": int(row["n_cells"]),
            "min_cell": int(row["min_cell"] or 0),
            "avg_cell": avg,
            "max_cell": int(row["max_cell"] or 0),
            "imbalance": round(int(row["max_cell"] or 0) / avg, 2) if avg else 0.0,
        }

    def live_points(self, keep_cell: bool = False) -> DataFrame | None:
        """The index's current live survivors (max-LSN per id vs the
        tombstone log, deletes dropped) as (id, vector, lsn, *payload) —
        the rebuild source and the evaluation corpus for the
        index-health loop (operators.index_health). ``keep_cell`` also
        carries each survivor's STORED cell assignment (the health
        probe derives per-depth reachability from it)."""
        state = self.store.read()
        if state is None:
            return None
        live = state.where(F.col(CELL_COL) != TOMB_CELL)
        tomb = self._tombstone_maxlsn()
        if tomb is not None:
            live = self._drop_tombstoned(live, tomb)
        extra = [CELL_COL] if keep_cell else []
        return live.select(
            self.id_col, self.vec_col, "lsn", *self.payload_cols, *extra
        )

    def rebuild(self, centroid_every: int = 31) -> None:
        """Offline retrain + rebuild in place — the rebuild_policy's
        action: re-read the live survivors, retrain centroids on the
        CURRENT distribution (centroid drift is the thing being cured),
        and rebuild preserving each row's lsn so a replayed CDC batch
        still merges idempotently. O(index) by design; runs on the
        policy cadence, never per batch. The old segments stay readable
        until the build publishes."""
        pts = self.live_points()
        if pts is not None:
            self.build(pts, centroid_every=centroid_every, lsn_col="lsn")

    def compact(self) -> None:
        """Offline GC: resolve survivors globally (max-LSN per id vs the
        tombstone log, deletes dropped) and publish them as the whole
        index, without the tombstone log. Full rewrite by design — runs
        on the compaction cadence, not per batch."""
        state = self.store.read()
        if state is None:
            return
        survivors = state.where(F.col(CELL_COL) != TOMB_CELL)
        tomb = self._tombstone_maxlsn()
        if tomb is not None:
            survivors = self._drop_tombstoned(survivors, tomb)
        self._replace(survivors)


# --- graded entry ---------------------------------------------------------

def d3_cdc_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full cdc2vec loop as ONE hash-checked query: build the index
    from `embeddings`, apply a CDC batch (delete id 0; re-point id 1 at
    vec 2's embedding — which may move it to a different cell; insert id
    9999 with vec 3's embedding), then exact top-10 (nprobe = all cells)
    for vec 4's embedding against the post-CDC state. With full probing
    the result is the exact cosine top-k over the surviving point set,
    which the DuckDB oracle reproduces relationally — index maintenance
    itself (tombstones, cell moves, pruning) is what's under test."""
    import shutil
    import tempfile

    from ..io import load_table

    e = load_table(spark, sf_dir, "embeddings")
    pts = e.selectExpr("cast(vec_id as string) as id", "embedding as vector")
    root = tempfile.mkdtemp(prefix="d3_cdc_ix_")
    # a bare driver session defaults to 200 shuffle partitions — the
    # build's centroid window + merge shuffles don't need them; pin to 8
    # for the entry's duration (restored after), the c7/c4 cost bound
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        ix = IncrementalIvfIndex(spark, f"{root}/ivf")
        ix.build(pts, centroid_every=13)
        grab = {
            r["vec_id"]: r["embedding"]
            for r in e.where(F.col("vec_id").isin(2, 3, 4)).collect()
        }
        batch = spark.createDataFrame(
            [
                ("0", None, "d", 1),
                ("1", [float(x) for x in grab[2]], "u", 2),
                ("9999", [float(x) for x in grab[3]], "c", 3),
            ],
            "id string, vector array<float>, op string, lsn long",
        )
        ix.apply_batch(batch)
        qv = np.asarray(grab[4], dtype=np.float64)
        out = ix.topk(qv, k=10, nprobe=1_000_000)
        # materialize executor-side before the temp dir vanishes
        return out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(root, ignore_errors=True)


_D3_CDC_INDEX_ORACLE = """
WITH pts AS (
  SELECT CAST(vec_id AS VARCHAR) AS id, embedding
  FROM embeddings WHERE vec_id NOT IN (0, 1)
  UNION ALL
  SELECT '1', embedding FROM embeddings WHERE vec_id = 2
  UNION ALL
  SELECT '9999', embedding FROM embeddings WHERE vec_id = 3
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 4)
SELECT id, sim FROM (
  SELECT p.id,
         round(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))), 6) AS sim
  FROM pts p CROSS JOIN q
) t ORDER BY sim DESC, id LIMIT 10
"""

QUERIES = {"d3_cdc_index": d3_cdc_index}
ORACLES = {"d3_cdc_index": _D3_CDC_INDEX_ORACLE}
