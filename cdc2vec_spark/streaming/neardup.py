"""Dedup at ingestion: an incrementally-maintained MinHash-LSH index so
each micro-batch of new documents is near-dup-checked against EVERYTHING
ingested before it — without ever rescanning the corpus.

The batch operators (operators/dedup.py) answer "which pairs in this
corpus are near-dups"; a 100 TB training-data pipeline also needs the
streaming form — "is this incoming doc a near-dup of anything we
already have" — at ingestion time, touching O(batch) state. This module
closes that gap with three segment logs (cdc.segments.SegmentStore):

- ``path/index``  — the banded LSH inverted index: (band, bv, doc_id)
  rows partitioned by ``bucket = pmod(xxhash64(band, bv), n_buckets)``.
  A batch's band keys prune the read to their buckets of each live
  segment (the O(batch + touched buckets) contract of every keyed
  state).
- ``path/docs``   — (doc_id, sh) shingle-hash sets for exact-Jaccard
  verification, partitioned by ``dbucket = pmod(xxhash64(doc_id),
  n_buckets)`` — read only for the candidate ids' buckets.
- ``path/pairs``  — the ACCUMULATED verified near-dup pair set (id_a,
  id_b, jac), partitioned by ``pbucket = pmod(xxhash64(id_a, id_b),
  n_buckets)``: each batch appends the pairs it verified, so the engine
  maintains the whole near-dup GRAPH incrementally at ingest. The batch
  graph reports (survivors, cluster histogram, leakage split, PageRank,
  cross-source overlap — the d9/d44/d46/d47/d48 family) can then run
  off this state via ``graph_reports()`` in O(pairs + touched) per
  refresh instead of re-deriving shingles → candidates → verification
  from the corpus — the same move c12's IVM made for aggregates.

Each store appends only the rows a batch changes. Their version
(``lsn``) is the store's next manifest version, so a later write always
beats an earlier one; a retired row is appended as a tombstone (op
``d``), each key resolves to its newest row (cdc.segments.max_lsn_per)
and readers filter tombstones. Stores of the earlier rename-swapped
layout (root ``bucket=``, ``dbucket=`` or ``pbucket=<i>/`` dirs) open in
place as one adopted segment each, their rows read as version 0.

Per batch: ONE fused Arrow pass computes shingles + signatures
(dedup.shingle_minhash), band keys join against the pruned prior index
(new-vs-old) and self-join within the batch (new-vs-new), exact Jaccard
verifies candidates only, and the batch's index rows, docs and pairs
are appended — replaying a batch emits the same pairs and leaves the
live state unchanged. Each store commits by its own manifest publish; a
batch that crashes between them is redelivered, and its replay
converges.

Equivalence: banding is deterministic and a pair sharing a band bucket
is discovered either in the arrival batch of its later doc (new-vs-old)
or within one batch (new-vs-new) — so streaming the corpus in ANY batch
split emits exactly the pairs the batch operator finds on the full
corpus (pinned in tests/test_neardup_stream.py).

Deletes: ``delete_batch(ids)`` retires the ids from all three stores
with tombstones — docs for the ids' live rows, index for their band
keys, recomputed from the stored shingle sets (``sig`` is a pure
function of ``sh``) with no index read, pairs for every live pair
naming an id, found by one O(pairs) semi-join. The live graph state and
the cadence reports therefore track the SURVIVING corpus; pinned
delete ≡ never-ingested in tests/test_neardup_stream.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cdc.envelope import OP_DELETE
from ..cdc.segments import SegmentStore, max_lsn_per
from ..operators.dedup import (
    _verify_jaccard,
    banded_candidate_pairs,
    shingle_minhash,
)

BUCKET = "bucket"
DBUCKET = "dbucket"
PBUCKET = "pbucket"


def _live(store: SegmentStore, parts: list[int] | None = None) -> DataFrame | None:
    """The store's live rows (of the ``parts`` partitions, if given)."""
    df = store.read(parts=parts)
    return None if df is None else df.where(F.col("op") != OP_DELETE)


def _append(store: SegmentStore, rows: DataFrame, op: str = "c") -> None:
    """Append ``rows`` with op ``op`` at the store's next manifest version."""
    version = store.manifests.latest()[2] + 1
    store.append(
        rows.withColumn("op", F.lit(op)).withColumn("lsn", F.lit(version).cast("long"))
    )


class StreamingNearDup:
    """foreachBatch-shaped incremental near-dup filter (see module doc)."""

    def __init__(self, spark: SparkSession, path: str,
                 threshold: float = 0.5, num_perm: int = 64,
                 bands: int = 16, shingle_n: int = 3,
                 n_buckets: int = 64,
                 id_col: str = "doc_id", text_col: str = "text",
                 carry_cols: tuple[str, ...] = ()):
        """``carry_cols`` names extra batch columns (e.g. ``source``) to
        store alongside each doc's shingle set in the docs state — free
        (same write), and it lets ``graph_reports`` compute the
        cross-source contamination matrix from state alone."""
        if num_perm % bands:
            raise ValueError(f"bands {bands} must divide num_perm {num_perm}")
        self.spark = spark
        root = path.rstrip("/")
        self.index_store = SegmentStore(
            spark, root + "/index", (id_col, "band", "bv", "op", "lsn", BUCKET),
            max_lsn_per(BUCKET, "band", "bv", id_col), BUCKET,
        )
        self.docs_store = SegmentStore(
            spark, root + "/docs", (id_col, "sh", *carry_cols, "op", "lsn", DBUCKET),
            max_lsn_per(DBUCKET, id_col), DBUCKET,
        )
        self.pairs_store = SegmentStore(
            spark, root + "/pairs", ("id_a", "id_b", "jac", "op", "lsn", PBUCKET),
            max_lsn_per(PBUCKET, "id_a", "id_b"), PBUCKET,
        )
        self.threshold = threshold
        self.num_perm = num_perm
        self.bands = bands
        self.rows = num_perm // bands
        self.shingle_n = shingle_n
        self.n_buckets = n_buckets
        self.id_col = id_col
        self.text_col = text_col
        self.carry_cols = tuple(carry_cols)

    # ------------------------------------------------------------ write

    def _banded(self, sigs: DataFrame) -> DataFrame:
        """(id, sig) → (id, band, bv, bucket) — the same banding as
        dedup.lsh_candidate_pairs, plus the state partition key."""
        rows = self.rows
        banded = sigs.select(
            self.id_col,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[
                                    F.element_at("sig", b * rows + r + 1)
                                    for r in range(rows)
                                ]
                            ).alias("bv"),
                        )
                        for b in range(self.bands)
                    ]
                )
            ).alias("bk"),
        ).select(self.id_col, "bk.band", "bk.bv")
        return banded.withColumn(
            BUCKET, F.pmod(F.xxhash64("band", "bv"), F.lit(self.n_buckets)).cast("int")
        )

    def apply_batch(self, batch: DataFrame, _epoch_id: int | None = None) -> DataFrame:
        """Ingest one batch; returns the verified near-dup pairs it
        surfaced, as (id_a, id_b, jac) with id_a < id_b — new-vs-old and
        new-vs-new alike. A row for an already-ingested id is an update:
        when its shingle set or carried columns differ from the stored
        version, that version is retired first (``delete_batch``), so
        its old band rows and pairs go. Idempotent: a replayed batch
        leaves the live state unchanged."""
        both = shingle_minhash(
            batch.select(self.id_col, self.text_col, *self.carry_cols),
            self.shingle_n, self.num_perm, self.text_col,
        ).persist()
        self._retire_changed(both)
        sigs = both.where(F.col("sig").isNotNull()).select(self.id_col, "sig")
        new_banded = self._banded(sigs).persist()
        touched = sorted(
            r[0] for r in new_banded.select(BUCKET).distinct().collect()
        )
        if not touched:
            new_banded.unpersist()
            both.unpersist()
            return self.spark.createDataFrame(
                [], f"id_a {self._id_type(batch)}, id_b {self._id_type(batch)}, jac double"
            )

        # pruned read (SegmentStore.read): only the batch's buckets of
        # each live segment are ever listed or scanned
        prior_idx = _live(self.index_store, touched)
        cross = None
        if prior_idx is not None:
            old = prior_idx.select(
                "band", "bv", F.col(self.id_col).alias("_old_id")
            )
            cross = (
                new_banded.join(old, ["band", "bv"])
                .where(F.col("_old_id") != F.col(self.id_col))
                .select(
                    F.least(self.id_col, "_old_id").alias("id_a"),
                    F.greatest(self.id_col, "_old_id").alias("id_b"),
                )
                .distinct()
            )
        within = banded_candidate_pairs(
            new_banded.select(self.id_col, "band", "bv"), self.id_col, bv_col="bv"
        )
        cands = within if cross is None else within.unionByName(cross).distinct()

        # shingle sets for verification: the batch's own + the candidate
        # old ids' pruned doc-table buckets
        sh_sources = both.select(self.id_col, "sh")
        if cross is not None:
            cand_ids = cands.select(
                F.explode(F.array("id_a", "id_b")).alias(self.id_col)
            ).distinct()
            dbuckets = sorted(
                r[0]
                for r in cand_ids.select(self._dbucket().alias("b"))
                .distinct()
                .collect()
            )
            prior_docs = _live(self.docs_store, dbuckets)
            if prior_docs is not None:
                old_sh = prior_docs.join(
                    cand_ids, self.id_col, "left_semi"
                ).select(self.id_col, "sh")
                sh_sources = sh_sources.unionByName(old_sh).dropDuplicates(
                    [self.id_col]
                )
        pairs = _verify_jaccard(
            cands, sh_sources, self.threshold, self.id_col
        ).localCheckpoint(eager=True)

        # ---- append the batch's rows (a replay re-appends live rows)
        _append(self.index_store, new_banded)
        _append(
            self.docs_store,
            both.where(F.size("sh") > 0)
            .select(self.id_col, "sh", *self.carry_cols)
            .withColumn(DBUCKET, self._dbucket()),
        )
        new_banded.unpersist()
        both.unpersist()
        _append(
            self.pairs_store,
            pairs.withColumn(
                PBUCKET,
                F.pmod(F.xxhash64("id_a", "id_b"), F.lit(self.n_buckets)).cast("int"),
            ),
        )
        return pairs

    def _retire_changed(self, both: DataFrame) -> None:
        """Retire the stored versions that the batch's rows change."""
        new = both.select(self.id_col, "sh", *self.carry_cols)
        dbuckets = sorted(
            r[0]
            for r in new.select(self._dbucket().alias("b")).distinct().collect()
        )
        docs = _live(self.docs_store, dbuckets) if dbuckets else None
        if docs is None:
            return
        same = F.lit(True)
        for c in ("sh", *self.carry_cols):
            same = same & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        changed = (
            docs.alias("o")
            .join(new.alias("n"), self.id_col)
            .where(~same)
            .select(self.id_col)
        )
        self.delete_batch(changed)

    def _dbucket(self):
        return F.pmod(F.xxhash64(self.id_col), F.lit(self.n_buckets)).cast("int")

    def delete_batch(self, ids: DataFrame) -> None:
        """Retire a batch of DELETED doc ids from all three stores, so
        the live near-dup graph tracks the collection when documents are
        deleted, like every other keyed state in the engine. Each store
        gets tombstones:

        - ``docs``:  for the ids' live rows, read from their dbuckets.
        - ``index``: for the ids' (band, bv) rows, found WITHOUT a read —
          ``sig`` is a pure function of the stored ``sh``
          (minhash_signatures), so the band keys are recomputed.
        - ``pairs``: for the live pairs naming an id. They can live in
          any pbucket (the bucket key is the pair hash), so one O(pairs)
          semi-join finds them — pairs ≪ corpus (it is the near-dup
          graph, the same frame every report refresh already reads).

        Idempotent (a replay finds nothing live to retire); a delete
        for a never-ingested id is a no-op. Re-ingesting a deleted id
        later behaves like a brand-new doc: its rows are appended at a
        later version than the tombstones, and new-vs-old re-verifies
        its pairs against the surviving corpus."""
        from ..operators.dedup import minhash_signatures

        dids = ids.select(self.id_col).distinct().localCheckpoint(eager=True)
        dbuckets = sorted(
            r[0]
            for r in dids.select(self._dbucket().alias("b")).distinct().collect()
        )
        if not dbuckets:
            return
        docs = _live(self.docs_store, dbuckets)
        if docs is not None:
            mine = (
                docs.join(F.broadcast(dids), self.id_col, "left_semi")
                .drop("op", "lsn")
                .localCheckpoint(eager=True)
            )
            sigs = minhash_signatures(
                mine.select(self.id_col, "sh"), self.num_perm,
                id_col=self.id_col,
            )
            _append(self.index_store, self._banded(sigs), OP_DELETE)
            _append(self.docs_store, mine, OP_DELETE)
        pairs = _live(self.pairs_store)
        if pairs is not None:
            da = dids.select(F.col(self.id_col).alias("id_a"))
            db = dids.select(F.col(self.id_col).alias("id_b"))
            hit = pairs.join(F.broadcast(da), "id_a", "left_semi").unionByName(
                pairs.join(F.broadcast(db), "id_b", "left_semi")
            )
            _append(self.pairs_store, hit.drop("op", "lsn"), OP_DELETE)

    # --------------------------- incremental graph state + reports

    def accumulated_pairs(self) -> DataFrame:
        """Every near-dup pair ingested so far — (id_a, id_b, jac),
        id_a < id_b — read from the incrementally maintained pair state
        (no corpus rescan, no candidate re-derivation)."""
        state = _live(self.pairs_store)
        if state is None:
            return self.spark.createDataFrame(
                [], "id_a long, id_b long, jac double"
            )
        return state.select("id_a", "id_b", "jac")

    def graph_reports(
        self,
        docs: DataFrame | None = None,
        id_col: str = "doc_id",
        source_col: str = "source",
    ) -> dict[str, DataFrame]:
        """The batch graph-family reports (d9 survivors, d46 cluster
        histogram, d48 leakage split, d44 PageRank, d47 cross-source
        overlap) computed FROM STATE: the pair set is the maintained
        ``path/pairs`` store and the CC labels converge once per call —
        so "the contamination matrix after every batch" costs
        O(pairs + |docs| joins), never a shingle/candidate re-derivation.
        ``docs`` is the current doc universe with ``id_col`` (+
        ``source_col`` for the overlap matrix); when None (the boot()
        report-cadence path) the universe is the maintained
        ``path/docs`` state itself — ids plus the carried
        ``source_col`` if the instance ingests one (``carry_cols``),
        else a single synthetic source."""
        from ..operators.datacard import source_overlap_matrix
        from ..operators.dedup import (
            cluster_size_histogram,
            cluster_split,
            connected_components,
            keep_canonical,
        )
        from ..operators.graph import pagerank

        if docs is None:
            state = _live(self.docs_store)
            if state is None:
                raise ValueError("graph_reports: no docs ingested yet")
            src = (
                F.col(source_col)
                if source_col in state.columns
                else F.lit("all").alias(source_col)
            )
            docs = state.select(F.col(self.id_col).alias(id_col), src)
        pairs = self.accumulated_pairs().localCheckpoint(eager=True)
        labels = connected_components(pairs)
        return {
            "survivors": keep_canonical(
                docs, pairs, id_col=id_col, labels=labels
            ).select(id_col).orderBy(id_col),
            "cluster_histogram": cluster_size_histogram(
                docs, pairs, id_col=id_col, labels=labels
            ),
            "split": cluster_split(
                docs, pairs, id_col=id_col, labels=labels
            ),
            "pagerank": pagerank(pairs).withColumnRenamed("id", id_col),
            "source_overlap": source_overlap_matrix(
                docs, pairs, source_col=source_col, id_col=id_col
            ),
        }

    def _id_type(self, df: DataFrame) -> str:
        return next(
            f.dataType.simpleString() for f in df.schema.fields
            if f.name == self.id_col
        )
