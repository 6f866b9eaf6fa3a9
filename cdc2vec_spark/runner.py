"""Engine boot — the reference's process lifecycle (main.go:33-157) as one
function over Spark primitives.

main.go step → here:
1-2. logger/config             → PipelineConfig (config.load_yaml)
3.   embedder factory          → embed.provider.get_provider
4.   sink factory              → PointsCollection (engine-native keyed
                                 store ≅ the vector sinks' upsert/delete
                                 contract; sinks/*.py hold the
                                 Qdrant/Milvus/Kafka payload builders)
5-6. pipeline + channel        → Structured Streaming micro-batches (the
                                 10k lossy channel is replaced by
                                 backpressure + checkpoint)
7-8. pipeline/source goroutines→ one streaming query, foreachBatch
9.   /healthz goroutine        → streaming.health.serve_healthz
10.  signal wait/shutdown      → query.stop() / run_supervised
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .cdc.envelope import OP_DELETE
from .cdc.pipeline import run_batch
from .cdc.segments import SegmentStore
from .config import DEFAULT_CONFIG, EngineConfig, PipelineConfig, load_yaml
from .embed.provider import get_provider
from .streaming.source import read_file_stream


class PointsCollection:
    """Keyed point store: last-write-wins by (id, lsn), deletes keep a
    tombstone so a stale replayed upsert cannot resurrect a key — the
    same max-LSN-per-key merge and the same segment log as
    cdc.apply.ParquetCollection, holding sink-side points (id, vector,
    metadata) instead of row state (types.go:15's Point).

    Stored as an append-only segment log (cdc.segments.SegmentStore):
    a batch reduces itself to its winning event per id (final_events)
    and writes that as one immutable segment, committed by publishing
    the next manifest generation — O(batch) per flush, the state is
    never read on the write path, and nothing is renamed, so the store
    runs on local filesystems and object stores alike. Size-tiered
    compaction (fan-in 4) keeps O(log4(batches)) segments; read() and
    live() union them and resolve last-write-wins with one window on
    id."""

    cols = ("id", "vector", "metadata", "op", "lsn")

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.store = SegmentStore(spark, path, self.cols, self._resolve)

    @staticmethod
    def _resolve(pts: DataFrame) -> DataFrame:
        return final_events(pts)

    def read(self, as_of: int | None = None) -> DataFrame | None:
        """The state, or with ``as_of`` the state as it was at that
        retained manifest generation (``store.manifests.versions()``)."""
        return self.store.read(as_of)

    def apply_points(self, pts: DataFrame, _epoch_id: int | None = None) -> None:
        self.store.append(pts)

    def live(self, as_of: int | None = None) -> DataFrame | None:
        df = self.read(as_of)
        if df is None:
            return None
        return df.where(F.col("op") != OP_DELETE).drop("op")


class ChunkedPointsCollection(PointsCollection):
    """Keyed points state for CHUNKED pipelines (build_points(chunk=...)):
    points arrive as (id='<base>#<k>', base_id, ...) and the correct
    merge is REPLACE-SET per base key, not per-id last-write-wins — a
    re-embedded doc that shrank from 3 chunks to 2 must drop its stale
    chunk #2, and a delete must drop every chunk of the key.

    Mechanics: rows of one event share its lsn, so the merge keeps, per
    base_id, exactly the rows carrying the MAX lsn (all chunks of the
    winning upsert, or the single tombstone of a winning delete) —
    final_events_chunked, applied by the same segment log as
    PointsCollection: on the batch before its write, in compactions and
    on read. Every chunk of a key carries its base_id, so a delete never
    needs to know how many chunks the key used to have (the classic
    chunked-sync failure when sinks key by chunk id)."""

    cols = ("id", "base_id", "vector", "metadata", "op", "lsn")

    @staticmethod
    def _resolve(pts: DataFrame) -> DataFrame:
        return final_events_chunked(pts)


def _provider_from(cfg: PipelineConfig | EngineConfig):
    engine = cfg.engine if isinstance(cfg, PipelineConfig) else cfg
    if engine.provider in ("deterministic", "hash"):
        return get_provider("deterministic", dim=engine.vector_size)
    url = getattr(cfg, "embed_url", "") or "http://localhost:11434"
    model = getattr(cfg, "embed_model", "") or "nomic-embed-text"
    return get_provider(engine.provider, url=url, model=model)


def final_events(pts: DataFrame) -> DataFrame:
    """Reduce a micro-batch to its per-id OUTCOME: the max-LSN event per
    id — PointsCollection's merge rule (ParquetCollection's is the same
    window on (tbl, pk), after the empty-text guard).

    External delivery must respect per-key event order (the reference
    applies events strictly in order, pipeline.go:154-165). Delivering a
    batch's upserts then its deletes without this reduction breaks two
    cases: a key deleted then re-inserted in one batch (delete lsn <
    insert lsn) would be upserted and THEN deleted — external sink loses
    a live point; and two upserts for one id could land in concurrent
    per-partition requests with undefined ordering — a stale vector could
    win. After the reduction each id appears exactly once and is routed
    to exactly one of upsert/delete by its final op."""
    w = Window.partitionBy("id").orderBy(F.col("lsn").desc())
    return (
        pts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def final_events_chunked(pts: DataFrame) -> DataFrame:
    """Chunked analogue of final_events: the winning EVENT per base key —
    all chunk rows of the max-LSN upsert, or the single tombstone of a
    winning delete (ChunkedPointsCollection's replace-set rule).

    Every row of one base key comes out in one partition, which the
    chunked delivery pass relies on. The dedup key includes ``base_id``
    (``id`` determines it, so the rows are the same) so that the
    window's hash partitioning on ``base_id`` already satisfies it; a
    dedup on ``(id, lsn)`` alone re-shuffles and splits base keys."""
    w = Window.partitionBy("base_id")
    return (
        pts.withColumn("_mx", F.max("lsn").over(w))
        .where(F.col("lsn") == F.col("_mx"))
        .drop("_mx")
        .dropDuplicates(["base_id", "id", "lsn"])
    )


def sink_hook_for(cfg: PipelineConfig, sink=None):
    """main.go:66-100 sink factory, config-driven: returns a per-batch
    delivery hook (points DataFrame → sink) or None.

    - ``qdrant`` / ``milvus``: ensure the collection once (reference
      field/index constants), then per batch one Spark job: reduce the
      batch once (``final_events``, or ``final_events_chunked``), build
      each winner's request body JVM-side (float32 vectors; Qdrant adds
      FNV-1a id parity) and stream it out in one ``foreachPartition``
      pass of batched upserts and deletes (``sinks.http.deliver_partition``).
    - ``ivf_index``: maintain a disk-resident incremental IVF ANN index
      (operators.ann_index) at ``options.path``; centroids bootstrap from
      the first batch's vectors.
    - ``lex_index``: maintain a disk BM25 inverted index
      (operators.lex_index) at ``options.path``.
    - ``group_agg``: maintain an incremental GROUP BY materialization
      (cdc.ivm.IncrementalGroupAgg) at ``options.path``.
    - ``distinct_agg``: maintain a ref-counted COUNT(DISTINCT)
      materialization (cdc.ivm.IncrementalDistinctCount).
    - ``neardup``: maintain the streaming MinHash-LSH near-dup state and
      pair graph (streaming.neardup.StreamingNearDup).
    - ``scd2_history``: maintain the SCD Type-2 row-validity history
      (cdc.scd2.Scd2History) from every event.
    - ``kafka`` / empty: None — Kafka delivery is writeStream-native
      (``sinks.kafka.to_kafka_messages`` + format('kafka')), and the
      engine-native keyed collection is always maintained regardless.

    ``sink`` defaults to ``cfg.sink``; ``sink_hooks_for`` passes each
    configured sink explicitly for the multi-sink fanout.
    """
    if sink is None:
        sink = getattr(cfg, "sink", None)
    if sink is None or sink.type not in (
        "qdrant", "milvus", "ivf_index", "lex_index", "group_agg",
        "distinct_agg", "neardup", "scd2_history",
    ):
        return None
    opts = sink.options or {}
    url = opts.get("url") or opts.get("addr") or ""
    collection = opts.get("collection") or "points"

    # chunked configs: each sink applies replace-set semantics per base
    # key — the in-engine indexes natively (tombstones key on the base id
    # before '#', ann_index.__init__), the external sinks by a
    # filter-delete of the key's chunk set before its winning chunks
    chunked = cfg.engine.chunk is not None

    if sink.type == "group_agg":
        # maintain the IVM GROUP BY materialization from the same stream
        # (cdc/ivm.py): per-batch group deltas from touched buckets only.
        # Group key(s) come from the points' metadata map (comma-separated
        # for multi-column grouping); the default aggs need the extracted
        # text (boot passes keep_text=True for this sink type).
        # ``options.aggs`` accepts the YAML spec list ({name, op, col};
        # op ∈ count/sum/avg/var — cdc.ivm.agg_specs enforces the
        # self-maintainability boundary at config time, so min/max fail
        # the boot, not the 40th micro-batch), with col expressions over
        # ``after_text`` and the ``after_grp*`` metadata extracts.
        from .cdc.ivm import IncrementalGroupAgg, agg_specs

        gpath = opts.get("path")
        if not gpath:
            raise ValueError("group_agg sink requires options.path")
        gkeys = [
            k.strip()
            for k in str(opts.get("group_key", "author")).split(",")
            if k.strip()
        ]
        gcols = (
            ["after_grp"]
            if len(gkeys) == 1
            else [f"after_grp{i}" for i in range(len(gkeys))]
        )
        gaggs = agg_specs(opts.get("aggs"))  # validate at boot, not batch 40
        gbuckets = int(opts.get("n_buckets", 64))
        gcache: dict[str, IncrementalGroupAgg] = {}

        def hook(pts: DataFrame) -> None:
            if "text" not in pts.columns:
                raise ValueError(
                    "group_agg sink needs the extracted text on the "
                    "points (boot sets keep_text for it automatically)"
                )
            agg = gcache.get("a")
            if agg is None:
                agg = gcache["a"] = IncrementalGroupAgg(
                    pts.sparkSession, gpath, group_cols=gcols,
                    aggs=gaggs or None,
                    text_cols=("after_text",), n_buckets=gbuckets,
                    chunked=chunked,
                )
            # points → the changes shape the merge machinery speaks
            # (op/tbl/pk/lsn/after_*): tbl is a constant, pk the point id.
            # Chunked configs also carry base_pk: the IVM state then
            # applies replace-set per base key (one base-id tombstone
            # supersedes every chunk; a shrunk re-embed sheds its stale
            # tail), COUNT specs count base documents, and SUM specs sum
            # over chunk rows — the documented chunked semantics
            sel = [
                F.lit("points").alias("tbl"),
                F.col("id").alias("pk"),
                F.col("op"), F.col("lsn"),
                F.col("text").alias("after_text"),
                *[
                    F.element_at(F.col("metadata"), k).alias(c)
                    for k, c in zip(gkeys, gcols)
                ],
            ]
            if chunked:
                sel.append(F.col("base_id").alias("base_pk"))
            agg.apply_batch(pts.select(*sel))

        return hook

    if sink.type == "distinct_agg":
        # maintain the ref-counted COUNT(DISTINCT) materialization from
        # the same stream (cdc/ivm.py:IncrementalDistinctCount, the
        # two-level IVM): per batch only the touched state
        # buckets and the touched groups' value buckets are read or
        # rewritten. ``options.specs`` is the {name, col} list with col
        # expressions over ``after_text`` / the ``after_grp*`` metadata
        # extracts; the default counts distinct extracted texts per
        # group (md5(after_text)) — the live exact-dup audit the data
        # card's n_exact_dups derives from. Spec hygiene is validated at
        # boot, not batch 40. Not supported with chunked configs (the
        # per-chunk row state has no document-level distinct semantics).
        from .cdc.ivm import IncrementalDistinctCount

        dpath = opts.get("path")
        if not dpath:
            raise ValueError("distinct_agg sink requires options.path")
        if chunked:
            raise ValueError(
                "distinct_agg sink does not support chunked configs"
            )
        dkeys = [
            k.strip()
            for k in str(opts.get("group_key", "author")).split(",")
            if k.strip()
        ]
        dcols = (
            ["after_grp"]
            if len(dkeys) == 1
            else [f"after_grp{i}" for i in range(len(dkeys))]
        )
        from .cdc.ivm import distinct_specs

        dspecs = distinct_specs(  # validate at boot, not batch 1
            opts.get("specs")
            or [{"name": "n_distinct_texts", "col": "md5(after_text)"}]
        )
        dbuckets = int(opts.get("n_buckets", 64))
        dvbuckets = int(opts.get("dv_buckets", 64))
        # top-k report cadence (the lex_index health_every twin):
        # options.topk_every = N materializes topk(topk_k) — the ranked
        # most-frequent live values per (group, spec), a window over the
        # already-maintained dv state, no base-data scan — to
        # options.path + "/topk" after every Nth batch (0 = off); the
        # last report also lands on hook.last_topk
        dtopk_every = int(opts.get("topk_every", 0))
        dtopk_k = int(opts.get("topk_k", 3))
        if dtopk_every and dtopk_k < 1:
            raise ValueError("distinct_agg sink: topk_k must be >= 1")
        dcache: dict = {"n": 0}

        def hook(pts: DataFrame) -> None:
            if "text" not in pts.columns:
                raise ValueError(
                    "distinct_agg sink needs the extracted text on the "
                    "points (boot sets keep_text for it automatically)"
                )
            dc = dcache.get("d")
            if dc is None:
                dc = dcache["d"] = IncrementalDistinctCount(
                    pts.sparkSession, dpath, specs=dspecs,
                    group_cols=dcols, text_cols=("after_text",),
                    n_buckets=dbuckets, dv_buckets=dvbuckets,
                )
            dc.apply_batch(
                pts.select(
                    F.lit("points").alias("tbl"),
                    F.col("id").alias("pk"),
                    F.col("op"), F.col("lsn"),
                    F.col("text").alias("after_text"),
                    *[
                        F.element_at(F.col("metadata"), k).alias(c)
                        for k, c in zip(dkeys, dcols)
                    ],
                )
            )
            dcache["n"] += 1
            if dtopk_every and dcache["n"] % dtopk_every == 0:
                from .cdc.apply import swap_write

                report = dc.topk(dtopk_k)
                if report is not None:
                    report = report.localCheckpoint(eager=True)
                    swap_write(report, dpath + "/topk")
                    hook.last_topk = report

        return hook

    if sink.type == "neardup":
        # maintain the streaming MinHash-LSH near-dup state from the
        # same stream (streaming/neardup.py): each batch is checked
        # against everything ingested before it, and the verified pair
        # GRAPH accumulates in a segment log. ``options.report_every
        # = N`` (the distinct_agg topk_every twin) materializes the five
        # graph-family reports (survivors / cluster_histogram / split /
        # pagerank / source_overlap — the d9/d44/d46/d47/d48 faces) from the
        # MAINTAINED state after every Nth batch, each swap-written to
        # options.path + "/reports/<name>" — O(pairs + docs) per
        # refresh, never a shingle/candidate re-derivation. The last
        # report set also lands on hook.last_reports.
        # ``options.source_key`` names the metadata key carried into the
        # docs state as the contamination matrix's source dimension.
        # Deletes retire the ids from all three state stores
        # (StreamingNearDup.delete_batch), so the
        # live pair state and the cadence reports track the surviving
        # collection like every other keyed state.
        from .streaming.neardup import StreamingNearDup

        npath = opts.get("path")
        if not npath:
            raise ValueError("neardup sink requires options.path")
        if chunked:
            raise ValueError("neardup sink does not support chunked configs")
        nsource = str(opts.get("source_key", "")).strip()
        nreport_every = int(opts.get("report_every", 0))
        nkw = {
            "threshold": float(opts.get("threshold", 0.5)),
            "num_perm": int(opts.get("num_perm", 64)),
            "bands": int(opts.get("bands", 16)),
            "shingle_n": int(opts.get("shingle_n", 3)),
            "n_buckets": int(opts.get("n_buckets", 64)),
        }
        ncache: dict = {"n": 0}

        def hook(pts: DataFrame) -> None:
            if "text" not in pts.columns:
                raise ValueError(
                    "neardup sink needs the extracted text on the "
                    "points (boot sets keep_text for it automatically)"
                )
            nd = ncache.get("nd")
            if nd is None:
                nd = ncache["nd"] = StreamingNearDup(
                    pts.sparkSession, npath, id_col="id", text_col="text",
                    carry_cols=("source",) if nsource else (), **nkw,
                )
            cols = [F.col("id"), F.col("text")]
            if nsource:
                cols.append(
                    F.coalesce(
                        F.element_at(F.col("metadata"), nsource),
                        F.lit("unknown"),
                    ).alias("source")
                )
            # per-key event order (pipeline.go:154-165): reduce to each
            # id's max-LSN OUTCOME first, then route by the winning op —
            # a key deleted-then-reinserted within one micro-batch must
            # survive as live (its final op is an upsert), and a key
            # whose final event is a delete must not be ingested at all.
            # After final_events the upsert/delete id sets are disjoint,
            # so hook ordering between the two calls cannot matter;
            # deletes go first anyway to mirror the chunked delivery hooks.
            fe = final_events(pts).localCheckpoint(eager=True)
            # retire deleted ids from index/docs/pairs (cheap no-op when
            # the batch carries no deletes: one tiny distinct-collect)
            nd.delete_batch(fe.where(F.col("op") == "d").select("id"))
            nd.apply_batch(fe.where(F.col("op") != "d").select(*cols))
            ncache["n"] += 1
            if nreport_every and ncache["n"] % nreport_every == 0:
                from .cdc.apply import swap_write

                reports = nd.graph_reports(id_col="id")
                out = {}
                for name, df in reports.items():
                    df = df.localCheckpoint(eager=True)
                    swap_write(df, f"{npath}/reports/{name}")
                    out[name] = df
                hook.last_reports = out

        return hook

    if sink.type == "scd2_history":
        # maintain the SCD Type-2 row-validity history live from the
        # stream (cdc/scd2.py — c21's streaming face): every
        # point event becomes a version row (deletes become closure
        # markers), appended as one segment per batch.
        # NOTE: unlike the delivery hooks this consumes EVERY event, not
        # the final_events reduction — intra-batch ordering is resolved
        # by the lead(lsn) window the history reads with, and an SCD2
        # history that dropped superseded versions would not be a history.
        from .cdc.scd2 import Scd2History

        spath = opts.get("path")
        if not spath:
            raise ValueError("scd2_history sink requires options.path")
        if chunked:
            # chunked points version per CHUNK id, but a shrinking update
            # emits no closure event for its dropped tail chunks — their
            # versions would stay open forever. Reject loudly (the
            # neardup/ivf discipline for id-keyed sinks under chunking).
            raise ValueError("scd2_history sink does not support chunked configs")
        # metadata keys carried onto each version row (comma-separated)
        sattrs = tuple(
            a.strip()
            for a in str(opts.get("attrs", "after_author")).split(",")
            if a.strip()
        )
        scache: dict = {}

        def hook(pts: DataFrame) -> None:
            sh = scache.get("sh")
            if sh is None:
                sh = scache["sh"] = Scd2History(
                    pts.sparkSession, spath, key_col="id",
                    payload_cols=sattrs,
                )
            ev = pts.select(
                "id", "lsn", "op",
                *[
                    F.element_at(F.col("metadata"), a).alias(a)
                    for a in sattrs
                ],
            )
            sh.apply_batch(ev)

        return hook

    if sink.type == "lex_index":
        # maintain a disk BM25 inverted index from the same stream (the
        # lexical twin of ivf_index — operators.lex_index). Requires the
        # points to carry the extracted text (boot passes keep_text=True
        # for this sink type); no cold-start special case: apply_batch
        # on an empty directory IS the build
        from .operators.lex_index import IncrementalLexicalIndex

        lpath = opts.get("path")
        if not lpath:
            raise ValueError("lex_index sink requires options.path")
        lbuckets = int(opts.get("n_buckets", 16))
        # auto-compaction knobs, same contract as the ivf_index sink
        lraw = opts.get("auto_compact_ratio", 0.5)
        lratio = None if str(lraw).lower() in ("none", "off") else float(lraw)
        lmin = int(opts.get("auto_compact_min", 4096))
        # filtered search: options.payload_cols = "tbl,pk" (columns of
        # the points frame to store on docstats for topk predicates)
        lpay = tuple(
            c.strip() for c in str(opts.get("payload_cols", "")).split(",") if c.strip()
        )

        # health cadence (the ivf_index health_every twin):
        # options.health_every = N runs lex_rebuild_policy after every
        # Nth batch and compacts / re-buckets when it triggers (0 = off);
        # the last decision is kept on hook.last_health
        lhealth_every = int(opts.get("health_every", 0))
        lhealth_kw = {
            "max_tomb_ratio": float(opts.get("max_tomb_ratio", 0.5)),
            "max_dead_ratio": float(opts.get("max_dead_ratio", 0.5)),
            "max_imbalance": float(opts.get("max_imbalance", 8.0)),
        }

        lcache: dict = {"n": 0}

        def hook(pts: DataFrame) -> None:
            # one writer instance across batches: its Observation-fed
            # compaction counters carry over, so the trigger check stays
            # free of count jobs after the first batch
            ix = lcache.get("ix")
            if ix is None:
                ix = lcache["ix"] = IncrementalLexicalIndex(
                    pts.sparkSession, lpath, n_buckets=lbuckets,
                    payload_cols=lpay,
                    auto_compact_ratio=lratio, auto_compact_min=lmin,
                    chunked=chunked,
                )
            ix.apply_batch(pts.select("id", "text", "op", "lsn", *lpay))
            lcache["n"] += 1
            if lhealth_every and lcache["n"] % lhealth_every == 0:
                from .operators.index_health import lex_maybe_repair

                hook.last_health = lex_maybe_repair(ix, **lhealth_kw)

        hook.last_health = None
        return hook

    if sink.type == "ivf_index":
        import os

        from .operators.ann_index import IncrementalIvfIndex

        path = opts.get("path")
        if not path:
            raise ValueError("ivf_index sink requires options.path")
        every = int(opts.get("centroid_every", 31))
        # auto-compaction knobs (see IncrementalIvfIndex.__init__);
        # auto_compact_ratio: "none"/"off" disables
        raw_ratio = opts.get("auto_compact_ratio", 0.5)
        ratio = None if str(raw_ratio).lower() in ("none", "off") else float(raw_ratio)
        compact_min = int(opts.get("auto_compact_min", 4096))
        # optional IVF-PQ: options.pq = "m,k" (e.g. "16,64") — compressed
        # code column + ADC search (ann_index module docstring)
        raw_pq = opts.get("pq")
        pq = tuple(int(x) for x in str(raw_pq).split(",")) if raw_pq else None
        if pq is not None and len(pq) != 2:
            raise ValueError(f"ivf_index options.pq must be 'm,k', got {raw_pq!r}")
        # index-health cadence (operators/index_health.py):
        # options.health_every = N runs rebuild_policy after every Nth
        # batch and retrains/rebuilds in place when it triggers (0 =
        # off). The rebuild preserves lsns, so checkpoint replays stay
        # idempotent across it; the last decision is kept on the hook
        # (hook.last_health) for /healthz-style export.
        health_every = int(opts.get("health_every", 0))
        health_kw = {
            "max_imbalance": float(opts.get("max_imbalance", 5.0)),
            "min_recall": float(opts.get("min_recall", 0.7)),
            "nprobe": int(opts.get("health_nprobe", 4)),
            "n_queries": int(opts.get("health_queries", 10)),
        }

        icache: dict = {"n": 0}

        def hook(pts: DataFrame) -> None:
            # one writer instance across batches (see lex_index hook)
            ix = icache.get("ix")
            if ix is None:
                ix = icache["ix"] = IncrementalIvfIndex(
                    pts.sparkSession, path,
                    auto_compact_ratio=ratio, auto_compact_min=compact_min,
                    pq=pq, chunked=chunked,
                )
            if not os.path.exists(path + "_centroids"):
                # cold start: train centroids on the first batch's
                # vectors (standard IVF practice — retrain = offline
                # rebuild); the subsequent apply supersedes the lsn-0
                # seed rows idempotently
                seed = pts.where(F.col("op") != OP_DELETE).select("id", "vector")
                if seed.isEmpty():
                    return  # all-delete first batch: nothing to index yet
                ix.build(seed, centroid_every=every)
            ix.apply_batch(pts.select("id", "vector", "op", "lsn"))
            icache["n"] += 1
            if health_every and icache["n"] % health_every == 0:
                from .operators.index_health import maybe_rebuild

                hook.last_health = maybe_rebuild(
                    ix, centroid_every=every, **health_kw
                )

        hook.last_health = None
        return hook

    if sink.type in ("qdrant", "milvus"):
        from .sinks import milvus, qdrant
        from .sinks.http import deliver_partition

        out = qdrant if sink.type == "qdrant" else milvus
        reduce = final_events_chunked if chunked else final_events
        dim = cfg.engine.vector_size
        ensured = []

        def hook(pts: DataFrame) -> None:
            if not ensured:
                # neither server auto-creates a collection: ensure-or-verify
                # once per pipeline (qdrant.go:70-145, milvus.go:53-131)
                out.ensure_collection(url, collection, dim=dim)
                ensured.append(True)
            # after the reduction each id (chunked: each base key) has one
            # winning event, and all rows of a key share a partition, so one
            # partition pass delivers the batch
            out.point_bodies(reduce(pts)).foreachPartition(
                lambda rows: deliver_partition(rows, out, url, collection, chunked)
            )

        return hook


def sink_hooks_for(cfg: PipelineConfig):
    """Multi-sink fanout (engine extension; the reference's config.go
    supports exactly one sink): one delivery hook per configured sink —
    the primary ``sink:`` plus the ``sinks:`` list — composed into a
    single per-batch hook. This is the production topology the two
    incremental indexes imply: one CDC stream simultaneously maintains
    the external vector collection, the disk IVF index, and the lexical
    BM25 index. boot() persists the batch's points before the fanout, so
    the embed pipeline runs once regardless of sink count."""
    hooks = [
        h
        for s in cfg.all_sinks
        if (h := sink_hook_for(cfg, s)) is not None
    ]
    if not hooks:
        return None
    if len(hooks) == 1:
        return hooks[0]

    def fanout(pts: DataFrame) -> None:
        for h in hooks:
            h(pts)

    return fanout


def _resolve_config(config: PipelineConfig | str | None):
    if config is None:
        return PipelineConfig(engine=DEFAULT_CONFIG)
    if isinstance(config, str):
        return load_yaml(config)
    return config


def _collection_for(spark: SparkSession, cfg, state_dir: str):
    """The engine-native keyed point store: the replace-set collection
    for chunked configs, the per-id one otherwise. Both commit through
    manifest generations (cdc/segments.py), so one store serves local
    filesystems and object stores alike."""
    chunked = isinstance(cfg, PipelineConfig) and cfg.engine.chunk is not None
    return (ChunkedPointsCollection if chunked else PointsCollection)(spark, state_dir)


def _batch_writer(cfg, coll):
    """The per-batch write both boot paths share: apply the points to
    the keyed collection ``coll``, then run the configured sink hooks
    on them. Returns ``(keep_text, write)``: whether the points must
    carry the extracted text (the sinks that index or aggregate it), and
    ``write(pts, epoch_id)``."""
    hook = sink_hooks_for(cfg) if isinstance(cfg, PipelineConfig) else None
    keep_text = isinstance(cfg, PipelineConfig) and any(
        s.type in ("lex_index", "group_agg", "distinct_agg", "neardup")
        for s in cfg.all_sinks
    )

    def write(pts: DataFrame, epoch_id: int | None) -> None:
        if hook is None:
            coll.apply_points(pts, epoch_id)
            return
        # the hooks re-read the batch's points: persist so the embed UDF
        # pipeline runs once, not once per sink
        pts = pts.persist()
        try:
            coll.apply_points(pts, epoch_id)
            hook(pts)
        finally:
            pts.unpersist()

    return keep_text, write


def boot(
    spark: SparkSession,
    config: PipelineConfig | str | None,
    changes_dir: str,
    changes_schema,
    state_dir: str,
    checkpoint_dir: str,
    health_port: int | None = None,
    max_files_per_trigger: int = 1,
):
    """Start the whole pipeline. Returns (query, collection, health_server).

    `changes_dir` is a (growing) directory of flattened change-log parquet
    chunks — the file-stream stand-in for the Kafka/Debezium topic (swap in
    cdc.debezium.read_kafka_stream for production). Caller stops the query
    (or wraps this in streaming.health.run_supervised).

    Mapping hot-reload: when ``config``
    is a YAML *path*, each micro-batch stats the file and re-loads it on
    mtime change, so text/metadata columns added to a mapping mid-stream
    start populating in SUBSEQUENT batches without a restart (the
    relation cache already flows new columns into the envelope; this
    closes the last static link). Only the TRANSFORM side (engine
    mappings/filters/chunking) refreshes — provider, collection, sinks
    and trigger stay as booted (re-wiring those is a restart concern,
    same as the reference's process-level config). A half-written or
    invalid YAML keeps the previous config instead of failing the
    stream."""
    cfg = _resolve_config(config)
    provider = _provider_from(cfg)
    coll = _collection_for(spark, cfg, state_dir)
    keep_text, write = _batch_writer(cfg, coll)
    # chunked + in-engine index sinks compose: the indexes
    # key tombstones on the base id (before '#'), giving replace-set
    # chunk semantics natively (ann_index/lex_index chunked=True —
    # sink_hooks_for passes the flag); qdrant/milvus get the same
    # semantics via payload-filter deletes (sinks.http.deliver_partition);
    # group_agg keys its state on base_pk (replace-set,
    # counts base documents — cdc/ivm.py chunked-mode docstring)
    stream = read_file_stream(spark, changes_dir, changes_schema, max_files_per_trigger)

    # per-batch engine metrics for /healthz (points_out via Observation:
    # the count piggybacks on the batch's own write action — safe to
    # read because apply_points always runs the segment write over the
    # observed plan)
    batch_metrics: dict = {}

    cfg_path = config if isinstance(config, str) else None
    reload_state = {
        "engine": cfg.engine,
        "mtime": os.path.getmtime(cfg_path) if cfg_path else None,
    }

    def _current_engine():
        """One os.stat per batch; reload the engine config on change
        (see the boot docstring's hot-reload contract)."""
        if cfg_path is None:
            return reload_state["engine"]
        try:
            mtime = os.path.getmtime(cfg_path)
        except OSError:
            return reload_state["engine"]
        if mtime != reload_state["mtime"]:
            try:
                reload_state["engine"] = _resolve_config(cfg_path).engine
                reload_state["mtime"] = mtime
            except Exception:  # noqa: BLE001 — a torn write must not kill the stream
                pass
        return reload_state["engine"]

    def handle(batch: DataFrame, epoch_id: int) -> None:
        import time as _time

        from pyspark.sql import Observation

        t0 = _time.perf_counter()
        fobs: list = []
        pts = run_batch(
            batch, _current_engine(), provider, keep_text=keep_text,
            filter_observations=fobs,
        )
        obs = Observation()
        write(pts.observe(obs, F.count(F.lit(1)).alias("points_out")), epoch_id)
        batch_metrics.update(
            {
                "epoch": epoch_id,
                "points_out": int(obs.get.get("points_out", 0)),
                "batch_wall_ms": round((_time.perf_counter() - t0) * 1000),
                "state_segments": len(coll.store.segments()),
            }
        )
        if fobs:
            # per-stage surviving-row counts of the ingest filter chain
            # (cdc/filters.py) — consecutive stage deltas = drop
            # attribution, at zero extra jobs
            batch_metrics["filter_rows"] = {
                name: int(o.get.get("rows", 0)) for name, o in fobs
            }

    # flush_interval_ms → processingTime trigger (B1 parity: the reference
    # flushes every 500 ms by default, config.go:106-108)
    query = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{cfg.engine.flush_interval_ms} milliseconds")
        .start()
    )
    server = None
    if health_port is not None:
        from .streaming.health import serve_healthz

        server = serve_healthz(query, health_port, extra=lambda: batch_metrics)
    return query, coll, server


def boot_with_snapshot(
    spark: SparkSession,
    config: PipelineConfig | str | None,
    snapshots: list,
    snapshot_lsn: int,
    changes_dir: str,
    changes_schema,
    state_dir: str,
    checkpoint_dir: str,
    snapshot_id_col: str = "pk",
    health_port: int | None = None,
    max_files_per_trigger: int = 1,
):
    """Bootstrap a brand-new deployment from the source tables' CURRENT
    state, then start streaming (cdc/snapshot.py protocol — the
    reference can't do this at all: rows that predate the slot are
    never indexed).

    ``snapshots`` is a list of ``(table_df, mapping)`` pairs (one per
    mapped table); each is pushed through the audited build_points
    pipeline at ``lsn=snapshot_lsn`` into the config-selected collection
    AND through the configured external-sink hooks (qdrant/milvus/
    kafka/ivf_index/lex_index all receive the pre-existing rows — the
    point of the bootstrap), then ``boot`` takes over. The LWW merge
    makes the handoff coordination-free: streaming may replay from any
    offset at or before the snapshot without corruption.

    Returns boot's (query, collection, health_server)."""
    from .cdc.pipeline import build_points
    from .cdc.snapshot import snapshot_events

    cfg = _resolve_config(config)
    provider = _provider_from(cfg)
    coll = _collection_for(spark, cfg, state_dir)
    keep_text, write = _batch_writer(cfg, coll)
    chunk = cfg.engine.chunk if isinstance(cfg, PipelineConfig) else None
    for table, mapping in snapshots:
        ev = snapshot_events(table, mapping.table, snapshot_id_col, snapshot_lsn)
        write(build_points(ev, mapping, provider, chunk=chunk, keep_text=keep_text), None)
    return boot(
        spark,
        cfg,
        changes_dir,
        changes_schema,
        state_dir,
        checkpoint_dir,
        health_port,
        max_files_per_trigger,
    )


def boot_from_postgres(
    spark: SparkSession,
    config: PipelineConfig | str | None,
    wal_path: str,
    work_dir: str,
    id_column: str,
    after_keys: list[str],
    health_port: int | None = None,
    poll_interval_s: float = 0.25,
):
    """The reference's no-Kafka demo topology (docker-compose.yaml: bare
    Postgres straight into the engine) end-to-end: a PostgresBridge tails
    the wal2json NDJSON log at ``wal_path`` into ``work_dir``/chunks on a
    daemon thread while ``boot`` consumes the chunks as a file stream.

    Returns (query, collection, health_server, stop) where ``stop()``
    halts the bridge thread then the streaming query — the reference's
    signal-handler shutdown order (main.go:141-157: source first, then
    pipeline)."""
    import os
    import threading

    from .cdc.postgres import PostgresBridge, flat_changes

    chunks = os.path.join(work_dir, "chunks")
    os.makedirs(chunks, exist_ok=True)
    bridge = PostgresBridge(spark, wal_path, chunks, id_column, after_keys)
    # the flat chunk schema is fixed by after_keys, independent of data
    schema = flat_changes(
        spark.createDataFrame([], "value string"), id_column, after_keys
    ).schema
    query, coll, server = boot(
        spark,
        config,
        changes_dir=chunks,
        changes_schema=schema,
        state_dir=os.path.join(work_dir, "state"),
        checkpoint_dir=os.path.join(work_dir, "ckpt"),
        health_port=health_port,
    )
    stop_ev = threading.Event()
    t = threading.Thread(
        target=bridge.run,
        kwargs={"poll_interval_s": poll_interval_s, "stop": stop_ev},
        daemon=True,
    )
    t.start()

    def stop():
        stop_ev.set()
        t.join(timeout=30)
        query.stop()
        if server is not None:
            server.shutdown()

    return query, coll, server, stop
