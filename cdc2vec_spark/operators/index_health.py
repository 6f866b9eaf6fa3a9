"""Index-health loop for the incremental IVF index: measure → decide →
rebuild (SURVEY §2.2 group D extension; the reference ships vectors to
Qdrant/Milvus and has no index-quality feedback at all).

The problem this closes: ``IncrementalIvfIndex`` keeps its centroids
FROZEN after build — standard IVF practice, and CDC
keeps results *correct* (tombstones + exact verify), but a drifting
corpus slowly breaks the *quality* contract: newly inserted regions of
vector space have no nearby centroid, so their points spray across
cells whose centroids they barely match, and a query's ``nprobe``
nearest centroids stop containing its true neighbors → recall@k decays
and cell occupancy skews. Both signals are already measurable —
``stats()`` reports the occupancy imbalance, and the d35 machinery
(operators.retrieval_eval) established recall-vs-nprobe as the quality
curve — this module turns them into a decision plus the repair action.

Shape: cluster-side evaluation (every probe/scan is a Spark job over
the pruned index), driver-side decision (a dict of scalars). The
evaluation samples a deterministic handful of live vectors as queries
and compares the serving-depth probe against the full-probe exact
answer ON THE SAME INDEX, so the measured recall includes every real
artifact — tombstones, stale cells, assignment drift. Run it on an
operational cadence (every N batches / a cron), never per batch: the
recall probe costs THREE Spark jobs total — batched on the d35
one-pass machinery (similarity.exact_topk_multi scores every query in
one corpus pass; per-depth recall falls out of each exact hit's stored
cell's probe rank) — and the rebuild is O(index).

Usage::

    decision = rebuild_policy(ix)          # measure + decide
    if decision["rebuild"]:
        ix.rebuild(centroid_every=31)      # retrain on live survivors

or in one call: ``maybe_rebuild(ix)``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ann_index import CELL_COL, IncrementalIvfIndex


def _probe_ranks(
    cids: np.ndarray, cmat_n: np.ndarray, qv: np.ndarray
) -> dict[int, int]:
    """cell id → its rank in THIS query's probe order — the exact
    ordering ``IncrementalIvfIndex._live_candidates`` probes with
    (lexsort on (-sim, cid)), computed driver-side from the same
    collected centroid matrix."""
    qn = np.linalg.norm(qv)
    sims = cmat_n @ (qv / qn if qn else qv)
    order = np.lexsort((cids, -sims))
    return {int(cids[i]): pos for pos, i in enumerate(order)}


def _exact_hits_with_cells(
    ix: IncrementalIvfIndex, n_queries: int, k: int
) -> tuple[list, dict, np.ndarray, np.ndarray] | None:
    """The batched health probe: THREE Spark jobs total, independent of
    n_queries × |nprobes| — where the per-query × per-depth ``ix.topk``
    loop cost ~n_queries·(1+|nprobes|)·2 collect jobs.

    1. collect the n_queries lowest-id live vectors (deterministic, no
       RNG; corpus members track exactly the occupied regions),
    2. collect the centroid matrix (shared by every query's probe
       ranking),
    3. ONE ``exact_topk_multi`` pass over the live survivors scoring ALL
       queries at once (map-side top-k combine, O(q·k·partitions)
       shuffled rows), its ≤ q·(k+1) winners joined back to their STORED
       cells before the single collect.

    Recall at every probe depth then falls out driver-side with no
    further cluster work: the probed-cell sets are nested in the probe
    order, so an exact-top-k member is reachable at depth p iff its
    cell's probe rank < p — and any reachable member necessarily sits in
    the approximate top-k, because only other exact-top-k members can
    outscore it among the probed candidates.

    Returns (qrows, {query_id: [(hit_id, cell), ...]}, cids, cmat_n) or
    None when the index has no live vectors."""
    from .similarity import exact_topk_multi

    pts = ix.live_points(keep_cell=True)
    if pts is None:
        raise ValueError(f"empty index at {ix.path}")
    pts = pts.persist()
    try:
        qrows = (
            pts.select(ix.id_col, ix.vec_col)
            .orderBy(ix.id_col)
            .limit(n_queries)
            .collect()
        )
        if not qrows:
            return None
        cids, cmat_n = ix._centroid_matrix()
        id_field = next(f for f in pts.schema.fields if f.name == ix.id_col)
        qdf = ix.spark.createDataFrame(
            [(r[0], [float(x) for x in r[1]]) for r in qrows],
            T.StructType([
                T.StructField("query_id", id_field.dataType),
                T.StructField("query_vec", T.ArrayType(T.DoubleType())),
            ]),
        )
        # k+1 then drop self-hits driver-side: queries are corpus members
        hits = exact_topk_multi(
            pts, qdf, k=k + 1, id_col=ix.id_col, vec_col=ix.vec_col
        )
        cells = pts.select(
            F.col(ix.id_col).alias("_hit_id"), F.col(CELL_COL)
        )
        rows = (
            hits.join(
                cells, hits[ix.id_col] == cells["_hit_id"], "left"
            )
            .select("query_id", ix.id_col, "rank", CELL_COL)
            .collect()
        )
    finally:
        pts.unpersist()
    per_query: dict = {r[0]: [] for r in qrows}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        if r[ix.id_col] == r["query_id"]:
            continue  # self-hit excluded from both sides
        if len(per_query[r["query_id"]]) < k:
            per_query[r["query_id"]].append((r[ix.id_col], int(r[CELL_COL])))
    return qrows, per_query, cids, cmat_n


def recall_curve(
    ix: IncrementalIvfIndex,
    nprobes: tuple[int, ...] = (1, 2, 4, 8),
    n_queries: int = 10,
    k: int = 10,
) -> dict[int, float]:
    """recall@k at each probe depth — the d35 quality curve measured on
    the live index, in ONE batched pass (see ``_exact_hits_with_cells``:
    3 Spark jobs regardless of how many queries or depths). The exact
    answer is measured against the index's own live survivors —
    tombstones, stale cells and assignment drift all included — and the
    per-depth recall is derived from each exact hit's stored cell's rank
    in the query's probe order, which is exactly membership in the
    depth-p approximate answer."""
    got = _exact_hits_with_cells(ix, n_queries, k)
    if got is None:
        raise ValueError(f"no live vectors at {ix.path}")
    qrows, per_query, cids, cmat_n = got
    hits = {p: 0 for p in nprobes}
    total = 0
    for r in qrows:
        exact = per_query[r[0]]
        if not exact:
            continue
        total += len(exact)
        pranks = _probe_ranks(cids, cmat_n, np.asarray(r[1], dtype=np.float64))
        for _hit, cell in exact:
            for p in nprobes:
                if pranks[cell] < p:
                    hits[p] += 1
    return {p: (hits[p] / total if total else 1.0) for p in nprobes}


def index_recall(
    ix: IncrementalIvfIndex,
    n_queries: int = 10,
    k: int = 10,
    nprobe: int = 4,
) -> float:
    """Mean recall@k of the index at serving probe depth, measured
    against ITS OWN full-probe answer (the exact cosine top-k over the
    live survivors — tombstones and all). One curve point of
    ``recall_curve`` — same 3-job batched probe."""
    return recall_curve(ix, nprobes=(nprobe,), n_queries=n_queries, k=k)[nprobe]


def rebuild_policy(
    ix: IncrementalIvfIndex,
    max_imbalance: float = 5.0,
    min_recall: float = 0.7,
    nprobe: int = 4,
    n_queries: int = 10,
    k: int = 10,
) -> dict:
    """Measure the index and decide whether an offline retrain/rebuild
    is due. Triggers on EITHER signal:

    - occupancy imbalance (``stats()['imbalance']`` = max/avg cell) above
      ``max_imbalance``: some region's points pile into hot cells the
      frozen centroids under-serve — probe cost explodes with the hot
      cell and recall decays around it (the stats() docstring's
      rebuild-is-due heuristic, now enforced);
    - recall@k at the serving ``nprobe`` below ``min_recall``: the
      direct quality contract, measured on the live index.

    Returns ``{rebuild, reasons, stats, recall}`` — scalars only, so the
    decision can be logged/exported verbatim (healthz-style). An index
    whose live set drained to zero (tombstones only) is a LEGAL state:
    the policy reports it without recommending a rebuild (there is
    nothing to retrain on) instead of crashing the health cadence."""
    stats = ix.stats()
    if stats["n_live"] == 0:
        return {
            "rebuild": False,
            "reasons": ["live set empty (tombstones only) — nothing to retrain"],
            "stats": stats,
            "recall": None,
        }
    reasons: list[str] = []
    if stats["imbalance"] > max_imbalance:
        reasons.append(
            f"imbalance {stats['imbalance']} > {max_imbalance} "
            f"(max_cell {stats['max_cell']} vs avg {stats['avg_cell']})"
        )
    recall = index_recall(ix, n_queries=n_queries, k=k, nprobe=nprobe)
    if recall < min_recall:
        reasons.append(
            f"recall@{k} {recall:.3f} < {min_recall} at nprobe={nprobe}"
        )
    return {
        "rebuild": bool(reasons),
        "reasons": reasons,
        "stats": stats,
        "recall": round(recall, 4),
    }


def maybe_rebuild(
    ix: IncrementalIvfIndex,
    centroid_every: int = 31,
    **policy_kwargs,
) -> dict:
    """One-call cadence hook: evaluate ``rebuild_policy`` and, when it
    triggers, retrain+rebuild from the live survivors. Returns the
    decision dict with ``executed`` set."""
    decision = rebuild_policy(ix, **policy_kwargs)
    if decision["rebuild"]:
        ix.rebuild(centroid_every=centroid_every)
    decision["executed"] = decision["rebuild"]
    return decision


# --- lexical-index health ---------------------------------------------------
#
# The BM25 model itself cannot drift — topk computes N/avgdl/df from the
# LIVE state on every query — so lexical health is about COST, not
# answer quality: dead postings and a fat tombstone log make every
# bucket read scan rows that are immediately filtered out, and
# vocabulary drift can pile live postings into few term buckets so a
# query's pruned read stops being pruned. Three scalars cover it, all
# from ONE pass over the index state (far smaller than the corpus).


def lex_health_report(ix) -> dict:
    """One-job health report over an ``IncrementalLexicalIndex``: live
    vs total rows per partition kind, tombstone pressure, and the live
    posting distribution across term buckets. ``bucket_imbalance`` is
    max-bucket / (live postings ÷ n_buckets) — the IVF ``imbalance``
    twin; an empty-but-allocated bucket counts in the denominator, so a
    vocabulary hashed into one of 16 buckets reports 16."""
    from .lex_index import BUCKET_COL, DOC_BUCKET, TOMB_BUCKET

    state = ix.store.read()
    if state is None:
        raise ValueError(f"empty lexical index at {ix.path}")
    tomb = ix._tomb_maxlsn()
    if tomb is None:
        flagged = state.withColumn("_live", F.lit(True))
    else:
        t = tomb.withColumnRenamed("id", "_tkey")
        flagged = (
            state.withColumn("_tkey", ix._tomb_key_expr(F.col("id")))
            .join(F.broadcast(t), "_tkey", "left")
            .withColumn(
                "_live",
                F.col("_tlsn").isNull() | (F.col("lsn") >= F.col("_tlsn")),
            )
        )
    per = (
        flagged.groupBy(BUCKET_COL)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("_live").cast("long")).alias("live"),
        )
        .collect()
    )
    doc_rows = live_docs = tomb_rows = 0
    posting_rows = posting_live = 0
    bucket_live: dict[int, int] = {}
    for r in per:
        b = r[BUCKET_COL]
        if b == TOMB_BUCKET:
            tomb_rows = int(r["rows"])
        elif b == DOC_BUCKET:
            doc_rows, live_docs = int(r["rows"]), int(r["live"])
        else:
            posting_rows += int(r["rows"])
            posting_live += int(r["live"])
            bucket_live[int(b)] = int(r["live"])
    avg = posting_live / max(ix.n_buckets, 1)
    imbalance = (max(bucket_live.values()) / avg) if posting_live else 0.0
    return {
        "n_docs": live_docs,
        "doc_rows": doc_rows,
        "dead_doc_ratio": round(1 - live_docs / doc_rows, 4) if doc_rows else 0.0,
        "tomb_rows": tomb_rows,
        "tomb_ratio": round(tomb_rows / max(live_docs, 1), 4),
        "posting_rows": posting_rows,
        "live_postings": posting_live,
        "dead_posting_ratio": (
            round(1 - posting_live / posting_rows, 4) if posting_rows else 0.0
        ),
        "n_buckets": ix.n_buckets,
        "bucket_imbalance": round(imbalance, 2),
    }


def lex_rebuild_policy(
    ix,
    max_tomb_ratio: float = 0.5,
    max_dead_ratio: float = 0.5,
    max_imbalance: float = 8.0,
) -> dict:
    """Measure the lexical index and decide between no-op, ``compact``
    (GC dead postings + clear the tombstone log — cures tombstone/dead
    pressure) and ``rebalance`` (``rebuild`` with a wider bucket layout
    — cures vocabulary-drift skew; it garbage-collects too, so it
    subsumes compact). Scalars only, loggable verbatim — the
    ``rebuild_policy`` twin."""
    report = lex_health_report(ix)
    reasons: list[str] = []
    compact = rebalance = False
    if report["tomb_ratio"] > max_tomb_ratio:
        compact = True
        reasons.append(
            f"tomb_ratio {report['tomb_ratio']} > {max_tomb_ratio} "
            f"({report['tomb_rows']} tombstones vs {report['n_docs']} live docs)"
        )
    dead = max(report["dead_doc_ratio"], report["dead_posting_ratio"])
    if dead > max_dead_ratio:
        compact = True
        reasons.append(
            f"dead ratio {dead} > {max_dead_ratio} "
            f"(docs {report['dead_doc_ratio']}, postings {report['dead_posting_ratio']})"
        )
    if report["live_postings"] and report["bucket_imbalance"] > max_imbalance:
        rebalance = True
        reasons.append(
            f"bucket_imbalance {report['bucket_imbalance']} > {max_imbalance} "
            f"over {report['n_buckets']} buckets"
        )
    return {
        "compact": compact and not rebalance,
        "rebalance": rebalance,
        "reasons": reasons,
        "report": report,
    }


def lex_maybe_repair(ix, grow_factor: int = 2, **policy_kwargs) -> dict:
    """One-call cadence hook for the lexical index (the ``maybe_rebuild``
    twin): evaluate ``lex_rebuild_policy`` and execute the repair it
    picked — ``rebuild(n_buckets × grow_factor)`` on skew, plain
    ``compact()`` on tombstone/dead pressure."""
    decision = lex_rebuild_policy(ix, **policy_kwargs)
    if decision["rebalance"]:
        ix.rebuild(n_buckets=max(ix.n_buckets * grow_factor, ix.n_buckets + 1))
    elif decision["compact"]:
        ix.compact()
    decision["executed"] = decision["rebalance"] or decision["compact"]
    return decision
