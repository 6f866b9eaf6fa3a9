"""Product quantization (PQ) for embedding columns — the memory-compression
scale path for vector search at 100 TB.

A 768-dim float32 embedding is 3 KB; PQ with m sub-spaces stores m bytes
(one centroid code per sub-space), a 384× compression at m=8. At 100 TB of
raw vectors the code table is a few hundred GB — small enough to keep the
WHOLE corpus scannable in one narrow pass (or resident in executor memory)
while the raw vectors stay on cold storage for optional exact rerank. This
is the standard IVF-PQ building block (Jégou et al., "Product Quantization
for Nearest Neighbor Search", TPAMI 2011) re-expressed Spark-first:

- ``pq_train``  — driver-side numpy k-means per sub-space over a small,
  deterministic, hash-ordered sample (collect is O(sample·d), bounded by
  construction; the codebook itself is m·k·(d/m) floats ≈ KBs and ships
  to executors via broadcast).
- ``pq_encode`` — ONE narrow mapInPandas pass: each Arrow batch runs one
  BLAS distance matrix per sub-space and argmins to a uint8 code; rows
  leave as ``binary`` (m bytes) — no shuffle, no join, scan-shaped.
- ``pq_topk``   — asymmetric distance computation (ADC): the query builds
  an (m × k) inner-product lookup table on the driver, broadcasts it, and
  each batch scores rows with pure numpy fancy-indexing over the code
  bytes — no vector math per row at query time. orderBy+limit compiles to
  TakeOrderedAndProject (k-heap per partition), so the full plan is
  scan(codes) → LUT-sum → heap at any corpus size.

Cosine semantics: vectors (and the query) are L2-normalized before
training/encoding, so the ADC inner-product score approximates cosine.
A zero vector normalizes to zero and quantizes to the centroid nearest
the origin — its ADC score is that centroid's (small, nonzero) inner
product with the query; the exact rerank stage restores the true 0.0
(``vector.ops.cosine`` semantics) for any zero row that survives the
candidate cut.

The reference has no quantization — its vectors go to the sink raw
(qdrant.go:181-255); this module is a north-star LLM-data-pipeline
extension (BASELINE.json). Everything is deterministic: hash-ordered
sample, first-k init, fixed Lloyd iterations — no RNG anywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..io import load_table
from ..session import memo


def _normalized(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = np.inf  # zero vector stays zero
    return mat / norms[:, None]


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 10,
    sample_limit: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> np.ndarray:
    """Train an (m, k, d/m) PQ codebook with per-sub-space Lloyd k-means.

    The training sample is hash-ordered (``orderBy(xxhash64(id))`` +
    limit → TakeOrderedAndProject, an O(n) scan with an O(sample) heap —
    never a global sort) so it is deterministic AND unbiased w.r.t. id
    locality. Init = first k sample rows per sub-space; empty clusters
    keep their previous centroid. Everything after the collect is driver
    numpy: at any corpus scale the collect is capped at
    ``sample_limit·d`` floats.
    """
    rows = (
        embeddings.select(vec_col)
        .where(F.col(vec_col).isNotNull())
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(sample_limit)
        .collect()
    )
    if not rows:
        raise ValueError("pq_train: no vectors to train on")
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    if normalize:
        x = _normalized(x)
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"pq_train: dim {d} not divisible by m={m}")
    if k > 256:
        raise ValueError("pq_train: k > 256 does not fit a uint8 code")
    dsub = d // m
    codebooks = np.empty((m, k, dsub), dtype=np.float64)
    for s in range(m):
        sub = x[:, s * dsub : (s + 1) * dsub]
        # deterministic init: first k sample rows (hash order ≈ random)
        cents = sub[: min(k, len(sub))].copy()
        if len(cents) < k:  # tiny sample: pad by repeating rows
            cents = np.vstack([cents] * (k // len(cents) + 1))[:k]
        for _ in range(iters):
            # assign: argmin ||x - c||² = argmin (||c||² - 2 x·c)
            d2 = (cents * cents).sum(axis=1)[None, :] - 2.0 * (sub @ cents.T)
            assign = np.argmin(d2, axis=1)
            for j in range(k):
                members = sub[assign == j]
                if len(members):
                    cents[j] = members.mean(axis=0)
        codebooks[s] = cents
    return codebooks


def encode_matrix(
    x: np.ndarray, codebooks: np.ndarray, normalize: bool = True
) -> np.ndarray:
    """(n × d) float matrix → (n × m) uint8 code matrix. One BLAS
    (batch × k) distance matrix + argmin per sub-space — the shared
    kernel for pq_encode and the PQ-compressed incremental index."""
    m, k, dsub = codebooks.shape
    if normalize:
        x = _normalized(np.asarray(x, dtype=np.float64))
    codes = np.empty((len(x), m), dtype=np.uint8)
    for s in range(m):
        cb = codebooks[s]
        sub = x[:, s * dsub : (s + 1) * dsub]
        d2 = (cb * cb).sum(axis=1)[None, :] - 2.0 * (sub @ cb.T)
        codes[:, s] = np.argmin(d2, axis=1)
    return codes


def adc_lut(query_vec: np.ndarray, codebooks: np.ndarray, normalize: bool = True) -> np.ndarray:
    """(m × k) inner-product lookup table for a query:
    LUT[s, j] = q_s · c_sj, so score(row) = Σ_s LUT[s, code_s]."""
    m, _, dsub = codebooks.shape
    q = np.asarray(query_vec, dtype=np.float64)
    if normalize:
        qn = np.linalg.norm(q)
        if qn > 0:
            q = q / qn
    return np.stack(
        [codebooks[s] @ q[s * dsub : (s + 1) * dsub] for s in range(m)]
    )


def pq_encode(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """(id, code binary) for every row — one narrow Arrow pass, no shuffle.

    Per batch: encode_matrix (BLAS per sub-space); the m uint8 codes pack
    into an m-byte ``binary`` cell. Null vectors are dropped (they have
    no meaningful code)."""
    import pandas as pd

    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast(codebooks)
    out_schema = T.StructType(
        [
            next(f for f in embeddings.schema.fields if f.name == id_col),
            T.StructField("code", T.BinaryType(), False),
        ]
    )

    def encode(batches):
        cbs = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy())
            codes = encode_matrix(x, cbs, normalize=normalize)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "code": [c.tobytes() for c in codes]}
            )

    return (
        embeddings.select(id_col, vec_col)
        .where(F.col(vec_col).isNotNull())
        .mapInPandas(encode, schema=out_schema)
    )


def pq_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    query_vec: np.ndarray,
    k: int = 10,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
    normalize: bool = True,
) -> DataFrame:
    """ADC top-k over PQ codes: (id, score) for the k highest approximate
    cosines. Scoring a row is m byte-lookups + a sum — no vector math on
    the scan path; the (m × k) LUT is built once on the driver."""
    import pandas as pd

    m = codebooks.shape[0]
    lut = adc_lut(query_vec, codebooks, normalize=normalize)
    spark = codes.sparkSession
    bc = spark.sparkContext.broadcast(lut)
    out_schema = T.StructType(
        [
            next(f for f in codes.schema.fields if f.name == id_col),
            T.StructField("score", T.DoubleType(), True),
        ]
    )

    def score(batches):
        blut = bc.value
        rng = np.arange(m)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.frombuffer(
                b"".join(pdf["code"].to_list()), dtype=np.uint8
            ).reshape(-1, m)
            s = blut[rng, cmat].sum(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "score": s})

    src = codes
    if exclude_id is not None:
        src = src.where(F.col(id_col) != exclude_id)
    scored = src.select(id_col, "code").mapInPandas(score, schema=out_schema)
    return (
        scored.select(id_col, F.round("score", 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def pq_topk_rerank(
    embeddings: DataFrame,
    codes: DataFrame,
    codebooks: np.ndarray,
    query_vec: np.ndarray,
    k: int = 10,
    candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """PQ-scan → exact-rerank: ADC over the compressed codes picks
    ``candidates`` ids (the only thing the full corpus scan touches is m
    bytes/row), then TRUE cosine re-scores just those rows from the raw
    vector table and keeps the top k.

    This is the production IVF-PQ shape (compressed scan for recall,
    exact rerank for precision): measured on the uniform-random fixture
    (the quantizer's worst case), m=16/k=64 ADC alone gets recall@10
    ≈ 0.64 while rerank@50 gets ≈ 0.98. The candidate id list is
    O(candidates) on the driver and becomes an ``isin`` pushdown filter
    on the raw table — at 100 TB the rerank reads ~candidates rows,
    not the corpus."""
    from .similarity import cosine_scores

    cand = pq_topk(
        codes, codebooks, query_vec, k=candidates,
        id_col=id_col, exclude_id=exclude_id,
    )
    cand_ids = [r[0] for r in cand.select(id_col).collect()]
    scored = cosine_scores(
        embeddings.where(F.col(id_col).isin(cand_ids)),
        np.asarray(query_vec, dtype=np.float64),
        id_col,
        vec_col,
    )
    return (
        scored.select(id_col, F.round("sim", 6).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


# --- graded rows-only entry ----------------------------------------------

def d3_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN variant of d3: ADC scan over 16-byte codes →
    exact rerank of 50 candidates. Rows-only oracle (quantized candidate
    recall is approximate by construction); tests/test_quantize.py pins
    rerank recall vs the exact scan and encode determinism."""
    e = load_table(spark, sf_dir, "embeddings")

    # trained once per (app, dataset), like the IVF index: query cost is
    # the ADC scan + rerank, not codebook training
    def build() -> tuple:
        cbs = pq_train(e, m=16, k=64)
        return cbs, pq_encode(e, cbs).persist()

    cbs, codes = memo(
        spark, ("pq_codes", sf_dir), build, release=lambda v: v[1].unpersist()
    )
    from .similarity import _query_vector

    qv = _query_vector(e, 0, "vec_id", "embedding")
    return pq_topk_rerank(e, codes, cbs, qv, k=10, candidates=50, exclude_id=0)


QUERIES = {"d3_pq_topk": d3_pq_topk}
ORACLES: dict[str, str] = {}  # approximate by construction
