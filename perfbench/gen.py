"""Deterministic inputs of the benchmark, made by the load process.

Everything here is a pure function of its arguments (numpy's PCG64 seeded
generator, no clock, no environment), so the same seed gives byte-identical
change files, corpus tables and reference state. Only numpy and pyarrow are
used: the load process never touches Spark, and the engine receives nothing
but the files written from these tables.

The change log has the flattened shape of ``cdc2vec_spark.cdc.changelog``
(lsn, op, tbl, pk, after_title, after_content, after_author). The
reference below re-derives, independently of the engine, what its keyed
state must hold after the log is applied: last write wins by LSN per
``public.documents`` key, upserts whose extracted text is empty are
skipped, and deletes leave no live point.
"""

from __future__ import annotations

import io

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAPPED = "public.documents"
UNMAPPED = "public.ignored"
OP_INSERT, OP_UPDATE, OP_DELETE = "c", "u", "d"

# the vocabulary and length range of the engine's documents fixture
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)

CHANGE_SCHEMA = pa.schema(
    [
        ("lsn", pa.int64()),
        ("op", pa.string()),
        ("tbl", pa.string()),
        ("pk", pa.string()),
        ("after_title", pa.string()),
        ("after_content", pa.string()),
        ("after_author", pa.string()),
    ]
)


def texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    """``n`` space-joined word sequences of ``lo``..``hi``-1 words."""
    lens = rng.integers(lo, hi, n)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for n_words in lens.tolist():
        out.append(" ".join(WORDS[idx[pos : pos + n_words]].tolist()))
        pos += n_words
    return out


def extracted_text(title: str | None, content: str | None) -> str:
    """The engine's text extraction rule, restated: non-null, non-empty
    values joined by one space."""
    return " ".join(v for v in (title, content) if v)


class ChangeLog:
    """Builds a valid change history row by row: a key is inserted before
    it is updated or deleted, and a deleted key comes back only through a
    re-insert. LSNs rise strictly in generation order."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.lsn = 0
        self.next_key = 0
        self.next_unmapped = 0
        self.live: set[int] = set()
        self.rows: dict[str, list] = {f.name: [] for f in CHANGE_SCHEMA}

    def fresh_key(self) -> int:
        k = self.next_key
        self.next_key += 1
        return k

    def add(self, op: str, pk: int, text: str | None, guard: float = 0.0,
            table: str = MAPPED) -> None:
        """Append one change. ``guard`` is the chance that an upsert
        carries an empty title and NULL content, which the engine must
        skip rather than embed."""
        self.lsn += 1
        title = content = author = None
        if op != OP_DELETE:
            if guard and self.rng.random() < guard:
                title = ""
            else:
                title, content = text[:24], text[24:104] or None
            author = f"src{pk % 20}"
        if table == MAPPED:
            if op == OP_DELETE:
                self.live.discard(pk)
            elif extracted_text(title, content):
                self.live.add(pk)
        r = self.rows
        r["lsn"].append(self.lsn)
        r["op"].append(op)
        r["tbl"].append(table)
        r["pk"].append(str(pk))
        r["after_title"].append(title)
        r["after_content"].append(content)
        r["after_author"].append(author)

    def add_unmapped(self, text: str) -> None:
        self.add(OP_INSERT, self.next_unmapped, text, table=UNMAPPED)
        self.next_unmapped += 1

    def take(self) -> pa.Table:
        """The rows added since the last take, as one change table."""
        t = pa.table(self.rows, schema=CHANGE_SCHEMA)
        self.rows = {f.name: [] for f in CHANGE_SCHEMA}
        return t


def backfill_log(seed: int, warm_rows: int, n_files: int, file_rows: int):
    """The ``cdc_backfill`` log: a warm-up table (fresh-key inserts, drained
    before the clock starts) and ``n_files`` tables of ``file_rows`` changes.
    Mix: 10% of rows on an unmapped table; of the mapped rows 80% inserts of
    fresh keys, 15% updates and 5% deletes of live keys, 2% of upserts with
    empty text."""
    rng = np.random.default_rng([seed, 1])
    log = ChangeLog(rng)
    for text in texts(rng, warm_rows):
        log.add(OP_INSERT, log.fresh_key(), text)
    warm = log.take()
    live = sorted(log.live)  # a list mirror of log.live for uniform picks
    pos = {k: i for i, k in enumerate(live)}

    def drop(k: int) -> None:
        i = pos.pop(k)
        last = live.pop()
        if last != k:
            live[i] = last
            pos[last] = i

    files = []
    for _ in range(n_files):
        kinds = rng.random(file_rows)
        for kind, text in zip(kinds.tolist(), texts(rng, file_rows)):
            if kind < 0.10:
                log.add_unmapped(text)
                continue
            u = (kind - 0.10) / 0.90
            if u < 0.80 or not live:
                k = log.fresh_key()
                log.add(OP_INSERT, k, text, guard=0.02)
                if k in log.live:
                    pos[k] = len(live)
                    live.append(k)
            elif u < 0.95:
                k = live[int(rng.integers(len(live)))]
                log.add(OP_UPDATE, k, text, guard=0.02)
                if k not in log.live:
                    drop(k)
            else:
                k = live[int(rng.integers(len(live)))]
                log.add(OP_DELETE, k, None)
                drop(k)
        files.append(log.take())
    return warm, files


def reference_state(tables) -> dict[str, tuple[int, str]]:
    """Live points the engine must hold after applying ``tables`` in any
    order: ``{point id: (lsn, text)}``. Computed from the rows alone —
    last write wins by LSN per mapped key, among the deletes and the
    upserts with non-empty text."""
    last: dict[str, tuple[int, str, str]] = {}
    for t in tables:
        cols = [t.column(c).to_pylist() for c in CHANGE_SCHEMA.names]
        for lsn, op, tbl, pk, title, content, _author in zip(*cols):
            if tbl != MAPPED:
                continue
            text = extracted_text(title, content)
            if op != OP_DELETE and not text:
                continue
            prev = last.get(pk)
            if prev is None or lsn > prev[0]:
                last[pk] = (lsn, op, text)
    return {
        f"{MAPPED}:{pk}": (lsn, text)
        for pk, (lsn, op, text) in last.items()
        if op != OP_DELETE
    }


def parquet_bytes(table: pa.Table) -> bytes:
    """One change file, serialized; written unchanged by the load process."""
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.getvalue()


# ---------------------------------------------------------------- corpus

CORPUS_SEED = 20261016  # fixed: the recorded query fingerprints depend on it
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])


def corpus_tables(seed: int = CORPUS_SEED) -> dict[str, pa.Table]:
    """The tables the ``corpus_ops`` queries read, at the row counts of the
    engine's sf0.1 fixtures: documents (5,000), embeddings (2,000 × 64),
    region, nation, customer (15,000) and orders (150,000)."""
    rng = np.random.default_rng([seed, 3])
    n_docs = 5000
    docs = texts(rng, n_docs)
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": docs,
            "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
        }
    )
    n_vec, dim = 2000, 64
    vecs = rng.normal(0.0, 0.1, (n_vec, dim)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    region = pa.table(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    n_cust = 15000
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }
    )
    n_ord = 150000
    day0 = np.datetime64("1992-01-01", "us")
    days = rng.integers(0, 365 * 10, n_ord).astype("timedelta64[D]").astype("timedelta64[us]")
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n_ord), 2),
            "o_orderdate": pa.array(day0 + days, pa.timestamp("us")),
            "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
        }
    )
    return {
        "documents": documents,
        "embeddings": embeddings,
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
    }
