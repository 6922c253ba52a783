"""Seeded input generation for the benchmark workloads.

Everything the engine reads is made here from ``--seed`` and written as
parquet under the run's work directory: the same seed gives the same
bytes. The tables mirror the shapes of the engine's test fixtures
(TPC-H-shaped star schema plus ``events``, ``documents`` and
``embeddings``) so every catalog entry and its DuckDB oracle run on them
unchanged. Money columns carry two decimals and timestamps are
microsecond ``timestamp[us]`` without a zone, the fixture convention the
engine's exact-arithmetic discipline is written against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes: the row counts of the engine's sf0.1 fixtures (lineitem
# ~600k rows), so catalog queries spend their time in scans, joins and
# shuffles rather than in per-job fixed costs. The one exception is the
# document corpus, 2k rows against the fixtures' 5k: indexing 5k cold
# adds about 6 s to every ingest_serve set-up, which the benchmark's
# time budget does not hold.
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 2_000
N_VECS = 2_000
VEC_DIM = 32
N_CLUSTERS = 16

STREAM_FIRST_EVENT_ID = 1_000_000
STREAM_RESEND_FRAC = 0.03  # event ids sent again one to three batches later
STREAM_CROSS_FRAC = 0.05  # events that arrive one batch early or late
WRITE_NEW_DOCS = 20
WRITE_REPLACED_DOCS = 20
FIRST_NEW_DOC_ID = 1_000_000

EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("small", "red", "blue", "hot", "cold", "big", "green", "old")
PART_NOUNS = ("ring", "widget", "bolt", "gear", "pipe", "valve", "spring", "nut")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
LANGS = ("en", "en", "en", "es", "de", "fr", "zh")

TS_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000


def _write(path: str, table: pa.Table) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _unique_money(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Distinct two-decimal amounts: ORDER BY amount LIMIT n must not tie."""
    cents = lo * 100 + rng.choice((hi - lo) * 100, size=n, replace=False)
    return cents / 100.0


def _dates(rng: np.random.Generator, start: str, days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def vocabulary(n_words: int) -> list[str]:
    """Deterministic pronounceable vocabulary; rank 0 is the most frequent."""
    cons, vows = "bcdfghklmnprstvz", "aeiou"
    words = []
    i = 0
    while len(words) < n_words:
        a, b, c, d = i % 16, (i // 16) % 5, (i // 80) % 16, (i // 1280) % 5
        words.append(cons[a] + vows[b] + cons[c] + vows[d] + ("" if i < 6400 else str(i)))
        i += 1
    return words


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


@dataclass
class Corpus:
    vocab: list[str]
    weights: np.ndarray

    def text(self, rng: np.random.Generator, n_tokens: int) -> str:
        idx = rng.choice(len(self.vocab), size=n_tokens, p=self.weights)
        return " ".join(self.vocab[i] for i in idx)


def make_corpus() -> Corpus:
    vocab = vocabulary(3_000)
    return Corpus(vocab, zipf_weights(len(vocab)))


def events_table(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    """``n`` events over 30 days, ``ts`` ascending with ``event_id``."""
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + TS_EPOCH_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.lognormal(3.5, 1.0, n).clip(0.01, 490.0), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, corpus: Corpus, ids: np.ndarray) -> pa.Table:
    texts = [corpus.text(rng, int(rng.integers(8, 60))) for _ in ids]
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, len(ids))),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def cluster_centers(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 7])
    c = rng.normal(size=(N_CLUSTERS, VEC_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def vectors(rng: np.random.Generator, centers: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit vectors scattered around the cluster centers, and their labels."""
    labels = rng.integers(0, len(centers), n)
    v = centers[labels] + rng.normal(scale=0.15, size=(n, centers.shape[1]))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return v, labels


def embeddings_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the star schema and ``events`` under ``out_dir``; returns bytes per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    sizes: dict[str, int] = {}

    def put(name: str, cols: dict) -> None:
        sizes[name] = _write(os.path.join(out_dir, f"{name}.parquet"), pa.table(cols))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)})
    put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    put(
        "customer",
        {
            "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMER)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, N_CUSTOMER)),
        },
    )
    put(
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_SUPPLIER)),
        },
    )
    retail = np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2)
    put(
        "part",
        {
            "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(rng.choice(PART_WORDS, N_PART), rng.choice(PART_NOUNS, N_PART))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
            "p_type": pa.array(rng.choice(PART_TYPES, N_PART)),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": pa.array(retail),
        },
    )
    put(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), N_ORDERS)),
            "o_totalprice": pa.array(_unique_money(rng, 1_000, 500_000, N_ORDERS)),
            "o_orderdate": _dates(rng, "1995-01-01", 2_400, N_ORDERS),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, N_ORDERS)),
        },
    )
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    okeys = np.repeat(np.arange(N_ORDERS), lines)
    linenos = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    partkeys = rng.integers(0, N_PART, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put(
        "lineitem",
        {
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(partkeys, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
            "l_linenumber": pa.array(linenos, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * retail[partkeys], 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n_li)),
            "l_linestatus": pa.array(rng.choice(("F", "O"), n_li)),
            "l_shipdate": _dates(rng, "1995-01-02", 2_500, n_li),
        },
    )
    sizes["events"] = _write(os.path.join(out_dir, "events.parquet"), events_table(rng, N_EVENTS))
    return sizes


def write_corpus(seed: int, out_dir: str) -> dict[str, int]:
    """Write the ``documents`` and ``embeddings`` tables; returns bytes per table."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    vecs, labels = vectors(rng, cluster_centers(seed), N_VECS)
    return {
        "documents": _write(
            os.path.join(out_dir, "documents.parquet"),
            documents_table(rng, make_corpus(), np.arange(N_DOCS)),
        ),
        "embeddings": _write(
            os.path.join(out_dir, "embeddings.parquet"),
            embeddings_table(np.arange(N_VECS), vecs, labels),
        ),
    }


def event_batches(seed: int, out_dir: str, n_batches: int) -> list[tuple[str, int]]:
    """Micro-batch files for the ingest stream: (path, rows) per batch.

    Batches hold 1-2k rows in arrival order. A few events cross into the
    neighbouring batch, so ``ts`` is not monotone across batch
    boundaries, and a few event ids are re-sent in a later batch as
    exact duplicates, which the ingest fold must drop. ``ts`` is
    zone-aware UTC so the file stream reads it as a plain TIMESTAMP.
    """
    rng = np.random.default_rng([seed, 2])
    sizes = rng.integers(1_000, 2_001, n_batches)
    total = int(sizes.sum())
    ev = events_table(rng, total, first_id=STREAM_FIRST_EVENT_ID)
    ev = ev.set_column(1, "ts", ev["ts"].cast(pa.timestamp("us", tz="UTC")))
    batch = np.searchsorted(np.cumsum(sizes), np.arange(total), side="right")
    cross = rng.random(total) < STREAM_CROSS_FRAC
    batch = np.clip(batch + cross * rng.choice([-1, 1], total), 0, n_batches - 1)
    resent = np.flatnonzero(rng.random(total) < STREAM_RESEND_FRAC)
    resent_batch = np.minimum(batch[resent] + rng.integers(1, 4, len(resent)), n_batches - 1)
    rows = np.concatenate([np.arange(total), resent])
    where = np.concatenate([batch, resent_batch])
    os.makedirs(out_dir, exist_ok=True)
    out = []
    for b in range(n_batches):
        idx = rng.permutation(rows[where == b])
        path = os.path.join(out_dir, f"batch-{b:05d}.parquet")
        pq.write_table(ev.take(pa.array(idx)), path)
        out.append((path, len(idx)))
    return out


@dataclass
class RetrievalInputs:
    bm25_queries: list[str]
    ann_queries: np.ndarray
    writes: list[dict[str, str]]  # parquet path per part: upserts, vectors


def retrieval_inputs(seed: int, out_dir: str, n_writes: int, n_queries: int = 256) -> RetrievalInputs:
    """Query pools and index write batches for the serving workload.

    BM25 queries are one to three terms drawn Zipf-weighted from the
    corpus vocabulary, so both hot and rare postings are probed. ANN
    queries are held-out vectors from the corpus distribution. Each
    write batch is one change set: ``upserts`` holds new documents and
    new text for existing ones, ``vectors`` the new documents'
    embeddings (same ids). Replaced ids are disjoint slices of one
    permutation of the original ids.
    """
    rng = np.random.default_rng([seed, 3])
    corpus = make_corpus()
    queries = [corpus.text(rng, int(rng.integers(1, 4))) for _ in range(n_queries)]
    centers = cluster_centers(seed)
    ann_queries, _ = vectors(rng, centers, n_queries)
    if n_writes * WRITE_REPLACED_DOCS > N_DOCS:
        raise ValueError(f"{n_writes} writes exhaust the {N_DOCS}-document corpus")
    os.makedirs(out_dir, exist_ok=True)
    perm = rng.permutation(N_DOCS)
    writes = []
    for w in range(n_writes):
        new_ids = FIRST_NEW_DOC_ID + w * WRITE_NEW_DOCS + np.arange(WRITE_NEW_DOCS)
        replaced = perm[w * WRITE_REPLACED_DOCS : (w + 1) * WRITE_REPLACED_DOCS]
        vecs, _ = vectors(rng, centers, WRITE_NEW_DOCS)
        parts = {
            "upserts": documents_table(rng, corpus, np.concatenate([new_ids, replaced])).select(["doc_id", "text"]),
            "vectors": pa.table(
                {"vec_id": pa.array(new_ids, pa.int64()), "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}
            ),
        }
        paths = {}
        for part, table in parts.items():
            paths[part] = os.path.join(out_dir, f"write-{w:05d}-{part}.parquet")
            pq.write_table(table, paths[part])
        writes.append(paths)
    return RetrievalInputs(queries, ann_queries, writes)
