"""Seeded input generation for the benchmark workloads.

Everything the engine reads is generated here from the workload seed and
written as parquet under the run's work directory: the fixture-schema
tables (same column names and types as the fixture tables of FIXTURES.md, so
``tables.load`` and the registry builders read them unchanged) and the
serve_mix operation stream. The same seed always gives the same inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window index search dump shard plan cache rank token"
).split()
LANGS = ("de", "en", "es", "fr", "zh")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget")
ADJS = ("blue", "hot", "large", "new", "old", "red", "small")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01 in microseconds
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 in microseconds
DAY_US = 86_400_000_000


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def vectors(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    """Gaussian float32 vectors scaled to roughly unit norm."""
    return (rng.standard_normal((n, dim)) / np.sqrt(dim)).astype(np.float32)


def doc_texts(rng: np.random.Generator, n: int) -> list[str]:
    """Word-soup documents. Every 10th doc copies a 12-word span from an
    earlier doc and every 25th is a light edit of one, so the dedup rows
    find real span and near-duplicate pairs."""
    vocab = np.array(VOCAB)
    words = [list(vocab[rng.integers(0, len(vocab), rng.integers(8, 90))]) for _ in range(n)]
    for i in range(10, n, 10):
        src = words[int(rng.integers(0, i))]
        if len(src) >= 12:
            s = int(rng.integers(0, len(src) - 11))
            at = int(rng.integers(0, len(words[i]) + 1))
            words[i][at:at] = src[s : s + 12]
    for i in range(25, n, 25):
        edited = list(words[int(rng.integers(0, i))])
        edited[int(rng.integers(0, len(edited)))] = str(vocab[rng.integers(0, len(vocab))])
        words[i] = edited
    return [" ".join(w) for w in words]


def write_docs(dir_: str, rng: np.random.Generator, n: int, dim: int) -> tuple[np.ndarray, list[str]]:
    """The vector-side fixture tables: embeddings (vec_id, embedding,
    label) and documents (doc_id, text, lang, source, n_chars), joined 1:1
    on id. Returns the vectors and texts for the benchmark's own model."""
    ids = np.arange(n, dtype=np.int64)
    vecs = vectors(rng, n, dim)
    texts = doc_texts(rng, n)
    _write(
        os.path.join(dir_, "embeddings.parquet"),
        {
            "vec_id": ids,
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32),
        },
    )
    _write(
        os.path.join(dir_, "documents.parquet"),
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
    )
    return vecs, texts


def write_fixture(dir_: str, seed: int, sf: float) -> None:
    """All ten fixture tables at scale factor ``sf`` (lineitem has
    6,000,000·sf rows, as in the fixture of FIXTURES.md)."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    _write(os.path.join(dir_, "region.parquet"),
           {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)})
    _write(os.path.join(dir_, "nation.parquet"), {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(os.path.join(dir_, "customer.parquet"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(os.path.join(dir_, "supplier.parquet"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999, 9999, n_supp),
    })
    _write(os.path.join(dir_, "part.parquet"), {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 7, n_part), rng.integers(0, 7, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    _write(os.path.join(dir_, "orders.parquet"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2400, n_ord) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    _write(os.path.join(dir_, "lineitem.parquet"), {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995_US + rng.integers(0, 2500, n_li) * DAY_US),
    })
    n_users = max(150, n_ev // 65)
    _write(os.path.join(dir_, "events.parquet"), {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.gamma(2.0, 40.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    write_docs(dir_, rng, max(n_docs, n_vecs), 64)
    if n_docs != n_vecs:
        # documents and embeddings have their own row counts in the fixture
        t = pq.read_table(os.path.join(dir_, "embeddings.parquet")).slice(0, n_vecs)
        pq.write_table(t, os.path.join(dir_, "embeddings.parquet"))
        t = pq.read_table(os.path.join(dir_, "documents.parquet")).slice(0, n_docs)
        pq.write_table(t, os.path.join(dir_, "documents.parquet"))


# -- serve_mix operation stream ------------------------------------------


@dataclass
class Op:
    kind: str  # search | index | update | delete | status
    ids: np.ndarray = field(default_factory=lambda: np.empty(0, np.int64))
    vecs: np.ndarray | None = None  # query or write vectors
    texts: list[str] | None = None  # index payloads


BATCH_SIZES = (1, 8, 64)


def serve_stream(
    rng: np.random.Generator, base: np.ndarray, n_ops: int, noise: float = 0.05
) -> list[Op]:
    """The serve_mix operation stream over a corpus whose live vectors
    start as ``base`` (ids 0..n-1). Searches cycle batch sizes 1, 8, 64
    with query vectors = live corpus vectors plus seeded noise. After every
    fifth search comes one write, rotating index (32 docs: 16 new ids,
    16 re-embedded live ids), update (16 live ids) and delete (8 live
    ids); every seventh op is a status() call. The stream is simulated
    here so every write names ids that are live at that point."""
    dim = base.shape[1]
    live = list(range(len(base)))
    live_vec = {i: base[i] for i in live}
    next_id = len(base)
    ops: list[Op] = []
    n_search = n_write = 0
    while len(ops) < n_ops:
        if len(ops) % 7 == 6:
            ops.append(Op("status"))
            continue
        if n_search and n_search % 5 == 0 and n_write < n_search // 5:
            kind = ("index", "update", "delete")[n_write % 3]
            n_write += 1
            if kind == "index":
                old = rng.choice(live, 16, replace=False)
                new = np.arange(next_id, next_id + 16)
                next_id += 16
                ids = np.concatenate([new, old]).astype(np.int64)
                vecs = vectors(rng, 32, dim)
                texts = doc_texts(rng, 32)
                live.extend(int(i) for i in new)
            elif kind == "update":
                ids = rng.choice(live, 16, replace=False).astype(np.int64)
                vecs = vectors(rng, 16, dim)
                texts = None
            else:
                ids = rng.choice(live, 8, replace=False).astype(np.int64)
                vecs, texts = None, None
                gone = set(int(i) for i in ids)
                live = [i for i in live if i not in gone]
            if vecs is not None:
                live_vec.update({int(i): v for i, v in zip(ids, vecs)})
            ops.append(Op(kind, ids, vecs, texts))
            continue
        b = BATCH_SIZES[n_search % len(BATCH_SIZES)]
        n_search += 1
        src = rng.choice(live, b, replace=False)
        q = np.stack([live_vec[int(i)] for i in src])
        q = (q + noise * rng.standard_normal(q.shape) / np.sqrt(dim)).astype(np.float32)
        ops.append(Op("search", np.arange(b, dtype=np.int64), q))
    return ops
