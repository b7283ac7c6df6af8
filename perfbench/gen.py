"""Seeded input generator for the benchmark workloads.

Writes the ten fixture tables the package reads (one parquet file per
table, the schema of the ``sf*`` fixtures) into an
output directory; ``curation_batch`` also gets an ANN corpus and its
query batches. The seed goes only here: the program under test sees
nothing but the files. Each workload scales the tables it stresses and
keeps the rest small, because ``semantics.ensure_views`` registers
every table and materializes the ``tasks``/``nests`` views derived from
``orders`` during set-up.

Run: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts per workload; unnamed tables use BASE_SIZES
BASE_SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 2000,
    "lineitem": 6000,
    "events": 5000,
    "documents": 500,
    "embeddings": 200,
}
WORKLOAD_SIZES = {
    # the task table: 20k items, ~0.25M exploded nests; one taskID slice
    # (1% of orders) runs ~500 nests through the engine
    "control_plane": {"orders": 20000, "customer": 2000},
    # the corpus one curation pass reads; the DuckDB oracles of the
    # n-gram stages are quadratic in it, and they run in every run
    "curation_batch": {"documents": 500, "embeddings": 1000},
}
WORKLOADS = tuple(WORKLOAD_SIZES)

DIM = 64
N_LABELS = 10
#: the ANN corpus (curation_batch): BASE_VECTORS vectors, each with
#: VECTOR_COPIES - 1 jittered copies, searched by ANN_QUERIES queries
BASE_VECTORS = 500
VECTOR_COPIES = 8
JITTER = 0.02
ANN_QUERIES = 64
#: share of curation documents that copy another verbatim / nearly
EXACT_DUP_RATE = 0.05
NEAR_DUP_RATE = 0.10

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
)
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _dims(rng, sizes) -> dict[str, pa.Table]:
    nc, ns, npart = sizes["customer"], sizes["supplier"], sizes["part"]
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": names}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": _keys(nc),
                "c_name": _names("Customer", nc),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
                "c_mktsegment": SEGMENTS[rng.integers(0, 5, nc)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": _keys(ns),
                "s_name": _names("Supplier", ns),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": _keys(npart),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (npart, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
                "p_type": PART_TYPES[rng.integers(0, 6, npart)],
                "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
            }
        ),
    }


def _orders(rng, sizes) -> dict[str, pa.Table]:
    n, nc, nl = sizes["orders"], sizes["customer"], sizes["lineitem"]
    orders = pa.table(
        {
            "o_orderkey": _keys(n),
            "o_custkey": pa.array(rng.integers(0, nc, n), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": _ts(
                _EPOCH_1995 + rng.integers(0, 2404, n) * _US_PER_DAY
            ),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
        }
    )
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, sizes["part"], nl), pa.int64()),
            "l_suppkey": pa.array(
                rng.integers(0, sizes["supplier"], nl), pa.int64()
            ),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, nl) * _US_PER_DAY),
        }
    )
    return {"orders": orders, "lineitem": lineitem}


def _events(rng, n: int) -> pa.Table:
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
    return pa.table(
        {
            "event_id": _keys(n),
            "ts": _ts(_EPOCH_2024 + ts),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(60.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents with a fixed share of exact copies and of
    near copies (one word replaced), picked by the seed."""
    texts = [
        " ".join(rng.choice(VOCAB, int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    n_exact, n_near = round(n * EXACT_DUP_RATE), round(n * NEAR_DUP_RATE)
    picks = rng.choice(np.arange(1, n), n_exact + n_near, replace=False)
    exact = set(picks[:n_exact].tolist())
    for i in sorted(picks.tolist()):
        src = texts[int(rng.integers(0, i))]
        if i in exact:
            texts[i] = src
        else:
            words = src.split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts[i] = " ".join(words)
    return pa.table(
        {
            "doc_id": _keys(n),
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), n)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _unit(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _embeddings(rng, n: int) -> tuple[pa.Table, np.ndarray]:
    """Unit vectors scattered around N_LABELS label centres."""
    centres = _unit(rng.normal(size=(N_LABELS, DIM)))
    labels = rng.integers(0, N_LABELS, n)
    vecs = _unit(centres[labels] + rng.normal(0.0, 0.12, (n, DIM)))
    return _embedding_table(np.arange(n), vecs, labels), vecs


def _embedding_table(ids, vecs: np.ndarray, labels) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, len(ids) * DIM + 1, DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.asarray(ids), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(np.asarray(labels), pa.int32()),
        }
    )


def _ann_inputs(rng) -> dict[str, pa.Table]:
    """The ANN corpus — BASE_VECTORS vectors, each followed by
    VECTOR_COPIES - 1 copies with Gaussian jitter: dense neighbourhoods,
    no repeated vector — and ANN_QUERIES queries, jittered corpus members."""
    table, base = _embeddings(rng, BASE_VECTORS)
    labels = np.tile(table["label"].to_numpy(), VECTOR_COPIES)
    copies = [base] + [
        base + rng.normal(0.0, JITTER, base.shape) for _ in range(VECTOR_COPIES - 1)
    ]
    vecs = np.concatenate(copies).astype(np.float32)
    picks = rng.choice(len(vecs), ANN_QUERIES, replace=False)
    queries = _unit(vecs[picks] + rng.normal(0.0, 2 * JITTER, (ANN_QUERIES, DIM)))
    return {
        "ann_corpus": _embedding_table(np.arange(len(vecs)), vecs, labels),
        "ann_queries": _embedding_table(np.arange(ANN_QUERIES), queries, labels[picks]),
    }


def generate(workload: str, seed: int, out_dir: str) -> dict[str, int]:
    """Write every table for ``workload`` under ``out_dir``; return the
    row count of each."""
    if workload not in WORKLOAD_SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    sizes = {**BASE_SIZES, **WORKLOAD_SIZES[workload]}
    tables = _dims(rng, sizes)
    tables.update(_orders(rng, sizes))
    tables["events"] = _events(rng, sizes["events"])
    tables["documents"] = _documents(rng, sizes["documents"])
    tables["embeddings"] = _embeddings(rng, sizes["embeddings"])[0]
    if workload == "curation_batch":
        tables.update(_ann_inputs(rng))
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, out / f"{name}.parquet")
    return {name: table.num_rows for name, table in tables.items()}


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
