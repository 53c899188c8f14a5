"""Seeded input generation.

Every file the benchmark feeds the program is derived from ``--seed`` here:
the star-schema tables the registry queries read (same schemas and value
domains as the repository's synthetic test data), the awards snapshot and
its geo dimensions, and the splits the index lifecycle works through.
Files are written with pyarrow from numpy-generated columns in a fixed row
order, so the same seed gives byte-identical files and a different seed
different ones.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table.  The benchmark runs at a fixed, small scale: on four cores
# a registry query's cost here is dominated by planning and scheduling, not
# by rows, and the whole run has to fit the harness's per-run time budget.
SCALE = {
    "customer": 600,
    "supplier": 60,
    "part": 800,
    "orders": 6000,
    "lineitem": 24000,
    "events": 6000,
    "documents": 600,
    "embeddings": 600,
}
EMBED_DIM = 64
N_NATIONS = 25
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_SOURCES = 20

MICROS_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01
EPOCH_2024 = 19723  # days from 1970-01-01 to 2024-01-01


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _ts(days: np.ndarray, micros: np.ndarray | int = 0) -> pa.Array:
    return pa.array(days.astype(np.int64) * MICROS_PER_DAY + micros, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def star_schema(rng: np.random.Generator, out: str) -> None:
    """The TPC-H-shaped tables plus events, documents and embeddings."""
    n = SCALE
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array(np.arange(N_NATIONS) % len(REGIONS), pa.int32()),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    }), f"{out}/supplier.parquet")
    keys = np.arange(n["part"], dtype=np.int64)
    _write(pa.table({
        "p_partkey": keys,
        "p_name": [
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 7, n["part"]), rng.integers(0, 7, n["part"]))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n["orders"])],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n["orders"])),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n["orders"])],
    }), f"{out}/orders.parquet")
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    _write(pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": _ts(EPOCH_1995 + 1 + rng.integers(0, 2497, m)),
    }), f"{out}/lineitem.parquet")
    e = n["events"]
    ts = np.sort(rng.integers(0, 30 * MICROS_PER_DAY, e))
    _write(pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(np.full(e, EPOCH_2024), ts),
        "user_id": rng.integers(0, max(1, e // 60), e),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, e)],
    }), f"{out}/events.parquet")
    _write(documents(rng, n["documents"]), f"{out}/documents.parquet")
    _write(embeddings(rng, n["embeddings"]), f"{out}/embeddings.parquet")


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Documents of random vocabulary words: about 5% are near-duplicates
    (an earlier document plus one word) and 1% exact copies, so every
    dedup tier has something to find."""
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(_text(rng, int(rng.integers(8, 100))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, n: int, clusters: int = 24) -> pa.Table:
    """Unit vectors around seeded cluster centres, so nearest neighbours are
    meaningful and an IVF index's recall can be checked against a floor."""
    centres = rng.standard_normal((clusters, EMBED_DIM))
    vec = centres[rng.integers(0, clusters, n)] + 0.35 * rng.standard_normal((n, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def geo_tables(rng: np.random.Generator, awards: pa.Table, out: str) -> None:
    """Recipient and sub-agency geo dimensions.  As in the reference, the
    geocoded keys are a strict subset of the fact's keys, so the rollup's
    inner join drops the non-geocoded awards."""
    for col in ("recipient_name", "awarding_sub_agency"):
        keys = sorted(set(awards.column(col).to_pylist()))
        keep = sorted(rng.choice(len(keys), size=max(1, int(len(keys) * 0.8)), replace=False))
        _write(pa.table({
            col: [keys[i] for i in keep],
            "latitude": np.round(rng.uniform(-60.0, 70.0, len(keep)), 6),
            "longitude": np.round(rng.uniform(-180.0, 180.0, len(keep)), 6),
        }), f"{out}/geo_{col}.parquet")


def lifecycle_splits(rng: np.random.Generator, sf: str, out: str) -> dict:
    """Seeded splits for the index lifecycle.  ANN: 80% build, 20%
    streamed landing batch, 5% of the live ids removed, one probe vector
    near a live one.  Winnow: 75% build, 25% add, 5% of the live ids
    removed."""
    emb = pq.read_table(f"{sf}/embeddings.parquet")
    order = rng.permutation(emb.num_rows)
    a = int(emb.num_rows * 0.8)
    parts = {"ann_build": order[:a], "ann_landing": order[a:]}
    os.makedirs(f"{out}/ann_landing")
    for name, idx in parts.items():
        path = f"{out}/ann_landing/part-0.parquet" if name == "ann_landing" else f"{out}/{name}.parquet"
        _write(emb.take(np.sort(idx)), path)
    vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
    probe = vecs[order[0]] + 0.2 * rng.standard_normal(EMBED_DIM)
    info = {
        "rows": {name: int(len(idx)) for name, idx in parts.items()},
        "ann_removed": sorted(int(i) for i in rng.choice(order, size=emb.num_rows // 20, replace=False)),
        "ann_probe": [float(x) for x in probe / np.linalg.norm(probe)],
    }
    docs = pq.read_table(f"{sf}/documents.parquet").select(["doc_id", "text"])
    order = rng.permutation(docs.num_rows)
    a = int(docs.num_rows * 0.75)
    for name, idx in (("win_build", order[:a]), ("win_add", order[a:])):
        _write(docs.take(np.sort(idx)), f"{out}/{name}.parquet")
    info["rows"] |= {"win_build": a, "win_add": docs.num_rows - a}
    info["win_removed"] = sorted(int(i) for i in rng.choice(order, size=docs.num_rows // 20, replace=False))
    return info
