"""Seeded input generator for the benchmark.

Writes the ten fixture tables the query registry reads (the TPC-H-like star
schema, ``events``, ``documents`` and ``embeddings``) as one parquet file each,
with the column names, physical types and value domains of the repository's
reference fixtures. Every value is drawn from ``numpy.random.default_rng(seed)``,
so one seed always gives byte-identical files.

The reference fixtures (sf0.01 and sf0.1) store every date and timestamp,
``events.ts`` included, as parquet INT64 timestamp[us] with
isAdjustedToUTC=false, and so does this generator. Their documents are drawn
the way ``_documents`` draws them: 10-99 words each (mean 54, quartiles
32/54/76 at sf0.1), each word uniform over the 30 words of ``VOCAB`` (every
word 3.2-3.4% of the 270,704 sf0.1 tokens), and 5% of documents are a copy of
another plus `` dup`` (255 of 5,000 at sf0.1). Their embeddings are unit
Gaussian vectors of 64 floats with labels 0-9. At 5,000 documents both the
sf0.1 fixture and a seeded draw put ~280-310 documents in one SimHash band
bucket and have ~280-310 pairs within Hamming distance 3.

``replicas`` > 1 adds seeded copies of ``documents`` and ``embeddings`` the way
``bench/stress.py`` scales the corpus: copy ``c`` shifts the ids by
``c * n``, substitutes a few words of each text and adds noise to each
vector, so copies are near-duplicates of their originals and of each other.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from workloads import Sizes

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DIM = 64
DUP_SHARE = 0.05  # share of documents that are a copy of another one + " dup"

_TS_US = pa.timestamp("us")
_EPOCH = dt.datetime(1970, 1, 1)


def _days(rng, start: dt.datetime, n_days: int, n: int) -> pa.Array:
    base = int((start - _EPOCH).total_seconds() * 1_000_000)
    us = base + rng.integers(0, n_days, n) * 86_400_000_000
    return pa.array(us, type=pa.int64()).cast(_TS_US)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int, replicas: int) -> pa.Table:
    texts = [
        " ".join(np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), k)])
        for k in rng.integers(10, 100, n)
    ]
    for i in np.flatnonzero(rng.random(n) < DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]
    ids, all_texts, all_langs = [], [], []
    for c in range(replicas):
        ids.append(np.arange(n, dtype=np.int64) + c * n)
        all_langs.append(langs)
        if c == 0:
            all_texts.extend(texts)
            continue
        for t in texts:
            words = t.split()
            swap = rng.random(len(words)) < 0.05
            for j in np.flatnonzero(swap):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            all_texts.append(" ".join(words) + f" copytok{c}")
    doc_ids = np.concatenate(ids)
    return pa.table(
        {
            "doc_id": pa.array(doc_ids),
            "text": pa.array(all_texts),
            "lang": pa.array(np.concatenate(all_langs)),
            "source": pa.array([f"src{i % 20}" for i in doc_ids]),
            "n_chars": pa.array([len(t) for t in all_texts], type=pa.int64()),
        }
    )


def _unit(x: np.ndarray) -> np.ndarray:
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def _embeddings(rng, n: int, replicas: int) -> pa.Table:
    base = rng.standard_normal((n, DIM))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = [_unit(base)]
    for _ in range(1, replicas):
        vecs.append(_unit(base + 0.05 * rng.standard_normal((n, DIM))))
    flat = np.concatenate(vecs)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(flat.ravel()), DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n * replicas, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(np.tile(labels, replicas)),
        }
    )


def tables(sizes: Sizes, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory; the same ``seed`` gives the same values."""
    rng = np.random.default_rng(seed)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    nc, ns, npart, no = sizes.customers, sizes.suppliers, sizes.parts, sizes.orders
    nl, ne = 4 * no, sizes.events
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": _keys(nc),
                "c_name": _names("Customer", nc),
                "c_nationkey": i32(rng.integers(0, 25, nc)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
                "c_mktsegment": _pick(rng, SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": _keys(ns),
                "s_name": _names("Supplier", ns),
                "s_nationkey": i32(rng.integers(0, 25, ns)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": _keys(npart),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
                "p_type": _pick(rng, PART_TYPES, npart),
                "p_size": i32(rng.integers(1, 51, npart)),
                "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": _keys(no),
                "o_custkey": i64(rng.integers(0, nc, no)),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
                "o_totalprice": pa.array(_money(rng, 1000, 500000, no)),
                "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), 2404, no),
                "o_orderpriority": _pick(rng, PRIORITIES, no),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, no, nl)),
                "l_partkey": i64(rng.integers(0, npart, nl)),
                "l_suppkey": i64(rng.integers(0, ns, nl)),
                "l_linenumber": i32(rng.integers(1, 8, nl)),
                "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900, 105000, nl)),
                "l_discount": pa.array(np.round(rng.uniform(0, 0.1, nl), 2)),
                "l_tax": pa.array(np.round(rng.uniform(0, 0.08, nl), 2)),
                "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
                "l_linestatus": _pick(rng, ["F", "O"], nl),
                "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), 2499, nl),
            }
        ),
        "events": pa.table(
            {
                "event_id": _keys(ne),
                "ts": pa.array(
                    np.sort(
                        int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1e6)
                        + rng.integers(0, 30 * 86_400_000_000, ne)
                    ),
                    type=pa.int64(),
                ).cast(_TS_US),
                "user_id": i64(rng.integers(0, max(1, nc // 10), ne)),
                "event_type": _pick(rng, EVENT_TYPES, ne),
                "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, ne), 2))),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
            }
        ),
        "documents": _documents(rng, sizes.documents, sizes.replicas),
        "embeddings": _embeddings(rng, sizes.embeddings, sizes.replicas),
    }
    return out


def write(out_dir: str, sizes: Sizes, seed: int) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sizes, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
