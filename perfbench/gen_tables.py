"""Seeded generator for the query_mix input tables.

Writes one parquet file per table (`<dir>/<table>.parquet`), with the
column names and arrow types the registered query entries read. Row
counts follow the TPC-H scale factor `sf`: at sf 0.1 that is 600,000
lineitem rows, 20,000 parts, 1,000 suppliers, 5,000 documents and 2,000
embeddings. Only the tables the query_mix entries read are written.

Values are drawn from numpy's PCG64 stream seeded with `seed`, so the
same seed gives the same tables. Documents include near-duplicate and
exact-duplicate texts, and embeddings include near-duplicate vectors, so
the dedup and similarity entries have real work to do.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMBEDDING_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
WORDS = ("a the data spark table row column value key query join filter "
         "group agg sort scan hash merge window stream batch line part order "
         "customer vector fast slow big small").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["large", "hot", "blue", "red", "green", "small", "shiny", "cold"]
PART_NOUN = ["ring", "bolt", "nut", "screw", "gear", "pipe", "valve", "plate"]

DAY_US = 86_400_000_000
SHIP_FIRST = np.datetime64("1995-01-02", "us").astype(np.int64)
SHIP_DAYS = 2498  # through 2001-11-04


def _write(out_dir, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n):
    n_chars = rng.integers(44, 578, n)
    texts = []
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < 0.002:  # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)])
            continue
        if i > 0 and roll < 0.05:  # near duplicate: a few words replaced
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), rng.integers(1, 4)):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(words))
            continue
        words = [WORDS[k] for k in rng.integers(0, len(WORDS), 110)]
        texts.append(" ".join(words)[: n_chars[i]].rstrip())
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n):
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0, 1, (10, EMBEDDING_DIM))
    vecs = centroids[labels] * 0.6 + rng.normal(0, 1, (n, EMBEDDING_DIM))
    dups = np.nonzero(rng.random(n) < 0.03)[0]
    for i in dups[dups > 0]:  # near duplicate of an earlier vector
        src = rng.integers(0, i)
        vecs[i] = vecs[src] + rng.normal(0, 0.01, EMBEDDING_DIM)
        labels[i] = labels[src]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBEDDING_DIM + 1, EMBEDDING_DIM), pa.int32())
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    }


def generate(out_dir, seed, sf):
    """Write the query_mix tables for `seed` at scale factor `sf` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    orders = round(1_500_000 * sf)
    parts = round(200_000 * sf)
    suppliers = round(10_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(suppliers), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(suppliers)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers), pa.int32()),
        "s_acctbal": pa.array(rng.integers(-99_999, 999_999, suppliers) / 100, pa.float64()),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(parts), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            rng.integers(0, 8, (parts, 2))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, parts)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, parts), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": pa.array(900 + (np.arange(parts) % 1000) / 10, pa.float64()),
    })
    n = round(6_000_000 * sf)
    ship_days = rng.integers(0, SHIP_DAYS + 1, n)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, suppliers, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(rng.integers(90_000, 10_500_000, n) / 100, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n), pa.string()),
        "l_shipdate": pa.array(SHIP_FIRST + ship_days * DAY_US, pa.timestamp("us")),
    })
    _write(out_dir, "documents", _documents(rng, round(50_000 * sf)))
    _write(out_dir, "embeddings", _embeddings(rng, round(20_000 * sf)))
