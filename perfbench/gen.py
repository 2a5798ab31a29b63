"""Seeded input generators. Everything here runs before timing starts;
the library under test only ever sees the files written here."""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTRIB_SCHEMA = "user_id string, key string, value double, seq long"
SEAL_KEY = bytes(range(32))

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
LANGS = (["en"] * 44) + (["es"] * 15) + (["zh"] * 15) + (["de"] * 14) + (["fr"] * 12)


def write_contributions(seed: int, dst: str, records: int, keys: int, c: int, epochs: int) -> dict:
    """The DP-SQLP §5.1 workload (dp.zipf), one parquet file per epoch so
    the keyed pipeline's maxFilesPerTrigger=1 source maps file == epoch.
    The generator runs over enough users and is cut to exactly
    ``records`` rows (users are contiguous, so every user stays within
    the budget clip to C), which keeps the input size the same for
    every seed. Returns the input size and the exact per-key sums the
    zero-noise release must reproduce (value 1.0 per row)."""
    from confidential_storm_spark.dp.zipf import generate_benchmark_contributions

    user, key, epoch = generate_benchmark_contributions(records, keys, c, epochs, seed=seed)
    user, key, epoch = user[:records], key[:records], epoch[:records]
    os.makedirs(dst, exist_ok=True)
    rows_per_epoch = []
    for e in range(epochs):
        m = epoch == e
        n = int(m.sum())
        rows_per_epoch.append(n)
        pq.write_table(
            pa.table({
                "user_id": pa.array([f"u{u}" for u in user[m]]),
                "key": pa.array([f"k{k}" for k in key[m]]),
                "value": pa.array(np.ones(n)),
                "seq": pa.array(np.arange(n, dtype=np.int64)),
            }),
            os.path.join(dst, f"part-{e:05d}.parquet"),
        )
    ks, counts = np.unique(key, return_counts=True)
    return {
        "records": int(len(user)),
        "rows_per_epoch": rows_per_epoch,
        "epochs": epochs,
        "users": int(len(np.unique(user))),
        "keys": int(len(ks)),
        "mb": _dir_mb(dst),
        "expected": {f"k{k}": int(n) for k, n in zip(ks, counts)},
    }


def _dir_mb(path: str) -> float:
    return sum(e.stat().st_size for e in os.scandir(path) if e.is_file()) / 1e6


def _docs(rng: np.random.Generator, n: int, dup_share: float = 0.05) -> list[str]:
    texts: list[str] = []
    for i in range(n):
        if i and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    return texts


SEALED_SCHEMA = "user_id string, envelope struct<aad:string, nonce:binary, ciphertext:binary>"


def write_sealed_documents(seed: int, dst: str, docs: int, users: int, c: int) -> dict:
    """AES-GCM-sealed documents (the envelope layout functions.envelope
    opens: aad, 12-byte nonce, ciphertext||tag), sealed here with
    cryptography's AESGCM so the open path is checked against an
    independent implementation. Users get about two documents each, so
    some stay under the word budget ``c`` and some exceed it. Returns
    the input size, the exact bounded total sum_u min(c, n_u) and each
    word's unbounded count."""
    from cryptography.hazmat.primitives.ciphers.aead import AESGCM

    rng = np.random.default_rng(seed)
    aes = AESGCM(SEAL_KEY)
    texts = _docs(rng, docs, dup_share=0.0)
    user_ids = [f"u{u}" for u in rng.integers(0, users, docs)]
    aads = [json.dumps({"seq": i, "source": "docs"}) for i in range(docs)]
    nonces = [rng.bytes(12) for _ in range(docs)]
    cts = [aes.encrypt(n, t.encode(), a.encode()) for n, t, a in zip(nonces, texts, aads)]
    os.makedirs(dst, exist_ok=True)
    env = pa.StructArray.from_arrays(
        [pa.array(aads), pa.array(nonces, pa.binary()), pa.array(cts, pa.binary())],
        ["aad", "nonce", "ciphertext"],
    )
    pq.write_table(pa.table({"user_id": user_ids, "envelope": env}), os.path.join(dst, "part-00000.parquet"))
    per_user: dict[str, int] = {}
    per_word: dict[str, int] = {}
    for u, t in zip(user_ids, texts):
        ws = t.split()
        per_user[u] = per_user.get(u, 0) + len(ws)
        for w in ws:
            per_word[w] = per_word.get(w, 0) + 1
    return {
        "docs": docs,
        "users": len(per_user),
        "users_over_c": sum(n > c for n in per_user.values()),
        "words": sum(per_user.values()),
        "bounded_words": sum(min(c, n) for n in per_user.values()),
        "mb": _dir_mb(dst),
        "word_counts": per_word,
    }


def _days(rng, n, start: str, span_days: int):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def write_tables(seed: int, dst: str) -> dict:
    """The registry's star schema plus events/documents/embeddings at
    sf0.01, with the row counts, column types and value domains of the
    sf0.01 test tables."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_line = 1_500, 100, 2_000, 15_000, 60_000
    n_ev, n_docs, n_emb = 10_000, 500, 500
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ["small", "red", "blue", "hot", "old", "large", "new"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, n_part), rng.choice(noun, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    odate = _days(rng, n_ord, "1995-01-01", 2404)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lok = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(odate[lok] + rng.integers(1, 122, n_line).astype("timedelta64[D]"), pa.timestamp("us")),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.round(np.maximum(rng.exponential(50.0, n_ev), 0.01), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    texts = _docs(rng, n_docs)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] * 0.15 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    os.makedirs(dst, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))
    return {"rows": {k: v.num_rows for k, v in t.items()}, "mb": _dir_mb(dst)}
