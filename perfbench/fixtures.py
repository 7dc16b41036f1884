"""Seeded inputs for the benchmark.

``write_tables`` writes the ten fixture-shaped Parquet tables that the
``__spark_entry__`` entries read (the schemas and value domains of the
read-only test fixtures, see FIXTURES.md), so the benchmark depends on
nothing outside its checkout.  ``write_batches`` writes the overlapping
key batches of the ``mergetree_ingest`` session.  The same seed always
gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "old", "new", "cold", "large"]
_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]
_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
_WORDS = ("a the data key value row column table part order line customer "
          "query scan filter join agg group sort merge hash window stream "
          "batch spark vector big small fast slow").split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.43, 0.145, 0.14, 0.14, 0.145]


def _days(rng, start: dt.date, n_days: int, size: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, n_days + 1, size).astype("timedelta64[D]")
    return pa.array((base + offs).astype("datetime64[us]"))


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, seed: int) -> int:
    """Write region … embeddings for scale factor ``sf``; returns bytes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part),
                                               rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2403, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_line)})

    month_us = 30 * 86_400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev)) \
        + np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts: list[str] = []
    for i in range(n_doc):
        if i and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the fixtures
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.5 and len(words) > 10:
                words = words[:-1]
            texts.append(" ".join(words + ["dup"]))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, n)))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32)})
    return dir_bytes(out_dir)


BATCH_COLUMNS = ("k", "ver", "grp", "v")


def write_batches(out_dir: str, n_batches: int, rows: int, key_space: int,
                  seed: int) -> list[str]:
    """Write ``n_batches`` Parquet batches of ``rows`` rows each.

    Keys are distinct within a batch and drawn from ``key_space``, so
    later batches overlap earlier ones.  Versions are distinct over the
    whole session, so ReplacingMergeTree(ver) FINAL has exactly one
    surviving row per key whatever the part layout."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    vers = rng.permutation(n_batches * rows).astype(np.int64) + 1
    paths = []
    for b in range(n_batches):
        path = os.path.join(out_dir, f"batch_{b}.parquet")
        pq.write_table(pa.table({
            "k": np.sort(rng.choice(key_space, rows, replace=False)
                         ).astype(np.int64),
            "ver": vers[b * rows:(b + 1) * rows],
            "grp": rng.choice(["g0", "g1", "g2", "g3"], rows),
            "v": rng.integers(-1000, 1000, rows).astype(np.int64),
        }), path)
        paths.append(path)
    return paths


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
