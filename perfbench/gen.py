"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical inputs.  Tables follow the schema of the engine's
TPC-H-ish star schema plus the ``events``/``documents``/``embeddings``
tables, so every operator and its DuckDB oracle run unchanged on them.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "green", "large", "steel", "black"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "valve", "pipe", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("a the data spark table row column key value query join agg group "
         "sort filter scan hash merge batch stream window order line part "
         "customer vector small big fast slow").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.46, 0.14, 0.14, 0.12, 0.14]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _write(out_dir: str, name: str, cols: dict) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    return start + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _docs(rng, n: int, dup_share: float):
    """Bag-of-words documents; ``dup_share`` of them are near duplicates
    (an earlier document's text with a one-word suffix)."""
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    n_dup = int(n * dup_share)
    dup_at = rng.choice(np.arange(1, n), size=min(n_dup, n - 1), replace=False)
    for i in dup_at:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    }


def _embeddings(rng, n: int, dim: int = 64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


@dataclass(frozen=True)
class TableSizes:
    """Row counts of one generated table set."""
    sf: float
    docs: int
    embeddings: int
    dup_share: float = 0.05

    @property
    def lineitem(self) -> int:
        return int(6_000_000 * self.sf)

    @property
    def events(self) -> int:
        return int(1_000_000 * self.sf)


def write_tables(out_dir: str, seed: int, sizes: TableSizes) -> dict:
    """Write all ten tables; returns {table: rows} plus total bytes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    sf = sizes.sf
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = sizes.lineitem, sizes.events
    n_users = max(10, int(15_000 * sf))
    rows = {}
    nbytes = 0

    nbytes += _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    nbytes += _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nbytes += _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    nbytes += _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    adj = rng.choice(PART_ADJ, n_part)
    noun = rng.choice(PART_NOUN, n_part)
    nbytes += _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{k}"
                             for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1))})
    nbytes += _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": pa.array(_days(rng, _EPOCH_1995, 2404, n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    nbytes += _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(
            _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2498, n_line))})
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    nbytes += _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.maximum(0.01, np.round(
            rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, n_ev)])})
    nbytes += _write(out_dir, "documents",
                     _docs(rng, sizes.docs, sizes.dup_share))
    nbytes += _write(out_dir, "embeddings",
                     _embeddings(rng, sizes.embeddings))
    rows.update(customer=n_cust, supplier=n_supp, part=n_part, orders=n_ord,
                lineitem=n_line, events=n_ev, documents=sizes.docs,
                embeddings=sizes.embeddings)
    rows["bytes"] = nbytes
    return rows


@dataclass(frozen=True)
class CrawlTruth:
    """Ground truth the crawl result is checked against."""
    n_files: int
    n_corrupt: int
    data_sum: int


def write_crawl_tree(root: str, seed: int, n_files: int,
                     corrupt_share: float = 0.02) -> CrawlTruth:
    """Nested tree of one-object JSON files ``{"data": k}`` (the
    reference's data model).  A seeded share of files is corrupt and
    contributes the neutral element (0)."""
    rng = np.random.default_rng(seed)
    n_dirs = max(1, n_files // 40)
    # Depth 1-2 below the root, so listing is a multi-level walk.
    depths = rng.integers(1, 3, n_dirs)
    dirs = [os.path.join(root, *[f"d{i}_{lvl}" for lvl in range(d)])
            for i, d in enumerate(depths)]
    for d in dirs:
        os.makedirs(d, exist_ok=True)
    owner = rng.integers(0, n_dirs, n_files)
    values = rng.integers(-1000, 100_000, n_files)
    corrupt = rng.random(n_files) < corrupt_share
    for i in range(n_files):
        with open(os.path.join(dirs[owner[i]], f"f{i}.json"), "w") as fh:
            if corrupt[i]:
                fh.write('{"data": ' + str(int(values[i])) + ', oops')
            else:
                json.dump({"data": int(values[i])}, fh)
    return CrawlTruth(n_files=n_files, n_corrupt=int(corrupt.sum()),
                      data_sum=int(values[~corrupt].sum()))
