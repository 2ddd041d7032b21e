"""Seeded inputs for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_tables(seed, scale, out_dir)`` writes the ten parquet tables
  the queries read (region, nation, customer, supplier, part, orders,
  lineitem, events, documents, embeddings). Schema, column types and
  value ranges follow the engine's test corpora: uniform TPC-H-like
  keys and measures, a time-ordered event stream, documents over a
  30-word vocabulary with ~5% near-duplicates (`text + " dup"`), and
  unit-norm 64-d embeddings in 10 labelled clusters. ``scale`` plays
  the role of the TPC-H scale factor (0.01 -> 60k lineitem rows).
  Each table is one parquet row group, as in the test corpora.
* ``zipf_lines(seed, n_bytes)`` returns a line file of Zipf-distributed
  words over a fixed vocabulary and its exact word counts, the input
  of the MapleJuice job.

The same seed gives byte-identical files; the benchmark's test checks
this.
"""

from __future__ import annotations

import collections
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_DAY = np.datetime64("1970-01-01", "D")
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window").split()
_LANGS = ["en", "zh", "de", "es", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_P_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
_P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "rod",
           "anvil"]
_P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = (np.datetime64(lo, "D") - _EPOCH_DAY).astype(int)
    b = (np.datetime64(hi, "D") - _EPOCH_DAY).astype(int)
    d = rng.integers(a, b + 1, n)
    return (d.astype("int64") * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)]


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at ``scale`` (see module doc)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(5, int(10_000 * scale))
    n_part = max(10, int(200_000 * scale))
    n_ord = max(20, int(1_500_000 * scale))
    n_line = max(80, int(6_000_000 * scale))
    n_evt = max(100, int(1_000_000 * scale))
    n_user = max(5, int(15_000 * scale))
    n_doc = max(20, int(50_000 * scale))
    n_vec = max(40, int(2_000 * (scale / 0.1) ** 0.6))
    i32, i64 = pa.int32(), pa.int64()

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in zip(
                rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in
                        rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, _P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(
                900 + (np.arange(n_part) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(float),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["O", "F"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)}),
    }

    # events: one time-ordered stream over 30 days
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_evt))
    ts = (np.datetime64("2024-01-01", "us") + ts).astype("datetime64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n_evt),
        "value": np.maximum(np.round(rng.exponential(50, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    # documents: ~5% are a random document's text plus " dup"
    lens = rng.integers(10, 91, n_doc)
    words = np.asarray(_DOC_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    # embeddings: 10 labelled clusters on the unit sphere
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vec)
    vec = centers[label] + rng.normal(scale=1.5, size=(n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(
        np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, i32)})
    return out


def write_tables(seed: int, scale: float, out_dir: str) -> str:
    """Write ``tables(seed, scale)`` as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=len(tbl) or 1)
    return out_dir


def zipf_lines(seed: int, n_bytes: int, vocab: int = 400,
               s: float = 1.1) -> tuple[bytes, dict[str, int]]:
    """A line file of about ``n_bytes`` of Zipf(``s``) words over a fixed
    ``vocab``-word vocabulary, and its exact word counts. The seed draws
    the text; the vocabulary and its frequency ranks stay the same, so
    every seed spreads the same keys over the shuffle partitions."""
    syll = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    names = [syll[i // len(syll)] + syll[i % len(syll)] + syll[i % 7]
             for i in range(vocab)]
    rng = np.random.default_rng([seed, 2])
    p = 1.0 / np.arange(1, vocab + 1) ** s
    n_words = max(1, n_bytes // 7)
    ids = rng.choice(vocab, n_words, p=p / p.sum())
    per_line = rng.integers(1, 24, n_words // 6 + 1)
    arr = np.asarray(names, dtype=object)[ids]
    cuts = np.cumsum(per_line)
    cuts = cuts[cuts < n_words]
    lines = [" ".join(chunk) for chunk in np.split(arr, cuts)]
    counts = collections.Counter(arr.tolist())
    return ("\n".join(lines) + "\n").encode(), dict(counts)
