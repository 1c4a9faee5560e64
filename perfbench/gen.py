"""Seeded inputs and their oracles.

Everything the engine reads in a benchmark run is written here from
``--seed``: the same seed gives byte-identical files, and ``digest``
hashes them so two runs can be shown to read the same bytes.

- ``corpus``: a Zipf text corpus in several files plus the expected
  ``word count`` lines, counted in pure Python.
- ``change_batches``: ``(word, cnt)`` change batches for the upsert
  sink plus the keep-last map the sink must hold at the end.
- ``tables``: a small TPC-H-like star schema with ``events``,
  ``documents`` and ``embeddings``, in the column names and types the
  registry queries read.
"""

from __future__ import annotations

import collections
import datetime as dt
import hashlib
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choices(LETTERS, k=rng.randint(2, 10))))
    out = sorted(words)
    rng.shuffle(out)
    return out


def corpus(root: str, seed: int, mib: float, n_files: int = 8,
           vocab: int = 30_000) -> tuple[list[str], str]:
    """Write ``n_files`` text files of Zipf(1.1) words, about ``mib``
    MiB in total. Returns the paths and the expected sorted
    ``word count`` lines the CLI must print."""
    rng = random.Random(seed)
    words = _vocab(rng, vocab)
    cum = np.cumsum(1.0 / np.arange(1, vocab + 1) ** 1.1)
    cum /= cum[-1]
    nprng = np.random.default_rng(seed)
    per_file = int(mib * 1024 * 1024 / n_files)
    counts: collections.Counter = collections.Counter()
    paths = []
    for f in range(n_files):
        lines, size = [], 0
        while size < per_file:
            idx = np.searchsorted(cum, nprng.random(4096))
            toks = [words[i] for i in idx]
            counts.update(toks)
            for i in range(0, len(toks), 12):
                # punctuation is a separator for the tokenizer, as
                # in real text
                line = " ".join(toks[i:i + 12]) + (".\n" if i % 24 else "\n")
                lines.append(line)
                size += len(line)
        path = os.path.join(root, f"part-{f}.txt")
        with open(path, "w", encoding="ascii") as fh:
            fh.write("".join(lines))
        paths.append(path)
    expected = "".join(f"{w} {c}\n" for w, c in sorted(counts.items()))
    return paths, expected


def change_batches(seed: int, n_batches: int, batch_rows: int):
    """``n_batches`` lists of ``(word, cnt)`` rows with distinct words
    per batch. After the first, half of each batch is new keys and the
    rest rewrites keys an earlier batch wrote. Returns the batches and
    the keep-last map ``{word: cnt}``."""
    rng = random.Random(seed)
    vocab = _vocab(rng, n_batches * batch_rows // 2 + batch_rows)
    batches, seen, final = [], [], {}
    fresh = iter(vocab)
    for b in range(n_batches):
        n_new = batch_rows if b == 0 else batch_rows // 2
        keys = [next(fresh) for _ in range(n_new)]
        keys += rng.sample(seen, batch_rows - n_new)
        seen.extend(keys[:n_new])
        rows = [(k, rng.randint(1, 10**6)) for k in keys]
        final.update(rows)
        batches.append(rows)
    return batches, final


# ----------------------------------------------------------- tables

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
         "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark "
    "stream table the value vector window"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (seconds * 1_000_000).astype("int64")
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(base + us, pa.timestamp("us"))


def _day_ts(start: dt.datetime, days: np.ndarray) -> pa.Array:
    return _ts(start, days.astype("int64") * 86_400)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(root: str, seed: int, sf: float) -> str:
    """Write the ten tables at scale ``sf`` (sf 0.01 is 60k lineitems)
    into ``root`` and return it."""
    g = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    t = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(g, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in g.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(g, -999.99, 9999.99, n_supp),
    }
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
        "p_type": [_TYPES[i] for i in g.integers(0, 6, n_part)],
        "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    }
    order_day = g.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in g.integers(0, 3, n_ord)],
        "o_totalprice": _money(g, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _day_ts(dt.datetime(1995, 1, 1), order_day),
        "o_orderpriority": [_PRIORITIES[i] for i in g.integers(0, 5, n_ord)],
    }
    n_li = 4 * n_ord
    okey = np.sort(g.integers(0, n_ord, n_li))
    # 1-based position of each line within its order
    first = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    run = np.repeat(first, np.diff(np.r_[first, n_li]))
    qty = g.integers(1, 51, n_li).astype("float64")
    flag = g.integers(0, 3, n_li)
    t["lineitem"] = {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(g.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - run + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(g.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(g.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in flag],
        "l_linestatus": [["F", "O"][i] for i in g.integers(0, 2, n_li)],
        "l_shipdate": _day_ts(dt.datetime(1995, 1, 2),
                              g.integers(0, 2498, n_li)),
    }
    month = 30 * 86_400
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1),
                  np.sort(g.uniform(0, month, n_ev))),
        "user_id": pa.array(g.integers(0, max(n_cust // 10, 1), n_ev),
                            pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in g.integers(0, 5, n_ev)],
        "value": np.round(g.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in g.integers(0, 100, n_ev)],
    }
    texts = [
        " ".join(_DOC_WORDS[i] for i in g.integers(0, 30, n))
        for n in g.integers(10, 101, n_doc)
    ]
    for i in g.integers(0, n_doc, max(n_doc // 600, 1)):
        # a few exact duplicates and near-duplicates, as dedup
        # queries expect to find
        texts[(i + 1) % n_doc] = texts[i]
        texts[(i + 2) % n_doc] = texts[i] + " dup"
    t["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in g.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in g.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    }
    label = g.integers(0, 10, n_emb)
    centers = g.normal(0, 1, (10, 64))
    vec = centers[label] + g.normal(0, 0.8, (n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec.astype("float32")),
                              pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }
    for name, cols in t.items():
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))
    return root


def digest(paths: list[str]) -> str:
    """sha256 over the bytes of ``paths`` in the given order."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]
