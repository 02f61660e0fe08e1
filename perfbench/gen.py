"""Seeded input generator for the benchmark.

Writes the FIXTURES.md star schema (``region nation customer supplier part
orders lineitem events documents embeddings``, one parquet file each) from a
seed and a size, so every catalog query and its DuckDB oracle runs unchanged
on the generated directory.  The same ``(seed, size)`` always gives the same
bytes-for-bytes table contents.

``documents`` is the curation input: a Zipf vocabulary (exponent ``ZIPF_S``)
with English stopwords at the top ranks, ``EXACT_DUP_RATE`` exact duplicates
(an earlier document re-cased and re-spaced, so only normalization makes them
equal), ``NEAR_DUP_RATE`` near duplicates (an earlier document with
``NEAR_DUP_EDIT`` of its tokens, at least one, replaced) and the boilerplate phrase
``BOILERPLATE`` appended to ``BOILERPLATE_RATE`` of the documents.  The
boilerplate shingles occur in far more than ``max_df`` documents, which is
the hot-key shape the df-capped dedup operators exist for.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.1
VOCAB = 6000
EXACT_DUP_RATE = 0.04
NEAR_DUP_RATE = 0.06
NEAR_DUP_EDIT = 0.1
BOILERPLATE_RATE = 0.25
BOILERPLATE = "subscribe to our newsletter for the latest updates and offers"
SHORT_DOC_RATE = 0.05
PUNCT_DOC_RATE = 0.05
EMBED_DIM = 64

_STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "cart", "purchase", "search"]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1992_US = 694_224_000 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _vocabulary(rng: np.random.Generator) -> list[str]:
    words = list(_STOPWORDS)
    seen = set(words)
    while len(words) < VOCAB:
        w = "".join(chr(97 + c) for c in rng.integers(0, 26, int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_vocabulary(rng))
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    p /= p.sum()
    lengths = rng.integers(10, 40, n)
    short = rng.random(n) < SHORT_DOC_RATE
    lengths[short] = rng.integers(2, 8, int(short.sum()))
    tokens = rng.choice(VOCAB, size=int(lengths.sum()), p=p)
    offsets = np.concatenate([[0], np.cumsum(lengths)])
    kind = rng.random(n)
    texts: list[str] = []
    for i in range(n):
        toks = list(words[tokens[offsets[i] : offsets[i + 1]]])
        if i > 0 and kind[i] < EXACT_DUP_RATE:
            src = texts[int(rng.integers(0, i))]
            text = src.upper() if rng.random() < 0.5 else "  " + src.replace(" ", "   ")
        elif i > 0 and kind[i] < EXACT_DUP_RATE + NEAR_DUP_RATE:
            src = texts[int(rng.integers(0, i))].split(" ")
            edits = max(1, int(len(src) * NEAR_DUP_EDIT))
            for j in rng.choice(len(src), edits, replace=False):
                src[j] = str(words[rng.choice(VOCAB, p=p)])
            text = " ".join(src)
        else:
            if rng.random() < PUNCT_DOC_RATE:
                toks = [t + "!?;" for t in toks]
            text = " ".join(toks)
            if rng.random() < BOILERPLATE_RATE:
                text = text + " " + BOILERPLATE
        texts.append(text)
    langs = rng.choice(["en", "en", "en", "en", "de", "fr"], n)
    sources = np.array([f"src{k}" for k in rng.integers(0, 20, n)])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array(sources),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0, 1, (24, EMBED_DIM))
    which = rng.integers(0, len(centers), n)
    noise = rng.uniform(0.3, 1.5, n)[:, None]
    vecs = (centers[which] + rng.normal(0, 1, (n, EMBED_DIM)) * noise).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array((which % 10).astype("int32")),
        }
    )


def star_schema(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": [f"NATION{k:02d}" for k in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
        }
    )
    adj = np.array(["small", "red", "large", "blue", "green", "steel"])
    noun = np.array(["ring", "widget", "bolt", "gear", "panel", "valve"])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
            "p_name": pa.array(
                np.char.add(np.char.add(rng.choice(adj, n_part), " "), rng.choice(noun, n_part))
            ),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) % 1000 / 10.0, 2)),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    # a third of the line items buy from a small hot set of parts, so the
    # co-purchase graph has repeated pairs (communities) and a skewed key
    hot = rng.random(n_li) < 0.33
    pkey = rng.integers(0, n_part, n_li)
    pkey[hot] = rng.integers(0, max(20, n_part // 50), int(hot.sum()))
    qty = rng.integers(1, 51, n_li).astype("float64")
    price = np.round(qty * (900 + pkey % 1000 / 10.0), 2)
    odate = _EPOCH_1992_US + rng.integers(0, 2400, n_ord) * _DAY_US
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * _DAY_US
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
            "o_orderdate": _ts(odate),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(pkey.astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
            "l_linenumber": pa.array(lnum.astype("int32")),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _ts(ship),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt, dtype="int64")),
            "ts": _ts(_EPOCH_1992_US + np.sort(rng.integers(0, 30 * _DAY_US, n_evt))),
            "user_id": pa.array(rng.integers(0, max(10, n_evt // 20), n_evt).astype("int64")),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n_evt)),
            "value": pa.array(np.round(rng.exponential(20.0, n_evt), 2)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 50, n_evt)]),
        }
    )
    return t


def generate(out: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> dict:
    """Write every table under ``out``; returns ``{table: {rows, bytes}}``."""
    rng = np.random.default_rng(seed)
    tables = star_schema(rng, sf)
    tables["documents"] = documents(rng, n_docs)
    tables["embeddings"] = embeddings(rng, n_vecs)
    os.makedirs(out, exist_ok=True)
    stats = {}
    for name, table in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, path)
        stats[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return stats

