"""Seeded, deterministic inputs for the benchmark workloads.

Every value is derived from a 64-bit hash of (seed, table, row id,
column) -- the splitmix64 finalizer, the same "hash of the row id, no
RNG state" scheme ``scripts/gen_scale_data.py`` uses with xxhash64 --
so one seed always produces byte-identical parquet files, whatever
order the tables are written in.

- :func:`write_tables` -- the TPC-H-shaped star schema plus ``events``,
  with the schemas, value domains and row counts of the sf0.1 testdata
  the ``queries()`` entries and their DuckDB oracles are written for.
- :func:`write_corpus` -- ``documents`` and ``embeddings`` with the
  shape ``gen_scale_data.py`` produces (64-word vocab, every 10th doc a
  near-copy of the previous one; dim-64 float vectors), for the
  similarity and dedup queries of ``query_mix``.
- :func:`write_doc_batches` -- the ``twin_ingest`` stream: one parquet
  file per micro-batch, with exact (whitespace-perturbed) and near
  (one-token-edited) copies of docs from earlier batches.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_EPOCH_2024_NS = 1_704_067_200 * 10**9
_DAY_NS = 86_400 * 10**9

VOCAB = (
    "batch part spark line column order small sort query agg scan "
    "fast vector table join group shuffle hash merge read write "
    "cache disk memory task stage job plan code gen filter push "
    "down key value row set list map array struct text token char "
    "word doc page site link node edge graph tree leaf root path "
    "range bound limit skew salt probe build"
).split()


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over uint64 (wrapping arithmetic)."""
    with np.errstate(over="ignore"):
        x = (x + np.uint64(0x9E3779B97F4A7C15)) & _M64
        x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _M64
        x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _M64
        return x ^ (x >> np.uint64(31))


def hashes(seed: int, tag: str, ids: np.ndarray, col: int) -> np.ndarray:
    """One uint64 per id, a pure function of (seed, tag, id, col)."""
    salt = np.uint64(sum((i + 1) * ord(c) for i, c in enumerate(tag)) * 1_000_003 + col)
    with np.errstate(over="ignore"):
        base = _mix(np.asarray([seed], dtype=np.uint64) * np.uint64(0x100000001B3) + salt)
        return _mix(np.asarray(ids, dtype=np.uint64) ^ base)


def uniform_int(seed, tag, ids, col, lo: int, hi: int) -> np.ndarray:
    """Integers in [lo, hi] inclusive."""
    return (hashes(seed, tag, ids, col) % np.uint64(hi - lo + 1)).astype(np.int64) + lo


def _cents(seed, tag, ids, col, lo: float, hi: float) -> np.ndarray:
    """2-dp money values in [lo, hi]."""
    c = uniform_int(seed, tag, ids, col, int(round(lo * 100)), int(round(hi * 100)))
    return np.round(c / 100.0, 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _texts(seed: int, tag: str, ids: np.ndarray, lo: int, hi: int) -> list[str]:
    """Space-joined tokens from VOCAB, ``lo..hi`` tokens per id."""
    lens = uniform_int(seed, tag, ids, 1, lo, hi)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    owner = np.repeat(ids, lens)
    pos = np.arange(int(lens.sum())) - np.repeat(starts, lens)
    words = np.asarray(VOCAB)[
        (hashes(seed, tag, owner * np.uint64(4096) + pos.astype(np.uint64), 2)
         % np.uint64(len(VOCAB))).astype(np.int64)
    ]
    ends = np.cumsum(lens)
    return [" ".join(words[s:e]) for s, e in zip(starts, ends)]


# ------------------------------------------------------------ tables

def write_tables(out: str, seed: int, sf: float) -> None:
    """TPC-H-shaped tables + events at scale ``sf``."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    nations = 25

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(nations), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(nations)],
        "n_regionkey": pa.array([i % 5 for i in range(nations)], pa.int32()),
    }), f"{out}/nation.parquet")

    ids = np.arange(n_cust, dtype=np.uint64)
    seg = np.asarray(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(ids.astype(np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(uniform_int(seed, "cust", ids, 1, 0, 24).astype(np.int32)),
        "c_acctbal": _cents(seed, "cust", ids, 2, -999.99, 9999.99),
        "c_mktsegment": seg[uniform_int(seed, "cust", ids, 3, 0, 4)],
    }), f"{out}/customer.parquet")

    ids = np.arange(n_supp, dtype=np.uint64)
    _write(pa.table({
        "s_suppkey": pa.array(ids.astype(np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(uniform_int(seed, "supp", ids, 1, 0, 24).astype(np.int32)),
        "s_acctbal": _cents(seed, "supp", ids, 2, -999.99, 9999.99),
    }), f"{out}/supplier.parquet")

    ids = np.arange(n_part, dtype=np.uint64)
    adj = np.asarray(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
    noun = np.asarray(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
    ptype = np.asarray(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    names = np.char.add(np.char.add(adj[uniform_int(seed, "part", ids, 1, 0, 7)], " "),
                        noun[uniform_int(seed, "part", ids, 2, 0, 7)])
    _write(pa.table({
        "p_partkey": pa.array(ids.astype(np.int64)),
        "p_name": names,
        "p_brand": np.char.add("Brand#", uniform_int(seed, "part", ids, 3, 1, 25).astype(str)),
        "p_type": ptype[uniform_int(seed, "part", ids, 4, 0, 5)],
        "p_size": pa.array(uniform_int(seed, "part", ids, 5, 1, 50).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (ids.astype(np.int64) % 1000) / 10.0, 2),
    }), f"{out}/part.parquet")

    ids = np.arange(n_ord, dtype=np.uint64)
    span_days = 2403  # 1995-01-01 .. 2001-08-01
    d1995 = np.datetime64("1995-01-01", "ns").astype(np.int64)
    _write(pa.table({
        "o_orderkey": pa.array(ids.astype(np.int64)),
        "o_custkey": pa.array(uniform_int(seed, "ord", ids, 1, 0, n_cust - 1)),
        "o_orderstatus": np.asarray(["F", "O", "P"])[uniform_int(seed, "ord", ids, 2, 0, 2)],
        "o_totalprice": _cents(seed, "ord", ids, 3, 1000.0, 500000.0),
        "o_orderdate": pa.array(
            d1995 + uniform_int(seed, "ord", ids, 4, 0, span_days) * _DAY_NS,
            pa.timestamp("ns")),
        "o_orderpriority": np.asarray(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[uniform_int(seed, "ord", ids, 5, 0, 4)],
    }), f"{out}/orders.parquet")

    ids = np.arange(n_line, dtype=np.uint64)
    flags = uniform_int(seed, "line", ids, 8, 0, 5)
    _write(pa.table({
        "l_orderkey": pa.array(uniform_int(seed, "line", ids, 1, 0, n_ord - 1)),
        "l_partkey": pa.array(uniform_int(seed, "line", ids, 2, 0, n_part - 1)),
        "l_suppkey": pa.array(uniform_int(seed, "line", ids, 3, 0, n_supp - 1)),
        "l_linenumber": pa.array(uniform_int(seed, "line", ids, 4, 1, 7).astype(np.int32)),
        "l_quantity": uniform_int(seed, "line", ids, 5, 1, 50).astype(np.float64),
        "l_extendedprice": _cents(seed, "line", ids, 6, 900.0, 105000.0),
        "l_discount": uniform_int(seed, "line", ids, 7, 0, 10) / 100.0,
        "l_tax": uniform_int(seed, "line", ids, 9, 0, 8) / 100.0,
        "l_returnflag": np.asarray(["A", "A", "N", "N", "R", "R"])[flags],
        "l_linestatus": np.asarray(["F", "O", "F", "O", "F", "O"])[flags],
        "l_shipdate": pa.array(
            d1995 + uniform_int(seed, "line", ids, 10, 1, 2499) * _DAY_NS,
            pa.timestamp("ns")),
    }), f"{out}/lineitem.parquet")

    ids = np.arange(n_ev, dtype=np.uint64)
    # strictly increasing event time, ~26 s apart on average over 30 days
    gaps_us = uniform_int(seed, "ev", ids, 1, 1, 2 * (30 * 86_400 * 10**6) // n_ev)
    etype = np.asarray(["click", "error", "purchase", "signup", "view"])
    _write(pa.table({
        "event_id": pa.array(ids.astype(np.int64)),
        "ts": pa.array(_EPOCH_2024_NS + np.cumsum(gaps_us) * 1000, pa.timestamp("ns")),
        "user_id": pa.array(uniform_int(seed, "ev", ids, 2, 0, 1499)),
        "event_type": etype[uniform_int(seed, "ev", ids, 3, 0, 4)],
        "value": _cents(seed, "ev", ids, 4, 0.0, 560.0),
        "props": [f'{{"k": {k}}}' for k in uniform_int(seed, "ev", ids, 5, 0, 99)],
    }), f"{out}/events.parquet")


# ------------------------------------------------------------ corpus

def write_corpus(out: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """``documents`` + ``embeddings`` in gen_scale_data.py's shape."""
    os.makedirs(out, exist_ok=True)
    ids = np.arange(n_vecs, dtype=np.uint64)
    raw = hashes(seed, "emb", np.repeat(ids, 64) * np.uint64(64) + np.tile(
        np.arange(64, dtype=np.uint64), n_vecs), 1)
    vals = ((raw % np.uint64(600_001)).astype(np.int64) - 300_000) / 1_000_000.0
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vals.astype(np.float32)), 64)
    _write(pa.table({
        "vec_id": pa.array(ids.astype(np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(uniform_int(seed, "emb", ids, 2, 0, 9).astype(np.int32)),
    }), f"{out}/embeddings.parquet")

    ids = np.arange(n_docs, dtype=np.uint64)
    # ids = 9 (mod 10) reuse the text source of id - 1, plus a tag token
    src = np.where(ids % np.uint64(10) == np.uint64(9), ids - np.uint64(1), ids)
    base = _texts(seed, "doc", src, 40, 240)
    text = [t + " tail" if i % 10 == 9 else t for i, t in enumerate(base)]
    _write(pa.table({
        "doc_id": pa.array(ids.astype(np.int64)),
        "text": text,
        "lang": np.asarray(["en", "zh", "de", "fr"])[uniform_int(seed, "doc", ids, 3, 0, 3)],
        "source": np.char.add("src", uniform_int(seed, "doc", ids, 4, 0, 3).astype(str)),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), f"{out}/documents.parquet")


# ------------------------------------------------------------ stream

def write_doc_batches(out: str, seed: int, n_batches: int, batch_docs: int) -> list[str]:
    """One parquet file per micro-batch (``doc_id, text, ts``), named and
    mtime-stamped in batch order so a file source reads them in order.

    In every batch after the first, one doc in 10 is an exact copy of a
    doc from an EARLIER batch with its whitespace perturbed (dedup_exact
    hits; never a same-batch tie) and one in 10 is a near copy
    (the last token replaced: minhash pairs). ``ts`` grows with doc_id.
    """
    os.makedirs(out, exist_ok=True)
    n = n_batches * batch_docs
    ids = np.arange(n, dtype=np.uint64)
    text = _texts(seed, "twin", ids, 30, 120)
    kind = uniform_int(seed, "twin", ids, 3, 0, 9)
    batch = (ids // np.uint64(batch_docs)).astype(np.int64)
    prior = (hashes(seed, "twin", ids, 4) % np.maximum(batch * batch_docs, 1).astype(np.uint64)).astype(np.int64)
    batch_norms: set[str] = set()
    for i in range(batch_docs, n):
        if i % batch_docs == 0:
            batch_norms = set()
        if kind[i] == 0:
            cand = "  " + text[prior[i]].replace(" ", "  ", 1) + "\t"
        elif kind[i] == 1:
            head = text[prior[i]].rsplit(" ", 1)[0]
            cand = head + " " + VOCAB[int(hashes(seed, "twin", ids[i:i + 1], 5)[0] % len(VOCAB))]
        else:
            cand = text[i]
        norm = " ".join(cand.split())
        if norm in batch_norms:  # never two equal texts in one batch
            cand, norm = text[i], " ".join(text[i].split())
        batch_norms.add(norm)
        text[i] = cand
    ts_us = _EPOCH_2024_NS // 1000 + ids.astype(np.int64) * 10**6
    paths = []
    for b in range(n_batches):
        sl = slice(b * batch_docs, (b + 1) * batch_docs)
        path = f"{out}/batch-{b:05d}.parquet"
        _write(pa.table({
            "doc_id": pa.array(ids[sl].astype(np.int64)),
            "text": text[sl],
            "ts": pa.array(ts_us[sl], pa.timestamp("us")),
        }), path)
        os.utime(path, ns=(10**18 + b * 10**9, 10**18 + b * 10**9))
        paths.append(path)
    return paths
