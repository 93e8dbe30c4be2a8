"""Seeded input generators for the benchmark.

Everything the measured program reads is made here from a seed: the
star-schema fixture tables (same ten tables, columns and value domains as
the project's test fixtures, FIXTURES.md), the Zipfian corpus for the
Swivel prep pipeline, and the micro-batch files for the streaming
services. The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark sort window data column join small line customer query order "
    "group filter stream big vector"
).split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "fr", "es", "de", "zh"]
SENTINEL_USER = 10**9


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n):
    s = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - s).astype(int))
    return (s + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def write_parquet(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _doc_texts(rng, n_docs: int, n_near: int, n_exact: int) -> list[str]:
    """Uniform-vocabulary documents with planted near-duplicates (a copy
    plus one appended token: 3-shingle Jaccard ≥ 0.8) and exact copies."""
    lengths = rng.integers(10, 100, n_docs)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    long_docs = np.flatnonzero(lengths >= 40)
    picks = rng.choice(long_docs, size=2 * (n_near + n_exact), replace=False)
    for i in range(n_near):
        src, dst = picks[2 * i], picks[2 * i + 1]
        texts[dst] = texts[src] + " dup"
    for i in range(n_near, n_near + n_exact):
        texts[picks[2 * i + 1]] = texts[picks[2 * i]]
    return texts


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """The ten fixture tables at scale factor ``sf`` under ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_docs = max(int(50_000 * sf), 500)

    p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731
    write_parquet(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write_parquet(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write_parquet(p("customer"), {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    write_parquet(p("supplier"), {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    write_parquet(p("part"), {
        "p_partkey": pk,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    # every customer has at least one order
    custs = np.concatenate([
        rng.permutation(n_cust), rng.integers(0, n_cust, n_ord - n_cust)
    ]).astype(np.int64)
    write_parquet(p("orders"), {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": custs,
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    write_parquet(p("lineitem"), {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    write_parquet(p("events"), _events(rng, 0, n_ev, max(n_ev // 66, 15),
                                _dt.datetime(2024, 1, 1), 30 * 86400))
    texts = _doc_texts(rng, n_docs, n_near=n_docs // 20, n_exact=n_docs // 600)
    write_parquet(p("documents"), {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[
            rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])
        ],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, 500)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.2, (500, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write_parquet(p("embeddings"), {
        "vec_id": np.arange(500, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def _events(rng, first_id: int, n: int, n_users: int, start, span_s: int) -> dict:
    """Time-ordered events; ``ts`` as INT64 TIMESTAMP(NANOS) with µs
    precision, as in the fixtures."""
    # strictly increasing, so (user, ts) is unique
    offs = np.sort(rng.integers(0, span_s * 1_000_000 - n, n)) + np.arange(n)
    base = np.datetime64(start, "us")
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array((base + offs).astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def zipf_corpus(seed: int, n_docs: int, mean_len: int, n_types: int,
                exponent: float) -> list[tuple[int, str]]:
    """(doc_id, text) rows whose tokens follow a Zipf law over
    ``n_types`` token types (``t<rank>``), so the vocabulary a min_count
    cut keeps spans many range partitions."""
    rng = np.random.default_rng([seed, 2])
    ranks = np.arange(1, n_types + 1)
    prob = ranks ** -exponent
    prob /= prob.sum()
    lengths = rng.integers(mean_len // 2, mean_len * 3 // 2 + 1, n_docs)
    toks = rng.choice(n_types, size=int(lengths.sum()), p=prob)
    names = np.array([f"t{i}" for i in range(n_types)])
    out, at = [], 0
    for d, k in enumerate(lengths):
        out.append((d, " ".join(names[toks[at:at + k]])))
        at += k
    return out


def event_batches(seed: int, n_batches: int, rows: int, n_users: int) -> list[dict]:
    """Consecutive, time-ordered event micro-batches (1 h of events each)."""
    rng = np.random.default_rng([seed, 3])
    start = _dt.datetime(2024, 1, 1)
    out = []
    for b in range(n_batches):
        cols = _events(rng, b * rows, rows, n_users,
                       start + _dt.timedelta(hours=b), 3600)
        # µs timestamps: the stream source reads TIMESTAMP directly
        cols["ts"] = cols["ts"].cast(pa.timestamp("us"))
        del cols["props"]
        out.append(cols)
    return out


def doc_batches(seed: int, n_batches: int, rows: int) -> list[dict]:
    """Document micro-batches; some docs near-duplicate a doc from an
    earlier batch or from their own batch (copy plus one token)."""
    rng = np.random.default_rng([seed, 4])
    words = np.array(WORDS)
    seen: list[str] = []
    out = []
    for b in range(n_batches):
        ids, texts = [], []
        for i in range(rows):
            if seen and rng.random() < 0.25:
                text = seen[rng.integers(0, len(seen))] + " dup"
            else:
                text = " ".join(words[rng.integers(0, len(words), rng.integers(40, 100))])
            ids.append(b * rows + i)
            texts.append(text)
            seen.append(text)
        out.append({"doc_id": np.array(ids, dtype=np.int64), "text": texts})
    return out


def sentinel_event(event_id: int, days: int) -> dict:
    """One far-future event of a user no batch has: it moves the
    watermark past every open session so they all close."""
    ts = np.array([np.datetime64("2024-01-01T00:00:00", "us") + np.timedelta64(days, "D")])
    return {
        "event_id": np.array([event_id], dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": np.array([SENTINEL_USER], dtype=np.int64),
        "event_type": ["view"],
        "value": np.array([0.0]),
    }
