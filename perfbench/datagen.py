"""Seeded input generators. Every function is a pure function of its seed:
the same seed gives byte-identical inputs, so two runs with one seed do
identical work."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per (seed, purpose) so adding draws to one
    input never shifts another."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, compression="zstd")
    return path


# ----------------------------------------------------------------- analytics
#: TPC-H scale factor of the analytics tables
SCALE = 0.1


def tpch_tables(seed: int, out_dir: str) -> dict[str, str]:
    """TPC-H-shaped star schema at ``SCALE`` (150k orders, ~600k
    lineitems, 15k customers) plus a 100k-row ``events`` table, one parquet
    file per table like the repository's sf testdata. Money columns are
    cents-rounded and quantities integral so sums compare exactly."""
    g = rng(seed, 1)
    n_cust = int(150_000 * SCALE)
    n_ord = int(1_500_000 * SCALE)
    n_ev = int(1_000_000 * SCALE)
    tabs = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
                "c_name": [f"Customer#{k:09d}" for k in range(1, n_cust + 1)],
                "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": np.array(SEGMENTS)[g.integers(0, 5, n_cust)],
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64),
                "o_custkey": g.integers(1, n_cust + 1, n_ord).astype(np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[
                    g.choice(3, n_ord, p=[0.49, 0.49, 0.02])
                ],
                "o_totalprice": np.round(g.uniform(900.0, 450_000.0, n_ord), 2),
                "o_orderpriority": np.array(PRIORITIES)[g.integers(0, 5, n_ord)],
            }
        ),
    }
    lines = g.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = g.integers(1, 51, n_li).astype(np.float64)
    tabs["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * g.uniform(900.0, 2000.0, n_li), 2),
            "l_discount": g.integers(0, 11, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_li)],
        }
    )
    tabs["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "user_id": g.integers(0, 1000, n_ev).astype(np.int64),
            "event_type": np.array(["click", "view", "buy", "cart"])[
                g.integers(0, 4, n_ev)
            ],
            "value": np.round(g.uniform(0.0, 100.0, n_ev), 2),
        }
    )
    return {name: _write(t, f"{out_dir}/{name}.parquet") for name, t in tabs.items()}


# ---------------------------------------------------------------------- oltp
def zipf_ranks(g: np.random.Generator, n: int, size: int, a: float = 1.1) -> np.ndarray:
    """Zipf-skewed ranks in [0, n): rank 0 is the hottest."""
    r = g.zipf(a, size * 4)
    r = r[r <= n][:size]
    while len(r) < size:  # pragma: no cover - a=1.1 keeps ~90% of draws
        more = g.zipf(a, size)
        r = np.concatenate([r, more[more <= n]])[:size]
    return r - 1


def accounts(seed: int, n: int) -> list[dict]:
    g = rng(seed, 2)
    bal = np.round(g.uniform(0.0, 10_000.0, n), 2)
    return [
        {"id": i, "owner": f"user{i % 5000:04d}", "balance": float(bal[i]), "version": 0}
        for i in range(n)
    ]


# ----------------------------------------------------------------------- cep
def event_batches(seed: int, n_batches: int, size: int) -> list[list[dict]]:
    """Consecutive-id event batches. ``groupValue`` comes in runs of 1-20
    equal keys (unique per run), so every batch closes at least one
    tumbling group and the key-change emitter always has output."""
    g = rng(seed, 3)
    n = n_batches * size
    run_lens = g.integers(1, 21, n)
    keys = np.repeat(np.arange(len(run_lens)), run_lens)[:n]
    types = g.integers(0, 3, n)
    vals = g.integers(0, 1000, n)
    evs = [
        {
            "eventId": i,
            "eventType": int(types[i]),
            "eventValue": int(vals[i]),
            "groupValue": f"g{keys[i]:06d}",
        }
        for i in range(n)
    ]
    return [evs[b * size:(b + 1) * size] for b in range(n_batches)]


# ------------------------------------------------------------------ curation
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "zu", "pe", "qua", "dre",
        "fo", "gi", "ha", "je", "ly", "mo", "ny", "xo"]


#: shares of the curation corpus that are exact / near duplicates
EXACT_SHARE = 0.1
NEAR_SHARE = 0.1


def corpus(seed: int, n_docs: int) -> list[str]:
    """``n_docs`` documents over a 3000-word Zipf vocabulary, 20-80 words
    each. ``EXACT_SHARE`` of them are verbatim copies of an earlier
    document and ``NEAR_SHARE`` are copies with 3% of words replaced
    (word-3-shingle Jaccard about 0.8, above the MinHash threshold)."""
    g = rng(seed, 4)
    vocab = []
    seen = set()
    while len(vocab) < 3000:
        w = "".join(_SYL[i] for i in g.integers(0, len(_SYL), g.integers(1, 4)))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    vocab_arr = np.array(vocab)
    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_base = n_docs - n_exact - n_near
    docs = []
    for _ in range(n_base):
        ln = int(g.integers(20, 81))
        docs.append(" ".join(vocab_arr[zipf_ranks(g, len(vocab), ln, 1.3)]))
    for _ in range(n_exact):
        docs.append(docs[int(g.integers(0, n_base))])
    for _ in range(n_near):
        words = docs[int(g.integers(0, n_base))].split(" ")
        for j in g.choice(len(words), max(1, len(words) * 3 // 100), replace=False):
            words[j] = vocab[int(g.integers(0, len(vocab)))]
        docs.append(" ".join(words))
    order = g.permutation(n_docs)
    return [docs[i] for i in order]


def write_corpus(docs: list[str], path: str) -> str:
    return _write(
        pa.table({"doc_id": np.arange(len(docs), dtype=np.int64), "text": docs}), path
    )
