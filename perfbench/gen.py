"""Seeded input generators.  Pure NumPy/pyarrow: no Spark, no repo import.

Everything here is a function of ``(seed, size)`` only, so the same seed
always yields byte-identical inputs (``test_perfbench.py`` pins that).

- :func:`write_tables` writes the star schema of TESTDATA.md (the ten
  parquet tables with the fixtures' columns, types and value ranges) for
  the registry queries of ``batch_mix``.
- :func:`pu_table` draws the positive-unlabeled table of ``pu_learn``.
- :func:`lake_docs` draws the documents-shaped rows of ``batch_mix``'s lake.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
P_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("red", "new", "hot", "small", "large", "cold", "old", "blue")
P_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

#: documents and embeddings rows at every scale (the sf0.1 fixture sizes)
N_DOCS, N_EMB = 5000, 2000
#: row counts at sf0.1 (the fixture sizes); other scales scale linearly
_SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
}
EMB_DIM = 64
#: distance between the PU classes' means, in standard deviations
PU_SHIFT = 5.0


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, stream), so adding a table
    never shifts the values of another."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)
    idx = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(words[idx[pos : pos + k]]))
        pos += k
    return out


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array(base + d.astype("timedelta64[us]"), pa.timestamp("us"))


def documents(seed: int, n: int, dup_frac: float = 0.05) -> pa.Table:
    """Documents table; ``dup_frac`` of the rows copy an earlier row's
    text plus a trailing ``dup`` token (the fixtures' near-duplicates)."""
    rng = _rng(seed, "documents")
    text = _texts(rng, n)
    n_dup = int(n * dup_frac)
    for i in rng.choice(np.arange(1, n), n_dup, replace=False):
        text[i] = text[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(text),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def _tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rows = {k: max(10, int(v * sf / 0.1)) for k, v in _SF01_ROWS.items()}
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_li, n_ev = rows["orders"], rows["lineitem"], rows["events"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = _rng(seed, "customer")
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(r.choice(SEGMENTS, n_cust)),
        }
    )
    r = _rng(seed, "supplier")
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
        }
    )
    r = _rng(seed, "part")
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(r.choice(names, n_part)),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
            "p_type": pa.array(r.choice(P_TYPES, n_part)),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
        }
    )
    r = _rng(seed, "orders")
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(r.choice(("P", "O", "F"), n_ord)),
            "o_totalprice": pa.array(_money(r, 1000, 500_000, n_ord)),
            "o_orderdate": _days(r, "1995-01-01", 2404, n_ord),
            "o_orderpriority": pa.array(r.choice(PRIORITIES, n_ord)),
        }
    )
    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_li).astype(np.float64)
    unit = np.round(np.exp(r.normal(7.6, 0.9, n_li)), 2)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(r.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.clip(np.round(qty * unit, 2), 900.0, 104999.99)),
            "l_discount": pa.array(np.round(r.integers(0, 11, n_li) * 0.01, 2)),
            "l_tax": pa.array(np.round(r.integers(0, 9, n_li) * 0.01, 2)),
            "l_returnflag": pa.array(r.choice(("N", "R", "A"), n_li)),
            "l_linestatus": pa.array(r.choice(("F", "O"), n_li)),
            "l_shipdate": _days(r, "1995-01-02", 2498, n_li),
        }
    )
    r = _rng(seed, "events")
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, max(10, n_ev // 66), n_ev, dtype=np.int64)),
            "event_type": pa.array(r.choice(EVENT_TYPES, n_ev)),
            "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = documents(seed, N_DOCS)
    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, N_EMB)
    centroids = r.normal(0, 1, (10, EMB_DIM))
    x = r.normal(0, 1, (N_EMB, EMB_DIM)) + 0.6 * centroids[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMB, dtype=np.int64)),
            "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, sf: float, names=None) -> dict[str, int]:
    """Write the star-schema tables (all, or ``names``) as
    ``<out_dir>/<name>.parquet``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in _tables(seed, sf).items():
        if names is None or name in names:
            pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
            rows[name] = table.num_rows
    return rows


def pu_table(seed: int, n: int, dim: int, prior: float, c: float):
    """Positive-unlabeled table: two unit-variance Gaussian classes whose
    means lie :data:`PU_SHIFT` apart, a hidden positive ``prior``, and
    labelling frequency ``c`` = P(labelled | positive).  Returns
    ``(ids, x, truth, labelled, shift)``.

    The draw and the row order are fixed; ``seed`` permutes the ids.
    The learners' work follows the data and its order (the
    Gradual-Reduction loop ran 5 to 9 rounds over per-seed draws, and a
    random forest's trees change with the row order), which spread the
    op time by 20-60 % across seeds."""
    r = _rng(0, "pu")
    truth = (r.random(n) < prior).astype(np.int64)
    shift = r.normal(0, 1, dim)
    shift *= PU_SHIFT / np.linalg.norm(shift)
    x = r.normal(0, 1, (n, dim)) + truth[:, None] * shift
    labelled = (truth == 1) & (r.random(n) < c)
    ids = _rng(seed, "pu-ids").permutation(n)
    return ids, x, truth, labelled, shift


def lake_docs(seed: int, start_id: int, n: int, version: int) -> list[tuple]:
    """``n`` documents-shaped rows with ids ``start_id..start_id+n-1``;
    ``version`` perturbs the text so rewrites change the value hash."""
    r = _rng(seed, f"lake{version}")
    text = _texts(r, n)
    langs = r.choice(LANGS, n, p=LANG_P)
    return [
        (start_id + i, text[i], str(langs[i]), f"src{(start_id + i) % 20}", len(text[i]))
        for i in range(n)
    ]
