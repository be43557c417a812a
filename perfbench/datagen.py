"""Seeded input tables for the benchmark workloads.

``generate(seed, out_dir)`` writes the five star-schema tables the workloads
read (``customer``, ``documents``, ``lineitem``, ``orders``, ``embeddings``)
as single-row-group parquet files with the FIXTURES.md §A schemas.  The same
seed gives byte-identical files.  The seed varies the input properties the
code paths depend on, while row counts stay within a few percent of
``BASE_ROWS`` so that run-to-run timings stay comparable across seeds:

- ``customer``: star count and sky density.  The astro fixture derives each
  star's position from ``c_custkey`` (``plans/astro_pipeline.py``), so the
  generator picks keys whose positions fall in a seeded sky patch.
- ``documents``: document length and near-duplicate rate.
- ``orders``/``lineitem``: degree skew of the customer/supplier purchase graph.
- ``embeddings``: cluster count and spread of the 64-dim vectors.

Invariants the registry queries assume: ``doc_id < 100_000`` (the dedup
queries offset mutated ids by +100,000), non-null text, 64-dim embeddings.
"""

from __future__ import annotations

import math
import os
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("customer", "documents", "lineitem", "orders", "embeddings")

#: nominal sizes; the seed moves star and document counts by at most 3 %
BASE_ROWS = {
    "customer": 300,
    "documents": 120,
    "orders": 5000,
    "lineitem": 20000,  # 1-7 lines per order, 4 on average
    "embeddings": 500,
}

# position moduli and multipliers of ``make_astro_fixture``:
# ra0 = (c·9176 mod 3599993)/1e4, dec0 = (c·7919 mod 1199999)/1e4 − 60
_RA_MOD, _RA_MUL = 3_599_993, 9176
_DEC_MOD, _DEC_MUL = 1_199_999, 7919
_GRID = 10_000  # position grid steps per degree

_DOC_ID_LIMIT = 100_000
_EMB_DIM = 64
_N_CUSTOMERS = 500  # distinct o_custkey values in the purchase graph
_N_SUPPLIERS = 50
_EPOCH_1992_US = 694_224_000_000_000
_DAY_US = 86_400_000_000


@dataclass(frozen=True)
class Knobs:
    """The seeded input properties; recorded in the run artifact."""

    n_stars: int
    sky_area_deg2: float
    n_docs: int
    doc_len_mean: float
    near_dup_rate: float
    cust_skew: float
    supp_skew: float
    emb_clusters: int
    emb_noise: float


def knobs_for(seed: int) -> Knobs:
    rng = np.random.default_rng([seed, 0])
    return Knobs(
        n_stars=int(BASE_ROWS["customer"] * rng.uniform(0.97, 1.03)),
        sky_area_deg2=float(math.exp(rng.uniform(math.log(50.0), math.log(2000.0)))),
        n_docs=int(BASE_ROWS["documents"] * rng.uniform(0.97, 1.03)),
        doc_len_mean=float(rng.uniform(30.0, 38.0)),
        near_dup_rate=float(rng.uniform(0.05, 0.25)),
        cust_skew=float(rng.uniform(0.0, 1.1)),
        supp_skew=float(rng.uniform(0.0, 1.1)),
        emb_clusters=int(rng.integers(4, 17)),
        emb_noise=float(rng.uniform(0.05, 0.2)),
    )


def generate(seed: int, out_dir: str) -> Knobs:
    """Write every table for ``seed`` into ``out_dir``; return the knobs."""
    knobs = knobs_for(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "customer": _customer(knobs, np.random.default_rng([seed, 1])),
        "documents": _documents(knobs, np.random.default_rng([seed, 2])),
        "embeddings": _embeddings(knobs, np.random.default_rng([seed, 5])),
    }
    tables["orders"], tables["lineitem"] = _orders_lineitem(
        knobs, np.random.default_rng([seed, 3])
    )
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(table.num_rows, 1),
        )
    return knobs


def knobs_dict(knobs: Knobs) -> dict:
    return {k: round(v, 4) if isinstance(v, float) else v for k, v in asdict(knobs).items()}


def star_positions(custkey: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ra0, dec0) in degrees, exactly as the astro fixture derives them."""
    ra = (custkey * _RA_MUL % _RA_MOD) / float(_GRID)
    dec = (custkey * _DEC_MUL % _DEC_MOD) / float(_GRID) - 60.0
    return ra, dec


def _custkeys_for_grid(r: np.ndarray, d: np.ndarray) -> np.ndarray:
    """The smallest key whose fixture position is grid point (r, d), by the
    Chinese remainder theorem over the two (coprime) position moduli."""
    a1 = r * pow(_RA_MUL, -1, _RA_MOD) % _RA_MOD
    a2 = d * pow(_DEC_MUL, -1, _DEC_MOD) % _DEC_MOD
    k = (a2 - a1) % _DEC_MOD * pow(_RA_MOD, -1, _DEC_MOD) % _DEC_MOD
    return a1 + _RA_MOD * k


def _customer(knobs: Knobs, rng: np.random.Generator) -> pa.Table:
    n = knobs.n_stars
    side = math.sqrt(knobs.sky_area_deg2)
    ra_lo = rng.uniform(0.0, 360.0 - side)
    dec_lo = rng.uniform(-30.0, 30.0 - side)
    width = int(side * _GRID)
    flat = np.unique(rng.integers(0, width * width, size=2 * n))
    flat = rng.permutation(flat)[:n]
    r = int(ra_lo * _GRID) + flat // width
    d = int((dec_lo + 60.0) * _GRID) + flat % width
    keys = np.sort(_custkeys_for_grid(r.astype(np.int64), d.astype(np.int64)))
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:013d}" for k in keys], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2), pa.float64()),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, n)], pa.string()),
    })


def _vocabulary() -> np.ndarray:
    """4,000 fixed pseudo-words; none contains "fast" or "slow", the two
    words the classifier's teacher rule counts as substrings."""
    onsets = ["b", "d", "g", "k", "l", "m", "n", "p", "r", "t", "v", "z", "br", "tr", "pl", "gr"]
    vowels = ["a", "e", "i", "o", "u"]
    sylls = [o + v for o in onsets for v in vowels]
    words = [a + b + c for a in sylls for b in sylls for c in ("", "n", "s", "x")]
    return np.array([w for w in words if "fast" not in w and "slow" not in w][:4000])


def _documents(knobs: Knobs, rng: np.random.Generator) -> pa.Table:
    n = knobs.n_docs
    vocab = _vocabulary()
    ids = np.sort(rng.choice(_DOC_ID_LIMIT, size=n, replace=False))
    lengths = np.clip(
        rng.normal(knobs.doc_len_mean, 0.35 * knobs.doc_len_mean, n), 12, 160
    ).astype(int)
    p_fast = rng.uniform(0.0, 0.08, n)
    p_slow = rng.uniform(0.0, 0.08, n)
    docs: list[list[str]] = []
    for i in range(n):
        if i > 0 and rng.random() < knobs.near_dup_rate:
            toks = list(docs[int(rng.integers(0, i))])
            for j in rng.choice(len(toks), size=max(1, len(toks) // 30), replace=False):
                toks[j] = vocab[rng.integers(0, len(vocab))]
        else:
            toks = list(vocab[rng.integers(0, len(vocab), lengths[i])])
            u = rng.random(lengths[i])
            for j in np.nonzero(u < p_fast[i])[0]:
                toks[j] = "fast"
            for j in np.nonzero((u >= p_fast[i]) & (u < p_fast[i] + p_slow[i]))[0]:
                toks[j] = "slow"
        docs.append(toks)
    text = [" ".join(t) for t in docs]
    langs = np.array(["en", "zh", "es", "de", "fr"])
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(langs[rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _zipf_draw(rng: np.random.Generator, n_keys: int, skew: float, size: int) -> np.ndarray:
    """Keys 1..n_keys drawn with weight rank^-skew over a random ranking."""
    w = np.arange(1, n_keys + 1, dtype=np.float64) ** -skew
    keys = rng.permutation(n_keys) + 1
    return keys[rng.choice(n_keys, size=size, p=w / w.sum())]


def _orders_lineitem(knobs: Knobs, rng: np.random.Generator) -> tuple[pa.Table, pa.Table]:
    n_o = BASE_ROWS["orders"]
    okeys = np.arange(1, n_o + 1, dtype=np.int64) * 4
    odate = _EPOCH_1992_US + rng.integers(0, 2400, n_o) * _DAY_US
    lines = rng.integers(1, 8, n_o)
    n_l = int(lines.sum())
    l_order = np.repeat(okeys, lines)
    l_odate = np.repeat(odate, lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n_l), 2)
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(_zipf_draw(rng, _N_CUSTOMERS, knobs.cust_skew, n_o), pa.int64()),
        "o_orderstatus": pa.array(status[rng.integers(0, 3, n_o)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(850.0, 500000.0, n_o), 2), pa.float64()),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_o)], pa.string()),
    })
    flags = np.array(["A", "N", "R"])
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 2001, n_l), pa.int64()),
        "l_suppkey": pa.array(_zipf_draw(rng, _N_SUPPLIERS, knobs.supp_skew, n_l), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0, pa.float64()),
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n_l)], pa.string()),
        "l_linestatus": pa.array(np.where(rng.random(n_l) < 0.5, "F", "O"), pa.string()),
        "l_shipdate": pa.array(l_odate + rng.integers(1, 122, n_l) * _DAY_US, pa.timestamp("us")),
    })
    return orders, lineitem


def _embeddings(knobs: Knobs, rng: np.random.Generator) -> pa.Table:
    n = BASE_ROWS["embeddings"]
    centers = rng.normal(0.0, 0.3, (knobs.emb_clusters, _EMB_DIM))
    member = rng.integers(0, knobs.emb_clusters, n)
    vecs = (centers[member] + rng.normal(0.0, knobs.emb_noise, (n, _EMB_DIM))).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel(), pa.float32()), _EMB_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(member % 10, pa.int32()),
    })


def table_rows(data_dir: str, names) -> int:
    return sum(pq.ParquetFile(os.path.join(data_dir, f"{n}.parquet")).metadata.num_rows for n in names)


def table_bytes(data_dir: str, names) -> int:
    return sum(os.path.getsize(os.path.join(data_dir, f"{n}.parquet")) for n in names)
