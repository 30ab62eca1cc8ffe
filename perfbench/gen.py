"""Seeded input generators. Same seed, same bytes; nothing here touches Spark.

The tables mirror the star schema the engine's registry is written against
(``catalog.TABLES``): the row counts and value domains of the sf0.1 tree,
drawn fresh from the seed so a run never reads data from outside its own
work directory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 tree.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
FIXED = frozenset({"documents", "embeddings"})
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_US = 86_400 * 10**6
_EPOCH_1995 = np.datetime64("1995-01-01", "D").astype(np.int64)
_EPOCH_2001_08 = np.datetime64("2001-08-01", "D").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "D").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # cents-exact doubles, like the sf0.1 tree (the floor-micros recipe in
    # functions/exact.py is bit-identical across engines on such values)
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * _DAY_US, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _docs(rng: np.random.Generator, n: int) -> list[str]:
    """Random-word documents (10-100 tokens). A fixed 12% are near-copies
    of an earlier document (1-3 tokens substituted) and 0.5% verbatim
    copies, so the dedup operators find the same amount of work for every
    seed."""
    words = np.array(WORDS)
    kind = np.zeros(n, np.int8)  # 0 fresh, 1 near-copy, 2 verbatim copy
    picks = rng.permutation(np.arange(11, n))
    n_near, n_same = int(0.12 * n), int(0.005 * n)
    kind[picks[:n_near]] = 1
    kind[picks[n_near:n_near + n_same]] = 2
    out: list[list[str]] = []
    for i in range(n):
        if kind[i]:
            toks = list(out[int(rng.integers(0, i))])
            for _ in range(int(rng.integers(1, 4)) if kind[i] == 1 else 0):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
        out.append(toks)
    return [" ".join(t) for t in out]


def make_tables(seed: int, scale: float = 1.0, doc_scale: float = 1.0) -> dict[str, pa.Table]:
    """The ten registry tables at sf0.1 row counts times ``scale``;
    documents and embeddings, which do not grow with sf, times
    ``doc_scale``."""
    rng = np.random.default_rng([seed, 1])
    n = {
        k: max(1, int(v * (doc_scale if k in FIXED else scale)))
        for k, v in ROWS.items()
    }
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": _pick(rng, names, npart),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, _EPOCH_1995, _EPOCH_2001_08, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": _days(rng, _EPOCH_1995 + 1, _EPOCH_2001_08 + 95, nl),
        }
    )
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne)) + _EPOCH_2024 * _DAY_US
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, ne), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(40.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = _docs(rng, nd)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, nd, LANG_P),
            "source": _pick(rng, [f"src{i}" for i in range(20)], nd),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One parquet file (one row group) per table, as catalog.table_path
    expects."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(
            tbl, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, tbl.num_rows),
        )
    return out_dir


def scale_corpus(documents: pa.Table, k: int) -> pa.Table:
    """K copies of the documents table, each copy a near-duplicate of the
    original (distinct tail token), as tools/scale_check._scale_corpus
    builds its 8x corpus."""
    n = documents.num_rows
    ids = documents.column("doc_id").to_numpy()
    texts = documents.column("text").to_pylist()
    parts = []
    for i in range(k):
        new_ids = ids + i * n
        parts.append(
            pa.table(
                {
                    "doc_id": pa.array(new_ids, pa.int64()),
                    "text": [f"{t} zz{d}" for t, d in zip(texts, new_ids)],
                    "lang": documents.column("lang"),
                    "source": documents.column("source"),
                    "n_chars": documents.column("n_chars"),
                }
            )
        )
    return pa.concat_tables(parts)


# --- dashboard request stream ---------------------------------------------

ENDPOINT_KINDS = (
    "earnings",
    "needle",
    "avg_profitability",
    "total_profit",
    "profit_avg",
    "models_distribution",
    "dow",
    "detailed_ranking",
)
ATHENA_KINDS = ("athena_earnings_day", "athena_dow_dist", "athena_weekly", "athena_needle_period")
KINDS = ENDPOINT_KINDS + ATHENA_KINDS
# Date windows: window w shifts every date parameter (and every date
# literal of the request's oracle) by w years. Window 0 is the registry's
# own parameter set; the warm-up primes window 0 only.
WINDOWS = (0, 1)


@dataclass(frozen=True)
class Request:
    rid: int
    kind: str
    window: int


def request_stream(seed: int, n_blocks: int) -> list[Request]:
    """``n_blocks`` blocks of 12 requests. Each block holds every kind once,
    in a seeded order; half the kinds run at window 0 and half at window 1,
    swapping from block to block, so two consecutive blocks hold each
    (kind, window) pair exactly once."""
    rng = np.random.default_rng([seed, 2])
    out: list[Request] = []
    for b in range(n_blocks):
        for k in rng.permutation(len(KINDS)):
            out.append(Request(len(out), KINDS[k], WINDOWS[(k + b) % len(WINDOWS)]))
    return out


# --- ingest batches --------------------------------------------------------


def ingest_batches(
    base_values: dict[tuple[str, str], float],
    seed: int,
    n_batches: int,
    batch_size: int,
    update_share: float = 0.6,
    decrease_share: float = 0.25,
) -> list[list[tuple]]:
    """Jasmin-shaped performance records ``(_id, date, total_earnings,
    online_seconds, updated_at)``. Each batch mixes updates of existing
    ``(_id, date)`` keys (recent dates favoured; ``decrease_share`` of them
    lower the earnings) with inserts of new keys. ``updated_at`` grows with
    the batch number; a key appears at most once per batch."""
    rng = np.random.default_rng([seed, 3])
    current = dict(base_values)
    batches: list[list[tuple]] = []
    new_id = 10_000_000
    for b in range(n_batches):
        ranked = sorted(current, key=lambda k: (k[1], k[0]))  # oldest .. newest
        # recency weight: the newest date ~8x as likely as the oldest
        w = np.linspace(1.0, 8.0, len(ranked))
        w /= w.sum()
        ts = f"2024-01-01T00:{b // 60:02d}:{b % 60:02d}"
        n_upd = int(batch_size * update_share)
        picks = rng.choice(len(ranked), n_upd, replace=False, p=w)
        rows = []
        for i in picks:
            key = ranked[int(i)]
            old = current[key]
            if rng.random() < decrease_share:
                val = round(old * float(rng.uniform(0.5, 0.99)), 2)
            else:
                val = round(old + float(rng.uniform(1.0, 5000.0)), 2)
            current[key] = val
            rows.append((key[0], key[1], val, int(rng.integers(0, 86400)), ts))
        for _ in range(batch_size - n_upd):
            key = (str(new_id), str(np.datetime64("1999-01-01") + int(rng.integers(0, 900))))
            new_id += 1
            val = round(float(rng.uniform(1000.0, 500000.0)), 2)
            current[key] = val
            rows.append((key[0], key[1], val, int(rng.integers(0, 86400)), ts))
        batches.append(rows)
    return batches
