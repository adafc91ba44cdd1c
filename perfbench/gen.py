"""Seeded input generator.

Builds every input of the benchmark with numpy and pyarrow only. It never
imports the engine: the program under test receives nothing but the
parquet files written here. One seed always gives byte-identical files,
and each table draws from its own random stream, so changing one table's
recipe does not shift the others.

The tables follow the schemas and value domains of the driver tables the
registry queries are written against (``region`` .. ``embeddings``), so
every registry query and its DuckDB oracle run unchanged on them.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "red", "small", "large", "old", "new", "hot", "cold"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "widget", "anvil", "plate", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EMBED_DIM = 64
#: share of documents / embeddings that are exact copies of another row;
#: the same share again are near copies
DUP_SHARE = 0.05
#: Zipf exponent of the ``orders`` update-key popularity
ZIPF_S = 1.1

#: one independent random stream per generated artifact
_STREAMS = [
    "customer", "supplier", "part", "orders", "lineitem", "events",
    "documents", "embeddings", "order_changes", "customer_changes",
]

#: commit-time origin of the ingest change batches
T0 = np.datetime64("2026-01-01T00:00:00", "us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS.index(stream)])


def _days(start: str, n_days: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + n_days.astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """``region`` .. ``lineitem`` at scale factor ``sf``: ``orders`` has
    1.5M·sf rows and ``lineitem`` about four lines per order, with
    (l_orderkey, l_linenumber) unique."""
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(5, round(10_000 * sf))
    n_part = max(10, round(200_000 * sf))
    n_ord = max(10, round(1_500_000 * sf))
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
    }
    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(SEGMENTS, n_cust),
    })
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })
    r = _rng(seed, "part")
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(r.choice(PART_ADJ, n_part), r.choice(PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    r = _rng(seed, "orders")
    order_days = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", order_days),
        "o_orderpriority": r.choice(PRIORITIES, n_ord),
    })
    r = _rng(seed, "lineitem")
    lines = r.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": _days("1995-01-01", order_days[okey] + r.integers(1, 122, n_li)),
    })
    return out


def events_table(seed: int, sf: float) -> pa.Table:
    """1M·sf click-stream events over 30 days, ``ts`` ascending with
    ``event_id``."""
    n = max(100, round(1_000_000 * sf))
    r = _rng(seed, "events")
    offsets = np.sort(r.integers(0, 30 * 86_400_000_000, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]"),
        "user_id": r.integers(0, max(10, round(15_000 * sf)), n).astype(np.int64),
        "event_type": r.choice(EVENT_TYPES, n),
        "value": np.round(np.minimum(r.gamma(1.0, 25.0, n) + 0.01, 490.0), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def _pick_copies(r: np.random.Generator, n: int):
    """Two disjoint (src, dst) row pairings, each a ``DUP_SHARE`` of
    ``n``: exact copies and near copies. No row is both a source and a
    copy."""
    k = int(n * DUP_SHARE)
    idx = r.permutation(n)
    return (idx[:k], idx[k:2 * k]), (idx[2 * k:3 * k], idx[3 * k:4 * k])


def documents_table(seed: int, n: int) -> pa.Table:
    """``n`` documents of 10-100 words; a ``DUP_SHARE`` of them are exact
    copies of another document and another ``DUP_SHARE`` near copies
    (one word replaced by ``dup``). ``doc_id`` is a seeded permutation."""
    r = _rng(seed, "documents")
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[r.integers(0, len(vocab), k)]) for k in r.integers(10, 101, n)]
    (src, dst), (near_src, near_dst) = _pick_copies(r, n)
    for s, d in zip(src, dst):
        texts[d] = texts[s]
    for s, d in zip(near_src, near_dst):
        words = texts[s].split(" ")
        words[r.integers(0, len(words))] = "dup"
        texts[d] = " ".join(words)
    ids = r.permutation(n).astype(np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": r.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings_table(seed: int, n: int) -> pa.Table:
    """``n`` unit vectors of dimension 64 with labels 0-9; a ``DUP_SHARE``
    exact copies and another ``DUP_SHARE`` near copies (small noise,
    re-normalized). ``vec_id`` is a seeded permutation."""
    r = _rng(seed, "embeddings")
    x = r.standard_normal((n, EMBED_DIM))
    (src, dst), (near_src, near_dst) = _pick_copies(r, n)
    x[dst] = x[src]
    x[near_dst] = x[near_src] + 0.05 * r.standard_normal((len(near_src), EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": r.permutation(n).astype(np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n).astype(np.int32),
    })


def _zipf_weights(r: np.random.Generator, n: int) -> np.ndarray:
    """Skewed key popularity over a seeded ranking of ``n`` keys."""
    w = np.empty(n)
    w[r.permutation(n)] = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


def order_changes(
    seed: int, orders: pa.Table, n_cycles: int, batch_rows: int
) -> tuple[pa.Table, list[pa.Table]]:
    """The initial ``orders`` extract and ``n_cycles`` change batches.

    Each batch holds ``batch_rows`` distinct keys: 90% updates of existing
    keys chosen with Zipf-skewed popularity (so SCD2 history chains
    form), 10% new keys. Every update moves ``o_totalprice`` by at least
    1.00, so each landed row is a real new version; about 1% of rows
    carry a NULL ``o_orderstatus`` (a DQ null-check violation).
    ``o_updated_at`` is the ordering column: the extract is stamped
    ``T0``, batch ``c`` (1-based) ``T0 + c`` hours."""
    r = _rng(seed, "order_changes")
    cols = {
        c: orders.column(c).to_numpy(zero_copy_only=False).copy()
        for c in orders.column_names
    }
    cols["o_orderstatus"] = cols["o_orderstatus"].astype(object)
    n = len(cols["o_orderkey"])
    initial = orders.append_column("o_updated_at", pa.array(np.full(n, T0)))
    weights = _zipf_weights(r, n)
    n_cust = int(cols["o_custkey"].max()) + 1
    next_key = int(cols["o_orderkey"].max()) + 1
    batches = []
    for c in range(1, n_cycles + 1):
        n_new = batch_rows // 10
        upd = r.choice(n, batch_rows - n_new, replace=False, p=weights)
        # a step of at least 1.00, down only where the price stays >= 1.00
        step = _money(r, 1.0, 500.0, len(upd))
        old = cols["o_totalprice"][upd]
        down = (r.random(len(upd)) < 0.5) & (old - step >= 1.0)
        price = np.round(np.where(down, old - step, old + step), 2)
        cols["o_totalprice"][upd] = price
        status = r.choice(np.array(["F", "O", "P"], dtype=object), batch_rows)
        status[r.random(batch_rows) < 0.01] = None
        new_keys = np.arange(next_key, next_key + n_new, dtype=np.int64)
        next_key += n_new
        batches.append(pa.table({
            "o_orderkey": np.concatenate([cols["o_orderkey"][upd], new_keys]),
            "o_custkey": np.concatenate([
                cols["o_custkey"][upd], r.integers(0, n_cust, n_new).astype(np.int64)
            ]),
            "o_orderstatus": pa.array(list(status), pa.string()),
            "o_totalprice": np.concatenate([price, _money(r, 1000.0, 500_000.0, n_new)]),
            "o_orderdate": np.concatenate([
                cols["o_orderdate"][upd], _days("2001-08-01", r.integers(0, 30, n_new))
            ]),
            "o_orderpriority": np.concatenate([
                cols["o_orderpriority"][upd], r.choice(PRIORITIES, n_new)
            ]),
            "o_updated_at": np.full(batch_rows, T0 + np.timedelta64(c, "h")),
        }))
    return initial, batches


def customer_changes(
    seed: int, customer: pa.Table, n_cycles: int, files: int, file_rows: int
) -> tuple[pa.Table, list[list[pa.Table]]]:
    """The initial ``customer`` extract and, per cycle, ``files`` small
    files of ``file_rows`` rows. Keys are distinct within a cycle (90%
    updates of existing customers, 10% new ones); ``c_updated_at`` orders
    versions."""
    r = _rng(seed, "customer_changes")
    n = customer.num_rows
    initial = customer.append_column("c_updated_at", pa.array(np.full(n, T0)))
    next_key = n
    cycles = []
    for c in range(1, n_cycles + 1):
        rows = files * file_rows
        n_new = rows // 10
        keys = np.concatenate([
            r.choice(n, rows - n_new, replace=False).astype(np.int64),
            np.arange(next_key, next_key + n_new, dtype=np.int64),
        ])
        next_key += n_new
        keys = keys[r.permutation(rows)]
        batch = pa.table({
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": r.integers(0, 25, rows).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, rows),
            "c_mktsegment": r.choice(SEGMENTS, rows),
            "c_updated_at": np.full(rows, T0 + np.timedelta64(c, "h")),
        })
        cycles.append([batch.slice(i * file_rows, file_rows) for i in range(files)])
    return initial, cycles


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)
