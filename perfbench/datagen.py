"""Deterministic input generation for the benchmark.

``write_tables`` writes the ten tables the package's catalog knows
(TPC-H-like star schema, an ``events`` stream table and the LLM
``documents``/``embeddings`` pair) as one parquet file each, with the
schema the query registry is written against. Table contents depend
only on the scale, never on the workload seed, so every seed sees the
same table shapes.

``write_landing`` writes the seed-dependent CSV landing zone of the
ingest job: a copy of one increment of ``lineitem`` with an
``ingest_seq`` column, in which seed-chosen rows arrive twice (a later
corrected copy) and other seed-chosen rows arrive late, in a second
file.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DATA_SEED = 20240101
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["red", "blue", "hot", "new", "small", "large", "old", "green"]
_NOUN = ["bolt", "ring", "rod", "plate", "anvil", "gear", "nut", "pipe"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_WORDS = (
    "a the data spark table column row key value hash sort order join "
    "filter group agg scan merge window stream batch query vector part "
    "line customer fast slow big small"
).split()
_LANGS = ["en", "es", "de", "fr", "zh"]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _labels(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS)
    lengths = rng.integers(8, 96, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # planted duplicates: ~0.2% exact copies and ~2% near copies (one
    # appended token), so both exact and MinHash dedup find real work
    n_exact, n_near = max(1, n // 500), max(1, n // 50)
    src = rng.choice(n // 2, n_exact + n_near, replace=False)
    dst = rng.choice(np.arange(n // 2, n), n_exact + n_near, replace=False)
    for i, (s, d) in enumerate(zip(src.tolist(), dst.tolist())):
        texts[d] = texts[s] if i < n_exact else texts[s] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.integers(0, 5, n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n).tolist()]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(size=(10, 64))
    vecs = centroids[labels] + rng.normal(scale=1.5, size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels),
    })


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (sf=1 ~ 6M lineitem rows)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events, n_docs, n_vecs = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _labels("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _labels("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj.tolist(), noun.tolist())],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()],
        "p_type": np.array(_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    odays = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + odays * _DAY_US),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(ok, lines)
    n_li = len(l_ord)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(
            _EPOCH_1995 + (np.repeat(odays, lines) + rng.integers(1, 122, n_li)) * _DAY_US
        ),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + ts),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_events).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events).tolist()],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def write_tables(out_dir: str, sf: float) -> dict[str, int]:
    """Write every table to ``out_dir/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(sf).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
        rows[name] = table.num_rows
    return rows


def write_landing(data_dir: str, landing_dir: str, seed: int) -> dict[str, int]:
    """CSV landing copy of one increment of lineitem for the ingest job:
    the lines of the first quarter of the orders.

    ``ingest_seq`` orders arrivals. A seed-chosen 2% of rows arrive a
    second time with a corrected quantity and a higher ``ingest_seq``;
    a seed-chosen 5% arrive late, in their own file. The latest
    arrival per (l_orderkey, l_linenumber) is the expected survivor.
    """
    rng = np.random.default_rng(seed)
    li = pq.read_table(f"{data_dir}/lineitem.parquet")
    keys = np.asarray(li.column("l_orderkey"))
    li = li.filter(pa.array(keys < (keys.max() + 1) // 4))
    n = li.num_rows
    li = li.append_column("ingest_seq", pa.array(np.arange(n, dtype=np.int64)))
    dup = np.sort(rng.choice(n, n // 50, replace=False))
    fix = li.take(pa.array(dup))
    qty = np.asarray(fix.column("l_quantity")) + rng.integers(1, 5, len(dup))
    fix = fix.set_column(fix.schema.get_field_index("l_quantity"), "l_quantity", pa.array(qty))
    fix = fix.set_column(
        fix.schema.get_field_index("ingest_seq"), "ingest_seq",
        pa.array(np.arange(n, n + len(dup), dtype=np.int64)),
    )
    late = np.zeros(n, dtype=bool)
    late[rng.choice(n, n // 20, replace=False)] = True
    os.makedirs(landing_dir, exist_ok=True)
    opts = pacsv.WriteOptions(include_header=True)
    on_time = li.filter(pa.array(~late))
    pacsv.write_csv(on_time, f"{landing_dir}/part-0.csv", opts)
    pacsv.write_csv(pa.concat_tables([li.filter(pa.array(late)), fix]),
                    f"{landing_dir}/part-1-late.csv", opts)
    return {"landing_rows": n + len(dup), "duplicated": len(dup), "late": int(late.sum())}
