"""Seeded parquet inputs for the benchmark.

``ensure_base`` writes the ten registry tables (region nation customer supplier part
orders lineitem events documents embeddings) at the sf0.1 shape of the
driver-generated test data: the same parquet schemas, row counts, key ranges
and value domains (``check_base.py`` compares the two). Many columns are
identical to the test data; the rest are other draws from the same
distributions. Its content is fixed by ``BASE_SEED`` so every run of the sf0.1
workloads reads identical bytes; the run seed only orders the entries.

``ensure_replica`` writes the 10x input of ``star_10x`` from the base: the
star tables and ``events`` are copied ``N_REPLICAS`` times into disjoint key
ranges (foreign keys shift with the primary key they reference, so every join
stays inside its replica; nation and region stay fixed; events keep their
timestamps, so the replica has 10x the users, not longer histories), then the
rows are shuffled and split over ``N_FILES`` files per table. The seed picks each
replica's key slot and the row order. ``documents`` and ``embeddings`` are
copied unreplicated because the star queries never read them.

Generation is independent of ``tools/scale_probe.py`` on purpose: editing the
probe cannot change the benchmark's inputs.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change for a given seed; a cached directory
# stamped with another version is rebuilt.
LAYOUT_VERSION = 3
BASE_SEED = 42
SF = 0.1
N_REPLICAS = 10
N_FILES = 8

# Key columns of each replicated table with the replica step of the key
# space they live in: a foreign key uses the step of its primary key.
_STEP = {"order": 10**9, "cust": 10**7, "part": 10**7, "supp": 10**6,
         "event": 10**9, "user": 10**8}
KEY_SHIFTS: dict[str, dict[str, str]] = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _days(start: str, n: int, rng: np.random.Generator, span: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def base_tables(sf: float = SF, seed: int = BASE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    i32 = np.int32
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.asarray(_ADJ, dtype=object)[rng.integers(0, len(_ADJ), n_part)]
    noun = np.asarray(_NOUN, dtype=object)[rng.integers(0, len(_NOUN), n_part)]
    pkeys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pkeys,
            "p_name": pa.array(adj + " " + noun, pa.string()),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900.0 + (pkeys % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days("1995-01-01", n_ord, rng, 2405),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days("1995-01-02", n_li, rng, 2499),
        }
    )
    # Strictly increasing microsecond timestamps over 30 days: no two events
    # share a ts, so orderings by ts are total.
    month_us = 30 * 86_400 * 10**6
    ts = np.unique(rng.integers(0, month_us, n_ev * 2))
    ts = np.sort(rng.choice(ts, n_ev, replace=False))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_user, n_ev),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()
            ),
        }
    )
    words = np.asarray(_WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
        for _ in range(n_doc)
    ]
    # 5% near-duplicates: another document's text with one extra token.
    dup_ids = rng.choice(n_doc, n_doc // 20, replace=False)
    originals = np.setdiff1d(np.arange(n_doc), dup_ids)
    for d, src in zip(dup_ids, rng.choice(originals, len(dup_ids))):
        texts[d] = texts[src] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_emb).astype(i32),
        }
    )
    return t


def replicate(table: pa.Table, name: str, rng: np.random.Generator) -> pa.Table:
    """``N_REPLICAS`` copies of ``table`` in disjoint, seed-placed key slots."""
    shifts = KEY_SHIFTS[name]
    slots = rng.permutation(N_REPLICAS)
    parts = []
    for rep in range(N_REPLICAS):
        cols = {}
        for col in table.column_names:
            arr = table[col]
            if col in shifts:
                arr = pa.array(
                    arr.to_numpy() + int(slots[rep]) * _STEP[shifts[col]]
                )
            cols[col] = arr
        parts.append(pa.table(cols))
    return pa.concat_tables(parts)


def write_shuffled(table: pa.Table, out_dir: str, rng: np.random.Generator,
                   pool: ThreadPoolExecutor) -> None:
    """Write ``table``'s rows in seed order over ``N_FILES`` files."""
    os.makedirs(out_dir)
    chunks = np.array_split(rng.permutation(table.num_rows), N_FILES)

    def write(i: int) -> None:
        pq.write_table(table.take(pa.array(chunks[i])),
                       os.path.join(out_dir, f"part-{i:05d}.parquet"))

    list(pool.map(write, range(N_FILES)))


def _stamp_ok(path: str, stamp: dict) -> bool:
    try:
        with open(os.path.join(path, "layout.json")) as f:
            return json.load(f) == stamp
    except (OSError, ValueError):
        return False


def _fresh_dir(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)


def _write_stamp(path: str, stamp: dict) -> None:
    # Written last: an interrupted build leaves no stamp and is rebuilt.
    with open(os.path.join(path, "layout.json"), "w") as f:
        json.dump(stamp, f)


def ensure_base(root: str) -> tuple[str, float]:
    """The sf0.1 base directory under ``root`` and the seconds spent
    generating it (0.0 when cached)."""
    path = os.path.join(root, "base")
    stamp = {"layout_version": LAYOUT_VERSION, "seed": BASE_SEED, "sf": SF}
    if _stamp_ok(path, stamp):
        return path, 0.0
    t0 = time.perf_counter()
    _fresh_dir(path)
    for name, table in base_tables().items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
    _write_stamp(path, stamp)
    return path, time.perf_counter() - t0


def ensure_replica(root: str, seed: int) -> tuple[str, float]:
    """The seed's 10x replica directory under ``root`` and the seconds spent
    generating it (0.0 when cached). Only the newest seed is kept."""
    base, _ = ensure_base(root)
    path = os.path.join(root, "x10")
    stamp = {"layout_version": LAYOUT_VERSION, "seed": seed,
             "replicas": N_REPLICAS, "files": N_FILES, "base_seed": BASE_SEED}
    if _stamp_ok(path, stamp):
        return path, 0.0
    t0 = time.perf_counter()
    _fresh_dir(path)
    rng = np.random.default_rng([seed, LAYOUT_VERSION])
    with ThreadPoolExecutor(4) as pool:
        for fname in sorted(os.listdir(base)):
            name, ext = os.path.splitext(fname)
            if ext != ".parquet":
                continue
            src = os.path.join(base, fname)
            if name not in KEY_SHIFTS:
                shutil.copyfile(src, os.path.join(path, fname))
                continue
            write_shuffled(replicate(pq.read_table(src), name, rng),
                           os.path.join(path, fname), rng, pool)
    _write_stamp(path, stamp)
    return path, time.perf_counter() - t0

