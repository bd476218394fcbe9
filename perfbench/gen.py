"""Seeded input generator: the ten fixture tables, from nothing but a seed.

The tables have the schemas and value distributions of the synthetic
fixture described in FIXTURES.md part B: a TPC-H-like star schema, an
`events` stream, a `documents` corpus over a 30-word vocabulary with
5% near-duplicates ("<earlier doc> dup") and a few exact duplicates, and
64-dim unit `embeddings`. `sf` scales row counts the way the fixture
does (sf=0.1 gives 893,030 rows in all).

The same (seed, sf) always gives the same tables and the same parquet
bytes. Each timed pass gets its own copy (`copy_inputs`) at a path never
used before, so no path-keyed cache in the engine can serve one pass from
another.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "screw", "nut", "gear", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _days(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    a, b = _epoch_us(*lo) // _DAY_US, _epoch_us(*hi) // _DAY_US
    return pa.array(rng.integers(a, b + 1, n) * _DAY_US, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale `sf`; the two corpus tables have floors
    (500 rows) as in the fixture."""
    n = {
        "region": 5,
        "nation": 25,
        "customer": 150_000 * sf,
        "supplier": 10_000 * sf,
        "part": 200_000 * sf,
        "orders": 1_500_000 * sf,
        "lineitem": 6_000_000 * sf,
        "events": 1_000_000 * sf,
        "documents": max(500, 50_000 * sf),
        "embeddings": max(500, 20_000 * sf),
    }
    return {k: max(1, int(round(v))) for k, v in n.items()}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n)]
    # Near-duplicates: 5% of docs repeat an earlier doc plus one token;
    # exact duplicates: 0.2% repeat one verbatim.
    later = rng.permutation(np.arange(1, n))
    n_near, n_exact = n // 20, max(1, n // 500)
    for i in later[:n_near]:
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in later[n_near:n_near + n_exact]:
        texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables for (seed, sf). Each table draws from its own
    stream, so changing one table's recipe leaves the others' bytes."""
    n = row_counts(sf)
    streams = np.random.SeedSequence(seed).spawn(len(TABLE_NAMES))
    r = {name: np.random.default_rng(s) for name, s in zip(TABLE_NAMES, streams)}
    i64 = lambda k: pa.array(np.arange(k, dtype=np.int64))  # noqa: E731
    users = max(1, n["events"] * 15 // 1000)
    ev_ts = np.sort(r["events"].integers(_epoch_us(2024, 1, 1), _epoch_us(2024, 1, 31), n["events"]))
    rl, ro = r["lineitem"], r["orders"]
    qty = rl.integers(1, 51, n["lineitem"]).astype(np.float64)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": i64(n["customer"]),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(r["customer"].integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": _money(r["customer"], n["customer"], -999.99, 9999.99),
            "c_mktsegment": _pick(r["customer"], SEGMENTS, n["customer"]),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(n["supplier"]),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(r["supplier"].integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": _money(r["supplier"], n["supplier"], -999.99, 9999.99),
        }),
        "part": pa.table({
            "p_partkey": i64(n["part"]),
            "p_name": pa.array([
                f"{a} {b}" for a, b in zip(
                    np.asarray(PART_ADJ)[r["part"].integers(0, 8, n["part"])],
                    np.asarray(PART_NOUN)[r["part"].integers(0, 8, n["part"])],
                )
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in r["part"].integers(1, 26, n["part"])]),
            "p_type": _pick(r["part"], PART_TYPES, n["part"]),
            "p_size": pa.array(r["part"].integers(1, 51, n["part"]).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 1)),
        }),
        "orders": pa.table({
            "o_orderkey": i64(n["orders"]),
            "o_custkey": pa.array(ro.integers(0, n["customer"], n["orders"])),
            "o_orderstatus": _pick(ro, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(ro, n["orders"], 1000.0, 500_000.0),
            "o_orderdate": _days(ro, n["orders"], (1995, 1, 1), (2001, 8, 1)),
            "o_orderpriority": _pick(ro, PRIORITIES, n["orders"]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rl.integers(0, n["orders"], n["lineitem"])),
            "l_partkey": pa.array(rl.integers(0, n["part"], n["lineitem"])),
            "l_suppkey": pa.array(rl.integers(0, n["supplier"], n["lineitem"])),
            "l_linenumber": pa.array(rl.integers(1, 8, n["lineitem"]).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rl.uniform(900.0, 2100.0, n["lineitem"]), 2)),
            "l_discount": pa.array(rl.integers(0, 11, n["lineitem"]) / 100.0),
            "l_tax": pa.array(rl.integers(0, 9, n["lineitem"]) / 100.0),
            "l_returnflag": _pick(rl, ["A", "N", "R"], n["lineitem"]),
            "l_linestatus": _pick(rl, ["F", "O"], n["lineitem"]),
            "l_shipdate": _days(rl, n["lineitem"], (1995, 1, 2), (2001, 11, 4)),
        }),
        "events": pa.table({
            "event_id": i64(n["events"]),
            "ts": pa.array(ev_ts, type=pa.timestamp("us")),
            "user_id": pa.array(r["events"].integers(0, users, n["events"])),
            "event_type": _pick(r["events"], EVENT_TYPES, n["events"]),
            "value": pa.array(np.round(np.minimum(r["events"].exponential(50.0, n["events"]), 600.0), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in r["events"].integers(0, 100, n["events"])]),
        }),
        "documents": _documents(r["documents"], n["documents"]),
        "embeddings": _embeddings(r["embeddings"], n["embeddings"]),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def copy_inputs(src_dir: str, dst_dir: str) -> None:
    """A byte-identical copy with fresh inodes and mtimes, so caches
    keyed on path, or on size and mtime, miss."""
    os.makedirs(dst_dir)
    for name in TABLE_NAMES:
        shutil.copyfile(os.path.join(src_dir, f"{name}.parquet"), os.path.join(dst_dir, f"{name}.parquet"))
