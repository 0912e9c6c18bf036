#!/usr/bin/env python
"""Pinned copy of tools/gen_testdata.py: the benchmark's input generator.

The benchmark generates its tables with this file, not with the tool,
so that a change to the tool cannot change the benchmark's inputs. The
generation code below is identical to the tool's at the time the
benchmark was defined; only this docstring differs.

Table shapes (seed 42):
  region    5 fixed rows (AFRICA..MIDDLE EAST)
  nation    25 rows, NATION_i, n_regionkey = i % 5
  customer  150000*sf  Customer#%09d, nation uniform, acctbal U(-1000,10000),
            mktsegment uniform 5
  supplier  10000*sf   Supplier#%09d, nation uniform, acctbal U(0,10000)
  part      200000*sf  name = "<adj> <noun>", brand Brand#0..24, type uniform
            {ECONOMY,LARGE,MEDIUM,PROMO,SMALL,STANDARD}, size U{1..50},
            retailprice 900 + (key%1000)/10
  orders    1500000*sf custkey uniform over customers, status uniform {F,O,P},
            totalprice U(1000,500000) 2dp, orderdate U(1995-01-01..2001-08-01)
            midnight, priority uniform 5
  lineitem  6000000*sf orderkey uniform over orders (so ~1.8% of orders have
            no lineitems, matching 147236/150000 distinct), partkey/suppkey
            uniform, linenumber U{1..7} (repeats allowed), quantity
            integer-valued U{1..50} as double, extendedprice U(900,105000) 2dp
            independent of quantity (corr ~ 0.001), discount
            {0.00..0.10}, tax {0.00..0.08}, shipdate independent uniform date
            + U{1..95} days (diff vs orderdate spans -2399..+2496, mean ~48)
  events    1000000*sf event_id sequential, ts sorted uniform over 2024-01-01..
            2024-01-31 (timestamp[us]), user_id uniform over 15000*sf users,
            event_type uniform {click,error,purchase,signup,view}, value
            Exponential(50) 2dp, props = '{"k": N}' with N U{0..99}
  documents max(500, 50000*sf) docs, 30-word vocab, U{10..100} words,
            lang {en:0.41, de/es/fr/zh: ~0.1475}, source src0..src19
            round-robin-ish, n_chars = len(text); ~5% of docs are
            near-duplicates of an earlier doc with one token replaced by
            'dup' (a handful collapse to exact duplicates)
  embeddings max(500, 20000*sf) unit-normalised float32[64] vectors with 10
            weakly-separated gaussian clusters (per-label centers have norm
            ~0.07 before normalisation, within-cluster std ~0.125/dim)

Timestamps are written as parquet timestamp[us] (isAdjustedToUTC=false).

Usage: python gen_testdata.py <sf> <out_dir> [--row-group-rows N]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["large", "hot", "blue", "old", "small", "red", "new", "cold", "green", "dark"]
NOUNS = ["ring", "bolt", "plate", "screw", "wheel", "pipe", "cap", "rod", "gear", "pin"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

US_PER_DAY = 86_400_000_000


def _ts_us(date_str: str) -> int:
    return int(np.datetime64(date_str, "us").astype(np.int64))


def _write(out_dir: str, name: str, table: pa.Table, row_group_rows: int) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=row_group_rows)
    print(f"  {name}: {table.num_rows:,} rows -> {path}")


def generate(sf: float, out_dir: str, row_group_rows: int = 262_144) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(42)
    ts_us = pa.timestamp("us")

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), row_group_rows)

    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), row_group_rows)

    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.randint(0, 5, n_cust)]),
    }), row_group_rows)

    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(0, 10000, n_supp), 2),
    }), row_group_rows)

    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(pk),
        "p_name": [f"{ADJS[rng.randint(10)]} {NOUNS[rng.randint(10)]}" for _ in range(n_part)],
        "p_brand": pa.array([f"Brand#{b}" for b in rng.randint(0, 25, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.randint(0, 6, n_part)]),
        "p_size": pa.array(rng.randint(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    }), row_group_rows)

    od_lo, od_hi = _ts_us("1995-01-01"), _ts_us("2001-08-01")
    odate_days = rng.randint(0, (od_hi - od_lo) // US_PER_DAY + 1, n_ord).astype(np.int64)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.randint(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(od_lo + odate_days * US_PER_DAY, ts_us),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.randint(0, 5, n_ord)]),
    }), row_group_rows)

    ship_days = (rng.randint(0, (od_hi - od_lo) // US_PER_DAY + 1, n_li)
                 + rng.randint(1, 96, n_li)).astype(np.int64)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.randint(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.randint(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.randint(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.randint(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.randint(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.randint(0, 2, n_li)]),
        "l_shipdate": pa.array(od_lo + ship_days * US_PER_DAY, ts_us),
    }), row_group_rows)

    ev_lo, ev_hi = _ts_us("2024-01-01"), _ts_us("2024-01-31")
    ev_ts = np.sort(rng.randint(ev_lo, ev_hi, n_ev).astype(np.int64))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, ts_us),
        "user_id": pa.array(rng.randint(0, n_users, n_ev).astype(np.int64)),
        "event_type": pa.array(np.array(ETYPES)[rng.randint(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)]),
    }), row_group_rows)

    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.rand() < 0.05:
            base = texts[rng.randint(0, i)].split()
            if len(base) > 1:
                base[rng.randint(0, len(base))] = "dup"
            texts.append(" ".join(base))
        else:
            nw = rng.randint(10, 101)
            texts.append(" ".join(vocab[rng.randint(0, len(vocab), nw)]))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in rng.randint(0, 10_000, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), row_group_rows)

    centers = rng.normal(0, 0.01, (10, 64))
    labels = rng.randint(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0, 0.125, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }), row_group_rows)


if __name__ == "__main__":
    sf = float(sys.argv[1])
    out = sys.argv[2]
    rg = int(sys.argv[3]) if len(sys.argv) > 3 else 262_144
    print(f"generating sf={sf} into {out}")
    generate(sf, out, rg)
    print("done")
