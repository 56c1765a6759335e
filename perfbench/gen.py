"""Deterministic fixture generator for graft-bench.

Writes the ten fixture tables graft reads (`Tables.scala`): a TPC-H-like
star schema, an `events` table, a `documents` corpus with near-duplicates
and an `embeddings` table. Schemas, physical parquet types and value
distributions follow FIXTURES.md, so every registered row runs on the
output. The same (sf, seed) always gives byte-identical files.

    python3 perfbench/gen.py <out_dir> <sf> [seed]
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "shiny", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def sizes(sf):
    n = lambda base, lo=1: max(lo, int(round(base * sf)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000), "events": n(1_000_000),
        "documents": n(50_000, 500), "embeddings": n(20_000, 500),
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def write(out, name, cols):
    # One row group, like the reference fixtures: file listings and splits
    # then match what graft's scans were tuned on.
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30, compression="snappy")


def generate(out, sf, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    z = sizes(sf)
    ids = lambda k: pa.array(np.arange(z[k], dtype=np.int64))

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    nc = z["customer"]
    write(out, "customer", {
        "c_custkey": ids("customer"),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pick(rng, SEGMENTS, nc),
    })
    ns = z["supplier"]
    write(out, "supplier", {
        "s_suppkey": ids("supplier"),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, ns)),
    })
    npart = z["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    write(out, "part", {
        "p_partkey": ids("part"),
        "p_name": pick(rng, names, npart),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) / 10, 1)),
    })
    no = z["orders"]
    write(out, "orders", {
        "o_orderkey": ids("orders"),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(money(rng, 1000, 500_000, no)),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2405, no) * np.timedelta64(1, "D")),
        "o_orderpriority": pick(rng, PRIORITIES, no),
    })
    nl = z["lineitem"]
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900, 105_000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": pick(rng, ["F", "O"], nl),
        "l_shipdate": pa.array(EPOCH_1995 + (1 + rng.integers(0, 2499, nl)) * np.timedelta64(1, "D")),
    })
    ne = z["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne))
    write(out, "events", {
        "event_id": ids("events"),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(2, ne // 66), ne, dtype=np.int64)),
        "event_type": pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = z["documents"]
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 101, nd)]
    # 5% near-duplicates (another document plus one marker token) and a
    # few exact copies, so exact and near dedup both have work to find.
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    for i in np.flatnonzero(rng.random(nd) < 0.002):
        texts[i] = texts[int(rng.integers(0, nd))]
    write(out, "documents", {
        "doc_id": ids("documents"),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    nv = z["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": ids("embeddings"),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32)),
    })


CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                  "documents", "embeddings"]


def generate_catalog(fixture, out, pool_rows=16):
    """Inputs of the refresh workload, from generated fixture tables: one
    directory per catalog table, `events` partitioned by date and hour,
    a pool of small files to land behind the catalog's back, and the row
    count of every table, partition and pool file in `counts.tsv`."""
    counts = {}
    os.makedirs(os.path.join(out, "pool"))
    for t in CATALOG_TABLES:
        src = os.path.join(fixture, f"{t}.parquet")
        os.makedirs(os.path.join(out, "catalog", t))
        shutil.copyfile(src, os.path.join(out, "catalog", t, "part-00000.parquet"))
        tb = pq.read_table(src)
        pq.write_table(tb.slice(0, pool_rows), os.path.join(out, "pool", f"{t}.parquet"))
        counts[t] = tb.num_rows
        counts[f"pool/{t}"] = min(pool_rows, tb.num_rows)
    ev = pq.read_table(os.path.join(fixture, "events.parquet"))
    ts = ev["ts"].to_numpy()
    day = ts.astype("datetime64[D]")
    hour = ((ts - day) // np.timedelta64(1, "h")).astype(np.int64)
    cols = ev.select(["event_id", "user_id", "event_type", "value"])
    keys = day.astype(np.int64) * 24 + hour
    order = np.argsort(keys, kind="stable")
    bounds = np.flatnonzero(np.diff(keys[order])) + 1
    for idx in np.split(order, bounds):
        d, h = str(day[idx[0]]), int(hour[idx[0]])
        part = f"event_date={d}/event_hour={h}"
        os.makedirs(os.path.join(out, "catalog", "events", part))
        pq.write_table(cols.take(idx), os.path.join(out, "catalog", "events", part, "part-00000.parquet"))
        counts[part] = len(idx)
    pq.write_table(cols.slice(0, pool_rows), os.path.join(out, "pool", "events.parquet"))
    counts["pool/events"] = min(pool_rows, ev.num_rows)
    with open(os.path.join(out, "counts.tsv"), "w") as fh:
        fh.writelines(f"{k}\t{v}\n" for k, v in sorted(counts.items()))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
