#!/usr/bin/env python3
"""Seeded input generator of the benchmark.

Writes the tables graft's pipelines read, in graft's test layout (one
parquet file per table, with the sf-named test tables' columns). Every
random choice is an xxhash64 of (seed, column tag, row key) — the hash
Spark's `xxhash64` uses — so a seed always gives byte-identical files, and
any row can be re-derived alone.

Three directories:
  base/    customer, part, orders, lineitem: the first daily load. It is
           drawn from the fixed BASE_SEED, not the run's seed, so every
           run loads its delta on top of the same base zones (built once
           per build, see build.py).
  delta/   the next day's customer, part, orders and lineitem, from the
           run's seed: new orders with planted rule violations, and
           customers with changed SCD2 attributes.
  corpus/  documents, from the run's seed, with planted exact and
           near-duplicate clones.

Usage: python3 perfbench/gen.py <seed> <out-dir> [dwh|corpus|base]
"""
import json
import pathlib
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per unit of scale, as in graft's sf-named test tables.
# (supplier is only the range of l_suppkey: no pipeline reads the table)
ROWS_PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
               "orders": 1_500_000, "documents": 50_000}
LINES_PER_ORDER = 4
SCALE = {"relational": 0.02, "documents": 0.02}
# the base day every run's delta is loaded on top of
BASE_SEED = 20260101
# a document's source index is SOURCES * u^4 (u uniform): src0 holds ~47 %
# of the documents and outgrows the pipeline's per-source cap
SOURCES = 20

# Planted faults and clones, as shares of the rows they apply to.
RATES = {
    "delta_null_custkey": 0.005,
    "delta_unknown_custkey": 0.005,
    "delta_nonpositive_price": 0.005,
    "delta_duplicate_orderkey": 0.005,
    "delta_changed_customer": 0.05,
    "delta_new_customer": 0.01,
    "doc_exact_clone": 0.03,
    "doc_near_clone": 0.03,
}
EXACT_CLONE_BASE = 1_000_000
NEAR_CLONE_BASE = 2_000_000
UNKNOWN_CUSTKEY_BASE = 10_000_000

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = [("en", 0.4), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

# ---- xxhash64 of one 8-byte long (Spark's XXH64.hashLong), vectorised ----
P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x, r):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64_long(values, seed):
    """XXH64 of each int64 in `values` with the given seed, as uint64."""
    with np.errstate(over="ignore"):
        v = np.asarray(values).astype(np.int64).view(np.uint64)
        h = np.uint64(np.int64(seed).view(np.uint64)) + P5 + np.uint64(8)
        h = h ^ (_rotl(v * P2, 31) * P1)
        h = _rotl(h, 27) * P1 + P4
        h = h ^ (h >> np.uint64(33))
        h = h * P2
        h = h ^ (h >> np.uint64(29))
        h = h * P3
        return h ^ (h >> np.uint64(32))


class Rng:
    """Keyed draws: stream(tag)(keys) = xxhash64(keys, xxhash64(tag, seed))."""

    def __init__(self, seed):
        self.seed = int(seed)

    def bits(self, tag, keys):
        sub = xxh64_long(np.array([zlib.crc32(tag.encode())]), self.seed)[0]
        return xxh64_long(keys, sub.view(np.int64))

    def unit(self, tag, keys):
        return (self.bits(tag, keys) >> np.uint64(11)).astype(np.float64) / float(1 << 53)

    def ints(self, tag, keys, lo, hi):
        return lo + (self.bits(tag, keys) % np.uint64(hi - lo)).astype(np.int64)


def rows(table):
    scale = SCALE.get(table, SCALE["relational"])
    return max(1, int(round(ROWS_PER_SF[table] * scale)))


def days(start, offsets):
    return np.datetime64(start, "us") + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


def write(out, name, columns):
    out.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table(columns), str(out / f"{name}.parquet"), compression="snappy")


# ---- tables ----

def customer(rng, keys, tag="c"):
    return {"c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.ints(f"{tag}.nation", keys, 0, 25).astype(np.int32),
            "c_acctbal": np.round(rng.unit(f"{tag}.acctbal", keys) * 11000.0 - 1000.0, 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.ints(f"{tag}.segment", keys, 0, 5)]}


def part(rng):
    k = np.arange(rows("part"), dtype=np.int64)
    adj, noun = rng.ints("p.adj", k, 0, 8), rng.ints("p.noun", k, 0, 8)
    return {"p_partkey": k,
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.ints("p.brand", k, 1, 26)],
            "p_type": [PART_TYPES[t] for t in rng.ints("p.type", k, 0, 6)],
            "p_size": rng.ints("p.size", k, 1, 51).astype(np.int32),
            "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1)}


def orders(rng, keys, n_cust, tag="o"):
    return {"o_orderkey": keys,
            "o_custkey": rng.ints(f"{tag}.cust", keys, 0, n_cust),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.ints(f"{tag}.status", keys, 0, 3)],
            "o_totalprice": np.round(1000.0 + rng.unit(f"{tag}.price", keys) * 499000.0, 2),
            "o_orderdate": days("1995-01-01", rng.ints(f"{tag}.date", keys, 0, 2404)),
            "o_orderpriority": [PRIORITIES[i] for i in rng.ints(f"{tag}.prio", keys, 0, 5)]}


def lineitem(rng, order_keys, tag="l"):
    n = len(order_keys) * LINES_PER_ORDER
    k = np.arange(n, dtype=np.int64)
    return {"l_orderkey": order_keys[rng.ints(f"{tag}.order", k, 0, len(order_keys))],
            "l_partkey": rng.ints(f"{tag}.part", k, 0, rows("part")),
            "l_suppkey": rng.ints(f"{tag}.supp", k, 0, rows("supplier")),
            "l_linenumber": rng.ints(f"{tag}.lineno", k, 1, 8).astype(np.int32),
            "l_quantity": rng.ints(f"{tag}.qty", k, 1, 51).astype(np.float64),
            "l_extendedprice": np.round(900.0 + rng.unit(f"{tag}.price", k) * 104100.0, 2),
            "l_discount": rng.ints(f"{tag}.disc", k, 0, 11) / 100.0,
            "l_tax": rng.ints(f"{tag}.tax", k, 0, 9) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.ints(f"{tag}.rflag", k, 0, 3)],
            "l_linestatus": [("F", "O")[i] for i in rng.ints(f"{tag}.lstatus", k, 0, 2)],
            "l_shipdate": days("1995-01-02", rng.ints(f"{tag}.ship", k, 0, 2498))}


def doc_texts(rng, ids):
    n_tok = rng.ints("d.len", ids, 10, 50)
    grid = ids[:, None] * 64 + np.arange(49, dtype=np.int64)[None, :]
    words = rng.ints("d.word", grid.ravel(), 0, len(VOCAB)).reshape(grid.shape)
    dup = rng.ints("d.dup", ids, 0, 20) == 0
    return [" ".join([VOCAB[w] for w in words[i, :n_tok[i]]] + (["dup"] if dup[i] else []))
            for i in range(len(ids))]


def documents(rng):
    """Original documents plus the planted clones. An exact clone repeats
    its original's text under a new id; a near clone suffixes one token
    with "x" (ScaleProbe's light-mutation recipe)."""
    ids = np.arange(rows("documents"), dtype=np.int64)
    text = doc_texts(rng, ids)
    u = rng.unit("d.lang", ids)
    cuts = np.cumsum([w for _, w in LANGS])
    lang = [LANGS[int(np.searchsorted(cuts, x, side="right"))][0] for x in u]
    exact = np.nonzero(rng.unit("d.exact", ids) < RATES["doc_exact_clone"])[0]
    near = np.nonzero(rng.unit("d.near", ids) < RATES["doc_near_clone"])[0]
    src = (SOURCES * rng.unit("d.source", ids) ** 4).astype(np.int64)
    out_id, out_text, out_lang, out_src = list(ids), list(text), list(lang), list(src)
    for i in exact:
        out_id.append(EXACT_CLONE_BASE + i)
        out_text.append(text[i])
        out_lang.append(lang[i])
        out_src.append(src[i])
    pos = rng.ints("d.near.pos", ids, 0, 1 << 30)
    for i in near:
        toks = text[i].split(" ")
        j = int(pos[i] % len(toks))
        toks[j] = toks[j] + "x"
        out_id.append(NEAR_CLONE_BASE + i)
        out_text.append(" ".join(toks))
        out_lang.append(lang[i])
        out_src.append(src[i])
    cols = {"doc_id": np.array(out_id, dtype=np.int64), "text": out_text, "lang": out_lang,
            "source": [f"src{s}" for s in out_src],
            "n_chars": np.array([len(t) for t in out_text], dtype=np.int64)}
    return cols, {"documents": len(ids), "exact_clones": int(len(exact)),
                  "near_clones": int(len(near)),
                  "exact_clone_ids": [int(EXACT_CLONE_BASE + i) for i in exact]}


def delta_day(base_rng, rng, n_cust, base_order_count):
    """The next day's snapshot: the base day's customers, some with changed
    attributes, plus a few new ones, and a fresh set of orders with planted
    rule violations."""
    keys = np.arange(n_cust, dtype=np.int64)
    cust = customer(base_rng, keys)
    changed = rng.unit("dc.changed", keys) < RATES["delta_changed_customer"]
    cust["c_acctbal"] = np.where(changed, np.round(cust["c_acctbal"] + 1.0, 2),
                                 cust["c_acctbal"])
    n_new = int(round(n_cust * RATES["delta_new_customer"]))
    new = customer(rng, np.arange(n_cust, n_cust + n_new, dtype=np.int64), tag="dc.new")
    cust = {c: (np.concatenate([np.asarray(cust[c]), np.asarray(new[c])])
                if isinstance(cust[c], np.ndarray) else list(cust[c]) + list(new[c]))
            for c in cust}
    n_all = n_cust + n_new

    okeys = np.arange(base_order_count, 2 * base_order_count, dtype=np.int64)
    o = orders(rng, okeys, n_all, tag="do")
    u = rng.unit("do.fault", okeys)
    r = RATES
    c1 = r["delta_null_custkey"]
    c2 = c1 + r["delta_unknown_custkey"]
    c3 = c2 + r["delta_nonpositive_price"]
    c4 = c3 + r["delta_duplicate_orderkey"]
    null_ck = u < c1
    unknown = (u >= c1) & (u < c2)
    nonpos = (u >= c2) & (u < c3)
    dup = (u >= c3) & (u < c4)
    custkey = pa.array(np.where(unknown, UNKNOWN_CUSTKEY_BASE + okeys, o["o_custkey"]),
                       mask=null_ck)
    price = np.where(nonpos, -o["o_totalprice"], o["o_totalprice"])
    order_cols = dict(o, o_custkey=custkey, o_totalprice=price)
    table = pa.table(order_cols)
    table = pa.concat_tables([table, table.filter(pa.array(dup))])
    faults = {"null_custkey": int(null_ck.sum()), "unknown_custkey": int(unknown.sum()),
              "nonpositive_price": int(nonpos.sum()), "duplicate_orderkey": int(dup.sum()),
              "changed_customers": int(changed.sum()), "new_customers": n_new}
    return cust, table, lineitem(rng, okeys, tag="dl"), faults


def generate(seed, out, workload="dwh"):
    """Writes one workload's inputs under `out` and returns the manifest:
    base/ and delta/ for "dwh", corpus/ for "corpus", base/ alone for
    "base"."""
    out = pathlib.Path(out)
    base_rng, rng = Rng(BASE_SEED), Rng(seed)
    n_cust, n_ord = rows("customer"), rows("orders")
    manifest = {"seed": int(seed), "base_seed": BASE_SEED, "scale": SCALE, "rates": RATES,
                "rows": {t: rows(t) for t in ROWS_PER_SF if t != "supplier"}}
    if workload in ("dwh", "base"):
        base = out / "base"
        okeys = np.arange(n_ord, dtype=np.int64)
        write(base, "customer", customer(base_rng, np.arange(n_cust, dtype=np.int64)))
        write(base, "part", part(base_rng))
        write(base, "orders", orders(base_rng, okeys, n_cust))
        write(base, "lineitem", lineitem(base_rng, okeys))
    if workload == "dwh":
        delta = out / "delta"
        cust, delta_orders, delta_lines, faults = delta_day(base_rng, rng, n_cust, n_ord)
        write(delta, "customer", cust)
        pq.write_table(delta_orders, str(delta / "orders.parquet"), compression="snappy")
        write(delta, "lineitem", delta_lines)
        write(delta, "part", part(base_rng))
        manifest["delta_faults"] = faults
    if workload == "corpus":
        docs, manifest["documents"] = documents(rng)
        write(out / "corpus", "documents", docs)
    out.mkdir(parents=True, exist_ok=True)
    (out / "manifest.json").write_text(json.dumps(manifest, indent=1, sort_keys=True))
    return manifest


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        raise SystemExit(__doc__)
    m = generate(int(sys.argv[1]), sys.argv[2], *sys.argv[3:])
    print(json.dumps({k: v for k, v in m.items() if k in ("rows", "delta_faults")}))
