"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files. Only the values depend on the seed; the amount
of work (row counts per table, column counts per type) is fixed or drawn so
that its total is fixed, which keeps run-to-run spread down when each run
uses another seed.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import decimal
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EPOCH = np.datetime64("1992-01-01", "us")
DAY_US = 86_400_000_000


def _write(out_dir, name, cols):
    table = pa.table(cols)
    # one row group per file, like the reference's single-file tables: the
    # scan of each table is then bound by its input splits, not by cores
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    """Documents shaped like the engine's test corpus: 10 to 100 words drawn
    uniformly from `VOCAB`, and about 5 % of documents a verbatim copy of an
    earlier one with " dup" appended (a copy of a copy gets "dup dup")."""
    lengths = rng.integers(10, 101, n)
    ids = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB)
    text, pos = [], 0
    for i, ln in enumerate(lengths):
        if i > 0 and rng.random() < 0.05:
            text.append(text[int(rng.integers(0, i))] + " dup")
        else:
            text.append(" ".join(vocab[ids[pos:pos + ln]]))
        pos += ln
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }


def lineitem(rng, n, n_orders, n_parts, n_supp):
    ship = EPOCH + rng.integers(0, 3650, n) * DAY_US
    return {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship),
    }


def catalog_sf01(out_dir, seed):
    """The reference's ten-table catalog (TPC-H-like star schema plus events,
    documents and embeddings), with the column layout and sf0.1 row counts
    of the engine's test tables."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
         "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000}
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    c = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, c)])})
    s = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s))})
    p = n["part"]
    adj = np.array(["large", "small", "hot", "cold", "shiny", "rough"])
    noun = np.array(["ring", "bolt", "gear", "plate", "nut", "pipe"])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 6, p)], " "),
                                       noun[rng.integers(0, 6, p)])),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": pa.array(np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO"])[
            rng.integers(0, 4, p)]),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(_money(rng, 900, 2000, p))})
    o = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(_money(rng, 800, 500000, o)),
        "o_orderdate": pa.array(EPOCH + rng.integers(0, 2400, o) * DAY_US),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, o)])})
    _write(out_dir, "lineitem", lineitem(rng, n["lineitem"], o, p, s))
    e = n["events"]
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(np.sort(np.datetime64("2024-01-01", "us")
                               + rng.integers(0, 30 * DAY_US, e))),
        "user_id": pa.array(rng.integers(0, 1500, e)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, e)]),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})
    _write(out_dir, "documents", documents(rng, n["documents"]))
    m = n["embeddings"]
    emb = rng.normal(0.0, 0.15, (m, 64)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 8, m).astype(np.int32))})


WIDE_TYPES = ("int", "bigint", "decimal", "double", "string", "boolean", "date")
# columns of each type across the whole catalog; the seed only decides which
# table each column lands in, so the per-type work is the same for every seed
WIDE_TYPE_COUNTS = {"int": 6, "bigint": 4, "decimal": 4, "double": 6,
                    "string": 8, "boolean": 4, "date": 4}
WIDE_TABLES = 8
WIDE_ROWS = 40_000


def _wide_column(rng, kind, rows, null_rate, distinct):
    codes = rng.integers(0, distinct, rows)
    nulls = rng.random(rows) < null_rate
    if kind == "int":
        arr = pa.array((codes - distinct // 2).astype(np.int32), mask=nulls)
    elif kind == "bigint":
        arr = pa.array(codes.astype(np.int64) * 7919 + 10**9, mask=nulls)
    elif kind == "decimal":
        vals = [None if m else decimal.Decimal(int(v) * 37 - 5000) / 100
                for v, m in zip(codes, nulls)]
        arr = pa.array(vals, type=pa.decimal128(12, 2))
    elif kind == "double":
        arr = pa.array(np.round(codes * 1.37 - 250.0, 2), mask=nulls)
    elif kind == "string":
        words = np.array([f"{VOCAB[i % len(VOCAB)]}_{i}" for i in range(distinct)])
        arr = pa.array(words[codes], mask=nulls)
    elif kind == "boolean":
        arr = pa.array(codes % 2 == 0, mask=nulls)
    else:
        arr = pa.array((np.datetime64("2020-01-01", "D") + codes).astype("datetime64[D]"),
                       mask=nulls)
    return arr


def wide_catalog(out_dir, seed):
    """A catalog of many small tables of mixed shape. The seed draws each
    table's row count (hundreds to 20k), its columns' types (from a fixed
    per-type pool), its null rate and each column's cardinality. Total rows
    and the per-type column pool are fixed."""
    rng = np.random.Generator(np.random.PCG64(seed))
    weights = np.exp(rng.uniform(np.log(300), np.log(20000), WIDE_TABLES))
    rows = np.clip(np.round(weights / weights.sum() * WIDE_ROWS), 300, 20000).astype(int)
    pool = [k for k in WIDE_TYPES for _ in range(WIDE_TYPE_COUNTS[k])]
    rng.shuffle(pool)
    # every table gets at least two columns; the rest are dealt at random
    owner = np.concatenate([np.repeat(np.arange(WIDE_TABLES), 2),
                            rng.integers(0, WIDE_TABLES, len(pool) - 2 * WIDE_TABLES)])
    for t in range(WIDE_TABLES):
        n = int(rows[t])
        null_rate = float(rng.uniform(0.0, 0.3))
        cols = {"id": pa.array(np.arange(n, dtype=np.int64))}
        for j, kind in enumerate(k for k, o in zip(pool, owner) if o == t):
            distinct = int(np.exp(rng.uniform(np.log(2), np.log(n + 1))))
            cols[f"c{j}_{kind}"] = _wide_column(rng, kind, n, null_rate, max(2, distinct))
        _write(out_dir, f"t{t:02d}", cols)


def curation_corpus(out_dir, seed):
    """The two tables the curation keys read: `documents` and `lineitem`."""
    rng = np.random.Generator(np.random.PCG64(seed))
    _write(out_dir, "documents", documents(rng, CURATION_DOCS))
    _write(out_dir, "lineitem", lineitem(rng, CURATION_LINEITEM, 15000, 2000, 100))


CURATION_DOCS = 600
CURATION_LINEITEM = 60_000

GENERATORS = {
    "catalog_sf01": catalog_sf01,
    "wide_catalog": wide_catalog,
    "curation_keys": curation_corpus,
}


def generate(workload, seed, out_dir):
    """Writes the workload's inputs for `seed` into `out_dir` (created).
    Every file in `out_dir` is a table of the catalog."""
    os.makedirs(out_dir, exist_ok=True)
    GENERATORS[workload](out_dir, seed)


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{'|'.join(GENERATORS)}}} <seed> <out_dir>")
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
