"""Seeded input generator for the load-wave benchmark.

Writes the ten parquet tables the catalog reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the same schemas, key ranges and value distributions
as the project's sf-scaled test tables, from nothing but a seed:

- `scale` is the TPC-H-style scale factor (0.1 gives 600 k lineitem
  rows, 20 k parts);
- the values come from a fixed seed (42, the seed of the project's test
  tables), so every run does the same work; the run's seed sets the row
  order and the row-group split of every table.

Timestamps, `events.ts` included, are written as microsecond parquet
timestamps, as in the test tables. `queries.table()` also accepts a
nanosecond `events.ts` (read as a long and converted); that reader
branch is not measured here.

Both the program under test and the DuckDB oracle read the same
generated files, so results stay oracle-checkable.

Usage: python3 perfbench/gen.py OUT_DIR SEED SCALE
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
VALUE_SEED = 42
DUP_FRAC = 0.05
EMBED_DIM = 64

US_PER_DAY = 86_400_000_000


def _ts(days_from, days_to, n, rng, epoch):
    """Whole-day timestamps (microseconds, no time zone) in a range."""
    base = np.datetime64(epoch, "us").astype(np.int64)
    d = rng.integers(days_from, days_to + 1, n)
    return pa.array(base + d * US_PER_DAY, pa.timestamp("us"))


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed, scale):
    """The ten tables at one scale, values drawn from `seed`."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_evt = int(1_000_000 * scale)
    n_users = int(15_000 * scale)
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, n_cust, rng),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, n_supp, rng)})
    pk = np.arange(n_part, dtype=np.int64)
    adj = np.array(ADJECTIVES)[rng.integers(0, len(ADJECTIVES), n_part)]
    noun = np.array(NOUNS)[rng.integers(0, len(NOUNS), n_part)]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(1000.0, 500_000.0, n_ord, rng),
        "o_orderdate": _ts(0, 2403, n_ord, rng, "1995-01-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(900.0, 105_000.0, n_line, rng),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(1, 2498, n_line, rng, "1995-01-01")})
    # event ids follow time order, like an append-only log
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us").astype(np.int64) + ts,
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_evt).astype(str)), "}")})
    t["documents"] = documents(n_docs, rng)
    emb = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            emb.reshape(-1), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32)})
    return t


def documents(n, rng):
    """Bag-of-words documents over a 30-word vocabulary; a seeded 5 %
    are near-duplicates (another document's text plus one token), which
    is what the dedup operators look for."""
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 100))])
             for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < DUP_FRAC):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def generate(out_dir, seed, scale):
    """Write every table under `out_dir`; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in base_tables(VALUE_SEED, scale).items():
        t = t.take(rng.permutation(t.num_rows))
        # 4..6 row groups: enough that every scan split of a local[4]
        # session holds a row group, so the seed moves row boundaries
        # without changing how many tasks a scan gets
        groups = int(rng.integers(4, 7))
        pq.write_table(t, f"{out_dir}/{name}.parquet",
                       row_group_size=max(1, -(-t.num_rows // groups)))
        rows[name] = t.num_rows
    return rows


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])))
