"""Seeded input generator for the benchmark.

Builds the ten sf0.1-shaped tables the engine's entries read (the
TPC-H-like star schema, `events`, `documents`, `embeddings`) as
single-file parquet, plus the lineitem CSV the CLI converts.

The row CONTENT is a fixed function of BASE_SEED, so every workload
seed sees the same multiset of rows (and the same oracle answers);
`seed` only sets the row ORDER of every table and file. The same seed
therefore gives byte-identical files, and two seeds give the same rows
in a different order.
"""
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def _day_ts(start: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "D").astype("datetime64[us]")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables() -> dict:
    """The seed-independent row content of every table."""
    rng = np.random.default_rng(BASE_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    n = 15000
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), n)})
    n = 1000
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = 20000
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "shiny"])
    noun = np.array(["ring", "bolt", "plate", "gear", "anvil", "widget", "nut", "spring"])
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(rng.choice(adj, n), " "), rng.choice(noun, n)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
        "p_type": rng.choice(np.array(
            ["PROMO", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD"]), n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    n = 150000
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15000, n),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _day_ts("1995-01-01", rng.integers(0, 2404, n)),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n)})
    n = 600000
    qty = rng.integers(1, 51, n).astype(np.float64)
    flags = rng.integers(0, 6, n)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, 150000, n),
        "l_partkey": rng.integers(0, 20000, n),
        "l_suppkey": rng.integers(0, 1000, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags % 3],
        "l_linestatus": np.array(["F", "O"])[flags // 3],
        "l_shipdate": _day_ts("1995-01-02", rng.integers(0, 2498, n))})
    n = 100000
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n))
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n),
        "event_type": rng.choice(np.array(["signup", "click", "error", "view", "purchase"]), n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    t["documents"] = _documents(rng)
    n = 2000
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return t


def _documents(rng, n: int = 5000) -> pa.Table:
    """Word-salad docs over a 31-word vocabulary, with planted near
    duplicates (an earlier doc plus ' dup') and a few exact copies, so
    the dedup, passage and containment entries have real hits."""
    words = np.array(VOCAB)
    texts = [" ".join(rng.choice(words, rng.integers(8, 100)))
             for _ in range(n)]
    near = rng.choice(np.arange(1, n), 250, replace=False)
    for i in near:
        texts[i] = texts[rng.integers(0, i)] + " dup"
    exact = rng.choice(np.setdiff1d(np.arange(1, n), near), 8, replace=False)
    for i in exact:
        texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})


def permuted(tables: dict, seed: int) -> dict:
    """Every table in a seed-chosen row order (tables drawn in a fixed
    order, so one table's permutation never depends on which others a
    caller asks for)."""
    rng = np.random.default_rng(seed)
    perms = {name: rng.permutation(tables[name].num_rows) for name in TABLES}
    return {name: tbl.take(pa.array(perms[name])) for name, tbl in tables.items()}


def write_tables(tables: dict, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))


def write_csvs(lineitem: pa.Table, out_dir: str) -> tuple:
    """The CLI's inputs: the full lineitem table as CSV, and a header
    plus two rows (the per-invocation fixed cost)."""
    os.makedirs(out_dir, exist_ok=True)
    full = os.path.join(out_dir, "lineitem.csv")
    tiny = os.path.join(out_dir, "tiny.csv")
    con = duckdb.connect()
    con.register("li", lineitem)
    con.execute(f"COPY li TO '{full}' (HEADER)")
    con.register("head", lineitem.slice(0, 2))
    con.execute(f"COPY head TO '{tiny}' (HEADER)")
    con.close()
    return full, tiny


def held_out_batches(n_ids: int, seed: int, batches: int, size: int, salt: int) -> list:
    """Seed-chosen id batches held out of an ingest corpus of ids
    0..n_ids-1 (pairwise disjoint, so every admit is of ids the index
    has never held); `salt` separates the draws of different tables."""
    rng = np.random.default_rng([seed, salt])
    ids = rng.choice(n_ids, batches * size, replace=False)
    return [sorted(int(x) for x in ids[i * size:(i + 1) * size])
            for i in range(batches)]
