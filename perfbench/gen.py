"""Seeded input tables for the benchmark.

The table CONTENTS come from a fixed generator seed, so every workload
seed sees the same rows and the DuckDB oracle's answers do not depend on
it. The workload seed controls only the physical layout the engine
reads: the row order of every table and where it is split into files.

Two copies are written under `out`:
  canonical/<table>.parquet         one file per table (oracle input)
  tables/<table>.parquet/part-N     the seeded layout (engine input)

The schemas, value domains and row ratios mirror the TPC-H-like tables
the repository's queries were written against (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings). Row counts scale linearly with `sf`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CONTENT_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "red new hot small cold large old blue".split()
NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
DAY_US = 86_400_000_000


def _ts(start, days_or_us, unit):
    base = np.datetime64(start, "us")
    return (base + days_or_us.astype(f"timedelta64[{unit}]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(sf):
    """All ten tables as pyarrow Tables; deterministic for a given sf."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), int(50_000 * sf), max(100, int(15_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord), "D"),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line), "D")})
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * DAY_US, n_ev)), "us"),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), i64),
        "event_type": kinds[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 0 and r < 0.05:    # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.06:  # exact duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)])
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = np.array(["en", "en", "de", "es", "fr", "zh"])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": langs[rng.integers(0, 6, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], i64)})
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return t


def write_inputs(out, sf, seed, stream_batches=0):
    """Write both copies, and the stream cut when `stream_batches` > 0;
    returns the engine-input byte count."""
    tables = make_tables(sf)
    rng = np.random.default_rng(seed)
    os.makedirs(f"{out}/canonical", exist_ok=True)
    for name in TABLES:
        tab = tables[name]
        pq.write_table(tab, f"{out}/canonical/{name}.parquet")
        order = rng.permutation(tab.num_rows)
        # two files at a seeded cut: the split moves, the task count does not
        cut = int(tab.num_rows * rng.uniform(0.4, 0.6)) if tab.num_rows >= 100 else tab.num_rows
        parts = [p for p in (order[:cut], order[cut:]) if len(p)]
        d = f"{out}/tables/{name}.parquet"
        os.makedirs(d, exist_ok=True)
        for k, part in enumerate(parts):
            pq.write_table(tab.take(part), f"{d}/part-{k:05d}.parquet")
    if stream_batches:
        write_stream(f"{out}/stream", tables, seed, stream_batches)
    total = 0  # everything the engine reads: tables and stream files
    for sub in ("tables", "stream"):
        for root, _, files in os.walk(f"{out}/{sub}"):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def write_stream(out, tables, seed, batches):
    """Cut the event log and a document feed into `batches` files each,
    at seeded cut points, for a file-source stream read one file per
    trigger. Rows stay in event-time order across files and file
    modification times increase, so arrival order is event-time order.

    The documents whose doc_id is a multiple of 3 form the admission
    corpus (`corpus/`); the rest are the feed, stamped one second apart
    in doc_id order. Timestamps are written UTC-adjusted, the type the
    streaming schema declares."""
    rng = np.random.default_rng(seed + 1)
    ev = tables["events"].sort_by([("ts", "ascending"), ("event_id", "ascending")])
    ev = ev.set_column(1, "ts", ev.column("ts").cast(pa.timestamp("us", tz="UTC")))
    docs = tables["documents"]
    in_corpus = pa.array(docs.column("doc_id").to_numpy() % 3 == 0)
    os.makedirs(f"{out}/corpus", exist_ok=True)
    pq.write_table(docs.filter(in_corpus).select(["doc_id", "text"]), f"{out}/corpus/part-00000.parquet")
    feed = docs.filter(pc.invert(in_corpus)).select(["doc_id", "text"])
    feed_ts = _ts("2024-01-01", feed.column("doc_id").to_numpy(), "s")
    feed = feed.append_column("ts", pa.array(feed_ts, pa.timestamp("us", tz="UTC")))
    for name, tab in (("events", ev), ("docs", feed)):
        d = f"{out}/{name}"
        os.makedirs(d, exist_ok=True)
        # cut k sits within a tenth of a batch of k/batches of the rows
        even = np.arange(1, batches) * tab.num_rows / batches
        jitter = rng.uniform(-0.1, 0.1, batches - 1) * tab.num_rows / batches
        bounds = [0, *np.round(even + jitter).astype(int).tolist(), tab.num_rows]
        for k in range(batches):
            path = f"{d}/batch-{k:05d}.parquet"
            pq.write_table(tab.slice(bounds[k], bounds[k + 1] - bounds[k]), path)
            os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
