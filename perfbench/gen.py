"""Generator for the benchmark's input tables: the engine's test fixture
(TESTDATA.md, FIXTURES.md), rebuilt inside the checkout, because a run may
read nothing outside it.

The fixture draws every column, table after table, from one numpy PCG64
stream seeded with 42. This module replays the same draws in the same order
(list orders, ranges and the `events` table in between were recovered from
the fixture's values), so at sf0.001, sf0.01 and sf0.1 every table it
writes holds exactly the fixture's values; perfbench/README.md says how that was checked.
The benchmark's --seed does not change the data: it orders the queries and
picks the similarity-search query vectors.

    python3 perfbench/gen.py <out_dir> <sf>
"""
import datetime as dt
import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
P_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
P_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
WORDS = ["the", "a", "spark", "query", "table", "join", "group", "filter",
         "window", "data", "order", "customer", "part", "line", "fast", "slow",
         "big", "small", "hash", "sort", "merge", "scan", "agg", "stream",
         "batch", "vector", "key", "value", "row", "column"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DATA_SEED = 42

# Row counts per unit of scale factor, as in the fixture (TPC-H proportions;
# documents and embeddings have at least MIN_AI_ROWS rows). Documents are
# capped below 10000: the engine's dedup queries shift copied ids by 10000.
PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
          "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
          "documents": 50_000, "embeddings": 20_000}
MAX_DOCS = 9_000
MIN_AI_ROWS = 500
EMB_DIM = 64


def row_counts(sf):
    n = {t: max(1, int(round(c * sf))) for t, c in PER_SF.items()}
    n["documents"] = min(max(n["documents"], MIN_AI_ROWS), MAX_DOCS)
    n["embeddings"] = max(n["embeddings"], MIN_AI_ROWS)
    n["region"], n["nation"] = 5, 25
    return n


def written(sf):
    """Row counts of the tables written (`events` is only drawn)."""
    return {k: v for k, v in row_counts(sf).items() if k != "events"}


def _days(lo, hi, size, rng):
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int) + 1
    return (base + rng.integers(0, span, size)).astype("datetime64[us]")


def _money(lo, hi, size, rng):
    return np.round(rng.uniform(lo, hi, size), 2)


def _docs(n, rng):
    """Texts of 10 to 99 words drawn uniformly from the vocabulary. Then one
    document in 20, at random positions, is replaced by a copy of a random
    document with the word "dup" appended: 3-gram jaccard 0.9 to 0.99 with
    its source, and two copies of one source are exact duplicates."""
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(n)]
    copies = rng.choice(n, n // 20, replace=False)
    for i, src in zip(copies, rng.integers(0, n, len(copies))):
        texts[i] = texts[src] + " dup"
    return texts


def _skip_events(n_events, n_users, rng):
    """The fixture's `events` table comes between lineitem and documents. No
    benchmark query reads it, so it is not written, but its draws are made,
    in its column order, so that the tables after it match the fixture."""
    rng.uniform(0, 30 * 86400, n_events)  # ts, seconds into January 2024
    rng.integers(0, n_users, n_events)  # user_id
    rng.integers(0, 5, n_events)  # event_type
    rng.exponential(50.0, n_events)  # value
    rng.integers(0, 100, n_events)  # props


def tables(sf):
    rng = np.random.Generator(np.random.PCG64(DATA_SEED))
    n = row_counts(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, nc, rng),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, ns, rng)})
    np_ = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(P_TYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": _money(1000.0, 500000.0, no, rng),
        "o_orderdate": _days("1995-01-01", "2001-08-01", no, rng),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, np_, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, nl, rng),
        "l_discount": np.round(rng.uniform(0.0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _days("1995-01-02", "2001-11-04", nl, rng)})
    _skip_events(n["events"], nc // 10, rng)
    nd = n["documents"]
    texts = _docs(nd, rng)
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    ne = n["embeddings"]
    # unit vectors in uniformly random directions, labels independent of
    # them: no cluster structure
    vecs = rng.standard_normal((ne, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, 10, ne)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(ne, dtype=np.int64),
        "embedding": pa.array(list(vecs),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    return t


def write(out_dir, sf):
    """Write every table, then a `_DONE` marker listing the row counts. An
    existing directory is reused only when its marker matches; otherwise it
    is emptied first, so nothing derived from older tables survives."""
    marker = os.path.join(out_dir, "_DONE")
    expected = written(sf)
    if verify(out_dir, expected):
        return expected
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    for name, tab in tables(sf).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(tab, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    if not verify(out_dir, expected, check_marker=False):
        raise RuntimeError(f"generated tables in {out_dir} are incomplete")
    with open(marker, "w") as f:
        f.write(_marker_text(expected))
    return expected


def _marker_text(expected):
    """Row counts and a hash of this generator, so tables written by an
    older version of it are not reused."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:16]
    return " ".join(f"{k}={v}" for k, v in sorted(expected.items())) + f" gen={version}"


def verify(out_dir, expected, check_marker=True):
    """True when every table exists with its expected row count (and, unless
    told otherwise, the `_DONE` marker records the same counts and
    generator)."""
    marker = os.path.join(out_dir, "_DONE")
    if check_marker:
        want = _marker_text(expected)
        if not os.path.isfile(marker):
            return False
        with open(marker) as f:
            if f.read() != want:
                return False
    for name, rows in expected.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.isfile(path) or pq.read_metadata(path).num_rows != rows:
            return False
    return True


if __name__ == "__main__":
    t0 = dt.datetime.now()
    counts = write(sys.argv[1], float(sys.argv[2]))
    print(f"{counts} in {(dt.datetime.now() - t0).total_seconds():.1f}s")
