"""Seeded generator for the harness tables the benchmark feeds the program.

Writes `region nation customer supplier part orders lineitem events
documents embeddings` as one parquet file each, with the schemas and value
ranges of the project's synthetic test data (a TPC-H-like star schema, an
event stream, a word-bag document corpus with planted near-duplicates and
unit-norm embeddings) at a given scale factor. The same seed and scale
always give the same files.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge order vector "
         "line data table agg value key stream window a spark part group big sort query "
         "fast the").split()
LANGS = ["en"] * 4 + ["de", "es", "fr", "zh"] * 1
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EMBED_DIM = 64

# rows per table at scale factor 1, as in the project's test data; nation
# and region are fixed-size dimensions, and the document and embedding
# corpora never shrink below 500 rows
ROWS_SF1 = {"customer": 150_000, "supplier": 10_000, "part": 200_000, "orders": 1_500_000,
            "lineitem": 6_000_000, "events": 1_000_000, "documents": 50_000,
            "embeddings": 20_000}
MIN_ROWS = {"documents": 500, "embeddings": 500}


def rows_at(sf, docs=None):
    """Rows per table at scale factor `sf`; `docs` overrides the size of the
    document corpus."""
    rows = {t: max(MIN_ROWS.get(t, 1), round(n * sf)) for t, n in ROWS_SF1.items()}
    if docs is not None:
        rows["documents"] = docs
    return rows


def _write(out_dir, name, columns, schema):
    pq.write_table(pa.table(columns, schema=schema), f"{out_dir}/{name}.parquet")


def _pick(rng, values, n):
    return np.asarray(values)[rng.integers(0, len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    return (np.datetime64(start, "D") + rng.integers(0, span_days, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def _documents(rng, n):
    texts = []
    for i in range(n):
        # about 5% of documents are an earlier document plus a marker word,
        # the near-duplicates the dedup layers must find
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def generate(out_dir, seed, sf, docs=None):
    """Writes every table at scale factor `sf` (with `docs` documents, when
    given) under `out_dir`; returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = rows_at(sf, docs)
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region", {"r_regionkey": list(range(5)), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation", {"n_nationkey": list(range(25)),
                               "n_name": [f"NATION_{i}" for i in range(25)],
                               "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    nc = rows["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))

    ns = rows["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                  ("s_acctbal", f64)]))

    npart = rows["part"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(npart),
        "p_name": np.char.add(np.char.add(_pick(rng, PART_ADJ, npart), " "),
                              _pick(rng, PART_NOUN, npart)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                  ("p_size", i32), ("p_retailprice", f64)]))

    no = rows["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": _pick(rng, list("FOP"), no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", 2404, no),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                  ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    nl = rows["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": _pick(rng, list("ANR"), nl),
        "l_linestatus": _pick(rng, list("OF"), nl),
        "l_shipdate": _days(rng, "1995-01-02", 2499, nl),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
                  ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
                  ("l_linestatus", s), ("l_shipdate", ts)]))

    ne = rows["events"]
    users = max(15, ne // 10)
    # increasing timestamps spread over about 60 days
    steps = rng.integers(1, int(2 * 30 * 86400e6 / ne), ne)
    _write(out_dir, "events", {
        "event_id": np.arange(ne),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(steps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, users, ne),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": _money(rng, 0.01, 500.0, ne),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, ne).astype(str)), "}"),
    }, pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                  ("value", f64), ("props", s)]))

    _write(out_dir, "documents", _documents(random.Random(seed), rows["documents"]),
           pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                      ("n_chars", i64)]))

    nv = rows["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.astype(np.float32).ravel()), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv),
    }, pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                  ("label", i32)]))
    rows.update(region=5, nation=25)
    return rows
