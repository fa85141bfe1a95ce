"""Seeded input generator for the benchmark.

Writes one directory of parquet tables per seed:

* the TPC-H-shaped tables the engine's graph fixture reads (region, nation,
  customer, supplier, part, orders, lineitem) plus the events, documents
  and embeddings tables the pipeline entries read, with the same schemas
  and value domains as the engine's test data;
* a hub-heavy directed graph (skew_nodes, skew_edges) whose degrees follow
  a power law, so wedges far outnumber triangles.

The same seed always gives byte-identical inputs. Generation is not timed
by any metric; `shape.json` records the skewed graph's shape.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 15_000,
    "orders": 150_000,
    "part": 20_000,
    "supplier": 1_000,
    "events": 100_000,
    "documents": 1_000,
    "embeddings": 1_000,
    "skew_nodes": 4_000,
    "skew_edges": 16_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "cold", "old", "new"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, span):
    return pa.array(EPOCH_1995 + rng.integers(0, span, n) * DAY_US, pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def tpch(rng, out):
    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": pa.array(REGIONS)})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = SIZES["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, SEGMENTS, nc)})
    ns = SIZES["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = SIZES["part"]
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), npart)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), npart)]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)})
    no = SIZES["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, no, 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, no)})
    per_order = rng.integers(1, 8, no)
    nl = int(per_order.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(nl) - starts + 1).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, nl, 2500)})


def events(rng, out):
    n = SIZES["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, n))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})


def documents(rng, out):
    n = SIZES["documents"]
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n)]
    # about one document in twenty is a near-duplicate of an earlier one
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[
            rng.choice(len(LANGS), n, p=[0.14, 0.42, 0.15, 0.15, 0.14])]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def embeddings(rng, out):
    n, dim = SIZES["embeddings"], 64
    label = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[label] + rng.normal(0.0, 0.6, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})


def skew_graph(rng, out):
    """Chung-Lu graph with power-law expected degrees: a few hubs touch a
    large share of the edges, so the wedge count dwarfs the triangle count."""
    n, m = SIZES["skew_nodes"], SIZES["skew_edges"]
    weight = (np.arange(n) + 1.0) ** -0.75
    p = weight / weight.sum()
    ids = rng.permutation(n).astype(np.int64)
    src = ids[rng.choice(n, 2 * m, p=p)]
    dst = ids[rng.choice(n, 2 * m, p=p)]
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    pairs = pairs[rng.permutation(len(pairs))[:m]]
    _write(out, "skew_nodes", {"id": pa.array(np.arange(n, dtype=np.int64)),
                               "grp": pa.array((np.arange(n) % 7).astype(np.int32))})
    _write(out, "skew_edges", {"src": pa.array(pairs[:, 0]), "dst": pa.array(pairs[:, 1])})


def skew_shape(out):
    """|V|, |E|, max degree, wedges and triangles of the undirected simple
    graph under skew_edges, computed in SQL."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW e AS SELECT * FROM '{out}/skew_edges.parquet'")
    con.execute("""CREATE TABLE u AS SELECT DISTINCT least(src, dst) a, greatest(src, dst) b
                   FROM e WHERE src <> dst""")
    con.execute("""CREATE TABLE d AS SELECT v, count(*) deg FROM
                   (SELECT a v FROM u UNION ALL SELECT b FROM u) GROUP BY v""")
    v, = con.execute(f"SELECT count(*) FROM '{out}/skew_nodes.parquet'").fetchone()
    e, = con.execute("SELECT count(*) FROM e").fetchone()
    maxdeg, wedges = con.execute(
        "SELECT max(deg), sum(deg * (deg - 1) // 2)::BIGINT FROM d").fetchone()
    # orient each edge from lower to higher (degree, id): every triangle is
    # counted once and no vertex fans out over more than sqrt(2E) edges
    con.execute("""CREATE TABLE o AS SELECT
                     CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END s,
                     CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END t
                   FROM u JOIN d da ON da.v = u.a JOIN d db ON db.v = u.b""")
    tri, = con.execute("""SELECT count(*) FROM o x JOIN o y ON x.s = y.s
                          JOIN o z ON z.s = x.t AND z.t = y.t""").fetchone()
    return {"vertices": v, "edges": e, "max_degree": maxdeg,
            "wedges": int(wedges), "triangles": tri}


def generate(seed, out):
    """Write every table for `seed` into `out` (skipped if already there)."""
    done = os.path.join(out, "shape.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    rng = np.random.default_rng(seed)
    for make in (tpch, events, documents, embeddings, skew_graph):
        make(np.random.default_rng(rng.integers(1 << 62)), tmp)
    shape = skew_shape(tmp)
    with open(os.path.join(tmp, "shape.json"), "w") as f:
        json.dump(shape, f)
    os.replace(tmp, out)
    return shape
