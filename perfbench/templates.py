"""Request templates and the seeded request streams of the serve workloads.

Each read template is parameterized Cypher sent through `POST /query`,
with an SQL equivalent over the same parquet tables that checks its rows.
Customer keys are Zipf-skewed, so some (template, params) pairs repeat.
"""
import hashlib
import json

import numpy as np

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
N_CUSTOMERS = 15_000
WRITE_KEY_BASE = 10_000_000
WRITE_SHARE = 0.2

# name -> (anchored on one customer, Cypher, SQL). `anchored` templates
# read only that customer's neighbourhood, so on the write workload their
# rows stay checkable for customers no write touches. Every template is
# drawn equally often.
READ = {
    "point": (True,
              "MATCH (c:Customer {c_custkey: $ck}) RETURN c.c_custkey AS ck, c.c_name AS name, "
              "c.c_acctbal AS bal, c.c_mktsegment AS seg;",
              "SELECT c_custkey AS ck, c_name AS name, c_acctbal AS bal, c_mktsegment AS seg "
              "FROM customer WHERE c_custkey = {ck}"),
    "hop1": (True,
             "MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order) "
             "RETURN o.o_orderkey AS ok, o.o_totalprice AS price;",
             "SELECT o_orderkey AS ok, o_totalprice AS price FROM orders WHERE o_custkey = {ck}"),
    "hop2": (True,
             "MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part) "
             "RETURN p.p_brand AS brand, count(*) AS n;",
             "SELECT p_brand AS brand, count(*) AS n FROM orders "
             "JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) l ON l_orderkey = o_orderkey "
             "JOIN part ON p_partkey = l_partkey WHERE o_custkey = {ck} GROUP BY p_brand"),
    "hop3": (True,
             "MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part)"
             "-[:SUPPLIED_BY]->(s:Supplier) RETURN count(DISTINCT s.s_suppkey) AS n;",
             "SELECT count(DISTINCT sb.l_suppkey) AS n FROM orders "
             "JOIN lineitem l ON l.l_orderkey = o_orderkey "
             "JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) sb ON sb.l_partkey = l.l_partkey "
             "WHERE o_custkey = {ck}"),
    "nation_count": (True,
                     "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation {n_nationkey: $nat}) "
                     "WHERE c.c_acctbal > $bal RETURN count(*) AS n;",
                     "SELECT count(*) AS n FROM customer WHERE c_nationkey = {nat} AND c_acctbal > {bal}"),
    "segment_topk": (False,
                     "MATCH (c:Customer {c_mktsegment: $seg})-[:PLACED]->(o:Order) "
                     "RETURN c.c_custkey AS ck, count(o) AS cnt ORDER BY cnt DESC, ck ASC LIMIT 10;",
                     "SELECT c_custkey AS ck, count(o_orderkey) AS cnt FROM customer "
                     "JOIN orders ON o_custkey = c_custkey WHERE c_mktsegment = '{seg}' "
                     "GROUP BY c_custkey ORDER BY cnt DESC, ck ASC LIMIT 10"),
    "triangle": (True,
                 "MATCH (c:Customer {c_custkey: $ck})-[:FROM_NATION]->(n:Nation)-[:IN_REGION]->(r:Region), "
                 "(c)-[:CUST_REGION]->(r) RETURN n.n_name AS nation, r.r_name AS region;",
                 "SELECT n_name AS nation, r_name AS region FROM customer "
                 "JOIN nation ON n_nationkey = c_nationkey JOIN region ON r_regionkey = n_regionkey "
                 "WHERE c_custkey = {ck}"),
    "optional": (True,
                 "MATCH (c:Customer {c_custkey: $ck}) OPTIONAL MATCH (c)-[:PLACED]->(o:Order) "
                 "WHERE o.o_totalprice > $minp RETURN c.c_custkey AS ck, count(o) AS big;",
                 "SELECT c_custkey AS ck, count(o_orderkey) AS big FROM customer "
                 "LEFT JOIN orders ON o_custkey = c_custkey AND o_totalprice > {minp} "
                 "WHERE c_custkey = {ck} GROUP BY c_custkey"),
    "subqueries": (True,
                   "MATCH (n:Nation {n_nationkey: $nat}) WHERE EXISTS { MATCH (s:Supplier)-[:SUPP_NATION]->(n) "
                   "WHERE s.s_acctbal > $bal } RETURN n.n_name AS name, "
                   "COUNT { (c:Customer)-[:FROM_NATION]->(n) WHERE c.c_acctbal > $bal } AS customers;",
                   "SELECT n_name AS name, (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey "
                   "AND c_acctbal > {bal}) AS customers FROM nation WHERE n_nationkey = {nat} "
                   "AND EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey AND s_acctbal > {bal})"),
    "call_union": (True,
                   "CALL { MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order) "
                   "RETURN max(o.o_totalprice) AS top } "
                   "MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order) WHERE o.o_totalprice = top "
                   "RETURN o.o_orderkey AS k UNION "
                   "MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order) WHERE o.o_totalprice * 4.0 < top "
                   "RETURN o.o_orderkey AS k;",
                   "WITH t AS (SELECT max(o_totalprice) AS top FROM orders WHERE o_custkey = {ck}) "
                   "SELECT o_orderkey AS k FROM orders, t WHERE o_custkey = {ck} AND o_totalprice = top "
                   "UNION SELECT o_orderkey AS k FROM orders, t WHERE o_custkey = {ck} "
                   "AND o_totalprice * 4.0 < top"),
}
# templates whose engine path runs GraftSession's private steps (CALL,
# UNION): traced as one span around GraftSession.cypher
WHOLE = {"call_union"}

# o_orderdate stays NULL: the engine's CREATE accepts no literal for the
# TIMESTAMP_NTZ column the parquet timestamps are read as
WRITE = ("CREATE (:Order {o_orderkey: $ok, o_custkey: $ck, o_orderstatus: 'O', o_totalprice: $price, "
         "o_orderpriority: '3-MEDIUM'}), "
         "(:Customer {c_custkey: $ck})-[:PLACED]->(:Order {o_orderkey: $ok});")
PROBE = ("MATCH (c:Customer {c_custkey: $ck})-[:PLACED]->(o:Order {o_orderkey: $ok}) "
         "RETURN count(*) AS n;")


def literal(v):
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return repr(v)


def inline(cypher, params):
    """The query with every $param replaced by its literal (longest name
    first, so $ck never eats into a longer name)."""
    for k in sorted(params, key=len, reverse=True):
        cypher = cypher.replace("$" + k, literal(params[k]))
    return cypher


def key(template, params):
    return hashlib.sha1(json.dumps([template, params], sort_keys=True).encode()).hexdigest()[:16]


class Draw:
    """Seeded parameter draws; customer keys follow a Zipf law over a
    seeded permutation, so the hot keys differ per seed. The exponent is
    the plain law's 1: no request log gives a measured one."""

    def __init__(self, seed):
        self.rng = np.random.default_rng(seed)
        self.perm = self.rng.permutation(N_CUSTOMERS)
        ranks = np.arange(1, N_CUSTOMERS + 1, dtype=np.float64)
        p = 1.0 / ranks
        self.cdf = np.cumsum(p / p.sum())

    def customer(self):
        return int(self.perm[min(int(np.searchsorted(self.cdf, self.rng.random())), N_CUSTOMERS - 1)])

    def params(self, template):
        r = self.rng
        return {
            "point": lambda: {"ck": self.customer()},
            "hop1": lambda: {"ck": self.customer()},
            "hop2": lambda: {"ck": self.customer()},
            "hop3": lambda: {"ck": self.customer()},
            "nation_count": lambda: {"nat": int(r.integers(0, 25)), "bal": float(r.integers(-9, 90) * 100)},
            "segment_topk": lambda: {"seg": SEGMENTS[int(r.integers(0, 5))]},
            "triangle": lambda: {"ck": self.customer()},
            "optional": lambda: {"ck": self.customer(), "minp": float(r.integers(1, 50) * 10000)},
            "subqueries": lambda: {"nat": int(r.integers(0, 25)), "bal": float(r.integers(0, 90) * 100)},
            "call_union": lambda: {"ck": self.customer()},
        }[template]()


def read_request(i, template, params):
    cypher = READ[template][1]
    return {"i": i, "key": key(template, params), "t": template, "kind": "read", "q": cypher,
            "p": params, "inline": None if template in WHOLE else inline(cypher, params)}


def stream(seed, n, writes):
    """`n` requests. Reads come in cycles that hold every template once,
    shuffled per cycle, so any run sees the same even mix; the
    seed draws the order and the parameters. On the write workload about
    one request in five is a CREATE of a new Order plus its PLACED edge,
    followed by the writer's read-your-writes probe."""
    d = Draw(seed)
    cycle = list(READ)
    order = []
    out = []
    for i in range(n):
        if writes and d.rng.random() < WRITE_SHARE:
            ok = WRITE_KEY_BASE + i
            p = {"ok": ok, "ck": d.customer(), "price": float(d.rng.integers(1000, 500000))}
            probe = {"i": i, "key": key("probe", p), "t": "probe", "kind": "probe", "q": PROBE,
                     "p": {"ck": p["ck"], "ok": ok}, "inline": inline(PROBE, {"ck": p["ck"], "ok": ok})}
            out.append({"i": i, "key": key("write", p), "t": "write", "kind": "write", "q": WRITE,
                        "p": p, "inline": None, "probe": probe})
            continue
        if not order:
            order = [cycle[j] for j in d.rng.permutation(len(cycle))]
        t = order.pop()
        out.append(read_request(i, t, d.params(t)))
    return out


def warm(seed, per_template=2):
    """Untimed requests, `per_template` of each read template, drawn apart
    from the stream."""
    d = Draw(seed + 1_000_003)
    names = [t for _ in range(per_template) for t in READ]
    return [read_request(-1 - j, t, d.params(t)) for j, t in enumerate(names)]
