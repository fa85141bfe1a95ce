"""Output checks, run after the timed window on what the JVM wrote out.

Every check compares against an independent computation over the same
parquet tables in DuckDB: the templates' SQL, the gate entries' oracle SQL
(`SparkEntry.oracleSql`, compared the way tools/check_oracle.py does), or
SQL recomputations and invariants for the skewed-graph items.
"""
import glob
import json
import os

import duckdb

import templates

TABLES = ["customer", "orders", "lineitem", "nation", "region", "part", "supplier",
          "documents", "embeddings", "events", "skew_nodes", "skew_edges"]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # spill files stay next to the inputs, inside the build directory
    con.execute(f"SET temp_directory = '{data_dir}.duckdb_tmp'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _value(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float)):
        return round(float(v), 6)
    return str(v)


def json_rows(body):
    """JSONEachRow body -> sorted rows of (column, value) pairs. Numbers
    compare as 6-dp floats (JSON keeps no integer/float distinction)."""
    rows = []
    for line in body.splitlines():
        if line.strip():
            obj = json.loads(line)
            rows.append(tuple(sorted((k, _value(v)) for k, v in obj.items())))
    return sorted(rows, key=repr)


def sql_rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    # JSONEachRow omits null fields
    return sorted((tuple(sorted((c, _value(v)) for c, v in zip(cols, r) if v is not None))
                   for r in cur.fetchall()), key=repr)


def check_read(con, template, params, body):
    sql = templates.READ[template][2].format(**params)
    want, got = sql_rows(con, sql), json_rows(body)
    return None if want == got else f"{template} {params}: {len(got)} rows, oracle {len(want)}"


def typed_norm(tab):
    """tools/check_oracle.py's dtype-strict row rendering."""
    cols = sorted(tab.column_names)
    data = [tab.column(c).to_pylist() for c in cols]
    out = []
    for i in range(tab.num_rows):
        vals = []
        for col in data:
            v = col[i]
            if isinstance(v, float):
                v = round(v, 6)
            vals.append(f"{type(v).__name__}:{v}")
        out.append("|".join(vals))
    return sorted(out), cols


def check_gate(con, out_dir, name, sql):
    got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/items/{name}/*.parquet')").fetch_arrow_table()
    want = con.execute(sql).fetch_arrow_table()
    (gr, gc), (wr, wc) = typed_norm(got), typed_norm(want)
    if gc != wc:
        return f"{name}: columns {gc} vs oracle {wc}"
    return None if gr == wr else f"{name}: {len(gr)} rows vs oracle {len(wr)}"


# Skewed-graph items: an SQL recomputation where one is cheap, otherwise
# an invariant of the result. Each query returns one row whose first
# value must be true.
UNDIRECTED = ("(SELECT DISTINCT least(src, dst) a, greatest(src, dst) b "
              "FROM skew_edges WHERE src <> dst)")
SKEW_CHECKS = {
    # every vertex appears once, and no edge crosses two components
    "s_cc": "SELECT (SELECT count(*) FROM r) = (SELECT count(*) FROM skew_nodes) "
            "AND (SELECT count(*) FROM skew_edges e JOIN r x ON x.id = e.src JOIN r y ON y.id = e.dst "
            "WHERE x.component <> y.component) = 0 "
            "AND (SELECT count(*) FROM r WHERE component > id) = 0",
    # every vertex ranked, ranks positive, total mass = |V|
    "s_pagerank": "SELECT count(*) = (SELECT count(*) FROM skew_nodes) AND min(rank) > 0 "
                  "AND abs(sum(rank) - count(*)) < 1e-6 * count(*) FROM r",
    # every vertex with an edge gets one label, itself a vertex with an edge
    "s_labelprop": "SELECT count(*) = (SELECT count(*) FROM active) AND count(DISTINCT id) = count(*) "
                   "AND count(*) FILTER (WHERE label NOT IN (SELECT id FROM active)) = 0 FROM r",
    # per-vertex triangles sum to three times the graph's triangle count
    "s_triangles": "SELECT sum(triangles) = 3 * {triangles} FROM r",
    # k-core: every member keeps at least k neighbours inside the core
    "s_kcore": "SELECT count(*) > 0 AND min(d) >= 3 FROM (SELECT v.id, count(*) d FROM r v "
               f"JOIN {UNDIRECTED} u ON u.a = v.id OR u.b = v.id "
               "WHERE u.a IN (SELECT id FROM r) AND u.b IN (SELECT id FROM r) GROUP BY v.id)",
    # communities partition the vertices that have an edge
    "s_louvain": "SELECT count(*) = (SELECT count(*) FROM active) AND count(DISTINCT id) = count(*) "
                 "FROM r",
    # degrees = SQL recount over the edge list
    "s_degrees": "SELECT count(*) = 0 FROM ((SELECT id, out_degree, in_degree FROM r EXCEPT ALL SELECT * FROM deg) "
                 "UNION ALL (SELECT * FROM deg EXCEPT ALL SELECT id, out_degree, in_degree FROM r))",
    # directed triangles and 2-hop paths, recounted in SQL
    "s_cycle": "SELECT (SELECT n FROM r) = (SELECT count(*) FROM skew_edges x "
               "JOIN skew_edges y ON y.src = x.dst JOIN skew_edges z ON z.src = x.src AND z.dst = y.dst)",
    "s_2hop": "SELECT (SELECT n FROM r) = (SELECT count(*) FROM skew_edges x JOIN skew_edges y "
              "ON y.src = x.dst)",
}


ACTIVE = "CREATE OR REPLACE TEMP VIEW active AS SELECT src AS id FROM skew_edges UNION SELECT dst FROM skew_edges"
DEGREES = ("CREATE OR REPLACE TEMP VIEW deg AS SELECT id, coalesce(o, 0) AS out_degree, "
           "coalesce(i, 0) AS in_degree FROM (SELECT src AS id, count(*) AS o FROM skew_edges GROUP BY src) "
           "FULL JOIN (SELECT dst AS id, count(*) AS i FROM skew_edges GROUP BY dst) USING (id)")


def check_skew(con, out_dir, name, shape):
    con.execute(f"CREATE OR REPLACE TEMP VIEW r AS SELECT * FROM "
                f"read_parquet('{out_dir}/items/{name}/*.parquet')")
    sql = SKEW_CHECKS[name].format(**shape)
    ok, = con.execute(sql).fetchone()
    return None if ok else f"{name}: check failed ({sql[:80]}...)"


def batch(data_dir, out_dir, items, shape):
    """Check every item of a batch workload; returns the failure messages."""
    con = connect(data_dir)
    con.execute(DEGREES)
    con.execute(ACTIVE)
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails = []
    for name in items:
        if not glob.glob(f"{out_dir}/items/{name}/*.parquet"):
            fails.append(f"{name}: no output")
            continue
        try:
            if name in oracle:
                msg = check_gate(con, out_dir, name, oracle[name])
            elif name in SKEW_CHECKS:
                msg = check_skew(con, out_dir, name, shape)
            else:
                msg = None
        except Exception as e:  # an oracle that cannot run is a failed check
            msg = f"{name}: {e}"
        if msg:
            fails.append(msg)
    return fails
