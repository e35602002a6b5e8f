"""adhoc_sql: seeded SQL over the generated sf0.1 parquet, and the DuckDB
oracle that checks every front-door answer.

Parameters vary the literals but keep each template's selectivity nearly
fixed, so the work per template does not depend on the seed. Each template
is rendered twice from one parameter draw: for graft with
dfs.`{dir}/<table>.parquet` (the harness fills in `{dir}`), and for DuckDB
with read_parquet('<dir>/<table>.parquet'). Every ORDER BY ... LIMIT orders
on exact values with a unique tie-break, so both engines return one answer.
"""
import json
import math

import duckdb
import numpy as np

from gen import SEGMENTS, PRIORITIES

TEMPLATES = [
    # aggregate (pricing summary)
    lambda r: ("SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty, "
               "sum(l_extendedprice * (1 - l_discount)) AS revenue, avg(l_discount) AS avg_disc "
               "FROM {lineitem} WHERE l_shipdate <= TIMESTAMP '%s' "
               "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
               % _day(r, 2300, 2400)),
    # three-way join + aggregate
    lambda r: ("SELECT n.n_name, count(*) AS orders, sum(o.o_totalprice) AS total "
               "FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey "
               "JOIN {nation} n ON c.c_nationkey = n.n_nationkey "
               "WHERE c.c_mktsegment = '%s' AND o.o_orderdate >= TIMESTAMP '%s' "
               "AND o.o_orderdate < TIMESTAMP '%s' GROUP BY n.n_name ORDER BY n.n_name"
               % ((SEGMENTS[r.integers(0, 5)],) + _range(r))),
    # window
    lambda r: ("SELECT c_nationkey, c_custkey, c_acctbal, rn FROM ("
               "SELECT c_nationkey, c_custkey, c_acctbal, row_number() OVER "
               "(PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn "
               "FROM {customer} WHERE c_mktsegment = '%s') t WHERE rn <= %d "
               "ORDER BY c_nationkey, rn" % (SEGMENTS[r.integers(0, 5)], r.integers(1, 4))),
    # top-N
    lambda r: ("SELECT o_orderkey, o_custkey, o_totalprice FROM {orders} "
               "WHERE o_orderpriority = '%s' AND o_orderstatus = '%s' "
               "ORDER BY o_totalprice DESC, o_orderkey LIMIT %d"
               % (PRIORITIES[r.integers(0, 5)], "FOP"[r.integers(0, 3)], r.integers(10, 101))),
    # fact-dimension join + aggregate
    lambda r: ("SELECT p.p_brand, count(*) AS n, sum(l.l_extendedprice) AS price "
               "FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey "
               "WHERE p.p_size BETWEEN %d AND %d AND l.l_quantity < %d "
               "GROUP BY p.p_brand ORDER BY p.p_brand"
               % _size_range(r)),
    # join + aggregate + top-N (shipping priority)
    lambda r: ("SELECT l.l_orderkey, o.o_orderpriority, sum(l.l_quantity) AS qty, count(*) AS lines "
               "FROM {customer} c JOIN {orders} o ON c.c_custkey = o.o_custkey "
               "JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey "
               "WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate < TIMESTAMP '{d}' "
               "AND l.l_shipdate > TIMESTAMP '{d}' "
               "GROUP BY l.l_orderkey, o.o_orderpriority ORDER BY qty DESC, l.l_orderkey LIMIT 10"
               .replace("{seg}", SEGMENTS[r.integers(0, 5)]).replace("{d}", _day(r, 900, 1500))),
]
TABLES = ["lineitem", "orders", "customer", "nation", "part"]


def _day(r, lo, hi):
    d = np.datetime64("1992-01-01") + int(r.integers(lo, hi))
    return f"{d} 00:00:00"


def _range(r):
    d0 = np.datetime64("1992-01-01") + int(r.integers(0, 2000))
    return f"{d0} 00:00:00", f"{d0 + 365} 00:00:00"


def _size_range(r):
    a = int(r.integers(1, 40))
    return a, a + 10, int(r.integers(20, 30))


def generate(seed, variants=4):
    """[(graft SQL with {dir}, DuckDB SQL with {dir})], template-interleaved."""
    r = np.random.default_rng([seed, 5])
    out = []
    for _ in range(variants):
        for t in TEMPLATES:
            sql = t(r)
            out.append((sql.format(**{n: f"dfs.`{{dir}}/{n}.parquet`" for n in TABLES}),
                        sql.format(**{n: f"read_parquet('{{dir}}/{n}.parquet')" for n in TABLES})))
    return out


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def check(responses, duck_sqls, data_dir):
    """{op id: error} for every front-door answer that differs from
    DuckDB's answer to the same SQL over the same files."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    expected, bad = {}, {}
    for resp in responses:
        q = resp["query"]
        if q not in expected:
            rel = con.execute(duck_sqls[q].replace("{dir}", data_dir))
            cols = [d[0] for d in rel.description]
            expected[q] = (cols, [tuple(row) for row in rel.fetchall()])
        cols, rows = expected[q]
        try:
            body = json.loads(resp["body"])
        except ValueError:
            bad[resp["op"]] = "response is not JSON"
            continue
        got_cols = body.get("columns")
        got = [tuple(row.get(c) for c in cols) for row in body.get("rows", [])]
        if got_cols != cols:
            bad[resp["op"]] = f"columns {got_cols} != {cols}"
        elif len(got) != len(rows) or not all(
                len(g) == len(e) and all(_same(x, y) for x, y in zip(g, e)) for g, e in zip(got, rows)):
            bad[resp["op"]] = f"query {q}: {len(got)} rows differ from DuckDB's {len(rows)}"
    con.close()
    return bad
