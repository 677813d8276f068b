"""Result checks against DuckDB over the same generated parquet files.

Nothing here is timed: it runs after the engine's process has exited.
"""
import math

import duckdb

INT64 = 1 << 64


def wrap64(x):
    x %= INT64
    return x - INT64 if x >= 1 << 63 else x


def same(a, b):
    """Row-set equality with a relative tolerance for floating point."""
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return bool(a) == bool(b)
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return str(a) == str(b)


def rows(res):
    return [[v for v in r] for r in res]


def scan_expected(con, q):
    res = con.execute(q["sql"].replace("{lineitem}", "lineitem").replace("{orders}", "orders")).fetchall()
    if q["digest"]:
        w, s = 0, 0.0
        for i, (key, cust, price) in enumerate(res):
            w += (i + 1) * key + cust
            s += price
        return [[len(res), wrap64(w), s]]
    return rows(res)


def check_scan(plan, ops):
    """Marks each read operation whose answer differs from DuckDB's."""
    cache = {}
    rounds = plan["rounds"]
    con = duckdb.connect()
    for t, path in plan["inputs"].items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    for o in ops:
        key = (o["group"], o["kind"])
        if key not in cache:
            q = next(q for q in rounds[o["group"]] if q["kind"] == o["kind"])
            cache[key] = scan_expected(con, q)
        if o["ok"] and not same(o["answer"], cache[key]):
            o["ok"] = False
            o["err"] = f"answer {str(o['answer'])[:300]} != duckdb {str(cache[key])[:300]}"
    con.close()


def check_ingest(plan, ops):
    """Replays the executed cycles on a DuckDB copy of the table and
    compares every statement's row counts and each cycle's check read."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{plan['base']}')")
        by_group = {}
        for o in ops:
            by_group.setdefault(o["group"], {})[o["kind"]] = o
        for g in sorted(by_group):
            c = plan["cycles"][g]
            got = by_group[g]
            want = {}
            con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{c['append']}')")
            want["delete_dv"] = con.execute(f"DELETE FROM t WHERE {c['delete_dv']}").fetchone()[0]
            want["delete"] = con.execute(f"DELETE FROM t WHERE {c['delete']}").fetchone()[0]
            con.execute(f"UPDATE t SET o_totalprice = o_totalprice + 1.0, o_orderstatus = 'U' "
                        f"WHERE {c['update_where']}")
            want["update_dv"] = con.execute(
                f"UPDATE t SET o_totalprice = o_totalprice + 2.0, o_orderstatus = 'V' "
                f"WHERE {c['update_dv_where']}").fetchone()[0]
            src = f"read_parquet('{c['merge']}')"
            n_src = con.execute(f"SELECT count(*) FROM {src}").fetchone()[0]
            upd = con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {src})").fetchone()[0]
            con.execute(f"INSERT INTO t SELECT * FROM {src}")
            want["merge"] = [upd, n_src - upd]
            want["verify_read"] = rows(con.execute(
                "SELECT count(*), sum(o_orderkey), sum(o_custkey), sum(o_totalprice), "
                "sum(CASE WHEN o_orderstatus = 'U' THEN 1 ELSE 0 END), "
                "sum(CASE WHEN o_orderstatus = 'V' THEN 1 ELSE 0 END) FROM t").fetchall())
            for kind, w in want.items():
                o = got.get(kind)
                if o is not None and o["ok"] and not same(o["answer"], w):
                    o["ok"] = False
                    o["err"] = f"answer {o['answer']} != duckdb replay {w}"
            if "verify_read" not in got or not got["verify_read"]["ok"]:
                # a cycle whose check read fails leaves all its statements suspect
                for o in got.values():
                    if o["ok"]:
                        o["ok"] = False
                        o["err"] = "cycle check read failed"
    finally:
        con.close()
