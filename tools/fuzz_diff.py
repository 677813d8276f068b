#!/usr/bin/env python3
"""Randomized differential testing: generate seeded random ANSI queries
over the test tables, run them on Spark (graft.FuzzRun) and DuckDB, and
hash-compare canonicalized results (same canon as tools/check.py).

    python3 tools/fuzz_diff.py [sfdir] [n_queries] [seed] [--skip-spark]

The grammar is restricted to the engine-portable core, with the known
cross-engine divergences excluded BY CONSTRUCTION (each exclusion is a
documented semantic difference, not a bug in either engine):
  - every SUM/COUNT is CAST to BIGINT (DuckDB widens to HUGEINT);
  - aggregates over double columns go through DECIMAL(18,2) and are
    final-cast to DOUBLE (double summation order differs per engine);
  - no CAST(double AS INT) (DuckDB rounds, Spark truncates);
  - no round() (HALF_UP vs half-away ties), no division that can hit 0;
  - ORDER BY covers every output column with explicit NULLS FIRST
    (engine defaults differ), so LIMIT is deterministic.

Nested + DECIMAL coverage (round 9) rides a generator-built table
`nestedx` (array/struct/decimal columns derived from `documents`,
materialized to /tmp parquet once per testdata generation; the Spark
side registers it via GRAFT_FUZZ_EXTRA — a vortex COPY in --vortex
mode, exercising the shredded-struct pages and both decimal storage
paths). Its grammar keeps to the name-and-semantics-shared surface;
excluded by construction (all probed empirically, divergent):
  - bare list indexing arr[i] (DuckDB 1-based, Spark 0-based);
  - array_distinct order (Spark keeps first occurrence, DuckDB sorts)
    -> always wrapped in array_sort;
  - concat_ws over an array (DuckDB stringifies the list, Spark joins);
  - array length (len vs size — no shared name), unnest vs explode,
    element_at-on-map (DuckDB returns a list, Spark the value),
    map-typed output columns (python reprs differ);
  - DECIMAL arithmetic always CAST to an explicit result type wide
    enough that no rounding occurs (engine scale-inference differs),
    divisions excluded entirely.
"""
import sys, os, json, glob, hashlib, random, shutil, subprocess
import duckdb, pyarrow.parquet as pq

args = [a for a in sys.argv[1:] if not a.startswith('-')]
SF = args[0] if len(args) > 0 else '/root/testdata/sf0.01'
N = int(args[1]) if len(args) > 1 else 120
SEED = int(args[2]) if len(args) > 2 else 8
SKIP_SPARK = '--skip-spark' in sys.argv
VORTEX = '--vortex' in sys.argv   # Spark side reads vortex COPIES of the tables
OUT = '/tmp/fuzz_out'
QFILE = '/tmp/fuzz_queries.json'

rng = random.Random(SEED)

# ---- schema model ---------------------------------------------------
# (cols by portable type class; pk = deterministic tiebreak order)
T = {
  'lineitem': dict(
    ints=['l_orderkey', 'l_partkey', 'l_suppkey', 'l_linenumber'],
    dbls=['l_quantity', 'l_extendedprice', 'l_discount', 'l_tax'],
    strs=['l_returnflag', 'l_linestatus'], tss=['l_shipdate'],
    pk=['l_orderkey', 'l_linenumber']),
  'orders': dict(
    ints=['o_orderkey', 'o_custkey'], dbls=['o_totalprice'],
    strs=['o_orderstatus', 'o_orderpriority'], tss=['o_orderdate'],
    pk=['o_orderkey']),
  'customer': dict(
    ints=['c_custkey', 'c_nationkey'], dbls=['c_acctbal'],
    strs=['c_name', 'c_mktsegment'], tss=[], pk=['c_custkey']),
  'part': dict(
    ints=['p_partkey', 'p_size'], dbls=['p_retailprice'],
    strs=['p_name', 'p_brand', 'p_type'], tss=[], pk=['p_partkey']),
  'supplier': dict(
    ints=['s_suppkey', 's_nationkey'], dbls=['s_acctbal'],
    strs=['s_name'], tss=[], pk=['s_suppkey']),
  'nation': dict(ints=['n_nationkey', 'n_regionkey'], dbls=[],
                 strs=['n_name'], tss=[], pk=['n_nationkey']),
  'events': dict(ints=['event_id', 'user_id'], dbls=['value'],
                 strs=['event_type'], tss=['ts'], pk=['event_id']),
}
JOINS = [  # (left table, right table, on)
  ('lineitem', 'orders', 'l_orderkey = o_orderkey'),
  ('lineitem', 'part', 'l_partkey = p_partkey'),
  ('lineitem', 'supplier', 'l_suppkey = s_suppkey'),
  ('orders', 'customer', 'o_custkey = c_custkey'),
  ('customer', 'nation', 'c_nationkey = n_nationkey'),
  ('supplier', 'nation', 's_nationkey = n_nationkey'),
]

con = duckdb.connect()
con.execute("SET TimeZone='UTC'")
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

# ---- nested/decimal extra table (see module docstring) ---------------
SFNAME = os.path.basename(os.path.normpath(SF))
_doc = f'{SF}/documents.parquet'
NESTEDX = (f"/tmp/fuzz_nestedx_{SFNAME}_"
           f"{os.path.getsize(_doc)}_{int(os.path.getmtime(_doc))}.parquet")
if not os.path.exists(NESTEDX):
    con.execute(
        "COPY (SELECT doc_id, source, "
        "  list_slice(string_split(text, ' '), 1, 8) AS words, "
        "  {'mime': 'text/' || lang, 'n': n_chars, 'tags': [source, lang]} AS meta, "
        "  CAST(n_chars * 1.37 AS DECIMAL(12,2)) AS dec1, "
        "  CAST(n_chars * 0.0123 AS DECIMAL(18,4)) AS dec2, "
        "  CAST(doc_id * 123456789.12345678 AS DECIMAL(30,8)) AS dec3 "
        f"FROM documents) TO '{NESTEDX}' (FORMAT PARQUET)")
con.execute(f"CREATE VIEW nestedx AS SELECT * FROM read_parquet('{NESTEDX}')")
NX_WORDS = [r[0] for r in con.execute(
    "SELECT DISTINCT unnest(words) AS w FROM nestedx ORDER BY w LIMIT 40").fetchall()]
NX_MIMES = [r[0] for r in con.execute(
    "SELECT DISTINCT meta.mime FROM nestedx").fetchall()]
NX_SRC = [r[0] for r in con.execute("SELECT DISTINCT source FROM nestedx").fetchall()]
NX_N = list(con.execute(
    "SELECT quantile_disc(meta.n, 0.25), quantile_disc(meta.n, 0.75) FROM nestedx").fetchone())
NX_DEC1 = list(con.execute(
    "SELECT quantile_disc(dec1, 0.3), quantile_disc(dec1, 0.7) FROM nestedx").fetchone())

# constants sampled from the real data → predicates with real selectivity
CONST = {}
for t, s in T.items():
    CONST[t] = {}
    for c in s['ints'] + s['dbls']:
        qs = con.execute(
            f"SELECT quantile_disc({c}, 0.25), quantile_disc({c}, 0.5), "
            f"quantile_disc({c}, 0.75) FROM {t}").fetchone()
        CONST[t][c] = [v for v in qs if v is not None] or [0]
    for c in s['strs']:
        vals = [r[0] for r in con.execute(
            f"SELECT DISTINCT {c} FROM {t} WHERE {c} IS NOT NULL LIMIT 40").fetchall()]
        CONST[t][c] = vals or ['x']
    for c in s['tss']:
        qs = con.execute(
            f"SELECT quantile_disc({c}, 0.33), quantile_disc({c}, 0.66) FROM {t}").fetchone()
        CONST[t][c] = [v for v in qs if v is not None]

def lit(t, c, kind):
    v = rng.choice(CONST[t][c])
    if kind == 'str':
        return "'" + str(v).replace("'", "''") + "'"
    if kind == 'ts':
        return f"TIMESTAMP '{v}'"
    return repr(float(v)) if isinstance(v, float) else str(v)

def pred(t, depth=0):
    s = T[t]
    choices = ['int_cmp', 'str_eq', 'in_list', 'between', 'like']
    if s['dbls']: choices.append('dbl_cmp')
    if s['tss']: choices.append('ts_cmp')
    if depth < 1: choices += ['and', 'or', 'not']
    k = rng.choice(choices)
    if k == 'and' or k == 'or':
        return f"({pred(t, depth+1)} {k.upper()} {pred(t, depth+1)})"
    if k == 'not':
        return f"(NOT {pred(t, depth+1)})"
    if k == 'int_cmp':
        c = rng.choice(s['ints'])
        return f"{c} {rng.choice(['<', '<=', '>', '>=', '=', '<>'])} {lit(t, c, 'int')}"
    if k == 'dbl_cmp':
        c = rng.choice(s['dbls'])
        return f"{c} {rng.choice(['<', '<=', '>', '>='])} {lit(t, c, 'dbl')}"
    if k == 'ts_cmp':
        c = rng.choice(s['tss'])
        return f"{c} {rng.choice(['<', '>='])} {lit(t, c, 'ts')}"
    if k == 'str_eq':
        c = rng.choice(s['strs'])
        return f"{c} {rng.choice(['=', '<>'])} {lit(t, c, 'str')}"
    if k == 'in_list':
        c = rng.choice(s['strs'] + s['ints'])
        kind = 'str' if c in s['strs'] else 'int'
        vals = ", ".join(sorted({lit(t, c, kind) for _ in range(rng.randint(2, 4))}))
        return f"{c} IN ({vals})"
    if k == 'like':
        col = rng.choice(s['strs'])
        v = str(rng.choice(CONST[t][col])).replace("'", "''")
        return f"{col} LIKE '{v[:max(1, len(v)//2)]}%'"
    if k == 'between':
        c = rng.choice(s['ints'])
        a, b = sorted(rng.sample(CONST[t][c], 1) * 2)
        return f"{c} BETWEEN {a} AND {b + rng.randint(1, 50)}"

def scalar_expr(t):
    """A derived output expression (portable, deterministic)."""
    s = T[t]
    k = rng.choice(['arith', 'case', 'strfn', 'coalesce'])
    if k == 'arith':
        a, b = rng.choice(s['ints']), rng.choice(s['ints'])
        op = rng.choice(['+', '-', '*'])
        return f"CAST({a} {op} {b} AS BIGINT)"
    if k == 'case':
        return f"CASE WHEN {pred(t, depth=1)} THEN 1 ELSE 0 END"
    if k == 'strfn':
        c = rng.choice(s['strs'])
        return rng.choice([f"length({c})", f"upper({c})", f"substr({c}, 1, 3)",
                           f"concat({c}, '_x')"])
    if k == 'coalesce':
        c = rng.choice(s['ints'])
        return f"coalesce({c}, 0)"

def agg_expr(t):
    s = T[t]
    k = rng.choice(['cnt', 'cnt_d', 'sum_i', 'sum_dec', 'minmax', 'avg_i'])
    if k == 'cnt':
        return "CAST(count(*) AS BIGINT)"
    if k == 'cnt_d':
        c = rng.choice(s['ints'] + s['strs'])
        return f"CAST(count(DISTINCT {c}) AS BIGINT)"
    if k == 'sum_i':
        c = rng.choice(s['ints'])
        return f"CAST(sum({c}) AS BIGINT)"
    if k == 'sum_dec':
        if not s['dbls']: return "CAST(count(*) AS BIGINT)"
        c = rng.choice(s['dbls'])
        return f"CAST(sum(CAST({c} AS DECIMAL(18,2))) AS DOUBLE)"
    if k == 'minmax':
        c = rng.choice(s['ints'] + s['strs'] + s['tss'])
        return f"{rng.choice(['min', 'max'])}({c})"
    if k == 'avg_i':
        c = rng.choice(s['ints'])
        return f"CAST(avg({c}) AS DOUBLE)"

def order_by(cols, rnd=False):
    def d(c):
        return (f"{c} DESC NULLS LAST" if rnd and rng.random() < 0.3
                else f"{c} ASC NULLS FIRST")
    return "ORDER BY " + ", ".join(d(c) for c in cols)

def q_scan():
    t = rng.choice(list(T))
    s = T[t]
    cols = rng.sample(s['ints'] + s['strs'] + s['dbls'] + s['tss'],
                      rng.randint(1, 3))
    sel = [f"{c} AS c{i}" for i, c in enumerate(cols)]
    if rng.random() < 0.6:
        sel.append(f"{scalar_expr(t)} AS c{len(sel)}")
    names = [x.split(' AS ')[-1] for x in sel]
    limit = f" LIMIT {rng.randint(5, 200)}" if rng.random() < 0.5 else ""
    if limit and rng.random() < 0.3:
        limit += f" OFFSET {rng.randint(1, 40)}"
    distinct = "DISTINCT " if rng.random() < 0.2 else ""
    return (f"SELECT {distinct}{', '.join(sel)} FROM {t} WHERE {pred(t)} "
            f"{order_by(names, rnd=True)}{limit}")

def q_agg():
    t = rng.choice(list(T))
    s = T[t]
    gcols = rng.sample(s['strs'] + s['ints'], rng.randint(1, 2))
    aggs = [f"{agg_expr(t)} AS a{i}" for i in range(rng.randint(1, 3))]
    gsel = [f"{c} AS g{i}" for i, c in enumerate(gcols)]
    having = f" HAVING count(*) > {rng.randint(1, 3)}" if rng.random() < 0.3 else ""
    where = f"WHERE {pred(t)} " if rng.random() < 0.7 else ""
    names = [f"g{i}" for i in range(len(gcols))] + [f"a{i}" for i in range(len(aggs))]
    gkeys = ', '.join(f'g{i}' for i in range(len(gcols)))
    grp = f"ROLLUP({gkeys})" if (len(gcols) > 1 and rng.random() < 0.3) else gkeys
    return (f"SELECT {', '.join(gsel + aggs)} FROM {t} {where}"
            f"GROUP BY {grp}{having} "
            f"{order_by(names)}")

def q_join():
    lt, rt, on = rng.choice(JOINS)
    jt = rng.choice(['JOIN', 'LEFT JOIN', 'RIGHT JOIN', 'FULL JOIN'])
    ls, rs = T[lt], T[rt]
    if rng.random() < 0.5:   # join + aggregate
        g = rng.choice(ls['strs'] + rs['strs'])
        gt = lt if g in ls['strs'] else rt
        agg = agg_expr(lt)
        return (f"SELECT {g} AS g0, {agg} AS a0, CAST(count(*) AS BIGINT) AS a1 "
                f"FROM {lt} {jt} {rt} ON {on} WHERE {pred(lt)} "
                f"GROUP BY g0 {order_by(['g0', 'a0', 'a1'])}")
    cols = [rng.choice(ls['ints']), rng.choice(rs['ints'] + rs['strs'])]
    sel = [f"{c} AS c{i}" for i, c in enumerate(cols)]
    names = [f"c{i}" for i in range(len(cols))]
    return (f"SELECT {', '.join(sel)} FROM {lt} {jt} {rt} ON {on} "
            f"WHERE {pred(lt)} {order_by(names)} LIMIT {rng.randint(10, 300)}")

def q_setop():
    t = rng.choice(list(T))
    s = T[t]
    c = rng.choice(s['ints'] + s['strs'])
    op = rng.choice(['UNION', 'UNION ALL', 'INTERSECT', 'EXCEPT'])
    return (f"SELECT {c} AS c0 FROM {t} WHERE {pred(t)} {op} "
            f"SELECT {c} AS c0 FROM {t} WHERE {pred(t)} ORDER BY c0 ASC NULLS FIRST")

def q_subquery():
    kind = rng.choice(['in', 'scalar', 'exists'])
    if kind == 'in':
        return (f"SELECT o_orderkey AS c0, o_orderstatus AS c1 FROM orders "
                f"WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE {pred('customer')}) "
                f"AND {pred('orders')} {order_by(['c0'])} LIMIT 200")
    if kind == 'scalar':
        return (f"SELECT c_custkey AS c0, CAST(c_acctbal AS DOUBLE) AS c1 FROM customer "
                f"WHERE c_acctbal > (SELECT CAST(avg(c_acctbal) AS DOUBLE) FROM customer) "
                f"AND {pred('customer')} {order_by(['c0'])}")
    neg = "NOT " if rng.random() < 0.4 else ""
    return (f"SELECT c_custkey AS c0 FROM customer WHERE {neg}EXISTS "
            f"(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND {pred('orders')}) "
            f"{order_by(['c0'])}")

def q_window():
    t = rng.choice(['lineitem', 'orders', 'events'])
    s = T[t]
    g = rng.choice(s['strs'])
    key = ", ".join(s['pk'])
    fn = rng.choice([f"row_number() OVER (PARTITION BY {g} ORDER BY {key})",
                     f"rank() OVER (PARTITION BY {g} ORDER BY {s['ints'][0]})",
                     f"CAST(sum({s['ints'][-1]}) OVER (PARTITION BY {g} ORDER BY {key} "
                     f"ROWS UNBOUNDED PRECEDING) AS BIGINT)"])
    names = ['c0', 'c1', 'c2']
    return (f"SELECT {s['pk'][0]} AS c0, {g} AS c1, {fn} AS c2 FROM {t} "
            f"WHERE {pred(t)} {order_by(names)} LIMIT 500")

def nx_pred():
    w = str(rng.choice(NX_WORDS)).replace("'", "''")
    return rng.choice([
        f"array_contains(words, '{w}')",
        f"meta.n {rng.choice(['<', '<=', '>', '>='])} {rng.choice(NX_N)}",
        f"meta.mime = '{rng.choice(NX_MIMES)}'",
        f"source {rng.choice(['=', '<>'])} '{rng.choice(NX_SRC)}'",
        f"dec1 {rng.choice(['<', '>='])} {rng.choice(NX_DEC1)}",
        f"array_position(words, '{w}') {rng.choice(['=', '>'])} {rng.randint(0, 3)}",
    ])

def q_nested():
    """array/struct projections over the shared function surface."""
    w = str(rng.choice(NX_WORDS)).replace("'", "''")
    opts = [
        f"array_contains(words, '{w}')",
        f"array_position(words, '{w}')",
        "array_sort(array_distinct(words))",
        # no array literal: bracket syntax is DuckDB-only, array() is
        # Spark-only — intersect two existing array columns instead
        "array_sort(array_intersect(words, meta.tags))",
        "meta.n",
        "meta.mime",
        "array_sort(meta.tags)",
        f"CASE WHEN {nx_pred()} THEN meta.mime ELSE source END",
    ]
    sel = ["doc_id AS c0"] + [
        f"{e} AS c{i+1}" for i, e in enumerate(rng.sample(opts, rng.randint(1, 3)))]
    limit = f" LIMIT {rng.randint(10, 300)}" if rng.random() < 0.5 else ""
    return (f"SELECT {', '.join(sel)} FROM nestedx WHERE {nx_pred()} "
            f"ORDER BY c0 ASC NULLS FIRST{limit}")

def q_nested_agg():
    """aggregates grouped by struct fields / array predicates."""
    g = rng.choice(["meta.mime", "source",
                    f"array_contains(words, '{str(rng.choice(NX_WORDS))}')"])
    aggs = rng.sample([
        "CAST(count(*) AS BIGINT)",
        "CAST(sum(meta.n) AS BIGINT)",
        "CAST(count(DISTINCT meta.mime) AS BIGINT)",
        "min(meta.mime)",
        "CAST(max(meta.n) AS BIGINT)",
    ], rng.randint(1, 3))
    sel = [f"{g} AS g0"] + [f"{a} AS a{i}" for i, a in enumerate(aggs)]
    names = ["g0"] + [f"a{i}" for i in range(len(aggs))]
    where = f"WHERE {nx_pred()} " if rng.random() < 0.6 else ""
    return (f"SELECT {', '.join(sel)} FROM nestedx {where}"
            f"GROUP BY g0 {order_by(names)}")

def q_decimal():
    """DECIMAL storage + arithmetic: every result CAST to an explicit
    type wide enough that no rounding occurs (scale-inference rules
    differ across engines; values then agree exactly)."""
    if rng.random() < 0.5:
        exprs = rng.sample([
            "CAST(dec1 + dec2 AS DECIMAL(38,4))",
            "CAST(dec1 * dec2 AS DECIMAL(38,6))",
            "CAST(dec3 - dec1 AS DECIMAL(38,8))",
            "CAST(dec1 AS DECIMAL(38,2))",
            "dec3",
            "CAST(dec2 * 3 AS DECIMAL(38,4))",
        ], rng.randint(1, 3))
        sel = ["doc_id AS c0"] + [f"{e} AS c{i+1}" for i, e in enumerate(exprs)]
        limit = f" LIMIT {rng.randint(10, 300)}" if rng.random() < 0.5 else ""
        return (f"SELECT {', '.join(sel)} FROM nestedx WHERE {nx_pred()} "
                f"ORDER BY c0 ASC NULLS FIRST{limit}")
    aggs = rng.sample([
        "CAST(sum(dec1) AS DECIMAL(38,2))",
        "CAST(sum(dec2) AS DECIMAL(38,4))",
        "CAST(sum(dec3) AS DECIMAL(38,8))",
        "min(dec1)", "max(dec3)",
        "CAST(count(DISTINCT dec1) AS BIGINT)",
    ], rng.randint(1, 3))
    sel = ["source AS g0"] + [f"{a} AS a{i}" for i, a in enumerate(aggs)]
    names = ["g0"] + [f"a{i}" for i in range(len(aggs))]
    where = f"WHERE {nx_pred()} " if rng.random() < 0.5 else ""
    return (f"SELECT {', '.join(sel)} FROM nestedx {where}"
            f"GROUP BY g0 {order_by(names)}")


def q_nested_window():
    """Window frames over the nested/DECIMAL surface (round 10).
    Exclusions by construction: integer sum/count OVER always CAST to
    BIGINT (DuckDB widens to HUGEINT); decimal sums CAST to an explicit
    wide decimal (scale inference differs); avg-over-decimal excluded
    entirely (Spark divides in decimal, DuckDB in double — last-ulp
    drift); lag/lead get a frameless window (Spark rejects offset
    functions inside an explicit frame). ORDER BY doc_id is unique, so
    every frame is deterministic."""
    part = rng.choice(["source", "meta.mime"])
    frame = rng.choice([
        f"ROWS BETWEEN {rng.randint(1, 3)} PRECEDING AND CURRENT ROW",
        "ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING",
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
    ])
    framed = rng.choice([
        "CAST(sum(dec1) OVER w AS DECIMAL(38,2))",
        "CAST(sum(dec2) OVER w AS DECIMAL(38,4))",
        "CAST(sum(meta.n) OVER w AS BIGINT)",
        "CAST(count(*) OVER w AS BIGINT)",
        "min(meta.mime) OVER w",
        "CAST(max(dec2) OVER w AS DECIMAL(38,4))",
        "CAST(min(dec3) OVER w AS DECIMAL(38,8))",
    ])
    frameless = rng.choice([
        f"lag(dec1, {rng.randint(1, 2)}) OVER (PARTITION BY {part} ORDER BY doc_id)",
        f"lead(meta.n, 1) OVER (PARTITION BY {part} ORDER BY doc_id)",
        f"CAST(row_number() OVER (PARTITION BY {part} ORDER BY doc_id) AS BIGINT)",
    ])
    where = f"WHERE {nx_pred()} " if rng.random() < 0.5 else ""
    return (f"SELECT doc_id AS c0, {framed} AS c1, {frameless} AS c2 "
            f"FROM nestedx {where}"
            f"WINDOW w AS (PARTITION BY {part} ORDER BY doc_id {frame}) "
            f"ORDER BY c0 ASC NULLS FIRST")

# ---- maintenance mode (round 10): DELETE/UPDATE/fold/compact over a
# staged vortex copy vs a DuckDB temp-table twin -----------------------
MAINT_TABLES = ['orders', 'customer', 'events', 'supplier', 'part', 'nestedx']

def maint_pred(t):
    """A DML predicate: the query grammar (pred) plus the shapes whose
    pruning differs most between translated and optimized filters --
    IS [NOT] NULL and an IN list above Spark's InSet threshold (10).
    Drawn here, not in pred(), so query seeds keep their sequences."""
    if t == 'nestedx':
        return nx_pred()
    s = T[t]
    k = rng.random()
    if k < 0.15:
        c = rng.choice(s['ints'] + s['strs'] + s['dbls'])
        return f"{c} IS {rng.choice(['', 'NOT '])}NULL"
    if k < 0.3:
        c = rng.choice(s['ints'])
        base = int(rng.choice(CONST[t][c]))
        vals = rng.sample(range(base - 40, base + 41), rng.randint(11, 14))
        return f"{c} IN ({', '.join(str(v) for v in sorted(vals))})"
    return pred(t)

def maint_sets(t):
    """col:=expr assignments valid (and identical) in both engines."""
    if t == 'nestedx':
        opts = [("source", "'src_upd'"),
                ("dec1", "CAST(dec1 + 1 AS DECIMAL(12,2))"),
                ("dec2", "CAST(0.5 AS DECIMAL(18,4))")]
    else:
        s = T[t]
        opts = []
        for c in s['ints'][:2]:
            opts.append((c, f"{c} + {rng.randint(1, 9)}"))
        for c in s['strs'][:2]:
            opts.append((c, lit(t, c, 'str')))
        for c in s['dbls'][:1]:
            opts.append((c, f"{c} + 1000.0"))  # exact IEEE add, both engines
    return rng.sample(opts, rng.randint(1, min(2, len(opts))))

def maint_select(t):
    """read-back over the mutated table (view/temp table `maintv`)."""
    if t == 'nestedx':
        if rng.random() < 0.5:
            extra = rng.sample(["source", "meta.n", "dec1", "dec2",
                                "array_sort(array_distinct(words))",
                                "meta.mime"], rng.randint(1, 3))
            sel = ["doc_id AS c0"] + [f"{e} AS c{i+1}" for i, e in enumerate(extra)]
            return (f"SELECT {', '.join(sel)} FROM maintv "
                    f"ORDER BY c0 ASC NULLS FIRST")
        return ("SELECT source AS g0, CAST(count(*) AS BIGINT) AS a0, "
                "CAST(sum(dec1) AS DECIMAL(38,2)) AS a1, "
                "CAST(sum(meta.n) AS BIGINT) AS a2 "
                "FROM maintv GROUP BY g0 "
                "ORDER BY g0 ASC NULLS FIRST")
    s = T[t]
    if rng.random() < 0.5:
        cols = s['pk'] + rng.sample(s['ints'] + s['strs'] + s['dbls'] + s['tss'],
                                    rng.randint(1, 3))
        seen, sel = set(), []
        for c in cols:
            if c not in seen:
                seen.add(c); sel.append(f"{c} AS c{len(sel)}")
        names = [f"c{i}" for i in range(len(sel))]
        return (f"SELECT {', '.join(sel)} FROM maintv "
                f"{order_by(names)}")
    g = rng.choice(s['strs'] + s['ints'])
    aggs = ["CAST(count(*) AS BIGINT) AS a0",
            f"CAST(sum({rng.choice(s['ints'])}) AS BIGINT) AS a1"]
    if s['dbls']:
        aggs.append(f"CAST(sum(CAST({rng.choice(s['dbls'])} AS DECIMAL(18,2))) AS DOUBLE) AS a2")
    names = ["g0"] + [a.split(" AS ")[-1] for a in aggs]
    return (f"SELECT {g} AS g0, {', '.join(aggs)} FROM maintv "
            f"GROUP BY g0 {order_by(names)}")

SEP = '\x01'  # FuzzRun's MaintSep (U+0001 field separator)

# low-cardinality partition column for the partitioned-staging mode
PARTBY = {'orders': 'o_orderstatus', 'customer': 'c_mktsegment',
          'events': 'event_type', 'part': 'p_brand', 'nestedx': 'source'}

# complete column list per maintenance table (the portable-class model
# in T is a subset; MERGE sources project the full row)
FULLCOLS = {t: [d[0] for d in con.execute(f"SELECT * FROM {t} LIMIT 0").description]
            for t in MAINT_TABLES}
MAINT_KEY = {t: ('doc_id' if t == 'nestedx' else T[t]['pk'][0])
             for t in MAINT_TABLES}

def maint_merge(t, ops_spark, ops_duck, conditional, partby=None, nmbs=False):
    """SQL MERGE (round 11: plans/VortexDmlRules → mergeClauses) vs the
    DuckDB DELETE + UPDATE..FROM + anti-join-INSERT twin. Clause
    conditions are key-parity — DISJOINT by construction, so the
    multi-statement twin is order-independent and exact. A NULL-key
    source row rides along sometimes (ANSI: matches nothing; inserts
    iff the insert clause's condition passes — NULL-cond rows skip in
    both engines). nmbs=True (round 12) appends two parity-disjoint
    WHEN NOT MATCHED BY SOURCE clauses (DELETE evens, UPDATE odds);
    the twin uses NOT EXISTS (never NOT IN — a NULL-key target row IS
    not-matched-by-source, and NOT IN over any key set would drop it
    from the twin's statements while Spark's clause conditions on
    key%2 are NULL → no clause fires → kept verbatim; NOT EXISTS gives
    the same row the same fate)."""
    key = MAINT_KEY[t]
    cols = FULLCOLS[t]
    setmap = dict(kv for kv in maint_sets(t) if kv[0] != key and kv[0] != partby)
    if not setmap:  # ensure at least one modified (non-partition) column
        cands = [c for c in (T[t]['strs'] + T[t]['ints'] if t != 'nestedx' else ['dec1'])
                 if c != partby and c != key]
        c = cands[-1]
        setmap = ({c: "CAST(dec1 + 1 AS DECIMAL(12,2))"} if c == 'dec1' else
                  {c: lit(t, c, 'str')} if c in T[t].get('strs', []) else {c: f"{c} + 7"})
    m = rng.randint(4, 12); r = rng.randint(0, m - 1)
    def proj(rekey=None, nullkey=False):
        out = []
        for c in cols:
            if c == key and nullkey:
                out.append(f"CAST(NULL AS BIGINT) AS {c}")
            elif c == key and rekey is not None:
                out.append(f"{c} + {rekey} AS {c}")
            elif c in setmap:
                out.append(f"{setmap[c]} AS {c}")
            else:
                out.append(c)
        return ", ".join(out)
    branches = [f"SELECT {proj()} FROM {{F}} WHERE {key} % {m} = {r}",
                f"SELECT {proj(rekey=100000000)} FROM {{F}} WHERE {key} % {m} = {r}"]
    if rng.random() < 0.3:
        branches.append(
            f"SELECT {proj(nullkey=True)} FROM {{F}} "
            f"WHERE {key} = (SELECT min({key}) FROM {{F}})")
    src = " UNION ALL ".join(branches)
    spark_src = src.format(F="maintbase")
    duck_src = src.format(F=t)
    ops_duck.append(f"CREATE OR REPLACE TEMP TABLE mergesrc AS {duck_src};")
    nonkey = [c for c in cols if c != key]
    if not conditional:
        merge_sql = (f"MERGE INTO vtx.`__DIR__` t USING ({spark_src}) s2 "
                     f"ON t.{key} = s2.{key} "
                     f"WHEN MATCHED THEN UPDATE SET * "
                     f"WHEN NOT MATCHED THEN INSERT *")
        ops_duck.append("UPDATE maintv SET " +
                        ", ".join(f"{c} = s.{c}" for c in nonkey) +
                        f" FROM mergesrc s WHERE maintv.{key} = s.{key};")
        ops_duck.append(
            f"INSERT INTO maintv SELECT * FROM mergesrc s WHERE NOT EXISTS "
            f"(SELECT 1 FROM maintv t WHERE t.{key} = s.{key});")
    else:
        upd = rng.sample(sorted(setmap), rng.randint(1, len(setmap)))
        set_s = ", ".join(f"{c} = s2.{c}" for c in upd)
        set_d = ", ".join(f"{c} = s.{c}" for c in upd)
        merge_sql = (f"MERGE INTO vtx.`__DIR__` t USING ({spark_src}) s2 "
                     f"ON t.{key} = s2.{key} "
                     f"WHEN MATCHED AND s2.{key} % 2 = 0 THEN DELETE "
                     f"WHEN MATCHED THEN UPDATE SET {set_s} "
                     f"WHEN NOT MATCHED AND s2.{key} % 2 = 1 THEN INSERT *")
        ops_duck.append(f"DELETE FROM maintv WHERE {key} IN "
                        f"(SELECT {key} FROM mergesrc WHERE {key} % 2 = 0);")
        ops_duck.append(f"UPDATE maintv SET {set_d} FROM mergesrc s "
                        f"WHERE maintv.{key} = s.{key} AND s.{key} % 2 = 1;")
        ops_duck.append(
            f"INSERT INTO maintv SELECT * FROM mergesrc s "
            f"WHERE s.{key} % 2 = 1 AND NOT EXISTS "
            f"(SELECT 1 FROM maintv t WHERE t.{key} = s.{key});")
    if nmbs:
        # round 12: WHEN NOT MATCHED BY SOURCE — parity-disjoint DELETE
        # (evens) / UPDATE (odds), so the twin is order-independent.
        # Twin rows touched here are exactly the rows the matched/insert
        # statements never touch (EXISTS vs NOT EXISTS partition), so
        # appending after the INSERT is exact; inserted rows have their
        # keys in mergesrc, so NOT EXISTS skips them too.
        nc = rng.choice(sorted(setmap))
        nset_sql = f"{nc} = {setmap[nc]}"
        merge_sql += (
            f" WHEN NOT MATCHED BY SOURCE AND t.{key} % 2 = 0 THEN DELETE"
            f" WHEN NOT MATCHED BY SOURCE AND t.{key} % 2 = 1"
            f" THEN UPDATE SET {nset_sql}")
        ops_duck.append(
            f"DELETE FROM maintv WHERE {key} % 2 = 0 AND NOT EXISTS "
            f"(SELECT 1 FROM mergesrc s WHERE s.{key} = maintv.{key});")
        ops_duck.append(
            f"UPDATE maintv SET {nset_sql} WHERE {key} % 2 = 1 AND NOT EXISTS "
            f"(SELECT 1 FROM mergesrc s WHERE s.{key} = maintv.{key});")
    ops_spark.append("op=sql" + SEP + merge_sql)

def q_maint():
    """returns (spark maintenance DSL, duckdb multi-statement twin)."""
    t = rng.choice(MAINT_TABLES)
    forced = os.environ.get('GRAFT_FUZZ_MAINT_KINDS')
    kind = rng.choice(forced.split(',')) if forced else \
           rng.choice(['del', 'dvdel', 'dvdel_fold', 'dvdel_dvdel',
                       'update', 'dvdel_update', 'del_compact',
                       'dvdel_dvdel_fold',
                       # round 11 surfaces
                       'dvupdate', 'dvupdate_fold', 'dvdel_dvupdate',
                       'sqlupdate', 'sqlmerge', 'sqlmerge_cond',
                       'dvdel_stream', 'dvupdate_stream',
                       'dvdel_update_stream', 'sqlmerge_stream',
                       # round 12 surfaces
                       'sqlupdate_subq', 'sqldel_subq', 'sqlmerge_nmbs',
                       'race_deldel', 'ttread_gen0',
                       # round 13 surfaces
                       'sqlupdate_corr', 'sqldel_corr', 'txn_pair',
                       'bigin', 'race_mix',
                       # round 14 surfaces
                       'sqlupdate_corragg', 'txn_append', 'txn_sql',
                       # round 15 surfaces
                       'txn_sql_race',
                       # MERGE over a masked file (the splice kernel)
                       'dvdel_sqlmerge', 'dvdel_sqlmerge_cond'])
    ops_spark, ops_duck = [], []
    # ~1/3 of queries stage the copy Hive-PARTITIONED: same twin, but
    # the Spark side now runs dir pruning, partition guards, the
    # layout-aware merge insert half, and partitioned streaming.
    # ~1/4 stage it BUCKETED by the maintenance key instead (never
    # both): bucket pruning, the bucket-key guards and the bucketed
    # merge insert half. Assignments to the partition column or the
    # bucket key are rejected by design, so the generators below must
    # avoid them. One draw decides both, so partitioned staging keeps
    # the seed sequences it had before bucketed staging existed.
    layout = rng.random()
    partby = PARTBY.get(t) if layout < 0.35 and t in PARTBY else None
    bucketby = MAINT_KEY[t] if partby is None and 0.35 <= layout < 0.6 else None
    if partby:
        ops_spark.append(f"partby={partby}")
    if bucketby:
        ops_spark.append(f"bucketby={bucketby}")
    fixed = {partby, bucketby} - {None}
    def no_part_sets(sets):
        kept = [kv for kv in sets if kv[0] not in fixed]
        if kept:
            return kept
        ints = [c for c in (T[t]['ints'] if t != 'nestedx' else []) if c not in fixed]
        if t == 'nestedx':
            return [("dec1", "CAST(dec1 + 1 AS DECIMAL(12,2))")]
        return [(ints[0], f"{ints[0]} + 3")]
    def add_del(mode):
        pr = maint_pred(t)
        ops_spark.append(f"op={mode}{SEP}{pr}")
        ops_duck.append(f"DELETE FROM maintv WHERE {pr};")
    def add_update(mode='update'):
        pr = maint_pred(t)
        sets = no_part_sets(maint_sets(t))
        ops_spark.append(f"op={mode}" + SEP + pr + SEP +
                         ";".join(f"{c}:={e}" for c, e in sets))
        ops_duck.append("UPDATE maintv SET " +
                        ", ".join(f"{c} = {e}" for c, e in sets) +
                        f" WHERE {pr};")
    def add_sql_update():
        pr = maint_pred(t)
        sets = no_part_sets(maint_sets(t))
        setsql = ", ".join(f"{c} = {e}" for c, e in sets)
        ops_spark.append("op=sql" + SEP +
                         f"UPDATE vtx.`__DIR__` SET {setsql} WHERE {pr}")
        ops_duck.append(f"UPDATE maintv SET {setsql} WHERE {pr};")
    def add_sql_subq(delete):
        # round 12: IN/NOT IN (SELECT …) predicate subqueries — either
        # SELF-referencing (both engines evaluate against the statement-
        # start snapshot: DuckDB by MVCC, graft by materialize-once) or
        # over the unmutated base. Keys are non-null PKs, so NOT IN is
        # NULL-safe here.
        key = MAINT_KEY[t]
        pr = maint_pred(t)
        inop = "NOT IN" if rng.random() < 0.3 else "IN"
        if rng.random() < 0.5:   # self-referencing
            sub_s = f"SELECT {key} FROM vtx.`__DIR__` WHERE {pr}"
            sub_d = f"SELECT {key} FROM maintv WHERE {pr}"
        else:                    # audit-table shape (unmutated base)
            sub_s = f"SELECT {key} FROM maintbase WHERE {pr}"
            sub_d = f"SELECT {key} FROM {t} WHERE {pr}"
        if delete:
            ops_spark.append("op=sql" + SEP +
                f"DELETE FROM vtx.`__DIR__` WHERE {key} {inop} ({sub_s})")
            ops_duck.append(f"DELETE FROM maintv WHERE {key} {inop} ({sub_d});")
        else:
            sets = no_part_sets(maint_sets(t))
            setsql = ", ".join(f"{c} = {e}" for c, e in sets)
            ops_spark.append("op=sql" + SEP +
                f"UPDATE vtx.`__DIR__` SET {setsql} WHERE {key} {inop} ({sub_s})")
            ops_duck.append(
                f"UPDATE maintv SET {setsql} WHERE {key} {inop} ({sub_d});")
    def add_sql_corr(delete):
        # round 13: CORRELATED subqueries — scalar SET values and
        # [NOT] EXISTS predicates over the unmutated base, rewritten
        # engine-side into synthesized MERGEs (plans/CorrelatedDml).
        # The base's key is a PK, so the scalar subquery is 0-or-1 row
        # per target row (ANSI-safe) and EXISTS correlates exactly.
        key = MAINT_KEY[t]
        pr = maint_pred(t)
        if delete:
            neg = "NOT " if rng.random() < 0.4 else ""
            ops_spark.append("op=sql" + SEP +
                f"DELETE FROM vtx.`__DIR__` tt WHERE {neg}EXISTS "
                f"(SELECT 1 FROM maintbase b WHERE b.{key} = tt.{key} AND ({pr}))")
            ops_duck.append(
                f"DELETE FROM maintv WHERE {neg}EXISTS "
                f"(SELECT 1 FROM {t} b WHERE b.{key} = maintv.{key} AND ({pr}));")
        else:
            sets = no_part_sets(maint_sets(t))
            c, e = sets[0]
            # outer predicate optional; subquery carries its own filter
            outer = f" WHERE {maint_pred(t)}" if rng.random() < 0.5 else ""
            ops_spark.append("op=sql" + SEP +
                f"UPDATE vtx.`__DIR__` tt SET {c} = "
                f"(SELECT {e} FROM maintbase b WHERE b.{key} = tt.{key} "
                f"AND ({pr})){outer}")
            ops_duck.append(
                f"UPDATE maintv SET {c} = "
                f"(SELECT {e} FROM {t} b WHERE b.{key} = maintv.{key} "
                f"AND ({pr})){outer};")
    def add_sql_corragg():
        # round 14 (VERDICT r13 missing #1): correlated AGGREGATE scalar
        # SET — engine-side the subquery pre-aggregates BY the
        # correlation key (plans/CorrelatedDml) and missing keys take
        # the ANSI empty-group value (COUNT=0, SUM/MAX/MIN=NULL — the
        # "count bug"). Correlation is 50% the PK (0-or-1-row groups,
        # exercises the empty side) and 50% a non-key int column
        # (multi-row groups, exercises the real grouping).
        key = MAINT_KEY[t]
        ints = [c for c in (T[t]['ints'] if t != 'nestedx' else [])
                if c != partby]
        corr = key if (not ints or rng.random() < 0.5) else rng.choice(ints)
        sets = no_part_sets(maint_sets(t))
        c, e = sets[0]
        # sum only into 64-bit int targets (review-found r14): Spark sums
        # to BIGINT, DuckDB to HUGEINT — assigning into an int32 column
        # can hit the two engines' divergent store-overflow behavior
        int32 = {'l_linenumber', 'c_nationkey', 'p_size', 's_nationkey',
                 'n_nationkey', 'n_regionkey', 'r_regionkey'}
        agg = (rng.choice(['max', 'min', 'sum', 'count'])
               if c in ints and c not in int32
               else rng.choice(['max', 'min', 'count']))
        arg = '*' if agg == 'count' else e
        pr = maint_pred(t)
        outer = f" WHERE {maint_pred(t)}" if rng.random() < 0.5 else ""
        ops_spark.append("op=sql" + SEP +
            f"UPDATE vtx.`__DIR__` tt SET {c} = "
            f"(SELECT {agg}({arg}) FROM maintbase b WHERE b.{corr} = tt.{corr} "
            f"AND ({pr})){outer}")
        ops_duck.append(
            f"UPDATE maintv SET {c} = "
            f"(SELECT {agg}({arg}) FROM {t} b WHERE b.{corr} = maintv.{corr} "
            f"AND ({pr})){outer};")
    if kind == 'del': add_del('del')
    elif kind == 'dvdel': add_del('dvdel')
    elif kind == 'dvdel_fold': add_del('dvdel'); ops_spark.append("op=fold")
    elif kind == 'dvdel_dvdel': add_del('dvdel'); add_del('dvdel')
    elif kind == 'update': add_update()
    elif kind == 'dvdel_update': add_del('dvdel'); add_update()
    elif kind == 'del_compact': add_del('del'); ops_spark.append("op=compact")
    elif kind == 'dvdel_dvdel_fold':
        add_del('dvdel'); add_del('dvdel'); ops_spark.append("op=fold")
    elif kind == 'dvupdate': add_update('dvupdate')
    elif kind == 'dvupdate_fold':
        add_update('dvupdate'); ops_spark.append("op=fold")
    elif kind == 'dvdel_dvupdate': add_del('dvdel'); add_update('dvupdate')
    elif kind == 'sqlupdate': add_sql_update()
    elif kind == 'sqlmerge': maint_merge(t, ops_spark, ops_duck, False, partby)
    elif kind == 'sqlmerge_cond': maint_merge(t, ops_spark, ops_duck, True, partby)
    elif kind == 'dvdel_sqlmerge':
        add_del('dvdel'); maint_merge(t, ops_spark, ops_duck, False, partby)
    elif kind == 'dvdel_sqlmerge_cond':
        add_del('dvdel'); maint_merge(t, ops_spark, ops_duck, True, partby)
    elif kind == 'sqlupdate_subq':
        # sometimes run a mutation first so the subquery's statement-
        # start snapshot is itself a maintained state
        if rng.random() < 0.4: add_del(rng.choice(['del', 'dvdel']))
        add_sql_subq(delete=False)
    elif kind == 'sqldel_subq':
        if rng.random() < 0.4: add_update()
        add_sql_subq(delete=True)
    elif kind == 'bigin':
        # round 13 (VERDICT r12 next #7): multi-thousand-LITERAL IN
        # lists through UPDATE / DELETE / MERGE conditions — the
        # maintenance machinery binds ANALYZED predicates, so without
        # the pre-bind In→InSet sweep these evaluate as interpreted
        # LINEAR scans per row per bound site (the r12 s15c 33.9 s
        # shape). Keys sample the table's PK range, half of them misses.
        key = MAINT_KEY[t]
        nvals = rng.randint(3000, 6000)
        vals = sorted(rng.sample(range(1, max(nvals * 4, 20000)), nvals))
        inlist = ",".join(str(v) for v in vals)
        form = rng.choice(['del', 'update', 'mergecond'])
        if form == 'del':
            ops_spark.append("op=sql" + SEP +
                f"DELETE FROM vtx.`__DIR__` WHERE {key} IN ({inlist})")
            ops_duck.append(f"DELETE FROM maintv WHERE {key} IN ({inlist});")
        elif form == 'update':
            sets = no_part_sets(maint_sets(t))
            setsql = ", ".join(f"{c} = {e}" for c, e in sets)
            ops_spark.append("op=sql" + SEP +
                f"UPDATE vtx.`__DIR__` SET {setsql} WHERE {key} IN ({inlist})")
            ops_duck.append(f"UPDATE maintv SET {setsql} WHERE {key} IN ({inlist});")
        else:
            # MERGE with a big-IN clause condition: matched rows whose
            # key is in the literal list get deleted, the rest keep
            # their values (identity update) — twin is just the DELETE
            sets = no_part_sets(maint_sets(t))
            c0 = sets[0][0]
            ops_spark.append("op=sql" + SEP +
                f"MERGE INTO vtx.`__DIR__` tt USING "
                f"(SELECT * FROM maintbase) s2 ON tt.{key} = s2.{key} "
                f"WHEN MATCHED AND tt.{key} IN ({inlist}) THEN DELETE "
                f"WHEN MATCHED THEN UPDATE SET {c0} = tt.{c0}")
            ops_duck.append(
                f"DELETE FROM maintv WHERE {key} IN ({inlist});")
    elif kind in ('txn_pair', 'txn_append', 'txn_sql'):
        # round 13 (+r14 fix: this block lived inside the bigin branch
        # and 'txn_pair' silently fell through to sqlmerge_stream):
        # statements inside one transaction group.
        #   txn_pair   — Engine.withTransaction over two maintenance ops;
        #                commit → both land as ONE generation (twin runs
        #                both); crash → hard death before close, the
        #                follow-up op's lock acquisition rolls BOTH back
        #                (twin omits them).
        #   txn_append — a mutation + a PLAIN APPEND inside the group:
        #                the append joins the group's fate (FORMAT.md
        #                contract bound — a rollback removes it).
        #   txn_sql    — the r14 SQL statement surface: BEGIN VORTEX
        #                TRANSACTION … COMMIT/ROLLBACK via spark.sql;
        #                explicit ROLLBACK must leave no trace.
        if kind == 'txn_sql':
            mode = 'sqlcommit' if rng.random() < 0.5 else 'sqlrollback'
        else:
            mode = 'commit' if rng.random() < 0.5 else 'crash'
        before_s, before_d = len(ops_spark), len(ops_duck)
        add_del(rng.choice(['del', 'dvdel']))
        if kind == 'txn_append':
            pr = maint_pred(t)
            ops_spark.append(f"op=append{SEP}{pr}")
            ops_duck.append(f"INSERT INTO maintv SELECT * FROM {t} WHERE {pr};")
        else:
            c = rng.random()
            if c < 0.4:
                add_update(rng.choice(['update', 'dvupdate']))
            elif c < 0.7:
                add_del(rng.choice(['del', 'dvdel']))
            elif c < 0.85:
                # SQL statement path inside the group: exercises the lock
                # re-entrancy through RewriteVortexDml's command execution
                add_sql_update()
            else:
                # correlated DML inside the group: the synthesized MERGE
                # runs under the group lease and retires under its generation
                add_sql_corr(delete=rng.random() < 0.5)
        ops_spark.insert(before_s, f"op=txn{SEP}2{SEP}{mode}")
        if mode in ('crash', 'sqlrollback'):
            del ops_duck[before_d:]       # the group leaves no trace
        add_del(rng.choice(['del', 'dvdel']))  # follow-up (triggers recovery)
    elif kind == 'txn_sql_race':
        # round 15 (VERDICT r14 next #6): TWO threads race full SQL
        # transactions — BEGIN VORTEX TRANSACTION on the SAME dataset,
        # a block of DELETEs, then COMMIT / ROLLBACK / simulated hard
        # crash — through FuzzRun op=txnrace. The dataset lease
        # serializes the groups (the loser's BEGIN retries on
        # ConcurrentMaintenanceException), DELETE blocks commute, so
        # both serial orders agree and the twin applies only the
        # COMMITTED blocks. A crashed group is rolled back by the next
        # writer's lock acquisition (the other thread's BEGIN retry or
        # the follow-up op below), so it must leave no trace either.
        n1, n2 = rng.randint(1, 2), rng.randint(1, 2)
        m1 = rng.choice(['commit', 'commit', 'commit', 'rollback', 'crash'])
        m2 = rng.choice(['commit', 'commit', 'commit', 'rollback', 'crash'])
        before_s, before_d = len(ops_spark), len(ops_duck)
        for _ in range(n1): add_del(rng.choice(['del', 'dvdel']))
        mid_d = len(ops_duck)
        for _ in range(n2): add_del(rng.choice(['del', 'dvdel']))
        if m2 != 'commit': del ops_duck[mid_d:]
        if m1 != 'commit': del ops_duck[before_d:mid_d]
        ops_spark.insert(before_s,
                         f"op=txnrace{SEP}{n1}{SEP}{m1}{SEP}{n2}{SEP}{m2}")
        add_del(rng.choice(['del', 'dvdel']))  # follow-up: recovers any crashed group
    elif kind == 'race_mix':
        # round 13 (VERDICT r12 next #9): writer-vs-compact-vs-expire
        # triple racing on the lease from three threads. All three
        # commute on ROW state (delete mutates rows; compact and expire
        # preserve them), so the serialized outcome is order-independent
        # and the twin carries only the delete. timetravel on so expire
        # has generations to reclaim.
        ops_spark.insert(0, "timetravel=1")
        add_del(rng.choice(['del', 'dvdel']))  # genesis + a real mutation
        ops_spark.append("op=race3")
        add_del(rng.choice(['del', 'dvdel']))
        ops_spark.append("op=compact")
        ops_spark.append("op=expire")
    elif kind == 'sqlupdate_corr':
        if rng.random() < 0.3: add_del(rng.choice(['del', 'dvdel']))
        add_sql_corr(delete=False)
    elif kind == 'sqlupdate_corragg':
        if rng.random() < 0.3: add_del(rng.choice(['del', 'dvdel']))
        add_sql_corragg()
    elif kind == 'sqldel_corr':
        if rng.random() < 0.3: add_update()
        add_sql_corr(delete=True)
    elif kind == 'sqlmerge_nmbs':
        maint_merge(t, ops_spark, ops_duck, rng.random() < 0.5, partby, nmbs=True)
    elif kind == 'race_deldel':
        # two DELETEs race on the maintenance lease from two threads
        # (FuzzRun op=race; loser retries until it wins). DELETEs
        # commute — predicates evaluate on row values no delete changes
        # — so the serialized final state is order-independent.
        ops_spark.append("op=race")
        add_del(rng.choice(['del', 'dvdel']))
        add_del(rng.choice(['del', 'dvdel']))
    elif kind == 'ttread_gen0':
        # time travel: 1-3 mutations with generation logging on, then
        # read back generation 0 (genesis = the pre-any-op snapshot) —
        # twin = the UNMUTATED table. Exercises retirement + resolve
        # across every op family. First op is always a real mutation
        # statement (begin() publishes genesis unconditionally there).
        # 25% expire-after-mutations modifier (r13 retention contract):
        # expireVersions reclaims everything but the latest generation,
        # then the LIVE read (twin = mutated table) must stay exact —
        # expiry must never disturb current data. (The expired-pin
        # loud-failure half lives in TimeTravelSpec — a differential
        # harness can't twin an expected exception.)
        ops_spark.insert(0, "timetravel=1")
        add_del(rng.choice(['del', 'dvdel']))
        for _ in range(rng.randint(0, 2)):
            c = rng.random()
            if c < 0.4: add_del(rng.choice(['del', 'dvdel']))
            elif c < 0.7: add_update(rng.choice(['update', 'dvupdate']))
            elif c < 0.85: ops_spark.append("op=fold")
            else: ops_spark.append("op=compact")
        if rng.random() < 0.25:
            ops_spark.append("op=expire")  # live read; twin = mutated
        else:
            ops_spark.append("readversion=0")
            ops_duck.clear()  # the twin is the unmutated staging copy
    elif kind == 'dvdel_stream': add_del('dvdel'); ops_spark.append("op=stream")
    elif kind == 'dvupdate_stream':
        add_update('dvupdate'); ops_spark.append("op=stream")
    elif kind == 'dvdel_update_stream':
        add_del('dvdel'); add_update(); ops_spark.append("op=stream")
    else:  # sqlmerge_stream
        maint_merge(t, ops_spark, ops_duck, rng.random() < 0.5, partby)
        ops_spark.append("op=stream")
    # time-travel modifier (round 12): ~15% of every other kind also
    # runs with generation logging + retirement ON and reads back the
    # CURRENT state — retirement must never change what a plain read
    # sees, across every op family including streams and races
    if kind != 'ttread_gen0' and rng.random() < 0.15:
        ops_spark.insert(0, "timetravel=1")
    sel = maint_select(t)
    spark_dsl = "\n".join(["--GRAFT-MAINT--", f"table={t}"] + ops_spark +
                           [f"select={sel}"])
    duck_sql = (f"CREATE OR REPLACE TEMP TABLE maintv AS SELECT * FROM {t};\n" +
                "\n".join(ops_duck) + f"\n{sel}")
    return spark_dsl, duck_sql

GENS = [q_scan, q_agg, q_join, q_setop, q_subquery, q_window,
        q_nested, q_nested_agg, q_decimal, q_nested_window]
if '--nested' in sys.argv:   # focused nested/decimal-only batch
    GENS = [q_nested, q_nested_agg, q_decimal, q_nested_window]

queries = {}       # what DuckDB executes (and the printed sql on mismatch)
spark_queries = {}  # what graft.FuzzRun executes (same unless --maintenance)
if '--maintenance' in sys.argv:
    for i in range(N):
        sp, du = q_maint()
        spark_queries[f"fz{i:04d}"] = sp
        queries[f"fz{i:04d}"] = du
else:
    for i in range(N):
        queries[f"fz{i:04d}"] = GENS[i % len(GENS)]()
    spark_queries = queries

json.dump(spark_queries, open(QFILE, 'w'))
print(f"[fuzz] generated {len(queries)} queries (seed={SEED}) -> {QFILE}")

if not SKIP_SPARK:
    shutil.rmtree(OUT, ignore_errors=True)
    env = dict(os.environ, GRAFT_FUZZ_EXTRA=f'nestedx={NESTEDX}')
    if VORTEX: env['GRAFT_FUZZ_VORTEX'] = '1'
    r = subprocess.run(['sbt', '-batch', f'runMain graft.FuzzRun {SF} {OUT} {QFILE}'],
                       cwd='/root/repo', capture_output=True, text=True, timeout=3600, env=env)
    for line in (r.stdout + r.stderr).splitlines():
        if '[fuzz]' in line: print(line)
    if r.returncode != 0:
        print('FUZZRUN FAILED'); print((r.stdout + r.stderr)[-3000:]); sys.exit(1)

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float): v = repr(v)
            elif hasattr(v, 'isoformat'): v = v.isoformat()
            else: v = str(v)
            vals.append(v)
        out.append('\x01'.join(vals))
    return hashlib.md5('\x02'.join(out).encode()).hexdigest(), out

fails, spark_err = [], []
for name in sorted(queries):
    sqltext = queries[name]
    pfiles = glob.glob(f'{OUT}/{name}/*.parquet')
    if not pfiles:
        spark_err.append(name); continue
    tbl = pq.read_table(pfiles[0])
    scols = list(tbl.column_names)
    srows = list(zip(*[tbl.column(c).to_pylist() for c in scols])) if tbl.num_rows else []
    try:
        res = con.execute(sqltext)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as e:
        print(f'{name}: DUCKDB ERROR (spark ran it): {e}'); fails.append(name); continue
    if sorted(scols) != sorted(ocols):
        print(f'{name}: COLUMN MISMATCH spark={sorted(scols)} duckdb={sorted(ocols)}')
        fails.append(name); continue
    sh, sv = canon(srows, scols)
    oh, ov = canon(orows, ocols)
    if sh != oh:
        fails.append(name)
        print(f'{name}: MISMATCH spark_rows={len(sv)} duckdb_rows={len(ov)}')
        print(f'  sql: {sqltext[:500]}')
        for i, (a, b) in enumerate(zip(sv, ov)):
            if a != b:
                print(f'  first diff row {i}:\n    spark : {a[:300]}\n    duckdb: {b[:300]}')
                break
        else:
            if len(sv) != len(ov):
                print(f'  spark extra: {sv[len(ov):len(ov)+2]} duckdb extra: {ov[len(sv):len(sv)+2]}')

print(f"\n[fuzz] {len(queries) - len(fails) - len(spark_err)}/{len(queries)} match; "
      f"{len(spark_err)} spark-side errors {spark_err[:10]}; mismatches: {fails}")
# a query Spark can't run that DuckDB can IS a divergence — fail on both
sys.exit(1 if (fails or spark_err) else 0)
