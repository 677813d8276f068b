"""Seeded input generator for the benchmark.

The tables follow the distributions of tools/gen_sf.py (value domains,
date ranges, lines-per-order histogram, document vocabulary, lengths and
dup-token rate), but every draw comes from the seed passed in, and the
shapes each workload needs are added on top:

* scan: `orders` and `lineitem` clustered on the order key;
* ingest_maintain: an orders-shaped base table plus one append batch and
  one MERGE source per cycle, with keys handed out in order;
* the dedup pass (at the end of a traced ingest_maintain run): a
  document corpus plus ingest batches carrying planted near-duplicates
  (same token set, different text) of corpus documents and of earlier
  documents of the same batch.

Only parquet files and a JSON plan reach the engine.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
DAY_US = 86400 * US
ORD_D0 = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
ORD_D1 = np.datetime64("2001-08-01T00:00:00", "us").astype(np.int64)
SHIP_D0 = np.datetime64("1995-01-02T00:00:00", "us").astype(np.int64)
SHIP_D1 = np.datetime64("2001-11-04T00:00:00", "us").astype(np.int64)
OSTAT = np.array(["O", "P", "F"])
OPRI = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
RFLAG = np.array(["A", "N", "R"])
LSTAT = np.array(["F", "O"])
# lines-per-order histogram measured on the sf0.1 testdata (mean 4.0)
LP_VALS = np.arange(1, 18)
LP_CNT = np.array([11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407,
                   1959, 818, 292, 93, 29, 10, 1, 2, 1], dtype=np.float64)
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, d0, d1, n):
    return d0 + rng.integers(0, (d1 - d0) // DAY_US + 1, n) * DAY_US


def orders_table(rng, keys, n_cust):
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys.astype(np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n).astype(np.int64)),
        "o_orderstatus": pa.array(OSTAT[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(money(rng, 1000, 500000, n)),
        "o_orderdate": pa.array(days(rng, ORD_D0, ORD_D1, n), pa.timestamp("us")),
        "o_orderpriority": pa.array(OPRI[rng.integers(0, 5, n)]),
    })


def lineitem_table(rng, n_ord, n_part, n_supp):
    lines = rng.choice(LP_VALS, size=n_ord, p=LP_CNT / LP_CNT.sum())
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), lines)  # clustered
    nl = len(lok)
    lln = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    return pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, n_part, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, nl).astype(np.int64)),
        "l_linenumber": pa.array(lln),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900, 105000, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(RFLAG[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(LSTAT[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(days(rng, SHIP_D0, SHIP_D1, nl), pa.timestamp("us")),
    })


def write(table, path):
    pq.write_table(table, path)
    return path


def ts(us):
    return str(np.datetime64(int(us), "us").astype("datetime64[D]"))


# ---------------------------------------------------------------- scan

SCAN_KINDS = ["q1_agg", "q6_filter", "point", "range_1pct", "q3_join",
              "orders_dump", "stats_minmax"]


def scan_inputs(rng, out, n_ord):
    """Clustered orders + lineitem and a seeded list of query rounds.

    Each round runs every query kind once, in a seeded order; the
    parameters are drawn per round."""
    paths = {
        "orders": write(orders_table(rng, np.arange(n_ord), n_ord // 10),
                        os.path.join(out, "orders.parquet")),
        "lineitem": write(lineitem_table(rng, n_ord, n_ord * 4 // 30, n_ord // 150),
                          os.path.join(out, "lineitem.parquet")),
    }
    rounds = []
    for _ in range(64):
        qs = []
        for kind in rng.permutation(SCAN_KINDS):
            qs.append(scan_query(rng, str(kind), n_ord))
        rounds.append(qs)
    return paths, rounds


def scan_query(rng, kind, n_ord):
    """One query instance: Spark SQL text, DuckDB SQL text and the tables
    it reads. `{lineitem}`/`{orders}` are replaced per engine."""
    if kind == "q1_agg":
        d = ts(SHIP_D1 - int(rng.integers(60, 120)) * DAY_US)
        sql = (f"SELECT l_returnflag, l_linestatus, sum(l_quantity), "
               f"sum(l_extendedprice), sum(l_extendedprice * (1 - l_discount)), "
               f"avg(l_discount), count(*) FROM {{lineitem}} "
               f"WHERE l_shipdate <= TIMESTAMP '{d} 00:00:00' "
               f"GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2")
        tables = ["lineitem"]
    elif kind == "q6_filter":
        y = int(rng.integers(1995, 2001))
        disc = int(rng.integers(2, 9)) / 100.0
        qty = int(rng.integers(20, 30))
        sql = (f"SELECT sum(l_extendedprice * l_discount), count(*) FROM {{lineitem}} "
               f"WHERE l_shipdate >= TIMESTAMP '{y}-01-01 00:00:00' "
               f"AND l_shipdate < TIMESTAMP '{y + 1}-01-01 00:00:00' "
               f"AND l_discount BETWEEN {disc - 0.01:.2f} AND {disc + 0.01:.2f} "
               f"AND l_quantity < {qty}")
        tables = ["lineitem"]
    elif kind == "point":
        k = int(rng.integers(0, n_ord))
        sql = (f"SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice "
               f"FROM {{lineitem}} WHERE l_orderkey = {k} ORDER BY l_linenumber")
        tables = ["lineitem"]
    elif kind == "range_1pct":
        w = max(1, n_ord // 100)
        a = int(rng.integers(0, n_ord - w))
        sql = (f"SELECT count(*), sum(l_quantity), sum(l_extendedprice), "
               f"max(l_shipdate) > TIMESTAMP '1990-01-01 00:00:00' "
               f"FROM {{lineitem}} WHERE l_orderkey BETWEEN {a} AND {a + w - 1}")
        tables = ["lineitem"]
    elif kind == "q3_join":
        d = ts(ORD_D0 + int(rng.integers(800, 1600)) * DAY_US)
        sql = (f"SELECT o_orderpriority, count(*), "
               f"sum(l_extendedprice * (1 - l_discount)) "
               f"FROM {{lineitem}} JOIN {{orders}} ON l_orderkey = o_orderkey "
               f"WHERE o_orderdate < TIMESTAMP '{d} 00:00:00' "
               f"AND l_shipdate > TIMESTAMP '{d} 00:00:00' "
               f"GROUP BY o_orderpriority ORDER BY 1")
        tables = ["lineitem", "orders"]
    elif kind == "orders_dump":
        d = ORD_D0 + int(rng.integers(0, 2000)) * DAY_US
        sql = (f"SELECT o_orderkey, o_custkey, o_totalprice FROM {{orders}} "
               f"WHERE o_orderdate >= TIMESTAMP '{ts(d)} 00:00:00' "
               f"AND o_orderdate < TIMESTAMP '{ts(d + 365 * DAY_US)} 00:00:00' "
               f"ORDER BY o_totalprice DESC, o_orderkey")
        tables = ["orders"]
    elif kind == "stats_minmax":
        t = "lineitem" if rng.random() < 0.5 else "orders"
        c = "l_orderkey" if t == "lineitem" else "o_orderkey"
        sql = f"SELECT count(*), min({c}), max({c}) FROM {{{t}}}"
        tables = [t]
    else:
        raise ValueError(kind)
    return {"kind": kind, "sql": sql, "tables": tables,
            "digest": kind == "orders_dump"}


# ----------------------------------------------------- ingest_maintain

def ingest_inputs(rng, out, base_rows, batch_rows, merge_rows, cycles, compact_every):
    """Base table and per-cycle statements. Keys are handed out in order:
    cycle c appends `batch_rows` keys and MERGE inserts `merge_rows` more,
    while the two DELETEs retire the oldest `batch_rows + merge_rows`
    keys, so the live size stays at `base_rows`."""
    n_cust = 15000
    base = write(orders_table(rng, np.arange(base_rows), n_cust),
                 os.path.join(out, "base.parquet"))
    nxt, lo = base_rows, 0
    plan = []
    for c in range(cycles):
        step = batch_rows + merge_rows
        append = write(orders_table(rng, np.arange(nxt, nxt + batch_rows), n_cust),
                       os.path.join(out, f"append_{c:03d}.parquet"))
        # MERGE source: half updates of live keys, half fresh keys
        upd_keys = rng.choice(np.arange(lo + step, nxt), merge_rows, replace=False)
        new_keys = np.arange(nxt + batch_rows, nxt + batch_rows + merge_rows)
        merge = write(orders_table(rng, np.sort(np.concatenate([upd_keys, new_keys])), n_cust),
                      os.path.join(out, f"merge_{c:03d}.parquet"))
        u, v = (int(x) for x in rng.integers(lo + step, nxt - batch_rows // 10, 2))
        plan.append({
            "cycle": c,
            "append": append,
            # mask tier: odd customers of the retiring key range
            "delete_dv": f"o_orderkey >= {lo} AND o_orderkey < {lo + step} AND o_custkey % 2 = 1",
            # rewrite tier: the rest of the range
            "delete": f"o_orderkey >= {lo} AND o_orderkey < {lo + step}",
            "update_where": f"o_orderkey >= {u} AND o_orderkey < {u + batch_rows // 10}",
            # mask-tier UPDATE through the API, on another key range
            "update_dv_where": f"o_orderkey >= {v} AND o_orderkey < {v + batch_rows // 10}",
            "merge": merge,
            "compact": (c + 1) % compact_every == 0,
        })
        lo += step
        nxt += step
    return base, plan


# ---------------------------------------------------------- dedup pass

def doc_texts(rng, n, pool):
    """gen_sf.py's document distribution: 10..100 words over the shared
    vocabulary, 5% carry a `dup` token, ~0.16% copy an earlier text."""
    nw = rng.integers(10, 101, n)
    has_dup_tok = rng.random(n) < 0.05
    copy_prev = rng.random(n) < 0.0016
    texts = []
    for i in range(n):
        k = int(nw[i])
        if copy_prev[i] and pool:
            texts.append(pool[int(rng.integers(0, len(pool)))])
        else:
            ws = [VOCAB[j] for j in rng.integers(0, len(VOCAB), k)]
            if has_dup_tok[i]:
                ws[int(rng.integers(0, k))] = "dup"
            texts.append(" ".join(ws))
        pool.append(texts[-1])
    return texts


def near_copy(rng, text):
    """Same token set, different text: shuffled words plus one repeat."""
    ws = text.split(" ")
    ws = [ws[i] for i in rng.permutation(len(ws))] + [ws[int(rng.integers(0, len(ws)))]]
    return " ".join(ws)


def docs_table(ids, texts):
    return pa.table({"doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
                     "text": pa.array(texts)})


def dedup_inputs(rng, out, corpus_docs, batch_docs, batches,
                 plant_index=0.05, plant_self=0.03):
    pool = []
    corpus = doc_texts(rng, corpus_docs, pool)
    corpus_path = write(docs_table(np.arange(corpus_docs), corpus),
                        os.path.join(out, "corpus.parquet"))
    plan = []
    nxt = corpus_docs
    for b in range(batches):
        texts = doc_texts(rng, batch_docs, pool)
        ids = list(range(nxt, nxt + batch_docs))
        planted = []
        for i in range(batch_docs):
            r = rng.random()
            if r < plant_index:
                src = int(rng.integers(0, corpus_docs))
                texts[i] = near_copy(rng, corpus[src])
                planted.append([ids[i], src, "index"])
            elif r < plant_index + plant_self and i > 0:
                j = int(rng.integers(0, i))
                texts[i] = near_copy(rng, texts[j])
                planted.append([ids[i], ids[j], "self"])
        path = write(docs_table(ids, texts), os.path.join(out, f"batch_{b:03d}.parquet"))
        plan.append({"batch": b, "path": path, "planted": planted})
        nxt += batch_docs
    return corpus_path, plan
