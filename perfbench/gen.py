"""Seeded inputs for the benchmark: synthetic tables shaped like the
repository's TPC-H-style test data, the question stream of `ask`, the
statement stream of `dml` and the key orders of the operator passes.

Everything here is a pure function of the seed: the same seed gives the
same tables, questions, statements and key orders.
"""
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TPCH = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
ALL_TABLES = TPCH + ["events", "documents", "embeddings"]

WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
         "line sort window data column join small customer query order group "
         "filter stream big vector the a").split()
PART_WORDS = "small red ring widget blue large steel green copper bolt".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

# The operator keys of a traced `ask` run: a subset of the legacy bench's
# 27 headline keys (graft.Bench) with one or more per implementing module
# (QueriesCore, Joins, Windows, SQL; ops.Dedup, ops.Similarity,
# ops.Curation, ops.Packing), including the heavy dedup and similarity
# kernels. All 27 do not fit a run.
OPERATOR_KEYS = [
    "agg_sum_avg_min_max", "join_inner", "win_session", "cte",
    "ext_dedup_exact", "ext_dedup_minhash_full", "ext_knn_join_full",
    "ext_sim_search_native", "ext_text_quality", "ext_seq_packing",
]


def _ts(days):
    """Whole days after 1995-01-01 as timestamp[us] (no time zone)."""
    base = np.datetime64("1995-01-01T00:00:00", "us")
    return base + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))


def make_tables(d, sf, seed, names=ALL_TABLES):
    """Write the named tables at scale `sf` into directory `d`."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150000 * sf), max(int(10000 * sf), 25)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = {"r_regionkey": pa.array(range(5), i32),
                   "r_name": pa.array(REGIONS)}
    t["nation"] = {"n_nationkey": pa.array(range(25), i32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999, 9999, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))}
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999, 9999, n_supp))}
    w = rng.integers(0, len(PART_WORDS), (n_part, 2))
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array([f"{PART_WORDS[a]} {PART_WORDS[b]}" for a, b in w]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))}
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array(_ts(rng.integers(0, 2400, n_ord))),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))}
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okeys = np.repeat(np.arange(n_ord), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = {
        "l_orderkey": pa.array(okeys, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 3000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(_ts(rng.integers(1, 2500, n_li)))}
    n_ev = int(1000000 * sf)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(int(15000 * sf), 10), n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(_money(rng, 0, 20, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])}
    n_doc = int(50000 * sf)
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.12:  # near duplicate: a few words swapped
            ws = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(ws), max(1, len(ws) // 20)):
                ws[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(ws))
        else:
            n = int(rng.integers(10, 90))
            texts.append(" ".join(WORDS[k] for k in rng.integers(0, len(WORDS), n)))
    t["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc)),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(x) for x in texts], i64)}
    n_emb = max(int(20000 * sf), 500)
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 0.6, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)}
    for name in names:
        _write(d, name, t[name])


# ---- ask: SQLite-dialect question templates --------------------------------
# Each template: (question text, SQLite SQL, DuckDB SQL or None where the
# SQLite text runs on DuckDB as written).
# `{t}` names a table; run.py binds it to the ingested view for graft and
# to the plain table for the golden engines. Every answer is at most five
# rows in a total order, so the sampled result is the whole answer.
# Columns whose name ends in `_set` hold an unordered list (group_concat).

def _lit(rng, sf):
    return {
        "prio": rng.choice(PRIORITIES), "status": rng.choice(["F", "O", "P"]),
        "x": rng.randrange(0, 9000), "k": rng.randrange(0, 5),
        "word": rng.choice(PART_WORDS), "nk": rng.randrange(0, 25),
        "p": rng.randrange(50000, 450000),
        "a": rng.randrange(0, int(150000 * sf) - 4), "q": rng.randrange(100, 250),
        "m": rng.randrange(1, 12),
        "d": f"{rng.randrange(1995, 2001)}-0{rng.randrange(1, 10)}-01",
    }


TEMPLATES = [
    ("Which five nations ordered the most {prio} value?",
     "SELECT n.n_name AS nation, COUNT(*) AS orders, SUM(o.o_totalprice) AS total "
     "FROM {orders} o JOIN {customer} c ON o.o_custkey = c.c_custkey "
     "JOIN {nation} n ON c.c_nationkey = n.n_nationkey "
     "WHERE o.o_orderpriority = '{prio}' GROUP BY n.n_name ORDER BY total DESC, nation LIMIT 5",
     None),
    ("In which years did the most orders have status {status}?",
     "SELECT strftime('%Y', o_orderdate) AS yr, COUNT(*) AS n, SUM(o_totalprice) AS revenue "
     "FROM {orders} WHERE o_orderstatus = '{status}' GROUP BY yr ORDER BY n DESC, yr LIMIT 5",
     "SELECT strftime(o_orderdate, '%Y') AS yr, COUNT(*) AS n, SUM(o_totalprice) AS revenue "
     "FROM orders WHERE o_orderstatus = '{status}' GROUP BY yr ORDER BY n DESC, yr LIMIT 5"),
    ("How many items shipped in the {m} months from {d}?",
     "SELECT COUNT(*) AS n, SUM(l_quantity) AS qty FROM {lineitem} "
     "WHERE l_shipdate >= date('{d}') AND l_shipdate < date('{d}', '+{m} months')",
     "SELECT COUNT(*) AS n, SUM(l_quantity) AS qty FROM lineitem "
     "WHERE l_shipdate >= DATE '{d}' AND l_shipdate < DATE '{d}' + INTERVAL {m} MONTH"),
    ("Per segment, how many customers hold more than {x}?",
     "SELECT c_mktsegment AS seg, SUM(iif(c_acctbal > {x}, 1, 0)) AS rich, COUNT(*) AS n "
     "FROM {customer} GROUP BY c_mktsegment ORDER BY seg",
     "SELECT c_mktsegment AS seg, SUM(CASE WHEN c_acctbal > {x} THEN 1 ELSE 0 END) AS rich, "
     "COUNT(*) AS n FROM customer GROUP BY c_mktsegment ORDER BY seg"),
    ("Which nations belong to the regions up to {k}?",
     "SELECT r.r_name AS region, group_concat(n.n_name) AS nations_set, COUNT(*) AS n "
     "FROM {region} r JOIN {nation} n ON n.n_regionkey = r.r_regionkey "
     "WHERE r.r_regionkey <= {k} GROUP BY r.r_name ORDER BY region LIMIT 5",
     "SELECT r.r_name AS region, string_agg(n.n_name, ',') AS nations_set, COUNT(*) AS n "
     "FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey "
     "WHERE r.r_regionkey <= {k} GROUP BY r.r_name ORDER BY region LIMIT 5"),
    ("Which brands sell the most parts named like {word}?",
     "SELECT p_brand AS brand, COUNT(*) AS n, AVG(p_retailprice) AS avg_price FROM {part} "
     "WHERE p_name LIKE '%{word}%' GROUP BY p_brand ORDER BY n DESC, brand LIMIT 5",
     None),
    ("How many customers of nation {nk} placed an order above {p}?",
     "SELECT COUNT(*) AS n FROM {customer} c WHERE c.c_nationkey = {nk} AND EXISTS "
     "(SELECT 1 FROM {orders} o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > {p})",
     None),
    ("Rank the orders of customers {a} to {a}+3 by price.",
     "SELECT o_custkey AS cust, o_orderkey AS ok, o_totalprice AS price, "
     "rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk "
     "FROM {orders} WHERE o_custkey BETWEEN {a} AND {a} + 3 ORDER BY cust, rk LIMIT 5",
     None),
    ("By priority, how many orders have more than {q} items?",
     "WITH big AS (SELECT l_orderkey, SUM(l_quantity) AS q FROM {lineitem} GROUP BY l_orderkey "
     "HAVING SUM(l_quantity) > {q}) SELECT o.o_orderpriority AS prio, COUNT(*) AS n "
     "FROM big JOIN {orders} o ON o.o_orderkey = big.l_orderkey GROUP BY prio ORDER BY prio LIMIT 5",
     None),]


def questions(seed, sf, blocks):
    """The seeded question stream, in blocks: each block asks every template
    once, in a seeded order, with seeded literals, so any run of whole
    blocks has the same mix. `sql` keeps `{table}` placeholders for the
    ingested views; `lite` and `duck` are the golden engines' texts."""
    rng = random.Random(seed)
    keep = {t: "{%s}" % t for t in TPCH}
    plain = {t: t for t in TPCH}
    out = []
    for blk in range(blocks):
        order = list(range(len(TEMPLATES)))
        rng.shuffle(order)
        for t in order:
            text, lite, duck = TEMPLATES[t]
            v = _lit(rng, sf)
            i = len(out)
            out.append({
                "id": f"q{i}", "block": blk,
                # the number makes the text unique, so the stub answers each
                "text": f"[{i}] " + text.format(**v),
                "sql": lite.format(**v, **keep),
                "lite": lite.format(**v, **plain),
                "duck": (duck or lite).format(**v, **plain)})
    return out


# ---- dml: writes beside reads ----------------------------------------------

DML_TABLES = {
    "b_nation": ("n_nationkey", "CREATE TABLE b_nation (n_nationkey INTEGER PRIMARY KEY, "
                 "n_name TEXT, n_regionkey INTEGER)",
                 "INSERT INTO b_nation SELECT n_nationkey, n_name, n_regionkey FROM {nation}"),
    "b_customer": ("c_custkey", "CREATE TABLE b_customer (c_custkey INTEGER PRIMARY KEY, "
                   "c_name TEXT, c_nationkey INTEGER, c_acctbal REAL, c_mktsegment TEXT)",
                   "INSERT INTO b_customer SELECT c_custkey, c_name, c_nationkey, c_acctbal, "
                   "c_mktsegment FROM {customer}"),
    "b_orders": ("o_orderkey", "CREATE TABLE b_orders (o_orderkey INTEGER PRIMARY KEY, "
                 "o_custkey INTEGER, o_orderstatus TEXT, o_totalprice REAL, o_orderpriority TEXT)",
                 "INSERT INTO b_orders SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                 "o_orderpriority FROM {orders}"),
}


def dml_setup():
    """Statements that declare and fill the PRIMARY KEY tables."""
    out = []
    for _, ddl, fill in DML_TABLES.values():
        out += [ddl, fill]
    return out


def _write_stmt(kind, rng, i, n_cust, n_ord, new_key):
    """One write; REPLACE and upsert hit existing keys, so every block takes
    the conflict path the same number of times."""
    c = rng.randrange(0, n_cust)
    if kind == "insert":
        return (f"INSERT INTO b_orders (o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                f"o_orderpriority) VALUES ({new_key}, {c}, 'O', "
                f"{rng.randrange(1000, 500000)}.25, '{rng.choice(PRIORITIES)}')")
    if kind == "replace":
        return (f"INSERT OR REPLACE INTO b_customer (c_custkey, c_name, c_nationkey, c_acctbal, "
                f"c_mktsegment) VALUES ({rng.randrange(0, n_cust)}, 'Customer#r{i}', "
                f"{rng.randrange(0, 25)}, {rng.randrange(-999, 9999)}.5, '{rng.choice(SEGMENTS)}')")
    if kind == "upsert":
        return (f"INSERT INTO b_customer (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment) "
                f"VALUES ({rng.randrange(0, n_cust)}, 'Customer#u{i}', {rng.randrange(0, 25)}, "
                f"{rng.randrange(1, 500)}.0, '{rng.choice(SEGMENTS)}') ON CONFLICT(c_custkey) "
                f"DO UPDATE SET c_acctbal = c_acctbal + excluded.c_acctbal")
    if kind == "update_orders":
        return (f"UPDATE b_orders SET o_totalprice = o_totalprice + {rng.randrange(1, 100)} "
                f"WHERE o_custkey = {c}")
    if kind == "update_customer":
        return (f"UPDATE b_customer SET c_acctbal = c_acctbal - {rng.randrange(1, 100)} "
                f"WHERE c_custkey = {c}")
    if kind == "update_nation":
        return (f"UPDATE b_nation SET n_regionkey = {rng.randrange(0, 5)} "
                f"WHERE n_nationkey = {rng.randrange(0, 25)}")
    if kind == "delete_key":
        return f"DELETE FROM b_orders WHERE o_orderkey = {rng.randrange(0, n_ord)}"
    return (f"DELETE FROM b_orders WHERE o_custkey = {c} "
            f"AND o_totalprice < {rng.randrange(1000, 100000)}")


def _read_stmt(q, rng, n_cust):
    c = rng.randrange(0, n_cust)
    if q == 0:
        return (f"SELECT COUNT(*) AS n, SUM(o_totalprice) AS total FROM b_orders "
                f"WHERE o_custkey BETWEEN {c} AND {c + 40}")
    if q == 1:
        return ("SELECT c_mktsegment AS seg, COUNT(*) AS n, SUM(c_acctbal) AS bal "
                "FROM b_customer GROUP BY c_mktsegment ORDER BY seg")
    if q == 2:
        return ("SELECT n.n_regionkey AS region, COUNT(*) AS orders FROM b_orders o "
                "JOIN b_customer c ON o.o_custkey = c.c_custkey "
                "JOIN b_nation n ON c.c_nationkey = n.n_nationkey "
                "GROUP BY n.n_regionkey ORDER BY orders DESC, region LIMIT 5")
    return (f"SELECT c_custkey, c_name, c_acctbal FROM b_customer "
            f"WHERE c_custkey >= {c} ORDER BY c_custkey LIMIT 5")


WRITE_KINDS = ["insert", "replace", "upsert", "update_orders", "update_customer",
               "update_nation"]
DELETE_KINDS = ["delete_key", "delete_range"]
BLOCK_STATEMENTS = len(WRITE_KINDS) + 1 + 3


def statements(seed, sf, blocks):
    """The seeded statement stream, in blocks of ten: seven writes (INSERT,
    INSERT OR REPLACE, ON CONFLICT DO UPDATE, three UPDATEs and a DELETE
    by key or by range) and three reads, in a seeded order, so 70% are
    writes. Per block four statements are fast (the reads, the DELETE),
    four take longer (the INSERT, the UPDATEs) and two longest (REPLACE,
    the upsert), so the median of whole blocks falls inside the middle
    group, not on the edge between two groups."""
    rng = random.Random(seed)
    n_cust, n_ord = int(150000 * sf), int(1500000 * sf)
    out = []
    for blk in range(blocks):
        reads = [("read", q) for q in rng.sample(range(4), 3)]
        kinds = [(k, None) for k in WRITE_KINDS + [rng.choice(DELETE_KINDS)]] + reads
        rng.shuffle(kinds)
        for k, q in kinds:
            i = len(out)
            sql = _read_stmt(q, rng, n_cust) if k == "read" else \
                _write_stmt(k, rng, i, n_cust, n_ord, n_ord + 1000 + i)
            out.append({"id": f"s{i}", "block": blk, "sql": sql})
    return out


def key_orders(seed, passes):
    """One seeded permutation of the operator keys per pass."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        ks = list(OPERATOR_KEYS)
        rng.shuffle(ks)
        out.append(ks)
    return out
