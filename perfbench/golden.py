"""Golden answers and the checks against them.

The goldens come from two installed engines over the same parquet files:
Python's `sqlite3` (the reference system's own engine, which runs the
SQLite-dialect SQL as written) and DuckDB (the repository's oracle
engine). The two must agree with each other before either is trusted.
"""
import json
import math
import os
import sqlite3

import duckdb
import pandas as pd

import gen


def _load_sqlite(data, tables):
    con = sqlite3.connect(":memory:")
    for t in tables:
        df = pd.read_parquet(os.path.join(data, f"{t}.parquet"))
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].dt.strftime("%Y-%m-%d %H:%M:%S")
        df.to_sql(t, con, index=False)
        # key indexes only speed the joins up; they change no answer
        for c in df.columns:
            if c.endswith("key"):
                con.execute(f"CREATE INDEX {t}_{c} ON {t} ({c})")
    return con


def _load_duck(data, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def _rows(cur):
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def _norm(name, v):
    if v is None:
        return None
    if name.endswith("_set"):
        return tuple(sorted(str(v).split(",")))
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)):
        return float(v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(name, v.item())
    return str(v)


def same_value(name, a, b):
    a, b = _norm(name, a), _norm(name, b)
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def same_rows(want, got):
    """Row lists equal column by column (named columns, in order)."""
    if len(want) != len(got):
        return False
    for w, g in zip(want, got):
        if set(w) - set(g) - {k for k, v in w.items() if v is None}:
            return False
        if not all(same_value(k, v, g.get(k)) for k, v in w.items()):
            return False
    return True


def _graft_rows(sample):
    return [json.loads(r) for r in sample["rows"]]


def check_ask(res, inputs, data):
    """Every answered question against the SQLite answer (cross-checked
    with DuckDB). Returns (attempted, failed, notes)."""
    qs = {q["id"]: q for q in gen.questions(inputs["seed"], inputs["sf"],
                                             inputs["blocks"] + 1)}
    lite = _load_sqlite(data, gen.TPCH)
    duck = _load_duck(data, gen.TPCH)
    attempted = failed = 0
    notes = []
    cache = {}
    for s in res["samples"]:
        if s["kind"] not in ("ask", "ingest", "reingest"):
            continue
        attempted += 1
        if not s["ok"]:
            failed += 1
            notes.append(f"{s['id']} failed: {s['err']}")
            continue
        if s["kind"] != "ask":
            continue
        q = qs[s["id"]]
        key = q["lite"]
        if key not in cache:
            want = _rows(lite.execute(q["lite"]))
            check = _rows(duck.execute(q["duck"]))
            if not same_rows(want, check):
                raise RuntimeError(f"golden engines disagree on {q['lite']}: "
                                   f"{want} vs {check}")
            cache[key] = want
        if not same_rows(cache[key], _graft_rows(s)):
            failed += 1
            notes.append(f"{s['id']} wrong answer: {s['rows']} want {cache[key]}")
    return attempted, failed, notes


def _replay(con, stmts, dialect):
    """Run statements in an engine; reads return their rows."""
    out = []
    for sql in stmts:
        if dialect == "duck":
            sql = sql.replace(" REAL", " DOUBLE")
        cur = con.execute(sql)
        out.append(_rows(cur) if cur.description else None)
    return out


def check_dml(res, inputs, data):
    """Replays the statements graft ran, in order, in SQLite and DuckDB:
    every read must match, and so must the final state of every table."""
    src = ["nation", "customer", "orders"]
    plain = {t: t for t in gen.TPCH}
    setup = [s.format(**plain) for s in inputs["setup_sql"]]
    text = {s["id"]: s["sql"] for s in inputs["statements"]}
    ran = [s for s in res["samples"] if s["id"] in text]
    stmts = [text[s["id"]] for s in ran]
    lite = _load_sqlite(data, src)
    duck = _load_duck(data, src)
    _replay(lite, setup, "lite")
    _replay(duck, setup, "duck")
    want = _replay(lite, stmts, "lite")
    want_d = _replay(duck, stmts, "duck")
    attempted = failed = 0
    notes = []
    for s, w, wd in zip(ran, want, want_d):
        attempted += 1
        if w is not None and not same_rows(w, wd):
            raise RuntimeError(f"golden engines disagree on {text[s['id']]}")
        if not s["ok"]:
            failed += 1
            notes.append(f"{s['id']} failed: {s['err']}")
        elif s["kind"] == "read" and not same_rows(w, _graft_rows(s)):
            failed += 1
            notes.append(f"{s['id']} wrong answer: {s['rows']} want {w}")
    for t, pk in inputs["final_tables"].items():
        attempted += 1
        w = _rows(lite.execute(f"SELECT * FROM {t} ORDER BY {pk}"))
        wd = _rows(duck.execute(f"SELECT * FROM {t} ORDER BY {pk}"))
        if not same_rows(w, wd):
            raise RuntimeError(f"golden engines disagree on final {t}")
        got = [json.loads(r) for r in res["final"][t]]
        if not same_rows(w, got):
            failed += 1
            notes.append(f"final state of {t} differs ({len(got)} rows, want {len(w)})")
    return attempted, failed, notes


def _canon(df):
    """Order-independent content of a result: columns by name, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for r in df.itertuples(index=False):
        row = []
        for v in r:
            if hasattr(v, "tolist"):
                v = v.tolist()
            if isinstance(v, float):
                v = None if math.isnan(v) else float(f"{v:.9g}")
            elif isinstance(v, list):
                v = tuple(float(f"{x:.6g}") if isinstance(x, float) else x for x in v)
            elif v is not None and not isinstance(v, (int, str)):
                v = str(v)
            row.append(v)
        rows.append(tuple(row))
    return list(df.columns), sorted(rows, key=repr)


def check_operators(res, inputs, data):
    """The operator passes: every key run's row count must equal the DuckDB
    oracle's (keys with an oracle) or the key's cold-run count (keys
    without one); each oracle key's full content must match the oracle's,
    order-independently."""
    duck = _load_duck(data, gen.ALL_TABLES)
    want_n, notes = {}, []
    attempted = failed = 0
    work = os.path.dirname(data)
    for key, sql in sorted(res["oracle_sql"].items()):
        want = duck.execute(sql).df()
        want_n[key] = len(want)
        attempted += 1
        got = duck.execute(f"SELECT * FROM '{work}/results/{key}/*.parquet'").df()
        if _canon(got) != _canon(want):
            failed += 1
            notes.append(f"{key}: content differs from the oracle "
                         f"({len(got)} rows, want {len(want)})")
    for s in res["samples"]:
        if s["kind"] != "key":
            continue
        key = s["id"].split(":", 1)[1]
        attempted += 1
        if key not in want_n and s["ok"]:
            want_n[key] = s["count"]
        if not s["ok"] or s["count"] != want_n[key]:
            failed += 1
            notes.append(f"{s['id']}: {s['err'] or 'rows %d want %d' % (s['count'], want_n[key])}")
    return attempted, failed, notes
