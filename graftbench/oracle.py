#!/usr/bin/env python3
"""DuckDB-oracle check of the catalog's checked pass.

The rules are those of tools/check_correctness.py: equal column names and
logical types, equal row count, and exactly equal values once columns are
sorted by name and rows are sorted. Here both sides are reduced to a
canonical digest (types + sorted canonical rows), so an oracle result can be
stored: expected/<corpus>.json holds, per query, the sha256 of its oracle
SQL and the digest of its DuckDB result. A query whose SQL changed since is
evaluated live (and cached under work/), so the check never goes stale.

q196_margin_mining_ann has no oracle: its best pairs must recall at least
80% of the exact q191_margin_mining pairs, as its OpsSpec pin requires.

Refresh the stored results after an oracle SQL change (needs a catalog run
first, which leaves work/oracle_sql.json):

    python3 graftbench/oracle.py refresh
"""
import hashlib
import json
import math
import os
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
CORPUS = "sf0.01"
DATA = os.path.join(BENCH, "data", CORPUS)
EXPECTED = os.path.join(BENCH, "expected", f"{CORPUS}.json")
CACHE = os.path.join(BENCH, "work", f"oracle-cache-{CORPUS}.json")
SQL_DUMP = os.path.join(BENCH, "work", "oracle_sql.json")
ANN, EXACT = "q196_margin_mining_ann", "q191_margin_mining"


def connect():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name in sorted(os.listdir(DATA)):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(DATA, name)}'")
    return con


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(0.0 if v == 0.0 else v)
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(f"{k}: {canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def digest(rel):
    """Order-free digest of a DuckDB relation: name-sorted columns with their
    logical types, then the sorted canonical rows."""
    cols = sorted(zip(rel.columns, map(str, rel.types)))
    names = [c for c, _ in cols]
    rows = rel.project(", ".join(f'"{c}"' for c in names)).fetchall()
    body = sorted("\x1f".join(canon(v) for v in r) for r in rows)
    h = hashlib.sha256(json.dumps(cols).encode())
    for line in body:
        h.update(line.encode())
        h.update(b"\n")
    return {"types": dict(cols), "rows": len(rows), "digest": h.hexdigest()}


def sql_sha(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def oracle_result(con, name, sql):
    if name == EXACT:
        return {"pairs": sorted(con.sql(f"SELECT x_id, y_id FROM ({sql})").fetchall())}
    return digest(con.sql(sql))


def load(path):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {}


def expected_for(oracle_sql):
    """Stored oracle results for the current SQL; live DuckDB for the rest."""
    stored, cache = load(EXPECTED), load(CACHE)
    out, con, missing = {}, None, False
    for name, sql in oracle_sql.items():
        sha = sql_sha(sql)
        for src in (stored, cache):
            if src.get(name, {}).get("sql_sha") == sha:
                out[name] = src[name]
                break
        else:
            con = con or connect()
            out[name] = dict(oracle_result(con, name, sql), sql_sha=sha)
            cache[name] = out[name]
            missing = True
    if missing:
        os.makedirs(os.path.dirname(CACHE), exist_ok=True)
        with open(CACHE, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
    return out


def check(check_dir, oracle_sql):
    """Failures of the checked pass in `check_dir` (one parquet dir per query)."""
    import duckdb
    expected = expected_for(oracle_sql)
    con = duckdb.connect()
    problems = []
    for q in sorted(os.listdir(check_dir)):
        rel = con.sql(f"SELECT * FROM '{os.path.join(check_dir, q)}/*.parquet'")
        if q == ANN:
            ann = dict(rel.project("x_id, y_id").fetchall())
            exact = dict(map(tuple, expected[EXACT]["pairs"]))
            agree = sum(1 for x, y in exact.items() if ann.get(x) == y)
            if set(ann) != set(exact) or agree < 0.8 * len(exact):
                problems.append(f"{q}: {agree}/{len(exact)} exact best pairs recalled")
            continue
        if q not in expected:
            problems.append(f"{q}: no oracle SQL")
            continue
        got, want = digest(rel), expected[q]
        if got["types"] != want["types"]:
            problems.append(f"{q}: types {got['types']} != oracle {want['types']}")
        elif got["rows"] != want["rows"]:
            problems.append(f"{q}: {got['rows']} rows != oracle {want['rows']}")
        elif got["digest"] != want["digest"]:
            problems.append(f"{q}: values differ from the oracle")
    return problems


def refresh():
    with open(SQL_DUMP) as f:
        oracle_sql = json.load(f)
    con = connect()
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        out[name] = dict(oracle_result(con, name, sql), sql_sha=sql_sha(sql))
        print(f"{name}: {out[name].get('rows', len(out[name].get('pairs', [])))} rows",
              file=sys.stderr)
    os.makedirs(os.path.dirname(EXPECTED), exist_ok=True)
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if sys.argv[1:] != ["refresh"]:
        sys.exit(__doc__)
    refresh()
