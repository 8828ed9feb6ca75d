"""Result check for the queries workload against the DuckDB oracle.

The oracle SQL of a query (SparkEntry.oracleSql, dumped by each run as
oracle_sql.json) is run in DuckDB over the benchmark's tables and the
digest of its canonical result is kept, keyed by the SQL text and the
table files: committed in oracle_expected.json for the SQL at the time
the benchmark was defined, and otherwise computed once per checkout and
cached under perfbench/out/oracle/. Every pass's dumped result is then
put in the same canonical form and compared with the cached one.
Canonical form is scripts/check_oracle.py's: columns sorted by name,
floats rounded to 9 decimals, rows sorted. A query whose result differs
is re-checked with scripts/check_oracle.py itself (--only, --mem bounded),
whose verdict is final.
"""
import decimal
import glob
import hashlib
import json
import os
import subprocess
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
MEM = "2GB"
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "oracle_expected.json")
COMMITTED = json.load(open(EXPECTED)) if os.path.exists(EXPECTED) else {}
TMP = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out", "duckdb-tmp")


def norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if hasattr(v, "timestamp"):
        return v.timestamp()
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    return v


def canon(cur):
    cols = [c[0] for c in cur.description]
    rows = cur.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def digest(cols, rows):
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()


def connect(data):
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{MEM}'")
    con.execute(f"SET temp_directory='{TMP}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def expected(con, cache_dir, data_key, name, sql):
    """Canonical oracle digest for one query: from the committed
    oracle_expected.json when its key (SQL text + tables) matches, else
    computed once per checkout and cached."""
    key = hashlib.sha256(f"{data_key}\0{name}\0{sql}".encode()).hexdigest()[:24]
    committed = COMMITTED.get(name, {})
    if committed.get("key") == key:
        return committed["digest"]
    path = os.path.join(cache_dir, f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)["digest"]
    d = digest(*canon(con.execute(sql)))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path, "w") as fh:
        json.dump({"query": name, "key": key, "digest": d}, fh)
    return d


def data_key(data):
    h = hashlib.sha256()
    for t in TABLES:
        with open(f"{data}/{t}.parquet", "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def check(dumps, mix, data, cache_dir, check_oracle):
    """Names of (query, pass) pairs whose result is wrong or missing."""
    con = connect(data)
    dk = data_key(data)
    bad = set()
    with open(os.path.join(dumps[0], "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    want = {q: expected(con, cache_dir, dk, q, oracle[q])
            for q in mix if q in oracle}
    for p, dump in enumerate(dumps):
        suspects = []
        for q in mix:
            files = glob.glob(f"{dump}/{q}/*.parquet")
            if not files:
                bad.add((q, p))
            elif q not in want:
                continue  # no oracle for this query: rows-only, as check_oracle
            elif digest(*canon(con.execute(f"SELECT * FROM '{dump}/{q}/*.parquet'"))) != want[q]:
                suspects.append(q)
        if suspects:
            r = subprocess.run(
                [sys.executable, check_oracle, dump, data,
                 "--only=" + ",".join(suspects), f"--mem={MEM}"],
                capture_output=True, text=True, timeout=150)
            for line in r.stdout.splitlines():
                if line.startswith("FAIL "):
                    print(line, file=sys.stderr)
                    name = line[5:].split(":")[0]
                    if name in suspects:
                        bad.add((name, p))
            if r.returncode not in (0, 1):
                bad.update((q, p) for q in suspects)
    return bad
