"""Oracle check for the query workloads.

Each query's Spark result (parquet, written by the harness's untimed verify
pass) and the result of its DuckDB oracle SQL over the same fixture are
reduced to an order-independent digest: column names and types (integer
widths collapsed, as the catalog's own oracle gate does), and the sorted
canonical rows. Oracle digests are cached under <cache>/<fixture>-<sql hash>.
"""
import hashlib
import json
import math
import os
import re

import duckdb

import gen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
INT_WIDTHS = re.compile(r"\b(TINYINT|SMALLINT|INTEGER|BIGINT)\b")


def fixture_id(sf, seed):
    """Names a fixture by the generator's code and parameters."""
    with open(gen.__file__, "rb") as f:
        code = f.read()
    return hashlib.sha256(code + f"|{sf}|{seed}".encode()).hexdigest()[:16]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def digest(rel):
    """(digest, row count) of a DuckDB relation, independent of row order."""
    cols = [c.lower() for c in rel.columns]
    types = [INT_WIDTHS.sub("INT", str(t)) for t in rel.types]
    rows = rel.fetchall()
    order = sorted(range(len(cols)), key=cols.__getitem__)
    h = hashlib.sha256(repr([(cols[i], types[i]) for i in order]).encode())
    for line in sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def _connect(fixture):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture}/{t}.parquet'")
    return con


def check(fixture, names, results_dir, cache_dir):
    """Compare every checked query with its oracle. Returns (total result
    rows, list of mismatch descriptions)."""
    with open(os.path.join(results_dir, "..", "oracle_sql.json")) as f:
        sqls = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    fid = os.path.basename(fixture)
    con = None
    rows, mismatches = 0, []
    for name in names:
        sql = sqls.get(name)
        if sql is None:
            mismatches.append(f"{name}: no oracle SQL")
            continue
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        cached = os.path.join(cache_dir, f"{fid}-{key}.json")
        if os.path.exists(cached):
            with open(cached) as f:
                want = json.load(f)
        else:
            con = con or _connect(fixture)
            d, n = digest(con.sql(sql))
            want = {"digest": d, "rows": n}
            with open(cached + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(cached + ".tmp", cached)
        out = os.path.join(results_dir, name)
        if not os.path.isdir(out):
            mismatches.append(f"{name}: no result")
            continue
        con = con or _connect(fixture)
        try:
            got, n = digest(con.sql(f"SELECT * FROM '{out}/*.parquet'"))
        except duckdb.Error as e:
            mismatches.append(f"{name}: unreadable result ({e})")
            continue
        rows += n
        if got != want["digest"]:
            mismatches.append(f"{name}: result differs from the oracle "
                              f"({n} rows, oracle {want['rows']})")
    return rows, mismatches
