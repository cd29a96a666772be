"""Oracle check for the query mixes.

Each query's result, written once per run by the runner, is compared with
its own DuckDB oracle (``SparkEntry.oracleSql``) over the same parquet
tables: same row count, and the same multiset of rows once both sides are
sorted (floats compared to a relative 1e-6). The oracle side depends only
on the table set and the SQL, so it is cached per (tables, SQL).
"""
import hashlib
import json
import math
import os

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return [[k, canon(x)] for k, x in sorted(v.items())]
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (int, bool, str)):
        return v
    return str(v)


def _key(v):
    """Sort key that tolerates float noise: floats to 6 significant digits."""
    if isinstance(v, float):
        return (1, float("%.6g" % v))
    if isinstance(v, list):
        return (2, tuple(_key(x) for x in v))
    if v is None:
        return (0, 0)
    return (3, str(v))


def rows_of(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [[canon(r[i]) for i in order] for r in rel.fetchall()]
    rows.sort(key=lambda r: tuple(_key(x) for x in r))
    return [cols[i] for i in order], rows


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(float(a) - float(b)) <= 1e-6 * max(1.0, abs(float(a)), abs(float(b)))
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def digest(rows):
    """Order-insensitive hash of a sorted, canonical row list."""
    return hashlib.sha1(json.dumps([[("%.6g" % x) if isinstance(x, float) else x for x in r]
                                    for r in rows], default=str).encode()).hexdigest()[:16]


def check(data, verify_dir, oracles, cache_dir):
    """Returns ({query: verified row count}, [mismatch descriptions])."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s.parquet')" % (t, data, t))
    os.makedirs(cache_dir, exist_ok=True)
    verified, bad = {}, []
    for q, sql in sorted(oracles.items()):
        if not sql:
            bad.append("%s: no oracle SQL" % q)
            continue
        key = hashlib.sha1((os.path.basename(data) + "\n" + sql).encode()).hexdigest()[:16]
        cached = os.path.join(cache_dir, "%s-%s.json" % (q, key))
        if os.path.exists(cached):
            with open(cached) as f:
                want_cols, want = json.load(f)
        else:
            want_cols, want = rows_of(con, sql)
            with open(cached, "w") as f:
                json.dump([want_cols, want], f)
        path = os.path.join(verify_dir, q)
        if not os.path.isdir(path):
            bad.append("%s: no result written" % q)
            continue
        got_cols, got = rows_of(con, "SELECT * FROM read_parquet('%s/*.parquet')" % path)
        if got_cols != want_cols:
            bad.append("%s: columns %s vs oracle %s" % (q, got_cols, want_cols))
        elif len(got) != len(want):
            bad.append("%s: %d rows vs oracle %d" % (q, len(got), len(want)))
        elif not all(same(g, w) for g, w in zip(got, want)):
            i = next(i for i, (g, w) in enumerate(zip(got, want)) if not same(g, w))
            bad.append("%s: row %d differs: %s vs oracle %s" % (q, i, got[i], want[i]))
        else:
            verified[q] = len(got)
            print("verified %-32s %7d rows  hash %s" % (q, len(got), digest(got)))
    return verified, bad
