"""Answer check: every pass's output against the DuckDB oracle.

The oracle SQL is the engine's own ``SparkEntry.oracleSql``, dumped by the
client JVM; no query the workloads run has a reference quadratic in the
corpus, so none needs a cheaper form. Both sides are canonicalised the way
``tools/check.py`` does it: columns sorted by name, rows compared as a
multiset, floating values rounded to 9 places. A relation is reduced to (column names, row count, sum of row
hashes); the oracle's triple is computed once per input set and SQL text
and cached under ``perfbench/.work/oracle``. When the triples differ, a
row-aligned compare that takes floating values as equal at relative 1e-9
decides (see ``close_enough``). A query with no oracle SQL counts as
wrong: the benchmark runs only checkable queries. The comparison runs
after the client JVM has exited, outside any timed window.
"""
import hashlib
import json
import math
import os

import duckdb

import gen

CANON_VERSION = "1"

INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
        "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"}
FLOATS = {"FLOAT", "DOUBLE"}


def _canon_expr(name, typ):
    c = _quote(name)
    t = typ.upper()
    if t in INTS:
        return f"CAST({c} AS HUGEINT)"
    if t in FLOATS or t.startswith("DECIMAL"):
        # + 0.0 folds -0.0 into 0.0, as Python's str(round(v, 9)) would not
        # distinguish them after the driver-side pandas sort either
        return f"round(CAST({c} AS DOUBLE), 9) + 0.0"
    if t.startswith("TIMESTAMP"):
        return f"CAST({c} AS TIMESTAMP)"
    if t in ("VARCHAR", "BOOLEAN", "BLOB", "DATE", "TIME", "UUID"):
        return c
    return f"CAST({c} AS VARCHAR)"


def fingerprint(con, sql):
    """(sorted column names, row count, hash sum) of a relation."""
    rel = con.sql(sql)
    cols = sorted(zip(rel.columns, (str(t) for t in rel.types)))
    if not cols:
        n = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        return [], n, "0"
    exprs = ", ".join(_canon_expr(n, t) for n, t in cols)
    n, h = con.sql(f"SELECT count(*), CAST(sum(CAST(hash({exprs}) AS HUGEINT)) "
                   f"AS VARCHAR) FROM ({sql}) AS r").fetchone()
    return [n_ for n_, _ in cols], n, h or "0"


def _rows(con, sql, floats):
    rel = con.sql(sql)
    names = sorted(rel.columns)
    flt = [n in floats for n in names]
    rows = []
    for row in con.sql(f"SELECT {', '.join(_quote(n) for n in names)} FROM ({sql})").fetchall():
        key = tuple(str(v) for v, f in zip(row, flt) if not f)
        val = tuple(v for v, f in zip(row, flt) if f)
        rows.append((key, tuple("%.6g" % v if v is not None else "" for v in val), val))
    rows.sort(key=lambda r: (r[0], r[1]))
    return rows


def _quote(name):
    return '"' + name.replace('"', '""') + '"'


def close_enough(con, got_sql, want_sql, limit=500_000):
    """Row-aligned compare with floating values equal at relative 1e-9.

    Used only when the exact fingerprints differ: the engines add floating
    values in different orders, so a large sum rounded to cents can land
    one cent apart (observed at 1e10 on the 10x replica).
    """
    got, want = con.sql(got_sql), con.sql(want_sql)
    if sorted(got.columns) != sorted(want.columns):
        return False
    floats = {n for rel in (got, want) for n, t in zip(rel.columns, rel.types)
              if str(t).upper() in FLOATS or str(t).upper().startswith("DECIMAL")}
    n = con.sql(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
    if n > limit or n != con.sql(f"SELECT count(*) FROM ({want_sql})").fetchone()[0]:
        return False
    for (gk, _, gv), (wk, _, wv) in zip(_rows(con, got_sql, floats),
                                        _rows(con, want_sql, floats)):
        if gk != wk:
            return False
        for a, b in zip(gv, wv):
            if (a is None) != (b is None):
                return False
            if a is not None and not math.isclose(float(a), float(b),
                                                  rel_tol=1e-9, abs_tol=1e-9):
                return False
    return True


def _connect(data_dir, tmp):
    # the statically linked extensions suffice: never download one
    con = duckdb.connect(config={"temp_directory": tmp,
                                 "autoinstall_known_extensions": False})
    con.sql("SET TimeZone = 'UTC'")
    for t in gen.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _inputs_id(data_dir):
    """Identifies an input set: its directory name plus the generator's
    source, so a generator change never reuses a stale answer."""
    with open(gen.__file__, "rb") as f:
        g = hashlib.sha256(f.read()).hexdigest()[:16]
    return os.path.basename(os.path.normpath(data_dir)) + ":" + g


def check(res, data_dir, cache_dir):
    """Returns [(query, (round, query, pass), reason)] for every pass
    whose answer is wrong or cannot be checked."""
    os.makedirs(cache_dir, exist_ok=True)
    con = _connect(data_dir, os.path.join(cache_dir, "duckdb_tmp"))
    wrong = []
    try:
        expected, oracle_sql = {}, res["oracle_sql"]
        for q, sql in oracle_sql.items():
            key = hashlib.sha256("\0".join(
                [CANON_VERSION, _inputs_id(data_dir), sql]).encode()).hexdigest()
            path = os.path.join(cache_dir, key + ".json")
            if os.path.exists(path):
                expected[q] = json.load(open(path))
            else:
                expected[q] = list(fingerprint(con, sql))
                with open(path, "w") as f:
                    json.dump(expected[q], f)
        for p in res["passes"]:
            q = p["query"]
            if p["status"] != "ok":
                continue
            if q not in expected:
                wrong.append((q, (p["round"], q, p["pass"]), "no oracle SQL"))
                continue
            sql = f"SELECT * FROM read_parquet('{p['output']}/*.parquet')"
            got = list(fingerprint(con, sql))
            if got != expected[q] and not close_enough(con, sql, oracle_sql[q]):
                wrong.append((q, (p["round"], q, p["pass"]), "differs from oracle"))
    finally:
        con.close()
    return wrong
