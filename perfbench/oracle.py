"""Output checks for a benchmark run.

Raster operations are compared with their DuckDB oracle SQL from the
engine's registry (SparkEntry.oracleSql) on the same generated inputs,
with the normalisation tools/check_oracle.py applies: columns matched
by name, -0.0 equal to 0.0, DECIMAL and wide integer results read as
the engine's DOUBLE and integer types. Each side is reduced inside
DuckDB to its row count and an order-insensitive row hash (the sum of
per-row hashes), and the two must be equal. Store checks were already
decided in the JVM (each store read against a store rebuilt over the
final live rows) and are passed through.
"""
import os
import time

import duckdb

INTEGRAL = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
            "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}


def _quote(c):
    return '"' + c.replace('"', '""') + '"'


def _as_engine_type(col, have, want):
    """Cast an oracle column to the engine's type where the two engines
    only differ in numeric width or exactness."""
    if have == want:
        return _quote(col)
    if (have in INTEGRAL and want in INTEGRAL) or (
            want == "DOUBLE" and (have in INTEGRAL or have.startswith("DECIMAL"))):
        return f"CAST({_quote(col)} AS {want})"
    return _quote(col)


def row_hash(con, sql, exprs):
    """(rows, order-insensitive hash) of `sql`, hashing `exprs` per row."""
    row = ", ".join(exprs)
    return con.sql(f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) "
                   f"FROM ({sql})").fetchone()


def compare(con, got_sql, want_sql):
    got, want = con.sql(got_sql), con.sql(want_sql)
    gt = {c: str(t) for c, t in zip(got.columns, got.types)}
    wt = {c: str(t) for c, t in zip(want.columns, want.types)}
    if sorted(gt) != sorted(wt):
        return False, f"columns differ: {sorted(gt)} vs {sorted(wt)}", None
    cols = sorted(gt)

    def norm(c, t):  # -0.0 and 0.0 hash alike
        return f"({_quote(c)} + 0.0)" if t in ("DOUBLE", "FLOAT") else _quote(c)
    g = row_hash(con, got_sql, [norm(c, gt[c]) for c in cols])
    cast = ", ".join(f"{_as_engine_type(c, wt[c], gt[c])} AS {_quote(c)}" for c in cols)
    w = row_hash(con, f"SELECT {cast} FROM ({want_sql})", [norm(c, gt[c]) for c in cols])
    info = {"rows": g[0], "hash": format(g[1] & (2**64 - 1), "016x"),
            "oracle_rows": w[0], "oracle_hash": format(w[1] & (2**64 - 1), "016x")}
    if g != w:
        return False, f"differs from the DuckDB oracle: {g[0]} rows vs {w[0]}", info
    return True, "", info


def check(report, data):
    """All checks of the run, in the JVM's order."""
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    out = []
    for c in report["checks"]:
        if c["kind"] != "oracle":
            out.append(c)
            continue
        t0 = time.time()
        res = {"name": c["name"], "kind": "oracle"}
        sql = report["oracle"].get(c["name"])
        got_sql = f"SELECT * FROM '{c['path']}/*.parquet'"
        try:
            if c["error"]:
                raise RuntimeError(c["error"])
            if sql is None:
                rows = con.sql(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
                res.update(ok=True, oracle="none (rows only)", rows=rows)
            else:
                ok, err, info = compare(con, got_sql, sql)
                res.update(ok=ok, **(info or {}), **({"error": err} if err else {}))
        except Exception as e:  # a failed or unreadable output fails the check
            res.update(ok=False, error=(str(e).splitlines() or [repr(e)])[0][:300])
        res["check_s"] = time.time() - t0
        out.append(res)
    return out
