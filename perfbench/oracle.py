"""DuckDB oracle check of the benchmark's outputs.

Compares each verified call's collected output with its oracle SQL run by
DuckDB on the same generated lake. The canonical form is the one
scripts/check_oracle.py uses: columns matched by sorted lower-case name,
rows sorted after rendering floats with 6 significant digits, and result
types compared by class (integer widths up to 64 bits alike, float and
double alike, decimals by exact type, raw Spark decimals refused).
"""
import math
import os

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def typeclass(t):
    s = str(t).upper()
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "INT<=64"
    if s in ("FLOAT", "REAL", "DOUBLE"):
        return "FLOATISH"
    if s.startswith("DECIMAL"):
        return f"DECIMAL[{s}]"
    if s.startswith("STRUCT") or s.endswith("[]"):
        return s
    return {"TEXT": "VARCHAR"}.get(s, s)


def connect(lake_dir):
    """A DuckDB connection with one view per lake table. The generated
    events table stores `ts` as INT64 nanoseconds, which the program reads
    as microsecond timestamps; the view does the same."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(lake_dir, f"{t}.parquet")
        src = f"'{path}/*.parquet'" if os.path.isdir(path) else f"'{path}'"
        if t == "events":
            con.execute(f"CREATE VIEW events AS SELECT * REPLACE "
                        f"(make_timestamp(ts // 1000) AS ts) FROM {src}")
        else:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con


def check(con, out):
    """None when a collected output (columns, type classes and rows, as
    Output.scala writes them) matches its oracle, else a reason."""
    got_cols = [c.lower() for c in out["columns"]]
    got = canon(out["rows"], got_cols)
    try:
        exp_rel = con.sql(out["oracle"])
        exp_cols = [c.lower() for c in exp_rel.columns]
        exp_types = list(exp_rel.types)
        exp = canon(exp_rel.fetchall(), exp_cols)
    except Exception as e:  # noqa: BLE001 - any DuckDB failure is a mismatch
        return f"oracle error: {e}"
    raw_dec = [c for c, t in zip(got_cols, out["types"]) if t == "RAW_DECIMAL"]
    if raw_dec:
        return f"raw DECIMAL output column(s) {raw_dec}"
    if sorted(got_cols) != sorted(exp_cols):
        return f"columns {sorted(got_cols)} != {sorted(exp_cols)}"
    gt = dict(zip(got_cols, out["types"]))
    et = {c: typeclass(t) for c, t in zip(exp_cols, exp_types)}
    diffs = [f"{c}: {gt[c]} vs {et[c]}" for c in sorted(gt) if gt[c] != et[c]]
    if diffs:
        return "result types differ: " + ", ".join(diffs)
    if got != exp:
        return f"{len(got)} rows vs {len(exp)} oracle rows, or values differ"
    return None
