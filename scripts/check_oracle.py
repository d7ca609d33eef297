#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: reads Verify's output
parquet per query + oracle_sql.json, runs the oracle in DuckDB against the
testdata tables, and compares (schema by sorted column names, values by
sorted-row hash with float rounding, and RESULT TYPES per column — the
driver's hash is type-sensitive, so an uncast DuckDB SUM returning HUGEINT
against Spark's BIGINT is a FAIL here even when every value agrees). Usage:
    python3 scripts/check_oracle.py <sfDir> <verifyOutDir>
"""
import sys, json, glob, math
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
try:
    errors = json.load(open(f"{outdir}/_errors.json"))
except FileNotFoundError:
    errors = {}

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "nan"
        return f"{v:.6g}"
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return out

def typeclass(t):
    """Collapse DuckDB type names into the classes the driver's typed hash
    actually distinguishes (calibrated against CORRECTNESS_r10): integer
    widths <=64-bit all land in pandas int64 (same hash), FLOAT/DOUBLE/
    DECIMAL all land in float dtypes that the driver rounds identically —
    but HUGEINT (int128) is converted to float64 by duckdb's .df(), so an
    uncast integer SUM hashes as '123.0' vs Spark's '123' and FAILS. Flag
    that class (and any int-vs-float / kind mismatch); tolerate width-only
    diffs inside a class."""
    s = str(t).upper()
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "INT<=64"
    if s in ("FLOAT", "REAL", "DOUBLE"):
        return "FLOATISH"
    if s.startswith("DECIMAL"):
        # r11 escape (f04_rfm): the driver's hash reads Spark parquet
        # DECIMAL as python Decimal ('123.40') but DuckDB DECIMAL(38,_)
        # via .df() as float64 ('123.4') — values equal, hash differs.
        # Keep the width so spark-vs-oracle decimals also mismatch here.
        return f"DECIMAL[{s}]"
    if s == "HUGEINT":
        return "HUGEINT(int128->float64 in pandas: cast the oracle!)"
    if s.startswith("STRUCT") or s.endswith("[]"):
        return s  # nested: exact
    return {"TEXT": "VARCHAR"}.get(s, s)

fails = 0
for name in sorted(oracle):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if name in errors:
        # a gate Verify records as failed fails here too, output or not:
        # a hygiene failure is found after the gate's sink has written
        what = "failed after writing its output" if files else "query THREW"
        print(f"ERR  {name}: {what}: {errors[name]}")
        fails += 1; continue
    if not files:
        print(f"FAIL {name}: no spark output (not in _errors.json either)")
        fails += 1; continue
    try:
        got_rel = con.sql(f"SELECT * FROM '{outdir}/{name}/*.parquet'")
        got_cols = [c.lower() for c in got_rel.columns]
        got = canon(got_rel.fetchall(), got_cols)
        exp_rel = con.sql(oracle[name])
        exp_cols = [c.lower() for c in exp_rel.columns]
        exp = canon(exp_rel.fetchall(), exp_cols)
    except Exception as e:
        print(f"FAIL {name}: {e}"); fails += 1; continue
    raw_dec = [c for c, t in zip(got_cols, got_rel.types)
               if str(t).upper().startswith("DECIMAL")]
    if raw_dec:
        print(f"FAIL {name}: Spark output has raw DECIMAL column(s) "
              f"{raw_dec} — the driver hash reads these as python Decimal "
              f"and fails vs any oracle repr; .cast(\"double\") on the "
              f"Spark side + ::DOUBLE in the oracle (a01/t18/b01 recipe)")
        fails += 1; continue
    got_types = {c: typeclass(t) for c, t in zip(got_cols, got_rel.types)}
    exp_types = {c: typeclass(t) for c, t in zip(exp_cols, exp_rel.types)}
    type_diffs = [(c, got_types[c], exp_types[c])
                  for c in sorted(set(got_types) & set(exp_types))
                  if got_types[c] != exp_types[c]]
    if sorted(got_cols) != sorted(exp_cols):
        print(f"FAIL {name}: columns {sorted(got_cols)} != {sorted(exp_cols)}"); fails += 1
    elif type_diffs:
        print(f"FAIL {name}: result-type mismatch (driver hash is typed): " +
              ", ".join(f"{c}: spark={a} oracle={b}" for c, a, b in type_diffs))
        fails += 1
    elif got != exp:
        print(f"FAIL {name}: {len(got)} rows vs {len(exp)}; first diff:")
        for a, b in zip(got, exp):
            if a != b:
                print(f"  spark={a}\n  duck ={b}"); break
        else:
            extra = got[len(exp):] or exp[len(got):]
            print(f"  length mismatch, extra={extra[:2]}")
        fails += 1
    else:
        print(f"OK   {name} ({len(got)} rows)")
matched = len(oracle) - fails
for name in sorted(set(errors) - set(oracle)):
    print(f"ERR  {name}: query THREW (no oracle row): {errors[name]}")
    fails += 1
print(f"\n{matched}/{len(oracle)} queries match; {len(errors)} failed in Verify")
sys.exit(1 if fails else 0)
