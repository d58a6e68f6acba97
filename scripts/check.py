#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Runs after `sbt "runMain graft.Verify <sfDir> <outDir>"`:
for each query output parquet in <outDir>, runs the matching oracle SQL
from oracle_sql.json in DuckDB (tables bound to the fixture parquets),
sorts columns by name, and compares row count / schema / values. An
oracle query with no output directory is reported MISSING and fails.

Usage: python3 scripts/check.py <sfDir> <outDir> [query ...]
"""
import json, math, os, sys
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # EXACT repr: every oracle is engineered to be bit-identical
        # (deterministic IEEE op chains / exact decimal sums) — no
        # tolerance, matching the strictest possible driver hash.
        if v == 0:
            v = 0.0  # collapse -0.0 vs 0.0 only
        return repr(v)
    return repr(v)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_noora = 0
    names = sorted(d for d in os.listdir(out_dir)
                   if os.path.isdir(os.path.join(out_dir, d)))
    # a query Verify could not write (it threw, or never ran) has an
    # oracle but no output directory: that is a failure, not a skip
    for name in sorted(set(oracle) - set(names)):
        if only and name not in only:
            continue
        print(f"  X {name}: MISSING")
        n_fail += 1
    for name in names:
        if only and name not in only:
            continue
        spark_rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        if name not in oracle:
            print(f"  ~ {name}: no oracle (rows={len(spark_rel.fetchall())})")
            n_noora += 1
            continue
        try:
            ora_rel = con.sql(oracle[name])
        except Exception as e:
            print(f"  X {name}: ORACLE SQL ERROR: {e}")
            n_fail += 1
            continue
        s_cols = sorted(spark_rel.columns)
        o_cols = sorted(ora_rel.columns)
        s_rows = spark_rel.fetchall()
        o_rows = ora_rel.fetchall()
        ok = True
        if s_cols != o_cols:
            print(f"  X {name}: SCHEMA spark={s_cols} oracle={o_cols}")
            ok = False
        else:
            s_ty = dict(zip(spark_rel.columns, map(str, spark_rel.types)))
            o_ty = dict(zip(ora_rel.columns, map(str, ora_rel.types)))
            dt = {c: (s_ty[c], o_ty[c]) for c in s_cols if s_ty[c] != o_ty[c]}
            if dt:
                print(f"  X {name}: DTYPES {dt}")
                ok = False
        if len(s_rows) != len(o_rows):
            print(f"  X {name}: ROWS spark={len(s_rows)} oracle={len(o_rows)}")
            ok = False
        if ok:
            s_ix = [spark_rel.columns.index(c) for c in s_cols]
            o_ix = [ora_rel.columns.index(c) for c in o_cols]
            for i, (sr, orow) in enumerate(zip(s_rows, o_rows)):
                sv = [norm(sr[j]) for j in s_ix]
                ov = [norm(orow[j]) for j in o_ix]
                if sv != ov:
                    print(f"  X {name}: VALUE row {i}: spark={sv} oracle={ov}")
                    ok = False
                    break
        if ok:
            print(f"  . {name}: OK ({len(s_rows)} rows)")
            n_pass += 1
        else:
            n_fail += 1
    print(f"PASS={n_pass} FAIL={n_fail} NO_ORACLE={n_noora}")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
