#!/usr/bin/env python3
"""Dev-only pre-flight for the driver's DuckDB oracle compare.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [query ...]

The oracle comparison: for each query in oracle_sql.json
(or only the named queries, e.g. after a SPARK_GRAFT_ONLY Verify run),
run the SQL in DuckDB over the sfDir parquet tables, load the Spark
parquet result, sort columns by name + rows, and diff values.
This script is developer tooling only — the shipped library is pure Scala.
"""
import sys, os, json, glob
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical value form: strings, timestamps → iso, floats → repr
    def canon(v):
        if pd.isna(v):
            return "NULL"
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)
    out = df.map(canon)
    out = out.sort_values(by=list(out.columns)).reset_index(drop=True)
    return out


def main(sf_dir, out_dir, only=()):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    unknown = [q for q in only if q not in oracles]
    if unknown:
        print(f"no oracle for: {', '.join(unknown)}")
        return 1
    if only:
        oracles = {q: oracles[q] for q in only}

    n_pass = n_fail = 0
    for name in sorted(oracles):
        sql = oracles[name]
        spark_dir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(spark_dir, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            spark_df = pd.concat([pd.read_parquet(f) for f in files])
            duck_df = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        a, b = normalize(spark_df), normalize(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            n_fail += 1
        elif len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            n_fail += 1
        elif not a.equals(b):
            neq = (a != b).any(axis=1)
            print(f"FAIL {name}: {neq.sum()} differing rows; first few:")
            idx = a.index[neq][:3]
            for i in idx:
                print(f"  spark: {a.loc[i].to_dict()}")
                print(f"  duck : {b.loc[i].to_dict()}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(a)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
