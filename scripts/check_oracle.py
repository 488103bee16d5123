#!/usr/bin/env python3
"""Local replica of the driver's t2 gate: for each query output written by
graft.Verify, run the corresponding oracle SQL in DuckDB over the same
parquet tables and compare (columns sorted by name, values stringified,
hashed). Usage: check_oracle.py <sfDir> <outDir> [query ...]"""
import sys, json, glob, hashlib
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    h = hashlib.sha256()
    for col in df.columns:
        for v in df[col]:
            if isinstance(v, float):
                s = "%.10g" % v
            elif isinstance(v, (list, tuple)) or str(type(v)).find("ndarray") >= 0:
                s = ",".join(str(x) for x in v)
            else:
                s = str(v)
            h.update(s.encode())
            h.update(b"\x00")
    return h.hexdigest()

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_skip = 0
    # a requested name with no oracle entry (a typo, or a gate Verify never
    # registered) fails instead of shrinking the run to nothing
    for name in sorted(only - oracle.keys()):
        print(f"NOORACLE {name}: not in oracle_sql.json")
        n_fail += 1
    for name in sorted(oracle):
        if only and name not in only:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"MISSING  {name}: no spark output")
            n_fail += 1
            continue
        try:
            ours = pd.read_parquet(f"{out_dir}/{name}")
            theirs = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"ERROR    {name}: {e}")
            n_fail += 1
            continue
        if sorted(ours.columns) != sorted(theirs.columns):
            print(f"SCHEMA   {name}: ours={sorted(ours.columns)} oracle={sorted(theirs.columns)}")
            n_fail += 1
            continue
        if len(ours) != len(theirs):
            print(f"ROWS     {name}: ours={len(ours)} oracle={len(theirs)}")
            n_fail += 1
            continue
        if canon(ours) != canon(theirs):
            print(f"HASH     {name}: {len(ours)} rows, value mismatch")
            # show first differing cell
            o = ours.reindex(sorted(ours.columns), axis=1).reset_index(drop=True)
            t2 = theirs.reindex(sorted(theirs.columns), axis=1).reset_index(drop=True)
            for c in o.columns:
                oc, tc = o[c].astype(str), t2[c].astype(str)
                neq = oc != tc
                if neq.any():
                    i = neq.idxmax()
                    print(f"         first diff col={c} row={i}: ours={o[c][i]!r} oracle={t2[c][i]!r}")
                    break
            n_fail += 1
        else:
            print(f"PASS     {name} ({len(ours)} rows)")
            n_pass += 1
    # rows-only queries (no oracle); a requested one already failed above
    for d in sorted(glob.glob(f"{out_dir}/q_*")):
        name = d.split("/")[-1]
        if name not in oracle and not only:
            try:
                n = len(pd.read_parquet(d))
                status = "ROWSONLY" if n > 0 else "EMPTY!"
                print(f"{status} {name} ({n} rows)")
                n_skip += 1
            except Exception as e:
                print(f"ERROR    {name}: {e}")
                n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} rows-only")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
