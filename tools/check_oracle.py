#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name> parquet dump produced by graft.Verify,
runs the matching SQL from oracle_sql.json in DuckDB against views over
<sfDir>/*.parquet, then compares: row count, column names (sorted), and
a hash of the value matrix with columns sorted by name and rows sorted
by all columns.
"""
import json
import sys

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def norm_cell(v):
    import math
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def table_hash(df: pd.DataFrame) -> str:
    import hashlib
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("|".join(norm_cell(v) for v in row) + "\n").encode())
    return h.hexdigest()


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    failures = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: no spark dump ({e})")
            failures += 1
            continue
        try:
            want = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}")
            failures += 1
            continue
        got_c, want_c = canon(got), canon(want)
        if list(got_c.columns) != list(want_c.columns):
            print(f"FAIL {name}: columns {list(got_c.columns)} != {list(want_c.columns)}")
            failures += 1
            continue
        if len(got_c) != len(want_c):
            print(f"FAIL {name}: rows {len(got_c)} != {len(want_c)}")
            failures += 1
            continue
        hg, hw = table_hash(got_c), table_hash(want_c)
        if hg != hw:
            print(f"FAIL {name}: hash mismatch")
            # show first differing row
            for i in range(len(got_c)):
                rg = [norm_cell(v) for v in got_c.iloc[i]]
                rw = [norm_cell(v) for v in want_c.iloc[i]]
                if rg != rw:
                    print(f"  row {i}: spark={rg}")
                    print(f"  row {i}: duck ={rw}")
                    break
            failures += 1
        else:
            print(f"ok   {name}: {len(got_c)} rows")
    print(f"{len(oracle) - failures}/{len(oracle)} ok")
    return failures


if __name__ == "__main__":
    sys.exit(min(1, main(sys.argv[1], sys.argv[2])))
