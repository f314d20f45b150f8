#!/usr/bin/env python3
"""Checks `query_suite` results against their DuckDB oracles.

    python3 perfbench/oracle.py <tables_dir> <out_dir>

`<out_dir>/oracle_sql.json` maps each query to its oracle SQL
(`graft.SparkEntry.oracleSql`); `<out_dir>/<query>/` holds the engine's
result as parquet. Each oracle runs in DuckDB over views of the input
tables; both sides are canonicalised as the repository's `tools/compare.py`
does it (columns sorted by name, rows sorted by every column; floats
bit-exact except columns named `*cos*`, which allow 1e-9 relative). Prints
one line per query: `PASS <query>` or `FAIL <query>: <reason>`.
"""
import glob
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def differs(oracle, got):
    """The first difference between two results, or None."""
    o, g = canon(oracle), canon(got)
    if list(o.columns) != list(g.columns):
        return f"columns oracle={list(o.columns)} engine={list(g.columns)}"
    if len(o) != len(g):
        return f"rows oracle={len(o)} engine={len(g)}"
    for c in o.columns:
        oc, gc = o[c], g[c]
        if oc.dtype.kind == "f" or gc.dtype.kind == "f":
            ov, gv = oc.astype(float).to_numpy(), gc.astype(float).to_numpy()
            if "cos" in c.lower():
                ok = np.isclose(ov, gv, rtol=1e-9, atol=1e-12, equal_nan=True)
            else:
                ok = (ov == gv) | (np.isnan(ov) & np.isnan(gv))
            if not ok.all():
                return f"column {c}: oracle={ov[~ok][:3]} engine={gv[~ok][:3]}"
        else:
            neq = oc.astype(str) != gc.astype(str)
            if neq.any():
                i = neq[neq].index[:3]
                return f"column {c}: oracle={list(oc.astype(str)[i])} engine={list(gc.astype(str)[i])}"
    return None


def main(tables_dir, out_dir):
    con = duckdb.connect()
    tmp = os.path.join(out_dir, "duckdb.tmp")
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{tmp}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    for name, sql in sorted(oracles.items()):
        if not glob.glob(os.path.join(out_dir, name, "*.parquet")):
            why = "no engine output"
        else:
            try:
                why = differs(con.sql(sql).df(),
                              con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            except Exception as e:  # an oracle that cannot run is a failed check
                why = f"oracle error: {e}"
        print(f"FAIL {name}: {why}" if why else f"PASS {name}", flush=True)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
