#!/usr/bin/env python3
"""DuckDB oracle check of one reference dump.

Usage: oracle.py <dataDir> <dumpDir> <timeoutSeconds>

<dumpDir> holds what `perfbench.Main reference` wrote: one parquet directory
per query and oracle_sql.json (SparkEntry.oracleSql with {SFDIR} filled
in). Each oracle runs in DuckDB over the generated tables and is
compared with the engine's output the way scripts/compare_oracle.py does:
columns sorted by name, equal row counts, and row-by-row values, floats
bit-strict including the sign of zero.

The generated tables are directories of part files, so table paths are
rewritten to globs. An oracle that runs longer than the timeout is
interrupted and reported. Prints one JSON object {query: "ok" | reason}.
"""
import glob
import json
import os
import re
import sys
import threading

import duckdb
import numpy as np
import pandas as pd


def compare(odf, edf):
    odf = odf[sorted(odf.columns)]
    edf = edf[sorted(edf.columns)]
    if list(odf.columns) != list(edf.columns):
        return f"columns: oracle={list(odf.columns)} engine={list(edf.columns)}"
    if len(odf) != len(edf):
        return f"rows: oracle={len(odf)} engine={len(edf)}"
    diffs = []
    for c in odf.columns:
        o, e = odf[c], edf[c]
        if o.dtype.kind == "f" or e.dtype.kind == "f":
            o, e = o.astype(float), e.astype(float)
            sb = np.signbit(o.fillna(0).values) == np.signbit(e.fillna(0).values)
            neq = ~((o.isna() & e.isna()) | ((o == e) & sb))
        else:
            neq = ~((o.isna() & e.isna()) | (o.astype(str) == e.astype(str)))
        if neq.any():
            i = int(np.argmax(neq.values))
            diffs.append(f"{c}: {int(neq.sum())} diffs, first at row {i}: "
                         f"oracle={o.iloc[i]!r} engine={e.iloc[i]!r}")
    return "; ".join(diffs) if diffs else None


def main():
    data, dump, timeout = os.path.abspath(sys.argv[1]), sys.argv[2], float(sys.argv[3])
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    table_path = re.compile(re.escape(data) + r"/(\w+)\.parquet'")
    results = {}
    for name, sql in sorted(oracle.items()):
        sql = table_path.sub(lambda m: f"{data}/{m.group(1)}.parquet/*.parquet'", sql)
        timer = threading.Timer(timeout, con.interrupt)
        timer.start()
        try:
            odf = con.execute(sql).fetchdf()
        except Exception as e:
            results[name] = f"oracle error: {str(e)[:300]}"
            continue
        finally:
            timer.cancel()
        files = sorted(glob.glob(os.path.join(dump, name, "*.parquet")))
        if not files:
            results[name] = "no engine output"
            continue
        edf = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        diff = compare(odf, edf)
        results[name] = "ok" if diff is None else diff[:400]
    print(json.dumps(results))


if __name__ == "__main__":
    main()
