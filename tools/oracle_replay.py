#!/usr/bin/env python3
"""Replay graft.Verify's oracle SQL in DuckDB and compare it with Spark's output.

    python3 tools/oracle_replay.py <sfDir> <verifyOutDir>

<sfDir> holds the input tables as <table>.parquet; <verifyOutDir> is what
`graft.Verify <sfDir> <verifyOutDir>` wrote: one parquet directory per query
plus oracle_sql.json. For each query the two results are compared as
multisets of rows (row order and column order ignored, floats rounded to 4
places, integer widths and decimals unified). Prints MATCH, MISMATCH or
NO OUTPUT per query, then the totals. Exits 1 on any MISMATCH.
"""
import collections
import decimal
import glob
import json
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    """One cell as a hashable value both engines agree on."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        return round(float(v), 4) + 0.0
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return v


def rows(df):
    cols = sorted(df.columns)
    return cols, collections.Counter(
        tuple(norm(v) for v in r) for r in df[cols].itertuples(index=False, name=None))


def spark_output(out, name):
    files = glob.glob(os.path.join(out, name, "*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sf, out = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    totals = collections.Counter()
    for name, sql in sorted(oracles.items()):
        s = spark_output(out, name)
        if s is None:
            verdict, detail = "NO OUTPUT", ""
        else:
            try:
                d = con.execute(sql).fetchdf()
            except Exception as e:  # an oracle that cannot run is a mismatch
                verdict, detail = "MISMATCH", f"oracle failed: {str(e)[:200]}"
            else:
                (sc, sr), (dc, dr) = rows(s), rows(d)
                if sc != dc:
                    verdict, detail = "MISMATCH", f"columns {sc} vs oracle {dc}"
                elif sr != dr:
                    extra, missing = sr - dr, dr - sr
                    verdict = "MISMATCH"
                    detail = (f"{sum(extra.values())} rows only in Spark, "
                              f"{sum(missing.values())} only in the oracle; e.g. "
                              f"{next(iter(extra or missing))}")
                else:
                    verdict, detail = "MATCH", f"{sum(sr.values())} rows"
        totals[verdict] += 1
        print(f"{name} {verdict} {detail}".rstrip())
    print(f"{totals['MATCH']}/{len(oracles)} MATCH, {totals['MISMATCH']} MISMATCH, "
          f"{totals['NO OUTPUT']} NO OUTPUT")
    sys.exit(1 if totals["MISMATCH"] else 0)


if __name__ == "__main__":
    main()
