"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry on Spark and its oracle_sql() twin on
DuckDB at sf0.01, compare row-count + schema + order-insensitive
value-hash. Exit non-zero on any mismatch.

Usage: python scripts/check_correctness.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb
import pandas as pd

# the checkout this script lives in — never an installed or sibling copy
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, floats rounded, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.map(_canon_cell)
    df = df.sort_values(by=list(df.columns), kind="mergesort",
                        ignore_index=True)
    return df


def _canon_cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return str([_canon_cell(x) for x in v])
    if isinstance(v, dict):
        return str({k: _canon_cell(v[k]) for k in sorted(v)})
    try:
        import numpy as np
        if isinstance(v, np.ndarray):
            return str([_canon_cell(x) for x in v.tolist()])
        if isinstance(v, np.floating):
            return round(float(v), 6)
        if isinstance(v, np.integer):
            return int(v)
    except ImportError:
        pass
    return v


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        for v in row:
            if isinstance(v, float):
                v = 0.0 if (isinstance(v, float) and v == 0.0) else v
                if isinstance(v, float) and math.isnan(v):
                    v = "<nan>"
            h.update(repr(v).encode())
        h.update(b"\n")
    return h.hexdigest()


def use_checkout() -> None:
    """Import the package from ROOT on the driver and, through
    PYTHONPATH (read when the session's JVM starts), on the Python
    workers."""
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""

    use_checkout()
    import __spark_entry__ as E
    from my_ocr_spark.session import get_spark

    spark = get_spark(app_name="check_correctness", master="local[8]",
                      shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if name_filter and name_filter not in name:
            continue
        try:
            sdf = canon(fn(spark, sf_dir).toPandas())
        except Exception as exc:
            failures.append((name, f"spark error: {exc}"))
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle)")
            continue
        try:
            odf = canon(con.execute(oracles[name]).df())
        except Exception as exc:
            failures.append((name, f"duckdb error: {exc}"))
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} != {len(odf)}")
        if list(sdf.columns) != list(odf.columns):
            problems.append(f"cols {list(sdf.columns)} != {list(odf.columns)}")
        if not problems and value_hash(sdf) != value_hash(odf):
            diff_cols = []
            for c in sdf.columns:
                if not sdf[c].astype(str).equals(odf[c].astype(str)):
                    diff_cols.append(c)
            problems.append(f"value hash mismatch in cols {diff_cols}")
            print(sdf.head(5).to_string())
            print(odf.head(5).to_string())
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(sdf)} rows")
    spark.stop()
    if failures:
        print(f"\n{len(failures)} FAILURES")
        return 1
    print("\nall queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
