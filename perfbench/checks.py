"""Output checks: an order-insensitive digest of a result table, the
DuckDB oracle digests for the registry queries, and the in-process
re-extraction of sampled pages."""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

SF_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        v = round(float(v), 6) + 0.0
        return "<null>" if v != v else f"{v:.6g}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "asDict"):
        return _cell(v.asDict())
    if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
        return str(int(v))
    return repr(v)


def _float_strings(v: np.ndarray) -> list[str]:
    """``_cell`` for a float column."""
    return ["<null>" if x != x else f"{x:.6g}"
            for x in (np.round(v, 6) + 0.0).tolist()]


def digest(df: pd.DataFrame) -> dict:
    """Row count plus an order-insensitive hash of the rows. Columns are
    taken by sorted name, floats rounded to 6 places and then to 6
    significant digits, NaN read as null, timestamps compared in
    microseconds. Six significant digits absorb the last-digit
    differences two engines' float sums can show (one query's 1.1e8
    revenue sum differed by 0.01 between Spark and DuckDB on one seed)
    while any wrong row still changes the hash."""
    df = df.reindex(sorted(df.columns), axis=1)
    canon = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_bool_dtype(s) or pd.api.types.is_integer_dtype(s):
            canon[c] = (s.astype("Int64").astype(str)
                        .replace("<NA>", "<null>"))
        elif pd.api.types.is_float_dtype(s):
            canon[c] = _float_strings(s.to_numpy(dtype=np.float64))
        elif pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert(None)
            canon[c] = s.astype("datetime64[us]").astype(str)
        else:
            canon[c] = s.map(_cell)
    rows = pd.util.hash_pandas_object(pd.DataFrame(canon), index=False)
    fold = int(np.sum(rows.to_numpy(dtype=np.uint64), dtype=np.uint64))
    return {"rows": int(len(df)), "cols": list(df.columns),
            "hash": f"{fold:016x}"}


def oracle_digests(sf_dir: str, names: list[str], oracles: dict[str, str],
                   cache_path: str, cache_key: str) -> dict[str, dict]:
    """DuckDB digest per query, computed once per (seed, oracle text,
    generator) and kept in ``cache_path``."""
    key = hashlib.sha256(cache_key.encode()).hexdigest()
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
        if cached.get("key") == key:
            return cached["digests"]
    import duckdb

    con = duckdb.connect()
    for t in SF_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    out = {n: digest(con.execute(oracles[n]).df()) for n in names}
    con.close()
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"key": key, "digests": out}, f)
    os.replace(tmp, cache_path)
    return out


def sample_mismatches(rows, latest_html: dict[str, bytes]) -> list[str]:
    """Urls among the collected (url, title, text) rows whose output
    differs from ``extract_main_text`` run here on the same page."""
    from my_ocr_spark.kernel.extract import extract_main_text

    bad = []
    for r in rows:
        ref = extract_main_text(latest_html[r["url"]])
        if (r["title"], r["text"]) != (ref["title"], ref["text"]):
            bad.append(r["url"])
    return bad
