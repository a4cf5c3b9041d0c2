"""Result digests for the oracle check.

A query result and its DuckDB oracle are compared by digest, after the
canonicalisation the engine's own correctness tool (tools/verify_local.py)
applies: columns sorted by name, timezone-aware timestamps made naive,
object values as strings, rows in sorted order. Numbers compare by value
whatever their width (int 3 equals float 3.0), but -0.0 and 0.0 differ,
as they do for the hash the engine's correctness gate uses.
"""
import hashlib
import math

import duckdb
import pandas as pd


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "\x00null"
    if isinstance(v, bool):
        return "b:" + str(v)
    if isinstance(v, int):
        return "n:" + str(v)
    if isinstance(v, float):
        if v == 0.0:
            return "n:-0" if math.copysign(1.0, v) < 0 else "n:0"
        if v.is_integer() and abs(v) < 2 ** 53:
            return "n:" + str(int(v))
        return "n:" + repr(v)
    return "s:" + str(v)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64[ns,"):
            df[c] = df[c].dt.tz_localize(None)
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
    return df


def digest(df: pd.DataFrame) -> str:
    df = canon(df)
    rows = sorted("\x1f".join(_cell(v.item() if hasattr(v, "item") else v)
                              for v in row)
                  for row in df.itertuples(index=False, name=None))
    h = hashlib.sha256("\x1f".join(df.columns).encode())
    for r in rows:
        h.update(b"\n" + r.encode())
    return h.hexdigest()


def connect(fixture_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixture_dir}/{t}.parquet')")
    return con


def check(con, sql: str, result_dir: str):
    """(matches, rows in the result) for one query's written result."""
    got = con.execute(
        f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").df()
    want = con.execute(sql).df()
    return digest(got) == digest(want), len(got)
