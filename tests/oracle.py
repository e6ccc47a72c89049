"""DuckDB-oracle comparison utilities mirroring the driver's correctness gate:
row count + schema (column names) + order-insensitive value comparison over
columns sorted by name."""

from __future__ import annotations

import math

import duckdb
import pandas as pd


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon_cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "NULL"
    if isinstance(v, float):
        r = round(v, 6)
        if r == 0:
            r = 0.0
        return f"{r:.6f}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_cell(v) for v in rec) for rec in df[cols].itertuples(index=False)]
    return sorted(rows)


def assert_matches_oracle(spark_df, sql: str, sf_dir: str) -> None:
    con = duck_connect(sf_dir)
    try:
        oracle = con.sql(sql).df()
    finally:
        con.close()
    got = spark_df.toPandas()
    assert sorted(got.columns) == sorted(oracle.columns), (
        f"schema mismatch: spark={sorted(got.columns)} oracle={sorted(oracle.columns)}"
    )
    assert len(got) == len(oracle), f"row count mismatch: spark={len(got)} oracle={len(oracle)}"
    g, o = canonical_rows(got), canonical_rows(oracle)
    mism = [(a, b) for a, b in zip(g, o) if a != b][:5]
    assert g == o, f"value mismatch; first diffs: {mism}"


def degenerate_fixture(out_dir, src_dir: str, **tables) -> str:
    """A fixture dir holding ``src_dir``'s tables, with each table named in
    ``tables`` replaced by the given pyarrow table (empty, one-row or
    constant inputs), for checking an operator against its oracle on
    degenerate data."""
    import os

    import pyarrow.parquet as pq

    out_dir = str(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(src_dir):
        table = name.removesuffix(".parquet")
        if table in tables:
            pq.write_table(tables[table], os.path.join(out_dir, name))
        else:
            os.symlink(os.path.join(src_dir, name), os.path.join(out_dir, name))
    return out_dir
