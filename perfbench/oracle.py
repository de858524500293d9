"""Reference results computed without Spark: the CDC replay of a WAL and
the DuckDB run of a query's registry oracle, with the comparisons the
benchmark applies to the program's outputs."""

from __future__ import annotations

import math
import os
from decimal import Decimal

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

STATE_COLS = ["entity_id", "entity_bytes", "entity_type"]


def read_wal_dir(wal_dir: str) -> pa.Table:
    tables = [
        pq.read_table(os.path.join(wal_dir, name))
        for name in sorted(os.listdir(wal_dir))
        if name.endswith(".parquet")
    ]
    return pa.concat_tables(tables).replace_schema_metadata(None)


def replay(wal: pa.Table, initial: pa.Table | None = None) -> pd.DataFrame:
    """Final keyed state after applying `wal` to `initial` record by record
    in id order: the last op per entity_id wins, and a DELETE removes the
    key. Sorted by entity_id."""
    last = (
        wal.to_pandas()
        .sort_values("id", kind="stable")
        .drop_duplicates("entity_id", keep="last")
    )
    state = (
        initial.to_pandas()[STATE_COLS]
        if initial is not None
        else pd.DataFrame({c: pd.Series(dtype=object) for c in STATE_COLS})
    )
    kept = state[~state["entity_id"].isin(last["entity_id"])]
    upserts = last[last["operation"] != "DELETE"][STATE_COLS]
    out = pd.concat([kept, upserts], ignore_index=True)
    out["entity_id"] = out["entity_id"].astype("int64")
    return out.sort_values("entity_id", kind="stable").reset_index(drop=True)


def state_mismatch(expected: pd.DataFrame, actual: pd.DataFrame) -> str | None:
    """None when both states hold the same rows, else a short description."""
    actual = actual[STATE_COLS].sort_values("entity_id", kind="stable").reset_index(drop=True)
    if len(actual) != len(expected):
        return f"{len(actual)} rows in target, {len(expected)} in replay"
    if actual["entity_id"].duplicated().any():
        return "target holds duplicate entity_id rows"
    for col in STATE_COLS:
        diff = actual[col].map(_canon) != expected[col].map(_canon)
        if diff.any():
            i = int(diff.idxmax())
            return (
                f"{int(diff.sum())} rows differ in {col}; first at "
                f"entity_id={expected['entity_id'][i]}"
            )
    return None


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        return v.floor("us").isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if hasattr(v, "item"):  # numpy scalar
        return _canon(v.item())
    return str(v)


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(_canon(v) for v in row) for row in df[cols].itertuples(index=False))


def rows_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive exact comparison of two result sets."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    a, b = canonical_rows(got), canonical_rows(want)
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)} oracle rows"
    bad = [(x, y) for x, y in zip(a, b) if x != y]
    if bad:
        return f"{len(bad)} rows differ; first: {bad[0][0]} != {bad[0][1]}"
    return None


def duckdb_results(sf_dir: str, tables: list[str], sql: dict[str, str]) -> dict[str, pd.DataFrame]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {name: con.execute(q).fetchdf() for name, q in sql.items()}
    finally:
        con.close()
