"""Seeded input generators: WAL records and files, the open-loop trickle
generator process, and the star-schema tables of the query suite.

Everything here is a pure function of its seed; the program under test
only ever sees the files these functions write.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WAL_ARROW_SCHEMA = pa.schema(
    [
        pa.field("id", pa.int64(), nullable=False),
        pa.field("entity_id", pa.int64(), nullable=False),
        pa.field("operation", pa.string(), nullable=False),
        pa.field("entity_bytes", pa.binary()),
        pa.field("entity_type", pa.string()),
    ]
)
TARGET_ARROW_SCHEMA = pa.schema(
    [
        pa.field("entity_id", pa.int64()),
        pa.field("entity_bytes", pa.binary()),
        pa.field("entity_type", pa.string()),
    ]
)
OPS = np.array(["ADD", "UPDATE", "DELETE"], dtype=object)
ENTITY_TYPES = np.array(["order", "customer", "invoice"], dtype=object)


@dataclass(frozen=True)
class KeyMix:
    """How WAL keys are drawn: a `hot_share` of records hit a Zipf-hot
    set, the rest are uniform over `n_keys`."""

    n_keys: int
    hot_share: float = 0.5
    zipf_a: float = 1.3
    op_p: tuple[float, float, float] = (0.3, 0.6, 0.1)  # ADD, UPDATE, DELETE


def payload(ids: np.ndarray, version: str = "w") -> list[bytes]:
    """64-byte payload unique per WAL id, so a re-applied record is the
    only way a target row can already hold a batch's bytes."""
    return [f"{version}{i:015d}".encode() * 4 for i in ids.tolist()]


def wal_table(rng: np.random.Generator, first_id: int, n: int, mix: KeyMix) -> pa.Table:
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    hot = rng.random(n) < mix.hot_share
    # Zipf ranks scattered over the key space by a multiplicative hash, so
    # the hot keys do not all land in one target bucket.
    ranks = rng.zipf(mix.zipf_a, n).astype(np.int64) - 1
    hot_keys = (ranks * 2654435761) % mix.n_keys
    keys = np.where(hot, hot_keys, rng.integers(0, mix.n_keys, n))
    ops = OPS[rng.choice(3, size=n, p=mix.op_p)]
    types = ENTITY_TYPES[keys % len(ENTITY_TYPES)]
    return pa.table(
        [
            pa.array(ids, pa.int64()),
            pa.array(keys, pa.int64()),
            pa.array(ops, pa.string()),
            pa.array(payload(ids), pa.binary()),
            pa.array(types, pa.string()),
        ],
        schema=WAL_ARROW_SCHEMA,
    )


def seed_state(rng: np.random.Generator, n_rows: int, n_keys: int) -> pa.Table:
    """A uniformly keyed target state of `n_rows` distinct keys."""
    keys = np.sort(rng.choice(n_keys, size=n_rows, replace=False)).astype(np.int64)
    return pa.table(
        [
            pa.array(keys, pa.int64()),
            pa.array(payload(keys, "s"), pa.binary()),
            pa.array(ENTITY_TYPES[keys % len(ENTITY_TYPES)], pa.string()),
        ],
        schema=TARGET_ARROW_SCHEMA,
    )


def wal_name(seq: int) -> str:
    return f"wal-{seq:06d}.parquet"


def publish(table: pa.Table, stage_dir: str, wal_dir: str, name: str, due_ns: int) -> None:
    """Write a WAL file under `stage_dir`, stamped with its due time, then
    rename it into `wal_dir`: the file source never lists a partial file."""
    stamped = table.replace_schema_metadata({"due_ns": str(due_ns)})
    staged = os.path.join(stage_dir, name)
    pq.write_table(stamped, staged)
    os.replace(staged, os.path.join(wal_dir, name))


def wal_files(seed: int, first_seq: int, n_files: int, per_file: int, mix: KeyMix) -> list[pa.Table]:
    """The tables of files `first_seq .. first_seq+n_files-1`; ids are
    globally increasing with the file sequence number."""
    rng = np.random.default_rng([seed, first_seq])
    return [
        wal_table(rng, (first_seq + i) * per_file, per_file, mix)
        for i in range(n_files)
    ]


def trickle_process(argv: list[str]) -> None:
    """Open-loop generator, run as its own process (see `main`): file i is
    due at t0 + i * interval_s whatever the consumer is doing. Prints
    `ready` once its files are built, reads t0 (ns) from stdin, then prints
    one JSON list of (name, due_ns, published_ns, n_records) per file."""
    import json
    import sys

    a = json.loads(argv[0])
    mix = KeyMix(**{**a["mix"], "op_p": tuple(a["mix"]["op_p"])})
    tables = wal_files(a["seed"], a["first_seq"], a["n_files"], a["per_file"], mix)
    print("ready", flush=True)
    t0_ns = int(sys.stdin.readline())
    log = []
    for i, table in enumerate(tables):
        due_ns = t0_ns + round(i * a["interval_s"] * 1e9)
        delay = (due_ns - time.time_ns()) / 1e9
        if delay > 0:
            time.sleep(delay)
        name = wal_name(a["first_seq"] + i)
        publish(table, a["stage_dir"], a["wal_dir"], name, due_ns)
        log.append((name, due_ns, time.time_ns(), table.num_rows))
    print(json.dumps(log), flush=True)


# -- query-suite tables ------------------------------------------------------

_DAY_US = 86_400 * 1_000_000
_WORDS = np.array(
    "a the row key value table part hash scan join merge batch fast slow small "
    "big data query column window order line customer spark vector filter agg "
    "group sort index page".split(),
    dtype=object,
)


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-like tables at scale factor `sf` (lineitem = 6M * sf rows),
    with the column types and value domains the registered queries and
    their DuckDB oracles expect."""
    rng = np.random.default_rng([seed, 7])
    n_cust, n_ord, n_li = round(150_000 * sf), round(1_500_000 * sf), round(6_000_000 * sf)
    n_part, n_docs, n_events = round(200_000 * sf), round(50_000 * sf), round(1_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    seg = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"], dtype=object)
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pa.array(seg[rng.integers(0, 5, n_cust)], pa.string()),
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)], pa.string()),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)], pa.string()),
        }
    )
    part = rng.integers(0, n_part, n_li)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(part, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(1, round(10_000 * sf)), n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)], pa.string()),
            "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)[rng.integers(0, 2, n_li)], pa.string()),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    n_words = rng.integers(20, 90, n_docs)
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), k)]) for k in n_words.tolist()]
    langs = np.array(["en", "en", "en", "fr", "de", "es", "zh"], dtype=object)
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": pa.array(langs[rng.integers(0, len(langs), n_docs)], pa.string()),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    etype = np.array(["click", "signup", "error", "view", "purchase"], dtype=object)
    ts0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(np.sort(rng.integers(ts0, ts0 + 30 * _DAY_US, n_events)), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, round(15_000 * sf)), n_events), pa.int64()),
            "event_type": pa.array(etype[rng.integers(0, 5, n_events)], pa.string()),
            "value": _money(rng, n_events, 0.01, 490.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events).tolist()],
        }
    )
    return t


def write_star(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


if __name__ == "__main__":
    import sys

    trickle_process(sys.argv[1:])
