"""Batch CDC apply vs an in-memory dict oracle — the reference's test
strategy (SURVEY.md §5: WalConsumerTest.java keeps a Map<Long,String> model
and asserts ADD inserts absent keys / UPDATE overwrites / DELETE removes,
WalConsumerTest.java:113-127)."""

from __future__ import annotations

from pyspark.sql import functions as F

from wal_consumer_spark.operators.cdc import (
    apply_cdc_batch,
    last_op_per_key,
    merge_cdc,
)

WAL_COLS = "id LONG, entity_id LONG, operation STRING, entity_bytes BINARY, entity_type STRING"


def _wal(spark, records):
    rows = [(i, k, op, v.encode() if v is not None else None, "TestEntity")
            for i, (k, op, v) in enumerate(records, start=1)]
    return spark.createDataFrame(rows, WAL_COLS)


def _dict_oracle(records):
    model = {}
    for k, op, v in records:
        if op == "ADD":
            assert k not in model  # WalConsumerTest.java:118
            model[k] = v
        elif op == "UPDATE":
            assert k in model  # WalConsumerTest.java:122
            model[k] = v
        elif op == "DELETE":
            model.pop(k, None)  # WalConsumerTest.java:114-115
    return model


SCENARIO = [
    (1, "ADD", "a1"),
    (2, "ADD", "b1"),
    (1, "UPDATE", "a2"),
    (3, "ADD", "c1"),
    (2, "DELETE", None),
    (3, "UPDATE", "c2"),
    (4, "ADD", "d1"),
    (4, "DELETE", None),
    (4, "ADD", "d2"),
]


def _target_as_dict(df):
    return {
        r.entity_id: bytes(r.entity_bytes).decode() if r.entity_bytes else None
        for r in df.collect()
    }


def test_apply_matches_dict_oracle(spark):
    empty = spark.createDataFrame([], "entity_id LONG, entity_bytes BINARY, entity_type STRING")
    final = apply_cdc_batch(empty, _wal(spark, SCENARIO))
    assert _target_as_dict(final) == _dict_oracle(SCENARIO)


def test_incremental_equals_one_shot(spark):
    """Splitting the WAL into micro-batches must converge to the same state
    as one big batch (checkpointed advance = R11 exactly-once semantics)."""
    empty = spark.createDataFrame([], "entity_id LONG, entity_bytes BINARY, entity_type STRING")
    one_shot = apply_cdc_batch(empty, _wal(spark, SCENARIO))
    state = empty
    for lo, hi in [(0, 3), (3, 6), (6, 9)]:
        batch = _wal(spark, SCENARIO).filter((F.col("id") > lo) & (F.col("id") <= hi))
        state = apply_cdc_batch(state, batch)
    assert _target_as_dict(state) == _target_as_dict(one_shot)


def test_replay_is_idempotent_and_counted(spark):
    """Replaying an applied batch changes nothing and every upsert is
    reported already-done (R10, WalConsumer.java:271-278)."""
    empty = spark.createDataFrame([], "entity_id LONG, entity_bytes BINARY, entity_type STRING")
    wal = _wal(spark, SCENARIO)
    applied = apply_cdc_batch(empty, wal)
    replayed = apply_cdc_batch(applied, wal)
    assert _target_as_dict(replayed) == _target_as_dict(applied)
    last = last_op_per_key(wal)
    n_upsert_keys = last.filter(F.col("operation") != "DELETE").count()
    merged = merge_cdc(applied, wal)
    assert merged.filter("__already_done").count() == n_upsert_keys
    assert merged.filter("__from_batch").count() == last.count()


def test_last_op_reduction(spark):
    last = {r.entity_id: r.operation for r in last_op_per_key(_wal(spark, SCENARIO)).collect()}
    assert last == {1: "UPDATE", 2: "DELETE", 3: "UPDATE", 4: "ADD"}


def test_gap_audit_is_non_degenerate(spark):
    """dq_sequence_gap_audit must return gaps on the shipped testdata —
    an empty result would make the parity check vacuous (any inverted
    filter or off-by-one would pass unnoticed)."""
    from tests.conftest import SF_ORACLE
    from wal_consumer_spark.plans import all_specs

    rows = all_specs()["dq_sequence_gap_audit"].spark(spark, SF_ORACLE).collect()
    assert rows, "gap audit found no gaps — audited sequence is dense, check is vacuous"
    for r in rows:
        assert r.n_missing == r.next_present - r.gap_after - 1
        assert r.n_missing >= 1
