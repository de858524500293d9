"""Batch CDC apply: the reference's consume loop semantics as set operations.

Reference semantics (SURVEY.md §2.A R5-R11): drain WAL records in `id` order,
applying ADD/UPDATE/DELETE per `entity_id` to a keyed target, at-least-once
with idempotent replay. Per SURVEY.md §4.3 the engine guarantees
**per-entity_id order** — ops on different keys commute — so a batch of WAL
records reduces to the last op per key (by `id`) and applies as one MERGE:

- WHEN MATCHED AND op = DELETE  -> delete      (WalConsumerTest.java:114-116)
- WHEN MATCHED AND op != DELETE -> update      (WalConsumerTest.java:121-124)
- WHEN NOT MATCHED AND op != DELETE -> insert  (WalConsumerTest.java:117-120)

Expressed Spark-first as one window per `entity_id` over the batch's
records and the target's rows (`merge_cdc`, no row-at-a-time loop): the
batch's last op wins over the target row, and the same window carries the
target's old payload, so the R10 already-done count (WalConsumer.java:
271-278) is a flag on the winning row, not a second join. The streaming
consumer, the type router and the batch plans all apply through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wal_consumer_spark.schema import Operation

TARGET_COLS = ("entity_id", "entity_bytes", "entity_type")


def last_op_per_key(
    wal_df: DataFrame, key: str = "entity_id", order: str = "id"
) -> DataFrame:
    """Reduce a WAL batch to the latest operation per key (by WAL id).

    This is the per-key equivalent of the reference's sequential head
    processing (WalConsumer.java:157-165): applying ops k1..kn in id order
    leaves the state of key k equal to the effect of k's last op alone.
    """
    w = Window.partitionBy(key).orderBy(F.col(order).desc())
    return (
        wal_df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_cdc(target: DataFrame, wal_batch: DataFrame) -> DataFrame:
    """R6-R8 and R10 as one window over the batch's records and the target:
    per `entity_id`, the winning row is the batch's last op by `id`, or the
    target row when the batch does not hold the key (its `id` and
    `operation` are then NULL). Each winner carries two flags:
    `__from_batch` (the batch holds the key) and `__already_done` (a
    winning upsert whose payload the target already holds: it was applied
    before a replay). Winning DELETEs stay in; drop_deletes removes them."""
    rows = wal_batch.withColumn("__from_batch", F.lit(True)).unionByName(
        target.withColumn("__from_batch", F.lit(False)), allowMissingColumns=True
    )
    w = Window.partitionBy("entity_id").orderBy(
        F.col("__from_batch").desc(), F.col("id").desc()
    )
    old = F.max(F.when(~F.col("__from_batch"), F.col("entity_bytes"))).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        rows.withColumns({"__rn": F.row_number().over(w), "__old": old})
        .filter(F.col("__rn") == 1)
        .withColumn(
            "__already_done",
            F.col("__from_batch")
            & (F.col("operation") != Operation.DELETE)
            & F.coalesce(F.col("entity_bytes") == F.col("__old"), F.lit(False)),
        )
        .drop("__rn", "__old")
    )


def drop_deletes(merged: DataFrame) -> DataFrame:
    """The target state a merge_cdc result leaves: every winner but the
    DELETEs, as target rows."""
    return merged.filter(~F.col("operation").eqNullSafe(Operation.DELETE)).select(*TARGET_COLS)


def apply_cdc_batch(target: DataFrame, wal_batch: DataFrame) -> DataFrame:
    """Apply a WAL batch to the keyed target; returns the new target state."""
    return drop_deletes(merge_cdc(target, wal_batch))
