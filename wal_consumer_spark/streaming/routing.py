"""Multi-entity-type WAL routing.

The reference binds one WAL table per entity subclass (`TestWalEntity.java:6-8`
`@Table(name = "test_wal")`; `entity_type` defaults to the subclass simple
name, `WalEntity.java:41-46`), so one consumer serves one type. A shared WAL
table carrying several types is the natural scale deployment (one ordered log,
many materialized targets); this module routes a micro-batch to per-type
targets with the same per-key ordering and merge semantics.

Correctness note: in a shared WAL, `entity_id` is only unique *within* a
type, so the last-op reduction must key on (entity_type, entity_id) — done
here by applying each type's sub-batch on its own, through the consumer's
apply (streaming/consumer.py:apply_to_target, the operators.cdc.merge_cdc
window). One grouped aggregate over the batch yields each type and the
buckets its keys touch; the per-type loop is driver-side but bounded by the
number of entity *classes* (a handful), never by data volume, and each
iteration is one distributed filter+merge+write, followed by the type's
gc() of the versions its manifest no longer references.

Each type's state is a BucketedParquetKeyValueTarget under
`base_path/<entity_type>`: manifest-committed on disk, so it is safe across
restarts — a router built by a restarted process sees every type and merges
into the committed state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wal_consumer_spark.streaming.consumer import BucketedParquetKeyValueTarget, apply_to_target


class TypeRoutedTarget:
    """Fan-out sink: one manifest-committed bucketed target per entity_type.
    The router keeps no per-type state of its own — the on-disk manifests
    are the state — so it is safe across restarts: a fresh router on the
    same base path lists every committed type and merges into it."""

    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base_path = base_path

    def target_for(self, entity_type: str) -> BucketedParquetKeyValueTarget:
        return BucketedParquetKeyValueTarget(self.spark, f"{self.base_path}/{entity_type}")

    def types(self) -> list[str]:
        """The entity types with committed state: type dirs holding a manifest."""
        try:
            names = os.listdir(self.base_path)
        except FileNotFoundError:
            return []
        return sorted(n for n in names if os.path.isfile(self.target_for(n)._manifest_path()))

    def apply_batch(self, wal_batch: DataFrame) -> None:
        """Apply one WAL micro-batch, routed by entity_type: one aggregate
        collects each type's touched buckets (every type's target has the
        default n_buckets, so one bucket expression serves all), then each
        type's sub-batch is applied to its target and the target's dead
        versions are swept."""
        bucket = BucketedParquetKeyValueTarget(self.spark, self.base_path).bucket_expr()
        touched = wal_batch.groupBy("entity_type").agg(F.collect_set(bucket)).collect()
        for etype, buckets in touched:
            tgt = self.target_for(etype)
            apply_to_target(tgt, wal_batch.filter(F.col("entity_type") == etype), sorted(buckets))
            tgt.gc()
