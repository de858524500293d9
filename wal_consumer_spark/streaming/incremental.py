"""Incremental materialized-view (rollup) maintenance.

The reference applies each WAL record to a keyed target (WalConsumer.java:158-159
via the callback, WalEntityConsumerCallback.java:10-17); the analytic
generalization — maintaining a *grouped aggregate* of a stream instead of a
keyed copy — is the standard continuous-rollup pattern (TimescaleDB continuous
aggregates, Druid/Pinot rollup ingestion, Flink windowless group-agg state).

Design for 100 TB: the rollup state stores only MERGEABLE partial aggregates
(count, decimal sum, min, max — avg is derived sum/count at read time), so

- each micro-batch is first reduced with a map-side-combinable groupBy whose
  shuffle is bounded by |batch| (never |history|);
- the merge step unions batch partials with the persisted state and re-reduces:
  cost O(|state| + |batch|) per trigger, independent of stream length;
- history is never rescanned, and state size is |distinct groups|, not |rows|;
- partials are associative, so the same merge works across days/regions —
  the sketch-rollup pattern (see agg_hll_partial_merge) with exact algebra.

Persistence: ParquetRollupTarget commits each merged state through the
manifest swap the CDC target uses (streaming/versions.py), so disk holds
one state however long the stream runs.

Floating-point note: sums are carried as DECIMAL so the merge is exact and
associative regardless of batch boundaries — the incremental result is
bit-identical to a from-scratch groupBy (asserted by
tests/test_streaming_ext.py::test_incremental_rollup_stream_matches_batch
and by the rollup SIGKILL soak in tests/test_chaos_kill.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wal_consumer_spark.streaming.versions import VersionedState


class IncrementalRollup:
    """Maintains ``(group_cols, cnt, sum_<m>, min_<m>, max_<m>)`` for a
    measure column ``measure`` incrementally from append-only batches."""

    def __init__(
        self,
        group_cols: list[str],
        measure: str,
        decimal_type: str = "decimal(20,2)",
    ):
        self.group_cols = list(group_cols)
        self.measure = measure
        self.decimal_type = decimal_type

    # -- algebra -----------------------------------------------------------

    def partial(self, batch: DataFrame) -> DataFrame:
        """Reduce a raw batch to partial aggregates (map-side combinable)."""
        m = F.col(self.measure).cast(self.decimal_type)
        return batch.groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(m).alias("sum_m"),
            F.min(m).alias("min_m"),
            F.max(m).alias("max_m"),
        )

    def merge(self, state: DataFrame | None, partial: DataFrame) -> DataFrame:
        """Merge partial aggregates into the rollup state (associative)."""
        if state is None:
            both = partial
        else:
            both = state.unionByName(partial)
        return both.groupBy(*self.group_cols).agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_m").cast(self.decimal_type).alias("sum_m"),
            F.min("min_m").alias("min_m"),
            F.max("max_m").alias("max_m"),
        )

    def apply_batch(self, state: DataFrame | None, batch: DataFrame) -> DataFrame:
        return self.merge(state, self.partial(batch))

    def finish(self, state: DataFrame) -> DataFrame:
        """Read-time view: surface derived avg and doubles for consumers."""
        return state.select(
            *self.group_cols,
            F.col("cnt").alias("n"),
            F.col("sum_m").cast("double").alias("total"),
            (F.col("sum_m").cast("double") / F.col("cnt")).alias("mean"),
            F.col("min_m").cast("double").alias("lo"),
            F.col("max_m").cast("double").alias("hi"),
        )


class ParquetRollupTarget(VersionedState):
    """Versioned parquet persistence for the rollup state (production =
    Delta/Iceberg MERGE with the table format's atomic commit), on the one
    VersionedState protocol (streaming/versions.py).

    The manifest maps the one batch id the current state has absorbed to
    the version dir that holds it, so a restarted job resumes from the
    committed state instead of silently starting empty, and a replayed
    micro-batch (foreachBatch is at-least-once) is detected and skipped
    rather than double-merged: sum/count partials are NOT idempotent, unlike
    the CDC path's last-op-per-key apply (R10/R11). Each write supersedes
    the whole state, so gc() leaves one state dir on disk."""

    @property
    def last_batch_id(self) -> int:
        """The batch id the committed state has absorbed, -1 before the
        first commit."""
        return max(map(int, self._manifest()), default=-1)

    def read(self) -> DataFrame | None:
        """The committed state, None before the first commit. A committed
        version that cannot be read raises: falling back to an older state
        would drop batches the checkpoint has already committed."""
        manifest = self._manifest()
        if not manifest:
            return None
        (version,) = manifest.values()
        return self.spark.read.parquet(f"{self.path}/v{version}")

    def write(self, df: DataFrame, batch_id: int) -> None:
        version = self._next_version(self._manifest())
        df.write.mode("overwrite").parquet(f"{self.path}/v{version}")
        self._commit_manifest({str(batch_id): version})
        self.gc()


def merge_batch_into(
    rollup: IncrementalRollup,
    target: ParquetRollupTarget,
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    """The foreachBatch body: merge one micro-batch into the target unless
    its batch_id was already applied (at-least-once replay guard)."""
    if batch_id <= target.last_batch_id:
        return  # already merged; foreachBatch replays are at-least-once
    if batch_df.isEmpty():
        return
    target.write(rollup.apply_batch(target.read(), batch_df), batch_id)


def maintain_rollup_stream(
    spark: SparkSession,
    source_stream: DataFrame,
    rollup: IncrementalRollup,
    target: ParquetRollupTarget,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """writeStream.foreachBatch wrapper: per micro-batch, merge the batch's
    partial aggregates into the persisted rollup. Checkpoint-commit after a
    successful merge gives the same exactly-once-advance contract as the CDC
    consumer (R11); a replayed batch (same batch_id, whether from an
    intra-run retry or a restart from the checkpoint) is skipped via the
    batch id the manifest commits with each version, keeping the
    non-idempotent sum/count merge effectively exactly-once."""

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_batch_into(rollup, target, batch_df, batch_id)

    writer = source_stream.writeStream.foreachBatch(_merge_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
