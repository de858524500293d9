"""Incrementally-maintained MinHash-LSH dedup index: new documents dedupe
against the ENTIRE accumulated corpus without recomputing its signatures.

The batch dedup operators (operators/dedup.py) recompute signatures and
bucket self-joins over the whole corpus — right for one-shot curation,
wrong for a feed of new documents. This module keeps the LSH state
(signatures + band buckets) as one version dir per batch, committed through
the manifest swap the CDC target uses (streaming/versions.py). Per
micro-batch:

1. signatures + band buckets are computed for the batch only (map-side),
   written as the next ``v<n>/sigs`` and ``v<n>/buckets``, and committed as
   ``batch_id -> n``. A replay of a committed batch_id skips the write (the
   at-least-once discipline of the CDC path, R10/R11) and returns the same
   pairs (the join is deterministic);
2. the batch's buckets equi-join every live version's buckets, after the
   skew cap below;
3. candidates are verified by signature agreement (estimated Jaccard).

Cost: signatures are computed once per document, but each batch re-reads
every live bucket and signature dir and computes the skew-cap window over
the whole bucket table, so a batch's cost grows with the index (500-doc
batches on 4 cores: 1.3 s at 10k indexed docs, 2.3 s at 40k).

Detection semantics: a near-dup pair is reported by the batch that
completes it (its later member's batch). The union of per-batch outputs
equals the one-shot batch computation over the full corpus (asserted in
tests/test_dedup_index.py). The `max_bucket` skew cap is evaluated at
detection time against the index as of that batch.

Reference parity note: the reference (sahabpardaz/wal-consumer) has no
dedup at all — this is extension surface (SURVEY.md §2.B), built on the
same incremental, checkpoint-replay-safe discipline as its consumer
(WalConsumer.java:127-182).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wal_consumer_spark.operators.dedup import (
    lsh_band_key,
    minhash_jaccard_estimate,
    minhash_signature,
)
from wal_consumer_spark.streaming.versions import VersionedState

_SIG_SCHEMA = "doc LONG, sig ARRAY<LONG>"
_BUCKET_SCHEMA = "doc LONG, band INT, bucket LONG"


def minhash_buckets(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc, band, bucket) rows via the shared band-bucket key
    (operators/dedup.py::lsh_band_key — single source of truth, so the
    index stays bit-identical to the batch dedup path)."""
    return sigs.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: lsh_band_key(b, rows_per_band),
            )
        ).alias("band", "bucket"),
    )


class StreamingMinHashIndex(VersionedState):
    """The foreachBatch-side state machine. Wire into a stream with

        index = StreamingMinHashIndex(spark, path)
        stream.writeStream.foreachBatch(
            lambda df, bid: sink(index.process_batch(df, bid))
        )
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_perm: int = 32,
        bands: int = 4,
        rows_per_band: int = 8,
        k: int = 3,
        seed: int = 7,
        threshold: float = 0.5,
        max_bucket: int = 500,
    ):
        super().__init__(spark, path)
        self.num_perm = num_perm
        self.bands = bands
        self.rows_per_band = rows_per_band
        self.k = k
        self.seed = seed
        self.threshold = threshold
        self.max_bucket = max_bucket

    def _read(self, versions: list[int], sub: str, schema: str) -> DataFrame:
        """`sub` ("sigs" or "buckets") of the version dirs `versions`."""
        if not versions:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *(f"{self.path}/v{v}/{sub}" for v in versions)
        )

    def index_size(self) -> int:
        """Number of (doc, band) rows currently indexed."""
        return self._read(sorted(self._manifest().values()), "buckets", _BUCKET_SCHEMA).count()

    def process_batch(
        self,
        batch_df: DataFrame,
        batch_id: int,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> DataFrame:
        """Index the batch and return its near-dup pairs (doc1 < doc2,
        est_jaccard >= threshold) against everything indexed so far,
        including within-batch pairs."""
        manifest = self._manifest()
        if str(batch_id) not in manifest:
            # buckets are derived from the PERSISTED signatures, so the
            # signature pipeline runs once per batch and the bucket rows
            # provably match the stored signatures
            version = self._next_version(manifest)
            vdir = f"{self.path}/v{version}"
            minhash_signature(
                batch_df, id_col, text_col, num_perm=self.num_perm, k=self.k,
                seed=self.seed,
            ).write.mode("overwrite").parquet(f"{vdir}/sigs")
            minhash_buckets(
                self._read([version], "sigs", _SIG_SCHEMA), self.bands, self.rows_per_band
            ).write.mode("overwrite").parquet(f"{vdir}/buckets")
            manifest[str(batch_id)] = version
            self._commit_manifest(manifest)
            self.gc()

        live = sorted(manifest.values())
        hist_b = self._read(live, "buckets", _BUCKET_SCHEMA)
        # skew cap at detection time: over-full buckets carry no signal
        hist_b = (
            hist_b.withColumn(
                "__n", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
            )
            .filter(F.col("__n") <= self.max_bucket)
            .drop("__n")
        )
        batch_b = self._read([manifest[str(batch_id)]], "buckets", _BUCKET_SCHEMA)
        cand = (
            batch_b.select(F.col("doc").alias("__new"), "band", "bucket")
            .join(hist_b.select(F.col("doc").alias("__old"), "band", "bucket"),
                  ["band", "bucket"])
            .filter(F.col("__old") != F.col("__new"))
            .select(
                F.least("__old", "__new").alias("doc1"),
                F.greatest("__old", "__new").alias("doc2"),
            )
            .distinct()
        )
        all_sigs = self._read(live, "sigs", _SIG_SCHEMA)
        return minhash_jaccard_estimate(all_sigs, cand).filter(
            F.col("est_jaccard") >= self.threshold
        )
