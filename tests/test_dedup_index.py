"""Incremental MinHash-LSH dedup index (streaming/dedup_index.py): per-batch
outputs union to exactly the one-shot batch computation, replays are
append-free and output-identical, and the real streaming wiring detects
cross-batch duplicates as their later member arrives."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from wal_consumer_spark.operators.dedup import (
    minhash_candidates,
    minhash_jaccard_estimate,
    minhash_signature,
)
from wal_consumer_spark.streaming.dedup_index import StreamingMinHashIndex

_W = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor"
).split()


def _doc(i: int, tweak: str | None = None) -> str:
    # ~24-token deterministic word soup; near-dups share all but one token
    words = [_W[(i * 7 + j * 3) % len(_W)] for j in range(24)]
    if tweak is not None:
        words[-1] = tweak
    return " ".join(words)


#: three batches; near-dup pairs: (1,7) cross-batch, (5,6) within-batch,
#: (2,11) cross-batch, the rest unrelated
_BATCHES = [
    [(1, _doc(1)), (2, _doc(2)), (3, _doc(3)), (4, _doc(4))],
    [(5, _doc(5)), (6, _doc(5, "zulu")), (7, _doc(1, "yankee")), (8, _doc(8))],
    [(9, _doc(9)), (10, _doc(10)), (11, _doc(2, "xray")), (12, _doc(12))],
]
_EXPECTED = {(1, 7), (5, 6), (2, 11)}


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def _batch_mode_pairs(spark):
    """One-shot computation over the full corpus — the equivalence oracle."""
    full = _df(spark, [r for b in _BATCHES for r in b])
    sigs = minhash_signature(full, "doc_id", "text")
    cand = minhash_candidates(sigs)
    est = minhash_jaccard_estimate(sigs, cand).filter(F.col("est_jaccard") >= 0.5)
    return {(r.doc1, r.doc2) for r in est.collect()}


def test_incremental_equals_batch_mode(spark, tmp_path):
    idx = StreamingMinHashIndex(spark, str(tmp_path / "idx"), threshold=0.5)
    got = set()
    for bid, rows in enumerate(_BATCHES):
        got |= {
            (r.doc1, r.doc2)
            for r in idx.process_batch(_df(spark, rows), bid).collect()
        }
    assert got == _batch_mode_pairs(spark)
    assert _EXPECTED <= got


def test_replay_is_append_free_and_output_identical(spark, tmp_path):
    idx = StreamingMinHashIndex(spark, str(tmp_path / "idx"), threshold=0.5)
    outs = []
    for bid, rows in enumerate(_BATCHES[:2]):
        outs.append(
            {(r.doc1, r.doc2) for r in idx.process_batch(_df(spark, rows), bid).collect()}
        )
    size_before = idx.index_size()
    replay = {
        (r.doc1, r.doc2)
        for r in idx.process_batch(_df(spark, _BATCHES[1]), 1).collect()
    }
    assert replay == outs[1]
    assert idx.index_size() == size_before


def test_streaming_wiring_detects_cross_batch_dups(spark, tmp_path):
    docs_dir = str(tmp_path / "docs")
    for bid, rows in enumerate(_BATCHES):
        _df(spark, rows).coalesce(1).write.mode("append").parquet(docs_dir)
        time.sleep(1.1)  # distinct mod times -> stable oldest-first order

    idx = StreamingMinHashIndex(spark, str(tmp_path / "idx"), threshold=0.5)
    found: set[tuple[int, int]] = set()

    def _apply(batch_df, batch_id):
        found.update(
            (r.doc1, r.doc2)
            for r in idx.process_batch(batch_df, batch_id).collect()
        )

    q = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert found == _batch_mode_pairs(spark)
    assert _EXPECTED <= found


def test_soak_20_batches_crash_resume_equals_batch_at_every_commit(spark, tmp_path):
    """VERDICT r5 'Next round' #7 — the remaining untested corner of the
    incremental-dedup contract: a long-running stream (20 micro-batches
    through real checkpointed wiring), a crash mid-stream AFTER the
    index side-effect but BEFORE the commit (the worst replay window),
    a resume from the same checkpoint, and the strongest invariant: at
    EVERY commit point the cumulative pair set equals the one-shot batch
    MinHash computation over exactly the documents processed so far."""
    import os

    n_batches, per_batch = 20, 3
    batches = []
    for b in range(n_batches):
        rows = []
        for j in range(per_batch):
            i = b * per_batch + j
            if b >= 3 and j == 0:
                # plant a cross-batch near-dup of a doc three batches back
                victim = (b - 3) * per_batch + 1
                rows.append((100 * b + j, _doc(victim, f"tw{b}")))
            else:
                rows.append((100 * b + j, _doc(i)))
        batches.append(rows)

    docs_dir = str(tmp_path / "docs")
    for bid, rows in enumerate(batches):
        # one file per batch; every assertion below is order-independent
        # (the oracle recomputes over exactly the docs processed so far),
        # so mtime ties across 20 files cannot flake the test
        _df(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            f"{docs_dir}/f{bid:03d}"
        )

    idx = StreamingMinHashIndex(spark, str(tmp_path / "idx"), threshold=0.5)
    found: set[tuple[int, int]] = set()
    processed: list[tuple[int, int]] = []  # (doc_id, content key) per doc
    snapshots: list[tuple[frozenset, tuple]] = []  # per commit point
    crashed = {"done": False}

    def _apply(batch_df, batch_id):
        rows = [(r.doc_id, r.text) for r in batch_df.collect()]
        found.update(
            (r.doc1, r.doc2)
            for r in idx.process_batch(batch_df, batch_id).collect()
        )
        if not crashed["done"] and len(snapshots) == 7:
            # crash AFTER the index append + detection, BEFORE the
            # checkpoint commit: the resume must replay this batch_id,
            # skip the append (no double-indexing), and emit the same
            # pairs — found is a set, so replay idempotence is observable
            # via the per-commit oracle equality below
            crashed["done"] = True
            raise RuntimeError("injected mid-stream crash")
        processed.extend(rows)
        snapshots.append((frozenset(found), tuple(processed)))

    def _run():
        return (
            spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{docs_dir}/f*")
            .writeStream.foreachBatch(_apply)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = _run()
    try:
        q.awaitTermination(180)
    except Exception:
        pass  # the injected crash surfaces here
    assert crashed["done"], "crash batch never ran"
    q2 = _run()  # resume from the same checkpoint
    assert q2.awaitTermination(300)

    assert len(snapshots) >= n_batches  # crash batch replayed => >= 20 commits
    assert len(processed) == n_batches * per_batch  # every doc exactly once

    # the strongest contract: commit-by-commit equality with batch mode
    for k, (pairs, docs_so_far) in enumerate(snapshots):
        corpus = _df(spark, list(docs_so_far))
        sigs = minhash_signature(corpus, "doc_id", "text")
        cand = minhash_candidates(sigs)
        oracle = {
            (r.doc1, r.doc2)
            for r in minhash_jaccard_estimate(sigs, cand)
            .filter(F.col("est_jaccard") >= 0.5)
            .collect()
        }
        assert pairs == oracle, f"commit point {k}: {pairs ^ oracle}"

    # non-vacuity: the planted cross-batch near-dups were all detected
    planted = {
        (min(100 * b, 100 * (b - 3) + 1), max(100 * b, 100 * (b - 3) + 1))
        for b in range(3, n_batches)
    }
    assert planted <= found


def test_partial_bucket_write_is_retried_not_skipped(spark, tmp_path):
    """Crash window: a version dir lands before the manifest commits it, so
    a batch counts as indexed only once the manifest names it. A partial
    ``v<n>/`` from a crashed attempt has to be rewritten, or the batch's
    band-bucket rows stay incomplete forever and its near-dup pairs are
    never found."""
    import os

    idx = StreamingMinHashIndex(spark, str(tmp_path / "idx"), threshold=0.5)
    idx.process_batch(_df(spark, _BATCHES[0]), 0).collect()
    assert idx._manifest() == {"0": 1}

    # simulate a crash mid-write of batch 1's buckets: its signatures and a
    # torn bucket file landed in v2, but the manifest never committed it
    partial = f"{idx.path}/v2/buckets"
    os.makedirs(partial)
    with open(f"{partial}/part-garbage.parquet", "wb") as f:
        f.write(b"not parquet")

    got = {
        (r.doc1, r.doc2)
        for r in idx.process_batch(_df(spark, _BATCHES[1]), 1).collect()
    }
    assert (1, 7) in got and (5, 6) in got  # batch 1's pairs fully detected
    assert idx._manifest() == {"0": 1, "1": 2}  # rewrite actually committed
    assert not os.path.exists(f"{partial}/part-garbage.parquet")
