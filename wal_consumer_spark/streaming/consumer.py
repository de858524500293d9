"""WalStreamConsumer: the reference's consume loop (WalConsumer.java:127-182)
re-expressed on Structured Streaming. Semantic mapping (SURVEY.md §2.A):

- R1  source           -> readStream over an append-only parquet WAL dir
- R2-R4 head lock/race -> replaced by checkpoint exclusivity: Spark allows
                          one active query per checkpoint dir, so mutual
                          exclusion needs no row lock (README.md:40-43's HA
                          claim maps to restart supervision)
- R5  callback         -> foreachBatch(apply); the callback receives the
                          per-key-reduced batch and applies it to the target
- R6-R8 ADD/UPDATE/DELETE -> apply_cdc_batch merge semantics as one window
      per `entity_id` over the batch's records and the target slice: the
      batch's last op by `id` wins over the target row, and a winning
      DELETE drops the key. BucketedParquetKeyValueTarget, the one keyed
      target, rewrites only the buckets the batch touches, commits a
      manifest, and its dead versions are swept after each batch
- R9  retry forever on IO failure (WalConsumer.java:259-269) -> retry loop
      inside foreachBatch with `sleep_on_io_failure` between attempts; an
      AnalysisException (a schema or plan bug) fails the batch at once
- R10 idempotent-skip accounting (WalConsumer.java:271-278) -> the merge
      window also carries each key's pre-apply target payload; an
      Observation on the written plan counts the winning upserts whose
      payload is already present, and the batch's keys
- R11 exactly-once advance (WalHeadHandle.java:29-42) -> the batch commits
      to the checkpoint only after foreachBatch returns; a failure replays
      the whole batch (at-least-once, idempotent by R10); the target commits
      its own manifest last, so a replay re-applies against the old state
- R12 empty-poll sleep (WalConsumer.java:150-154) -> processingTime trigger
- R13 source-failure backoff (WalConsumer.java:136-142) -> start_supervised:
      query termination with an exception flips the state gauge to
      INACCESSIBLE_IO_FAILURE and the supervisor restarts the query against
      the same checkpoint after `sleep_on_io_failure`, forever (bounded only
      if max_restarts is set)
- R14/R15 metrics -> ConsumerMetrics + WalQueryListener
- R16 start/close (WalConsumer.java:127-182, 299-317) -> query.start/stop
      with listener deregistration

Ordering (SURVEY.md §4.3): per-`entity_id` order is guaranteed — each batch
reduces to the last op per key by `id`, and files are consumed oldest-first
so later batches only carry larger ids.

Spark actions per micro-batch: two. One aggregate over the raw batch (max
`id`, touched buckets) and the target write, which reduces, merges and
counts in the same plan; a user callback's reduced batch costs its own.
A retried write takes a fresh Observation, because one serves a single
action. The target slice is one scan over the flat version dirs its
buckets point to, so Spark's parallel file listing job appears only once
those dirs number more than
`spark.sql.sources.parallelPartitionDiscovery.threshold` (32) distinct
live versions. Nothing is cached: a cached plan keeps its
`spark.sql.shuffle.partitions` output partitioning, which AQE cannot
coalesce, so every later job would run that many tasks; the write
re-scans the batch's few WAL files instead.
"""

from __future__ import annotations

import time
import warnings
from collections.abc import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from wal_consumer_spark.operators.cdc import TARGET_COLS, last_op_per_key
from wal_consumer_spark.schema import Operation
from wal_consumer_spark.sources.wal_source import read_wal_stream
from wal_consumer_spark.streaming.metrics import ConsumerMetrics, WalQueryListener, WalState

TARGET_SCHEMA = "entity_id LONG, entity_bytes BINARY, entity_type STRING"
#: a target version's files: the target columns plus the row's bucket and version
STORED_SCHEMA = f"{TARGET_SCHEMA}, __bucket INT, __version INT"

#: row source tags of the merge window: a batch record outranks the target row
_BATCH, _TARGET = 1, 0

#: consumers with a live query, for fail-fast checkpoint exclusivity (R2-R4)
_ACTIVE_CONSUMERS: set["WalStreamConsumer"] = set()


def _pid_alive(pid: int) -> bool:
    import os

    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _window_merge(batch: DataFrame, current: DataFrame) -> DataFrame:
    """R6-R8 as one window over the batch's records and the target slice:
    per `entity_id`, the winning row is the batch's last op by `id`, or the
    target row when the batch does not hold the key. `__src` tags each
    row's source and `__old` carries the target row's payload (NULL when
    the target lacks the key). The caller drops winning DELETEs."""
    rows = batch.withColumn("__src", F.lit(_BATCH)).unionByName(
        current.withColumn("__src", F.lit(_TARGET)), allowMissingColumns=True
    )
    w = Window.partitionBy("entity_id").orderBy(F.col("__src").desc(), F.col("id").desc())
    old = F.max(F.when(F.col("__src") == _TARGET, F.col("entity_bytes")))
    return (
        rows.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "__old",
            old.over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)),
        )
        .filter(F.col("__rn") == 1)
    )


class BucketedParquetKeyValueTarget:
    """Incremental keyed sink: state is hash-bucketed by entity_id, and a
    micro-batch reads and rewrites ONLY the buckets its keys fall in —
    O(|touched buckets|) per trigger instead of O(|state|), the difference
    between a viable and a hopeless streaming path once target state
    reaches TB scale (VERDICT.md r1, "What's wrong" #4).

    Production deployments swap it for a transactional MERGE sink
    (Delta/Iceberg `MERGE INTO`) — same apply_cdc_batch semantics, but the
    manifest swap becomes the table format's atomic commit.

    Commit protocol on plain parquet (no table format available):

    - each write lands every touched bucket in a fresh, flat version dir
      ``v<n>/``, never mutating prior versions. Rows carry two stored
      columns besides the target's: ``__bucket`` (the row's bucket) and
      ``__version`` (n). The write is rebalanced on ``__bucket`` and sorted
      on it within each file, so a version holds a few size-bounded files
      (one writer per output partition, not one per bucket) and each file
      holds whole buckets with tight row-group min/max on ``__bucket``;
    - a manifest (bucket -> version) is swapped in atomically LAST
      (os.replace), so a crash mid-write leaves the previous manifest — and
      thus the previous consistent state — intact, mirroring the atomic
      delete+commit of the reference head handle (WalHeadHandle.java:29-42);
    - replays re-apply against the old manifest: same input + same state ->
      same output, so the at-least-once foreachBatch contract stays
      idempotent (R10/R11).

    A read is one scan over the distinct version dirs its buckets point to,
    filtered on ``__bucket IN (buckets)`` and ``manifest[__bucket] ==
    __version``. The second conjunct drops the rows of a bucket that a later
    version superseded but an older dir, still live for other buckets,
    holds. The first is pushed down to parquet, so the rows a read decodes
    are bounded by row-group and page pruning on the sorted ``__bucket``,
    not by the size of the dirs it opens. A version dir no manifest entry
    references any more is removed by gc(), which the consumer runs after
    each committed batch."""

    def __init__(self, spark: SparkSession, path: str, n_buckets: int = 64):
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets

    # -- manifest ----------------------------------------------------------

    def _manifest_path(self) -> str:
        return f"{self.path}/_MANIFEST.json"

    def _manifest(self) -> dict[str, int]:
        """The committed bucket -> version map; empty only when no manifest
        was ever committed. An unreadable manifest raises: read as empty,
        the next commit would drop every bucket the batch did not touch."""
        import json

        path = self._manifest_path()
        try:
            with open(path, encoding="utf-8") as f:
                text = f.read()
        except FileNotFoundError:
            return {}
        try:
            return {k: int(v) for k, v in json.loads(text).items()}
        except (ValueError, TypeError, AttributeError) as e:
            raise ValueError(f"unreadable target manifest {path}: {e}") from e

    def _commit_manifest(self, manifest: dict[str, int]) -> None:
        import json
        import os

        os.makedirs(self.path, exist_ok=True)
        tmp = f"{self._manifest_path()}.tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path())  # the atomic commit point

    # -- bucketing ---------------------------------------------------------

    def bucket_expr(self) -> Column:
        return F.pmod(F.hash("entity_id"), F.lit(self.n_buckets))

    def _bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("__bucket", self.bucket_expr())

    def _read_buckets(self, manifest: dict[str, int], buckets: list[int]) -> DataFrame:
        live = {b: manifest[str(b)] for b in buckets if str(b) in manifest}
        if not live:
            return self.spark.createDataFrame([], TARGET_SCHEMA)
        paths = [f"{self.path}/v{v}" for v in sorted(set(live.values()))]
        # one SQL string, not a py4j call per literal
        buckets_in = ", ".join(map(str, live))
        version_of = ", ".join(f"{b}, {v}" for b, v in live.items())
        return (
            self.spark.read.schema(STORED_SCHEMA)
            .parquet(*paths)
            .filter(
                F.expr(f"__bucket IN ({buckets_in}) AND map({version_of})[__bucket] = __version")
            )
            .select(*TARGET_COLS)
        )

    # -- target API --------------------------------------------------------

    def read(self) -> DataFrame:
        manifest = self._manifest()
        return self._read_buckets(manifest, [int(b) for b in manifest])

    def read_for(self, batch: DataFrame, touched: list[int] | None = None) -> DataFrame:
        """Only the buckets the batch's keys hash into: the collect is
        bounded by n_buckets, the scan covers only the version dirs those
        buckets point to, and the pushed-down bucket filter skips the other
        buckets' row groups. Pass
        `touched` (from touched_buckets) to reuse an already-computed bucket
        list — the consumer computes it once per micro-batch for both the
        read and the write."""
        if touched is None:
            touched = self.touched_buckets(batch)
        return self._read_buckets(self._manifest(), touched)

    def touched_buckets(self, batch: DataFrame) -> list[int]:
        rows = (
            self._bucket(batch.select("entity_id"))
            .select("__bucket")
            .distinct()
            .collect()
        )
        return sorted(r["__bucket"] for r in rows)

    def write_for(
        self,
        new_state: DataFrame,
        batch: DataFrame,
        touched: list[int] | None = None,
    ) -> None:
        """Persist the post-apply state of the batch's buckets as a new
        version, then commit the manifest. `new_state` must be the full new
        content of exactly those buckets (which apply_cdc_batch over
        read_for's slice produces, as does the consumer's window merge)."""
        manifest = self._manifest()
        if touched is None:
            touched = self.touched_buckets(batch)
        version = self._write_version(new_state, manifest)
        for b in touched:
            manifest[str(b)] = version
        self._commit_manifest(manifest)

    def _write_version(self, df: DataFrame, manifest: dict[str, int]) -> int:
        """The single write protocol for both the incremental and the
        compaction path: land `df`, tagged with each row's bucket and the
        version, in the next flat version dir. Overwrite, not append: the
        dir is invisible until the caller's manifest commit, and a
        foreachBatch REPLAY of a crash that landed files but never committed
        recomputes the same version number — append would double every row
        of the first attempt."""
        version = max(manifest.values(), default=0) + 1
        (
            self._bucket(df)
            .withColumn("__version", F.lit(version))
            .hint("rebalance", "__bucket")
            .sortWithinPartitions("__bucket")
            .write.mode("overwrite")
            .parquet(f"{self.path}/v{version}")
        )
        return version

    def gc(self) -> list[str]:
        """Remove version dirs no committed manifest entry references (the
        compaction sweep the class docstring promises). Safe to run any
        time AFTER in-flight writes finish: a concurrent writer's new
        version dir is unreferenced until its manifest commit, so gc must
        not race an active write_for — the consumer is single-process by
        the checkpoint lock, making 'between batches' the natural slot,
        and it runs gc there. A reader still holding an older manifest may
        find the version dirs it points to gone. Returns the removed dir
        paths."""
        import os
        import re
        import shutil

        live = {f"v{v}" for v in self._manifest().values()}
        removed = []
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return removed
        for nm in names:
            if re.fullmatch(r"v\d+", nm) and nm not in live:
                path = f"{self.path}/{nm}"
                shutil.rmtree(path, ignore_errors=True)
                # report only what actually left the disk — a failed rmtree
                # (EPERM, lingering handle) must not read as a clean sweep;
                # the survivor is retried on the next gc()
                if not os.path.exists(path):
                    removed.append(path)
        return removed

    def write(self, df: DataFrame) -> None:
        """Whole-state write (compaction / bootstrap): every bucket is
        committed to the new version, so buckets absent from `df` (e.g.
        fully deleted keys) read as empty instead of resurrecting an older
        version's rows."""
        version = self._write_version(df, self._manifest())
        self._commit_manifest({str(b): version for b in range(self.n_buckets)})


class WalStreamConsumer:
    """Drop-in engine equivalent of the reference's WalConsumer."""

    def __init__(
        self,
        spark: SparkSession,
        wal_dir: str,
        checkpoint_dir: str,
        target: BucketedParquetKeyValueTarget,
        callback: Callable[[DataFrame], bool] | None = None,
        trigger_interval: str = "1 second",
        sleep_on_io_failure: float = 1.0,
        max_sync_retries: int | None = None,
        metric_prefix: str = "wal",
        max_files_per_trigger: int | None = None,
    ):
        self.spark = spark
        self.wal_dir = wal_dir
        self.checkpoint_dir = checkpoint_dir
        self.target = target
        self.callback = callback
        self.trigger_interval = trigger_interval
        self.sleep_on_io_failure = sleep_on_io_failure
        self.max_sync_retries = max_sync_retries
        self.metrics = ConsumerMetrics(prefix=metric_prefix)
        self.max_files_per_trigger = max_files_per_trigger
        self._listener: WalQueryListener | None = None
        self.query = None
        self._last_applied_id: int | None = None
        self._backlog_cache: tuple[int, float] | None = None

    # -- the foreachBatch body: ordered apply with retry + idempotency -----

    def _apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        # the batch's stats action, over the raw records: the per-key
        # reduction keeps every key and each key's max id, so max(id) and
        # the touched buckets equal the reduced batch's
        max_id, touched = batch_df.agg(
            F.max("id"), F.collect_set(self.target.bucket_expr())
        ).first()
        stats_s = time.monotonic() - t0
        if max_id is None:
            self.metrics.set_state(WalState.EMPTY)
            return
        self.metrics.set_state(WalState.NOT_EMPTY)
        touched = sorted(touched)

        # read only the state slice the batch can touch
        merged = _window_merge(batch_df, self.target.read_for(batch_df, touched))
        from_batch = F.col("__src") == _BATCH
        reduced = last_op_per_key(batch_df) if self.callback is not None else None

        attempt = 0
        while True:  # R9: retry IO failures forever (bounded only if configured)
            try:
                if reduced is not None and not self.callback(reduced):
                    # callback returning False == "was already done"
                    # (WalEntityConsumerCallback.java:10-17)
                    n_batch = already = reduced.count()
                    write_s = 0.0
                    break
                # an Observation serves one action, so each attempt gets its
                # own: the counts come from the write that succeeded
                obs = Observation()
                new_state = (
                    merged.observe(
                        obs,
                        F.count_if(from_batch).alias("n_batch"),
                        # R10: an upsert whose payload the target already
                        # holds was applied before a replay
                        F.count_if(
                            from_batch
                            & (F.col("operation") != Operation.DELETE)
                            & (F.col("entity_bytes") == F.col("__old"))
                        ).alias("already"),
                    )
                    .filter(~F.col("operation").eqNullSafe(Operation.DELETE))
                    .select(*TARGET_COLS)
                )
                t = time.monotonic()
                self.target.write_for(new_state, batch_df, touched)
                write_s = time.monotonic() - t
                counts = obs.get
                n_batch, already = counts["n_batch"], counts["already"]
                break
            except InterruptedError:
                raise
            except Exception as e:
                self.metrics.num_io_failures += 1
                attempt += 1
                # an AnalysisException is a schema or plan bug: no retry can fix it
                if isinstance(e, AnalysisException) or (
                    self.max_sync_retries is not None
                    and attempt > self.max_sync_retries
                ):
                    raise
                time.sleep(self.sleep_on_io_failure)

        # versions no manifest entry references any more; the checkpoint
        # lock makes this consumer the target's only writer
        self.target.gc()
        m = self.metrics
        m.num_ignored_already_done += already
        m.num_synchronized += n_batch - already
        self._record_applied(max_id)
        m.last_batch_records, m.last_batch_touched_buckets = n_batch, len(touched)
        m.last_batch_stats_seconds = stats_s
        m.last_batch_write_seconds = write_s
        m.last_batch_apply_seconds = time.monotonic() - t0

    def _applied_id_path(self) -> str:
        return f"{self.checkpoint_dir}/_wcs_applied_id"

    def _record_applied(self, max_id: int) -> None:
        """Advance the applied-id high-water mark to the batch's max id,
        persist it next to the checkpoint so a RESTARTED consumer doesn't
        over-report the backlog (the checkpoint skips already-consumed
        files, so the mark can never be relearned from processed data), and
        invalidate the backlog cache. A failed persist only costs the
        gauge's accuracy after a restart, so it warns instead of failing the
        batch."""
        import os

        if self._last_applied_id is None or max_id > self._last_applied_id:
            self._last_applied_id = max_id
            path = self._applied_id_path()
            try:
                os.makedirs(self.checkpoint_dir, exist_ok=True)
                with open(f"{path}.tmp", "w", encoding="utf-8") as f:
                    f.write(str(max_id))
                os.replace(f"{path}.tmp", path)
            except OSError as e:
                warnings.warn(
                    f"could not persist the applied-id mark to {path}: {e}",
                    RuntimeWarning,
                    stacklevel=2,
                )
        self._backlog_cache = None

    def _load_applied_id(self) -> None:
        if self._last_applied_id is not None:
            return
        try:
            with open(self._applied_id_path(), encoding="utf-8") as f:
                self._last_applied_id = int(f.read().strip())
        except (OSError, ValueError):
            pass

    def backlog(self, max_age: float = 60.0) -> int:
        """R14 backlog gauge with the reference's semantics: the COUNT of
        WAL records not yet consumed (id beyond the applied high-water
        mark), served from a cache at most `max_age` seconds old —
        WalConsumer.java:78-88 caches its SELECT COUNT for 60 s the same
        way. (Round-1 verdict: the previous proxy was last-trigger input
        rows, which reads 0 the moment a trigger is empty even with a
        backlog still queued.)"""
        now = time.monotonic()
        if self._backlog_cache is not None and now - self._backlog_cache[1] < max_age:
            return self._backlog_cache[0]
        self._load_applied_id()  # restart: recover the persisted mark
        from wal_consumer_spark.sources.wal_source import read_wal_batch

        try:
            df = read_wal_batch(self.spark, self.wal_dir)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            n = 0  # WAL dir not created yet == nothing to consume
        else:
            if self._last_applied_id is not None:
                df = df.filter(F.col("id") > self._last_applied_id)
            n = df.count()
        self._backlog_cache = (n, now)
        self.metrics.backlog = n
        return n

    # -- lifecycle (R16) ---------------------------------------------------

    def start(self, available_now: bool = False):
        """≙ WalConsumer.start() (WalConsumer.java:127-133): begins draining;
        available_now=True processes the current backlog then stops (used by
        tests; production uses the processingTime trigger = R12 poll)."""
        # R2-R4 mutual exclusion: the reference serializes consumers with a
        # SELECT ... FOR UPDATE row lock (WalConsumer.java:208-217); here a
        # checkpoint dir admits one active query. Spark enforces this lazily
        # (the second query dies at its first commit), so fail fast instead —
        # same guarantee, immediate error. Cross-process exclusion comes from
        # the checkpoint's commit-log semantics on HDFS-compatible storage.
        active_ckpts = {
            c.checkpoint_dir
            for c in _ACTIVE_CONSUMERS
            if c.query is not None and c.query.isActive
        }
        if self.checkpoint_dir in active_ckpts:
            raise RuntimeError(
                f"another WalStreamConsumer is active on checkpoint "
                f"{self.checkpoint_dir!r}; one consumer per checkpoint "
                "(single-consumer lock semantics)"
            )
        self._acquire_lock()
        _ACTIVE_CONSUMERS.add(self)

        self._listener = WalQueryListener(self.metrics)
        self.spark.streams.addListener(self._listener)
        return self._start_query(available_now)

    def _start_query(self, available_now: bool = False):
        stream = read_wal_stream(self.spark, self.wal_dir, self.max_files_per_trigger)
        writer = stream.writeStream.foreachBatch(self._apply_batch).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=self.trigger_interval)
        self.query = writer.start()
        return self.query

    def start_supervised(self, max_restarts: int | None = None):
        """R13 source-failure backoff (WalConsumer.java:136-142): when the
        WAL source becomes unreachable the reference enters state
        INACCESSIBLE_IO_FAILURE, sleeps `sleepMillisOnIoFailure`, and
        retries acquisition forever. Spark surfaces a source failure as
        query termination with an exception, so the equivalent is a
        supervisor that restarts the query against the SAME checkpoint
        (offset log makes the retried batch idempotent, R11) after
        `sleep_on_io_failure`, marking the failure state and counter in
        between. A clean stop() never restarts."""
        import threading

        self.start()
        self._stop_supervisor = False

        def _supervise() -> None:
            restarts = 0
            while True:
                try:
                    self.query.awaitTermination()
                except Exception:
                    pass  # the failure is inspected via query.exception()
                if self._stop_supervisor or self.query.exception() is None:
                    return
                self.metrics.set_state(WalState.INACCESSIBLE_IO_FAILURE)
                self.metrics.num_io_failures += 1
                restarts += 1
                if max_restarts is not None and restarts > max_restarts:
                    return
                time.sleep(self.sleep_on_io_failure)
                if self._stop_supervisor:
                    return
                try:
                    self._start_query()
                except Exception:
                    continue  # source still down: sleep and retry (R13 loop)
                if self._stop_supervisor:
                    # close() ran between the flag check and the restart:
                    # it saw the OLD dead query, so stop the fresh one here
                    # instead of leaving it consuming after close() returns
                    try:
                        self.query.stop()
                    except Exception:
                        pass
                    return

        self._supervisor = threading.Thread(
            target=_supervise, name="wcs-supervisor", daemon=True
        )
        self._supervisor.start()
        return self.query

    def _lock_path(self) -> str:
        return f"{self.checkpoint_dir}/_wcs_lock"

    def _acquire_lock(self) -> None:
        """Cross-process single-consumer exclusion (README.md:40-43,
        WalConsumer.java:208-217's SELECT ... FOR UPDATE row lock): a
        sentinel file created exclusively in the checkpoint dir. A sentinel
        from a dead local process (crash without close()) is detected via
        its recorded pid and broken; a live owner raises immediately instead
        of dying later at Spark's first checkpoint-commit conflict. On
        multi-host HDFS-compatible storage the pid liveness check does not
        apply — there the sentinel still fail-fasts same-host restarts and
        Spark's checkpoint commit log remains the cross-host backstop."""
        import os

        os.makedirs(self.checkpoint_dir, exist_ok=True)
        my_pid = str(os.getpid())
        while True:
            try:
                with open(self._lock_path(), "x", encoding="utf-8") as f:
                    f.write(my_pid)
                return
            except FileExistsError:
                try:
                    with open(self._lock_path(), encoding="utf-8") as f:
                        owner = int(f.read().strip() or "0")
                except (FileNotFoundError, ValueError):
                    continue  # owner vanished mid-check; retry acquisition
                if owner and owner != os.getpid() and _pid_alive(owner):
                    raise RuntimeError(
                        f"checkpoint {self.checkpoint_dir!r} is locked by "
                        f"live consumer process {owner}; one consumer per "
                        "checkpoint (single-consumer lock semantics)"
                    )
                # Stale sentinel (dead process) or re-entry by this process.
                # Break it with an atomic RENAME, not a remove: two racers
                # that both saw the stale pid would otherwise both remove —
                # the second remove deleting the first racer's FRESH lock
                # and letting both become owners. rename succeeds for
                # exactly one breaker; the loser re-enters the loop and sees
                # the winner's live lock.
                stale = f"{self._lock_path()}.stale.{os.getpid()}"
                try:
                    os.rename(self._lock_path(), stale)
                except FileNotFoundError:
                    continue  # another process broke it first; recompete
                # Verify we renamed the dead sentinel we inspected and not a
                # FRESH lock a racer created between our read and rename
                # (or a mid-write lock read back as empty/owner-0): if the
                # renamed file holds a live foreign pid, hand it back and
                # recompete.
                try:
                    with open(stale, encoding="utf-8") as f:
                        grabbed = int(f.read().strip() or "0")
                except (FileNotFoundError, ValueError):
                    grabbed = 0
                if grabbed and grabbed != os.getpid() and _pid_alive(grabbed):
                    try:
                        os.rename(stale, self._lock_path())
                    except OSError:
                        pass  # a newer lock appeared; the live owner re-locks
                    continue
                try:
                    os.remove(stale)
                except FileNotFoundError:
                    pass

    def _release_lock(self) -> None:
        import os

        try:
            with open(self._lock_path(), encoding="utf-8") as f:
                if f.read().strip() == str(os.getpid()):
                    os.remove(self._lock_path())
        except (FileNotFoundError, ValueError):
            pass

    def await_backlog_drained(self, timeout: float | None = None) -> None:
        self.query.awaitTermination(timeout)

    def close(self) -> None:
        """≙ WalConsumer.close() (WalConsumer.java:299-317): stop the query,
        deregister metrics listener."""
        self._stop_supervisor = True
        if self.query is not None and self.query.isActive:
            self.query.stop()
        sup = getattr(self, "_supervisor", None)
        if sup is not None and sup.is_alive():
            sup.join(timeout=10)
        # the supervisor may have swapped in a restarted query between our
        # flag-set and its own flag-check — stop whatever is current now
        if self.query is not None and self.query.isActive:
            self.query.stop()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None
        self._release_lock()
        _ACTIVE_CONSUMERS.discard(self)
