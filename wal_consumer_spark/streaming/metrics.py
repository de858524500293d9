"""Consumer metrics mirroring the reference's Dropwizard registry
(WalConsumer.java:47-98): gauges `{prefix}_state`, `{prefix}_num_records`,
`{prefix}_not_empty_seconds`; meters `{prefix}_num_synchronized`,
`{prefix}_num_ignored_already_done` — fed from foreachBatch and a
StreamingQueryListener instead of JMX polling.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


class WalState:
    """WalConsumer.java:354-359 state machine."""

    NONE = "NONE"
    EMPTY = "EMPTY"
    NOT_EMPTY = "NOT_EMPTY"
    INACCESSIBLE_IO_FAILURE = "INACCESSIBLE_IO_FAILURE"


@dataclass
class ConsumerMetrics:
    """In-process metric registry (the reference uses a shared Dropwizard
    MetricRegistry with a configurable prefix, WalConsumer.java:100-104)."""

    prefix: str = "wal"
    state: str = WalState.NONE
    num_synchronized: int = 0
    num_ignored_already_done: int = 0
    num_io_failures: int = 0
    backlog: int = 0
    #: the last applied micro-batch: its distinct keys (the reduced
    #: records), counted by the target write's Observation; the buckets it
    #: touched, from the stats aggregate; and the wall time of the apply,
    #: the stats aggregate and the target write
    last_batch_records: int = 0
    last_batch_touched_buckets: int = 0
    last_batch_apply_seconds: float = 0.0
    last_batch_stats_seconds: float = 0.0
    last_batch_write_seconds: float = 0.0
    #: the last trigger's StreamingQueryProgress.durationMs (phase -> ms)
    last_trigger_ms: dict[str, int] = field(default_factory=dict)
    _not_empty_since: float | None = field(default=None, repr=False)
    _not_empty_accum: float = field(default=0.0, repr=False)

    def set_state(self, state: str) -> None:
        now = time.monotonic()
        if state == WalState.NOT_EMPTY and self._not_empty_since is None:
            self._not_empty_since = now
        elif state != WalState.NOT_EMPTY and self._not_empty_since is not None:
            self._not_empty_accum += now - self._not_empty_since
            self._not_empty_since = None
        self.state = state

    @property
    def not_empty_seconds(self) -> float:
        """WalConsumer.java:89-96: how long the WAL has been non-empty."""
        acc = self._not_empty_accum
        if self._not_empty_since is not None:
            acc += time.monotonic() - self._not_empty_since
        return acc

    def as_dict(self) -> dict[str, float | int | str]:
        p = self.prefix
        return {
            f"{p}_state": self.state,
            f"{p}_num_records": self.backlog,
            f"{p}_num_synchronized": self.num_synchronized,
            f"{p}_num_ignored_already_done": self.num_ignored_already_done,
            f"{p}_num_io_failures": self.num_io_failures,
            f"{p}_not_empty_seconds": self.not_empty_seconds,
            f"{p}_last_batch_records": self.last_batch_records,
            f"{p}_last_batch_touched_buckets": self.last_batch_touched_buckets,
            f"{p}_last_batch_apply_seconds": self.last_batch_apply_seconds,
            f"{p}_last_batch_stats_seconds": self.last_batch_stats_seconds,
            f"{p}_last_batch_write_seconds": self.last_batch_write_seconds,
            **{f"{p}_last_trigger_{k}_ms": v for k, v in self.last_trigger_ms.items()},
        }


class WalQueryListener(StreamingQueryListener):
    """Maps StreamingQueryProgress onto the reference's state gauge:
    0 input rows in a trigger ⇒ EMPTY (R12), rows ⇒ NOT_EMPTY, exception ⇒
    INACCESSIBLE_IO_FAILURE (R13); keeps the trigger's durationMs."""

    def __init__(self, metrics: ConsumerMetrics):
        self.metrics = metrics

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        rows = event.progress.numInputRows
        self.metrics.last_trigger_ms = dict(event.progress.durationMs)
        # R14 backlog gauge lives on WalStreamConsumer.backlog() (cached
        # COUNT of unconsumed ids, the reference's semantics); the trigger's
        # input rows only drive the EMPTY/NOT_EMPTY state machine here.
        self.metrics.set_state(WalState.NOT_EMPTY if rows > 0 else WalState.EMPTY)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        self.metrics.set_state(WalState.EMPTY)

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        if event.exception is not None:
            self.metrics.set_state(WalState.INACCESSIBLE_IO_FAILURE)
