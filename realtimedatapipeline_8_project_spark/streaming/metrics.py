"""Per-batch observability (SURVEY §2.10 monitoring; reference
stream-processor.py:113-120 and :295-320).

The reference logs a row count and wall-clock latency for every
micro-batch and warns when a sink write exceeds 3 s or total batch
processing exceeds 4 s (thresholds recorded in BASELINE.md). The engine
makes that a first-class, testable hook instead of bare logger calls:

* :class:`BatchMetrics` — one record per micro-batch: rows, per-sink
  seconds, total seconds, fired alerts. Each sink's seconds are its own
  write's wall time; the fan-out writes its sinks concurrently, so these
  intervals can overlap and ``total_seconds`` (the whole fan-out) can be
  less than their sum.
* :class:`MetricsRecorder` — collects records, evaluates the alert
  thresholds, emits ``logging`` warnings (the reference's behavior), and
  optionally appends JSON lines next to the sink output so metrics
  survive the driver process.
* :func:`attach_progress_listener` — StreamingQueryListener bridge that
  feeds Spark's own progress events (input rows, trigger duration) into
  the same recorder, for queries that do not go through foreachBatch.

Driver-side cost is O(1) per batch: the row count is an in-plan
``observe()`` metric filled by the single pass that caches the batch for
its sinks (no job of its own — the batch is never re-scanned just to
count it); nothing here collects rows to the driver.
"""

from __future__ import annotations

import json
import logging
import os
from dataclasses import dataclass, field

logger = logging.getLogger(__name__)

# Reference alert thresholds (stream-processor.py:119-120, :319-320).
SINK_ALERT_SEC = 3.0
BATCH_ALERT_SEC = 4.0


@dataclass
class BatchMetrics:
    batch_id: int
    n_rows: int
    sink_seconds: dict[str, float]
    total_seconds: float
    alerts: list[str] = field(default_factory=list)


class MetricsRecorder:
    """Collects per-batch metrics and evaluates alert thresholds.

    ``jsonl_path``: optional file to append one JSON line per batch —
    the durable analog of the reference's log stream.
    """

    def __init__(
        self,
        sink_alert_sec: float = SINK_ALERT_SEC,
        batch_alert_sec: float = BATCH_ALERT_SEC,
        jsonl_path: str | None = None,
    ) -> None:
        self.sink_alert_sec = sink_alert_sec
        self.batch_alert_sec = batch_alert_sec
        self.jsonl_path = jsonl_path
        self.batches: list[BatchMetrics] = []

    def record(
        self,
        batch_id: int,
        n_rows: int,
        sink_seconds: dict[str, float] | None = None,
        total_seconds: float = 0.0,
    ) -> BatchMetrics:
        sink_seconds = dict(sink_seconds or {})
        alerts = []
        for sink, sec in sink_seconds.items():
            if sec > self.sink_alert_sec:
                alerts.append(
                    f"{sink} write latency {sec:.2f}s exceeds "
                    f"{self.sink_alert_sec:g}s threshold for batch {batch_id}"
                )
        if total_seconds > self.batch_alert_sec:
            alerts.append(
                f"batch {batch_id} processing time {total_seconds:.2f}s "
                f"exceeds {self.batch_alert_sec:g}s threshold"
            )
        m = BatchMetrics(batch_id, n_rows, sink_seconds, total_seconds, alerts)
        self.batches.append(m)
        logger.info(
            "batch %d: %d rows in %.2fs", batch_id, n_rows, total_seconds
        )
        for a in alerts:
            logger.warning(a)
        if self.jsonl_path:
            os.makedirs(os.path.dirname(self.jsonl_path) or ".", exist_ok=True)
            with open(self.jsonl_path, "a", encoding="utf-8") as f:
                f.write(
                    json.dumps(
                        {
                            "batch_id": batch_id,
                            "n_rows": n_rows,
                            "sink_seconds": sink_seconds,
                            "total_seconds": round(total_seconds, 4),
                            "alerts": alerts,
                        }
                    )
                    + "\n"
                )
        return m

    @property
    def alerts(self) -> list[str]:
        return [a for m in self.batches for a in m.alerts]

    @property
    def total_rows(self) -> int:
        return sum(m.n_rows for m in self.batches)


def attach_progress_listener(spark, recorder: MetricsRecorder):
    """Feed Spark's StreamingQueryListener progress events into the
    recorder (for sinks that are not foreachBatch, e.g. plain file sinks).
    Returns the listener so callers can ``spark.streams.removeListener``
    it. Progress delivery is asynchronous — tests should poll."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Bridge(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: D102
            pass

        def onQueryProgress(self, event):  # noqa: D102
            p = event.progress
            try:
                dur = p.durationMs or {}
                total = float(dur.get("triggerExecution", 0)) / 1000.0
                recorder.record(
                    batch_id=p.batchId,
                    n_rows=int(p.numInputRows),
                    total_seconds=total,
                )
            except Exception:  # never break the stream on metrics
                logger.exception("progress listener failed")

        def onQueryIdle(self, event):  # noqa: D102
            pass

        def onQueryTerminated(self, event):  # noqa: D102
            pass

    listener = _Bridge()
    spark.streams.addListener(listener)
    return listener
