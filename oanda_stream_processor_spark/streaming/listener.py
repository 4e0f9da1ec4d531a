"""Structured logging for streaming queries (C3 parity:
/root/reference/src/main.rs:26-29 tracing setup + call sites).

A StreamingQueryListener that logs progress/termination at INFO with the
reference's '%Y-%m-%d %H:%M:%S%.3f' timestamp format; a query's
failure is logged, never raised (the failed epoch replays on restart,
streaming/sinks.py's delivery contract).
"""

from __future__ import annotations

import logging

from pyspark.sql.streaming import StreamingQueryListener

_FMT = "%(asctime)s.%(msecs)03d %(levelname)s %(name)s: %(message)s"
_DATEFMT = "%Y-%m-%d %H:%M:%S"


def configure_logging(level: int = logging.INFO) -> logging.Logger:
    logger = logging.getLogger("oanda_stream_processor_spark")
    if not logger.handlers:
        h = logging.StreamHandler()
        h.setFormatter(logging.Formatter(_FMT, datefmt=_DATEFMT))
        logger.addHandler(h)
    logger.setLevel(level)
    return logger


class PipelineListener(StreamingQueryListener):
    """Counts lifecycle events and logs per-batch progress."""

    def __init__(self):
        self.started = 0
        self.progressed = 0
        self.terminated = 0
        self.errors: list[str] = []
        self._log = configure_logging()

    def onQueryStarted(self, event):
        self.started += 1
        self._log.info("query started: %s run=%s", event.name or event.id,
                       event.runId)

    def onQueryProgress(self, event):
        self.progressed += 1
        p = event.progress
        self._log.info("progress %s: batch=%s rows=%s", p.name or p.id,
                       p.batchId, p.numInputRows)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1
        if event.exception:
            self.errors.append(str(event.exception))
            self._log.error("query terminated with error: %s", event.exception)
        else:
            self._log.info("query terminated cleanly: %s", event.id)


# ---------------------------------------------------------------------------
# Observed metrics (df.observe): zero-cost quality telemetry computed
# inside the existing job — no second pass over the data, no extra
# action. On a stream the metrics surface per micro-batch through
# QueryProgressEvent.observedMetrics (captured below and logged through
# the same C3 structured logger); on a batch frame the caller wraps the
# same helper with pyspark.sql.Observation and reads .get after the
# action. At cluster scale this replaces a separate count()/agg() audit
# job — the accumulator-style merge is map-side and free.
# ---------------------------------------------------------------------------

def observe_ticks(df, name: str = "tick_metrics"):
    """Attach routing/quality metrics to a routed+derived tick frame
    (message_type/spread/event_ts columns): row count, per-type counts,
    zero-default spreads (P1 unwrap_or(0.0) firing), and null event
    timestamps (P2 both-format parse failures)."""
    from pyspark.sql import functions as F
    return df.observe(
        name,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("message_type") == "price_tick", 1))
            .alias("n_ticks"),
        F.count(F.when(F.col("message_type") == "heartbeat", 1))
            .alias("n_heartbeats"),
        F.count(F.when(F.col("message_type") == "unknown", 1))
            .alias("n_unknown"),
        F.count(F.when((F.col("message_type") == "price_tick")
                       & (F.col("spread") == 0.0), 1))
            .alias("n_zero_spread"),
        F.count(F.when((F.col("message_type") == "price_tick")
                       & F.col("event_ts").isNull(), 1))
            .alias("n_null_event_ts"))


class MetricsListener(PipelineListener):
    """PipelineListener that additionally captures observedMetrics from
    each progress event: ``.metrics[name]`` holds the latest Row per
    observation name, ``.history[name]`` every batch's Row."""

    def __init__(self):
        super().__init__()
        self.metrics: dict = {}
        self.history: dict = {}

    def onQueryProgress(self, event):
        super().onQueryProgress(event)
        observed = getattr(event.progress, "observedMetrics", None) or {}
        for name, row in observed.items():
            self.metrics[name] = row
            self.history.setdefault(name, []).append(row)
            self._log.info("observed %s: %s", name, row.asDict())
