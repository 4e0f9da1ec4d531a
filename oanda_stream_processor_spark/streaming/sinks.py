"""Sinks (K1/K2 parity + cluster-idiomatic analogs).

* console  — K1 (/root/reference/src/main.rs:83-85,105-107)
* parquet  — durable file sink (exactly-once via checkpoint)
* memory   — deterministic test sink (processAllAvailable)
* zmq      — K2 (/root/reference/src/publisher.rs:10-25): PUB socket,
  fire-and-forget per message; publish errors logged, never fatal
  (main.rs:89-93). Gated on pyzmq availability; NDJSON-file publisher
  stands in for tests so the foreachBatch plumbing is exercised either
  way. At cluster scale the idiomatic analog is the Kafka sink with
  binary `value` — same envelope bytes.
"""

from __future__ import annotations

import logging
import os

import pyarrow as pa
from pyspark.sql import DataFrame

from .encode import encode_batch, prepare

log = logging.getLogger(__name__)

try:
    import zmq  # type: ignore
    HAVE_ZMQ = True
except ImportError:
    zmq = None
    HAVE_ZMQ = False


class ZmqPublisher:
    """PUB socket publisher (publisher.rs:10-25 semantics: bind once,
    send per message, at-most-once)."""

    def __init__(self, address: str = "tcp://*:9500"):
        if not HAVE_ZMQ:
            raise ImportError("pyzmq not available in this environment")
        self._ctx = zmq.Context.instance()
        self._sock = self._ctx.socket(zmq.PUB)
        self._sock.bind(address)

    def publish(self, payload: bytes) -> None:
        try:
            self._sock.send(payload, 0)
        except Exception as exc:  # noqa: BLE001 — non-fatal, main.rs:89-93
            log.error("failed to publish message: %s", exc)


class FilePublisher:
    """Test stand-in: length-prefixed frames appended to a local file —
    same at-most-once, fire-and-forget contract as the ZMQ PUB edge.
    Holds the handle open (bind-once like the PUB socket); one flush per
    message preserves the per-message visibility the tests rely on."""

    def __init__(self, path: str, flush_each: bool = True):
        self.path = path
        self._flush_each = flush_each
        self._f = open(path, "ab")  # noqa: SIM115 — lifetime = publisher

    def publish(self, payload: bytes) -> None:
        self._f.write(len(payload).to_bytes(4, "big") + payload)
        if self._flush_each:
            self._f.flush()

    def close(self) -> None:
        self._f.close()


class PartitionedFilePublisherFactory:
    """Executor-side publisher factory for the partitioned publish path:
    each partition opens its own frame file ``{base}.{uuid}`` (the file
    analog of per-partition sockets). Fan-in = reading ``{base}.*``.
    Picklable: carries only the base path."""

    def __init__(self, base_path: str):
        self.base_path = base_path

    def __call__(self) -> FilePublisher:
        import uuid
        # batch flush: the partition's close() flushes once, not per frame
        return FilePublisher(f"{self.base_path}.{uuid.uuid4().hex}",
                             flush_each=False)


def _publish_all(batches, publisher) -> int:
    n = 0
    for batch in batches:
        for payload in encode_batch(batch)[1]:
            publisher.publish(payload)
            n += 1
    return n


def publish_batch(batch_df: DataFrame, publisher) -> int:
    """foreachBatch body of the single-socket edge (one PUB socket,
    publisher.rs:10-25): every payload funnels through the driver, so it
    encodes there too, after one Arrow collect (one job, no Python
    worker), and publishes in row order. The driver holds one micro-batch,
    which ``maxFilesPerTrigger`` bounds. Returns messages published."""
    return _publish_all(prepare(batch_df).toArrow().to_batches(), publisher)


def publish_batch_partitioned(batch_df: DataFrame, publisher_factory) -> int:
    """Partition-parallel publish: every task encodes its partition and
    drains the payloads through its OWN publisher (opened in the task by
    ``publisher_factory``), so nothing funnels through the driver and
    throughput scales with partitions. Returns total messages published.

    This is the Kafka-shaped edge: with real brokers the factory opens a
    producer (or a ZMQ socket that *connects* to an XSUB/forwarder
    device — many publishers, one fan-in) per partition. Only the tiny
    per-partition counts come back to the driver. A file scan already
    splits by size and core count, so the batch keeps its partitions."""

    def _drain(batches):
        pub = publisher_factory()
        try:
            n = _publish_all(batches, pub)
        finally:
            close = getattr(pub, "close", None)
            if callable(close):
                close()
        yield pa.RecordBatch.from_pydict({"n": [n]})

    counts = prepare(batch_df).mapInArrow(_drain, "n long").collect()
    return sum(r.n for r in counts)


def start_publish_stream_partitioned(stream_df: DataFrame, publisher_factory,
                                     checkpoint_dir: str,
                                     query_name: str = "publish_partitioned"):
    """writeStream.foreachBatch wiring of the partition-parallel edge."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        n = publish_batch_partitioned(batch_df, publisher_factory)
        log.info("epoch %s: published %d messages (partitioned)", epoch_id, n)

    return (stream_df.writeStream
            .queryName(query_name)
            .option("checkpointLocation", os.path.join(checkpoint_dir, query_name))
            .foreachBatch(_sink)
            .start())


def start_publish_stream(stream_df: DataFrame, publisher,
                         checkpoint_dir: str, query_name: str = "zmq_publish"):
    """writeStream.foreachBatch wiring of the single-socket edge. A
    micro-batch starts at most once a second: each pays a fixed cost
    (file listing, planning, one job) whatever its size. At 200 msg/s on
    4 vCPUs, back-to-back batches ran about 3 a second at 13 ms of CPU per
    message; one a second took about 7 ms, at a median latency of 0.9 s."""

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        n = publish_batch(batch_df, publisher)
        log.info("epoch %s: published %d messages", epoch_id, n)

    return (stream_df.writeStream
            .queryName(query_name)
            .option("checkpointLocation", os.path.join(checkpoint_dir, query_name))
            .foreachBatch(_sink)
            .trigger(processingTime="1 second")
            .start())


def start_console_stream(stream_df: DataFrame, checkpoint_dir: str):
    """K1: conditional console sink (the -v flag, main.rs:46-47)."""
    return (stream_df.writeStream.format("console")
            .option("truncate", "false")
            .option("checkpointLocation", os.path.join(checkpoint_dir, "console"))
            .start())


def start_parquet_stream(stream_df: DataFrame, out_dir: str, checkpoint_dir: str):
    return (stream_df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(checkpoint_dir, "parquet"))
            .start())
