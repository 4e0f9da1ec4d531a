"""The pipeline's output edges (K1/K2 parity + cluster analogs). Its one
foreachBatch body (pipeline.py) feeds each micro-batch to every enabled
edge, in this order: parquet (one ``store.py`` partial per epoch);
partitioned publish (a publisher per task; the file stand-in writes
``{base}.{epoch}.{partition}``; cluster analog: the Kafka sink); the
console (K1, main.rs:83-85,105-107); the single PUB socket (K2,
publisher.rs:10-25; pyzmq-gated, ``FilePublisher`` stands in).

DELIVERY CONTRACT. An epoch that does not commit replays whole on
restart. The file edges are exactly-once, provided an epoch replays
with the same partitioning: a replay overwrites the files its first
attempt wrote. The single socket and the console are at-least-once: a
restart may re-send one epoch (the reference is at-most-once).
Per-message publish errors stay non-fatal inside the publisher
(SURVEY.md invariant 4, main.rs:89-93). An edge that raises fails the
epoch, so the checkpoint replays it: no edge silently loses data. The
idempotent edges run first, so a failing file edge does not make the
socket re-send.
"""

from __future__ import annotations

import logging

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame

from . import store
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
    send per message, fire-and-forget)."""

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
    """Length-prefixed frames to a local file, the handle held open
    (bind-once like the PUB socket). It appends and flushes per message,
    or with ``replace=True`` truncates on open (a replayed epoch
    overwrites its first attempt) and flushes once, at close."""

    def __init__(self, path: str, replace: bool = False):
        self._flush_each = not replace
        self._f = open(path, "wb" if replace else "ab")  # noqa: SIM115

    def publish(self, payload: bytes) -> None:
        self._f.write(len(payload).to_bytes(4, "big") + payload)
        if self._flush_each:
            self._f.flush()

    def close(self) -> None:
        self._f.close()


class PartitionedFilePublisherFactory:
    """Executor-side publisher factory for the partitioned edge: the task
    of ``partition`` in ``epoch`` writes the frame file
    ``{base}.{epoch}.{partition}`` (the file analog of per-partition
    sockets), and a replay of the epoch overwrites it. Fan-in = reading
    ``{base}.*``. Picklable: carries only the base path."""

    def __init__(self, base_path: str):
        self.base_path = base_path

    def __call__(self, epoch: int, partition: int) -> FilePublisher:
        return FilePublisher(f"{self.base_path}.{epoch}.{partition}",
                             replace=True)


def _publish_all(batches, publisher) -> int:
    n = 0
    for batch in batches:
        payloads = encode_batch(batch).column("payload").to_pylist()
        for payload in payloads:
            publisher.publish(payload)
        n += len(payloads)
    return n


def publish_batch(batch_df: DataFrame, publisher) -> int:
    """The single-socket edge (one PUB socket, publisher.rs:10-25): every
    payload funnels through the driver, so it encodes there too, after
    one Arrow collect (one job, no Python worker), as one batch (the
    kernel's cost is mostly per batch), and publishes in row order. The
    driver holds one micro-batch, which ``maxFilesPerTrigger`` bounds.
    Returns messages published."""
    table = prepare(batch_df).toArrow().combine_chunks()
    return _publish_all(table.to_batches(), publisher)


def publish_batch_partitioned(batch_df: DataFrame, publisher_factory,
                              epoch: int = 0) -> int:
    """Partition-parallel publish: every task encodes its partition and
    drains the payloads through its OWN publisher, opened in the task by
    ``publisher_factory(epoch, partition)``, so nothing funnels through
    the driver and throughput scales with partitions. Returns total
    messages published.

    This is the Kafka-shaped edge: with real brokers the factory opens a
    producer (or a ZMQ socket that *connects* to an XSUB/forwarder
    device — many publishers, one fan-in) per partition. Only the tiny
    per-partition counts come back to the driver. A file scan already
    splits by size and core count, so the batch keeps its partitions."""

    def _drain(batches):
        pub = publisher_factory(epoch, TaskContext.get().partitionId())
        try:
            n = _publish_all(batches, pub)
        finally:
            close = getattr(pub, "close", None)
            if callable(close):
                close()
        yield pa.RecordBatch.from_pydict({"n": [n]})

    counts = prepare(batch_df).mapInArrow(_drain, "n long").collect()
    return sum(r.n for r in counts)


def write_parquet(batch_df: DataFrame, out_dir: str, epoch: int) -> None:
    """The epoch's rows as ``out_dir``'s partial ``epoch`` (read back,
    they carry a ``batch_id`` column), under its single-writer lock."""
    with store.writer_lock(out_dir):
        store.write(batch_df, out_dir, store.ROOT, epoch)


def print_console(batch_df: DataFrame, epoch: int) -> None:
    """K1: the console sink's block for one epoch."""
    print(f"{'-' * 43}\nBatch: {epoch}\n{'-' * 43}")
    batch_df.show(20, truncate=False)
