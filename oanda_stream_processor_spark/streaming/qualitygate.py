"""Streaming quality-filter gate with attribution ledger — the online
twin of operators/curation.q163.

A production ingest pipeline does not re-run corpus-wide quality
audits; it gates each arriving document at scan speed and keeps a
RUNNING attribution ledger ("how many docs has each rule removed, and
which rule fired first/alone"). Both halves are embarrassingly
mergeable:

* the gate — per-row rule flags (`curation.attribution_flags`, array
  HOFs only, no shuffle) plus the keep verdict and first-failing rule;
  a pure projection, so trigger boundaries cannot change any verdict;
* the ledger — q163's 13 counts are each a SUM over disjoint
  documents, so per-batch partials merge by columnwise addition.
  Partials land in a parquet state directory under per-batch partitions
  (overwrite-by-partition = idempotent replay on recovery, same
  contract as streaming/sketch.py), and the running ledger is one
  columnwise SUM over the directory rendered through q163's stack.

Batch/stream parity is exact and is pytest-proven: the merged ledger
over any batching of the corpus is row-for-row identical to batch
q163, and the per-doc gate verdicts match the batch flags.

Citation: the reference (433-line tick ETL, /root/reference/src/
main.rs) has no quality gating; north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store
from ..operators.curation import (
    attribution_flags,
    attribution_partial,
    attribution_rows,
)

_COUNTS = ["kept", "a1", "a2", "a3", "a4",
           "w1", "w2", "w3", "w4", "s1", "s2", "s3", "s4"]
_LEDGER = store.Layout("", store.sum_by([], *_COUNTS))


def gate_docs(docs: DataFrame) -> DataFrame:
    """Per-document verdicts: keep + first_fail (0 = none, else the
    lowest-numbered failing rule — the waterfall attribution a
    sequential pipeline would log). Works identically on a batch or a
    streaming frame (pure projection)."""
    f = attribution_flags(docs)
    first = (F.when(F.col("f1") == 1, 1)
             .when(F.col("f2") == 1, 2)
             .when(F.col("f3") == 1, 3)
             .when(F.col("f4") == 1, 4)
             .otherwise(0))
    keep = (F.col("f1") + F.col("f2") + F.col("f3") + F.col("f4")) == 0
    return f.select("doc_id", keep.alias("keep"),
                    first.cast("int").alias("first_fail"))


def batch_partial(docs: DataFrame) -> DataFrame:
    """The 13-count attribution partial for one batch of documents."""
    return attribution_partial(attribution_flags(docs))


def read_ledger(spark: SparkSession, state_dir: str) -> DataFrame:
    """The running attribution table: columnwise-sum every persisted
    partial, render through q163's 5-row stack."""
    return attribution_rows(store.read(spark, state_dir, _LEDGER))


def start_quality_stream(stream_docs: DataFrame, state_dir: str,
                         checkpoint_dir: str, kept_dir: str | None = None):
    """Wire a streaming documents source into the gate + ledger.

    Each batch (a) appends its surviving doc_ids to ``kept_dir`` (the
    gated output feed) when requested, and (b) overwrites its own
    partial so replays are idempotent and the ledger sum is
    exactly-once."""
    def body(batch_df: DataFrame, batch_id: int) -> None:
        if kept_dir is not None:
            store.write(gate_docs(batch_df).where("keep").select("doc_id"),
                        kept_dir, store.ROOT, batch_id)
        store.write(batch_partial(batch_df), state_dir, _LEDGER, batch_id)

    return store.start(stream_docs, body, checkpoint_dir, root=state_dir)
