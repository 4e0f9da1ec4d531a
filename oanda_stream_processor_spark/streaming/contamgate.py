"""Streaming fuzzy-decontamination gate — the online twin of
operators/curation.q165 (bottom-k containment against a benchmark
gram sketch).

A production ingest pipeline decontaminates at scan speed: the eval
suite's gram-hash set is built ONCE from the static benchmark side
(MBs against a TB corpus — broadcast, same contract as batch q80/q165)
and every arriving document is scored against it. Both halves are
embarrassingly mergeable:

* the gate — each doc's bottom-k sketch is a per-row projection
  (array_sort + slice over the distinct gram array; the hash IS the
  sampling order, so the sketch of a doc is the same in any batch),
  and the probe is a broadcast left-join + one map-side-combinable
  groupBy(doc_id). Verdicts depend only on (doc, static bench set) —
  trigger boundaries cannot change any verdict;
* the ledger — the running contamination summary (docs seen, docs
  flagged, sketch hits / sketch size) is a columnwise SUM over
  per-batch partials. Partials land in a parquet state directory
  under per-batch partitions (overwrite-by-partition = idempotent replay on
  recovery, same contract as streaming/sketch.py and qualitygate.py).

Batch/stream parity is exact and pytest-proven: per-doc gate verdicts
over any batching equal batch q165 row-for-row, and the merged ledger
equals the one-shot summary.

Citation: the reference (433-line tick ETL, /root/reference/src/
main.rs) has no decontamination; north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store
from ..operators.curation import (
    benchmark_gram_set,
    contamination_scores,
    gram_array,
)
from ..operators.helpers import exact_tdiv

_COUNTS = ["n_docs", "n_contaminated", "n_hits", "n_k"]
_LEDGER = store.Layout("", store.sum_by([], *_COUNTS))


def score_batch(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """Per-document q165 verdicts for one (micro-)batch of documents
    against the static benchmark gram set. Identical math to batch
    q165 — the twin IS the batch operator applied to fewer rows."""
    return contamination_scores(gram_array(docs), bench)


def partial_from_scored(scored: DataFrame) -> DataFrame:
    """The 4-count mergeable ledger partial from an already-scored
    frame (lets the stream body score once and feed both sinks)."""
    return scored.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("contaminated").cast("bigint")).alias("n_contaminated"),
        F.sum("n_hit").alias("n_hits"),
        F.sum("k_used").alias("n_k"))


def batch_partial(docs: DataFrame, bench: DataFrame) -> DataFrame:
    """The 4-count mergeable ledger partial for one batch."""
    return partial_from_scored(score_batch(docs, bench))


def read_ledger(spark: SparkSession, state_dir: str) -> DataFrame:
    """The running decontamination summary: columnwise-sum every
    persisted partial, render rates as exact integer ppm."""
    merged = store.read(spark, state_dir, _LEDGER)
    flagged_ppm = exact_tdiv(
        F.col("n_contaminated").cast("decimal(38,0)") * 1_000_000,
        F.col("n_docs"))
    mean_contained_ppm = exact_tdiv(
        F.col("n_hits").cast("decimal(38,0)") * 1_000_000, F.col("n_k"))
    return merged.select(
        *_COUNTS,
        flagged_ppm.alias("flagged_ppm"),
        mean_contained_ppm.alias("mean_contained_ppm"))


def start_contamination_stream(stream_docs: DataFrame, bench: DataFrame,
                               state_dir: str, checkpoint_dir: str,
                               clean_dir: str | None = None):
    """Wire a streaming documents source into the gate + ledger.

    Each batch (a) appends its surviving (non-contaminated) doc_ids to
    ``clean_dir`` (the decontaminated output feed) when requested, and
    (b) overwrites its own partial so replays are idempotent and the
    ledger sum is exactly-once."""
    def body(batch_df: DataFrame, batch_id: int) -> None:
        # score ONCE per batch; both the clean feed and the 4-count
        # partial read the same materialized scored frame (gram hashing
        # + broadcast probe are the batch's dominant cost — don't pay
        # them twice when clean_dir is set).
        scored = score_batch(batch_df, bench)
        if clean_dir is not None:
            scored = scored.localCheckpoint(eager=True)
            store.write(scored.where(~F.col("contaminated"))
                        .select("doc_id"), clean_dir, store.ROOT, batch_id)
        store.write(partial_from_scored(scored), state_dir, _LEDGER,
                    batch_id)

    return store.start(stream_docs, body, checkpoint_dir, root=state_dir)
