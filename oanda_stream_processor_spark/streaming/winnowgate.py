"""Streaming incremental substring-dedup: micro-batches of arriving
documents linked against a STATIC winnowed-fingerprint index via
``foreachBatch`` — the q150/q157 substring family on the streaming
surface, completing the incremental-curation set (minhash dedup:
``streaming/incremental.py``, ANN: ``annsearch.py``, selection:
``dsirgate.py``, PCA: ``pcastream.py``).

Shape (100 TB): the index is the corpus's df-cut winnowed postings
reduced to ONE ROW PER FINGERPRINT — (fp, hub) where hub is the
minimum doc_id sharing the fingerprint, exactly q157's star-graph
hubs — persisted partitioned by fp (in production: bucketed by fp so
the per-batch join is co-located). Each arriving micro-batch computes
its winnowed fingerprints with the SAME shuffle-free array pipeline
the batch path uses (`operators.textops.winnow_fingerprints`), then
equi-joins the hub table on the fingerprint; the batch side is tiny,
so the join broadcasts the BATCH and the index never shuffles off its
fp partitioning. Output is one row per (arriving doc, linked hub) with
the count of linking fingerprints — the star edges that feed keep-one
clustering incrementally.

Guarantee (q157's, carried over): an arriving document sharing any
common run of >= GRAM + WINNOW - 1 chars with an indexed document
shares a winnowed fingerprint with it, hence links to that
fingerprint's hub — UNLESS the fingerprint was df-cut as boilerplate
(> FP_DF_FRAC of the indexed corpus), which is the deliberate
behavior: boilerplate runs are not dup evidence. Batch docs never
extend the index mid-stream (static-index-per-stream, the same
reasoning documented for incremental dedup and streaming ANN);
re-indexing is a rebuild + stream restart.

Reference basis: the reference has no dedup at all; this extends the
north-star substring-dedup family (SURVEY.md §2.2) to the streaming
surface. Winnowing: Schleimer et al. 2003 (MOSS); substring dedup for
training data: Lee et al. 2022, arXiv 2107.06499.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from . import store
from ..operators.textops import FP_DF_FRAC, winnow_fingerprints

__all__ = ["build_winnow_index", "batch_winnow_links",
           "run_winnow_stream"]


def build_winnow_index(docs: DataFrame) -> DataFrame:
    """Static (fp, hub) hub table of the ingested corpus: df-cut
    winnowed postings reduced to the minimum sharing doc_id per
    fingerprint (q157's star hubs). Eagerly checkpointed — built once,
    reused by every micro-batch."""
    allfps = winnow_fingerprints(docs.select("doc_id", "text"))
    cut = docs.agg(F.ceil(FP_DF_FRAC * F.count("*")).alias("c"))
    return (allfps
            .withColumn("df", F.count("*").over(W.partitionBy("fp")))
            .crossJoin(F.broadcast(cut))
            .where(F.col("df") <= F.col("c"))
            .groupBy("fp").agg(F.min("doc_id").alias("hub"))
            .localCheckpoint(eager=True))


def batch_winnow_links(batch: DataFrame, index: DataFrame) -> DataFrame:
    """(doc_id, hub, n_fps) star edges for one (micro-)batch of
    (doc_id, text) rows against the static hub table — one row per
    arriving doc per linked index hub, n_fps = fingerprints linking
    them. Docs sharing nothing with the index emit no rows (they are
    novel). The batch side is the broadcast side; the index keeps its
    fp layout."""
    fps = winnow_fingerprints(batch.select("doc_id", "text"))
    return (index.join(F.broadcast(fps), "fp")
                 .groupBy("doc_id", "hub")
                 .agg(F.count("*").alias("n_fps")))


def run_winnow_stream(stream: DataFrame, index: DataFrame, sink, *,
                      checkpoint: str | None = None):
    """Wire a (doc_id, text) stream through the per-batch linker.

    ``sink(result_df, batch_id)`` receives each micro-batch's edge
    frame; exactly-once to idempotent sinks via the checkpoint, the
    same guarantees as every other foreachBatch path in streaming/.
    """
    def _each(batch: DataFrame, batch_id: int) -> None:
        sink(batch_winnow_links(batch, index), batch_id)

    return store.start(stream, _each, checkpoint)
