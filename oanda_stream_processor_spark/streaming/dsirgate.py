"""Streaming DSIR quality gate: micro-batches of arriving documents
scored against a STATIC trained importance model via ``foreachBatch``
— the q152 operator on the streaming surface, completing the
incremental-curation trio (dedup: ``streaming/incremental.py``, ANN:
``streaming/annsearch.py``, selection: here).

Shape (100 TB): the trained state is DSIR_BUCKETS rows of fixed-point
log-ratios plus one corpus-average scalar (`operators.llmprep
.dsir_train` — both eagerly checkpointed, KB-sized, broadcast per
batch). Each arriving micro-batch explodes to tokens, hashes each
token to its bucket with the SAME seed-0 fold the training used
(micro-batches are small, so the per-token expression replaces the
batch path's vocab-distinct join — identical values either way),
broadcast-joins the log-ratio table, and sums per document. Integer
sums are order-independent, so a document's score is identical
whether it arrives in one batch or ten — asserted by the
trigger-split test — and identical to the q152 batch computation on
the same rows.

Static-model-per-stream is the deliberate design (not a stream-stream
co-training): importance resampling against a FIXED target
distribution is a lookup, the same reasoning documented for
incremental dedup and streaming ANN. Retraining is a new
`dsir_train` + stream restart, exactly like an index rebuild.

Reference basis: the reference has no curation at all; this extends
the north-star LLM-pipeline family (SURVEY.md §2.2) to the streaming
surface. DSIR: Xie et al. 2023, arXiv 2302.03169.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import store
from ..operators.llmprep import dsir_bucket_col, dsir_train

__all__ = ["dsir_train", "score_docs_batch", "run_dsir_stream"]


def score_docs_batch(batch: DataFrame, lr: DataFrame, avg: DataFrame,
                     dflt: DataFrame) -> DataFrame:
    """(doc_id, source, n_tokens, importance_fp, keep) for one
    (micro-)batch of (doc_id, source, text) rows — bit-identical to
    q152's scoring of the same rows.

    Tokens hashing to buckets UNSEEN in training left-join to null and
    coalesce to the trained smoothed default (`dflt.default_fp`), so no
    token is dropped and every arriving document emits exactly one
    scored row — including documents whose tokens are ALL unseen (on
    the training corpus itself every bucket is trained, so the left
    join degenerates to the inner join and scores are unchanged)."""
    tok = batch.select(
        "doc_id", "source",
        F.explode(F.filter(F.split("text", " "),
                           lambda x: x != "")).alias("token"))
    bt = tok.select("doc_id", "source",
                    dsir_bucket_col().alias("bucket"))
    scores = (bt.join(F.broadcast(lr), "bucket", "left")
                .crossJoin(F.broadcast(dflt))
                .groupBy("doc_id", "source")
                .agg(F.count("*").alias("n_tokens"),
                     F.sum(F.coalesce(F.col("lr_fp"),
                                      F.col("default_fp")))
                      .cast("bigint").alias("importance_fp")))
    return (scores.crossJoin(F.broadcast(avg))
                  .select("doc_id", "source", "n_tokens", "importance_fp",
                          (F.col("importance_fp") > F.col("avg_fp"))
                          .alias("keep")))


def run_dsir_stream(stream: DataFrame, lr: DataFrame, avg: DataFrame,
                    dflt: DataFrame, sink, *,
                    checkpoint: str | None = None):
    """Wire a (doc_id, source, text) stream through the per-batch gate.

    ``sink(result_df, batch_id)`` receives each micro-batch's scored
    frame; exactly-once to idempotent sinks via the checkpoint, the
    same guarantees as every other foreachBatch path in streaming/.
    """
    def _each(batch: DataFrame, batch_id: int) -> None:
        sink(score_docs_batch(batch, lr, avg, dflt), batch_id)

    return store.start(stream, _each, checkpoint)
