"""Token-positional postings store + served proximity read — the
streaming twin of q182 (operators/retrieval.py), completing the
positional-store family next to phrasegate's trigram store.

Each doc-disjoint micro-batch persists its raw (doc_id, pos, term)
token postings under a per-batch overwrite partition (idempotent
replay, the matview pattern).  Because a document's tokens live in
exactly one partition, the read side is a plain partitioned scan — no
merge algebra at all, the same row-disjoint argument as phrasegate's
postings store.  The served proximity read probes the stored postings
with ANY (query_id, term) frame — including query sets composed after
ingest — through the SAME ``retrieval.proximity_from`` core as the
one-shot q182, so served parity reduces to frame equality
(pytest: tests/test_streaming_prox.py — per-append-prefix parity,
q182-verbatim at full corpus, availableNow e2e, and an ad-hoc query
frame the stream never saw).

Scale: the store is O(corpus tokens) rows — write-once per batch,
partition-pruned by batch_id; the probe is the q182 plan (broadcast
query-term frame via AQE, per-(query, cand) lag windows bounded by
matched tokens per doc).

Citation: the reference (/root/reference/src/main.rs, 433-line tick
ETL) has no retrieval surface; north-star extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store
from ..operators.retrieval import N_QUERIES, proximity_from, token_postings

__all__ = ["build_query_term_frame", "read_token_postings",
           "serve_term_proximity", "start_token_postings_stream",
           "write_batch_token_postings"]

_TOKPOS = store.Layout("tokpos", cols=("doc_id", "pos", "term"))


def write_batch_token_postings(batch: DataFrame, state_dir: str,
                               batch_id: int) -> None:
    """Persist one doc-disjoint batch's token postings under its own
    batch partition (overwrite = idempotent replay)."""
    store.write(token_postings(batch.select("doc_id", "text")),
                state_dir, _TOKPOS, batch_id)


def read_token_postings(spark: SparkSession, state_dir: str) -> DataFrame:
    """Stored token postings across all batches — a plain partitioned
    scan (doc-disjoint batches: a doc's rows exist exactly once)."""
    return store.read(spark, state_dir, _TOKPOS)


def build_query_term_frame(query_docs: DataFrame) -> DataFrame:
    """Distinct (query_id, term) probe from the static query corpus
    (doc_id < N_QUERIES), eagerly checkpointed for reuse across
    served reads."""
    return (token_postings(query_docs.where(F.col("doc_id") < N_QUERIES))
            .select(F.col("doc_id").alias("query_id"), "term")
            .distinct()
            .localCheckpoint(eager=True))


def serve_term_proximity(spark: SparkSession, state_dir: str,
                         qtermf: DataFrame) -> DataFrame:
    """q182's output for an ARBITRARY (query_id, term) probe frame,
    served entirely from the postings store."""
    return proximity_from(read_token_postings(spark, state_dir), qtermf)


def start_token_postings_stream(stream_docs: DataFrame, state_dir: str,
                                checkpoint_dir: str):
    """availableNow/foreachBatch wiring for the token-postings store."""
    return store.start(
        stream_docs,
        lambda b, i: write_batch_token_postings(b, state_dir, i),
        checkpoint_dir, root=state_dir)


def serve_best_passage(spark: SparkSession, state_dir: str,
                       qtermf: DataFrame) -> DataFrame:
    """q188's output for an ARBITRARY (query_id, term) probe frame,
    served entirely from the token-postings store through the shared
    ``retrieval.best_passage_from`` core — ad-hoc passage probes
    against an already-ingested corpus, the serve_term_proximity
    contract extended to passage extraction."""
    from ..operators.retrieval import best_passage_from
    return best_passage_from(read_token_postings(spark, state_dir),
                             qtermf)
