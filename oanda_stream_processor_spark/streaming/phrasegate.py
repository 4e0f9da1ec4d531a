"""Streaming phrase-retrieval gate — the online twin of
operators/retrieval.q179 (exact consecutive-trigram phrase match over
positional postings).

Decomposition: the phrase set is FIXED for a stream (the query
documents' leading trigrams — a bounded broadcast frame), and a
candidate document's matches depend on that document alone, so the
q179 result is ROW-DISJOINT over any doc-disjoint batching: each
micro-batch contributes exactly the (query_id, cand_id, n_hits,
first_pos) rows of its own documents, and the merged result is a
plain union — no SUM ledger, no re-aggregation, the strongest merge
algebra any gate in this repo has (cf. bm25gate's SUM stats,
hllgate's MAX registers, kmvgate's min-k).

Per-batch partials land under per-batch overwrite partitions
(idempotent replay, the matview pattern); the read side is a
partitioned parquet scan.  Parity theorem (pytest-proven): the union
of partials over ANY doc-disjoint batching equals one-shot q179
row-for-row — positions, counts and the trigram hashes are pure
per-document integer functions.

Shape (100 TB): each batch runs the numpy trigram kernel over its own
documents only and probes the broadcast phrase frame — no state reads
on the hot path, state grows by exactly the batch's match rows.  The
phrase frame comes from the STATIC query corpus (built once,
checkpointed); arriving docs never extend the query set mid-stream
(static-queries-per-stream, the same reasoning as winnowgate's
static index).

Reference basis: the reference (433-line tick ETL) has no retrieval;
north-star extension (SURVEY.md §2.2 LLM-pipeline family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store
from ..operators.dedup import _spark_shingle_hashes
from ..operators.retrieval import N_QUERIES

__all__ = ["build_phrase_frame", "batch_phrase_matches",
           "read_phrase_matches", "start_phrase_stream"]

_MATCHES = store.Layout("matches",
                        cols=("query_id", "cand_id", "n_hits", "first_pos"))
_POSTINGS = store.Layout("postings", cols=("doc_id", "pos", "sh"))


def build_phrase_frame(query_docs: DataFrame) -> DataFrame:
    """(query_id, qsh) — each query document's leading-trigram hash
    (q179's probe set).  Built once from the static query corpus and
    eagerly checkpointed; every micro-batch probes it as a broadcast."""
    psh = _spark_shingle_hashes(
        query_docs.where(F.col("doc_id") < N_QUERIES)
        .select("doc_id", "text"), with_pos=True)
    return (psh.where(F.col("pos") == 1)
            .select(F.col("doc_id").alias("query_id"),
                    F.col("sh").alias("qsh"))
            .localCheckpoint(eager=True))


def batch_phrase_matches(batch: DataFrame,
                         phrases: DataFrame) -> DataFrame:
    """One micro-batch's q179 rows: the batch's positional postings
    probed against the broadcast phrase frame."""
    psh = _spark_shingle_hashes(batch.select("doc_id", "text"),
                                with_pos=True)
    return (psh.join(F.broadcast(phrases), psh.sh == phrases.qsh)
            .where(F.col("doc_id") != F.col("query_id"))
            .groupBy("query_id", F.col("doc_id").alias("cand_id"))
            .agg(F.count("*").alias("n_hits"),
                 F.min("pos").alias("first_pos")))


def read_phrase_matches(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged matches over all persisted batch partials — a plain
    union (doc-disjoint batches: a candidate's rows exist exactly
    once)."""
    return store.read(spark, state_dir, _MATCHES)


def start_phrase_stream(stream_docs: DataFrame, phrases: DataFrame,
                        state_dir: str, checkpoint_dir: str):
    """Wire a streaming documents source into the gate: each batch
    overwrites its own match partial."""
    def body(batch_df: DataFrame, batch_id: int) -> None:
        store.write(batch_phrase_matches(batch_df, phrases), state_dir,
                    _MATCHES, batch_id)

    return store.start(stream_docs, body, checkpoint_dir, root=state_dir)


# --- positional-postings serving store (round 11) ------------------------------
#
# The match store above answers the FIXED phrase set the stream was
# started with.  The postings store persists each batch's raw
# positional trigram postings (doc_id, pos, sh) under batch_id
# partitions instead, so AD-HOC phrases — composed after ingest, never
# seen by the stream — are served by one broadcast probe of the stored
# postings.  Doc-disjoint batches mean the store needs no merge; the
# probe is the same join shape as one-shot q179, so serving any phrase
# set over the ingested corpus equals running q179 with that phrase
# set on the materialized corpus (pytest-proven, including per append
# prefix).  This is the retrieval-index trade stated plainly: the
# match store is O(matches) and phrase-fixed; the postings store is
# O(corpus trigrams) and phrase-free.

def write_batch_postings(batch: DataFrame, state_dir: str,
                         batch_id: int) -> None:
    """Persist one batch's positional trigram postings under its own
    batch partition (overwrite = idempotent replay)."""
    store.write(_spark_shingle_hashes(batch.select("doc_id", "text"),
                                      with_pos=True),
                state_dir, _POSTINGS, batch_id)


def read_postings(spark: SparkSession, state_dir: str) -> DataFrame:
    """Stored positional postings across all batches — a plain
    partitioned scan (doc-disjoint batches)."""
    return store.read(spark, state_dir, _POSTINGS)


def serve_phrase_matches(spark: SparkSession, state_dir: str,
                         phrases: DataFrame) -> DataFrame:
    """q179's output for an ARBITRARY (query_id, qsh) phrase frame,
    served entirely from the postings store."""
    psh = read_postings(spark, state_dir)
    return (psh.join(F.broadcast(phrases), psh.sh == phrases.qsh)
            .where(F.col("doc_id") != F.col("query_id"))
            .groupBy("query_id", F.col("doc_id").alias("cand_id"))
            .agg(F.count("*").alias("n_hits"),
                 F.min("pos").alias("first_pos")))


def start_postings_stream(stream_docs: DataFrame, state_dir: str,
                          checkpoint_dir: str):
    """availableNow/foreachBatch wiring for the postings store."""
    return store.start(
        stream_docs, lambda b, i: write_batch_postings(b, state_dir, i),
        checkpoint_dir, root=state_dir)
