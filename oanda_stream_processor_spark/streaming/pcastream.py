"""Streaming PCA moment accumulation — the online twin of
operators/similarity.q151: the corpus second-moment matrix maintained
incrementally over an unbounded embedding stream, with the SAME
fixed-point power iteration producing the SAME eigenvector as the
batch operator run over everything seen so far.

Why this composes exactly (not approximately): q151's moment matrix is
a sum of per-row INTEGER terms (floor(x_i * x_j * 1e6)), and integer
addition is associative and commutative — so per-batch partials merged
cellwise equal the single-pass matrix bit-for-bit, regardless of batch
boundaries, retries, or partition order. This is the same mergeability
argument as the CMS sketch (`streaming/sketch.py`), applied to an
eigenproblem: the STATE is mergeable even though the eigenvector
itself is not.

State layout mirrors sketch.py: each micro-batch writes its DIM*DIM
partial under its batch partition (overwrite of that partition = idempotent
replay on recovery); the running matrix is the cellwise SUM over the
directory (production: a Delta table with MERGE), and the power
iteration runs on demand against the summed 4096-row frame.

Citation: the reference (433-line tick ETL) has no aggregation state;
north-star extension surface (SURVEY.md §2.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import store
from ..operators.similarity import pca_from_moments, pca_moment_partials

__all__ = ["batch_moments", "read_moments", "pca_top_component",
           "start_pca_stream"]

_MOMENTS = store.Layout("", store.sum_by(["i", "j"], "c"))


def batch_moments(embeddings: DataFrame) -> DataFrame:
    """(i, j, c) integer moment partial for one batch of embeddings —
    identical arithmetic to q151, so partials merge exactly."""
    return pca_moment_partials(embeddings)


def read_moments(spark: SparkSession, state_dir: str) -> DataFrame:
    """The running moment matrix: cellwise sum over every persisted
    partial (summing at read time makes partial writes
    idempotent-safe; a replayed batch_id replaces its own rows)."""
    return store.read(spark, state_dir, _MOMENTS)


def pca_top_component(spark: SparkSession, state_dir: str) -> DataFrame:
    """(pos, v_fp, eigval_fp) of everything streamed so far —
    bit-identical to q151 over the union of all arrived batches."""
    return pca_from_moments(spark, read_moments(spark, state_dir))


def start_pca_stream(stream_embeddings: DataFrame, state_dir: str,
                     checkpoint_dir: str):
    """Wire a streaming (vec_id, embedding) source into the running
    moment state. Exactly-once via the streaming checkpoint plus
    idempotent-by-batch_id partial writes."""
    def body(batch_df: DataFrame, batch_id: int) -> None:
        store.write(batch_moments(batch_df), state_dir, _MOMENTS, batch_id)

    return store.start(stream_embeddings, body, checkpoint_dir,
                       root=state_dir)
