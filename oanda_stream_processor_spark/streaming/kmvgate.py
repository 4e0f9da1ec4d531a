"""Streaming KMV sketch gate — the online twin of
operators/textops.q170 (bottom-k source-overlap sketches).

Tracks per-source distinct-gram sketches as data arrives, serving two
reads with FIXED state (|sources| x KMV_K hashes):

* pairwise overlap estimates between sources (q170's estimator,
  shared code — est_J = |A ∩ B ∩ M_k| / k_used);
* per-source distinct-count estimates ((k-1)/U(k), one integer
  division) — cardinality without any exact-distinct state, the
  second sketch family to answer q169's question.

The merge is the min-k semiring: k smallest of the distinct union —
associative, commutative, IDEMPOTENT (a duplicated batch partial
changes nothing, same recovery strength as the HLL gate's MAX merge
and stronger than the SUM ledgers). Each batch writes its OWN
bottom-k partial under its batch partition (overwrite-by-partition =
idempotent replay); the read side merges with one groupBy of
per-source array math. Batch/stream parity is pytest-proven: merged
sketches over any batching equal the one-shot q170 sketches
element-for-element, hence so do all estimates.

Citation: the reference (433-line tick ETL, /root/reference/src/
main.rs) has no sketching; north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import store
from ..operators.textops import (
    kmv_cardinality,
    kmv_overlap_estimates,
    kmv_sketch_arrays,
    merge_kmv_sketches,
)

_SKETCHES = store.Layout("", lambda df: merge_kmv_sketches(
    df.select("source", "sk")))


def batch_sketches(docs: DataFrame) -> DataFrame:
    """The (source, sk[]) bottom-k partial for one batch."""
    return kmv_sketch_arrays(docs)


def read_sketches(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged per-source sketches from the persisted partials."""
    return store.read(spark, state_dir, _SKETCHES)


def read_overlaps(spark: SparkSession, state_dir: str) -> DataFrame:
    """Running pairwise overlap estimates (q170's estimator)."""
    return kmv_overlap_estimates(read_sketches(spark, state_dir))


def read_cardinalities(spark: SparkSession, state_dir: str) -> DataFrame:
    """Running per-source distinct-count estimates."""
    return kmv_cardinality(read_sketches(spark, state_dir))


def start_kmv_stream(stream_docs: DataFrame, state_dir: str,
                     checkpoint_dir: str):
    """Wire a streaming documents source into the sketch gate: each
    batch overwrites its own partial."""
    def body(batch_df: DataFrame, batch_id: int) -> None:
        store.write(batch_sketches(batch_df), state_dir, _SKETCHES,
                    batch_id)

    return store.start(stream_docs, body, checkpoint_dir, root=state_dir)
