"""Streaming incremental dedup — the online version of
operators/increment.q109: new documents arrive as a stream and each
micro-batch gets exact/near/new verdicts against a STATIC index of
already-ingested content (its hash set and LSH band keys).

Spark shape: verdict logic needs a per-doc aggregation over band hits,
which an append-mode streaming plan cannot express without unbounded
state — so the stream runs through ``foreachBatch``, where every
micro-batch is a plain DataFrame and the full batch join+agg logic is
legal. That is also the production-correct semantics: verdicts are
per-ingest-batch against the authoritative index, not against
accumulated stream state; the index sides are static DataFrames
(parquet/Delta tables maintained by the batch pipeline, bucketed by
their join keys so the per-batch joins co-locate).

Citation: the reference has no dedup at all (433-line tick ETL,
/root/reference/src/main.rs); this is north-star extension surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import store
from .. import memo
from ..operators.dedup import (
    BAND_ROWS,
    N_BANDS,
    _minhash_signature_from_sh,
    _spark_shingle_hashes,
    propagate_min_labels,
)


def _band_flat(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) LSH band rows for a documents frame."""
    sig = _minhash_signature_from_sh(_spark_shingle_hashes(docs))
    band_key = [
        F.concat_ws("|", *[F.col(f"h{b * BAND_ROWS + r}").cast("string")
                           for r in range(BAND_ROWS)]).alias(f"band{b}")
        for b in range(N_BANDS)]
    stack_expr = ", ".join(f"{b}, band{b}" for b in range(N_BANDS))
    return (sig.select("doc_id", *band_key)
            .selectExpr("doc_id",
                        f"stack({N_BANDS}, {stack_expr}) AS (band_id, band_key)"))


def build_band_index(docs: DataFrame) -> DataFrame:
    """Static LSH band index: distinct (band_id, band_key) over the
    ingested corpus. In production this materializes to a table
    bucketed by (band_id, band_key) so the per-batch join is
    co-located."""
    return _band_flat(docs).select("band_id", "band_key").distinct()


def build_hash_index(docs: DataFrame) -> DataFrame:
    """Static exact-dup index: distinct content hashes of the corpus."""
    return (docs.select(F.md5(F.col("text").cast("binary")).alias("h"))
            .distinct())


def incremental_verdicts(batch_docs: DataFrame, hash_index: DataFrame,
                         band_index: DataFrame,
                         band_bloom=None) -> DataFrame:
    """exact/near/new verdict per doc for one (micro-)batch of
    documents (columns: doc_id, text) against the static indexes —
    identical semantics to q109's batch split, reused by the streaming
    foreachBatch body below.

    ``band_bloom``: optional ``build_band_bloom(band_index)`` state;
    when given, Bloom-negative band rows are dropped before the index
    join (no false negatives -> identical verdicts, smaller shuffle)."""
    exact = (batch_docs
             .select("doc_id",
                     F.md5(F.col("text").cast("binary")).alias("h"))
             .join(hash_index, "h", "left_semi")
             .select("doc_id", F.lit(True).alias("is_exact")))
    bands = _band_flat(batch_docs)
    if band_bloom is not None:
        bands = bloom_filter_bands(bands, *band_bloom)
    near = (bands
            .join(band_index, ["band_id", "band_key"], "left_semi")
            .select("doc_id").distinct()
            .select("doc_id", F.lit(True).alias("is_near")))
    return (batch_docs.select("doc_id")
            .join(exact, "doc_id", "left")
            .join(near, "doc_id", "left")
            .select("doc_id",
                    F.when(F.col("is_exact"), "exact")
                     .when(F.col("is_near"), "near")
                     .otherwise("new").alias("verdict")))


def start_incremental_dedup(stream_docs: DataFrame, hash_index: DataFrame,
                            band_index: DataFrame, out_path: str,
                            checkpoint_dir: str):
    """Wire the streaming documents source through foreachBatch verdicts
    into an append-mode parquet sink (exactly-once via checkpoint).
    Returns the StreamingQuery handle."""
    def body(batch_df: DataFrame, batch_id: int) -> None:
        (incremental_verdicts(batch_df, hash_index, band_index)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(out_path))

    return store.start(stream_docs, body, checkpoint_dir)


# ---------------------------------------------------------------------------
# Bloom pre-filter for the band join (q136's audited design, wired into
# the live path): the static band index compresses to a data-sized
# bitset (~10 bits per band key, 32-bit words) that broadcasts with the
# job; each micro-batch discards Bloom-negative band rows BEFORE the
# index join. Bloom filters have no false negatives, so verdicts are
# IDENTICAL with or without the filter — only the join's probe volume
# changes (at corpus scale, most of a novel batch never reaches the
# shuffle). Hashes are Spark-side xxhash64 with a literal salt per
# probe — no cross-engine contract here (the oracle-parity variant
# lives in operators/increment.q136).
# ---------------------------------------------------------------------------
BLOOM_K = 3
BLOOM_BITS_PER_KEY = 10
BLOOM_MIN_BITS = 1024


def build_band_bloom(band_index: DataFrame):
    """(bitset, nbits): broadcastable Bloom state for a (band_id,
    band_key) index — <= bits/32 rows of (word, bits) bigints."""
    nbits = band_index.agg(
        F.greatest(F.count("*") * BLOOM_BITS_PER_KEY,
                   F.lit(BLOOM_MIN_BITS)).alias("bloom_bits"))
    base = band_index.crossJoin(F.broadcast(nbits))
    positions = None
    for i in range(BLOOM_K):
        p = base.select(F.pmod(F.xxhash64(F.lit(i), "band_id", "band_key"),
                               F.col("bloom_bits")).alias("pos"))
        positions = p if positions is None else positions.unionAll(p)
    bitset = (positions
              .select((F.col("pos") / 32).cast("bigint").alias("word"),
                      F.expr("shiftleft(cast(1 as bigint), "
                             "cast(pos % 32 as int))").alias("bit"))
              .groupBy("word").agg(F.bit_or("bit").alias("bits")))
    return bitset, nbits


def bloom_filter_bands(band_rows: DataFrame, bitset: DataFrame,
                       nbits: DataFrame) -> DataFrame:
    """Drop (doc_id, band_id, band_key) rows that the Bloom filter
    proves absent from the index (no false negatives — survivors are a
    superset of true matches)."""
    salted = band_rows.crossJoin(F.broadcast(nbits))
    probes = None
    for i in range(BLOOM_K):
        p = salted.select(
            "doc_id", "band_id", "band_key",
            F.pmod(F.xxhash64(F.lit(i), "band_id", "band_key"),
                   F.col("bloom_bits")).alias("pos"))
        probes = p if probes is None else probes.unionAll(p)
    hit = F.when(
        F.expr("shiftright(bits, cast(pos % 32 as int)) & 1") == 1,
        1).otherwise(0)
    kept = (probes.join(F.broadcast(bitset),
                        (F.col("pos") / 32).cast("bigint") == F.col("word"),
                        "left")
            .groupBy("doc_id", "band_id", "band_key")
            .agg(F.min(hit).alias("bloom_hit"))
            .where(F.col("bloom_hit") == 1)
            .drop("bloom_hit"))
    return kept


# ---------------------------------------------------------------------------
# Incremental connected-components maintenance: the streaming twin of
# q55's keep-one clustering. Recomputing corpus-wide components per
# ingest batch is the one thing a 100 TB dedup pipeline cannot afford;
# the production shape (union-find service / periodic compaction) is:
# label each ARRIVING doc immediately, and emit MERGE EVENTS whenever a
# batch doc bridges existing components — the index rewriter applies
# the events at compaction time (a component id is only ever RELABELED
# DOWNWARD, so events compose by union-find in any order).
#
# Per micro-batch:
#   1. matches: batch band rows equi-join the LABELED band index
#      (band_id, band_key, component) — candidate-bounded, exactly the
#      q109/q42 join shape.
#   2. seed: every batch doc starts at min(own id, matched components).
#   3. intra-batch propagation: batch-batch band collisions form a
#      tiny subgraph; propagate_min_labels converges it (the q55 loop
#      on a micro-batch-sized frame).
#   4. assignments: (doc_id, component) — the final label is the min
#      over the doc's connected batch subgraph of {batch ids} ∪
#      {matched index component ids} = the merged component's global
#      minimum, exactly what a full q55 over index ∪ batch assigns.
#   5. merges: (component_keep, component_absorb) for every matched
#      index component ≠ its group's final label — including the case
#      where a BATCH id is the new global minimum.
#
# Static-index-per-stream caveat (deliberate, same as every twin
# here): docs in DIFFERENT micro-batches link only THROUGH the index,
# not to each other — arrival order matters for batch-batch near-dups,
# and the periodic index rebuild (re-running q55) restores the exact
# fixpoint. The batch-parity test proves one-batch updates reproduce
# the full q55 labels on index ∪ batch exactly.
# ---------------------------------------------------------------------------
_INDEX = memo.register("component_index")


def build_component_index(docs: DataFrame, *, max_rounds: int = 20):
    """(labels, labeled_bands) static state for a corpus frame:
    converged (doc_id, component) labels and the DISTINCT
    (band_id, band_key, component) rows the per-batch join probes.
    Both eagerly checkpointed — BUILD ONCE, reuse per batch (the
    production semantics): rebuilds of the same corpus frame within
    one Spark application return the memoized checkpointed state,
    keyed by (applicationId, analyzed-plan semanticHash, input files)
    so different filters over the same files never collide."""
    files = tuple(sorted(docs.inputFiles()))
    key = ((docs.sparkSession.sparkContext.applicationId,
            docs._jdf.queryExecution().analyzed().semanticHash(),
            files) if files else None)
    return _INDEX.get_or_build(key,
                               lambda: _build_index(docs, max_rounds))


def _build_index(docs: DataFrame, max_rounds: int):
    flat = _band_flat(docs).localCheckpoint(eager=True)
    a = flat.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b = flat.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    pairs = (a.join(b, ["band_id", "band_key"])
              .where(F.col("doc_a") < F.col("doc_b"))
              .select("doc_a", "doc_b").distinct())
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst"))))
    active = edges.select(F.col("src").alias("doc_id")).distinct()
    seed = active.select("doc_id", F.col("doc_id").alias("component"))
    conv = propagate_min_labels(seed, edges, max_rounds=max_rounds)
    # no checkpoint: conv is already materialized by the propagation
    # loop; labels is one cheap projection-join over it per consumer
    labels = (docs.select("doc_id").join(conv, "doc_id", "left")
              .select("doc_id",
                      F.coalesce("component", F.col("doc_id"))
                       .alias("component")))
    labeled_bands = (flat.join(labels, "doc_id")
                     .select("band_id", "band_key", "component")
                     .distinct()
                     .localCheckpoint(eager=True))
    return labels, labeled_bands


def incremental_component_updates(batch_docs: DataFrame,
                                  labeled_bands: DataFrame,
                                  *, max_rounds: int = 10):
    """(assignments, merges) for one (micro-)batch of (doc_id, text)
    rows against the static labeled band index — see block comment.

    Labels are COMPONENT REFERENCES: a doc assigned component C where
    C itself appears as component_absorb in the merge events resolves
    to the event's keep side (transitively — union-find at the
    applier, monotone because keep < absorb always). The batch-parity
    test proves resolved(old labels + assignments) equals a full q55
    rebuild over index ∪ batch, row for row."""
    bands = _band_flat(batch_docs)
    matched = (bands.join(labeled_bands, ["band_id", "band_key"])
               .select("doc_id", "component"))
    seed = (batch_docs.select("doc_id")
            .join(matched.groupBy("doc_id")
                         .agg(F.min("component").alias("mc")),
                  "doc_id", "left")
            .select("doc_id",
                    F.least(F.col("doc_id"),
                            F.coalesce("mc", F.col("doc_id")))
                     .alias("component")))
    a = bands.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    bpairs = (a.join(b, ["band_id", "band_key"])
               .where(F.col("doc_a") < F.col("doc_b"))
               .select("doc_a", "doc_b").distinct())
    edges = (bpairs.select(F.col("doc_a").alias("src"),
                           F.col("doc_b").alias("dst"))
             .unionByName(bpairs.select(F.col("doc_b").alias("src"),
                                        F.col("doc_a").alias("dst"))))
    assignments = propagate_min_labels(seed, edges,
                                       max_rounds=max_rounds)
    # merge events: within each batch-connected group, every matched
    # index component above the group's final label is absorbed by it
    # (the label can be a BATCH id when that id is the new global min)
    grp = (matched.join(assignments.select(
               "doc_id", F.col("component").alias("label")), "doc_id")
           .select("label", "component"))
    merges = (grp.where(F.col("component") != F.col("label"))
                 .select(F.col("label").alias("component_keep"),
                         F.col("component").alias("component_absorb"))
                 .distinct())
    return assignments, merges


def run_component_stream(stream_docs: DataFrame, labeled_bands: DataFrame,
                         sink, *, checkpoint: str | None = None):
    """Wire a (doc_id, text) stream through per-batch component
    updates; ``sink(assignments_df, merges_df, batch_id)`` receives
    each micro-batch's label frame and merge events."""
    def _each(batch: DataFrame, batch_id: int) -> None:
        sink(*incremental_component_updates(batch, labeled_bands),
             batch_id)

    return store.start(stream_docs, _each, checkpoint)
