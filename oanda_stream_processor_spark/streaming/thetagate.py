"""Streaming θ gate — a store-derived pruning threshold for the
served MaxScore read (r14; r13 verdict Next-round #4).

THE PROBLEM: θ — the POOL-th best true BM25 score per query — is a
RANK statistic, not SUM-mergeable (ROADMAP names it "NOT mergeable"),
and no stored SCORE can survive corpus growth anyway: every per-term
idf moves when df/n_docs change, in either direction.  The one-shot
q178/q189 plans pay a seed-scoring pass at read time to obtain θ, and
so does the served serve_bm25_topk on a store without this histogram
(or with theta='seed').

THE HISTOGRAM WAY AROUND IT (the histgate pattern, conservative-side-
only): don't store scores — store the SCORE-FREE per-posting facts
(term, capped tf, dl bucket) as SUM-mergeable counts, and derive a θ
LOWER BOUND at read time by pricing those facts with the CURRENT
merged (df, n_docs, Σdl):

  c(term, tfc, dlb) = floor(idf_now · satur(tfc, 2^(dlb+1)) · FP) − 2

is ≤ the snapped contribution fp(term, d) of EVERY doc d counted in
that cell: tfc = min(tf, TG_TF_CAP) ≤ tf (saturation is increasing in
tf), 2^(dlb+1) > dl for dlb = floor(log2 dl) (saturation is
decreasing in dl), idf is the exact current value, and the −2 covers
the floor-vs-round snap gap.  A doc's FULL score is ≥ any single
term's contribution, so if a term's histogram shows ≥ POOL + 1 docs
in cells priced ≥ c* (the +1 spends one doc on the possibility that
the query document itself is among them — the store cannot know),
then at least POOL true candidates score ≥ c*, hence

  θ_true ≥ θ_lb = max over the query's terms of that c*.

PRUNE-SAFETY (why a lower bound is enough): the essential split
(retrieval._essential_terms) prunes the ascending-UB prefix with
cumsum STRICTLY below the supplied θ.  With θ_lb ≤ θ_true, every
pruned doc scores < θ_lb ≤ θ_true, so it can never displace a
POOL-th-or-better row — underestimating θ only prunes LESS, never
wrongly.  The served read built on it is therefore exact (pytest:
pruned ≡ unpruned per append prefix), and the routing decision is
conservative-side-only: when the histogram is too coarse to clear
any prefix, the read degrades to the full-pool plan's candidate
set, never to a wrong answer.

SOUNDNESS PRECONDITION (r14 ADVICE — the claim above is NOT
unconditional): θ_lb ≤ θ_true requires the histogram to count no
doc absent from the postings store it prices against — counts of
not-yet-ingested docs could push a cell's cumulative count past
POOL + 1 and certify a θ the SERVED corpus cannot achieve.  Two
layouts guarantee it:

* CANONICAL (r15): bm25gate.write_batch_partials persists the
  impact histogram as its sixth partial (<bm25_state>/impact) from
  the SAME cached per-batch tf — hist-docs ⊆ store-docs holds by
  construction, one writer, one checkpoint.  Pass theta_state=None
  (or the bm25gate read path) to use it.
* EXTERNAL (start_theta_stream — a separately-checkpointed feed):
  the read ENFORCES the invariant with a batch-id guard
  (hist_not_ahead: histogram partitions ⊆ tf-store partitions, a
  driver-side directory listing) and falls back to the seed-scoring
  read when the histogram may have run ahead — conservative, still
  exact.  The guard assumes the two streams batch the same source
  identically (aligned batch ids — true for the availableNow
  wiring here); feeds with unaligned batching must use the
  canonical layout instead.

What this buys at read time: serve_bm25_topk's θ costs a seed
CANDIDATE SCORING pass (join seed postings, score, rank) per read;
the histogram θ is arithmetic over a (vocab × TG_TF_CAP × ~40)-
bounded merged sketch joined to the |queries|-bounded term probe —
no candidate scoring before the single exact scoring pass.

State shape: one (term, tfc, dlb, n) SUM partial per batch under
its batch partition (overwrite = idempotent replay, the histgate/bm25gate
scheme).  Cells are ≤ |vocab| · 32 · ~40 but physically bounded by
the batch's distinct postings — in practice ~|vocab| rows (tf and dl
concentrate).  Docs are atomic per batch, so tf and dl are final at
write time; merging is exact integer SUM over doc-disjoint batches.

Citation: the reference (433-line tick ETL, /root/reference/src/
main.rs) has no retrieval surface; north-star extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import store
from ..operators.retrieval import (
    BM25_B,
    BM25_K1,
    FP,
    POOL,
    TOP_K,
    corpus_term_frames,
)

TG_TF_CAP = 32   # tf cap in the histogram key (satur ↑ in tf: safe)


def impact_partial_from(tf: DataFrame, dl: DataFrame) -> DataFrame:
    """(term, tfc, dlb, n) from explicit batch postings frames — the
    shape bm25gate.write_batch_partials persists as its sixth partial
    (r15: the canonical lockstep layout, reusing the writer's cached
    tf so the histogram is BY CONSTRUCTION over exactly the docs the
    postings store carries — the r14 ADVICE soundness condition)."""
    return (tf.join(dl, "cand_id")
            .select("term",
                    F.least(F.col("tf"), F.lit(TG_TF_CAP)).alias("tfc"),
                    F.floor(F.log2(F.col("dl").cast("double")))
                    .cast("int").alias("dlb"))
            .groupBy("term", "tfc", "dlb")
            .agg(F.count("*").alias("n")))


def batch_impact_partial(docs: DataFrame) -> DataFrame:
    """(term, tfc, dlb, n) — one batch's score-free impact histogram:
    capped term frequency × log2 doc-length bucket, counted.  A pure
    SUM partial (each (doc, term) posting lives in exactly one
    batch)."""
    tf, _, dl, _ = corpus_term_frames(docs)
    return impact_partial_from(tf, dl)


def read_impact_hist(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged (term, tfc, dlb, n) over all persisted batch partials."""
    return store.read(spark, state_dir, store.HIST)


def theta_lower_bound(hist: DataFrame, dfq: DataFrame,
                      stats: DataFrame, qterms: DataFrame,
                      theta_rank: int = POOL) -> DataFrame:
    """(query_id, theta) — the conservative θ lower bound priced from
    the merged histogram with CURRENT corpus stats (module docstring
    for the soundness argument).  Queries where no single term shows
    theta_rank + 1 docs above any positive cell price get NO row —
    the essential split then keeps all their terms (prunes less,
    stays exact).  Bounded: the priced frame is |query terms| ×
    histogram cells per term; the window partitions on (query, term)
    over ≤ TG_TF_CAP · ~40 rows."""
    idf = F.log(F.lit(1.0)
                + ((F.col("n_docs") - F.col("df")) + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    qstat = (qterms.join(dfq, "term").crossJoin(F.broadcast(stats))
             .select("query_id", "term", idf.alias("_idf"),
                     (F.col("sum_dl") / F.col("n_docs"))
                     .alias("_avgdl")))
    dl_ub = F.pow(F.lit(2.0), F.col("dlb") + F.lit(1))
    satur_lb = (F.col("tfc") * F.lit(BM25_K1 + 1.0)
                / (F.col("tfc")
                   + F.lit(BM25_K1) * (F.lit(1.0) - F.lit(BM25_B)
                                       + F.lit(BM25_B)
                                       * (dl_ub / F.col("_avgdl")))))
    c = (F.floor(F.col("_idf") * satur_lb * F.lit(FP)) - F.lit(2)) \
        .cast("long")
    priced = (hist.join(qstat, "term")
              .select("query_id", "term", c.alias("c"), "n")
              .groupBy("query_id", "term", "c")
              .agg(F.sum("n").alias("n")))
    w = (W.partitionBy("query_id", "term").orderBy(F.desc("c"))
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    reached = (priced.withColumn("_cum", F.sum("n").over(w))
               .where((F.col("_cum") >= theta_rank + 1)
                      & (F.col("c") > 0)))
    return reached.groupBy("query_id").agg(F.max("c").alias("theta"))


def hist_not_ahead(spark: SparkSession, bm25_state: str,
                   theta_state: str) -> bool:
    """The soundness precondition for an EXTERNALLY-fed histogram
    (module docstring): every batch the histogram describes is in the
    postings store — checked as batch-id set inclusion (the two
    availableNow streams batch the same source identically, so ids
    align; a histogram that ran ahead carries extra ids)."""
    return (store.batch_ids(theta_state).keys()
            <= store.batch_ids(bm25_state, store.TF).keys())


def serve_bm25_topk_hist_theta(spark: SparkSession, bm25_state: str,
                               theta_state: str | None = None, *,
                               plan: str | None = None) -> DataFrame:
    """q175's output shape served from the incremental BM25 store with
    the pruning θ derived from the PERSISTED histogram instead of a
    read-time seed-scoring pass.  Routed through the same stored-
    postings plan gate as serve_bm25_topk; the pruned routes run the
    shared essential split with θ_lb (plus the blocked skip on the
    'block' route) and score the essential-matched candidate set
    once — exact for any θ lower bound that satisfies the soundness
    precondition (module docstring), pytest-pinned pruned ≡ flat per
    append prefix on flat and Zipfian stored corpora.
    ``theta_state=None`` reads the canonical lockstep histogram
    (<bm25_state>/impact — sound by construction); an explicit
    external store is admitted through the hist_not_ahead guard,
    falling back to the seed-scoring read (exact, just slower) when
    the histogram may describe docs the postings store lacks.
    ``plan`` forces a route (tests); None lets the gate decide."""
    from ..operators.retrieval import maxscore_gate_plan_from_postings
    from .bm25gate import read_dl, read_tf, serve_bm25_topk

    if theta_state is not None and not hist_not_ahead(spark, bm25_state,
                                                      theta_state):
        # external histogram may describe docs the store lacks: its
        # θ is not a certified lower bound — take the seed-pass read
        # (exact regardless; module docstring, r14 ADVICE)
        return serve_bm25_topk(spark, bm25_state, plan=plan,
                               theta="seed")
    if plan is None:
        plan = maxscore_gate_plan_from_postings(
            read_tf(spark, bm25_state), read_dl(spark, bm25_state))
    if plan == "flat":
        return serve_bm25_topk(spark, bm25_state, plan="flat")
    hist = (store.read(spark, bm25_state, store.IMPACT)
            if theta_state is None
            else read_impact_hist(spark, theta_state))
    return hist_theta_pruned_topk(spark, bm25_state, hist,
                                  blocks=(plan == "block"))


def maybe_read_impact_hist(spark: SparkSession,
                           bm25_state: str) -> DataFrame | None:
    """The merged canonical lockstep histogram (<bm25_state>/impact,
    the sixth write_batch_partials partial) when the store carries
    one, else None — pre-r15 stores lack it and fall back to the
    seed-scoring θ (the maybe_read_block_stats shape)."""
    return store.maybe_read(spark, bm25_state, store.IMPACT)


def hist_theta_pruned_topk(spark: SparkSession, bm25_state: str,
                           hist: DataFrame, *,
                           blocks: bool = False) -> DataFrame:
    """The PRUNED serving read with θ priced from an in-hand merged
    histogram — the shared core of serve_bm25_topk_hist_theta and the
    default gated read (bm25gate.serve_bm25_topk routes here when the
    store carries the lockstep impact partial; r15, r14 verdict ask
    #3).  Caller certifies the histogram's soundness precondition
    (module docstring); the read itself is exact for any certified θ
    lower bound.

    ``blocks=True`` additionally applies the BLOCKED skip (r15: the
    fold extended to the served block-max read): essential-matched
    candidates are filtered by live (query, block) survivors priced
    from the persisted blocked layout with the SAME θ_lb.  Exactness
    composes — the q189 argument never uses that θ is the exact kth
    score, only that POOL true scores are ≥ it, which θ_lb certifies;
    and no seed candidate set is needed at all, because cand1's only
    role in the one-shot plan is COMPUTING θ (every true top-POOL doc
    matches an essential term, the q178 essential theorem, and sits
    in a live block — its own score ≥ θ_lb keeps its block's UB sum
    ≥ θ_lb).  Stores without the blocked partial derive it from
    tf ⋈ dl (maybe_read_block_stats)."""
    from ..operators.retrieval import (
        BLOCK_DOCS,
        _essential_terms,
        _pool_rank,
        block_upper_bounds,
        bm25_full_scores,
        query_terms_from,
        term_upper_bounds,
    )
    from .bm25gate import (
        maybe_read_block_stats,
        read_corpus_stats,
        read_dl,
        read_term_df,
        read_tf,
    )

    tf = read_tf(spark, bm25_state).localCheckpoint(eager=True)
    dl = read_dl(spark, bm25_state)
    qterms = query_terms_from(tf)
    dfq = read_term_df(spark, bm25_state)
    stats = read_corpus_stats(spark, bm25_state)
    theta = theta_lower_bound(hist, dfq, stats, qterms)
    ess = _essential_terms(term_upper_bounds(dfq, stats, qterms),
                           theta)
    cands = (tf.join(ess, "term")
             .where(F.col("cand_id") != F.col("query_id"))
             .select("query_id", "cand_id").distinct())
    if blocks:
        from ..operators.helpers import exact_tdiv
        blk = maybe_read_block_stats(spark, bm25_state)
        if blk is None:
            from ..operators.retrieval import block_stats_from
            blk = block_stats_from(tf, dl)
        bsum = (block_upper_bounds(blk, dfq, stats, qterms)
                .groupBy("query_id", "block_id")
                .agg(F.sum("ub_blk_fp").alias("blk_ub")))
        live = (bsum.join(F.broadcast(theta), "query_id", "left")
                .where(F.col("theta").isNull()
                       | ~(F.col("blk_ub") < F.col("theta")))
                .select("query_id", "block_id"))
        cands = (cands.withColumn("block_id",
                                  exact_tdiv(F.col("cand_id"),
                                             F.lit(BLOCK_DOCS)))
                 .join(live, ["query_id", "block_id"], "left_semi")
                 .select("query_id", "cand_id"))
    scores = bm25_full_scores(cands, tf, dfq, dl, stats, qterms)
    pool = _pool_rank(scores, [F.desc("fp_sum"), F.asc("cand_id")],
                      POOL)
    return (pool.where(F.col("rank") <= TOP_K)
            .select("query_id", "cand_id",
                    (F.col("fp_sum") / F.lit(FP)).alias("score"),
                    "rank"))


# --- BM25F: the per-field impact histogram (r16; VERDICT r15 ask #2) ----------
#
# The plain fold's analogue for the field-weighted model.  BM25F's
# per-term contribution saturates AFTER the cross-field weighted sum
# (tfw = Σ_f w_f·tf_f/B_f(dlf_f)), so a whole-doc histogram key would
# need the joint (tf_title, dlf_title, tf_body, dlf_body) — too wide.
# The way around: every field part of tfw is NONNEGATIVE, so a SINGLE
# field's lower bound already lower-bounds tfw, hence (saturation
# increasing) the term's contribution, hence the doc's score:
#
#   tfw_lb(t,f,cell) = w_f·tfc / ((1−b_f) + b_f·2^(dlbf+1)/avgdl_f)
#                    ≤ w_f·tf_f(t,d)/B_f(d) ≤ tfw(t,d)
#   c(cell) = floor(idf_now · tfw_lb/(k1+tfw_lb) · FP) − 2
#           ≤ fp(t,d) ≤ fp_sum(d)
#
# (tfc = min(tf, TG_TF_CAP) ≤ tf; 2^(dlbf+1) > dlf for dlbf =
# floor(log2 dlf); idf is the exact current value; −2 covers the
# floor-vs-round snap gap — the plain-fold argument per field.)
#
# COUNTING DISCIPLINE: a doc appears at most once per (term, FIELD)
# cell family (tff has one row per (doc, term, field)), so the
# cumulative count runs WITHIN one (query, term, field) — never
# across fields, where the same doc's title and body rows would
# double-count toward the theta_rank+1 requirement.  θ at TOP_K (the
# BM25F family pools at TOP_K depth).  Sound for the same lockstep
# reason as the plain fold: write_batch_field_partials persists the
# histogram as the field store's seventh partial from the SAME
# cached tff, so hist-docs ⊆ store-docs by construction.
# ------------------------------------------------------------------------------

def field_impact_partial_from(tff: DataFrame,
                              dlf: DataFrame) -> DataFrame:
    """(term, field, tfc, dlbf, n) from explicit batch field frames —
    the shape bm25gate.write_batch_field_partials persists as its
    seventh partial (canonical lockstep layout, the impact_partial_
    from scheme per field)."""
    return (tff.join(dlf, ["cand_id", "field"])
            .select("term", "field",
                    F.least(F.col("tf"), F.lit(TG_TF_CAP)).alias("tfc"),
                    F.floor(F.log2(F.col("dlf").cast("double")))
                    .cast("int").alias("dlbf"))
            .groupBy("term", "field", "tfc", "dlbf")
            .agg(F.count("*").alias("n")))


def read_field_impact_hist(spark: SparkSession,
                           state_dir: str) -> DataFrame:
    """Merged (term, field, tfc, dlbf, n) over all persisted batch
    partials."""
    return store.read(spark, state_dir, store.FHIST)


def maybe_read_field_impact_hist(spark: SparkSession,
                                 field_state: str) -> DataFrame | None:
    """The merged lockstep per-field histogram (<field_state>/fimpact)
    when the store carries one, else None — pre-r16 field stores fall
    back to the seed-scoring θ (the maybe_read_impact_hist shape)."""
    return store.maybe_read(spark, field_state, store.FIMPACT)


def bm25f_theta_lower_bound(fhist: DataFrame, dfd: DataFrame,
                            ndocs: DataFrame, avgf: DataFrame,
                            qterms: DataFrame,
                            theta_rank: int | None = None) -> DataFrame:
    """(query_id, theta) — the conservative BM25F θ lower bound priced
    from the merged per-field histogram with CURRENT corpus stats
    (block comment above for the soundness argument; the counting
    discipline keeps the cumulative window within (query, term,
    field)).  Queries where no single (term, field) shows
    theta_rank + 1 docs above a positive cell price get NO row — the
    essential split then keeps all their terms.  Bounded: |query
    terms| × 2 fields × ≤ TG_TF_CAP·~40 cells."""
    from ..operators.retrieval import (
        B_BODY,
        B_TITLE,
        TOP_K,
        W_BODY,
        W_TITLE,
        _bm25f_idf,
    )
    if theta_rank is None:
        theta_rank = TOP_K
    w_f = F.when(F.col("field") == "title", F.lit(W_TITLE)) \
           .otherwise(F.lit(W_BODY))
    b_f = F.when(F.col("field") == "title", F.lit(B_TITLE)) \
           .otherwise(F.lit(B_BODY))
    qstat = (qterms.join(dfd, "term").crossJoin(F.broadcast(ndocs))
             .select("query_id", "term", _bm25f_idf().alias("_idf")))
    dl_ub = F.pow(F.lit(2.0), F.col("dlbf") + F.lit(1))
    tfw_lb = ((w_f * F.col("tfc"))
              / ((F.lit(1.0) - b_f)
                 + b_f * (dl_ub / F.col("avgdl"))))
    c = (F.floor(F.col("_idf")
                 * (tfw_lb / (F.lit(BM25_K1) + tfw_lb))
                 * F.lit(FP)) - F.lit(2)).cast("long")
    priced = (fhist.join(avgf, "field")
              .join(qstat, "term")
              .select("query_id", "term", "field", c.alias("c"), "n")
              .groupBy("query_id", "term", "field", "c")
              .agg(F.sum("n").alias("n")))
    w = (W.partitionBy("query_id", "term", "field")
         .orderBy(F.desc("c"))
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    reached = (priced.withColumn("_cum", F.sum("n").over(w))
               .where((F.col("_cum") >= theta_rank + 1)
                      & (F.col("c") > 0)))
    return reached.groupBy("query_id").agg(F.max("c").alias("theta"))


def hist_theta_pruned_bm25f_topk(spark: SparkSession, field_state: str,
                                 fhist: DataFrame, *,
                                 blocks: bool = False,
                                 frames=None) -> DataFrame:
    """The PRUNED BM25F serving read with θ priced from an in-hand
    merged per-field histogram — hist_theta_pruned_topk's analogue
    for the field store (bm25gate.serve_bm25f_blockmax_topk routes
    here when the store carries the lockstep fimpact partial).
    Caller certifies the histogram's soundness precondition (lockstep
    layout); the read is exact for any certified θ lower bound — the
    essential split and the blocked skip only ever needed a true
    lower bound (retrieval._essential_terms / the q189 argument), and
    no seed candidate set is needed: every true top-TOP_K doc matches
    an essential term and (blocks=True) sits in a live block — its
    own score ≥ θ_lb keeps its block's UB sum ≥ θ_lb (the
    hist_theta_pruned_topk composition, per field).  ``frames`` takes
    an already-built (tff, dlf, dfd, ndocs, avgf) tuple so a caller
    that read the field store for its plan gate doesn't pay a second
    _field_store_frames construction per served read (r17 ADVICE);
    None reads the store here."""
    from ..operators.retrieval import (
        BLOCK_DOCS,
        N_QUERIES,
        _essential_terms,
        _pool_rank,
        bm25f_block_upper_bounds,
        bm25f_full_scores,
        bm25f_term_upper_bounds,
        bm25f_weighted_tf,
        field_block_stats_from,
    )
    from .bm25gate import (
        _field_store_frames,
        maybe_read_field_block_stats,
    )

    if frames is None:
        frames = _field_store_frames(spark, field_state)
    tff, dlf, dfd, ndocs, avgf = frames
    tff = tff.localCheckpoint(eager=True)
    wtf = bm25f_weighted_tf(tff, dlf, avgf).localCheckpoint(eager=True)
    qterms = (tff.where(F.col("cand_id") < N_QUERIES)
              .select(F.col("cand_id").alias("query_id"), "term")
              .distinct())
    theta = bm25f_theta_lower_bound(fhist, dfd, ndocs, avgf, qterms)
    ess = _essential_terms(bm25f_term_upper_bounds(dfd, ndocs, qterms),
                           theta)
    cands = (wtf.select("cand_id", "term").join(ess, "term")
             .where(F.col("cand_id") != F.col("query_id"))
             .select("query_id", "cand_id").distinct())
    if blocks:
        from ..operators.helpers import exact_tdiv
        fblk = maybe_read_field_block_stats(spark, field_state)
        if fblk is None:
            fblk = field_block_stats_from(tff, dlf)
        bsum = (bm25f_block_upper_bounds(fblk, dfd, ndocs, avgf, qterms)
                .groupBy("query_id", "block_id")
                .agg(F.sum("ub_blk_fp").alias("blk_ub")))
        live = (bsum.join(F.broadcast(theta), "query_id", "left")
                .where(F.col("theta").isNull()
                       | ~(F.col("blk_ub") < F.col("theta")))
                .select("query_id", "block_id"))
        cands = (cands.withColumn("block_id",
                                  exact_tdiv(F.col("cand_id"),
                                             F.lit(BLOCK_DOCS)))
                 .join(live, ["query_id", "block_id"], "left_semi")
                 .select("query_id", "cand_id"))
    scores = bm25f_full_scores(cands, wtf, dfd, ndocs, qterms)
    pool = _pool_rank(scores, [F.desc("fp_sum"), F.asc("cand_id")],
                      TOP_K)
    return pool.select("query_id", "cand_id",
                       (F.col("fp_sum") / F.lit(FP)).alias("score"),
                       "rank")


def start_theta_stream(stream_docs: DataFrame, state_dir: str,
                       checkpoint_dir: str, *,
                       compact_every: int | None = None):
    """availableNow/foreachBatch wiring for the impact histogram:
    each batch overwrites its own partial at the store root.
    ``compact_every``: the start_bm25_stream hook for this EXTERNAL
    store (compact.compact_theta_store).  Note its docstring's
    lockstep caveat: until the paired postings store compacts at the
    same boundary, hist_not_ahead degrades to the conservative
    seed-pass fallback — sound either way."""
    from .compact import compact_theta_store

    def body(batch_df: DataFrame, batch_id: int) -> None:
        store.write(batch_impact_partial(batch_df), state_dir,
                    store.HIST, batch_id)

    return store.start(stream_docs, body, checkpoint_dir, root=state_dir,
                       compact=compact_theta_store,
                       compact_every=compact_every)
