"""Incremental graded-truth store — the truth tiers as per-batch
partials (r15; the ROADMAP candidate named since r14: "the coverage
tier is a per-pair aggregate — SUM-mergeable over batches if n_terms
is stored per (query, cand), under a query-docs-first ingest
contract").

WHY THE EXISTING SERVED TRUTH RE-SCANS: rrfserve.serve_retrieval_
quality derives the truth from the FULL stored positional postings at
every read (relevance_truth_from over read_token_postings — a
corpus-sized probe join per read).  The tiers themselves, though, are
per-(query, cand) facts computable from the CANDIDATE's own tokens
plus the (small, fixed) query-side term/phrase sets:

* proximity feature (n_terms, min_dist): every position of candidate
  c lives in the one batch that carried c (docs are atomic per
  batch), so the (q, c) feature row is final at that batch's write —
  candidate-DISJOINT partials, union on read, NO merge arithmetic;
* phrase tier (leading-trigram containment): same shape — c's
  trigrams are batch-local, the query trigram probe is fixed;
* qsize (distinct query terms per query): from the stored query-doc
  postings, bounded.

METRIC-SIDE PARTIALS (r16; VERDICT r15 Next-round #3): the system-
independent halves of the quality arithmetic also decompose over the
same candidate-disjoint batches —

* n_rel: a (query, cand) truth row is FINAL at its batch's write
  (the candidate's tiers depend only on its own tokens + the fixed
  query side), so per-batch per-query counts SUM-merge exactly;
* IDCG: the global ideal ranking is the top-TOP_K of the truth by
  (rel DESC, cand_id ASC) — and every globally-ideal row is also in
  its OWN batch's top-TOP_K under the same order (removing rows can
  only promote the rest), so the union of per-batch top-K candidate
  lists CONTAINS the global ideal set.  The read re-ranks that
  ≤ batches·TOP_K-per-query union — bounded, never the full truth.

``read_truth_side`` serves both; ``serve_quality_from_truth_store``
grades with them, so a served grade pays a partitioned scan of two
tiny partials instead of a read-time window over the full truth
(retrieval.truth_side_frames' job).  Pre-r16 stores (no nrel/ or
itop/ layout) fall back to deriving both from read_truth.

THE CONTRACT that makes write-time evaluation sound: every QUERY doc
(doc_id < N_QUERIES) must be ingested in the FIRST batch (before any
candidate batch) — a candidate batch evaluated against a partial
query set would persist rows missing later queries' pairs.  The
writer ENFORCES it: a batch carrying a query doc after any candidate
partial exists raises, so the store can never silently hold a truth
built against a partial query side.  (This is the standard serving
contract: the query set is the fixed benchmark side, the corpus is
what grows — exactly how q159's contamination gate treats the
benchmark table.)

Parity theorem (pytest): after ANY prefix of a contract-respecting
append sequence, read_truth(state) equals retrieval.relevance_truth_
from on the docs ingested so far, row-for-row — each half is the
SAME pure function (proximity_from / the trigram probe / the tier
arithmetic) of per-candidate frames the store reproduces exactly.
And grading a served ranking against the stored truth equals the
one-shot q185 metric rows at full corpus.

Scale notes (100 TB): appending a batch costs the batch's OWN
postings × a broadcast query probe (the q182 discipline at batch
scale) + bounded partition writes; reading the truth is a plain
partitioned scan of per-pair rows (≤ |queries| · |matched cands|)
with one bounded groupBy — the corpus is never re-scanned at read
time, which is the point.

Citation: the reference (/root/reference/src/main.rs, 433-line tick
ETL) has no retrieval surface; north-star extension.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import store
from ..operators.retrieval import (
    N_QUERIES,
    proximity_from,
    token_postings,
)

__all__ = ["maybe_truth_state", "read_truth", "read_truth_side",
           "serve_quality_from_truth_store", "start_truth_stream",
           "write_batch_truth_partials"]


def _truth_tiers(prox: DataFrame, qn: DataFrame,
                 phr: DataFrame) -> DataFrame:
    """The tier arithmetic (query_id, cand_id, rel ∈ {1,2,3}) from
    explicit feature frames — the SAME pure function as
    retrieval.relevance_truth_from's tail, shared by the full-store
    read and the per-batch metric partials (valid per batch because a
    (query, cand) pair's prox/phr rows are batch-local: candidates
    are atomic per batch)."""
    cov = (prox.join(F.broadcast(qn), "query_id")
           .where(8 * F.col("n_terms") >= 7 * F.col("qsize"))
           .select("query_id", "cand_id",
                   F.when((F.col("n_terms") == F.col("qsize"))
                          & (F.col("min_dist") == 1), F.lit(2))
                   .otherwise(F.lit(1)).alias("rel")))
    return (cov.unionByName(phr.select("query_id", "cand_id",
                                       F.lit(3).alias("rel")))
            .groupBy("query_id", "cand_id")
            .agg(F.max("rel").cast("bigint").alias("rel")))


def _read_qsize(spark: SparkSession, state_dir: str) -> DataFrame:
    """(query_id, qsize) from the stored query-doc postings — final
    from batch 0 on under the query-docs-first contract."""
    return (_query_terms(spark, state_dir)
            .groupBy("query_id").agg(F.count("*").alias("qsize")))


def _query_terms(spark: SparkSession, state_dir: str) -> DataFrame:
    """Distinct (query_id, term) of the stored query side."""
    return (store.read(spark, state_dir, store.QPOST)
            .select(F.col("doc_id").alias("query_id"), "term")
            .distinct())


def maybe_truth_state(spark: SparkSession,
                      bm25_state: str) -> str | None:
    """The CANONICAL lockstep truth-store location — <bm25_state>/truth
    — when it actually holds truth partials (a readable prox/ layout),
    else None (r17; VERDICT r16 Next-round #3).  The decision reads'
    default truth_state='auto' routes through this, so a store whose
    owner co-located the truth partials next to the postings partials
    (the impact/-histogram convention applied to the truth side) gets
    the fast bounded-partials grade WITHOUT the caller threading the
    kwarg; stores without the layout keep the postings-derived
    fallback.  One directory listing, no Spark job."""
    path = os.path.join(bm25_state, "truth")
    return path if store.batch_ids(path, store.PROX) else None


def write_batch_truth_partials(docs: DataFrame, state_dir: str,
                               batch_id: int) -> None:
    """Persist one batch's truth-side partials, one batch partition
    per layout (overwrite = idempotent replay):

    * qpost —  the batch's QUERY-doc token postings (usually empty;
      bounded by the query docs' lengths).  The merged query side IS
      the probe every later batch is evaluated against.
    * prox —  (query_id, cand_id, n_terms, min_dist) for the batch's
      CANDIDATE docs against the stored query side (candidate-
      disjoint: no merge on read).
    * phr —   (query_id, cand_id) leading-trigram phrase pairs for
      the batch's candidates (same disjointness).
    * nrel —  (query_id, n_rel) count of the batch's truth rows per
      query (r16 — SUM-mergeable: candidate-disjoint batches).
    * itop —  the batch's per-query ideal top-TOP_K truth rows
      (query_id, cand_id, rel) by (rel DESC, cand_id ASC) — the
      bounded candidate list whose cross-batch union contains the
      global ideal set (module docstring).

    Raises on a contract violation (query doc arriving after
    candidate partials exist — see module docstring)."""
    from ..operators.dedup import _spark_shingle_hashes
    spark = docs.sparkSession
    p_b = token_postings(docs)
    has_queries = bool(docs.where(F.col("doc_id") < N_QUERIES)
                       .take(1))
    replay = os.path.isdir(store.partial_path(state_dir, store.QPOST,
                                              batch_id))
    if (has_queries and not replay
            and store.batch_ids(state_dir, store.PROX)):
        raise ValueError(
            "truthgate contract violation: query docs must be "
            "ingested before any candidate batch (stored truth rows "
            "would be missing the new queries' pairs)")
    store.write(p_b.where(F.col("doc_id") < N_QUERIES), state_dir,
                store.QPOST, batch_id)
    qtermf = _query_terms(spark, state_dir)
    # candidate side = ALL of the batch's docs: a query doc is a
    # legitimate candidate of OTHER queries (proximity_from excludes
    # only the self pair — the one-shot q182 convention), and under
    # the contract the query batch sees the full query side
    prox_b = (proximity_from(p_b, qtermf)
              .select("query_id", "cand_id", "n_terms", "min_dist"))
    store.write(prox_b, state_dir, store.PROX, batch_id)
    # phrase tier: the query probe is each query's pos-1 trigram from
    # the stored query side; candidates are this batch's docs (self
    # pair excluded — the one-shot q179 convention)
    qsh_b = (_spark_shingle_hashes(
        docs.where(F.col("doc_id") < N_QUERIES), with_pos=True)
        .where(F.col("pos") == 1)
        .select(F.col("doc_id").alias("query_id"),
                F.col("sh").alias("qsh")))
    store.write(qsh_b, state_dir, store.QSH, batch_id)
    qp = store.read(spark, state_dir, store.QSH)
    csh = _spark_shingle_hashes(docs, with_pos=True)
    phr_b = (csh.join(qp, csh.sh == qp.qsh)
             .where(F.col("doc_id") != F.col("query_id"))
             .select("query_id", F.col("doc_id").alias("cand_id"))
             .distinct())
    store.write(phr_b, state_dir, store.PHR, batch_id)
    # metric-side partials (r16): the batch's FINAL truth rows — the
    # tier arithmetic over the just-written batch partials (read back:
    # one bounded scan each, exactly what a replay would see) + the
    # stored query side (final under the contract)
    prox_r, phr_r = (
        spark.read.parquet(store.partial_path(state_dir, lay, batch_id))
        .select(*lay.cols) for lay in (store.PROX, store.PHR))
    truth_b = _truth_tiers(prox_r, _read_qsize(spark, state_dir),
                           phr_r)
    store.write(truth_b.groupBy("query_id")
                .agg(F.count("*").alias("n_rel")),
                state_dir, store.NREL, batch_id)
    store.write(store.ITOP.merge(truth_b), state_dir, store.ITOP,
                batch_id)


def read_truth(spark: SparkSession, state_dir: str) -> DataFrame:
    """(query_id, cand_id, rel ∈ {1, 2, 3}) — the graded truth from
    the stored per-pair partials alone: the SAME tier arithmetic as
    retrieval.relevance_truth_from over unioned candidate-disjoint
    rows + the stored query side's qsize.  No corpus re-scan."""
    return _truth_tiers(store.read(spark, state_dir, store.PROX),
                        _read_qsize(spark, state_dir),
                        store.read(spark, state_dir, store.PHR))


def read_truth_side(spark: SparkSession, state_dir: str):
    """(nrel, idcg) — the system-independent metric halves from the
    stored partials alone (r16; VERDICT r15 ask #3): n_rel SUM-merged
    across batches, ideal DCG from the itop layout's merged read —
    the re-rank of the unioned per-batch top-TOP_K candidate lists
    (≤ batches·TOP_K rows per query — the module docstring's
    containment argument makes the re-rank exact).
    Pre-r16 stores without the nrel/itop layout fall back to deriving
    both from the full stored truth (the maybe_read_block_stats
    degrade-don't-throw contract).

    Coverage guard (r17 ADVICE): absence is not the only unsound
    layout — a pre-r16 store RESUMED under r16 code carries nrel/itop
    for only the post-resume batches, and a crash between the phr and
    nrel/itop writes of one batch leaves that batch uncovered; either
    way the partials would silently undercount n_rel and misprice the
    ideal DCG.  The partials are trusted only when their batch sets
    cover exactly the batches prox/ covers (store.batch_ids — one
    directory listing per layout, no Spark job); any mismatch
    degrades to the full-truth derivation, which is always sound."""
    from ..operators.retrieval import truth_side_frames
    nrel = store.maybe_read(spark, state_dir, store.NREL)
    itop = store.maybe_read(spark, state_dir, store.ITOP)
    prox_ids = store.batch_ids(state_dir, store.PROX).keys()
    if (nrel is None or itop is None
            or store.batch_ids(state_dir, store.NREL).keys() != prox_ids
            or store.batch_ids(state_dir, store.ITOP).keys() != prox_ids):
        return truth_side_frames(read_truth(spark, state_dir))
    # truth_side_frames' idcg half over the global ideal list IS the
    # true ideal DCG; its nrel half would be top-K-capped — replaced
    # by the SUM-merged partial
    _, idcg = truth_side_frames(itop)
    return nrel, idcg


def serve_quality_from_truth_store(spark: SparkSession,
                                   truth_state: str, bm25_state: str,
                                   *,
                                   pool: DataFrame | None = None
                                   ) -> DataFrame:
    """q185's per-query metric rows with the TRUTH side read from the
    incremental truth store (no corpus re-scan at read time — the
    upgrade over rrfserve.serve_retrieval_quality's postings-derived
    truth) and the system ranking from the incremental BM25 store
    (or any supplied (query_id, cand_id, rank ≤ TOP_K) frame).

    r16: the truth-SIDE halves (n_rel, ideal DCG) also come from the
    stored metric partials (read_truth_side) — no read-time window
    over the full truth."""
    from ..operators.retrieval import TOP_K, quality_metrics_from
    from .bm25gate import read_dl, serve_bm25_topk

    if pool is None:
        pool = serve_bm25_topk(spark, bm25_state)
    pool = (pool.select("query_id", "cand_id", "rank")
            .where(F.col("rank") <= TOP_K))
    base = (read_dl(spark, bm25_state)
            .where(F.col("cand_id") < N_QUERIES)
            .select(F.col("cand_id").alias("query_id")))
    nrel, idcg = read_truth_side(spark, truth_state)
    return quality_metrics_from(pool, read_truth(spark, truth_state),
                                base=base, nrel=nrel, idcg=idcg)


def start_truth_stream(stream_docs: DataFrame, state_dir: str,
                       checkpoint_dir: str, *,
                       compact_every: int | None = None):
    """availableNow/foreachBatch wiring for the truth store (the
    bm25gate scheme; the contract check runs inside the writer).
    ``compact_every``: the start_bm25_stream hook, truth-store half
    (compact.compact_truth_store folds all six layouts with one fold
    set, so the r17 nrel/itop/prox coverage guard stays satisfied).
    Single writer: a co-located truth store (<bm25_state>/truth) must
    not be ingested while start_bm25_stream's fold may run."""
    from .compact import compact_truth_store
    return store.start(
        stream_docs,
        lambda b, i: write_batch_truth_partials(b, state_dir, i),
        checkpoint_dir, root=state_dir, compact=compact_truth_store,
        compact_every=compact_every)
