"""Lexical retrieval (BM25) and rank fusion (north-star extension;
SURVEY.md §2.2 LLM-pipeline family — the retrieval side of a training-
data curation stack: BM25 top-k selects lexically relevant documents,
reciprocal-rank fusion combines the lexical ranking with the embedding
(q45-style cosine) ranking into one hybrid candidate list).

Semantics
---------
* q175 — BM25 (Lucene/Okapi variant) doc-as-query retrieval: documents
  with ``doc_id < N_QUERIES`` act as queries; every OTHER document is a
  candidate.  score(q, d) = Σ_{t ∈ distinct(q)} idf(t) · tf(t,d)·(k1+1)
  / (tf(t,d) + k1·(1 − b + b·|d|/avgdl)), idf(t) = ln(1 + (N − df + ½)
  / (df + ½)).  Top TOP_K per query, ranked by score then cand_id.
* q176 — reciprocal-rank fusion of the BM25 pool and the cosine pool
  (rank lists of POOL each): rrf = Σ_ranker 1/(RRF_K + rank), a ranker
  missing the pair contributes 0 (classic RRF, Cormack et al. 2009).

Cross-engine determinism
------------------------
Per-term BM25 contributions are snapped to 1e-6 fixed-point BIGINTs
(``ROUND(w · 1e6)``) BEFORE the per-(query, cand) sum, so the reduce is
exact integer addition — order-free under any shuffle/AQE plan and
bit-identical across Spark and DuckDB (the scalar expression trees are
mirrored token for token; ln/÷ agree to well under the 1e-6 snap).
RRF scores are two-term double sums over integer ranks in a fixed
operand order — bit-identical by construction.

Scale notes (100 TB)
--------------------
* tf / df / doc-length are map-side-combinable groupBys; corpus stats
  (N, Σdl) are ONE-ROW broadcast frames — no driver-side count() action.
* The query-term set is |queries|·|vocab|-bounded; AQE broadcasts it
  from measured size (no manual hint — repo rule for aggregate-topped
  frames), so the candidate-side tf table (the 100 TB side) probes a
  broadcast hash table instead of shuffling for the fan-out.
* Top-k pooling is an EXACT two-stage rank: a salted partial top-POOL
  per (query, salt) bounds every window partition to POOL·N_SALT rows
  before the final per-query rank — no single-reducer window over the
  full corpus (any global top-POOL row is top-POOL inside its salt
  bucket, so stage 1 never drops a survivor).  Measured sf0.1 executed
  plan: 2-column pruned scan, WindowGroupLimit Partial/Final on BOTH
  rank stages (row_number cut applied map-side before each exchange),
  and all three stats joins resolved to runtime BroadcastHashJoins.
* RRF joins two POOL-bounded rank lists — trivially broadcastable.

Reference parity: the reference engine exposes no retrieval operators
(src/main.rs is a tick-stream processor); this family is part of the
north-star LLM-pipeline surface, oracled like every other query.
"""

from __future__ import annotations

import functools
import json
import logging

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .. import memo
from ..io import load_table
from .similarity import sql_cosine, _cosine

# a child of the C3 logger (streaming/listener.configure_logging): silent
# unless a caller has configured it
log = logging.getLogger("oanda_stream_processor_spark.retrieval")

QUERIES: dict = {}
ORACLES: dict = {}

N_QUERIES = 10   # query set = doc_id < 10 (mirrors q45's vec_id < 10)
POOL = 20        # per-ranker candidate pool fed into the fusion
TOP_K = 10       # rows returned per query
RRF_K = 60       # classic RRF damping constant
BM25_K1 = 1.2
BM25_B = 0.75
FP = 1_000_000.0  # fixed-point snap for the per-term contribution
N_SALT = 32      # stage-1 salt fan-out for the exact two-stage top-k


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


# --- exact two-stage top-k ranking ------------------------------------------

def _pool_rank(scored: DataFrame, order_cols, pool: int) -> DataFrame:
    """Exact top-``pool`` per query_id without a full-corpus window
    partition: stage 1 ranks within (query_id, crc32(cand_id) % N_SALT)
    and keeps ``pool`` rows per bucket, stage 2 ranks the ≤ pool·N_SALT
    survivors per query.  Exact because every global top-``pool`` row is
    also top-``pool`` within its own salt bucket."""
    salt = F.pmod(F.crc32(F.col("cand_id").cast("string")), F.lit(N_SALT))
    w1 = W.partitionBy("query_id", salt).orderBy(*order_cols)
    w2 = W.partitionBy("query_id").orderBy(*order_cols)
    return (scored
            .withColumn("_r1", F.row_number().over(w1))
            .where(F.col("_r1") <= pool).drop("_r1")
            .withColumn("rank", F.row_number().over(w2))
            .where(F.col("rank") <= pool))


# --- BM25 --------------------------------------------------------------------

def corpus_term_frames_from(tok: DataFrame):
    """(tf, dfq, dl, stats) from an already-exploded (doc_id, term[,
    ...]) token stream — the aggregate tail shared by the text path
    below and the one-scan grading pipeline (r15: the truth build's
    materialized positional postings feed the SAME aggregates, so the
    BM25 frames cost one groupBy over in-hand rows instead of a
    second corpus tokenize).  Everything derives from the ONE (doc,
    term) aggregate: tf has one row per pair, so COUNT(*) per term IS
    the document frequency and SUM(tf) per doc IS the document length
    — no second pass over the token stream.  dfq/dl/stats are all
    SUM-decomposable over any doc-disjoint partition of the corpus
    (the streaming bm25gate's merge theorem)."""
    tf = (tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
          .withColumnRenamed("doc_id", "cand_id"))
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    dl = tf.groupBy("cand_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"),
                   F.sum("dl").alias("sum_dl"))
    return tf, dfq, dl, stats


def corpus_term_frames(d: DataFrame):
    """(tf, dfq, dl, stats) for a (doc_id, text) frame — tokenize +
    the shared aggregate tail (corpus_term_frames_from)."""
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    tok = d.select("doc_id", F.explode(toks).alias("term"))
    return corpus_term_frames_from(tok)


def bm25_pool_from(tf: DataFrame, dfq: DataFrame, dl: DataFrame,
                   stats: DataFrame, qterms: DataFrame) -> DataFrame:
    """(query_id, cand_id, fp_sum, rank ≤ POOL) from explicit corpus
    frames — the scoring core, shared by the one-shot q175 plan and
    the streaming gate's stats-fed read (stats frames may come from
    merged micro-batch partials; scores are identical because fp is a
    pure function of (tf, df, dl, n_docs, sum_dl))."""
    # expression trees mirror the DuckDB oracle token for token
    idf = F.log(F.lit(1.0)
                + ((F.col("n_docs") - F.col("df")) + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    norm = ((F.col("tf") * F.lit(BM25_K1 + 1.0))
            / (F.col("tf")
               + F.lit(BM25_K1) * (F.lit(1.0) - F.lit(BM25_B)
                                   + F.lit(BM25_B) * (F.col("dl") / avgdl))))
    fp = F.round(idf * norm * F.lit(FP)).cast("long")

    # attach per-candidate stats BEFORE the ×N_QUERIES fan-out so the
    # dl/df joins move one row per (doc, term), not per (query, doc,
    # term). qterms is |queries|·|vocab|-bounded by its doc_id filter
    # but UNHINTED per the repo rule (its topmost aggregate groups by a
    # doc/term-cardinality key): AQE broadcasts it from measured size.
    contrib = (tf
               .join(dl, "cand_id")
               .join(dfq, "term")
               .join(qterms, "term")
               .where(F.col("cand_id") != F.col("query_id"))
               .crossJoin(F.broadcast(stats))
               .select("query_id", "cand_id", fp.alias("fp")))
    agg = (contrib.groupBy("query_id", "cand_id")
           .agg(F.sum("fp").alias("fp_sum")))
    return _pool_rank(agg, [F.desc("fp_sum"), F.asc("cand_id")], POOL)


def query_terms_from(tf: DataFrame) -> DataFrame:
    """(query_id, term) probe from a postings frame — the ONE spelling
    of the doc-as-query convention (doc_id < N_QUERIES; tf carries one
    row per (doc, term), so no distinct needed).  Shared by every BM25
    plan and every store-served read (r13 self-review: this projection
    had been copy-pasted at seven call sites)."""
    return (tf.where(F.col("cand_id") < N_QUERIES)
            .select(F.col("cand_id").alias("query_id"), "term"))


def _bm25_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, cand_id, fp_sum, rank ≤ POOL) — the BM25 candidate
    pool.  fp_sum is the exact BIGINT sum of 1e-6-snapped per-term
    contributions (see module docstring)."""
    d = load_table(spark, sf_dir, "documents")
    tf, dfq, dl, stats = corpus_term_frames(d)
    return bm25_pool_from(tf, dfq, dl, stats, query_terms_from(tf))


SQL_BM25_POOL = f"""
WITH t AS (SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '),
                                      x -> x <> '') AS toks
           FROM documents),
tok AS (SELECT doc_id, UNNEST(toks) AS term FROM t),
tf AS (SELECT doc_id AS cand_id, term, COUNT(*) AS tf
       FROM tok GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
dl AS (SELECT cand_id, SUM(tf) AS dl FROM tf GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
qterms AS (SELECT cand_id AS query_id, term FROM tf
           WHERE cand_id < {N_QUERIES}),
contrib AS (
  SELECT q.query_id, tf.cand_id,
         CAST(ROUND(
           LN(1.0 + ((s.n_docs - d.df) + 0.5) / (d.df + 0.5))
           * ((tf.tf * {BM25_K1 + 1.0})
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                   + {BM25_B} * (dl.dl / (s.sum_dl / s.n_docs)))))
           * {FP}) AS BIGINT) AS fp
  FROM tf
  JOIN qterms q USING (term)
  JOIN dfq d USING (term)
  JOIN dl USING (cand_id)
  CROSS JOIN stats s
  WHERE tf.cand_id <> q.query_id),
agg AS (SELECT query_id, cand_id, SUM(fp) AS fp_sum
        FROM contrib GROUP BY 1, 2),
branked AS (SELECT query_id, cand_id, fp_sum,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY fp_sum DESC, cand_id) AS rank
            FROM agg),
bpool AS (SELECT * FROM branked WHERE rank <= {POOL})
"""


@query("q175_bm25_topk", f"""{SQL_BM25_POOL}
SELECT query_id, cand_id, fp_sum / {FP} AS score, rank
FROM bpool WHERE rank <= {TOP_K}
""")
def q175_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    pool = _bm25_pool(spark, sf_dir)
    return (pool.where(F.col("rank") <= TOP_K)
            .select("query_id", "cand_id",
                    (F.col("fp_sum") / F.lit(FP)).alias("score"),
                    "rank"))


# --- cosine pool (q45-shaped, self-match excluded) ---------------------------

def _cosine_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, cand_id, cosine, rank ≤ POOL) — embedding ranker over
    the same id domain (vec_id ≡ doc_id in the fixtures)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = (e.where(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb")))
    scored = (e.select(F.col("vec_id").alias("cand_id"), "embedding")
              .crossJoin(F.broadcast(q))
              .where(F.col("cand_id") != F.col("query_id"))
              .select("query_id", "cand_id",
                      F.round(_cosine(F.col("q_emb"), F.col("embedding")),
                              6).alias("cosine")))
    return _pool_rank(scored, [F.desc("cosine"), F.asc("cand_id")], POOL)


SQL_COS_POOL = f"""
q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
      WHERE vec_id < {N_QUERIES}),
cscored AS (
  SELECT q.query_id, e.vec_id AS cand_id,
         ROUND({sql_cosine('q.q_emb', 'e.embedding')}, 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id),
cranked AS (SELECT query_id, cand_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, cand_id) AS rank
            FROM cscored),
cpool AS (SELECT * FROM cranked WHERE rank <= {POOL})
"""


def rrf_fuse(b: DataFrame, c: DataFrame) -> DataFrame:
    """RRF fusion of two (query_id, cand_id, rank_b / rank_c) pools —
    the scoring core shared by one-shot q176 and the served hybrid
    read (streaming/rrfserve.py).  The served-parity argument reduces
    to pool equality: this is the SAME function of the two pools, so
    stores that reproduce the pools reproduce the fusion."""
    rrf = (F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_b")),
                      F.lit(0.0))
           + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_c")),
                        F.lit(0.0)))
    fused = (b.join(c, ["query_id", "cand_id"], "full_outer")
             .select("query_id", "cand_id", "rank_b", "rank_c",
                     rrf.alias("rrf")))
    w = W.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("cand_id"))
    return (fused.withColumn("fused_rank", F.row_number().over(w))
            .where(F.col("fused_rank") <= TOP_K))


@query("q176_rrf_fusion", f"""{SQL_BM25_POOL.rstrip()},
{SQL_COS_POOL},
fused AS (
  SELECT COALESCE(b.query_id, c.query_id) AS query_id,
         COALESCE(b.cand_id, c.cand_id) AS cand_id,
         b.rank AS rank_b, c.rank AS rank_c,
         COALESCE(1.0 / ({RRF_K} + b.rank), 0.0)
           + COALESCE(1.0 / ({RRF_K} + c.rank), 0.0) AS rrf
  FROM bpool b FULL OUTER JOIN cpool c
    ON b.query_id = c.query_id AND b.cand_id = c.cand_id),
franked AS (
  SELECT query_id, cand_id, rank_b, rank_c, rrf,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, cand_id) AS fused_rank
  FROM fused)
SELECT * FROM franked WHERE fused_rank <= {TOP_K}
""")
def q176_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = (_bm25_pool(spark, sf_dir)
         .select("query_id", "cand_id", F.col("rank").alias("rank_b")))
    c = (_cosine_pool(spark, sf_dir)
         .select("query_id", "cand_id", F.col("rank").alias("rank_c")))
    return rrf_fuse(b, c)


# --- BM25F (field-weighted BM25) ----------------------------------------------
#
# q177 — BM25F (Zaragoza et al., CIKM 2004 "Microsoft Cambridge at
# TREC-13" simple variant) over POSITIONAL field splits of `text`:
# field(token_i) = 'title' for the first TITLE_TOKS tokens, 'body'
# for the rest (the fixtures carry no separate title column; a
# positional split is deterministic in both engines).
#
#   tfw(t,d) = Σ_f  w_f · tf_f(t,d) / B_f(d),
#   B_f(d)   = (1 − b_f) + b_f · dl_f(d)/avgdl_f      (per-field norm)
#   score    = Σ_{t ∈ q} idf(t) · tfw / (k1 + tfw)    (q175's idf)
#
# WHY THIS IS THE INTERESTING ONE (the r10 verdict's point): unlike
# q175, the per-term state is NOT decomposable into per-field BM25
# scores — the k1-saturation applies AFTER the cross-field weighted
# sum, so w_title·BM25(title) + w_body·BM25(body) is a DIFFERENT
# (and worse, per the paper) function.  Consequences for the
# streaming gate are documented in streaming/bm25gate.py: the
# mergeable corpus state gains a per-field axis (df stays doc-level;
# sum_dl becomes per-field) and the serving store must keep RAW
# per-field tf — never pre-saturated partials.
#
# Determinism: same 1e-6 fixed-point snap of the per-(q,cand,term)
# contribution before the integer reduce; the cross-field weighted
# sum inside tfw has exactly two operands (IEEE addition is
# commutative, so field-row order cannot matter).
# ------------------------------------------------------------------------------
TITLE_TOKS = 5
W_TITLE, W_BODY = 2.0, 1.0
B_TITLE, B_BODY = 0.5, 0.75   # titles are length-normalized more gently


def corpus_field_frames(d: DataFrame):
    """(tff, dlf, dfd, ndocs, avgf) for a (doc_id, text) frame:
    per-(doc, term, field) tf, per-(doc, field) length, DOC-level df,
    one-row n_docs, per-field avgdl.  All SUM/COUNT-mergeable over
    doc-disjoint batches EXCEPT nothing: the non-mergeable step is the
    saturation inside scoring, not the state (see bm25gate notes)."""
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    tok = (d.select("doc_id", F.posexplode(toks).alias("pos", "term"))
           .select("doc_id", "term",
                   F.when(F.col("pos") < TITLE_TOKS, F.lit("title"))
                    .otherwise(F.lit("body")).alias("field")))
    tff = (tok.groupBy("doc_id", "term", "field")
           .agg(F.count("*").alias("tf"))
           .withColumnRenamed("doc_id", "cand_id"))
    dlf = (tff.groupBy("cand_id", "field")
           .agg(F.sum("tf").alias("dlf")))
    dfd = (tff.select("cand_id", "term").distinct()
           .groupBy("term").agg(F.count("*").alias("df")))
    ndocs = (tff.select("cand_id").distinct()
             .agg(F.count("*").alias("n_docs")))
    avgf = (dlf.groupBy("field")
            .agg(F.sum("dlf").alias("sum_dlf"))
            .crossJoin(F.broadcast(ndocs))
            .select("field",
                    (F.col("sum_dlf").cast("double")
                     / F.col("n_docs")).alias("avgdl")))
    return tff, dlf, dfd, ndocs, avgf


SQL_BM25F_POOL = f"""
t AS (SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '),
                                 x -> x <> '') AS toks
      FROM documents),
tokp AS (SELECT doc_id, toks, UNNEST(RANGE(1, LEN(toks) + 1)) AS i FROM t),
ftok AS (SELECT doc_id, toks[CAST(i AS INTEGER)] AS term,
                CASE WHEN i <= {TITLE_TOKS} THEN 'title' ELSE 'body' END
                  AS field
         FROM tokp),
tff AS (SELECT doc_id AS cand_id, term, field, COUNT(*) AS tf
        FROM ftok GROUP BY 1, 2, 3),
dlf AS (SELECT cand_id, field, SUM(tf) AS dlf FROM tff GROUP BY 1, 2),
fdfd AS (SELECT term, COUNT(DISTINCT cand_id) AS df FROM tff GROUP BY 1),
fnd AS (SELECT COUNT(DISTINCT cand_id) AS n_docs FROM tff),
avgf AS (SELECT field, CAST(SUM(dlf) AS DOUBLE)
                       / (SELECT n_docs FROM fnd) AS avgdl
         FROM dlf GROUP BY 1),
wtf AS (
  SELECT tff.cand_id, tff.term,
         SUM((CASE WHEN tff.field = 'title' THEN {W_TITLE}
                   ELSE {W_BODY} END * tff.tf)
             / ((1.0 - CASE WHEN tff.field = 'title' THEN {B_TITLE}
                            ELSE {B_BODY} END)
                + CASE WHEN tff.field = 'title' THEN {B_TITLE}
                       ELSE {B_BODY} END
                  * (dlf.dlf / avgf.avgdl))) AS tfw
  FROM tff
  JOIN dlf ON dlf.cand_id = tff.cand_id AND dlf.field = tff.field
  JOIN avgf ON avgf.field = tff.field
  GROUP BY 1, 2),
fqterms AS (SELECT DISTINCT cand_id AS query_id, term FROM tff
            WHERE cand_id < {N_QUERIES}),
fcontrib AS (
  SELECT q.query_id, w.cand_id,
         CAST(ROUND(
           LN(1.0 + ((s.n_docs - d.df) + 0.5) / (d.df + 0.5))
           * (w.tfw / ({BM25_K1} + w.tfw))
           * {FP}) AS BIGINT) AS fp
  FROM wtf w
  JOIN fqterms q USING (term)
  JOIN fdfd d USING (term)
  CROSS JOIN fnd s
  WHERE w.cand_id <> q.query_id),
fagg AS (SELECT query_id, cand_id, SUM(fp) AS fp_sum
         FROM fcontrib GROUP BY 1, 2),
frank AS (SELECT query_id, cand_id, fp_sum,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY fp_sum DESC, cand_id) AS rank
          FROM fagg)
"""


@query("q177_bm25f_topk", f"""WITH {SQL_BM25F_POOL}
SELECT query_id, cand_id, fp_sum / {FP} AS score, rank
FROM frank WHERE rank <= {TOP_K}
""")
def q177_bm25f_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-weighted BM25F top-k (see block comment above): title =
    first TITLE_TOKS tokens, body = rest; per-field length
    normalization; k1-saturation after the cross-field weighted sum;
    q175's doc-level idf.  Same exact-topk/broadcast plan shape and
    1e-6 fixed-point determinism scheme as q175.

    Measured sf0.1 executed plan (round 11): 4x WindowGroupLimit
    (map-side rank cut on both stages of the salted exact top-k),
    4x BroadcastHashJoin, 0 SortMergeJoin, 0 CartesianProduct —
    q175's audited shape carried over."""
    d = load_table(spark, sf_dir, "documents")
    tff, dlf, dfd, ndocs, avgf = corpus_field_frames(d)
    qterms = (tff.where(F.col("cand_id") < N_QUERIES)
              .select(F.col("cand_id").alias("query_id"), "term")
              .distinct())
    return bm25f_topk_from(tff, dlf, dfd, ndocs, avgf, qterms)


def bm25f_weighted_tf(tff: DataFrame, dlf: DataFrame,
                      avgf: DataFrame) -> DataFrame:
    """(cand_id, term, tfw) — the cross-field weighted, length-
    normalized tf BM25F saturates (the pre-saturation quantity the
    gate notes insist must never be merged pre-saturated)."""
    w_f = F.when(F.col("field") == "title", F.lit(W_TITLE)) \
           .otherwise(F.lit(W_BODY))
    b_f = F.when(F.col("field") == "title", F.lit(B_TITLE)) \
           .otherwise(F.lit(B_BODY))
    bnorm = ((F.lit(1.0) - b_f)
             + b_f * (F.col("dlf") / F.col("avgdl")))
    return (tff.join(dlf, ["cand_id", "field"])
            .join(avgf, "field")
            .groupBy("cand_id", "term")
            .agg(F.sum((w_f * F.col("tf")) / bnorm).alias("tfw")))


def _bm25f_idf() -> F.Column:
    # built lazily: module-level Column construction would require an
    # active SparkContext at import time
    return F.log(F.lit(1.0)
                 + ((F.col("n_docs") - F.col("df")) + F.lit(0.5))
                 / (F.col("df") + F.lit(0.5)))


def _bm25f_fp() -> F.Column:
    return F.round(_bm25f_idf()
                   * (F.col("tfw") / (F.lit(BM25_K1) + F.col("tfw")))
                   * F.lit(FP)).cast("long")


def bm25f_topk_from(tff: DataFrame, dlf: DataFrame, dfd: DataFrame,
                    ndocs: DataFrame, avgf: DataFrame,
                    qterms: DataFrame) -> DataFrame:
    """q177's scoring core from explicit field frames — shared by the
    one-shot plan and the streaming gate's serving read (frames may
    come from merged micro-batch partials; scores are identical
    because the weighted tf, saturation and idf are pure functions of
    the per-field state, which the merge reproduces exactly)."""
    wtf = bm25f_weighted_tf(tff, dlf, avgf)
    contrib = (wtf
               .join(qterms, "term")
               .join(dfd, "term")
               .where(F.col("cand_id") != F.col("query_id"))
               .crossJoin(F.broadcast(ndocs))
               .select("query_id", "cand_id", _bm25f_fp().alias("fp")))
    agg = (contrib.groupBy("query_id", "cand_id")
           .agg(F.sum("fp").alias("fp_sum")))
    pool = _pool_rank(agg, [F.desc("fp_sum"), F.asc("cand_id")], TOP_K)
    return pool.select("query_id", "cand_id",
                       (F.col("fp_sum") / F.lit(FP)).alias("score"),
                       "rank")


def bm25f_full_scores(cands: DataFrame, wtf: DataFrame, dfd: DataFrame,
                      ndocs: DataFrame, qterms: DataFrame) -> DataFrame:
    """(query_id, cand_id, fp_sum) — exact BM25F for an EXPLICIT
    candidate set, candidates-first join order (the q178 discipline
    applied to the field-weighted model; q183)."""
    contrib = (cands.join(wtf, "cand_id")
               .join(qterms, ["query_id", "term"])
               .join(dfd, "term")
               .crossJoin(F.broadcast(ndocs)))
    return (contrib.select("query_id", "cand_id", _bm25f_fp().alias("fp"))
            .groupBy("query_id", "cand_id")
            .agg(F.sum("fp").alias("fp_sum")))


# --- q178: MaxScore/WAND-pruned exact BM25 top-k -------------------------------
#
# The operator a 100 TB retrieval pass actually runs (the r10 verdict's
# stretch ask).  q175's cost at corpus scale is the posting fan-out:
# every document sharing ANY query term gets scored, and the common
# (high-df, low-idf) terms contribute postings the size of the corpus
# while barely moving the ranking.  MaxScore (Turtle & Flood 1995) /
# WAND (Broder et al. 2003) prune with per-term score upper bounds;
# this is the batch-engine adaptation, EXACT by construction:
#
#   1. UB(t) = idf(t)·(k1+1) — the analytic bound of the per-term BM25
#      contribution (tf-saturation < k1+1, B ≥ 1−b), computable from
#      df alone, no pass over postings.  In fixed-point with a +2 ulp
#      margin so UB_fp ≥ every snapped contribution fp(t,d).
#   2. SEEDS: up to SEED_TERMS highest-UB (= rarest) terms per query,
#      qualified to within 2x of the query's best UB so rare terms
#      dominate the seed set whenever they exist (on a flat-UB
#      vocabulary every term qualifies and the cap keeps plain top-N)
#      — small postings by construction.  Their matching docs get
#      FULL scores (all their query terms, not just seed terms); the
#      POOL-th best of these true scores is the pruning threshold θ.
#      Seed choice affects only θ quality, never exactness.
#   3. ESSENTIAL SPLIT: sort the query's terms by UB ascending and
#      take the maximal prefix whose UB prefix-sum stays STRICTLY
#      below θ — a doc matching only those terms scores < θ and can
#      never enter the top-POOL (tie-break is fp desc, cand asc, so a
#      strictly-smaller score ranks below all POOL θ-or-better docs).
#      Everything else is essential; docs matching ≥1 essential term
#      are candidates.  A query with < POOL seed candidates gets no θ
#      and degrades gracefully: every term stays essential (= q175).
#   4. Candidates (seed ∪ essential-matched) are scored ONCE, with the
#      candidates-first join order — cands ⋈ tf on cand_id (the
#      candidate documents' own postings, Σ dl(cand) rows) ⋈ qterms —
#      so the full corpus fan-out is never materialized.
#
# Exactness: any doc outside the candidate set matches only
# non-essential terms, so its integer score ≤ Σ UB_fp(non-essential)
# < θ = a true achieved POOL-th score — it cannot displace any pool
# row.  Hence q178 ≡ q175 row-for-row (pytest: pool-level AND top-k
# equality; oracle: q175's own SQL verbatim).
#
# STATISTIC GATE (r12): pruning can only win when term UBs are SPREAD —
# the essential split discards the ascending-UB prefix whose cumsum
# stays under θ, and on a flat-UB vocabulary (every idf ~equal) that
# prefix is empty, so the seed/θ/essential machinery is pure overhead
# (+2.4 s at sf0.1 for identical rows, r11 measured; the sf0.1
# fixture's max per-query UB spread is 1.11x, while sf0.001/sf0.01
# carry rare terms spreading up to ~16x and keep the pruning branch).
# q178 therefore reads a per-query spread statistic BEFORE building
# any full corpus frame — the exact-kth KTH_REFINE_CUT precedent
# (stats.py), adapted because here the exact statistic would itself
# cost a full postings build: df is estimated from a deterministic
# 1-in-MOD document sample (doc_id % MOD == 0, MOD = n_docs /
# MS_SAMPLE_TARGET so the sample stays ~2-4k docs at ANY corpus size;
# fixture-scale corpora under the target sample FULLY, making the
# statistic exact there — r12 ADVICE: a floor of 64 left tiny corpora
# with ~16-doc samples where the binomial tails below don't hold),
# which preserves df PROPORTIONS while reading a bounded slice.  The
# test is on proportions, not sampled idf ratios — as df/N → 1 the
# idf of a common term goes to 0 and its sampled ratio diverges under
# binomial noise (measured: the flat sf0.1 fixture read as 3.5x
# spread through sampled idfs while its true spread is 1.11x).  A
# query is prunable iff it has a RARE term (df_s/n_s ≤ MS_RARE_P,
# with sample-absent terms counting as df_s = 0 — a term missing from
# the sample has df < ~MOD in expectation) AND a COMMON term
# (df_s/n_s ≥ MS_COMMON_P).  Those cuts imply the 2x idf spread the
# seed rule needs analytically — p ≤ 1/8 gives idf ≥ ln(8) ≈ 2.08,
# p ≥ 1/2 gives idf ≤ ln(2) ≈ 0.69 — and both tails are stable under
# sampling (P(p̂ ≤ 1/8 | p ≥ 1/2) vanishes at n_s ≥ ~50).  Without a
# rare term θ cannot clear any prefix (seeds degenerate to "the first
# SEED_TERMS terms"); without a common term there is nothing worth
# pruning.  The gate affects plan choice only, never results — both
# branches are exact (pytest: flat + Zipfian routing, fixture +
# Zipfian equality); the degrade branch is q175's plan verbatim, with
# no checkpoint and no extra stage wave beyond the sample read.
# ------------------------------------------------------------------------------
SEED_TERMS = 8
MS_RARE_P = 0.125
MS_COMMON_P = 0.5


MS_SAMPLE_TARGET = 2048  # adaptive MOD keeps the sample ~this many docs

# Every retrieval memo is this one registry entry, keyed (kind, ...):
# the plan-gate verdicts by (kind, input-file sets), the grading
# family's frames by (kind, applicationId, sf_dir).
# memo.bypass("retrieval") turns them all off together.
_RETRIEVAL = memo.register("retrieval")


def _gate_memo_key(kind: str, *frames: DataFrame):
    """Corpus fingerprint for the plan-gate memo (r17; VERDICT r16
    Next-round #1): the sorted input-file lists of the gate's source
    frames (the similarity._corpus_rows precedent — ``inputFiles()``
    is a driver-side file-index listing, no Spark job).  The gate
    verdict is a property of the CORPUS, not the query, so repeated
    query constructions over the same parquet files (the serving
    profile: one long-lived process, many requests) reuse it instead
    of re-paying the bounded ~2k-doc probe per construction.  Frames
    without input files (in-memory test fixtures, streaming batches)
    return None — the probe runs unmemoized, correct either way; any
    file-set change (a store append, a different fixture dir) changes
    the key, so staleness is structural, never temporal.  None under
    memo.bypass("retrieval") — the memo-off true-cost bench convention
    keeps measuring the probe."""
    if not _RETRIEVAL.enabled:
        return None
    files = []
    for f in frames:
        fl = f.inputFiles()
        if not fl:
            return None
        files.append(tuple(sorted(fl)))
    return (kind, tuple(files))


# --- gate-verdict persistence next to the store (r18; VERDICT r17
# Next-round #5).  The r17 memo dies with the process, so a serving
# FLEET re-pays the bounded probe once per process per corpus; the
# verdict is now also written to a tiny dot-file sidecar under the
# store root (the `impact/` persist-the-statistic convention),
# invalidated by the same input-file fingerprint the in-memory memo
# keys on.  STORE-backed gate kinds only ('*_store'): their frames
# live under a writable state_dir the engine owns; the text gates
# read the immutable input fixtures, which must never be written to.
# memo.bypass("retrieval") skips load AND store (key is None), so the
# bench's memo-off timed region is unchanged.
_GATE_SIDECAR = ".gate_memo.json"


def _gate_sidecar_path(key) -> str | None:
    """Sidecar path for a persistable gate key: the root of the one
    partial store every input file lives in (``store.parse``).  None
    when the kind is not store-backed, or any file is not a local
    store partial, or the files span more than one store — a sidecar
    is only ever written inside a store the engine owns."""
    import os

    from ..streaming import store
    kind, file_sets = key
    if not kind.endswith("_store"):
        return None
    roots = {(store.parse(p) or (None,))[0]
             for tup in file_sets for p in tup}
    if len(roots) != 1 or None in roots:
        return None
    root = roots.pop()
    return (os.path.join(root, _GATE_SIDECAR) if os.path.isdir(root)
            else None)


def _gate_fingerprint(key) -> str:
    import hashlib
    return hashlib.sha256(repr(key).encode()).hexdigest()


def _gate_sidecar_load(key):
    """Persisted verdict for ``key`` (fingerprint must match exactly —
    any store append changes inputFiles() and misses), else None."""
    import json
    import os
    path = _gate_sidecar_path(key)
    if path is None or not os.path.isfile(path):
        return None
    try:
        with open(path) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        return None
    row = data.get(key[0]) if isinstance(data, dict) else None
    if (not isinstance(row, dict)
            or row.get("fp") != _gate_fingerprint(key)):
        return None
    return row.get("verdict")


def _gate_sidecar_store(key, verdict) -> None:
    """Best-effort atomic write (read-modify-replace; a read-only
    store dir or a lost race costs nothing but the next probe).  An
    unreadable or corrupt old file reads as empty, so the write
    replaces it instead of leaving persistence off for good."""
    import json
    import os
    path = _gate_sidecar_path(key)
    if path is None:
        return
    try:
        with open(path) as fh:
            data = json.load(fh)
    except (OSError, ValueError):
        data = {}
    if not isinstance(data, dict):
        data = {}
    try:
        data[key[0]] = {"fp": _gate_fingerprint(key),
                        "verdict": verdict}
        with open(path + ".part", "w") as fh:
            json.dump(data, fh)
        os.replace(path + ".part", path)
    except (OSError, ValueError):
        pass


def _gate_memo(kind: str):
    """Memoize a plan-gate probe ``probe(*frames)`` per corpus
    fingerprint: the in-memory memo, then the store sidecar (warming
    the memo), then the probe (its verdict persisted to the sidecar).
    Every call logs one JSON line naming the route and where it came
    from: ``{"event": "plan_gate", "kind", "plan", "source":
    "memo"|"sidecar"|"probe"}``."""
    def wrap(probe):
        @functools.wraps(probe)
        def gate(*frames: DataFrame):
            key = _gate_memo_key(kind, *frames)
            source = "memo"

            def build():
                nonlocal source
                hit = None if key is None else _gate_sidecar_load(key)
                source = "sidecar"
                if hit is None:
                    source = "probe"
                    hit = probe(*frames)
                    if key is not None:
                        _gate_sidecar_store(key, hit)
                return hit
            plan = _RETRIEVAL.get_or_build(key, build)
            log.info(json.dumps({"event": "plan_gate", "kind": kind,
                                 "plan": plan, "source": source}))
            return plan
        return gate
    return wrap


def term_upper_bounds(dfq: DataFrame, stats: DataFrame,
                      qterms: DataFrame) -> DataFrame:
    """(query_id, term, ub_fp) — per-query-term fixed-point score upper
    bounds, computed from df alone (no pass over postings).  Bounded to
    |queries| x |query terms| rows; shared by the spread gate and the
    pruning core so both read the same statistic."""
    idf = F.log(F.lit(1.0)
                + ((F.col("n_docs") - F.col("df")) + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    ub_fp = (F.ceil(idf * F.lit(BM25_K1 + 1.0) * F.lit(FP)) + F.lit(2)) \
        .cast("long")
    return (qterms.join(dfq, "term").crossJoin(F.broadcast(stats))
            .select("query_id", "term", ub_fp.alias("ub_fp")))


def bm25_full_scores(cands: DataFrame, tf: DataFrame, dfq: DataFrame,
                     dl: DataFrame, stats: DataFrame,
                     qterms: DataFrame) -> DataFrame:
    """(query_id, cand_id, fp_sum) — exact BM25 for an EXPLICIT
    candidate set, candidates-first join order so the fan-out never
    exceeds the candidates' own posting rows (the q178 discipline).
    Shared by the MaxScore machinery and q181's phrase-filtered
    ranking."""
    idf = F.log(F.lit(1.0)
                + ((F.col("n_docs") - F.col("df")) + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    contrib = (cands.join(tf, "cand_id")
               .join(qterms, ["query_id", "term"])
               .join(dfq, "term")
               .join(dl, "cand_id")
               .crossJoin(F.broadcast(stats)))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    norm = ((F.col("tf") * F.lit(BM25_K1 + 1.0))
            / (F.col("tf")
               + F.lit(BM25_K1) * (F.lit(1.0) - F.lit(BM25_B)
                                   + F.lit(BM25_B)
                                   * (F.col("dl") / avgdl))))
    fp = F.round(idf * norm * F.lit(FP)).cast("long")
    return (contrib.select("query_id", "cand_id", fp.alias("fp"))
            .groupBy("query_id", "cand_id")
            .agg(F.sum("fp").alias("fp_sum")))


def _seed_theta(postings: DataFrame, qub: DataFrame, full_scores,
                theta_rank: int):
    """(cand1, theta) — the seed candidate set and the achieved
    ``theta_rank``-th TRUE score per query, the first half of the
    MaxScore machinery (extracted r14 so the block-max variant reuses
    it verbatim).  Seeds: rarest terms -> smallest postings, highest
    impact.  Only terms within 2x of the query's best UB qualify —
    when rare terms exist they dominate the seed set (tiny postings,
    high θ), and on a flat-UB vocabulary every term qualifies and the
    cap keeps the old top-N behavior.  Seed choice affects only θ
    quality, never exactness (θ is the theta_rank-th TRUE score of
    any candidate subset)."""
    w_q = W.partitionBy("query_id")
    w_seed = W.partitionBy("query_id").orderBy(F.desc("ub_fp"), F.asc("term"))
    seeds = (qub.withColumn("_mx", F.max("ub_fp").over(w_q))
             .where(F.col("ub_fp") * 2 >= F.col("_mx"))
             .withColumn("_s", F.row_number().over(w_seed))
             .where(F.col("_s") <= SEED_TERMS).select("query_id", "term"))
    cand1 = (postings.join(seeds, "term")
             .where(F.col("cand_id") != F.col("query_id"))
             .select("query_id", "cand_id").distinct())

    s1 = full_scores(cand1)
    w_th = W.partitionBy("query_id").orderBy(F.desc("fp_sum"),
                                             F.asc("cand_id"))
    # the terminal per-query agg is a semantic no-op (the _r filter
    # already leaves one row per query) but makes theta's boundedness
    # STRUCTURAL — its topmost aggregate groups by query_id, the
    # explain_audit-exempt bounded key — so broadcast hints on it are
    # legal under the r8 global hint rule
    theta = (s1.withColumn("_r", F.row_number().over(w_th))
             .where(F.col("_r") == theta_rank)
             .groupBy("query_id")
             .agg(F.min("fp_sum").alias("theta")))
    return cand1, theta


def _essential_terms(qub: DataFrame, theta: DataFrame) -> DataFrame:
    """(query_id, term) — the essential split given a θ frame
    (query_id, theta): the ascending-UB prefix with strict cumsum <
    theta is prunable; null / absent theta keeps all terms.  Extracted
    (r14) so the store-derived-θ serving read (streaming/thetagate.py)
    reuses the exact split the one-shot plans run.  theta is <=
    |queries| rows by construction — broadcast it, else it
    sort-merge-joins (r11 plan audit).  SOUND FOR ANY θ LOWER BOUND:
    a doc matching only pruned terms scores <= the pruned prefix's UB
    cumsum < θ_supplied <= θ_true, so it can never displace a
    theta_rank-th-or-better row (the q178 block comment's argument
    verbatim — it never uses that θ is the EXACT kth score, only that
    some theta_rank true scores are >= it)."""
    w_cum = (W.partitionBy("query_id")
             .orderBy(F.asc("ub_fp"), F.asc("term"))
             .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (qub.join(F.broadcast(theta), "query_id", "left")
            .withColumn("_cum", F.sum("ub_fp").over(w_cum))
            .where(~(F.col("_cum") < F.col("theta"))
                   | F.col("theta").isNull())
            .select("query_id", "term"))


def _maxscore_prune(postings: DataFrame, qterms: DataFrame,
                    qub: DataFrame, full_scores,
                    theta_rank: int = POOL) -> DataFrame:
    """The generic seed/θ/essential MaxScore machinery, shared by the
    BM25 (q178) and BM25F (q183) pruned plans.  ``postings`` needs one
    (cand_id, term) row per pair; ``full_scores(cands)`` must return
    exact (query_id, cand_id, fp_sum) for an explicit candidate set;
    ``qub`` carries per-(query, term) score upper bounds in the same
    fixed point.  Exactness does not depend on the scoring model —
    only on UB_fp ≥ every snapped per-term contribution and θ being a
    TRUE achieved ``theta_rank``-th score (see the q178 block
    comment)."""
    cand1, theta = _seed_theta(postings, qub, full_scores, theta_rank)
    ess = _essential_terms(qub, theta)
    cand2 = (postings.join(ess, "term")
             .where(F.col("cand_id") != F.col("query_id"))
             .select("query_id", "cand_id").distinct())
    return cand1.unionByName(cand2).distinct()


def maxscore_candidates(tf: DataFrame, dfq: DataFrame, dl: DataFrame,
                        stats: DataFrame, qterms: DataFrame,
                        qub: DataFrame | None = None):
    """(cands, full_scores) — the BM25 MaxScore pruning entry, exposed
    so pytest can assert the candidate set is a strict subset of
    q175's full scored set while the pool stays exact.  See the q178
    block comment for the algorithm and the soundness argument.
    ``qub`` lets q178 pass an already-derived UB frame; absent, it is
    derived fresh (the pytest entry point)."""
    if qub is None:
        qub = term_upper_bounds(dfq, stats, qterms)

    def full_scores(cands: DataFrame) -> DataFrame:
        return bm25_full_scores(cands, tf, dfq, dl, stats, qterms)

    cands = _maxscore_prune(tf, qterms, qub, full_scores)
    return cands, full_scores


@query("q178_bm25_maxscore_topk", f"""{SQL_BM25_POOL}
SELECT query_id, cand_id, fp_sum / {FP} AS score, rank
FROM bpool WHERE rank <= {TOP_K}
""")
def q178_bm25_maxscore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MaxScore-pruned BM25 top-k (see block comment). Returns
    q175's output shape and, by the pruning-soundness argument, q175's
    exact rows — the oracle IS q175's SQL.  The plan gate picks the
    plan: flat vocabulary -> q175's direct scoring (pruning cannot win
    there and its phases are pure overhead); spread vocabulary -> the
    seed/θ/essential machinery.  q189's body with its 'block' route
    taken as 'term'; either branch is exact."""
    return _gated_bm25_topk(spark, sf_dir, blocks=False)


# --- q189: block-max MaxScore (blocked postings + per-block impact UBs) --------
#
# The next index structure after term-level MaxScore (r13 verdict,
# Next-round #1; ROADMAP's named candidate): Block-Max WAND/MaxScore
# (Ding & Suel, SIGIR 2011) keeps, per (term, fixed doc-range block),
# the block-LOCAL score upper bound instead of the whole-term analytic
# bound.  q178's UB(t) = idf·(k1+1) assumes a doc could saturate tf
# and have minimal length; inside one 64-doc block the REAL max tf and
# min dl are known, so
#
#   UB_blk(t, b) = idf(t) · satur(max_tf(t,b), min_dl(t,b))
#                <= idf(t) · (k1+1) = UB(t)
#
# — with satur(tf, dl) = tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),
# increasing in tf and decreasing in dl, so satur(max_tf, min_dl)
# dominates every doc in the block.  Tighter bounds prune at block
# granularity: a (query, block) whose Σ_{t ∈ q ∩ b} UB_blk(t, b) < θ
# cannot hold any doc scoring >= θ — the WHOLE block skips, including
# blocks of essential terms that term-level MaxScore must scan.
#
# Exactness (composes with the q178 argument): a doc d excluded from
# the candidate set either (a) matches no essential term — score <=
# pruned-prefix UB cumsum < θ (q178's essential argument) — or (b)
# sits in a pruned block b — score(q, d) = Σ_{t ∈ q ∩ d} fp(t, d)
# <= Σ_{t ∈ q present in b} UB_blk(t, b) < θ (every term of d in
# block b contributes at most its block bound, and terms of q absent
# from b contribute nothing to d).  Either way score < θ = a TRUE
# achieved POOL-th score, and the (fp DESC, cand ASC) tie-break ranks
# it below all POOL θ-or-better docs — so q189 ≡ q175 row-for-row
# (oracle: q175's SQL verbatim; pytest: flat + Zipfian + block-skewed
# corpora).
#
# Fixed-point care: UB_blk is ceil'd with the same +2 ulp margin as
# term_upper_bounds, so UB_blk_fp >= every SNAPPED fp(t, d) in the
# block (round(x) <= ceil(x_ub) + 1 whenever x <= x_ub).
#
# Scale shape (100 TB): the block-stats frame has one row per (term,
# block) — postings/|block| in the worst case, ~64x smaller than the
# postings themselves — and is exactly the "blocked postings layout"
# a BMW index persists (the streaming store keeps it as a MAX/MIN-
# mergeable partial: max_tf MAX-merges and min_dl MIN-merges across
# doc-disjoint batches, streaming/bm25gate.py).  The (query, block)
# survivor frame is |queries| x |blocks|-bounded, and the skip itself
# is a LEFT SEMI join of essential postings against it — the big side
# streams past once, no shuffle beyond the groupBys that build the
# bounded frames.
#
# PLAN GATE: routing is three-way — "flat" (no UB spread: q175's
# plan, pruning can't win), "term" (spread but tf-saturated postings:
# q178's machinery — when typical tf is high, satur(max_tf, ·) ≈ k1+1
# and block bounds collapse onto the whole-term bound, so the blocked
# index adds joins for nothing), "block" (spread + headroom).  The
# spread step is the q178 statistic (block comment above); the
# headroom step reads the SAME bounded sample (one Arrow task, ~2k
# docs) and measures the per-block TIGHTENING available: headroom =
# 1 − tf_p90/(tf_p90 + k1·B(dl_p10)) — the factor by which a typical
# block's bound sits below the analytic bound, computed from the
# sample's p90 term frequency and p10 doc length (quantiles, not
# maxima, so one pathological doc cannot flip the route; conservative
# on the term side — underestimating headroom only costs the block
# optimization, never correctness, and EVERY route is exact).  q178
# and q183, which have no block route, read 'block' as 'term'.
# ------------------------------------------------------------------------------
BLOCK_DOCS = 64       # fixed doc-range block width (BMW-standard scale)
BM_HEADROOM = 0.25    # min sampled per-block UB tightening to go "block"


def block_stats_from(tf: DataFrame, dl: DataFrame) -> DataFrame:
    """(term, block_id, max_tf, min_dl) — the blocked postings layout:
    per (term, fixed 64-doc block) max term frequency and min document
    length, everything UB_blk needs at read time.  MAX/MIN-mergeable
    over any doc-disjoint partition of the corpus (the streaming
    store's merge theorem: a block's docs split across batches, and
    MAX of per-batch maxima IS the block max)."""
    from .helpers import exact_tdiv
    return (tf.join(dl, "cand_id")
            .groupBy(exact_tdiv(F.col("cand_id"),
                                F.lit(BLOCK_DOCS)).alias("block_id"),
                     "term")
            .agg(F.max("tf").alias("max_tf"),
                 F.min("dl").alias("min_dl")))


def block_upper_bounds(blk: DataFrame, dfq: DataFrame, stats: DataFrame,
                       qterms: DataFrame) -> DataFrame:
    """(query_id, term, block_id, ub_blk_fp) — per-(query-term, block)
    fixed-point score upper bounds from the blocked layout.  The
    (query, term, idf) probe is |queries|·|query terms|-bounded and
    joins INTO the block-stats frame on term, so the blocked index
    streams past a broadcast probe — never the reverse."""
    idf = F.log(F.lit(1.0)
                + ((F.col("n_docs") - F.col("df")) + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    qidf = (qterms.join(dfq, "term").crossJoin(F.broadcast(stats))
            .select("query_id", "term", idf.alias("_idf"),
                    (F.col("sum_dl") / F.col("n_docs")).alias("_avgdl")))
    satur = ((F.col("max_tf") * F.lit(BM25_K1 + 1.0))
             / (F.col("max_tf")
                + F.lit(BM25_K1) * (F.lit(1.0) - F.lit(BM25_B)
                                    + F.lit(BM25_B)
                                    * (F.col("min_dl") / F.col("_avgdl")))))
    ub = (F.ceil(F.col("_idf") * satur * F.lit(FP)) + F.lit(2)) \
        .cast("long")
    return (blk.join(qidf, "term")
            .select("query_id", "term", "block_id",
                    ub.alias("ub_blk_fp")))


def blockmax_candidates(tf: DataFrame, dfq: DataFrame, dl: DataFrame,
                        stats: DataFrame, qterms: DataFrame,
                        blk: DataFrame | None = None):
    """(cands, full_scores) — the block-max MaxScore pruning entry:
    q178's seed/θ/essential machinery PLUS the per-(query, block)
    skip from the blocked layout's local bounds (see the q189 block
    comment for the soundness argument).  ``blk`` lets the serving
    read pass the PERSISTED blocked store (streaming/bm25gate.py);
    absent, it derives fresh from tf ⋈ dl (the one-shot path)."""
    from .helpers import exact_tdiv
    qub = term_upper_bounds(dfq, stats, qterms)

    def full_scores(cands: DataFrame) -> DataFrame:
        return bm25_full_scores(cands, tf, dfq, dl, stats, qterms)

    cand1, theta = _seed_theta(tf, qub, full_scores, POOL)
    ess = _essential_terms(qub, theta)
    if blk is None:
        blk = block_stats_from(tf, dl)
    bsum = (block_upper_bounds(blk, dfq, stats, qterms)
            .groupBy("query_id", "block_id")
            .agg(F.sum("ub_blk_fp").alias("blk_ub")))
    live = (bsum.join(F.broadcast(theta), "query_id", "left")
            .where(F.col("theta").isNull()
                   | ~(F.col("blk_ub") < F.col("theta")))
            .select("query_id", "block_id"))
    cand2 = (tf.join(ess, "term")
             .where(F.col("cand_id") != F.col("query_id"))
             .withColumn("block_id",
                         exact_tdiv(F.col("cand_id"), F.lit(BLOCK_DOCS)))
             .join(live, ["query_id", "block_id"], "left_semi")
             .select("query_id", "cand_id").distinct())
    return cand1.unionByName(cand2).distinct(), full_scores


def _plan_decision(doc_ids, term_counts, mod: int) -> str:
    """'flat' | 'term' | 'block' over an in-hand sample — ``doc_ids`` a
    pandas Series, ``term_counts`` an aligned Series of per-doc
    term -> tf Counters.  First the spread step (the q178 block
    comment): 'flat' unless some query carries both a rare and a
    common term under the sampled df proportions.  Empty docs are
    excluded from n_s: df proportions are "share of documents that CAN
    carry a term", and a postings store physically cannot see
    postings-free docs — counting them only on the text side would
    skew the two gates apart.  Routing parity is therefore exact on
    empty-free corpora (the pytest pin) and approximate when empties
    shift the adaptive MOD.  Then the block step adds the sampled
    headroom statistic (q189 block comment).  Conservative-side-only:
    every route returns exact rows — the statistic picks cost, never
    correctness."""
    is_s = (doc_ids % mod == 0) & term_counts.map(bool)
    n_s = int(is_s.sum())
    df_s: dict = {}
    for c in term_counts[is_s]:
        for t in c:
            df_s[t] = df_s.get(t, 0) + 1

    def spread(c) -> bool:
        ps = [df_s.get(t, 0) / n_s for t in c]
        return bool(ps) and min(ps) <= MS_RARE_P and max(ps) >= MS_COMMON_P

    if not n_s or not any(map(spread, term_counts[doc_ids < N_QUERIES])):
        return "flat"
    tfs = [v for c in term_counts[is_s] for v in c.values()]
    dls = [sum(c.values()) for c in term_counts[is_s]]
    tfs.sort()
    dls.sort()
    tf90 = float(tfs[min(len(tfs) - 1, (len(tfs) * 9) // 10)])
    dl10 = float(dls[min(len(dls) - 1, len(dls) // 10)])
    avgdl = sum(dls) / len(dls)
    b_min = 1.0 - BM25_B + BM25_B * dl10 / avgdl
    headroom = 1.0 - tf90 / (tf90 + BM25_K1 * b_min)
    return "block" if headroom >= BM_HEADROOM else "term"


def _text_counts(pdf):
    """(doc ids, per-doc term -> tf Counters) of sampled raw text."""
    from collections import Counter
    return pdf.doc_id, pdf.text.map(
        lambda t: Counter(x for x in (t or "").split(" ") if x))


def _postings_counts(pdf):
    """(doc ids, per-doc term -> tf Counters) of sampled stored
    postings.  List-agg then rowwise Counter: the version-agnostic
    shape (groupby().apply(..., include_groups=False) needs pandas
    >= 2.2 on executors, while the text side runs on any pandas —
    r14 ADVICE: keep the two gates' floor equal)."""
    from collections import Counter
    tl = (pdf.groupby("cand_id")
          .agg(term=("term", list), tf=("tf", list)))
    ids = tl.index.to_series().reset_index(drop=True)
    counts = (tl.apply(lambda r: Counter(dict(zip(r["term"], r["tf"]))),
                       axis=1)
              .reset_index(drop=True))
    return ids, counts


def _sampled_plan(n_docs: int, rows: DataFrame, to_counts) -> str:
    """The body both plan gates share.  ``rows`` is keyed by its first
    column (a doc id); the bounded sample (id % MOD == 0, MOD scaled
    so the sample stays ~MS_SAMPLE_TARGET docs at ANY corpus size;
    corpora under the target sample fully — no fixed floor, r12
    ADVICE) plus the query docs goes through ONE Arrow task — the
    repo's single-task-finisher pattern (dedup.py's union-find
    precedent): a declarative df-proportion plan costs ~6 tiny stage
    waves (~0.6 s of pure latency on local[32], measured) for a
    statistic over ≤ ~2 k docs.  ``to_counts`` turns the sampled
    pandas rows into (ids, Counters) for _plan_decision, which is
    order-independent (set/count arithmetic), so partition layout
    cannot change the route."""
    if n_docs == 0:
        return "flat"
    mod = max(1, n_docs // MS_SAMPLE_TARGET)
    key = F.col(rows.columns[0])
    pick = rows.where((key % mod == 0) | (key < N_QUERIES)).repartition(1)

    def _gate(batches):
        import pandas as pd
        frames = list(batches)
        if not frames:
            yield pd.DataFrame({"plan": ["flat"]})
            return
        ids, counts = to_counts(pd.concat(frames, ignore_index=True))
        yield pd.DataFrame({"plan": [_plan_decision(ids, counts, mod)]})

    return str(pick.mapInPandas(_gate, "plan string").first().plan)


@_gate_memo("plan")
def maxscore_gate_plan(d: DataFrame) -> str:
    """'flat' | 'term' | 'block' — the MaxScore plan gate over raw
    text (q178/q183 prune unless 'flat'; q189/q194 take all three
    routes).  n_docs is one parquet-metadata count (no column read).
    Memoized per corpus fingerprint (_gate_memo_key — r17): the route
    is a corpus property, so a rebuilt query over the same files skips
    the probe entirely."""
    return _sampled_plan(d.count(), d.select("doc_id", "text"),
                         _text_counts)


@_gate_memo("plan_store")
def maxscore_gate_plan_from_postings(tf: DataFrame,
                                     dl: DataFrame) -> str:
    """The plan gate over a STORED postings index — the served-read
    router.  n_docs is one count over the one-row-per-doc ``dl`` store
    (no postings read); the sample is the sampled docs' (cand_id,
    term, tf) rows, already tokenized, so it reads less than the text
    gate.  Served reads route like the one-shot on empty-free corpora;
    with empties the store cannot see postings-free docs, so n_docs
    (and hence the adaptive MOD / sample membership) may differ from
    the text side, and every route downstream is exact regardless.
    Memoized per store fingerprint (_gate_memo_key — appends change
    the file set, re-running the probe exactly when the corpus grew)
    and persisted next to the store (_GATE_SIDECAR)."""
    return _sampled_plan(dl.count(), tf.select("cand_id", "term", "tf"),
                         _postings_counts)


def _gated_bm25_topk(spark: SparkSession, sf_dir: str, *,
                     blocks: bool) -> DataFrame:
    """The body of q178 (``blocks=False``: a 'block' route runs as
    'term') and q189 (all three routes); see their docstrings."""
    d = load_table(spark, sf_dir, "documents")
    plan = maxscore_gate_plan(d)
    if plan == "flat":
        # q175's plan verbatim — no postings checkpoint, no extra
        # stage beyond the gate's sample read
        return q175_bm25_topk(spark, sf_dir)
    tf, dfq, dl, stats = corpus_term_frames(d)
    tf = tf.localCheckpoint(eager=True)  # multi-consumer postings index
    qterms = query_terms_from(tf)
    candidates = (blockmax_candidates if blocks and plan == "block"
                  else maxscore_candidates)
    cands, full_scores = candidates(tf, dfq, dl, stats, qterms)
    pool = _pool_rank(full_scores(cands),
                      [F.desc("fp_sum"), F.asc("cand_id")], POOL)
    return (pool.where(F.col("rank") <= TOP_K)
            .select("query_id", "cand_id",
                    (F.col("fp_sum") / F.lit(FP)).alias("score"),
                    "rank"))


@query("q189_bm25_blockmax_topk", f"""{SQL_BM25_POOL}
SELECT query_id, cand_id, fp_sum / {FP} AS score, rank
FROM bpool WHERE rank <= {TOP_K}
""")
def q189_bm25_blockmax_topk(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Exact block-max MaxScore BM25 top-k (see block comment):
    q175's rows from a candidate set pruned at BLOCK granularity via
    the blocked postings layout's local (max_tf, min_dl) bounds.
    Three-way plan gate: flat -> q175's plan verbatim; term -> q178's
    whole-term machinery (saturated postings, block bounds collapse);
    block -> the blocked skip.  Every branch is exact — the oracle is
    q175's SQL verbatim, the q178 precedent."""
    return _gated_bm25_topk(spark, sf_dir, blocks=True)


# --- q179: phrase retrieval over positional postings ---------------------------
#
# The proximity half of the r10 verdict's ask #4 (BM25F was the field
# half): exact consecutive-trigram phrase match via POSITIONAL
# postings.  Each query document's phrase is its first three tokens;
# a candidate matches where the same trigram occurs at ANY position.
#
# Spark-first shape: the positional shingle stream (doc_id, pos, sh)
# is the existing numpy trigram kernel with its position column
# enabled (dedup._spark_shingle_hashes(with_pos=True)) — the phrase
# probe is then ONE join of the corpus postings against a
# |queries|-row phrase frame (AQE broadcasts it from measured size),
# followed by a bounded groupBy.  No corpus self-join, no window over
# the corpus: at 100 TB the postings stream once past a broadcast
# hash table, exactly the q175 probe discipline.
#
# Determinism: matching is on the int64 trigram hash both engines
# fold identically (HB/SB/HM chain, SQL mirrored token for token), so
# even hash collisions — the documented semantic relaxation, ~1e-9.7
# per pair under 1e9+7 — are IDENTICAL cross-engine; counts and
# positions are exact integers.
# ------------------------------------------------------------------------------
def q179_phrase_sql() -> str:
    from .dedup import HM, SB, SQL_TOKS, _SQL_TOKH
    return f"""
WITH psh AS (
  SELECT doc_id, i + 1 AS pos,
         ((th[i+1] * {SB} + th[i+2]) % {HM} * {SB} + th[i+3]) % {HM} AS sh
  FROM (SELECT doc_id, th, UNNEST(RANGE(LEN(th) - 2)) AS i
        FROM (SELECT doc_id, {_SQL_TOKH} AS th
              FROM ({SQL_TOKS}) WHERE LEN(toks) >= 3))),
qp AS (SELECT doc_id AS query_id, sh AS qsh FROM psh
       WHERE pos = 1 AND doc_id < {N_QUERIES})
SELECT q.query_id, p.doc_id AS cand_id,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(MIN(p.pos) AS BIGINT) AS first_pos
FROM psh p JOIN qp q ON p.sh = q.qsh AND p.doc_id <> q.query_id
GROUP BY 1, 2
"""


def q179_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase (consecutive-trigram) retrieval — see block
    comment.  (query_id, cand_id, n_hits, first_pos) for every
    candidate containing the query's leading trigram."""
    from .dedup import _spark_shingle_hashes
    d = load_table(spark, sf_dir, "documents")
    psh = _spark_shingle_hashes(d, with_pos=True)
    qp = (psh.where((F.col("pos") == 1) & (F.col("doc_id") < N_QUERIES))
          .select(F.col("doc_id").alias("query_id"),
                  F.col("sh").alias("qsh")))
    return (psh.join(qp, psh.sh == qp.qsh)
            .where(F.col("doc_id") != F.col("query_id"))
            .groupBy("query_id", F.col("doc_id").alias("cand_id"))
            .agg(F.count("*").alias("n_hits"),
                 F.min("pos").alias("first_pos")))


QUERIES["q179_phrase_match"] = q179_phrase_match
ORACLES["q179_phrase_match"] = q179_phrase_sql()


# --- q181: phrase-filtered BM25 top-k ------------------------------------------
#
# The phrase→BM25 hybrid the r11 roadmap named: exact phrase matching
# (q179's positional-trigram probe) as the CANDIDATE GATE ahead of the
# scored pool, then full BM25 over the survivors only.  This is the
# "phrase query" of a production engine: documents must contain the
# query's leading trigram verbatim; ranking among them is ordinary
# relevance.
#
# Spark-first shape: the candidate set comes out of ONE broadcast
# probe of the positional postings (q179's plan, O(postings) with no
# corpus self-join); scoring reuses bm25_full_scores — the q178
# candidates-first join discipline — so the corpus-sized common-term
# fan-out of a full q175 run is never materialized.  At 100 TB this
# is the cheap way around: the phrase gate's selectivity (typically
# orders of magnitude) bounds everything downstream, and no pruning
# heuristics are needed because the candidate set is exact by
# construction.
#
# Determinism: candidates match on the int64 trigram fold both
# engines compute identically (q179's argument); scores are the same
# 1e-6 fixed-point BIGINT reduce as q175; ranking ties break on
# cand_id.
# ------------------------------------------------------------------------------
def q181_phrase_bm25_sql() -> str:
    from .dedup import HM, SB, SQL_TOKS, _SQL_TOKH
    return f"""
WITH psh AS (
  SELECT doc_id, i + 1 AS pos,
         ((th[i+1] * {SB} + th[i+2]) % {HM} * {SB} + th[i+3]) % {HM} AS sh
  FROM (SELECT doc_id, th, UNNEST(RANGE(LEN(th) - 2)) AS i
        FROM (SELECT doc_id, {_SQL_TOKH} AS th
              FROM ({SQL_TOKS}) WHERE LEN(toks) >= 3))),
qp AS (SELECT doc_id AS query_id, sh AS qsh FROM psh
       WHERE pos = 1 AND doc_id < {N_QUERIES}),
cands AS (SELECT DISTINCT q.query_id, p.doc_id AS cand_id
          FROM psh p JOIN qp q ON p.sh = q.qsh AND p.doc_id <> q.query_id),
t AS (SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '),
                                 x -> x <> '') AS toks
      FROM documents),
tok AS (SELECT doc_id, UNNEST(toks) AS term FROM t),
tf AS (SELECT doc_id AS cand_id, term, COUNT(*) AS tf
       FROM tok GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
dl AS (SELECT cand_id, SUM(tf) AS dl FROM tf GROUP BY 1),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
qterms AS (SELECT cand_id AS query_id, term FROM tf
           WHERE cand_id < {N_QUERIES}),
contrib AS (
  SELECT c.query_id, tf.cand_id,
         CAST(ROUND(
           LN(1.0 + ((s.n_docs - d.df) + 0.5) / (d.df + 0.5))
           * ((tf.tf * {BM25_K1 + 1.0})
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                   + {BM25_B} * (dl.dl / (s.sum_dl / s.n_docs)))))
           * {FP}) AS BIGINT) AS fp
  FROM cands c
  JOIN tf ON tf.cand_id = c.cand_id
  JOIN qterms q ON q.query_id = c.query_id AND q.term = tf.term
  JOIN dfq d ON d.term = tf.term
  JOIN dl ON dl.cand_id = tf.cand_id
  CROSS JOIN stats s),
agg AS (SELECT query_id, cand_id, SUM(fp) AS fp_sum
        FROM contrib GROUP BY 1, 2),
r AS (SELECT query_id, cand_id, fp_sum,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY fp_sum DESC, cand_id) AS rank
      FROM agg)
SELECT query_id, cand_id, fp_sum / {FP} AS score, rank
FROM r WHERE rank <= {TOP_K}
"""


def q181_phrase_filtered_bm25(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Exact-phrase candidate gate + BM25 ranking (see block comment):
    (query_id, cand_id, score, rank ≤ TOP_K) over documents containing
    the query's leading trigram."""
    d = load_table(spark, sf_dir, "documents")
    tf, dfq, dl, stats = corpus_term_frames(d)
    qterms = query_terms_from(tf)
    cands = (q179_phrase_match(spark, sf_dir)
             .select("query_id", "cand_id"))
    scores = bm25_full_scores(cands, tf, dfq, dl, stats, qterms)
    pool = _pool_rank(scores, [F.desc("fp_sum"), F.asc("cand_id")],
                      TOP_K)
    return pool.select("query_id", "cand_id",
                       (F.col("fp_sum") / F.lit(FP)).alias("score"),
                       "rank")


QUERIES["q181_phrase_filtered_bm25"] = q181_phrase_filtered_bm25
ORACLES["q181_phrase_filtered_bm25"] = q181_phrase_bm25_sql()


# --- q182: term-proximity scoring over positional token postings ---------------
#
# The proximity FEATURE of a ranking stack (roadmap candidate,
# r11→r12): for every (query, candidate) sharing ≥ 2 distinct query
# terms, the minimum token distance between occurrences of two
# DIFFERENT query terms in the candidate, plus the matched-term and
# hit counts.  Downstream rankers combine this with BM25 (proximity
# boosts); here it is the oracled primitive.
#
# Spark-first shape: token-level positional postings (doc_id, pos,
# term) probe the distinct query-term frame (aggregate-topped on an
# unbounded key, so UNHINTED — AQE broadcasts from measured size);
# the min-distance uses the sorted-adjacency theorem: the minimal
# different-term distance is always achieved by an ADJACENT pair in
# the position-sorted match list (any element strictly between a
# closer pair differs from at least one endpoint, yielding a closer
# pair — induction), so ONE lag window per (query, cand) suffices; no
# pairwise self-join of positions, window partitions bounded by
# matched tokens per doc.
#
# Determinism: positions are exact integers over the same
# empty-token-filtered sequence both engines derive; ties cannot
# occur (positions within a doc are distinct).
# ------------------------------------------------------------------------------
def token_postings(d: DataFrame) -> DataFrame:
    """(doc_id, pos, term) — token-level positional postings over the
    empty-token-filtered sequence, 1-based (the q179/q182 position
    convention).  Per-row projection, no shuffle; the streaming
    postings store persists exactly these rows per batch."""
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    return (d.select("doc_id", F.posexplode(toks).alias("i", "term"))
            .select("doc_id",
                    (F.col("i") + 1).cast("bigint").alias("pos"),
                    "term"))


def proximity_from(p: DataFrame, qtermf: DataFrame) -> DataFrame:
    """q182's scoring core from explicit frames — ``p`` is a
    token-postings frame (doc_id, pos, term), ``qtermf`` a distinct
    (query_id, term) probe.  Shared by the one-shot plan and the
    served read (streaming/proxgate.py); parity reduces to the frames
    being equal."""
    m = (p.join(qtermf, "term")
         .where(F.col("doc_id") != F.col("query_id"))
         .select("query_id", F.col("doc_id").alias("cand_id"),
                 "term", "pos"))
    w = W.partitionBy("query_id", "cand_id").orderBy("pos")
    gap = F.when(F.lag("term").over(w).isNotNull()
                 & (F.lag("term").over(w) != F.col("term")),
                 F.col("pos") - F.lag("pos").over(w))
    return (m.withColumn("gap", gap)
            .groupBy("query_id", "cand_id")
            .agg(F.count_distinct("term").alias("n_terms"),
                 F.count("*").alias("n_hits"),
                 F.min("gap").alias("min_dist"))
            .where(F.col("n_terms") >= 2))


@query("q182_term_proximity", f"""
WITH t AS (SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '),
                                      x -> x <> '') AS toks
           FROM documents),
p AS (SELECT doc_id, i + 1 AS pos, toks[i + 1] AS term
      FROM (SELECT doc_id, toks, UNNEST(RANGE(LEN(toks))) AS i FROM t)),
q AS (SELECT DISTINCT doc_id AS query_id, term FROM p
      WHERE doc_id < {N_QUERIES}),
m AS (SELECT q.query_id, p.doc_id AS cand_id, p.term, p.pos
      FROM p JOIN q ON p.term = q.term AND p.doc_id <> q.query_id),
w AS (SELECT query_id, cand_id, term, pos,
             LAG(term) OVER (PARTITION BY query_id, cand_id
                             ORDER BY pos) AS pterm,
             LAG(pos) OVER (PARTITION BY query_id, cand_id
                            ORDER BY pos) AS ppos
      FROM m)
SELECT query_id, cand_id,
       CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(MIN(CASE WHEN pterm IS NOT NULL AND pterm <> term
                     THEN pos - ppos END) AS BIGINT) AS min_dist
FROM w GROUP BY 1, 2
HAVING COUNT(DISTINCT term) >= 2
""")
def q182_term_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum different-term token distance per (query, candidate) —
    see block comment for the adjacency argument that makes this one
    window, not a position self-join."""
    d = load_table(spark, sf_dir, "documents")
    p = token_postings(d)
    q = (p.where(F.col("doc_id") < N_QUERIES)
         .select(F.col("doc_id").alias("query_id"), "term").distinct())
    return proximity_from(p, q)




# --- q183: MaxScore-pruned exact BM25F top-k -----------------------------------
#
# The roadmap's "BM25F MaxScore" (r11→r12): the q178 machinery applied
# to the field-weighted model.  The UB is even simpler than BM25's:
# the saturation tfw/(k1+tfw) is STRICTLY below 1 for any field
# weights/lengths, so UB_fp(t) = ceil(idf(t)·FP) + 2 bounds every
# snapped contribution from df alone — no per-field weight caps
# needed (the roadmap's worry dissolves because saturation is applied
# after the weighted sum, which is exactly what q177's model does).
# Seeds/θ/essential and the exactness argument are the shared
# _maxscore_prune core (θ = TOP_K-th TRUE BM25F score of seed
# candidates — q177's output is rank ≤ TOP_K, so that is the bound
# that must hold).  Same sampled-proportion plan gate as q178: the
# UB spread is a pure function of doc-level df, identical in both
# models, so the same statistic routes both.
#
# Oracle: q177's own SQL verbatim (exactness IS the contract, like
# q178 vs q175).
# ------------------------------------------------------------------------------
def bm25f_term_upper_bounds(dfd: DataFrame, ndocs: DataFrame,
                            qterms: DataFrame) -> DataFrame:
    """(query_id, term, ub_fp) for the BM25F model: saturation < 1,
    so the bound is idf alone (fixed-point, +2 ulp margin)."""
    ub_fp = (F.ceil(_bm25f_idf() * F.lit(FP)) + F.lit(2)).cast("long")
    return (qterms.join(dfd, "term").crossJoin(F.broadcast(ndocs))
            .select("query_id", "term", ub_fp.alias("ub_fp")))


@query("q183_bm25f_maxscore_topk", f"""WITH {SQL_BM25F_POOL}
SELECT query_id, cand_id, fp_sum / {FP} AS score, rank
FROM frank WHERE rank <= {TOP_K}
""")
def q183_bm25f_maxscore_topk(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Exact MaxScore-pruned BM25F top-k (see block comment): q177's
    rows from a pruned candidate set, plan-gated on the same sampled
    df-proportion statistic as q178."""
    d = load_table(spark, sf_dir, "documents")
    if maxscore_gate_plan(d) == "flat":
        return q177_bm25f_topk(spark, sf_dir)
    tff, dlf, dfd, ndocs, avgf = corpus_field_frames(d)
    tff = tff.localCheckpoint(eager=True)
    wtf = bm25f_weighted_tf(tff, dlf, avgf).localCheckpoint(eager=True)
    qterms = (tff.where(F.col("cand_id") < N_QUERIES)
              .select(F.col("cand_id").alias("query_id"), "term")
              .distinct())
    qub = bm25f_term_upper_bounds(dfd, ndocs, qterms)

    def full_scores(cands: DataFrame) -> DataFrame:
        return bm25f_full_scores(cands, wtf, dfd, ndocs, qterms)

    cands = _maxscore_prune(wtf.select("cand_id", "term"), qterms, qub,
                            full_scores, theta_rank=TOP_K)
    pool = _pool_rank(full_scores(cands),
                      [F.desc("fp_sum"), F.asc("cand_id")], TOP_K)
    return pool.select("query_id", "cand_id",
                       (F.col("fp_sum") / F.lit(FP)).alias("score"),
                       "rank")


# --- q194: block-max MaxScore for BM25F (per-field blocked layout) -------------
#
# q189's index structure extended to the field-weighted model (r15;
# r14 verdict Next-round #5): q183 prunes BM25F with the WHOLE-TERM
# bound idf(t) alone (saturation < 1 analytically — the loosest bound
# in the family), so every candidate matching an essential term gets
# scored.  The per-field blocked layout keeps, per (term, field,
# fixed 64-doc block), the block-local max tf and the min PER-FIELD
# length among the block's docs carrying the term in that field:
#
#   tfw_ub(t, b) = Σ_f w_f · max_tf(t, f, b) / B_f(min_dlf(t, f, b))
#
# with B_f(dl) = (1 − b_f) + b_f·dl/avgdl_f.  For any doc d in block
# b, each field's weighted-tf summand is ≤ its (t, f, b) bound (w·tf
# increasing in tf, /B_f decreasing in dl_f; fields where d lacks t
# contribute 0 and need no row), so tfw(t, d) ≤ tfw_ub(t, b); the
# saturation x/(k1 + x) is increasing, hence
#
#   UB_blk(t, b) = idf(t) · tfw_ub/(k1 + tfw_ub) ≥ fp(t, d) / FP
#
# — STRICTLY tighter than q183's idf(t) whenever tfw_ub is finite,
# which is what the field half was missing.  Exactness composes with
# the q183/q189 arguments verbatim: an excluded doc either matches no
# essential term (score ≤ pruned-prefix UB cumsum < θ) or sits in a
# block with Σ_{t ∈ q present in b} UB_blk(t, b) < θ (its own terms'
# contributions are each ≤ their block bound, terms absent from the
# block contribute nothing) — either way below a TRUE achieved
# TOP_K-th score, so q194 ≡ q177 row-for-row (oracle: q177's SQL
# verbatim; pytest: fixture + field-skewed corpora, pruned ≡
# unpruned per plan).
#
# Fixed-point care: UB_blk is ceil'd with the q178 +2 ulp margin so
# UB_blk_fp ≥ every SNAPPED fp(t, d) in the block.
#
# Plan gate: the one MaxScore plan gate, maxscore_gate_plan (its
# spread step picks flat vs pruned, its headroom step term vs block;
# q183 over the same corpus reads the same memoized route, taking
# 'block' as 'term').  The headroom statistic is computed on the plain
# tf/dl shape; for the field model it is a PROXY (the field split is
# a deterministic position rule over the same sampled tokens, so the
# tf/dl concentration it measures is the same phenomenon that gives
# the field bounds their tightening) — conservative-side-only, as
# everywhere in this family: routing picks cost, every route is
# exact.
#
# Scale shape (100 TB): the field-blocked frame has one row per
# (term, field, block) — ≤ |fields| × the q189 layout, ~64× smaller
# than the field postings; it MAX/MIN-merges across doc-disjoint
# batches exactly like the plain layout (the streaming store's sixth
# field partial), and the skip is the same LEFT SEMI of essential
# postings against a |queries| × |blocks|-bounded survivor frame.
# ------------------------------------------------------------------------------
def field_block_stats_from(tff: DataFrame, dlf: DataFrame) -> DataFrame:
    """(term, field, block_id, max_tf, min_dlf) — the per-field
    blocked postings layout.  MAX/MIN-mergeable over any doc-disjoint
    partition of the corpus (max of per-batch maxima IS the block
    max; same for min — the q189 merge theorem per field)."""
    from .helpers import exact_tdiv
    return (tff.join(dlf, ["cand_id", "field"])
            .groupBy(exact_tdiv(F.col("cand_id"),
                                F.lit(BLOCK_DOCS)).alias("block_id"),
                     "term", "field")
            .agg(F.max("tf").alias("max_tf"),
                 F.min("dlf").alias("min_dlf")))


def bm25f_block_upper_bounds(fblk: DataFrame, dfd: DataFrame,
                             ndocs: DataFrame, avgf: DataFrame,
                             qterms: DataFrame) -> DataFrame:
    """(query_id, term, block_id, ub_blk_fp) — per-(query-term,
    block) fixed-point BM25F score upper bounds from the per-field
    blocked layout (see the q194 block comment for the soundness
    argument).  The per-field contributions sum FIRST (tfw_ub), then
    saturate — mirroring the model's saturate-after-sum order; the
    |queries|·|query terms|-bounded idf probe joins INTO the bounded
    blocked frame, never the postings."""
    w_f = F.when(F.col("field") == "title", F.lit(W_TITLE)) \
           .otherwise(F.lit(W_BODY))
    b_f = F.when(F.col("field") == "title", F.lit(B_TITLE)) \
           .otherwise(F.lit(B_BODY))
    bnorm = ((F.lit(1.0) - b_f)
             + b_f * (F.col("min_dlf") / F.col("avgdl")))
    tfw_ub = (fblk.join(avgf, "field")
              .select("term", "block_id",
                      ((w_f * F.col("max_tf")) / bnorm).alias("c"))
              .groupBy("term", "block_id")
              .agg(F.sum("c").alias("tfw_ub")))
    qidf = (qterms.join(dfd, "term").crossJoin(F.broadcast(ndocs))
            .select("query_id", "term", _bm25f_idf().alias("_idf")))
    ub = (F.ceil(F.col("_idf")
                 * (F.col("tfw_ub") / (F.lit(BM25_K1) + F.col("tfw_ub")))
                 * F.lit(FP)) + F.lit(2)).cast("long")
    return (tfw_ub.join(qidf, "term")
            .select("query_id", "term", "block_id",
                    ub.alias("ub_blk_fp")))


def bm25f_blockmax_candidates(tff: DataFrame, dlf: DataFrame,
                              dfd: DataFrame, ndocs: DataFrame,
                              avgf: DataFrame, qterms: DataFrame,
                              wtf: DataFrame,
                              fblk: DataFrame | None = None):
    """(cands, full_scores) — the BM25F block-max pruning entry:
    q183's seed/θ/essential machinery (θ at TOP_K — the BM25F family
    pools at TOP_K depth) PLUS the per-(query, block) skip from the
    field-blocked layout.  ``wtf`` is the caller-materialized
    weighted-tf frame (multi-consumer, the q183 discipline); ``fblk``
    lets the serving read pass the PERSISTED field-blocked store,
    absent it derives fresh from tff ⋈ dlf."""
    from .helpers import exact_tdiv
    qub = bm25f_term_upper_bounds(dfd, ndocs, qterms)

    def full_scores(cands: DataFrame) -> DataFrame:
        return bm25f_full_scores(cands, wtf, dfd, ndocs, qterms)

    cand1, theta = _seed_theta(wtf.select("cand_id", "term"), qub,
                               full_scores, TOP_K)
    ess = _essential_terms(qub, theta)
    if fblk is None:
        fblk = field_block_stats_from(tff, dlf)
    bsum = (bm25f_block_upper_bounds(fblk, dfd, ndocs, avgf, qterms)
            .groupBy("query_id", "block_id")
            .agg(F.sum("ub_blk_fp").alias("blk_ub")))
    live = (bsum.join(F.broadcast(theta), "query_id", "left")
            .where(F.col("theta").isNull()
                   | ~(F.col("blk_ub") < F.col("theta")))
            .select("query_id", "block_id"))
    cand2 = (wtf.select("cand_id", "term").join(ess, "term")
             .where(F.col("cand_id") != F.col("query_id"))
             .withColumn("block_id",
                         exact_tdiv(F.col("cand_id"), F.lit(BLOCK_DOCS)))
             .join(live, ["query_id", "block_id"], "left_semi")
             .select("query_id", "cand_id").distinct())
    return cand1.unionByName(cand2).distinct(), full_scores


@query("q194_bm25f_blockmax_topk", f"""WITH {SQL_BM25F_POOL}
SELECT query_id, cand_id, fp_sum / {FP} AS score, rank
FROM frank WHERE rank <= {TOP_K}
""")
def q194_bm25f_blockmax_topk(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Exact block-max MaxScore BM25F top-k (see block comment):
    q177's rows from a candidate set pruned at BLOCK granularity via
    the per-field blocked layout.  Three-way plan gate (the q189
    statistic): flat -> q177's plan verbatim; term -> q183's
    whole-term machinery; block -> the field-blocked skip.  Every
    branch is exact — the oracle is q177's SQL verbatim (the
    q189 ← q175 precedent applied to the field half)."""
    d = load_table(spark, sf_dir, "documents")
    plan = maxscore_gate_plan(d)
    if plan == "flat":
        return q177_bm25f_topk(spark, sf_dir)
    if plan == "term":
        return q183_bm25f_maxscore_topk(spark, sf_dir)
    tff, dlf, dfd, ndocs, avgf = corpus_field_frames(d)
    tff = tff.localCheckpoint(eager=True)
    wtf = bm25f_weighted_tf(tff, dlf, avgf).localCheckpoint(eager=True)
    qterms = (tff.where(F.col("cand_id") < N_QUERIES)
              .select(F.col("cand_id").alias("query_id"), "term")
              .distinct())
    cands, full_scores = bm25f_blockmax_candidates(
        tff, dlf, dfd, ndocs, avgf, qterms, wtf)
    pool = _pool_rank(full_scores(cands),
                      [F.desc("fp_sum"), F.asc("cand_id")], TOP_K)
    return pool.select("query_id", "cand_id",
                       (F.col("fp_sum") / F.lit(FP)).alias("score"),
                       "rank")


# --- q184: proximity-boosted BM25 rerank ---------------------------------------
#
# The composition the two primitives exist for (roadmap r12→landed
# same round): q175's BM25 pool reranked by q182's proximity feature —
# the production "retrieve POOL, rerank top-K" pattern.  The boost is
# pure integer arithmetic so both engines agree bit-for-bit:
#
#   boosted_fp = fp_sum + floor(PROX_W / min_dist)   (0 when the pair
#   has no proximity row — fewer than 2 distinct shared terms)
#
# Tightly-colocated query terms (min_dist = 1) earn the full PROX_W
# fixed-point bonus, decaying hyperbolically.  Candidates outside the
# BM25 pool cannot enter (rerank-only, by design — the standard
# two-stage serving architecture); the rerank window is POOL-bounded
# per query, so no new corpus-scale work is added beyond q182's
# postings probe.  floor division via exact_tdiv / the _idiv mod
# identity (the r8 cross-engine division discipline).
# ------------------------------------------------------------------------------
PROX_W = 10_000_000  # fixed-point proximity bonus at distance 1


def proximity_boosted_pool(pool: DataFrame, prox: DataFrame,
                           depth: int = TOP_K) -> DataFrame:
    """(query_id, cand_id, min_dist, bfp, rank ≤ depth) — the boosted
    pool at an arbitrary rank depth (r14 extraction: q184 projects its
    TOP_K slice; q190 fuses the full POOL-deep list).  Pure integer
    arithmetic: bonus = floor(PROX_W / min_dist) via exact_tdiv, 0
    when the pair has no proximity row; the rerank window is
    pool-bounded per query by construction (rerank-only — candidates
    outside the input pool cannot enter)."""
    from .helpers import exact_tdiv
    bonus = F.coalesce(
        exact_tdiv(F.lit(PROX_W), F.col("min_dist")), F.lit(0))
    boosted = (pool.join(prox, ["query_id", "cand_id"], "left")
               .select("query_id", "cand_id", "min_dist",
                       (F.col("fp_sum") + bonus).alias("bfp")))
    w = W.partitionBy("query_id").orderBy(F.desc("bfp"),
                                          F.asc("cand_id"))
    return (boosted.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= depth))


def proximity_boosted_rerank(pool: DataFrame,
                             prox: DataFrame) -> DataFrame:
    """The q184 boost/rerank core from explicit frames — ``pool`` is a
    BM25 pool (query_id, cand_id, fp_sum), ``prox`` a proximity
    feature frame (query_id, cand_id, min_dist).  Shared by one-shot
    q184 and the served read (streaming/rrfserve.py), so parity
    between them reduces to the input frames being equal (the
    rrf_fuse / bm25_full_scores / proximity_from discipline; r12
    verdict ask #3 — previously a token-for-token copy).  The TOP_K
    projection of proximity_boosted_pool."""
    return (proximity_boosted_pool(pool, prox, TOP_K)
            .select("query_id", "cand_id", "min_dist",
                    (F.col("bfp") / F.lit(FP)).alias("score"), "rank"))


# the q182-shaped proximity CTEs (min_dist only) and the boost CTE,
# shared verbatim by the q184/q190 oracles (r14 extraction)
SQL_PROX_MIN_CTES = f"""p AS (SELECT doc_id, i + 1 AS pos, toks[i + 1] AS term
      FROM (SELECT doc_id, toks, UNNEST(RANGE(LEN(toks))) AS i FROM t)),
qt AS (SELECT DISTINCT doc_id AS query_id, term FROM p
       WHERE doc_id < {N_QUERIES}),
m AS (SELECT qt.query_id, p.doc_id AS cand_id, p.term, p.pos
      FROM p JOIN qt ON p.term = qt.term AND p.doc_id <> qt.query_id),
mw AS (SELECT query_id, cand_id, term, pos,
              LAG(term) OVER (PARTITION BY query_id, cand_id
                              ORDER BY pos) AS pterm,
              LAG(pos) OVER (PARTITION BY query_id, cand_id
                             ORDER BY pos) AS ppos
       FROM m),
prox AS (SELECT query_id, cand_id,
                CAST(MIN(CASE WHEN pterm IS NOT NULL AND pterm <> term
                              THEN pos - ppos END) AS BIGINT) AS min_dist
         FROM mw GROUP BY 1, 2
         HAVING COUNT(DISTINCT term) >= 2)"""

SQL_BOOSTED_CTE = f"""boosted AS (
  SELECT b.query_id, b.cand_id, x.min_dist,
         b.fp_sum + COALESCE(
           CAST(({PROX_W} - {PROX_W} % x.min_dist) / x.min_dist
                AS BIGINT), 0) AS bfp
  FROM bpool b
  LEFT JOIN prox x ON x.query_id = b.query_id
                  AND x.cand_id = b.cand_id)"""


@query("q184_proximity_boosted_bm25", f"""{SQL_BM25_POOL},
{SQL_PROX_MIN_CTES},
{SQL_BOOSTED_CTE},
rr AS (SELECT query_id, cand_id, min_dist, bfp,
              ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY bfp DESC, cand_id) AS rank
       FROM boosted)
SELECT query_id, cand_id, min_dist, bfp / {FP} AS score, rank
FROM rr WHERE rank <= {TOP_K}
""")
def q184_proximity_boosted_bm25(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """BM25 pool reranked by the proximity bonus (see block comment):
    (query_id, cand_id, min_dist, score, rank ≤ TOP_K)."""
    pool = _bm25_pool(spark, sf_dir)
    prox = (q182_term_proximity(spark, sf_dir)
            .select("query_id", "cand_id", "min_dist"))
    return proximity_boosted_rerank(pool, prox)


# --- q190: RRF fusion over the proximity-boosted pool ---------------------------
#
# The r13 verdict's fusion upgrade (Next-round #2): q176 fuses the
# PLAIN BM25 ranking with the cosine ranking, but q184's proximity-
# boosted pool is strictly better lexical input — same candidates
# (rerank-only), better order.  q190 is rrf_fuse over (boosted pool
# at full POOL depth, cosine pool): the hybrid a serving stack ships
# once it has the proximity feature.  q191 reads the q185 yardstick
# over it — see q191's block comment for the measured verdict (on
# the fixtures the fusion LOSES to its lexical input because the
# synthetic embeddings are uninformative about the lexical truth;
# the complementary-signal win is pinned separately in pytest).
#
# Scale shape: the boost joins two bounded frames (the POOL-deep pool
# and its matching proximity rows); the fusion joins two
# |queries|·POOL-row rank lists — everything after the audited q175 /
# q182 corpus passes is broadcast-sized.  Determinism: the boosted
# order is exact integer arithmetic (q184), the RRF sum is q176's
# two-term fixed-operand-order double — both already oracled.
# ------------------------------------------------------------------------------
@query("q190_proximity_fused_rrf", f"""{SQL_BM25_POOL},
{SQL_PROX_MIN_CTES},
{SQL_BOOSTED_CTE},
bb AS (SELECT query_id, cand_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY bfp DESC, cand_id) AS rank
       FROM boosted),
{SQL_COS_POOL},
fused AS (
  SELECT COALESCE(b.query_id, c.query_id) AS query_id,
         COALESCE(b.cand_id, c.cand_id) AS cand_id,
         b.rank AS rank_b, c.rank AS rank_c,
         COALESCE(1.0 / ({RRF_K} + b.rank), 0.0)
           + COALESCE(1.0 / ({RRF_K} + c.rank), 0.0) AS rrf
  FROM (SELECT * FROM bb WHERE rank <= {POOL}) b
  FULL OUTER JOIN cpool c
    ON b.query_id = c.query_id AND b.cand_id = c.cand_id),
franked AS (
  SELECT query_id, cand_id, rank_b, rank_c, rrf,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf DESC, cand_id) AS fused_rank
  FROM fused)
SELECT * FROM franked WHERE fused_rank <= {TOP_K}
""")
def q190_proximity_fused_rrf(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """RRF fusion of the proximity-boosted BM25 pool (q184's order at
    full POOL depth) and the cosine pool — q176's output shape
    (query_id, cand_id, rank_b, rank_c, rrf, fused_rank ≤ TOP_K),
    with rank_b now the BOOSTED lexical rank."""
    pool = _bm25_pool(spark, sf_dir)
    prox = (q182_term_proximity(spark, sf_dir)
            .select("query_id", "cand_id", "min_dist"))
    b = (proximity_boosted_pool(pool, prox, POOL)
         .select("query_id", "cand_id", F.col("rank").alias("rank_b")))
    c = (_cosine_pool(spark, sf_dir)
         .select("query_id", "cand_id", F.col("rank").alias("rank_c")))
    return rrf_fuse(b, c)


# --- q185/q186: ranking-quality metrics (nDCG@k, MRR, recall@k) ----------------
#
# The QA yardstick a retrieval stack reads before shipping an index
# change (r12 verdict, Next-round #2; the q156 recall-curve precedent
# extended from the ANN family to the lexical family): grade q175's
# BM25 top-k as the SYSTEM against an exact graded relevance set
# derived from the phrase + proximity features as the TRUTH —
#
#   rel(q, d) = 3  if d contains q's leading trigram (q179's exact
#                  phrase match — the strongest signal; 0-3 docs per
#                  query at sf0.01),
#               2  if d covers ALL of q's distinct terms AND has an
#                  adjacent different-term pair (min_dist = 1; 1-103
#                  docs per query),
#               1  if d covers >= 7/8 of q's distinct terms (q182's
#                  coverage feature; ~160-230 docs per query),
#               0  otherwise — tiers chosen so the truth DISCRIMINATES
#                  on the shared-vocabulary fixture (a bare
#                  shares-2-terms cut marks 499/500 docs relevant and
#                  every metric saturates at 1.0).
#
# Everything is integer / fixed-point so both engines agree
# bit-for-bit (the q156 discipline): the per-rank nDCG discount
# weights round(1e6 / log2(rank+1)) are PRE-COMPUTED Python integers
# embedded verbatim in the Spark plan and the oracle SQL — no
# cross-engine log ever runs — and every ratio is a floor-division
# ppm (exact_tdiv / the mod identity; all numerators < 2^51).
#
#   DCG_fp@k  = sum_{i<=k} rel_i * W[i]          (system order)
#   IDCG_fp@k = the same sum over the truth set's ideal order
#               (rel DESC, cand_id ASC), top k via the salted
#               two-stage _pool_rank (no corpus-sized window)
#   ndcg_ppm  = floor(DCG_fp * 1e6 / IDCG_fp)    (0 when no truth)
#   mrr_ppm   = floor(1e6 / first relevant rank) (0 when none hit)
#   recall_ppm= floor(hits@k * 1e6 / n_rel)      (0 when no truth)
#
# Scale shape: truth composes q182's audited one-window plan, q179's
# broadcast-probe phrase join, and a 10-row broadcast of the query
# sizes (query_id-keyed aggregate — the bounded-key exemption); the
# system join is the TOP_K-row pool INNER-joined into truth (AQE
# broadcasts the pool; unmatched pairs contribute 0 by algebra, so no
# outer join of the big side); every later frame is per-query
# bounded.  q186 macro-averages q185's N_QUERIES rows.
# ------------------------------------------------------------------------------
NDCG_SCALE = 1_000_000                      # integer ppm fixed point
W_NDCG = (1000000, 630930, 500000, 430677, 386853,
          356207, 333333, 315465, 301030, 289065)
assert len(W_NDCG) == TOP_K

_SQL_W_VALUES = ", ".join(f"({i + 1}, {w})" for i, w in enumerate(W_NDCG))


def _sql_truth_ctes() -> str:
    """The system-independent oracle CTEs — BM25 pool + graded truth
    tiers + ideal-DCG machinery — shared by the q185/q186/q191
    oracles (r14 split of the old monolithic _quality_sql).  Built at
    call time because the phrase tier reuses dedup's token-hash SQL
    chain (the q179 fragment, mirrored token for token so even
    trigram-hash collisions are identical cross-engine)."""
    from .dedup import HM, SB, SQL_TOKS, _SQL_TOKH
    return f"""{SQL_BM25_POOL},
p AS (SELECT doc_id, i + 1 AS pos, toks[i + 1] AS term
      FROM (SELECT doc_id, toks, UNNEST(RANGE(LEN(toks))) AS i FROM t)),
qt AS (SELECT DISTINCT doc_id AS query_id, term FROM p
       WHERE doc_id < {N_QUERIES}),
qn AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS qsize
       FROM qt GROUP BY 1),
m AS (SELECT qt.query_id, p.doc_id AS cand_id, p.term, p.pos
      FROM p JOIN qt ON p.term = qt.term AND p.doc_id <> qt.query_id),
mw AS (SELECT query_id, cand_id, term, pos,
              LAG(term) OVER (PARTITION BY query_id, cand_id
                              ORDER BY pos) AS pterm,
              LAG(pos) OVER (PARTITION BY query_id, cand_id
                             ORDER BY pos) AS ppos
       FROM m),
prox AS (SELECT query_id, cand_id,
                CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
                CAST(MIN(CASE WHEN pterm IS NOT NULL AND pterm <> term
                              THEN pos - ppos END) AS BIGINT)
                  AS min_dist
         FROM mw GROUP BY 1, 2
         HAVING COUNT(DISTINCT term) >= 2),
psh AS (SELECT doc_id, i + 1 AS pos,
               ((th[i+1] * {SB} + th[i+2]) % {HM} * {SB} + th[i+3])
               % {HM} AS sh
        FROM (SELECT doc_id, th, UNNEST(RANGE(LEN(th) - 2)) AS i
              FROM (SELECT doc_id, {_SQL_TOKH} AS th
                    FROM ({SQL_TOKS}) WHERE LEN(toks) >= 3))),
qp AS (SELECT doc_id AS query_id, sh AS qsh FROM psh
       WHERE pos = 1 AND doc_id < {N_QUERIES}),
phr AS (SELECT DISTINCT q.query_id, p2.doc_id AS cand_id
        FROM psh p2 JOIN qp q ON p2.sh = q.qsh
                             AND p2.doc_id <> q.query_id),
truth AS (SELECT query_id, cand_id, CAST(MAX(rel) AS BIGINT) AS rel
          FROM (SELECT x.query_id, x.cand_id,
                       CASE WHEN x.n_terms = qn.qsize
                             AND x.min_dist = 1 THEN 2
                            ELSE 1 END AS rel
                FROM prox x JOIN qn USING (query_id)
                WHERE 8 * x.n_terms >= 7 * qn.qsize
                UNION ALL
                SELECT query_id, cand_id, 3 AS rel FROM phr) u
          GROUP BY 1, 2),
wtab AS (SELECT * FROM (VALUES {_SQL_W_VALUES}) AS v(rnk, wfp)),
nrel AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel
         FROM truth GROUP BY 1),
irank AS (SELECT query_id, rel,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY rel DESC, cand_id) AS rnk
          FROM truth),
idcg AS (SELECT query_id, CAST(SUM(rel * w.wfp) AS BIGINT) AS idcg_fp
         FROM irank JOIN wtab w USING (rnk)
         WHERE rnk <= {TOP_K} GROUP BY 1)"""


def _sql_system_metrics(pool_cte: str, sfx: str) -> str:
    """Per-system metric CTEs (srel/sysm/perq, suffixed) grading an
    arbitrary rank-≤-TOP_K pool CTE against the shared truth — the
    old _quality_sql metric chain parameterized by system (r14, for
    the q191 three-system comparison)."""
    return f"""srel{sfx} AS (SELECT tk.query_id, tk.rank, tr.rel
         FROM {pool_cte} tk JOIN truth tr USING (query_id, cand_id)),
sysm{sfx} AS (SELECT query_id,
                CAST(SUM(rel * w.wfp) AS BIGINT) AS dcg_fp,
                CAST(COUNT(*) AS BIGINT) AS hits_k,
                MIN(rank) AS frr
         FROM srel{sfx} JOIN wtab w ON w.rnk = srel{sfx}.rank
         GROUP BY 1),
perq{sfx} AS (
  SELECT b.query_id,
         CAST(COALESCE(n.n_rel, 0) AS BIGINT) AS n_rel,
         CAST(COALESCE(s.hits_k, 0) AS BIGINT) AS hits_k,
         CAST(COALESCE(s.frr, 0) AS BIGINT) AS first_rel_rank,
         CAST(COALESCE(s.dcg_fp, 0) AS BIGINT) AS dcg_fp,
         CAST(COALESCE(i.idcg_fp, 0) AS BIGINT) AS idcg_fp,
         CAST(CASE WHEN COALESCE(i.idcg_fp, 0) = 0 THEN 0
              ELSE (COALESCE(s.dcg_fp, 0) * {NDCG_SCALE}
                    - (COALESCE(s.dcg_fp, 0) * {NDCG_SCALE})
                      % i.idcg_fp) / i.idcg_fp END AS BIGINT)
           AS ndcg_ppm,
         CAST(CASE WHEN s.frr IS NULL THEN 0
              ELSE ({NDCG_SCALE} - {NDCG_SCALE} % s.frr) / s.frr
              END AS BIGINT) AS mrr_ppm,
         CAST(CASE WHEN COALESCE(n.n_rel, 0) = 0 THEN 0
              ELSE (COALESCE(s.hits_k, 0) * {NDCG_SCALE}
                    - (COALESCE(s.hits_k, 0) * {NDCG_SCALE})
                      % n.n_rel) / n.n_rel END AS BIGINT)
           AS recall_ppm
  FROM (SELECT DISTINCT cand_id AS query_id FROM tf
        WHERE cand_id < {N_QUERIES}) b
  LEFT JOIN sysm{sfx} s USING (query_id)
  LEFT JOIN nrel n USING (query_id)
  LEFT JOIN idcg i USING (query_id))"""


def _quality_sql(tail: str) -> str:
    """The q185/q186 oracle body: shared truth CTEs + the BM25 topk
    system metrics, finished by ``tail`` (which reads ``perq``)."""
    return f"""{_sql_truth_ctes()},
topk AS (SELECT query_id, cand_id, rank FROM bpool
         WHERE rank <= {TOP_K}),
{_sql_system_metrics('topk', '')}
{tail}"""


def relevance_truth_from(p: DataFrame, phr: DataFrame, *,
                         prox: DataFrame | None = None) -> DataFrame:
    """The graded-truth tiers from explicit frames — ``p`` a token-
    postings frame (doc_id, pos, term), ``phr`` a (query_id, cand_id)
    phrase-match pair frame.  Shared by the one-shot truth below and
    the served quality read (streaming/rrfserve.py), so parity
    reduces to the input frames being equal (the proxgate/phrasegate
    store theorems).  ``prox`` lets a caller that already built the
    q182 feature frame (q191 shares it between the boost and the
    truth) pass it in; absent, it derives from ``p``."""
    qtermf = (p.where(F.col("doc_id") < N_QUERIES)
              .select(F.col("doc_id").alias("query_id"), "term")
              .distinct())
    qn = qtermf.groupBy("query_id").agg(F.count("*").alias("qsize"))
    if prox is None:
        prox = proximity_from(p, qtermf)
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


def relevance_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, cand_id, rel ∈ {1, 2, 3}) — the exact graded
    relevance set (tiers in the block comment).  Derived entirely
    from the phrase (q179) and proximity/coverage (q182) features, so
    the metric grades q175 against independently-computable ground
    truth, not against itself."""
    d = load_table(spark, sf_dir, "documents")
    return relevance_truth_from(token_postings(d),
                                q179_phrase_match(spark, sf_dir))


def q195_relevance_truth(spark: SparkSession,
                         sf_dir: str) -> DataFrame:
    """The graded truth set as a first-class registry output (r15):
    (query_id, cand_id, rel ∈ {1, 2, 3}).  Every quality read in the
    family grades against exactly this frame, and the incremental
    truth store (streaming/truthgate.read_truth — per-batch
    candidate-disjoint tier partials under the query-docs-first
    contract) serves it without a corpus re-scan; registering it
    puts the DuckDB oracle directly on the tier arithmetic instead
    of only on metrics derived from it.  Lazy build (no gate probes,
    no checkpoints — the one-shot path is two broadcast-probe joins
    plus bounded per-pair windows)."""
    return relevance_truth(spark, sf_dir)


def _register_q195() -> None:
    """Deferred registration (the _register_q192 pattern): the oracle
    composes the truth CTEs, which reuse dedup's token-hash SQL chain
    built at call time."""
    QUERIES["q195_relevance_truth"] = q195_relevance_truth
    ORACLES["q195_relevance_truth"] = f"""{_sql_truth_ctes()}
SELECT query_id, cand_id, rel FROM truth"""


def q196_truth_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_rel, idcg_fp) — the system-independent metric
    halves (truth-set size and ideal DCG in the W_NDCG fixed point)
    as a first-class oracled registry output (r16; VERDICT r15
    Next-round #3's yardstick): the DuckDB oracle sits directly on
    the ideal-ranking arithmetic, and the incremental truth store's
    read (streaming/truthgate.read_truth_side — n_rel SUM-merged
    over candidate-disjoint batches, IDCG re-ranked over the bounded
    union of per-batch ideal top-K lists) is pytest-pinned equal to
    it at full corpus.  Lazy build (no gate probes, no
    checkpoints)."""
    nrel, idcg = truth_side_frames(relevance_truth(spark, sf_dir))
    return (nrel.join(idcg, "query_id")
            .select("query_id",
                    F.col("n_rel").cast("bigint").alias("n_rel"),
                    F.col("idcg_fp").cast("bigint").alias("idcg_fp")))


def _register_q196() -> None:
    """Deferred registration (the _register_q195 pattern): the oracle
    composes the truth CTEs, which reuse dedup's token-hash SQL chain
    built at call time."""
    QUERIES["q196_truth_side"] = q196_truth_side
    ORACLES["q196_truth_side"] = f"""{_sql_truth_ctes()}
SELECT n.query_id, n.n_rel, i.idcg_fp
FROM nrel n JOIN idcg i USING (query_id)"""


def query_doc_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id) — every non-empty query document (doc_id < N_QUERIES
    with ≥ 1 token): the metric DENOMINATOR base.  Deriving the base
    from the pool instead would let a query whose retrieval returns
    NOTHING silently drop out of the q186 macro average — a retrieval
    regression would then RAISE the shipped verdict metric (r13
    self-review).  Mirrors the oracle's `SELECT DISTINCT cand_id FROM
    tf WHERE cand_id < N_QUERIES` (postings exist iff ≥ 1 token)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    return (d.where(F.col("doc_id") < N_QUERIES)
            .where(F.size(toks) > 0)
            .select(F.col("doc_id").alias("query_id")))


def truth_side_frames(truth: DataFrame):
    """(nrel, idcg) — the system-independent halves of the metric
    arithmetic (truth-set size and ideal DCG), extracted (r14) so a
    multi-system comparison (q191) computes them once instead of once
    per graded ranker."""
    warr = F.array(*[F.lit(w) for w in W_NDCG])
    nrel = truth.groupBy("query_id").agg(F.count("*").alias("n_rel"))
    ideal = _pool_rank(truth, [F.desc("rel"), F.asc("cand_id")], TOP_K)
    idcg = (ideal
            .select("query_id",
                    (F.col("rel")
                     * F.element_at(warr, F.col("rank").cast("int")))
                    .alias("w"))
            .groupBy("query_id").agg(F.sum("w").alias("idcg_fp")))
    return nrel, idcg


def quality_metrics_from(pool: DataFrame, truth: DataFrame,
                         base: DataFrame | None = None, *,
                         nrel: DataFrame | None = None,
                         idcg: DataFrame | None = None) -> DataFrame:
    """The metric arithmetic from explicit frames — ``pool`` a ranked
    system frame (query_id, cand_id, rank ≤ TOP_K), ``truth`` a graded
    relevance frame (query_id, cand_id, rel), ``base`` the (query_id)
    denominator frame (defaults to the pool's own query set; pass the
    full query-doc base so zero-result queries still emit all-zero
    rows instead of vanishing).  Shared by one-shot q185 and the
    served quality read (streaming/rrfserve.py).  ``nrel``/``idcg``
    let a multi-system caller (q191) pass the truth-side halves in
    precomputed; absent, they derive from ``truth``."""
    from .helpers import exact_tdiv
    warr = F.array(*[F.lit(w) for w in W_NDCG])
    # matched system rows only: unmatched ranks contribute 0 to every
    # aggregate, so an INNER join suffices (no outer join of the
    # corpus-sized truth frame)
    srel = pool.join(truth, ["query_id", "cand_id"])
    sysm = (srel.select("query_id", "rank", "rel")
            .groupBy("query_id")
            .agg(F.sum(F.col("rel")
                       * F.element_at(warr, F.col("rank").cast("int")))
                  .alias("dcg_fp"),
                 F.count("*").alias("hits_k"),
                 F.min("rank").alias("frr")))
    if nrel is None or idcg is None:
        nrel, idcg = truth_side_frames(truth)
    if base is None:
        base = pool.select("query_id").distinct()
    base = base.select("query_id").distinct()
    j = (base.join(sysm, "query_id", "left")
         .join(nrel, "query_id", "left")
         .join(idcg, "query_id", "left"))
    dcg = F.coalesce(F.col("dcg_fp"), F.lit(0))
    hits = F.coalesce(F.col("hits_k"), F.lit(0))
    ndcg = F.when(F.coalesce(F.col("idcg_fp"), F.lit(0)) == 0,
                  F.lit(0)) \
        .otherwise(exact_tdiv(dcg * F.lit(NDCG_SCALE),
                              F.col("idcg_fp")))
    mrr = F.coalesce(exact_tdiv(F.lit(NDCG_SCALE), F.col("frr")),
                     F.lit(0))
    recall = F.when(F.coalesce(F.col("n_rel"), F.lit(0)) == 0,
                    F.lit(0)) \
        .otherwise(exact_tdiv(hits * F.lit(NDCG_SCALE),
                              F.col("n_rel")))
    return j.select(
        "query_id",
        F.coalesce(F.col("n_rel"), F.lit(0)).cast("bigint")
         .alias("n_rel"),
        hits.cast("bigint").alias("hits_k"),
        F.coalesce(F.col("frr"), F.lit(0)).cast("bigint")
         .alias("first_rel_rank"),
        dcg.cast("bigint").alias("dcg_fp"),
        F.coalesce(F.col("idcg_fp"), F.lit(0)).cast("bigint")
         .alias("idcg_fp"),
        ndcg.cast("bigint").alias("ndcg_ppm"),
        mrr.cast("bigint").alias("mrr_ppm"),
        recall.cast("bigint").alias("recall_ppm"))


def _corpus_memo(kind: str, spark: SparkSession, sf_dir: str, build):
    return _RETRIEVAL.get_or_build(
        (kind, spark.sparkContext.applicationId, sf_dir), build)


def corpus_term_frames_memo(spark: SparkSession, sf_dir: str,
                            p: DataFrame | None = None):
    """(tf, dfq, dl, stats) with tf eagerly checkpointed — the shared
    postings pass of the grading/PRF family (r15: the r14 verdict's
    single-scan ask).  tf is ALWAYS materialized (every caller is
    multi-consumer — q187's two passes + the mine, the pool + the
    derived stats); the memo switch only controls whether later
    callers in the same (applicationId, sf_dir) reuse it.  ``p``
    supplies an already-MATERIALIZED token-postings frame (the truth
    build's checkpointed posexplode) — the frames then derive from
    its in-hand rows instead of a second corpus tokenize (one-scan
    pipeline); values are identical either way (same tokens, same
    aggregates).  The one-shot single-consumer plans (q175/q176 via
    _bm25_pool) stay on the lazy un-checkpointed path so their bench
    rows remain true pipeline costs."""
    def build():
        if p is not None:
            # p IS the materialization: tf's consumers re-aggregate its
            # in-hand rows (bounded, in-memory) — a second checkpoint of
            # tf would double-pay materialization for no saved scan (the
            # r15 bench found exactly that +1.5 s on the memo-off path)
            return corpus_term_frames_from(p)
        d = load_table(spark, sf_dir, "documents")
        tf, dfq, dl, stats = corpus_term_frames(d)
        return tf.localCheckpoint(eager=True), dfq, dl, stats
    return _corpus_memo("term", spark, sf_dir, build)


def bm25_pool_memo(spark: SparkSession, sf_dir: str,
                   p: DataFrame | None = None) -> DataFrame:
    """The BM25 candidate pool (query_id, cand_id, fp_sum,
    rank ≤ POOL) computed ONCE per (applicationId, sf_dir) off the
    shared postings checkpoint — q185/q186/q191/q192/q193 grade
    against it and q187's PRF pass 1 IS it (same frames, same
    bm25_pool_from core), so with the memo warm the whole grading
    family reads one corpus pass instead of re-scoring per caller
    (r15 single-scan pipeline).  POOL·|queries| rows — trivial to
    checkpoint.  Memo off: returns the lazy plan (true-cost bench
    runs)."""
    def build():
        tf, dfq, dl, stats = corpus_term_frames_memo(spark, sf_dir, p=p)
        pool = bm25_pool_from(tf, dfq, dl, stats, query_terms_from(tf))
        if _RETRIEVAL.enabled:
            pool = pool.localCheckpoint(eager=True)
        return pool
    return _corpus_memo("pool", spark, sf_dir, build)


def quality_corpus_frames(spark: SparkSession, sf_dir: str):
    """(pool, px, truth) — the three corpus-pass products the grading
    family shares (the BM25 pool, the q182 proximity feature, the
    graded truth), memoized + eagerly checkpointed per
    (applicationId, sf_dir) under the same memo entry as the graded
    frame (r14, extending the r13 ask-#3
    extraction one level down so q191's three-system comparison reads
    the SAME frames q185 grades instead of re-running three corpus
    passes — measured 14.7 s -> ~4 s at sf0.1 with the memo warm).
    All three outputs are bounded (pool is POOL·|queries| rows;
    px/truth are per-query-capped pair frames), so the checkpoints
    hold tiny frames, each produced by one corpus pass.  With the
    memo bypassed nothing is checkpointed and the frames stay lazy —
    q185's bench number remains the TRUE pipeline cost."""
    def build():
        d = load_table(spark, sf_dir, "documents")
        # ONE-SCAN pipeline (r15): the positional postings are the hub —
        # materialized once (an in-call checkpoint, part of the pipeline
        # cost even with the memo bypassed, the q187-tf precedent), then
        # the query probe, the proximity feature, the truth tiers AND the
        # BM25 term frames (via corpus_term_frames_memo's ``p`` route)
        # all derive from its in-hand rows.  Corpus text is read exactly
        # twice per cold build: this posexplode and the trigram shingle
        # kernel (q179 — a numpy codepoint fold over raw text that a
        # token stream cannot feed), down from the r14 pipeline's four
        # tokenize/explode passes.
        p = token_postings(d).localCheckpoint(eager=True)
        qtermf = (p.where(F.col("doc_id") < N_QUERIES)
                  .select(F.col("doc_id").alias("query_id"), "term")
                  .distinct())
        px = proximity_from(p, qtermf)
        if _RETRIEVAL.enabled:
            px = px.localCheckpoint(eager=True)
        truth = relevance_truth_from(p, q179_phrase_match(spark, sf_dir),
                                     prox=px)
        pool = bm25_pool_memo(spark, sf_dir, p=p)
        if _RETRIEVAL.enabled:
            truth = truth.localCheckpoint(eager=True)
        return pool, px, truth
    return _corpus_memo("grade", spark, sf_dir, build)


def graded_quality_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q185's per-query metric frame — the suite's most expensive
    pipeline (3 corpus passes: BM25 pool + proximity/coverage truth +
    phrase truth), shared by q185 (returns it) and q186 (aggregates
    it).  Memoized per (applicationId, sf_dir) — the
    winnow_verified_star_edges precedent (r13 verdict, What's-wrong
    #1: composition-by-call paid the pipeline once per caller, 6.7%
    of suite wall-time for two N_QUERIES-row frames).  The memoized
    frame is eagerly localCheckpointed (N_QUERIES rows — trivial to
    hold) so the second consumer reads materialized rows instead of
    re-deriving three corpus passes.  memo.bypass("retrieval") skips
    the memo entirely (no read, no write): bench.py wraps q185's own
    runs in it so every benched q185 sample measures the TRUE pipeline
    cost under min-of-N in one app; q186's bench entry reuses the
    frame by design — BASELINE.md ledgers that (the q167/q174
    edge-memo split, applied verbatim)."""
    def build():
        pool, _, truth = quality_corpus_frames(spark, sf_dir)
        out = quality_metrics_from(
            pool.where(F.col("rank") <= TOP_K)
            .select("query_id", "cand_id", "rank"),
            truth, base=query_doc_base(spark, sf_dir))
        if _RETRIEVAL.enabled:
            out = out.localCheckpoint(eager=True)
        return out
    return _corpus_memo("quality", spark, sf_dir, build)


def q185_retrieval_quality(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Per-query ranking-quality metrics for q175 against the graded
    phrase/proximity truth set: (query_id, n_rel, hits_k,
    first_rel_rank, dcg_fp, idcg_fp, ndcg_ppm, mrr_ppm, recall_ppm) —
    all exact integers (see block comment)."""
    return graded_quality_frame(spark, sf_dir)


QUERIES["q185_retrieval_quality"] = q185_retrieval_quality
ORACLES["q185_retrieval_quality"] = _quality_sql(
    "SELECT * FROM perq")


def _macro_summary(q: DataFrame) -> DataFrame:
    """Macro-averaged (floor-ppm) nDCG/MRR/recall over a per-query
    metric frame — the q186 arithmetic, extracted (r14) so q191 reads
    the same summary per system."""
    from .helpers import exact_tdiv
    agg = q.agg(F.count("*").alias("n_queries"),
                F.sum("ndcg_ppm").alias("s_ndcg"),
                F.sum("mrr_ppm").alias("s_mrr"),
                F.sum("recall_ppm").alias("s_recall"))
    return agg.select(
        F.col("n_queries").cast("bigint").alias("n_queries"),
        exact_tdiv(F.col("s_ndcg"), F.col("n_queries"))
        .alias("macro_ndcg_ppm"),
        exact_tdiv(F.col("s_mrr"), F.col("n_queries"))
        .alias("macro_mrr_ppm"),
        exact_tdiv(F.col("s_recall"), F.col("n_queries"))
        .alias("macro_recall_ppm"))


def q186_retrieval_quality_summary(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Macro-averaged (floor-ppm) nDCG/MRR/recall over q185's
    per-query rows — the one-line verdict an index change is judged
    by.  A global aggregate of an N_QUERIES-bounded frame, read from
    the shared (memoized) graded frame instead of rebuilding the
    3-pass grading pipeline per caller."""
    return _macro_summary(graded_quality_frame(spark, sf_dir))


QUERIES["q186_retrieval_quality_summary"] = q186_retrieval_quality_summary
ORACLES["q186_retrieval_quality_summary"] = _quality_sql("""
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST((SUM(ndcg_ppm) - SUM(ndcg_ppm) % COUNT(*)) / COUNT(*)
            AS BIGINT) AS macro_ndcg_ppm,
       CAST((SUM(mrr_ppm) - SUM(mrr_ppm) % COUNT(*)) / COUNT(*)
            AS BIGINT) AS macro_mrr_ppm,
       CAST((SUM(recall_ppm) - SUM(recall_ppm) % COUNT(*)) / COUNT(*)
            AS BIGINT) AS macro_recall_ppm
FROM perq""")


# --- q191: three-system fusion quality comparison -------------------------------
#
# The q185 yardstick applied to the fusion decision (r13 verdict,
# Next-round #2's "done" clause): grade BM25 (q175), the proximity-
# boosted rerank (q184), and the fused hybrid (q190) against the SAME
# graded truth and emit one macro-summary row per system.  MEASURED
# OUTCOME ON THE FIXTURES (pytest-pinned, reported honestly): the
# boosted ranking ties BM25 (every pool pair on the shared-vocabulary
# fixture has min_dist = 1, so the bonus is a uniform shift) and the
# FUSED ranking is WORSE than both (sf0.001: 517k vs 768k macro-nDCG
# ppm) — because the fixture embeddings are synthetic noise w.r.t.
# the lexical phrase/proximity truth, and fusing an uninformative
# ranker dilutes a good one.  That is the metric DOING ITS JOB: this
# is exactly the read a production gate takes before shipping a
# fusion change, and here it says "don't".  The fusion-win direction
# itself (fused ≥ both when the two rankers carry COMPLEMENTARY
# signal) is pinned in pytest on a constructed complementary-ranker
# case through the same rrf_fuse + quality_metrics_from cores — RRF
# has no dominance theorem, so both sides of the coin are measured,
# neither assumed.
#
# Cost shape: the corpus passes (postings, phrase probe, BM25 pool,
# cosine pool) each run ONCE — the proximity feature frame, the truth
# frame, and the BM25 pool are eagerly checkpointed (all bounded:
# feature/truth rows are per-query capped, pool is POOL·|queries|)
# and every system's metric chain is arithmetic over those bounded
# frames.  Registered in EAGER_BUILD_QUERIES (the checkpoints run
# jobs at build).
# ------------------------------------------------------------------------------
def _sql_macro(system: str, perq: str) -> str:
    """One system's macro-summary SELECT over its perq CTE (the q186
    tail with a system literal, shared by q191's three branches)."""
    return f"""SELECT '{system}' AS system,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST((SUM(ndcg_ppm) - SUM(ndcg_ppm) % COUNT(*)) / COUNT(*)
            AS BIGINT) AS macro_ndcg_ppm,
       CAST((SUM(mrr_ppm) - SUM(mrr_ppm) % COUNT(*)) / COUNT(*)
            AS BIGINT) AS macro_mrr_ppm,
       CAST((SUM(recall_ppm) - SUM(recall_ppm) % COUNT(*)) / COUNT(*)
            AS BIGINT) AS macro_recall_ppm
FROM {perq}"""


def _three_system_macros(spark: SparkSession, sf_dir: str):
    """[(system, tk_frame, macro_frame)] for bm25/boosted/fused over
    the shared truth — q191's body, extracted (r14) so the q193 gate
    reuses the same graded frames.  Reads the memoized
    quality_corpus_frames trio; truth-side halves (nrel/idcg)
    computed once for all three systems."""
    pool, px, truth = quality_corpus_frames(spark, sf_dir)
    base = query_doc_base(spark, sf_dir)
    nrel, idcg = truth_side_frames(truth)
    if _RETRIEVAL.enabled:
        nrel = nrel.localCheckpoint(eager=True)
        idcg = idcg.localCheckpoint(eager=True)
    bm25_tk = (pool.where(F.col("rank") <= TOP_K)
               .select("query_id", "cand_id", "rank"))
    boosted = proximity_boosted_pool(
        pool.select("query_id", "cand_id", "fp_sum"),
        px.select("query_id", "cand_id", "min_dist"), POOL)
    boost_tk = (boosted.where(F.col("rank") <= TOP_K)
                .select("query_id", "cand_id", "rank"))
    c = (_cosine_pool(spark, sf_dir)
         .select("query_id", "cand_id", F.col("rank").alias("rank_c")))
    fused_tk = (rrf_fuse(boosted.select("query_id", "cand_id",
                                        F.col("rank").alias("rank_b")),
                         c)
                .select("query_id", "cand_id",
                        F.col("fused_rank").alias("rank")))
    return [(name, tk,
             _macro_summary(quality_metrics_from(tk, truth, base=base,
                                                 nrel=nrel,
                                                 idcg=idcg)))
            for name, tk in (("bm25", bm25_tk), ("boosted", boost_tk),
                             ("fused", fused_tk))]


def q191_fusion_quality_compare(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """(system ∈ {bm25, boosted, fused}, n_queries, macro_ndcg_ppm,
    macro_mrr_ppm, macro_recall_ppm) — the three rankers graded
    against the shared phrase/proximity truth (see block comment)."""
    out = None
    for name, _, macro in _three_system_macros(spark, sf_dir):
        row = macro.select(F.lit(name).alias("system"), "n_queries",
                           "macro_ndcg_ppm", "macro_mrr_ppm",
                           "macro_recall_ppm")
        out = row if out is None else out.unionByName(row)
    return out


def _sql_three_system_body() -> str:
    """The q191 oracle body — truth CTEs + the three system pools
    (bm25 topk / boosted btk / fused ftk) with their metric chains
    (perq / perq_b / perq_f) — shared by the q191 and q193 oracles
    (r14 extraction)."""
    return f"""{_sql_truth_ctes()},
topk AS (SELECT query_id, cand_id, rank FROM bpool
         WHERE rank <= {TOP_K}),
{_sql_system_metrics('topk', '')},
boostedq AS (
  SELECT b.query_id, b.cand_id,
         b.fp_sum + COALESCE(
           CAST(({PROX_W} - {PROX_W} % x.min_dist) / x.min_dist
                AS BIGINT), 0) AS bfp
  FROM bpool b
  LEFT JOIN prox x ON x.query_id = b.query_id
                  AND x.cand_id = b.cand_id),
bbq AS (SELECT query_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY bfp DESC, cand_id) AS rank
        FROM boostedq),
btk AS (SELECT query_id, cand_id, rank FROM bbq
        WHERE rank <= {TOP_K}),
{_sql_system_metrics('btk', '_b')},
{SQL_COS_POOL},
fusedq AS (
  SELECT COALESCE(b.query_id, c.query_id) AS query_id,
         COALESCE(b.cand_id, c.cand_id) AS cand_id,
         COALESCE(1.0 / ({RRF_K} + b.rank), 0.0)
           + COALESCE(1.0 / ({RRF_K} + c.rank), 0.0) AS rrf
  FROM (SELECT * FROM bbq WHERE rank <= {POOL}) b
  FULL OUTER JOIN cpool c
    ON b.query_id = c.query_id AND b.cand_id = c.cand_id),
ffr AS (SELECT query_id, cand_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY rrf DESC, cand_id) AS rank
        FROM fusedq),
ftk AS (SELECT query_id, cand_id, rank FROM ffr
        WHERE rank <= {TOP_K}),
{_sql_system_metrics('ftk', '_f')}"""


QUERIES["q191_fusion_quality_compare"] = q191_fusion_quality_compare
ORACLES["q191_fusion_quality_compare"] = f"""{_sql_three_system_body()}
{_sql_macro('bm25', 'perq')}
UNION ALL
{_sql_macro('boosted', 'perq_b')}
UNION ALL
{_sql_macro('fused', 'perq_f')}"""


# --- q193: quality-gated fusion (champion/challenger serving gate) -------------
#
# q191 operationalized: the ranking a stack should SHIP is the one
# the yardstick scores highest — so emit exactly that system's top-k,
# chosen by macro-nDCG over the stored truth with a DETERMINISTIC
# preference order on ties (champion bm25 first, then the boosted
# rerank, then the fused hybrid: a challenger must strictly WIN to
# displace the incumbent — the standard champion/challenger rule).
# On the fixtures the verdict is 'bm25' (boosted ties the champion —
# uniform min_dist=1 bonus — and the fusion loses to it, q191's
# measured rows), so q193 emits the champion's rows; the
# challenger-wins path is pinned in pytest through the same
# gate_winner core on constructed macro frames.
#
# Shape: the winner is ONE row derived from three global-aggregate
# macro rows (the q83 bounded-union-window precedent), broadcast into
# a union of three TOP_K-bounded rank lists — nothing corpus-sized
# moves after the shared grading frames.
# ------------------------------------------------------------------------------
GATE_ORDER = ("bm25", "boosted", "fused")   # tie-break preference


def gate_winner(macros: DataFrame) -> DataFrame:
    """1-row (system) winner from a (system, priority,
    macro_ndcg_ppm) frame: highest macro nDCG, ties to the LOWEST
    priority (the incumbent).  Exposed so pytest can drive the
    gate with constructed macro frames (challenger-wins path)."""
    w = W.orderBy(F.desc("macro_ndcg_ppm"), F.asc("priority"))
    return (macros.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1).select("system"))


def q193_quality_gated_fusion(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """(system, query_id, cand_id, rank ≤ TOP_K) — the top-k of the
    yardstick-winning system only (see block comment)."""
    systems = _three_system_macros(spark, sf_dir)
    macros = None
    cand = None
    for pri, (name, tk, macro) in enumerate(systems, start=1):
        mrow = macro.select(F.lit(name).alias("system"),
                            F.lit(pri).alias("priority"),
                            "macro_ndcg_ppm")
        crow = tk.select(F.lit(name).alias("system"), "query_id",
                         "cand_id", "rank")
        macros = mrow if macros is None else macros.unionByName(mrow)
        cand = crow if cand is None else cand.unionByName(crow)
    winner = gate_winner(macros)
    return (cand.join(F.broadcast(winner), "system")
            .select("system", "query_id", "cand_id", "rank"))


QUERIES["q193_quality_gated_fusion"] = q193_quality_gated_fusion
ORACLES["q193_quality_gated_fusion"] = f"""{_sql_three_system_body()},
mac AS (
  SELECT 'bm25' AS system, 1 AS pri,
         CAST((SUM(ndcg_ppm) - SUM(ndcg_ppm) % COUNT(*)) / COUNT(*)
              AS BIGINT) AS m FROM perq
  UNION ALL
  SELECT 'boosted', 2,
         CAST((SUM(ndcg_ppm) - SUM(ndcg_ppm) % COUNT(*)) / COUNT(*)
              AS BIGINT) FROM perq_b
  UNION ALL
  SELECT 'fused', 3,
         CAST((SUM(ndcg_ppm) - SUM(ndcg_ppm) % COUNT(*)) / COUNT(*)
              AS BIGINT) FROM perq_f),
winner AS (SELECT system FROM (
  SELECT system, ROW_NUMBER() OVER (ORDER BY m DESC, pri) AS r
  FROM mac) WHERE r = 1),
gcand AS (SELECT 'bm25' AS system, query_id, cand_id, rank FROM topk
          UNION ALL
          SELECT 'boosted', query_id, cand_id, rank FROM btk
          UNION ALL
          SELECT 'fused', query_id, cand_id, rank FROM ftk)
SELECT c.system, c.query_id, c.cand_id, c.rank
FROM gcand c JOIN winner w ON c.system = w.system"""


# --- q192: PRF quality comparison ----------------------------------------------
#
# The yardstick over the PRF decision (ROADMAP's "quality metrics
# over the PRF variants" — the same read q191 gives the fusion
# decision): grade plain BM25 and the PRF-expanded ranking (q187)
# against the shared truth, one macro row per system.  MEASURED
# fixture verdict (pytest-pinned, reported honestly): PRF HURTS —
# macro-nDCG 600k vs 768k ppm at sf0.001, 842k vs 857k at sf0.01.
# Cause: the shared-vocabulary fixture queries already cover most of
# the (tiny) vocabulary, so expansion can only add common terms,
# diluting the ranking toward coverage-irrelevant candidates — the
# classic PRF failure mode on short-vocabulary corpora (expansion
# pays off when queries UNDER-cover a large vocabulary).  Like
# q191's fusion verdict, this is the read a production gate takes
# before shipping the expansion change — and here it says "don't".
#
# Cost shape (r15 single-scan): truth/pool read from the memoized
# quality_corpus_frames trio (free when warm), and the PRF side now
# shares the SAME postings checkpoint and pass-1 pool
# (corpus_term_frames_memo / bm25_pool_memo feeding q187's pool1) —
# so with the memo warm q192 pays only the pass-2 scoring + the
# expansion mine (the genuinely PRF-specific work; pass-2 qterms
# differ per corpus, nothing more to share); metric chains are
# arithmetic over bounded frames with nrel/idcg computed once.
# ------------------------------------------------------------------------------
def q192_prf_quality_compare(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """(system ∈ {bm25, prf}, n_queries, macro_ndcg_ppm,
    macro_mrr_ppm, macro_recall_ppm) — plain vs PRF-expanded BM25
    graded against the shared phrase/proximity truth."""
    pool, _, truth = quality_corpus_frames(spark, sf_dir)
    base = query_doc_base(spark, sf_dir)
    nrel, idcg = truth_side_frames(truth)
    if _RETRIEVAL.enabled:
        nrel = nrel.localCheckpoint(eager=True)
        idcg = idcg.localCheckpoint(eager=True)
    bm25_tk = (pool.where(F.col("rank") <= TOP_K)
               .select("query_id", "cand_id", "rank"))
    prf_tk = (q187_prf_expanded_bm25(spark, sf_dir)
              .select("query_id", "cand_id", "rank"))
    out = None
    for name, tk in (("bm25", bm25_tk), ("prf", prf_tk)):
        row = (_macro_summary(quality_metrics_from(tk, truth,
                                                   base=base,
                                                   nrel=nrel,
                                                   idcg=idcg))
               .select(F.lit(name).alias("system"), "n_queries",
                       "macro_ndcg_ppm", "macro_mrr_ppm",
                       "macro_recall_ppm"))
        out = row if out is None else out.unionByName(row)
    return out


def _register_q192() -> None:
    """Deferred registration: the oracle composes the truth CTEs
    (built at call time — dedup's token-hash chain) with the shared
    PRF fragment, so it is assembled once at import tail."""
    QUERIES["q192_prf_quality_compare"] = q192_prf_quality_compare
    ORACLES["q192_prf_quality_compare"] = f"""{_sql_truth_ctes()},
topk AS (SELECT query_id, cand_id, rank FROM bpool
         WHERE rank <= {TOP_K}),
{_sql_system_metrics('topk', '')},
{SQL_PRF_CTES},
ptk AS (SELECT query_id, cand_id, rank FROM r2
        WHERE rank <= {TOP_K}),
{_sql_system_metrics('ptk', '_p')}
{_sql_macro('bm25', 'perq')}
UNION ALL
{_sql_macro('prf', 'perq_p')}"""


# --- q187: pseudo-relevance-feedback (RM3-style) expanded BM25 -----------------
#
# The classic two-pass PRF loop a lexical stack runs when queries are
# short: retrieve, mine expansion terms from the top feedback docs,
# re-retrieve with the expanded query.  Deterministic simplification
# of RM3 (Lavrenko & Croft relevance models; anchored to public
# Lucene/Anserini practice): expansion weight = Σ tf(t, d) over the
# top-PRF_DOCS feedback docs, original query terms excluded, top
# PRF_TERMS by (weight DESC, term ASC); the second pass is the SAME
# audited bm25_pool_from plan with qterms ∪ expansion.  Everything up
# to the (already fixed-point) BM25 scoring is exact integer
# arithmetic, so both engines mirror bit-for-bit.
#
# Scale shape: pass 1 is q175's plan — and with the quality memo warm
# it is the MEMOIZED grading pool itself (r15 single-scan: pool1),
# not a re-run; the expansion mine joins the 10·PRF_DOCS-row feedback
# frame into tf (AQE broadcasts it) and ranks inside per-query
# windows bounded by the feedback docs' vocabulary; pass 2 is q175's
# plan with ≤ PRF_TERMS extra terms per query.  The postings frame is
# multi-consumer (both passes + the mine), hence the q178-precedent
# localCheckpoint — shared via corpus_term_frames_memo.
# ------------------------------------------------------------------------------
PRF_DOCS = 5     # feedback depth (top docs mined for expansion)
PRF_TERMS = 10   # expansion terms added per query


def prf_expanded_pool(tf: DataFrame, dfq: DataFrame, dl: DataFrame,
                      stats: DataFrame, qterms: DataFrame, *,
                      plan: str = "flat",
                      blk: DataFrame | None = None,
                      pool1: DataFrame | None = None) -> DataFrame:
    """The PRF loop from explicit corpus frames — (query_id, cand_id,
    fp_sum, rank ≤ POOL) with the expanded query.  Shared by one-shot
    q187 and the served read (streaming/bm25gate.py), so parity
    reduces to the input frames being equal.  ``tf`` must be
    MATERIALIZED by the caller (multi-consumer: both passes + the
    expansion mine).

    ``plan`` routes BOTH scoring passes through the MaxScore
    machinery (r14 roadmap item: block-max inside the PRF loop):
    'flat' keeps the direct bm25_pool_from plan (the one-shot q187
    default — exact and cheapest on flat-vocabulary corpora); 'term'
    / 'block' run the seed/θ/essential (± blocked-skip) candidate
    pruning on each pass — the machinery is query-set agnostic, so
    exactness holds for the EXPANDED pass-2 term set exactly as for
    pass 1 (qub/θ derive from whatever qterms frame is passed).
    Every route returns identical rows (pytest: served reads forced
    through all three plans equal one-shot q187).  ``blk`` feeds the
    block branch a PERSISTED blocked layout (the served read passes
    bm25gate.read_block_stats); absent, it derives from tf ⋈ dl.

    ``pool1`` (r15, the single-scan grading pipeline) supplies an
    ALREADY-COMPUTED pass-1 pool — it must be the (query_id, cand_id,
    rank ≤ POOL) ranking of these same corpus frames under the flat
    scoring (pool_for(qterms) ≡ bm25_pool_from on them), i.e. the
    memoized grading pool.  Only the feedback-doc slice (rank ≤
    PRF_DOCS) is read from it, so supplying it removes one full
    scoring pass; rows are identical by construction (same pure
    function of the same frames — the served-parity discipline)."""
    def pool_for(qt: DataFrame) -> DataFrame:
        if plan == "flat":
            return bm25_pool_from(tf, dfq, dl, stats, qt)
        if plan == "term":
            cands, fs = maxscore_candidates(tf, dfq, dl, stats, qt)
        else:
            cands, fs = blockmax_candidates(tf, dfq, dl, stats, qt,
                                            blk=blk)
        return _pool_rank(fs(cands),
                          [F.desc("fp_sum"), F.asc("cand_id")], POOL)

    fb = ((pool1 if pool1 is not None else pool_for(qterms))
          .where(F.col("rank") <= PRF_DOCS)
          .select("query_id", "cand_id"))
    ex0 = (fb.join(tf, "cand_id")
           .join(qterms, ["query_id", "term"], "left_anti")
           .groupBy("query_id", "term")
           .agg(F.sum("tf").alias("w")))
    w_exp = W.partitionBy("query_id").orderBy(F.desc("w"),
                                              F.asc("term"))
    exp = (ex0.withColumn("r", F.row_number().over(w_exp))
           .where(F.col("r") <= PRF_TERMS)
           .select("query_id", "term"))
    qx = qterms.unionByName(exp).distinct()
    return pool_for(qx)


# the PRF second-pass CTE chain appended after SQL_BM25_POOL, shared
# verbatim by the q187/q192 oracles (r14 extraction)
SQL_PRF_CTES = f"""fb AS (SELECT query_id, cand_id FROM bpool WHERE rank <= {PRF_DOCS}),
ex0 AS (SELECT f.query_id, tf.term, CAST(SUM(tf.tf) AS BIGINT) AS w
        FROM fb f
        JOIN tf ON tf.cand_id = f.cand_id
        LEFT JOIN qterms q ON q.query_id = f.query_id
                          AND q.term = tf.term
        WHERE q.term IS NULL
        GROUP BY 1, 2),
exr AS (SELECT query_id, term,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY w DESC, term) AS r
        FROM ex0),
qx AS (SELECT query_id, term FROM qterms
       UNION
       SELECT query_id, term FROM exr WHERE r <= {PRF_TERMS}),
contrib2 AS (
  SELECT q.query_id, tf.cand_id,
         CAST(ROUND(
           LN(1.0 + ((s.n_docs - d.df) + 0.5) / (d.df + 0.5))
           * ((tf.tf * {BM25_K1 + 1.0})
              / (tf.tf + {BM25_K1} * (1.0 - {BM25_B}
                   + {BM25_B} * (dl.dl / (s.sum_dl / s.n_docs)))))
           * {FP}) AS BIGINT) AS fp
  FROM tf
  JOIN qx q USING (term)
  JOIN dfq d USING (term)
  JOIN dl USING (cand_id)
  CROSS JOIN stats s
  WHERE tf.cand_id <> q.query_id),
agg2 AS (SELECT query_id, cand_id, SUM(fp) AS fp_sum
         FROM contrib2 GROUP BY 1, 2),
r2 AS (SELECT query_id, cand_id, fp_sum,
              ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY fp_sum DESC, cand_id) AS rank
       FROM agg2)"""


@query("q187_prf_expanded_bm25", f"""{SQL_BM25_POOL},
{SQL_PRF_CTES}
SELECT query_id, cand_id, fp_sum / {FP} AS score, rank
FROM r2 WHERE rank <= {TOP_K}
""")
def q187_prf_expanded_bm25(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """RM3-style PRF: BM25 pass 1 → mine top-PRF_TERMS expansion
    terms from the top-PRF_DOCS docs → BM25 pass 2 with the expanded
    query (see block comment).  (query_id, cand_id, score,
    rank ≤ TOP_K)."""
    def build():
        tf, dfq, dl, stats = corpus_term_frames_memo(spark, sf_dir)
        qterms = query_terms_from(tf)
        # pass-1 sharing only where there IS a share: with the memo
        # bypassed, bm25_pool_memo would rebuild the frames a second
        # time (the r15 bench caught the duplicate checkpoint) —
        # pool1=None lets prf_expanded_pool score pass 1 off the
        # frames in hand, which is the r14 true-cost shape exactly
        pool1 = bm25_pool_memo(spark, sf_dir) if _RETRIEVAL.enabled else None
        pool2 = prf_expanded_pool(tf, dfq, dl, stats, qterms,
                                  pool1=pool1)
        out = (pool2.where(F.col("rank") <= TOP_K)
               .select("query_id", "cand_id",
                       (F.col("fp_sum") / F.lit(FP)).alias("score"),
                       "rank"))
        if _RETRIEVAL.enabled:
            # the PRF RANKING is itself memoized (TOP_K·|queries| rows
            # — trivial): q192 then grades an already-computed system
            # frame, exactly how a production gate reads a served
            # ranking (the q186-reads-q185 pattern; bench ledger in
            # BASELINE.md — the memo-bypassed q187 row remains the TRUE
            # two-pass cost)
            out = out.localCheckpoint(eager=True)
        return out
    return _corpus_memo("prf", spark, sf_dir, build)


# --- q188: best-passage extraction (windowed query-term density) ---------------
#
# Passage retrieval for a RAG / training-data pipeline: for every
# (query, candidate) pair sharing at least one query term, the
# PASS_W-token window of the candidate containing the most query-term
# hits, then the top-k candidates per query by that density.  One
# RANGE-frame window over the q182 match stream does the whole sweep:
# every match position opens a window [pos, pos + PASS_W - 1] and
# counts the matches inside it — the densest window always starts AT
# a match position, so scanning window starts at match positions
# only is exhaustive.  Positions within a doc are distinct, so the
# RANGE frame is unambiguous and both engines agree exactly (pure
# integer counts; ties broken by earliest start, then cand_id).
#
# Scale shape: the match stream is q182's broadcast-probe join; both
# windows partition by (query_id, cand_id) — bounded by per-doc match
# counts, never corpus-sized; the final per-query top-k is the salted
# two-stage _pool_rank.
# ------------------------------------------------------------------------------
PASS_W = 32      # passage width, tokens


def best_passage_from(p: DataFrame, qtermf: DataFrame) -> DataFrame:
    """q188's scoring core from explicit frames — ``p`` a token-
    postings frame (doc_id, pos, term), ``qtermf`` a distinct
    (query_id, term) probe.  Shared by the one-shot plan and the
    served read (streaming/proxgate.py); parity reduces to the frames
    being equal (the q182 proximity_from discipline)."""
    m = (p.join(qtermf, "term")
         .where(F.col("doc_id") != F.col("query_id"))
         .select("query_id", F.col("doc_id").alias("cand_id"), "pos"))
    wr = (W.partitionBy("query_id", "cand_id").orderBy("pos")
          .rangeBetween(W.currentRow, PASS_W - 1))
    wb = W.partitionBy("query_id", "cand_id").orderBy(F.desc("cnt"),
                                                      F.asc("pos"))
    b1 = (m.withColumn("cnt", F.count("*").over(wr))
          .withColumn("rb", F.row_number().over(wb))
          .where(F.col("rb") == 1)
          .select("query_id", "cand_id",
                  F.col("pos").alias("passage_start"),
                  F.col("cnt").alias("passage_hits")))
    ranked = _pool_rank(b1, [F.desc("passage_hits"), F.asc("cand_id")],
                        TOP_K)
    return ranked.select("query_id", "cand_id", "passage_start",
                         "passage_hits", "rank")


@query("q188_best_passage", f"""
WITH t AS (SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '),
                                      x -> x <> '') AS toks
           FROM documents),
p AS (SELECT doc_id, i + 1 AS pos, toks[i + 1] AS term
      FROM (SELECT doc_id, toks, UNNEST(RANGE(LEN(toks))) AS i FROM t)),
qt AS (SELECT DISTINCT doc_id AS query_id, term FROM p
       WHERE doc_id < {N_QUERIES}),
m AS (SELECT qt.query_id, p.doc_id AS cand_id, p.pos
      FROM p JOIN qt ON p.term = qt.term AND p.doc_id <> qt.query_id),
wc AS (SELECT query_id, cand_id, pos,
              CAST(COUNT(*) OVER (PARTITION BY query_id, cand_id
                                  ORDER BY pos
                                  RANGE BETWEEN CURRENT ROW
                                        AND {PASS_W - 1} FOLLOWING)
                   AS BIGINT) AS cnt
       FROM m),
best AS (SELECT query_id, cand_id, pos, cnt,
                ROW_NUMBER() OVER (PARTITION BY query_id, cand_id
                                   ORDER BY cnt DESC, pos) AS rb
         FROM wc),
b1 AS (SELECT query_id, cand_id,
              CAST(pos AS BIGINT) AS passage_start,
              cnt AS passage_hits
       FROM best WHERE rb = 1),
rr AS (SELECT query_id, cand_id, passage_start, passage_hits,
              ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY passage_hits DESC, cand_id)
                AS rank
       FROM b1)
SELECT query_id, cand_id, passage_start, passage_hits, rank
FROM rr WHERE rank <= {TOP_K}
""")
def q188_best_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densest PASS_W-token passage per (query, candidate) + top-k
    candidates per query by passage density (see block comment):
    (query_id, cand_id, passage_start, passage_hits, rank ≤ TOP_K)."""
    d = load_table(spark, sf_dir, "documents")
    p = token_postings(d)
    qtermf = (p.where(F.col("doc_id") < N_QUERIES)
              .select(F.col("doc_id").alias("query_id"), "term")
              .distinct())
    return best_passage_from(p, qtermf)


_register_q192()
_register_q195()
_register_q196()
