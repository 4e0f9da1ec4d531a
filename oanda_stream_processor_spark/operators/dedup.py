"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference (which has no dedup — north-star extension,
SURVEY.md §2.2 'LLM-pipeline extensions'): exact hash dedup,
MinHash+LSH banding, SimHash, and n-gram Jaccard similarity — all as
compositions of built-in DataFrame ops (no Python UDFs), so the whole
family runs JVM-side and scales by partitioned shuffle.

Determinism: exact dedup keys on md5 of the content; the minhash /
banding family uses base-131/137 polynomial hashes mod 1e9+7 with K
affine universal transforms — pure 64-bit integer arithmetic both
engines compute exactly (one string hash per TOKEN, reused by every
shingle and every minhash seed, instead of K digest calls per
shingle). Jaccard joins on the same int64 shingle hashes (8-byte
shuffle keys; both engines hash identically, so parity is exact).

Scale notes (100 TB):
* exact dedup — one hash-shuffle on the digest; at scale the groupBy key
  is the md5, uniformly distributed → no skew.
* minhash — token hashes fold once per document row (array HOFs, no
  explode until the shingle-hash rows); ONE map-side-combinable groupBy
  computes all K minima; signature rows are tiny (doc_id + K longs).
  LSH banding joins on (band_id, band_key) — uniformly distributed keys;
  candidate verification is per-bucket, never all-pairs.
* simhash — explode × 60 bit-positions stays linear in corpus size;
  the per-(doc,bit) partial sums combine map-side.
* jaccard — the shingle-join computes pair intersections only for pairs
  that actually share a shingle (inverted-index join), never n².
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from .. import memo
from ..io import load_table
from .helpers import exact_tdiv

QUERIES: dict = {}
ORACLES: dict = {}

N_HASHES = 8          # minhash signature length
BAND_ROWS = 2         # rows per LSH band -> 4 bands
N_BANDS = N_HASHES // BAND_ROWS
SIM_BITS = 60         # simhash width (60-bit md5 prefix fits a signed i64)

HB = 131              # char-level polynomial base
SB = 137              # token-level (shingle) polynomial base
HM = 1_000_000_007    # prime modulus; a*h < ~1e18 stays inside int64

# K affine universal-hash coefficients (a_s, b_s) — deterministic
# pseudo-random odd constants < HM, embedded identically in both plans.
_AFFINE = [(2 * ((s * 40_503_341 + 9_619_387) % (HM // 2)) + 1,
            (s * 83_476_211 + 4_257_433) % HM)
           for s in range(N_HASHES)]


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


# --- shared shingle/token SQL fragments (DuckDB side) ----------------------

SQL_TOKS = ("SELECT doc_id, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS toks "
            "FROM documents")
# per-token polynomial char hash: LIST_REDUCE starts from the first
# element, which equals Spark's init-0 fold ((0*HB + c0) % HM == c0)
_SQL_TOKH = (f"LIST_TRANSFORM(toks, t -> LIST_REDUCE("
             f"LIST_TRANSFORM(RANGE(LENGTH(t)), "
             f"i -> CAST(ASCII(SUBSTR(t, CAST(i+1 AS INTEGER), 1)) AS BIGINT)), "
             f"(acc, x) -> (acc * {HB} + x) % {HM}))")
# shingle hash combines 3 consecutive token hashes
SQL_SHINGLE_HASHES = f"""
SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(LEN(th) - 2),
       i -> ((th[i+1] * {SB} + th[i+2]) % {HM} * {SB} + th[i+3]) % {HM})) AS sh
FROM (SELECT doc_id, {_SQL_TOKH} AS th FROM ({SQL_TOKS}) WHERE LEN(toks) >= 3)
"""


_FOLD_VEC_CAP = 4096  # chars folded vectorized before the Python tail


def _spark_shingle_hashes(d: DataFrame, with_pos: bool = False) -> DataFrame:
    """(doc_id, sh) — the 3-gram's polynomial hash: one char fold per
    TOKEN, then the 3-token combine per shingle. Matches
    SQL_SHINGLE_HASHES bit-for-bit (identical fold order, int64).
    ``with_pos=True`` additionally emits the 1-based shingle position
    within its document (the positional-postings variant feeding
    phrase retrieval, q179) — free in the kernel, absent from every
    pre-existing consumer's schema.

    Implementation: Arrow-batched numpy over mapInPandas (round 11;
    the expression twin is _spark_shingle_hashes_hof below).  All
    texts of a batch are concatenated into one codepoint array
    (utf-32-le = vectorized ord(); both engines hash codepoints);
    token boundaries come straight from the array (space runs +
    document offsets — identical to split-on-single-space with empty
    tokens dropped); the per-token char fold runs as a length-sorted
    segmented fold (tokens sorted by length, each iteration i updates
    the suffix of tokens longer than i — total gather work = total
    chars, no padding); the shingle combine and the doc-boundary mask
    are whole-array ops.  Measured 0.55 s vs the HOF twin's 1.72 s at
    sf0.1 with exact symmetric-diff parity; every minhash/LSH/jaccard
    consumer (q41/q42/q44/q55/q57/q87/q97/q174) inherits the cut.
    The boundary ships (doc_id, text) in, (doc_id, sh) out, and
    preserves the scan's partitioning."""
    def gen(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            texts = pdf["text"].tolist()
            dids = pdf["doc_id"].to_numpy()
            keep = [(i, t) for i, t in enumerate(texts) if t]
            if not keep:
                continue
            lens_doc = np.array([len(t) for _, t in keep], dtype=np.int64)
            blob = "".join(t for _, t in keep)
            cp = (np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32)
                  .astype(np.int64))
            total = cp.shape[0]
            docpos = np.repeat(np.arange(len(keep)), lens_doc)
            is_sp = cp == 32  # split on single space, exactly
            prev_sp = np.empty(total, dtype=bool)
            prev_sp[0] = True
            prev_sp[1:] = is_sp[:-1]
            prev_doc = np.empty(total, dtype=np.int64)
            prev_doc[0] = -1
            prev_doc[1:] = docpos[:-1]
            tok_start = (~is_sp) & (prev_sp | (prev_doc != docpos))
            next_sp = np.empty(total, dtype=bool)
            next_sp[-1] = True
            next_sp[:-1] = is_sp[1:]
            next_doc = np.empty(total, dtype=np.int64)
            next_doc[-1] = -2
            next_doc[:-1] = docpos[1:]
            tok_end = (~is_sp) & (next_sp | (next_doc != docpos))
            starts = np.flatnonzero(tok_start)
            ends = np.flatnonzero(tok_end)
            n = starts.shape[0]
            if n < 3:
                continue
            tlens = ends - starts + 1
            tdoc = docpos[starts]
            order = np.argsort(tlens, kind="stable")
            slens = tlens[order]
            sstarts = starts[order]
            acc = np.zeros(n, dtype=np.int64)
            # the segmented fold runs one interpreter iteration per
            # char of the LONGEST token, so a single space-free
            # pathological document (one multi-MB token) would degrade
            # it to millions of numpy-dispatch iterations (r11
            # ADVICE).  Cap the vectorized loop; tokens longer than
            # the cap finish below with a plain-Python per-char tail
            # fold — same arithmetic, and raw Python ints beat
            # one-element numpy ops ~20x on that degenerate shape.
            # Normal corpora never reach the cap (longest fixture
            # token ≪ 4096 chars), so the hot path is unchanged.
            cap = min(int(slens[-1]), _FOLD_VEC_CAP)
            for i in range(cap):
                k = np.searchsorted(slens, i, side="right")
                if k >= n:
                    break
                acc[k:] = (acc[k:] * HB + cp[sstarts[k:] + i]) % HM
            if int(slens[-1]) > _FOLD_VEC_CAP:
                j0 = int(np.searchsorted(slens, _FOLD_VEC_CAP,
                                         side="right"))
                for j in range(j0, n):
                    a = int(acc[j])
                    s = int(sstarts[j])
                    for cch in cp[s + _FOLD_VEC_CAP:
                                  s + int(slens[j])].tolist():
                        a = (a * HB + cch) % HM
                    acc[j] = a
            th = np.empty(n, dtype=np.int64)
            th[order] = acc
            ok = tdoc[:-2] == tdoc[2:]  # shingle within one document
            sh = ((th[:-2] * SB + th[1:-1]) % HM * SB + th[2:]) % HM
            idx = np.array([i for i, _ in keep])
            out = {"doc_id": dids[idx[tdoc[:-2][ok]]]}
            if with_pos:
                # 1-based shingle position within its document: global
                # token ordinal minus the doc's first token ordinal
                first_tok = np.zeros(len(keep), dtype=np.int64)
                uvals, uidx = np.unique(tdoc, return_index=True)
                first_tok[uvals] = uidx
                gidx = np.arange(n - 2)[ok]
                out["pos"] = gidx - first_tok[tdoc[:-2][ok]] + 1
            out["sh"] = sh[ok]
            yield pd.DataFrame(out)

    schema = ("doc_id long, pos long, sh bigint" if with_pos
              else "doc_id long, sh bigint")
    return d.select("doc_id", "text").mapInPandas(gen, schema=schema)


def _spark_shingle_hashes_hof(d: DataFrame) -> DataFrame:
    """JVM-expression twin of _spark_shingle_hashes (split + per-char
    aggregate fold per token, zero Python boundary).  Kept as the
    measured comparison point (1.72 s vs 0.55 s at sf0.1, round 11)
    and as the fallback if an environment lacks Arrow."""
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    d = d.select("doc_id", toks.alias("toks")).where(F.size("toks") >= 3)
    tok_h = F.expr(
        f"transform(toks, t -> aggregate(transform(split(t, ''), "
        f"c -> cast(ascii(c) as bigint)), 0L, "
        f"(acc, x) -> (acc * {HB} + x) % {HM}))")
    d = d.select("doc_id", tok_h.alias("th"))
    sh = F.expr(
        f"transform(sequence(1, size(th) - 2), i -> "
        f"((element_at(th, i) * {SB} + element_at(th, i + 1)) % {HM} "
        f"* {SB} + element_at(th, i + 2)) % {HM})")
    return d.select("doc_id", F.explode(sh).alias("sh"))


# ---------------------------------------------------------------------------
# Exact dedup: group on content digest, keep lowest doc_id as canonical.
# ---------------------------------------------------------------------------
@query("q40_dedup_exact", """
SELECT MD5(text) AS content_hash,
       MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY MD5(text)
""")
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
             .agg(F.min("doc_id").alias("canonical_id"),
                  F.count("*").alias("n_copies")))


# ---------------------------------------------------------------------------
# MinHash signatures: K independent permutations simulated by affine
# universal hashes (a_s·sh + b_s) mod p over the shingle's polynomial
# hash; the signature is the per-permutation min. One string hash per
# token total — the K permutations are integer transforms, not digests.
# ---------------------------------------------------------------------------
_MINHASH_AGGS_SQL = ",\n       ".join(
    f"MIN((sh * {a} + {b}) % {HM}) AS h{s}"
    for s, (a, b) in enumerate(_AFFINE))

@query("q41_minhash_signature", f"""
SELECT doc_id,
       {_MINHASH_AGGS_SQL}
FROM ({SQL_SHINGLE_HASHES})
GROUP BY doc_id
""")
def q41_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _spark_shingle_hashes(load_table(spark, sf_dir, "documents"))
    aggs = [F.min((F.col("sh") * a + b) % HM).alias(f"h{s}")
            for s, (a, b) in enumerate(_AFFINE)]
    return sh.groupBy("doc_id").agg(*aggs)


# ---------------------------------------------------------------------------
# LSH banding on the minhash signature: band key = the band's minima
# joined as a string; docs sharing any band key are candidate near-dups.
# ---------------------------------------------------------------------------
_BAND_KEYS_SQL = ", ".join(
    " || '|' || ".join(f"CAST(h{b * BAND_ROWS + r} AS VARCHAR)"
                       for r in range(BAND_ROWS)) + f" AS band{b}"
    for b in range(N_BANDS))

_Q42_SQL = f"""
WITH sig AS (
  SELECT doc_id, {_MINHASH_AGGS_SQL}
  FROM ({SQL_SHINGLE_HASHES}) GROUP BY doc_id),
bands AS (
  SELECT doc_id, {_BAND_KEYS_SQL} FROM sig),
flat AS (
  {' UNION ALL '.join(f'SELECT doc_id, {b} AS band_id, band{b} AS band_key FROM bands'
                      for b in range(N_BANDS))})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM flat a JOIN flat b
  ON a.band_id = b.band_id AND a.band_key = b.band_key
 AND a.doc_id < b.doc_id
"""

def _minhash_signature_from_sh(sh: DataFrame) -> DataFrame:
    """Signatures from a precomputed (doc_id, sh) shingle-hash frame."""
    aggs = [F.min((F.col("sh") * a + b) % HM).alias(f"h{s}")
            for s, (a, b) in enumerate(_AFFINE)]
    return sh.groupBy("doc_id").agg(*aggs)


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str,
                         sh: DataFrame | None = None) -> DataFrame:
    """Materialized LSH candidate pairs, the stage q42/q55/q57 share.

    The pair set feeds multiple plan branches (q55 unions it twice into
    the edge list; q57 joins it twice), so one eager localCheckpoint of
    the small candidate-pair frame stops every consumer from re-running
    the whole shingle->minhash->banding chain. Callers that also need
    the shingle index (q57) pass their checkpointed ``sh`` so the
    chain runs once per query, not once per stage. The signature
    self-join inside needs NO checkpoint: AQE's ReusedExchange shares
    the groupBy exchange between both band branches (measured faster
    than forcing a materialization).
    """
    if sh is None:
        sig = q41_minhash_signature(spark, sf_dir)
    else:
        sig = _minhash_signature_from_sh(sh)
    band_key = [
        F.concat_ws("|", *[F.col(f"h{b * BAND_ROWS + r}").cast("string")
                           for r in range(BAND_ROWS)]).alias(f"band{b}")
        for b in range(N_BANDS)
    ]
    bands = sig.select("doc_id", *band_key)
    # unpivot band columns -> (doc_id, band_id, band_key); stack is one
    # Expand node, no shuffle
    stack_expr = ", ".join(f"{b}, band{b}" for b in range(N_BANDS))
    flat = bands.selectExpr(
        "doc_id", f"stack({N_BANDS}, {stack_expr}) AS (band_id, band_key)")
    a = flat.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b = flat.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    pairs = (a.join(b, ["band_id", "band_key"])
              .where(F.col("doc_a") < F.col("doc_b"))
              .select("doc_a", "doc_b").distinct())
    return pairs.localCheckpoint(eager=True)


@query("q42_lsh_candidates", _Q42_SQL)
def q42_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_candidate_pairs(spark, sf_dir)


# ---------------------------------------------------------------------------
# SimHash: 60-bit signature; bit i of the signature is the sign of the sum
# of ±1 votes from each token whose md5 has bit i set.
# ---------------------------------------------------------------------------
_SIM_LANES = 3          # bit-counters packed per aggregate long
_SIM_LANE_W = 21        # lane width: counts up to 2^21 tokens (~8 MB docs)
_SIM_GROUPS = SIM_BITS // _SIM_LANES

_SIM_VOTE_AGGS_SQL = ",\n       ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(SIM_BITS))
_SIM_RECOMBINE_SQL = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
    for b in range(SIM_BITS))

@query("q43_simhash", f"""
WITH tok AS (
  SELECT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS token
  FROM documents),
hashed AS (
  SELECT doc_id, CAST('0x' || SUBSTR(MD5(token), 1, 15) AS BIGINT) AS h FROM tok),
votes AS (
  SELECT doc_id, {_SIM_VOTE_AGGS_SQL}
  FROM hashed GROUP BY doc_id)
SELECT doc_id, CAST({_SIM_RECOMBINE_SQL} AS BIGINT) AS simhash
FROM votes
""")
def q43_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-shuffle simhash with lane-packed vote counters: instead of
    60 per-bit SUMs, each aggregate long packs 3 bit-counters in 21-bit
    lanes — 20 packed sums + one count per doc (3× fewer aggregate
    columns, same map-side combine). A bit's vote balance is then
    2*ones_b - n, recovered by shift/mask in the final projection; the
    signature equals the oracle's 60-sum formulation bit-for-bit (a tie
    2*ones == n is "not set" in both). Lane capacity bounds documents
    at 2^21 tokens; beyond that, widen lanes or split groups."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    tok = d.select("doc_id", F.explode(toks).alias("token"))
    hashed = tok.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("token").cast("binary")), 1, 15), 16, 10)
         .cast("bigint").alias("h"))

    def packed(g: int):
        lanes = None
        for lane in range(_SIM_LANES):
            b = g * _SIM_LANES + lane
            bit = F.shiftright("h", b).bitwiseAND(F.lit(1))
            term = bit * F.lit(1 << (lane * _SIM_LANE_W)).cast("bigint")
            lanes = term if lanes is None else lanes + term
        return F.sum(lanes).alias(f"p{g}")

    votes = hashed.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        *[packed(g) for g in range(_SIM_GROUPS)])
    # Recombine via ONE array-lambda expression instead of 60 chained
    # when-terms: the expression tree stays ~10 nodes, so Catalyst
    # analysis/codegen doesn't pay a per-bit planning cost every run
    # (measured 1.58 s -> 0.95 s at sf0.1 with identical output).
    votes = votes.select(
        "doc_id", "n",
        F.array(*[f"p{g}" for g in range(_SIM_GROUPS)]).alias("parr"))
    mask = (1 << _SIM_LANE_W) - 1
    sig = F.expr(
        f"aggregate(sequence(0, {SIM_BITS - 1}), 0L, (acc, b) -> acc + "
        f"IF(2 * ((element_at(parr, int(b div {_SIM_LANES}) + 1) "
        f">> ({_SIM_LANE_W} * int(b % {_SIM_LANES}))) & {mask}) > n, "
        f"shiftleft(1L, b), 0L))")
    return votes.select("doc_id", sig.alias("simhash"))


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup: inverted-index join on distinct shingles —
# intersection counts only for pairs sharing >= 1 shingle.
# ---------------------------------------------------------------------------
@query("q44_jaccard_pairs", f"""
WITH shs AS (SELECT DISTINCT doc_id, sh FROM ({SQL_SHINGLE_HASHES})),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shs GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM shs a JOIN shs b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.05
""")
def q44_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard over hashed shingle sets: the inverted-index join keys on
    the 3-gram's polynomial int64 hash (not the shingle string), so the
    distinct/join/groupBy chain shuffles 8-byte ints instead of ~20-byte
    strings and never materializes shingle text. Both engines hash
    identically, so a (negligible, ~1e-9/pair) collision changes both
    sides the same way — cross-engine parity holds exactly.

    Scale: the join's cost is sum over shingles of df^2/2 — LINEAR in
    the corpus when per-shingle document frequency stays bounded, and
    measured so at x10 (postings 10.0x, join pairs 9.67x, max df 25->28
    flat, wall-clock 1.94x). The exactness contract means NO df-cut
    here: a corpus with boilerplate (hot shingles whose df grows with
    N) makes single buckets quadratic, and the operator for that
    regime is q87_jaccard_dfcut — same pipeline with the
    corpus-relative hot-shingle cut applied in both engines."""
    # materialize the inverted index once: three consumers below (a, b,
    # sizes) would otherwise each re-run the shingle-hash chain — at
    # scale this IS the materialized shingle index of the corpus
    sh = (_spark_shingle_hashes(load_table(spark, sf_dir, "documents"))
          .distinct().localCheckpoint(eager=True))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (a.join(b, "sh")
              .where(F.col("doc_a") < F.col("doc_b"))
              .groupBy("doc_a", "doc_b").agg(F.count("*").alias("i")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (F.col("i").cast("double")
           / (F.col("na") + F.col("nb") - F.col("i")))
    # sizes is one row PER DOCUMENT — corpus cardinality.  No broadcast
    # hint: a forced hint bypasses AQE's size check and at 1e9 docs is a
    # guaranteed OOM; AQE converts to broadcast when the measured size
    # permits (it does at bench SFs), and the sort-merge fallback at
    # scale is exactly right.
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
                 .where(jac >= 0.05)
                 .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))


# ---------------------------------------------------------------------------
# Skew-aware Jaccard: identical to q44 but with a document-frequency cut
# on hot shingles BEFORE the inverted-index join. A shingle appearing in
# df docs creates df^2/2 join pairs; boilerplate/stop-phrase shingles at
# corpus scale make single buckets quadratic. Dropping shingles with
# df > ceil(DF_CUT_FRAC * n_docs) caps every bucket at a corpus-relative
# bound, so the join's worst key is O(n_docs * DF_CUT_FRAC) — the
# standard prefilter production near-dup pipelines apply (cf. df-cut in
# suffix-array/minhash dedup literature). Jaccard is then computed over
# the pruned shingle space in BOTH engines — semantics shift only for
# pairs whose overlap was mostly boilerplate, which is the point.
# ---------------------------------------------------------------------------
DF_CUT_FRAC = 0.01   # keep shingles present in <= 1% of the corpus

@query("q87_jaccard_dfcut", f"""
WITH shs AS (SELECT DISTINCT doc_id, sh FROM ({SQL_SHINGLE_HASHES})),
cut AS (SELECT CAST(CEIL({DF_CUT_FRAC} * COUNT(*)) AS BIGINT) AS c FROM documents),
keep AS (
  SELECT sh FROM shs GROUP BY sh
  HAVING COUNT(*) <= (SELECT c FROM cut)),
fsh AS (SELECT s.doc_id, s.sh FROM shs s JOIN keep USING (sh)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM fsh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM fsh a JOIN fsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.05
""")
def q87_jaccard_dfcut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q44 with the hot-shingle df-cut applied: the per-shingle document
    frequency is computed once from the materialized shingle index and
    postings with df above the corpus-relative cut never enter the join.
    The cut threshold is an aggregate scalar kept as a one-row broadcast
    frame — no driver collect."""
    from pyspark.sql import Window as W
    docs = load_table(spark, sf_dir, "documents")
    sh = (_spark_shingle_hashes(docs)
          .distinct().localCheckpoint(eager=True))
    cut = docs.agg(F.ceil(DF_CUT_FRAC * F.count("*")).alias("c"))
    # df via a window over the postings' own sh-exchange: ONE shuffle of
    # the postings computes and applies the cut (a groupBy+semi-join
    # formulation shuffles the postings twice; measured 1.76s -> 1.26s)
    fsh = (sh.withColumn("df", F.count("*").over(W.partitionBy("sh")))
             .crossJoin(F.broadcast(cut))
             .where(F.col("df") <= F.col("c"))
             .select("doc_id", "sh"))
    sizes = fsh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = fsh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = fsh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (a.join(b, "sh")
              .where(F.col("doc_a") < F.col("doc_b"))
              .groupBy("doc_a", "doc_b").agg(F.count("*").alias("i")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (F.col("i").cast("double")
           / (F.col("na") + F.col("nb") - F.col("i")))
    # per-doc sizes frame: unhinted (see q44) — AQE decides
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
                 .where(jac >= 0.05)
                 .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")))


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the LSH candidate graph,
# canonical = min doc_id per component (the "keep-one" materialization a
# dedup pipeline ends with).
#
# Spark: iterative min-label propagation (join + min-agg per round) — one
# shuffle on doc_id per round, converging in O(max component diameter)
# rounds. Driver only checks the convergence counter (a limit(1) scan of
# the round's already-materialized frame), never the data. The fixpoint
# (min reachable id per doc) is unique, so the oracle can compute it any
# other way: DuckDB uses a recursive-CTE reachability closure and takes
# MIN per doc.
# ---------------------------------------------------------------------------
_CANDIDATES_SQL = f"""
sig AS (
  SELECT doc_id, {_MINHASH_AGGS_SQL}
  FROM ({SQL_SHINGLE_HASHES}) GROUP BY doc_id),
bands AS (
  SELECT doc_id, {_BAND_KEYS_SQL} FROM sig),
flat AS (
  {' UNION ALL '.join(f'SELECT doc_id, {b} AS band_id, band{b} AS band_key FROM bands'
                      for b in range(N_BANDS))}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM flat a JOIN flat b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id)
"""

def _round_barrier(df: DataFrame) -> DataFrame:
    """Per-iteration materialization barrier for loop-carried frames:
    localCheckpoint truncates LINEAGE, and the cache on top replaces
    the checkpoint's carried-over origin STATISTICS with the actual
    materialized byte size.  Both are required: localCheckpoint alone
    preserves originStats, and because Catalyst's size-in-bytes
    estimate for a join is the PRODUCT of its children, a loop that
    self-joins its carried frame squares that BigInt every round —
    the bit-length grows geometrically until the driver burns minutes
    in BigInteger.multiply on a 2k-row frame (measured round-10:
    0.4 s/round flat with this barrier vs 0.5→37→153 s/round without).
    The caller must materialize (any action) and later unpersist."""
    return df.localCheckpoint(eager=True).cache()


# Below this many ACTIVE edges the contraction loop hands the remainder
# to a single-task union-find (see _finish_components_locally): 2M edge
# rows ≈ 32 MB of int64 pairs through Arrow — comfortably single-task,
# and the UF parent map is bounded by 2 × cut entries.
CC_LOCAL_EDGE_CUT = int(os.environ.get("SPARK_GRAFT_CC_LOCAL_CUT", "2000000"))


def _finish_components_locally(edges: DataFrame) -> DataFrame:
    """Finish a SMALL remaining component graph in one executor task:
    repartition(1) + mapInPandas union-find (path-halving, min-id
    roots).  This is the small-remainder strategy every production
    distributed-CC implementation ends with (GraphFrames does the
    same): the distributed star rounds shrink the active graph
    geometrically, so the O(log n) TAIL rounds move tiny data but
    still pay a full shuffle-round of driver/stage latency each —
    round-10 measured 5 plateau rounds × ~0.7 s moving <10 edges per
    round at sf0.1.  One Arrow-batched task replaces the whole tail.

    Executor-side (mapInPandas), never a driver collect; memory is
    bounded by CC_LOCAL_EDGE_CUT, which callers enforce before
    calling.  Returns (doc_id, rep) for every node in ``edges``,
    rep = component minimum."""
    a_type = edges.schema["a"].dataType
    out_schema = StructType([StructField("doc_id", a_type, False),
                             StructField("rep", a_type, False)])

    def uf(batches):
        import pandas as pd
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:          # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for x, y in zip(pdf["a"].tolist(), pdf["b"].tolist()):
                if x not in parent:
                    parent[x] = x
                if y not in parent:
                    parent[y] = y
                rx, ry = find(x), find(y)
                if rx != ry:                  # union by min id
                    if ry < rx:
                        rx, ry = ry, rx
                    parent[ry] = rx
        nodes = list(parent)
        yield pd.DataFrame({"doc_id": nodes,
                            "rep": [find(n) for n in nodes]})

    return edges.repartition(1).mapInPandas(uf, schema=out_schema)


def star_components(edges: DataFrame, *, max_rounds: int = 20) -> DataFrame:
    """Connected components of an undirected graph via alternating
    large-star / small-star contraction (Kiveris et al., "Connected
    Components in MapReduce and Beyond"): per round, every node hangs
    its larger neighbors (large-star), then its smaller neighbors
    (small-star), onto the minimum of its neighborhood.  The edge set
    never grows and converges to per-component stars rooted at the
    component minimum in O(log^2 n) rounds (≤ 8 observed on
    diameter-299 adversarial paths) — the 100 TB-correct round bound.
    One-hop min-label flooding (the round-9 shape) and naive
    pointer-doubling are both Θ(diameter) on adversarial id layouts:
    doubling cannot jump past a local-minimum id, so a random id
    permutation along a chain degrades it to flooding; star
    contraction rewires the GRAPH instead of the labels and has no
    such barrier.

    ``edges``: directed symmetric (src, dst).  Returns (doc_id, rep)
    for every node incident to an edge, rep = min node id of its
    component; the result is eagerly materialized (localCheckpoint)
    and every internal cache entry is released before return.

    ROUND-11 ACTIVE-SET DESIGN (the round-10 verdict's plateau fix) —
    two mechanisms, both motivated by the measured per-round floor
    (~0.6-0.9 s of stage/driver latency regardless of data size at
    bench SF):

    1. ISOLATED-STAR FREEZING: a round's output is a union of
       partially-contracted components; any component that has fully
       contracted to an isolated star — its root never appears as a
       larger endpoint anywhere and every member appears in exactly
       one edge — is a fixpoint of both star steps AND a complete
       connected component (contraction preserves the component
       partition), so it moves to a frozen accumulator and later
       rounds touch only the unconverged remainder.  Loop work drops
       from O(rounds × |E|) to O(|E| + Σ_r |active_r|); termination
       is "active set empty" (no exceptAll diff, no confirmation
       round).  Frozen stars are rooted at their component minimum
       (every kept edge satisfies a > b), so their rep map is a
       direct projection.

    2. SMALL-REMAINDER FINISHER: once the active set is at most
       CC_LOCAL_EDGE_CUT edges, one Arrow-batched single-task
       union-find (_finish_components_locally) replaces the whole
       O(log n) shuffle-round tail.  Round-10 measured 5 plateau
       rounds × ~0.7 s moving <10 edges each at sf0.1; the finisher
       is one ~0.3 s job.  At 100 TB the distributed star rounds do
       the bulk contraction and the finisher still only ever sees a
       bounded remainder.

    Each distributed round is two bounded groupBy-joins plus a
    degree-count pass over the ACTIVE edge set only; loop-carried
    frames go through _round_barrier, and every cache entry is
    released before return (round-10 ADVICE leak)."""
    cur = _round_barrier(
        edges.where(F.col("src") > F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct())
    n_act = cur.count()
    prev = cur  # the cached frame currently backing `cur`
    frozen: list[DataFrame] = []
    local_rep = None
    rounds = 0
    while n_act > 0:
        if n_act <= CC_LOCAL_EDGE_CUT:
            # small remainder: one Arrow-batched union-find task
            # replaces the whole O(log n) tail of shuffle rounds.
            local_rep = _finish_components_locally(cur)
            break
        if rounds >= max_rounds:
            raise RuntimeError(
                f"star contraction did not converge in {max_rounds} rounds "
                "(needs ~log^2 of the largest component — almost certainly "
                "a bug, not data)")
        rounds += 1
        sym = (cur.select(F.col("a").alias("u"), F.col("b").alias("v"))
               .unionByName(cur.select(F.col("b").alias("u"),
                                       F.col("a").alias("v"))))
        # large-star: center u, m = min(Γ(u) ∪ {u}); hang v > u on m
        lm = (sym.groupBy("u").agg(F.min("v").alias("mn"))
              .select("u", F.least("u", "mn").alias("m")))
        large = (sym.join(lm, "u").where(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("a"), F.col("m").alias("b"))
                 .distinct())
        # small-star: center a (larger endpoint), m = min smaller nbr;
        # re-hang all smaller neighbors and the center itself on m
        sm = large.groupBy("a").agg(F.min("b").alias("m"))
        smj = large.join(sm, "a")
        out = _round_barrier(
            smj.where(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(smj.select("a", F.col("m").alias("b")))
            .distinct())
        # isolated-star detection over the MATERIALIZED round output
        # (computing it in-plan would replicate the contraction
        # subtree ~5×; measured 3-5 s/round vs 0.3 s here): root_ok =
        # the root (smaller endpoint) is never a larger endpoint;
        # member_ok = the member appears in exactly ONE edge.  A star
        # whose every edge satisfies both is a fixpoint of the round
        # function AND a complete connected component (contraction
        # preserves the component partition) — freeze it out of the
        # loop so later rounds touch only unconverged components.
        deg = (out.select(F.col("a").alias("n"), F.lit(True).alias("is_a"))
               .unionByName(out.select(F.col("b").alias("n"),
                                       F.lit(False).alias("is_a")))
               .groupBy("n").agg(F.count("*").alias("d"),
                                 F.max("is_a").alias("ever_a")))
        edge_ok = (out
                   .join(deg.select(F.col("n").alias("a"),
                                    F.col("d").alias("da")), "a")
                   .join(deg.select(F.col("n").alias("b"),
                                    F.col("ever_a").alias("eb")), "b")
                   .withColumn("ok", (F.col("da") == 1) & ~F.col("eb")))
        star_ok = edge_ok.groupBy("b").agg(F.min("ok").alias("frz"))
        flagged = _round_barrier(out.join(star_ok, "b")
                                 .select("a", "b", "frz"))
        n_act = flagged.where(~F.col("frz")).count()
        frozen.append(flagged.where(F.col("frz")).select("a", "b"))
        out.unpersist()
        prev.unpersist()
        prev, cur = flagged, flagged.where(~F.col("frz")).select("a", "b")
    # frozen stars: every edge (a, b) is member→root with root = the
    # component min (all kept edges satisfy a > b), so rep is a direct
    # projection — members map to the root, roots map to themselves.
    stars = cur.limit(0)
    for f in frozen:
        stars = stars.unionByName(f)
    rep = (stars.select(F.col("a").alias("doc_id"), F.col("b").alias("rep"))
           .unionByName(stars.select(F.col("b").alias("doc_id"),
                                     F.col("b").alias("rep")).distinct()))
    if local_rep is not None:
        rep = rep.unionByName(local_rep)
    rep = rep.localCheckpoint(eager=True)
    # release the cache entry now that rep is materialized; the
    # localCheckpoint RDD blocks behind each round's frozen slice are
    # ContextCleaner-managed and go away when the frames are GC'd.
    prev.unpersist()
    return rep


def propagate_min_labels(labels: DataFrame | None, edges: DataFrame,
                         *, max_rounds: int = 20) -> DataFrame:
    """(doc_id, component) seed labels + directed symmetric (src, dst)
    edges -> converged labels: every doc's label = min seed label
    reachable in its component.  Seed labels may be EXTERNAL
    references (the streaming incremental updater seeds batch docs
    with matched index-component ids), so the component structure and
    the label minimum are computed separately:

      1. star_components contracts the edge graph to per-node
         representatives in O(log^2 n) rounds (see its docstring for
         why flooding/pointer-doubling are Θ(diameter) and rejected);
      2. one groupBy takes the min seed label per component and one
         join fans it back to members; isolated seeds keep their own;
      3. a one-hop VALIDATION pass over the original edges asserts
         the result is a flooding fixpoint (no neighbor has a smaller
         label) — star contraction is subtle enough that the engine
         re-proves it per run rather than trusting it; cost is one
         extra bounded join.

    ``labels=None`` is the IDENTITY-SEED fast path (q55/q167/q174
    bootstrap: every edge-incident node seeded with its own id): the
    min seed label per component is then the component minimum, which
    is exactly star_components' rep — step 2's groupBy + fan-back
    join are identities and are skipped (two shuffle waves saved per
    component query); the validation pass still runs.

    Shared by q55/q167/q174 (corpus bootstrap) and the streaming
    incremental component updates (tiny per-batch subgraphs)."""
    rep = star_components(edges, max_rounds=max_rounds)
    if labels is None:
        # rep already IS the converged identity-seed labeling, and it
        # is already eagerly materialized by star_components
        out = rep.select("doc_id", F.col("rep").alias("component"))
    else:
        lbl = (labels.join(rep, "doc_id", "left")
               .select("doc_id", "component",
                       F.coalesce("rep", F.col("doc_id")).alias("rep")))
        gmin = lbl.groupBy("rep").agg(F.min("component").alias("comp_min"))
        out = (lbl.join(gmin, "rep")
               .select("doc_id", F.col("comp_min").alias("component"))
               .localCheckpoint(eager=True))  # validated + multi-consumed
    neigh = (edges.join(out, edges.src == out.doc_id)
             .select(F.col("dst").alias("doc_id"),
                     F.col("component").alias("n_comp")))
    bad = (out.join(neigh, "doc_id")
           .where(F.col("n_comp") < F.col("component"))
           .limit(1).count())
    if bad:
        raise RuntimeError(
            "star-contraction labels failed the one-hop fixpoint "
            "validation — component labels would be wrong; refusing "
            "to return them")
    return out


@query("q55_dedup_components", f"""
WITH RECURSIVE
{_CANDIDATES_SQL},
edges(src, dst) AS (
  SELECT doc_a, doc_b FROM pairs UNION ALL SELECT doc_b, doc_a FROM pairs),
reach(doc, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.doc = e.src)
SELECT doc AS doc_id, MIN(r) AS component,
       (doc = MIN(r)) AS is_canonical
FROM reach GROUP BY doc
""")
def q55_dedup_components(spark: SparkSession, sf_dir: str,
                         *, max_rounds: int = 20) -> DataFrame:
    """Min-label propagation over the materialized LSH candidate graph
    (see propagate_min_labels)."""
    pairs = _lsh_candidate_pairs(spark, sf_dir)  # already materialized
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = (pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst"))))
    # iterate ONLY the active subgraph: docs with at least one edge.
    # Singletons keep component = doc_id and never enter the loop — at
    # corpus scale the candidate graph is a tiny fraction of the corpus.
    # Identity seeds -> propagate's fast path (labels = star reps).
    labels = propagate_min_labels(None, edges, max_rounds=max_rounds)
    full = (docs.join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", F.col("doc_id")).alias("component")))
    return full.select("doc_id", "component",
                       (F.col("doc_id") == F.col("component")).alias("is_canonical"))


# ---------------------------------------------------------------------------
# LSH + exact verification: the production near-dup shape — cheap LSH
# recall stage, exact Jaccard computed ONLY on candidate pairs (never
# all-pairs). The verify join touches |candidates| × shingles, not n².
# ---------------------------------------------------------------------------
@query("q57_lsh_verified_pairs", f"""
WITH {_CANDIDATES_SQL},
shs AS (SELECT DISTINCT doc_id, sh FROM ({SQL_SHINGLE_HASHES})),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shs GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS i
  FROM pairs p
  JOIN shs a ON a.doc_id = p.doc_a
  JOIN shs b ON b.doc_id = p.doc_b AND b.sh = a.sh
  GROUP BY p.doc_a, p.doc_b)
SELECT p.doc_a, p.doc_b,
       ROUND(CAST(COALESCE(i.i, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(i.i, 0)), 6) AS jaccard,
       COALESCE(i.i, 0) >= 1
         AND CAST(COALESCE(i.i, 0) AS DOUBLE)
             / (sa.n + sb.n - COALESCE(i.i, 0)) >= 0.05 AS verified
FROM pairs p
LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
""")
def q57_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = (_spark_shingle_hashes(load_table(spark, sf_dir, "documents"))
          .distinct().localCheckpoint(eager=True))  # both consumers below
    # signatures take MIN per doc, so the distinct sh frame yields the
    # same signature as the raw stream — one shingle chain serves both
    # the recall stage and the verify stage.
    pairs = _lsh_candidate_pairs(spark, sf_dir, sh=sh)
    # Verify via per-doc shingle ARRAYS, not an exploded postings join:
    # fold the index to (doc_id, shs[], n) once (map-side-combinable),
    # join each candidate pair to its two arrays, and take
    # size(array_intersect) in place. The former spelling fanned every
    # pair out to its postings (|pairs| x avg doc size rows) through a
    # groupBy shuffle plus two more size joins; the array path moves the
    # same bytes once, with no aggregation after the join — measured
    # same-session at x100 data: 18.6 -> 3.5 s (x1: 0.43 -> 0.21 s),
    # bit-identical output. Arrays are bounded by doc size, so the
    # per-row memory contract is the same one _spark_shingle_hashes
    # already implies. Work remains Theta(candidates x doc size) — the
    # verify-only-candidates contract, never n^2.
    arrs = sh.groupBy("doc_id").agg(F.collect_list("sh").alias("shs"),
                                    F.count("*").alias("n"))
    aa = arrs.select(F.col("doc_id").alias("doc_a"),
                     F.col("shs").alias("sha"), F.col("n").alias("na"))
    bb = arrs.select(F.col("doc_id").alias("doc_b"),
                     F.col("shs").alias("shb"), F.col("n").alias("nb"))
    i0 = F.size(F.array_intersect("sha", "shb")).cast("bigint")
    jac = i0.cast("double") / (F.col("na") + F.col("nb") - i0)
    return (pairs.join(aa, "doc_a").join(bb, "doc_b")  # per-doc: unhinted (q44)
            .select("doc_a", "doc_b",
                    F.round(jac, 6).alias("jaccard"),
                    ((i0 >= 1) & (jac >= 0.05)).alias("verified")))


# ---------------------------------------------------------------------------
# q90 — PageRank over the near-dup candidate graph (5 iterations,
# damping 0.85). Ranking the dedup graph surfaces template/boilerplate
# hubs: documents LSH-linked to many others score high and are curation
# targets. The graph is symmetric (both directions of every candidate
# pair), so every node has in- and out-edges and no dangling-mass term
# is needed.
#
# Cross-engine exactness: ranks are fixed-point bigints (scale 1e12) and
# every step is integer arithmetic — init r0 = S0 div n, per-edge
# contribution r div out_degree, update TELE + (85 * sum) div 100 — so
# both engines compute bit-identical bigints (no float summation-order
# hazard). Fixed 5 iterations rather than convergence keeps the oracle
# expressible as unrolled CTEs.
#
# DuckDB-version proofing (hash-mismatched in driver env r02-r04 while
# passing the identical local gate): the oracle never uses `//` — its
# result type/semantics have varied across DuckDB releases. Integer
# floor-division is spelled via the mod identity
#   idiv(a, b) = CAST((a - a % b) / b AS BIGINT)
# which only relies on `%`, `-`, `/`, CAST: (a - a%b) is exactly
# divisible by b, every intermediate is < 2^53 so the double division is
# exact, and the CAST lands on an exact integer. Each CTE boundary also
# CASTs r to BIGINT so no release can render it as `123.0`. Belt and
# braces, the published rank_fp is truncated by 10^3 on BOTH sides
# (documented tolerance: comparison at fixed-point scale 1e9), absorbing
# any residual single-unit divergence in the low digits.
#
# Scale: per iteration one join (edges x ranks, both partitioned by the
# same key) + one map-side-combinable sum — the canonical Pregel-style
# plan; localCheckpoint per round caps lineage. Edges frame is reused
# across rounds from one materialization.
# ---------------------------------------------------------------------------
PR_SCALE = 10 ** 12
PR_ITERS = 5


def _idiv(a: str, b: str) -> str:
    """Version-proof integer floor division for the DuckDB oracle."""
    return f"CAST((({a}) - ({a}) % ({b})) / ({b}) AS BIGINT)"


def _q90_sql() -> str:
    prev = "r0"
    iters = []
    tele = _idiv(f"15 * {PR_SCALE}", "100 * s.n")
    contrib = _idiv("p.r", "deg.d")
    upd = _idiv(f"85 * SUM({contrib})", "100")
    for k in range(1, PR_ITERS + 1):
        iters.append(f"""
r{k} AS (
  SELECT e.dst AS doc_id,
         CAST({tele} + {upd} AS BIGINT) AS r
  FROM edges e
  JOIN {prev} p ON p.doc_id = e.src
  JOIN deg ON deg.src = e.src
  CROSS JOIN scal s
  GROUP BY e.dst, s.n)""")
        prev = f"r{k}"
    return f"""
WITH {_CANDIDATES_SQL},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs),
nodes AS (SELECT DISTINCT src AS doc_id FROM edges),
scal AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
r0 AS (SELECT doc_id, {_idiv(str(PR_SCALE), 'n')} AS r FROM nodes CROSS JOIN scal),
{','.join(iters)}
SELECT doc_id, {_idiv('r', '1000')} AS rank_fp FROM {prev}
"""


@query("q90_pagerank")
def q90_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _lsh_candidate_pairs(spark, sf_dir)
    edges = (pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst"))))
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    # edges carry their source degree for the whole run; one materialization
    ed = edges.join(deg, "src").localCheckpoint(eager=True)
    nodes = ed.select(F.col("src").alias("doc_id")).distinct()
    scal = nodes.agg(F.count("*").alias("n")).localCheckpoint(eager=True)
    ranks = (nodes.crossJoin(F.broadcast(scal))
             .select("doc_id", F.expr(f"{PR_SCALE} div n").alias("r")))
    for _ in range(PR_ITERS):
        ranks = (ed.join(ranks, ed.src == ranks.doc_id)
                 .select(F.col("dst").alias("doc_id"),
                         F.expr("r div d").alias("contrib"))
                 .groupBy("doc_id").agg(F.sum("contrib").alias("s"))
                 .crossJoin(F.broadcast(scal))
                 .select("doc_id",
                         F.expr(f"(15 * {PR_SCALE}) div (100 * n) "
                                f"+ (85 * s) div 100").alias("r"))
                 .localCheckpoint(eager=True))
    return ranks.select("doc_id", F.expr("r div 1000").alias("rank_fp"))


ORACLES["q90_pagerank"] = _q90_sql()


# ---------------------------------------------------------------------------
# q95 — SimHash near-dup pairs: the search stage q43's signatures exist
# for. Charikar-style band blocking: split the 60-bit signature into 4
# bands of 15 bits; by pigeonhole, any pair within hamming distance 3
# agrees on at least one full band, so banding has perfect recall at
# the verify threshold. Candidates = docs sharing any (band_id, band
# value); verification = bit_count(xor) <= HAM_MAX on the full
# signature. Never all-pairs; band values are ~uniform 15-bit keys.
# ---------------------------------------------------------------------------
SIM_BANDS = 4
SIM_BAND_BITS = SIM_BITS // SIM_BANDS   # 15
HAM_MAX = SIM_BANDS - 1                 # pigeonhole-guaranteed recall

_Q43_CTE = f"""
tok AS (
  SELECT doc_id, UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS token
  FROM documents),
hashed AS (
  SELECT doc_id, CAST('0x' || SUBSTR(MD5(token), 1, 15) AS BIGINT) AS h FROM tok),
votes AS (
  SELECT doc_id, {_SIM_VOTE_AGGS_SQL}
  FROM hashed GROUP BY doc_id),
sig AS (
  SELECT doc_id, CAST({_SIM_RECOMBINE_SQL} AS BIGINT) AS simhash
  FROM votes)
"""

_SIM_BAND_MASK = (1 << SIM_BAND_BITS) - 1

@query("q95_simhash_pairs", f"""
WITH {_Q43_CTE},
flat AS (
  {' UNION ALL '.join(
      f'SELECT doc_id, simhash, {b} AS band_id, '
      f'(simhash >> {b * SIM_BAND_BITS}) & {_SIM_BAND_MASK} AS band_val FROM sig'
      for b in range(SIM_BANDS))}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sig_a,
                  b.doc_id AS doc_b, b.simhash AS sig_b
  FROM flat a JOIN flat b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       BIT_COUNT(XOR(sig_a, sig_b)) AS hamming
FROM cand
WHERE BIT_COUNT(XOR(sig_a, sig_b)) <= {HAM_MAX}
""")
def q95_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = q43_simhash(spark, sf_dir).localCheckpoint(eager=True)
    stack_expr = ", ".join(
        f"{b}, shiftright(simhash, {b * SIM_BAND_BITS}) & {_SIM_BAND_MASK}"
        for b in range(SIM_BANDS))
    flat = sig.selectExpr(
        "doc_id", "simhash",
        f"stack({SIM_BANDS}, {stack_expr}) AS (band_id, band_val)")
    a = flat.select(F.col("doc_id").alias("doc_a"),
                    F.col("simhash").alias("sig_a"), "band_id", "band_val")
    b = flat.select(F.col("doc_id").alias("doc_b"),
                    F.col("simhash").alias("sig_b"), "band_id", "band_val")
    cand = (a.join(b, ["band_id", "band_val"])
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "sig_a", "doc_b", "sig_b").distinct())
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cand.where(ham <= HAM_MAX)
            .select("doc_a", "doc_b", ham.alias("hamming")))


# ---------------------------------------------------------------------------
# q97 — canonical selection by quality: the final materialization of a
# dedup pipeline. Within each near-dup component (q55), keep the
# highest-quality member — not the lowest id — ranked by an integer
# quality key (alpha-character density in ppm, then token count, then
# doc_id), so the winner is bit-deterministic on any engine. Emits one
# row per component with its canonical doc and member count.
#
# Scale: component labels come from the converged q55 frame (one
# iterative join chain), quality is a per-row projection, and the
# winner is one window over component — shuffle key = component id,
# uniform (md5-derived minima).
# ---------------------------------------------------------------------------
# SQL tail shared with q168 (textops) — prepend `WITH comp AS ({...}),`
SQL_KEEP_ONE_TAIL = f"""qual AS (
  SELECT doc_id,
         {_idiv("(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[a-z]', "
                "'', 'g'))) * 1000000", "LENGTH(text)")} AS alpha_ppm,
         LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS n_tokens
  FROM documents WHERE LENGTH(text) > 0),
ranked AS (
  SELECT c.component, c.doc_id, q.alpha_ppm, q.n_tokens,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY q.alpha_ppm DESC, q.n_tokens DESC,
                                     c.doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY c.component) AS n_members
  FROM (SELECT doc_id, component FROM comp) c
  JOIN qual q USING (doc_id))
SELECT component, doc_id AS canonical_id, n_members, alpha_ppm, n_tokens
FROM ranked WHERE rn = 1
"""


def keep_one_by_quality(comp: DataFrame, d: DataFrame) -> DataFrame:
    """The keep-one materialization a dedup pipeline ends with: given
    (doc_id, component) labels and the documents frame, rank members by
    an integer quality key (alpha-character density in ppm, then token
    count, then doc_id — bit-deterministic on any engine) and emit one
    row per component with its canonical doc and member count. Shared
    by q97 (LSH band components) and q168 (substring star components).

    Scale: quality is a per-row projection; the winner is one window
    over component — shuffle key = component id, uniform."""
    alpha = F.length("text") - F.length(F.regexp_replace("text", "[a-z]", ""))
    # integer ppm quality via `div` (not double-divide-then-cast):
    # bit-exact vs the oracle's // at any magnitude
    qual = d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_q"),
        alpha.cast("long").alias("n_alpha"),
        F.size(F.filter(F.split("text", " "), lambda x: x != ""))
          .cast("long").alias("n_tokens"))
    qual = qual.select(
        "doc_id",
        F.expr("(n_alpha * 1000000) div n_chars_q").alias("alpha_ppm"),
        "n_tokens")
    from pyspark.sql import Window as W
    w = W.partitionBy("component").orderBy(
        F.desc("alpha_ppm"), F.desc("n_tokens"), F.asc("doc_id"))
    wc = W.partitionBy("component")
    ranked = (comp.join(qual, "doc_id")
              .withColumn("rn", F.row_number().over(w))
              .withColumn("n_members", F.count("*").over(wc)))
    return (ranked.where(F.col("rn") == 1)
            .select("component", F.col("doc_id").alias("canonical_id"),
                    "n_members", "alpha_ppm", "n_tokens"))


_COMPONENTS = memo.register("components")


def component_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized, eagerly-checkpointed (doc_id, component) labels from
    q55 — the materialize-once semantics of a production dedup
    pipeline, where the components table is built once and every
    downstream consumer (keep-one q97, leakage audit q159, split
    assignment q171) reads the materialized frame instead of
    re-running the LSH + propagation chain. Keyed by (applicationId,
    sf_dir) like streaming.incremental's index cache. q55 itself never
    reads this memo: its own bench entry keeps measuring the true
    build cost."""
    return _COMPONENTS.get_or_build(
        (spark.sparkContext.applicationId, sf_dir),
        lambda: (q55_dedup_components(spark, sf_dir)
                 .select("doc_id", "component")
                 .localCheckpoint(eager=True)))


@query("q97_canonical_by_quality", f"""
WITH comp AS ({{Q55}}),
{SQL_KEEP_ONE_TAIL}""")
def q97_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = component_frame(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    return keep_one_by_quality(comp, d)


ORACLES["q97_canonical_by_quality"] = \
    ORACLES["q97_canonical_by_quality"].replace(
        "{Q55}", ORACLES["q55_dedup_components"])


# ---------------------------------------------------------------------------
# q159 — split-leakage audit over near-dup clusters: a train/test split
# drawn per DOCUMENT leaks whenever a near-dup cluster straddles the
# boundary — the test set then contains (near-)copies of training docs
# and benchmark numbers are contaminated (Lee et al. 2022 measured
# this directly; split hygiene is why production pipelines split by
# CLUSTER, not by doc). For every multi-member q55 component this
# reports the naive per-doc 80/20 assignment's member counts, whether
# it leaks (members on both sides), and the cluster-level assignment
# (the same deterministic hash applied to the component id) that a
# leak-free split would use.
#
# Determinism: both assignments reuse q77's seedless md5-mod-100 rule —
# identical on any engine, partitioning, or cluster size. Components
# come from the converged q55 propagation (Spark) / recursive-CTE
# closure (DuckDB) — same fixpoint, already hash-gated by q55 itself.
#
# Scale: the audit runs on the COMPONENT frame (one row per doc after
# q55's iterative joins), one projection for the hash bits and one
# map-side-combinable groupBy on the component id (uniform md5-derived
# minima). Output is bounded by the number of multi-member dup
# clusters — the same cardinality q97 materializes.
# ---------------------------------------------------------------------------
TRAIN_PCT = 80

_SQL_H100 = ("CAST('0x' || SUBSTR(MD5(CAST({col} AS VARCHAR)), 1, 15) "
             "AS BIGINT) % 100")

@query("q159_split_leakage", f"""
WITH comp AS ({{Q55}})
SELECT component,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN {_SQL_H100.format(col='doc_id')} < {TRAIN_PCT}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_train_naive,
       CAST(SUM(CASE WHEN {_SQL_H100.format(col='doc_id')} >= {TRAIN_PCT}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_test_naive,
       (SUM(CASE WHEN {_SQL_H100.format(col='doc_id')} < {TRAIN_PCT}
            THEN 1 ELSE 0 END) > 0
        AND SUM(CASE WHEN {_SQL_H100.format(col='doc_id')} >= {TRAIN_PCT}
                THEN 1 ELSE 0 END) > 0) AS leaky,
       CASE WHEN {_SQL_H100.format(col='component')} < {TRAIN_PCT}
            THEN 'train' ELSE 'test' END AS cluster_split
FROM comp
GROUP BY component
HAVING COUNT(*) >= 2
""")
def q159_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = component_frame(spark, sf_dir)

    def h100(col: str) -> F.Column:
        return (F.conv(F.substring(
            F.md5(F.col(col).cast("string").cast("binary")), 1, 15),
            16, 10).cast("bigint") % 100)

    t = (h100("doc_id") >= TRAIN_PCT).cast("int")
    per = comp.select("component", t.alias("t"))
    agg = (per.groupBy("component")
           .agg(F.count("*").alias("n_docs"),
                (F.count("*") - F.sum("t")).cast("bigint")
                 .alias("n_train_naive"),
                F.sum("t").cast("bigint").alias("n_test_naive")))
    return (agg.where(F.col("n_docs") >= 2)
            .select("component", "n_docs", "n_train_naive", "n_test_naive",
                    ((F.col("n_train_naive") > 0)
                     & (F.col("n_test_naive") > 0)).alias("leaky"),
                    F.when(h100("component") < TRAIN_PCT, "train")
                     .otherwise("test").alias("cluster_split")))


ORACLES["q159_split_leakage"] = \
    ORACLES["q159_split_leakage"].replace(
        "{Q55}", ORACLES["q55_dedup_components"])


# ---------------------------------------------------------------------------
# q171 — leak-free split ASSIGNMENT: the constructive half of q159's
# audit. Every document (singletons included) gets its train/val/test
# split from the hash of its q55 COMPONENT id, so a near-dup cluster
# can never straddle a boundary — leakage is zero by construction, not
# by measurement. Alongside, the naive per-doc assignment and a
# `moved` flag report exactly which documents the cluster-aware rule
# relocated (the reviewable diff a pipeline wants before swapping
# split rules). Same seedless md5-mod-100 hash as q77/q159; the 3-way
# boundaries are 0-79 train / 80-89 val / 90-99 test.
#
# Scale: one projection over the component frame — the hash bits and
# CASE are per-row; no aggregation at all beyond what q55 already did.
# ---------------------------------------------------------------------------
VAL_PCT = 90     # h in [TRAIN_PCT, VAL_PCT) -> val; >= VAL_PCT -> test


def _sql_split3(col: str) -> str:
    h = _SQL_H100.format(col=col)
    return (f"CASE WHEN {h} < {TRAIN_PCT} THEN 'train' "
            f"WHEN {h} < {VAL_PCT} THEN 'val' ELSE 'test' END")


@query("q171_leakfree_splits", f"""
WITH comp AS ({{Q55}})
SELECT doc_id, component,
       {_sql_split3('component')} AS split,
       {_sql_split3('doc_id')} AS naive_split,
       {_sql_split3('component')} <> {_sql_split3('doc_id')} AS moved
FROM comp
""")
def q171_leakfree_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = component_frame(spark, sf_dir)

    def h100(col: str) -> F.Column:
        return (F.conv(F.substring(
            F.md5(F.col(col).cast("string").cast("binary")), 1, 15),
            16, 10).cast("bigint") % 100)

    def split3(col: str) -> F.Column:
        h = h100(col)
        return (F.when(h < TRAIN_PCT, "train")
                .when(h < VAL_PCT, "val").otherwise("test"))

    return comp.select(
        "doc_id", "component",
        split3("component").alias("split"),
        split3("doc_id").alias("naive_split"),
        (split3("component") != split3("doc_id")).alias("moved"))


ORACLES["q171_leakfree_splits"] = \
    ORACLES["q171_leakfree_splits"].replace(
        "{Q55}", ORACLES["q55_dedup_components"])


# ---------------------------------------------------------------------------
# q129 — cross-source corpus overlap: estimated Jaccard similarity
# between every pair of ingest sources' SHINGLE SETS, from per-source
# K-minhash signatures — the curator's answer to "which feeds are
# re-crawling each other?" without ever joining documents pairwise.
#
# Per-source signature = elementwise MIN over all the source's shingle
# hashes under OV_HASHES affine hashes (same universal-hash family as
# q41, longer K for resolution 1/24); estimated Jaccard = matching
# signature positions / K. The estimate is DETERMINISTIC (no RNG), so
# the DuckDB twin computes the identical integers and the value-hash
# gate applies; match counts are exact integers — no float hazards
# except the final ratio, rounded at 6dp.
#
# Scale: the signature aggregation is ONE map-side-combinable groupBy
# over the shingle stream (a 24-column MIN — partials collapse to one
# row per source per partition before the shuffle); the pairwise stage
# is |sources|^2 rows over a frame with ONE row per source — broadcast
# trivially at any corpus size. Compare: exact pairwise source overlap
# would be a shingle-level self-join over the corpus.
# ---------------------------------------------------------------------------
OV_HASHES = 24
_OV_AFFINE = [(2 * ((s * 40_503_341 + 9_619_387) % (HM // 2)) + 1,
               (s * 83_476_211 + 4_257_433) % HM)
              for s in range(OV_HASHES)]

_OV_AGGS_SQL = ",\n       ".join(
    f"MIN((sh * {a} + {b}) % {HM}) AS h{s}"
    for s, (a, b) in enumerate(_OV_AFFINE))

_OV_SRC_SH_SQL = f"""
SELECT source, UNNEST(LIST_TRANSFORM(RANGE(LEN(th) - 2),
       i -> ((th[i+1] * {SB} + th[i+2]) % {HM} * {SB} + th[i+3]) % {HM})) AS sh
FROM (SELECT source, {_SQL_TOKH} AS th
      FROM (SELECT source, LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')
              AS toks FROM documents)
      WHERE LEN(toks) >= 3)
"""

_OV_MATCHES_SQL = " + ".join(
    f"(CASE WHEN a.h{s} = b.h{s} THEN 1 ELSE 0 END)"
    for s in range(OV_HASHES))

@query("q129_source_overlap", f"""
WITH sig AS (
  SELECT source, {_OV_AGGS_SQL}
  FROM ({_OV_SRC_SH_SQL}) GROUP BY source)
SELECT a.source AS source_a, b.source AS source_b,
       {_OV_MATCHES_SQL} AS n_match,
       ROUND(({_OV_MATCHES_SQL}) / {OV_HASHES}.0, 6) AS jaccard_est
FROM sig a JOIN sig b ON a.source < b.source
""")
def q129_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    t = d.select("source", toks.alias("toks")).where(F.size("toks") >= 3)
    tok_h = F.expr(
        f"transform(toks, t -> aggregate(transform(split(t, ''), "
        f"c -> cast(ascii(c) as bigint)), 0L, "
        f"(acc, x) -> (acc * {HB} + x) % {HM}))")
    t = t.select("source", tok_h.alias("th"))
    sh = F.expr(
        f"transform(sequence(1, size(th) - 2), i -> "
        f"((element_at(th, i) * {SB} + element_at(th, i + 1)) % {HM} "
        f"* {SB} + element_at(th, i + 2)) % {HM})")
    shf = t.select("source", F.explode(sh).alias("sh"))
    aggs = [F.min((F.col("sh") * a + b) % HM).alias(f"h{s}")
            for s, (a, b) in enumerate(_OV_AFFINE)]
    sig = shf.groupBy("source").agg(*aggs)
    a = sig.select([F.col("source").alias("source_a")]
                   + [F.col(f"h{s}").alias(f"a{s}") for s in range(OV_HASHES)])
    b = sig.select([F.col("source").alias("source_b")]
                   + [F.col(f"h{s}").alias(f"b{s}") for s in range(OV_HASHES)])
    n_match = sum(F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
                  for s in range(OV_HASHES))
    return (a.join(F.broadcast(b),
                   F.col("source_a") < F.col("source_b"))
            .select("source_a", "source_b",
                    n_match.alias("n_match"),
                    F.round(n_match.cast("double") / OV_HASHES, 6)
                     .alias("jaccard_est")))

# ---------------------------------------------------------------------------
# q142 — minhash estimator calibration: for every LSH candidate pair,
# compare the signature-based Jaccard estimate (matching minima / K)
# with the exact shingle-set Jaccard, grouped into a per-match-count
# calibration table. This is the QA sweep a production dedup pipeline
# runs before trusting the K=8 estimator at full corpus scale: it
# quantifies the estimator's bias/spread on exactly the pairs the
# banding stage surfaces (matches >= BAND_ROWS by construction).
#
# Scale (100 TB): every stage is candidate-bounded — signatures and
# set sizes join onto the (small) candidate-pair frame by doc_id, the
# exact intersection joins postings by doc_id then (doc_id, sh), and
# the calibration table is a <= K+1-row keyed agg with map-side
# combine. All ratios are integer ppm via explicit floor division
# (_idiv pattern) with DECIMAL(38,0) numerators, so the table hashes
# identically on both engines at any corpus size.
# ---------------------------------------------------------------------------
_Q142_MATCHES_SQL = " + ".join(
    f"CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END" for s in range(N_HASHES))

@query("q142_minhash_calibration", f"""
WITH {_CANDIDATES_SQL},
shs AS (SELECT DISTINCT doc_id, sh FROM ({SQL_SHINGLE_HASHES})),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shs GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS i
  FROM pairs p
  JOIN shs a ON a.doc_id = p.doc_a
  JOIN shs b ON b.doc_id = p.doc_b AND b.sh = a.sh
  GROUP BY p.doc_a, p.doc_b),
per AS (
  SELECT ({_Q142_MATCHES_SQL}) AS matches,
         {_idiv(f'({_Q142_MATCHES_SQL}) * 1000000', str(N_HASHES))} AS est_ppm,
         {_idiv('CAST(COALESCE(i.i, 0) AS DECIMAL(38,0)) * 1000000',
                '(sza.n + szb.n - COALESCE(i.i, 0))')} AS exact_ppm
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.doc_a
  JOIN sig sb ON sb.doc_id = p.doc_b
  JOIN sizes sza ON sza.doc_id = p.doc_a
  JOIN sizes szb ON szb.doc_id = p.doc_b
  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b)
SELECT matches, est_ppm, COUNT(*) AS n_pairs,
       {_idiv('SUM(CAST(exact_ppm AS DECIMAL(38,0)))', 'COUNT(*)')}
         AS avg_exact_ppm,
       {_idiv('SUM(CAST(ABS(est_ppm - exact_ppm) AS DECIMAL(38,0)))',
              'COUNT(*)')} AS avg_abs_err_ppm,
       MIN(exact_ppm) AS min_exact_ppm,
       MAX(exact_ppm) AS max_exact_ppm
FROM per GROUP BY matches, est_ppm
""")
def q142_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = (_spark_shingle_hashes(load_table(spark, sf_dir, "documents"))
          .distinct().localCheckpoint(eager=True))  # postings reused 3x
    pairs = _lsh_candidate_pairs(spark, sf_dir, sh=sh)
    # ONE groupBy computes the K minima AND the set size (the oracle's
    # sig + sizes CTEs fused): sh is the distinct posting list, so
    # count(*) == |shingle set| — two joins instead of four below
    sig = sh.groupBy("doc_id").agg(
        *[F.min((F.col("sh") * a + b) % HM).alias(f"h{s}")
          for s, (a, b) in enumerate(_AFFINE)],
        F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (pairs.join(a, "doc_a").join(b, ["doc_b", "sh"])
                  .groupBy("doc_a", "doc_b").agg(F.count("*").alias("i")))
    siga = sig.select([F.col("doc_id").alias("doc_a"),
                       F.col("n").alias("na")]
                      + [F.col(f"h{s}").alias(f"a{s}")
                         for s in range(N_HASHES)])
    sigb = sig.select([F.col("doc_id").alias("doc_b"),
                       F.col("n").alias("nb")]
                      + [F.col(f"h{s}").alias(f"b{s}")
                         for s in range(N_HASHES)])
    joined = (pairs.join(siga, "doc_a").join(sigb, "doc_b")
                   .join(inter, ["doc_a", "doc_b"], "left"))
    matches = sum(F.when(F.col(f"a{s}") == F.col(f"b{s}"), 1).otherwise(0)
                  for s in range(N_HASHES))
    ii = F.coalesce(F.col("i"), F.lit(0))
    est_num = (matches.cast("bigint") * 1_000_000)
    est_ppm = ((est_num - est_num % N_HASHES) / N_HASHES).cast("bigint")
    ex_num = ii.cast("decimal(38,0)") * 1_000_000
    den = F.col("na") + F.col("nb") - ii
    exact_ppm = ((ex_num - ex_num % den) / den).cast("bigint")
    per = joined.select(matches.alias("matches"),
                        est_ppm.alias("est_ppm"),
                        exact_ppm.alias("exact_ppm"))
    g = (per.groupBy("matches", "est_ppm")
            .agg(F.count("*").alias("n_pairs"),
                 F.sum(F.col("exact_ppm").cast("decimal(38,0)")).alias("s_ex"),
                 F.sum(F.abs(F.col("est_ppm") - F.col("exact_ppm"))
                        .cast("decimal(38,0)")).alias("s_err"),
                 F.min("exact_ppm").alias("min_exact_ppm"),
                 F.max("exact_ppm").alias("max_exact_ppm")))
    return g.select(
        "matches", "est_ppm", "n_pairs",
        ((F.col("s_ex") - F.col("s_ex") % F.col("n_pairs"))
         / F.col("n_pairs")).cast("bigint").alias("avg_exact_ppm"),
        ((F.col("s_err") - F.col("s_err") % F.col("n_pairs"))
         / F.col("n_pairs")).cast("bigint").alias("avg_abs_err_ppm"),
        "min_exact_ppm", "max_exact_ppm")


# ---------------------------------------------------------------------------
# q146 — candidate-graph triangle census: triangle count, wedge count,
# and the global clustering coefficient of the LSH near-dup graph. A
# banding stage that works emits triangle-dense candidate graphs (near-
# dup clusters are near-cliques); a low coefficient at corpus scale
# flags band keys colliding on unrelated docs — the structural QA twin
# of q142's value-level calibration.
#
# Spark: the id-ordered edge-iterator join — edges (a<b) joined
# (b=c-edges' lower end) then closed against (a,c) — the standard
# distributed triangle plan; every join is an equi-join on a node id.
# Wedges are one keyed degree agg. At 100 TB orient edges
# low-degree -> high-degree instead of low-id -> high-id (same count,
# bounds the per-key fan-out by sqrt(m)); id-orientation keeps the
# oracle twin trivially identical here.
# ---------------------------------------------------------------------------
@query("q146_graph_triangles", f"""
WITH {_CANDIDATES_SQL},
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM pairs p1
  JOIN pairs p2 ON p2.doc_a = p1.doc_b
  JOIN pairs p3 ON p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT doc_a AS node FROM pairs
    UNION ALL SELECT doc_b FROM pairs) GROUP BY node),
w AS (
  SELECT COUNT(*) AS n_nodes,
         SUM(CASE WHEN d % 2 = 0
                  THEN CAST((d - d % 2) / 2 AS BIGINT) * (d - 1)
                  ELSE d * CAST(((d - 1) - (d - 1) % 2) / 2 AS BIGINT)
             END) AS n_wedges FROM deg),
e AS (SELECT COUNT(*) AS n_edges FROM pairs)
SELECT w.n_nodes, e.n_edges, tri.n_triangles,
       CAST(w.n_wedges AS BIGINT) AS n_wedges,
       CASE WHEN w.n_wedges = 0 THEN 0 ELSE
         {_idiv('3 * tri.n_triangles * 1000000',
                'CAST(w.n_wedges AS BIGINT)')} END AS global_cc_ppm
FROM w CROSS JOIN e CROSS JOIN tri
""")
def q146_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _lsh_candidate_pairs(spark, sf_dir)  # materialized, a < b
    p1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    p2 = pairs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    p3 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = (p1.join(p2, "b").join(p3, ["a", "c"])
             .agg(F.count("*").alias("n_triangles")))
    deg = (pairs.select(F.col("doc_a").alias("node"))
           .unionAll(pairs.select(F.col("doc_b").alias("node")))
           .groupBy("node").agg(F.count("*").alias("d")))
    # per-node wedge count d*(d-1)/2 in PURE INTEGER arithmetic: halve
    # the even factor first (d or d-1; the halving (x - x%2)/2 is exact
    # in double because a single degree d < 2^53 always), then multiply
    # as bigint — the PRODUCT may exceed 2^53 for hub nodes (~1.4e8+
    # degree) where a double d*(d-1)/2 would round pre-cast, and Spark
    # truncates that double while DuckDB rounds it. Identical spelling
    # on both engines; the sum accumulates exact bigints.
    d = F.col("d")
    half_even = ((d - d % 2) / 2).cast("bigint")
    half_odd = (((d - 1) - (d - 1) % 2) / 2).cast("bigint")
    wedge = F.when(d % 2 == 0, half_even * (d - 1)).otherwise(d * half_odd)
    w = deg.agg(F.count("*").alias("n_nodes"),
                F.sum(wedge).alias("n_wedges"))
    e = pairs.agg(F.count("*").alias("n_edges"))
    j = w.crossJoin(F.broadcast(e)).crossJoin(F.broadcast(tri))
    # DECIMAL(38,0) before *3e6: triangle counts grow superlinearly
    # with the candidate graph (the q110 lesson)
    num = 3 * F.col("n_triangles").cast("decimal(38,0)") * 1_000_000
    cc = F.when(F.col("n_wedges") == 0, F.lit(0)).otherwise(
        exact_tdiv(num, F.col("n_wedges")))
    return j.select("n_nodes", "n_edges", "n_triangles", "n_wedges",
                    cc.alias("global_cc_ppm"))


# ---------------------------------------------------------------------------
# q166 — dedup threshold sensitivity curve: the decision-support table a
# corpus owner reads before PICKING the near-dup threshold. Over the
# df-cut candidate pairs (q87's machinery — the only shape that
# survives corpus scale), for each candidate threshold t the curve
# reports how many pairs exceed t, how many documents a keep-lowest-id
# rule would drop (any doc appearing as the larger id of a >= t pair),
# how many characters that costs, and the corpus retention — i.e. "what
# does each notch of strictness buy, and what does it spend". The
# jaccard is fixed-point ppm (exact integer division) so the curve
# hashes identically on both engines.
#
# Scale (100 TB): the pair frame is the df-cut candidate set (bounded
# per shingle, see q87); the 5-row threshold frame cross-joins onto it
# broadcast-side; the drop set is one distinct + one join to per-doc
# sizes on the uniform doc key. Output is 5 rows.
# ---------------------------------------------------------------------------
CURVE_TS = (50_000, 100_000, 200_000, 400_000, 800_000)   # jaccard ppm

@query("q166_dedup_threshold_curve", f"""
WITH shs AS (SELECT DISTINCT doc_id, sh FROM ({SQL_SHINGLE_HASHES})),
cut AS (SELECT CAST(CEIL({DF_CUT_FRAC} * COUNT(*)) AS BIGINT) AS c
        FROM documents),
keep AS (
  SELECT sh FROM shs GROUP BY sh
  HAVING COUNT(*) <= (SELECT c FROM cut)),
fsh AS (SELECT s.doc_id, s.sh FROM shs s JOIN keep USING (sh)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM fsh GROUP BY doc_id),
pairs AS (
  SELECT doc_a, doc_b,
         CAST((i * 1000000 - (i * 1000000) % u) / u AS BIGINT) AS jac_ppm
  FROM (
    SELECT i.doc_a, i.doc_b, i.i, sa.n + sb.n - i.i AS u
    FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
          FROM fsh a JOIN fsh b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id) i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b)),
ts(t_ppm) AS (VALUES {", ".join(f"({t})" for t in CURVE_TS)}),
pp AS (
  SELECT t_ppm, COUNT(*) AS n_pairs, COUNT(DISTINCT doc_b) AS n_dropped
  FROM ts JOIN pairs ON jac_ppm >= t_ppm GROUP BY t_ppm),
dd AS (
  SELECT t_ppm, CAST(SUM(n_chars) AS BIGINT) AS chars_dropped
  FROM (SELECT DISTINCT t_ppm, doc_b FROM ts JOIN pairs ON jac_ppm >= t_ppm) x
  JOIN documents d ON d.doc_id = x.doc_b GROUP BY t_ppm),
tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS corpus_chars FROM documents)
SELECT CAST(t.t_ppm AS BIGINT) AS t_ppm,
       COALESCE(pp.n_pairs, 0) AS n_pairs,
       COALESCE(pp.n_dropped, 0) AS n_dropped,
       COALESCE(dd.chars_dropped, 0) AS chars_dropped,
       tot.corpus_chars,
       CAST(((corpus_chars - COALESCE(dd.chars_dropped, 0)) * 1000000
             - ((corpus_chars - COALESCE(dd.chars_dropped, 0)) * 1000000)
               % corpus_chars) / corpus_chars AS BIGINT) AS retained_ppm
FROM ts t LEFT JOIN pp USING (t_ppm) LEFT JOIN dd USING (t_ppm)
CROSS JOIN tot
""")
def q166_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    docs = load_table(spark, sf_dir, "documents")
    sh = (_spark_shingle_hashes(docs)
          .distinct().localCheckpoint(eager=True))
    cut = docs.agg(F.ceil(DF_CUT_FRAC * F.count("*")).alias("c"))
    fsh = (sh.withColumn("df", F.count("*").over(W.partitionBy("sh")))
             .crossJoin(F.broadcast(cut))
             .where(F.col("df") <= F.col("c"))
             .select("doc_id", "sh"))
    sizes = fsh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = fsh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = fsh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (a.join(b, "sh")
              .where(F.col("doc_a") < F.col("doc_b"))
              .groupBy("doc_a", "doc_b").agg(F.count("*").alias("i")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    u = F.col("na") + F.col("nb") - F.col("i")
    # per-doc sizes frames: unhinted (see q44) — AQE decides
    pairs = (inter.join(sa, "doc_a").join(sb, "doc_b")
             .select("doc_a", "doc_b",
                     exact_tdiv(F.col("i").cast("decimal(38,0)") * 1_000_000,
                                u).alias("jac_ppm"))
             .localCheckpoint(eager=True))
    ts = spark.range(1).select(F.explode(F.array(
        *[F.lit(t).cast("long") for t in CURVE_TS])).alias("t_ppm"))
    pt = pairs.join(F.broadcast(ts), F.col("jac_ppm") >= F.col("t_ppm"))
    pp = (pt.groupBy("t_ppm")
          .agg(F.count("*").alias("n_pairs"),
               F.countDistinct("doc_b").alias("n_dropped")))
    dd = (pt.select("t_ppm", "doc_b").distinct()
          .join(docs.select(F.col("doc_id").alias("doc_b"), "n_chars"),
                "doc_b")
          .groupBy("t_ppm")
          .agg(F.sum("n_chars").cast("bigint").alias("chars_dropped")))
    tot = docs.agg(F.sum("n_chars").cast("bigint").alias("corpus_chars"))
    base = (ts.join(pp, "t_ppm", "left").join(dd, "t_ppm", "left")
            .crossJoin(F.broadcast(tot)))
    kept = (F.col("corpus_chars")
            - F.coalesce(F.col("chars_dropped"), F.lit(0)))
    return base.select(
        "t_ppm",
        F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
        F.coalesce(F.col("n_dropped"), F.lit(0)).alias("n_dropped"),
        F.coalesce(F.col("chars_dropped"), F.lit(0)).alias("chars_dropped"),
        "corpus_chars",
        exact_tdiv(kept.cast("decimal(38,0)") * 1_000_000,
                   F.col("corpus_chars")).alias("retained_ppm"))
