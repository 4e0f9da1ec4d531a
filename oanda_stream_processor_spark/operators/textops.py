"""Text-analysis operators for training-data pipelines (north-star
extension; SURVEY.md §2.2 'LLM-pipeline extensions').

Language ID (stopword-hit heuristic), quality scoring (length / punct /
stopword / digit ratios), token counting (whitespace + BPE-ish regex),
and document fingerprinting (winnowing over rolling char n-gram hashes).
All pure built-in expressions — regexes are ASCII-safe in both engines
(Java regex vs RE2 agree on the classes used here).

Scale: every operator is a per-row projection or a
map-side-combinable aggregation; the fingerprint op explodes to
(doc, position) rows — linear in corpus size, shuffled once on doc_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .. import memo
from ..io import load_table
from .helpers import davg, exact_tdiv, sql_davg

QUERIES: dict = {}
ORACLES: dict = {}

# tiny per-language stopword lists for the heuristic scorer
LANG_WORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ein"],
    "es": ["el", "la", "de", "y", "un"],
    "fr": ["le", "la", "de", "et", "un"],
    "zh": ["de", "le", "shi", "zai", "he"],
}
LANGS = sorted(LANG_WORDS)

STOPWORDS = sorted({w for ws in LANG_WORDS.values() for w in ws})

GRAM = 8          # fingerprint char n-gram width
WINNOW = 4        # winnowing window (positions)


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


def _sql_hits(lang: str) -> str:
    """# tokens of `text` found in LANG_WORDS[lang] (token exact match)."""
    lst = ", ".join(f"'{w}'" for w in LANG_WORDS[lang])
    return (f"LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN ({lst})))")


def _hits(lang: str) -> F.Column:
    return F.size(F.filter(F.split("text", " "),
                           lambda x: x.isin(LANG_WORDS[lang])))


# ---------------------------------------------------------------------------
# Language ID: argmax of stopword hits; ties broken by language name so
# both engines pick identically.
# ---------------------------------------------------------------------------
@query("q49_lang_id", f"""
WITH scored AS (
  SELECT doc_id, lang AS actual_lang,
         {", ".join(f"{_sql_hits(lg)} AS hits_{lg}" for lg in LANGS)}
  FROM documents)
SELECT doc_id, actual_lang,
       (LIST_MAX([{", ".join(f"{{'hits': hits_{lg}, 'lang': '{lg}'}}" for lg in LANGS)}])).lang
         AS predicted_lang,
       GREATEST({", ".join(f"hits_{lg}" for lg in LANGS)}) AS best_hits
FROM scored
""")
def q49_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    scored = d.select("doc_id", F.col("lang").alias("actual_lang"),
                      *[_hits(lg).alias(f"hits_{lg}") for lg in LANGS])
    # argmax via greatest over (hits, lang) structs — struct ordering is
    # lexicographic on fields in both engines, so ties pick the larger
    # lang name identically.
    structs = [F.struct(F.col(f"hits_{lg}").alias("hits"), F.lit(lg).alias("lang"))
               for lg in LANGS]
    best = F.greatest(*structs)
    return scored.select(
        "doc_id", "actual_lang",
        best["lang"].alias("predicted_lang"),
        F.greatest(*[F.col(f"hits_{lg}") for lg in LANGS]).alias("best_hits"))


# ---------------------------------------------------------------------------
# Quality scoring: classic filter features. All ratios are per-row double
# arithmetic — deterministic.
# ---------------------------------------------------------------------------
_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS)

@query("q50_quality_score", f"""
WITH feat AS (
  SELECT doc_id, source, n_chars,
         LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS n_tokens,
         LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN ({_SW_LIST}))) AS n_stop,
         LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[a-z]', '', 'g')) AS n_alpha,
         LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g')) AS n_digit
  FROM documents)
SELECT doc_id, source, n_tokens,
       ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS avg_token_len,
       ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
       ROUND(CAST(n_alpha AS DOUBLE) / n_chars, 6) AS alpha_ratio,
       ROUND(CAST(n_digit AS DOUBLE) / n_chars, 6) AS digit_ratio,
       (n_tokens >= 10 AND CAST(n_alpha AS DOUBLE) / n_chars > 0.6) AS keep
FROM feat WHERE n_tokens > 0
""")
def q50_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    stops = F.filter(F.split("text", " "), lambda x: x.isin(STOPWORDS))
    n_alpha = F.length("text") - F.length(F.regexp_replace("text", "[a-z]", ""))
    n_digit = F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    feat = d.select(
        "doc_id", "source", "n_chars",
        F.size(toks).alias("n_tokens"), F.size(stops).alias("n_stop"),
        n_alpha.alias("n_alpha"), n_digit.alias("n_digit"))
    return (feat.where(F.col("n_tokens") > 0)
                .select("doc_id", "source", "n_tokens",
                        F.round(F.col("n_chars").cast("double") / F.col("n_tokens"), 6)
                         .alias("avg_token_len"),
                        F.round(F.col("n_stop").cast("double") / F.col("n_tokens"), 6)
                         .alias("stopword_ratio"),
                        F.round(F.col("n_alpha").cast("double") / F.col("n_chars"), 6)
                         .alias("alpha_ratio"),
                        F.round(F.col("n_digit").cast("double") / F.col("n_chars"), 6)
                         .alias("digit_ratio"),
                        ((F.col("n_tokens") >= 10)
                         & (F.col("n_alpha").cast("double") / F.col("n_chars") > 0.6))
                        .alias("keep")))


# ---------------------------------------------------------------------------
# Token counting: whitespace tokens + a BPE-ish regex token count
# (word pieces and single non-space punctuation), aggregated per source.
# ---------------------------------------------------------------------------
@query("q51_token_stats", f"""
WITH per_doc AS (
  SELECT source,
         LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS ws_tokens,
         LEN(REGEXP_EXTRACT_ALL(text, '[a-z0-9]+|[^a-z0-9 ]')) AS bpe_tokens,
         n_chars
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       {sql_davg('ws_tokens')} AS avg_ws_tokens
FROM per_doc GROUP BY source
""")
def q51_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.filter(F.split("text", " "), lambda x: x != ""))
    bpe = F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+|[^a-z0-9 ]"), 0))
    per_doc = d.select("source", ws.alias("ws_tokens"), bpe.alias("bpe_tokens"),
                       "n_chars")
    return (per_doc.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ws_tokens").cast("bigint").alias("total_ws_tokens"),
                 F.sum("bpe_tokens").cast("bigint").alias("total_bpe_tokens"),
                 F.sum("n_chars").cast("bigint").alias("total_chars"),
                 davg(F.col("ws_tokens").cast("double")).alias("avg_ws_tokens")))


# ---------------------------------------------------------------------------
# Document fingerprinting: winnowing. Rolling char 8-gram hashes; keep the
# min hash of every 4-position window; the distinct kept hashes are the
# doc's fingerprints.
# ---------------------------------------------------------------------------
HASH_BASE = 131            # polynomial gram-hash base
HASH_MOD = 1_000_000_007   # prime modulus; h < 2^30, products fit int64

# DuckDB gram hash: the same left-to-right polynomial fold, unrolled
# (ASCII returns INT32 — the first term casts to BIGINT so the fold
# stays in 64-bit the whole way).
_SQL_GRAM_H = "CAST(ASCII(SUBSTR(text, CAST(pos AS INTEGER), 1)) AS BIGINT)"
for _i in range(1, GRAM):
    _SQL_GRAM_H = (f"(({_SQL_GRAM_H}) * {HASH_BASE} + "
                   f"ASCII(SUBSTR(text, CAST(pos+{_i} AS INTEGER), 1))) "
                   f"% {HASH_MOD}")

@query("q52_fingerprint", f"""
WITH grams AS (
  SELECT doc_id, pos, n_pos, {_SQL_GRAM_H} AS h
  FROM (SELECT doc_id, text, LENGTH(text) - {GRAM} + 1 AS n_pos,
               UNNEST(RANGE(1, LENGTH(text) - {GRAM} + 2)) AS pos
        FROM documents)),
winnowed AS (
  SELECT doc_id, pos, n_pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW - 1} FOLLOWING) AS fp
  FROM grams)
SELECT doc_id, COUNT(DISTINCT fp) AS n_fingerprints, MIN(fp) AS min_fp
FROM winnowed WHERE pos <= n_pos - {WINNOW} + 1
GROUP BY doc_id
""")
def q52_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing entirely inside ONE per-document pass: no explode
    (corpus-length row blowup), no window sort, no shuffle at all —
    the plan is scan -> filter -> MapInArrow.

    Gram hash = base-131 polynomial of the char codes mod 1e9+7:
    pure 64-bit integer arithmetic that both engines compute exactly
    (replacing md5 — a per-call MessageDigest + hex compare that
    dominated the runtime; DuckDB lacks xxhash64, so a cheap hash with
    cross-engine parity has to be arithmetic).

    r18 (guide §4.2; VERDICT r17 Next-round #6): the r9 spelling kept
    the whole computation in Catalyst higher-order functions
    (transform/sequence/array_distinct lambdas), which do NOT
    participate in whole-stage codegen — the three middle Projects ran
    interpreted, one lambda invocation per char position (the before
    plan's unstarred Projects; 1.77 s warm for 1.5 MB of text at
    sf0.1).  The same arithmetic now runs as vectorized numpy inside
    one mapInArrow task: codes = the text's UTF-32 codepoints (equal
    to ascii()/UNICODE() per char on every plane), the polynomial
    fold is GRAM-1 whole-array multiply-add-mod passes, the winnow
    minimum is WINNOW-1 np.minimum passes, and the distinct count is
    np.unique — measured 2.9x warm on the same host (1.77 -> 0.61 s
    min-of-warm at sf0.1) and 2.34x at 10x data, identical rows
    (oracle-gated at all three SFs).  Arrow ships only
    (doc_id, text) in and three ints per doc out.

    The per-row arrays are O(len(text)) ints, fine for web-scale
    documents (<= a few MB); a corpus of pathological single-documents
    (GBs of text in one row) would want the exploded window formulation
    instead, at the cost of a corpus-wide shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    # docs shorter than one full winnow window emit no fingerprint rows
    # (same contract as the oracle's pos <= n_pos - WINNOW + 1 filter)
    d = d.where(F.length("text") >= GRAM + WINNOW - 1)

    def fingerprint(batches):
        import numpy as np
        import pyarrow as pa
        for batch in batches:
            doc_ids = batch.column(0)
            texts = batch.column(1)
            n = len(doc_ids)
            n_fp = np.empty(n, dtype=np.int64)
            min_fp = np.empty(n, dtype=np.int64)
            for i in range(n):
                s = texts[i].as_py()
                codes = np.frombuffer(s.encode("utf-32-le"),
                                      dtype=np.uint32).astype(np.int64)
                g = codes.size - (GRAM - 1)
                h = codes[:g].copy()
                for k in range(1, GRAM):
                    h *= HASH_BASE
                    h += codes[k:g + k]
                    h %= HASH_MOD
                w = h[:g - (WINNOW - 1)].copy()
                for k in range(1, WINNOW):
                    np.minimum(w, h[k:g - (WINNOW - 1) + k], out=w)
                n_fp[i] = np.unique(w).size
                min_fp[i] = int(w.min())
            yield pa.RecordBatch.from_arrays(
                [doc_ids, pa.array(n_fp), pa.array(min_fp)],
                ["doc_id", "n_fingerprints", "min_fp"])

    return (d.select("doc_id", "text")
            .mapInArrow(fingerprint,
                        "doc_id long, n_fingerprints long, min_fp long"))


# ---------------------------------------------------------------------------
# q101 — fuzzy dictionary match (entity-resolution shape): match every
# corpus vocabulary token against a probe dictionary by edit distance
# <= 2. The dictionary side is tiny -> broadcast nested loop with a
# length-band prefilter (|len(a) - len(b)| <= 2 is a Levenshtein lower
# bound, pruning most pairs before the O(mn) distance); the corpus side
# reduces to its distinct vocabulary first, so the expensive distance
# runs once per (token, probe), not once per occurrence.
# Levenshtein is integer-exact in both engines — no rounding hazards.
# ---------------------------------------------------------------------------
FUZZY_PROBES = ("custmer", "supplir", "windoww", "vektor", "agg")
FUZZY_MAX_DIST = 2

_SQL_PROBES = " UNION ALL ".join(f"SELECT '{p}' AS probe" for p in FUZZY_PROBES)

@query("q101_fuzzy_match", f"""
WITH vocab AS (
  SELECT DISTINCT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''))
    AS token
  FROM documents),
probes AS ({_SQL_PROBES})
SELECT p.probe, v.token,
       LEVENSHTEIN(p.probe, v.token) AS dist
FROM probes p JOIN vocab v
  ON ABS(LENGTH(p.probe) - LENGTH(v.token)) <= {FUZZY_MAX_DIST}
WHERE LEVENSHTEIN(p.probe, v.token) <= {FUZZY_MAX_DIST}
""")
def q101_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    vocab = (d.select(F.explode(
        F.filter(F.split("text", " "), lambda x: x != "")).alias("token"))
        .distinct())
    probes = spark.createDataFrame([(p,) for p in FUZZY_PROBES], "probe string")
    band = (F.abs(F.length("probe") - F.length("token")) <= FUZZY_MAX_DIST)
    dist = F.levenshtein("probe", "token")
    return (vocab.join(F.broadcast(probes), band)
            .where(dist <= FUZZY_MAX_DIST)
            .select("probe", "token", dist.alias("dist")))


# ---------------------------------------------------------------------------
# q125 — word-concentration metrics: top-word fraction (Gopher's "fraction
# of tokens in the most frequent word" filter, Rae et al. 2021 §A1.1) and
# within-document Shannon word entropy in bits, plus the argmax word
# itself. Complements q79 (which covers duplicate-token/bigram ratios):
# entropy catches low-diversity documents that dup ratios miss (a doc
# cycling 3 words has dup ratio ~1 AND entropy ~1.58; a doc that is 90%
# one word + 10% unique words has LOW dup-bigram but entropy ~0.6).
#
# All inside ONE per-row projection: counts-per-distinct-word as a
# struct array, argmax via array_max (struct ordering — ties break to
# the larger word in BOTH engines), entropy folded over the SORTED count
# array so float summation order is engine-identical. No explode, no
# shuffle. keep-fence compares the ROUNDED value (q117 discipline).
#
# Scale: O(n_words x vocab) per row — bounded for web-scale documents;
# a GB-sized single document would want the exploded groupBy form.
# ---------------------------------------------------------------------------
REP_TOP_WORD_MAX = 0.20      # keep if top word <= 20% of tokens

@query("q125_word_concentration", f"""
WITH w AS (
  SELECT doc_id, source,
         LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS ws
  FROM documents),
m AS (
  SELECT doc_id, source, LEN(ws) AS n_words,
         LIST_SORT(LIST_TRANSFORM(LIST_DISTINCT(ws),
           x -> {{'c': LEN(LIST_FILTER(ws, y -> y = x)), 'w': x}})) AS cnts
  FROM w WHERE LEN(ws) >= 1)
SELECT doc_id, source, n_words,
       (LIST_MAX(cnts)).w AS top_word,
       ROUND(CAST((LIST_MAX(cnts)).c AS DOUBLE) / n_words, 6)
         AS top_word_frac,
       ROUND(LIST_SUM(LIST_TRANSFORM(cnts,
           s -> -(CAST(s.c AS DOUBLE) / n_words)
                * LOG2(CAST(s.c AS DOUBLE) / n_words))), 6) AS word_entropy,
       (ROUND(CAST((LIST_MAX(cnts)).c AS DOUBLE) / n_words, 6)
          <= {REP_TOP_WORD_MAX}) AS keep
FROM m
""")
def q125_word_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ws = F.expr("filter(split(text, ' '), x -> x != '')")
    d = d.select("doc_id", "source", ws.alias("ws")).where(F.size("ws") >= 1)
    d = d.withColumn("cnts", F.expr(
        "array_sort(transform(array_distinct(ws), "
        "x -> struct(size(filter(ws, y -> y = x)) AS c, x AS w)))"))
    n_words = F.size("ws").cast("long")
    top = F.array_max("cnts")
    entropy = F.expr(
        "aggregate(cnts, cast(0 as double), (acc, s) -> acc "
        "- (cast(s.c as double) / size(ws)) "
        "* log2(cast(s.c as double) / size(ws)))")
    frac = F.round(top["c"].cast("double") / n_words, 6)
    return d.select(
        "doc_id", "source", n_words.alias("n_words"),
        top["w"].alias("top_word"),
        frac.alias("top_word_frac"),
        F.round(entropy, 6).alias("word_entropy"),
        (frac <= REP_TOP_WORD_MAX).alias("keep"))


# ---------------------------------------------------------------------------
# q126 — cross-document boilerplate detection: a word 3-gram shingle that
# appears in >= 1% of all documents is "boilerplate" (header/footer/nav
# template text); each document reports what fraction of its distinct
# shingles are boilerplate. The threshold is CORPUS-RELATIVE
# (dfc * 100 >= n_docs, pure integer compare — version-proof), so the
# same query is meaningful at sf0.001 and at 100 TB.
#
# Scale: per-doc shingle sets are built in-array (no duplicate-position
# blowup), exploded once -> groupBy shingle (map-side-combinable count,
# one shuffle on the shingle key). The boilerplate SET is then bounded
# corpus-independently: sum(dfc) = n_docs * avg_shingles_per_doc and
# every boiler shingle has dfc >= n_docs/100, so |boiler| <= 100 *
# avg_shingles_per_doc regardless of corpus size. That bound lets the
# survivors fold into ONE row (collect_list after the filter — the q74/
# q164 one-row-agg pattern, no driver collect) that crossJoins back so
# n_boiler is per-doc array_intersect math. Total: one postings shuffle
# + a 1-row broadcast — no postings-cardinality join fan-out and no
# second shuffle on doc_id (r9; the previous join-back-and-regroup
# spelling was 1.45 s / 4.61 s x1/x10 — the 3.2x was the re-shuffled
# annotate join, not the frequency table).
# ---------------------------------------------------------------------------
BOILER_SH = 3              # shingle width (words)
BOILER_DF_PCT = 1          # boilerplate if df >= this % of all docs

@query("q126_boilerplate_shingles", f"""
WITH w AS (
  SELECT doc_id,
         LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS ws
  FROM documents),
sh AS (
  SELECT doc_id,
         UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
           GENERATE_SERIES(1, LEN(ws) - {BOILER_SH - 1}),
           i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))) AS s
  FROM w WHERE LEN(ws) >= {BOILER_SH}),
nd AS (SELECT COUNT(*) AS n_docs FROM documents),
dfreq AS (SELECT s, COUNT(*) AS dfc FROM sh GROUP BY s)
SELECT sh.doc_id,
       COUNT(*) AS n_shingles,
       COUNT(*) FILTER (dfreq.dfc * {100 // BOILER_DF_PCT} >= nd.n_docs)
         AS n_boiler,
       ROUND(CAST(COUNT(*) FILTER (dfreq.dfc * {100 // BOILER_DF_PCT}
                                   >= nd.n_docs) AS DOUBLE)
             / COUNT(*), 6) AS boiler_ratio
FROM sh JOIN dfreq USING (s) CROSS JOIN nd
GROUP BY sh.doc_id
""")
def q126_boilerplate_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r18 (guide §4.2; VERDICT r17 Next-round #6): the per-doc
    distinct-shingle arrays were built by an interpreted Catalyst
    higher-order chain (array_distinct over transform/slice/concat_ws
    lambdas — no whole-stage codegen, one lambda tree per word
    position), and feeding that projection into the explode->groupBy
    made the dfreq branch alone cost 2.61 s at sf0.1 (measured; the
    same branch over the identical rows from one Arrow task: 0.59 s).
    The shingle construction now runs in ONE mapInArrow task per
    partition — plain Python string joins over the word list, distinct
    via dict.fromkeys — and the rest of the query (one shingle-key
    shuffle + the bounded-boiler broadcast fold, the r9 shape) is
    unchanged.  Rows identical (oracle-gated at all three SFs); docs
    under BOILER_SH words drop inside the task (mapInArrow may change
    cardinality), replacing the old HOF size-filter."""
    d = load_table(spark, sf_dir, "documents")

    def sh_arrow(batches):
        import pyarrow as pa
        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1)
            keep_ids, out = [], []
            for i in range(len(ids)):
                wsl = [x for x in (texts[i].as_py() or "").split(" ") if x]
                if len(wsl) < BOILER_SH:
                    continue
                keep_ids.append(ids[i].as_py())
                out.append(list(dict.fromkeys(
                    " ".join(wsl[j:j + BOILER_SH])
                    for j in range(len(wsl) - (BOILER_SH - 1)))))
            yield pa.RecordBatch.from_arrays(
                [pa.array(keep_ids, type=pa.int64()),
                 pa.array(out, type=pa.list_(pa.string()))],
                ["doc_id", "shs"])

    shs = (d.select("doc_id", "text")
           .mapInArrow(sh_arrow, "doc_id long, shs array<string>"))
    n_docs = d.agg(F.count("*").alias("n_docs"))
    dfreq = (shs.select(F.explode("shs").alias("s"))
             .groupBy("s").agg(F.count("*").alias("dfc")))
    boiler = (dfreq.join(F.broadcast(n_docs))
              .where(F.col("dfc") * (100 // BOILER_DF_PCT)
                     >= F.col("n_docs"))
              .agg(F.collect_list("s").alias("boiler_set")))
    return (shs.join(F.broadcast(boiler))
            .select("doc_id", F.size("shs").alias("n_shingles"),
                    F.size(F.array_intersect("shs", "boiler_set"))
                     .alias("n_boiler"))
            .select("doc_id", "n_shingles", "n_boiler",
                    F.round(F.col("n_boiler").cast("double")
                            / F.col("n_shingles"), 6).alias("boiler_ratio")))


# ---------------------------------------------------------------------------
# q132 — count-min-sketch heavy hitters over the token stream: the
# fixed-memory answer to "top vocabulary right now" on an unbounded
# stream. D=4 hash rows x W=512 buckets of pure bigint counts; a
# token's estimate is the MIN over its 4 bucket sums (CMS guarantee:
# est >= true count, overestimate only). Deterministic hashes (the
# parity-proven char fold + affine rows), integer-only arithmetic —
# the value-hash gate needs no rounding discipline at all.
#
# Scale: the sketch is 4x512 bigints REGARDLESS of corpus size — the
# point of CMS; per-token counts are one map-side-combinable groupBy,
# the bucket sums a second over <=2048 keys, and the probe join
# broadcasts the sketch. Top-K goes through TakeOrderedAndProject
# first, THEN ranks the K survivors (q78 discipline — no global
# window over the vocabulary).
# ---------------------------------------------------------------------------
CMS_D = 4
CMS_W = 512
CMS_TOPK = 15
_CMS_AFFINE = [(2 * ((d * 57_885_161 + 19_937) % (HASH_MOD // 2)) + 1,
                (d * 43_112_609 + 11_213) % HASH_MOD)
               for d in range(CMS_D)]

_SQL_CMS_TOKH = ("LIST_REDUCE(LIST_TRANSFORM(RANGE(LENGTH(token)), "
                 "i -> CAST(ASCII(SUBSTR(token, CAST(i+1 AS INTEGER), 1)) "
                 f"AS BIGINT)), (acc, x) -> (acc * {HASH_BASE} + x) "
                 f"% {HASH_MOD})")

_SQL_CMS_BUCKETS = " UNION ALL ".join(
    f"SELECT token, c, th, {d} AS d, "
    f"((th * {a} + {b}) % {HASH_MOD}) % {CMS_W} AS bucket FROM tc"
    for d, (a, b) in enumerate(_CMS_AFFINE))

@query("q132_cms_heavy_hitters", f"""
WITH tok AS (
  SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS token
  FROM documents),
tc AS (
  SELECT token, COUNT(*) AS c, {_SQL_CMS_TOKH} AS th
  FROM tok GROUP BY token),
probes AS ({_SQL_CMS_BUCKETS}),
cms AS (SELECT d, bucket, SUM(c) AS cell FROM probes GROUP BY d, bucket),
est AS (
  SELECT p.token, MIN(p.c) AS exact_n,
         CAST(MIN(m.cell) AS BIGINT) AS est_n
  FROM probes p JOIN cms m ON m.d = p.d AND m.bucket = p.bucket
  GROUP BY p.token),
topk AS (
  SELECT token, exact_n, est_n FROM est
  ORDER BY est_n DESC, token LIMIT {CMS_TOPK})
SELECT token, exact_n, est_n,
       ROW_NUMBER() OVER (ORDER BY est_n DESC, token) AS rank
FROM topk
""")
def q132_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(
        F.filter(F.split("text", " "), lambda x: x != "")).alias("token"))
    th = F.expr(
        "aggregate(transform(split(token, ''), "
        "c -> cast(ascii(c) as bigint)), 0L, "
        f"(acc, x) -> (acc * {HASH_BASE} + x) % {HASH_MOD})")
    tc = (tok.groupBy("token").agg(F.count("*").alias("c"))
          .withColumn("th", th))
    stack = ", ".join(
        f"{di}, ((th * {a} + {b}) % {HASH_MOD}) % {CMS_W}"
        for di, (a, b) in enumerate(_CMS_AFFINE))
    probes = tc.selectExpr(
        "token", "c", f"stack({CMS_D}, {stack}) AS (d, bucket)")
    cms = probes.groupBy("d", "bucket").agg(F.sum("c").alias("cell"))
    est = (probes.join(F.broadcast(cms), ["d", "bucket"])
           .groupBy("token")
           .agg(F.min("c").alias("exact_n"), F.min("cell").alias("est_n")))
    topk = est.orderBy(F.desc("est_n"), F.asc("token")).limit(CMS_TOPK)
    wr = W.orderBy(F.desc("est_n"), F.asc("token"))
    return topk.withColumn("rank", F.row_number().over(wr))


# ---------------------------------------------------------------------------
# q138 — Zipf slope of the token frequency distribution: fit
# log(freq) ~ a + b*log(rank) over the top-K vocabulary by ordinary
# least squares. Natural corpora sit near b = -1; a flat slope flags
# synthetic/templated text, a cliff flags boilerplate dominance — a
# one-number corpus-health probe next to q122's drift KL.
#
# Version-proof regression: built-in regr_slope would accumulate
# doubles in partition order (hash-unstable), so both engines instead
# freeze each ln() to fixed-point bigint microunits (q122's pattern),
# take exact integer sums over the K rows, and only then do ONE double
# division of two exactly-representable int64s — bit-identical across
# engines, rounded at 6dp.
#
# Scale: the token count is the one corpus-sized aggregation (map-side
# combinable); ranking the top K goes through TakeOrderedAndProject
# (q78 discipline); the regression runs over K=50 rows.
# ---------------------------------------------------------------------------
ZIPF_TOPK = 50

@query("q138_zipf_slope", f"""
WITH tok AS (
  SELECT UNNEST(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '')) AS token
  FROM documents),
tc AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
ranked AS (
  SELECT token, c,
         ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rank
  FROM tc),
topk AS (SELECT * FROM ranked WHERE rank <= {ZIPF_TOPK}),
fp AS (
  SELECT CAST(ROUND(LN(rank) * 1000000) AS BIGINT) AS x,
         CAST(ROUND(LN(c) * 1000000) AS BIGINT) AS y
  FROM topk),
s AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM fp)
SELECT n AS n_ranks,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
       ROUND((CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / n / 1000000.0, 6) AS intercept_ln
FROM s
""")
def q138_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(
        F.filter(F.split("text", " "), lambda x: x != "")).alias("token"))
    tc = tok.groupBy("token").agg(F.count("*").alias("c"))
    ranked = (tc.orderBy(F.desc("c"), F.asc("token")).limit(ZIPF_TOPK)
              .withColumn("rank", F.row_number().over(
                  W.orderBy(F.desc("c"), F.asc("token")))))
    fp = ranked.select(
        F.round(F.log(F.col("rank").cast("double")) * 1_000_000)
            .cast("bigint").alias("x"),
        F.round(F.log(F.col("c").cast("double")) * 1_000_000)
            .cast("bigint").alias("y"))
    s = fp.agg(F.count("*").alias("n"), F.sum("x").alias("sx"),
               F.sum("y").alias("sy"),
               F.sum(F.col("x") * F.col("y")).alias("sxy"),
               F.sum(F.col("x") * F.col("x")).alias("sxx"))
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) \
        .cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) \
        .cast("double")
    slope = num / den
    return s.select(
        F.col("n").alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy").cast("double") - slope
                 * F.col("sx").cast("double"))
                / F.col("n") / 1_000_000.0, 6).alias("intercept_ln"))


# ---------------------------------------------------------------------------
# q150 — cross-document substring matches (the detection layer of
# exact-substring training-data dedup, Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better", via the winnowing
# fingerprint sample of Schleimer et al. 2003 / MOSS): two documents
# sharing a winnowed fingerprint share (up to polynomial-hash collision,
# identical on both engines) an exact GRAM-char substring, and winnowing
# GUARANTEES a shared fingerprint for any common run of at least
# GRAM + WINNOW - 1 chars. Emits pairs sharing >= MIN_SHARED
# fingerprints AND containment (shared / smaller fingerprint set, ppm,
# mod-identity floor division) >= MIN_CONTAIN_PPM — the n_shared floor
# is the cheap pre-sizes-join gate, the containment cut is the signal
# threshold (25%: organic same-template pairs, not stop-phrase noise).
#
# Scale (100 TB): the inverted index is built on the WINNOWED sample —
# ~2/(WINNOW+1) of all gram positions — so postings and the self-join
# shrink ~2.5x versus a full-gram index while keeping a detection
# GUARANTEE (vs the probabilistic minhash family q41/q42). Hot
# fingerprints ARE organic here (template/boilerplate substrings: the
# sf0.1 fixture has one fp in 76% of docs, 92M candidate pairs), so
# the q87 corpus-relative df-cut is PART of the operator: fingerprints
# in more than FP_DF_FRAC of the corpus are boilerplate by definition
# and never enter the join, capping the worst key at
# O(n_docs * FP_DF_FRAC) in both engines. Pair aggregation is map-side
# combinable; the sizes join broadcasts. Same inverted-index shape as
# q44+q87, with a guaranteed sample instead of the full gram set.
#
# Output-size caveat (measured): pair emission is Ω(true near-dup
# pairs) — a corpus replicated r times has ~r^2/2 times the pairs, and
# the x10 sweep (whose char-grams DO collide across replicas) measures
# output 175x / wall-clock 19x, i.e. sublinear PER PAIR. The pair
# frame is the AUDIT view; the scale-safe default for feeding keep-one
# dedup (q55/q97) is q157_winnow_star below — O(postings) star edges
# with the same (stronger, unconditional) same-component guarantee,
# measured 2.2x at the x10 sweep.
# ---------------------------------------------------------------------------
MIN_SHARED = 2
MIN_CONTAIN_PPM = 250_000
FP_DF_FRAC = 0.01   # drop fingerprints present in > 1% of the corpus
WINNOW_TOPK = 8     # q157 pair budget: strongest partners kept per doc

# shared CTE chain (grams -> winnowed sample -> df-cut postings ->
# per-doc sizes -> shared-fp pair counts) used by both the exact pair
# view (q150) and the budgeted variant (q157)
_SQL_WINNOW_SHARED = f"""grams AS (
  SELECT doc_id, pos, n_pos, {_SQL_GRAM_H} AS h
  FROM (SELECT doc_id, text, LENGTH(text) - {GRAM} + 1 AS n_pos,
               UNNEST(RANGE(1, LENGTH(text) - {GRAM} + 2)) AS pos
        FROM documents)),
winnowed AS (
  SELECT doc_id, pos, n_pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {WINNOW - 1} FOLLOWING)
           AS fp
  FROM grams),
allfps AS (
  SELECT DISTINCT doc_id, fp FROM winnowed
  WHERE pos <= n_pos - {WINNOW} + 1),
cut AS (
  SELECT CAST(CEIL({FP_DF_FRAC} * COUNT(*)) AS BIGINT) AS c
  FROM documents),
fps AS (
  SELECT a.doc_id, a.fp FROM allfps a
  JOIN (SELECT fp FROM allfps GROUP BY fp
        HAVING COUNT(*) <= (SELECT c FROM cut)) k USING (fp)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM fps GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
  HAVING COUNT(*) >= {MIN_SHARED})"""


def winnow_fingerprints(d: DataFrame) -> DataFrame:
    """DISTINCT (doc_id, fp) winnowed postings of a (doc_id, text)
    frame, WITHOUT the corpus-relative df-cut (that needs the corpus
    count — `_winnow_postings` applies it; streaming batches skip it
    because the STATIC index side already culled boilerplate
    fingerprints).

    Implementation: Arrow-batched numpy over mapInPandas.  All texts
    of a batch are concatenated into ONE codepoint array (utf-32-le
    decode = vectorized ord(); DuckDB's ASCII() and Spark's ascii()
    agree on codepoints, so oracle parity is exact), the rolling
    polynomial hash and the WINNOW-window minima run as whole-array
    int64 ops, and cross-document grams/windows are masked out by a
    per-position doc index.  Per-doc distinct = np.unique over a
    (doc_idx << 31 | fp) composite (fp < HASH_MOD < 2^30).

    This is the measured fast path, not a style exception: the
    expression twin (`winnow_fingerprints_hof` below — split + ascii
    + higher-order transform/least chain) evaluates ~2M boxed lambda
    calls per MB of text inside Catalyst and measured 4.1 s at sf0.1
    vs 0.8 s here (5x, round 11), exact symmetric-diff parity.  The
    boundary transfers only (doc_id, text) in and the distinct
    (doc_id, fp) rows out, preserves the scan's partitioning (no
    shuffle), and vectorizes per ARROW BATCH, not per document."""
    d = d.where(F.length("text") >= GRAM + WINNOW - 1)

    def gen(batches):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view
        for pdf in batches:
            texts = pdf["text"].tolist()
            dids = pdf["doc_id"].to_numpy()
            keep = [(i, t) for i, t in enumerate(texts)
                    if t is not None and len(t) >= GRAM + WINNOW - 1]
            if not keep:
                continue
            idx = np.array([i for i, _ in keep])
            lens = np.array([len(t) for _, t in keep], dtype=np.int64)
            blob = "".join(t for _, t in keep)
            cp = (np.frombuffer(blob.encode("utf-32-le"), dtype=np.uint32)
                  .astype(np.int64))
            n = cp.shape[0]
            docpos = np.repeat(np.arange(len(keep)), lens)
            ng = n - GRAM + 1
            h = cp[:ng].copy()
            for i in range(1, GRAM):
                h *= HASH_BASE
                h += cp[i:i + ng]
                h %= HASH_MOD
            # a gram is valid iff it lies within one document
            gram_ok = docpos[:ng] == docpos[np.arange(ng) + GRAM - 1]
            nw = ng - WINNOW + 1
            wmin = sliding_window_view(h, WINNOW).min(axis=1)
            # a window is valid iff its first gram starts and its last
            # gram ends inside the same document (then every gram
            # between them does too)
            win_ok = (gram_ok[:nw]
                      & (docpos[:nw]
                         == docpos[np.arange(nw) + GRAM + WINNOW - 2]))
            dsel = docpos[:nw][win_ok]
            key = dsel.astype(np.int64) * (1 << 31) + wmin[win_ok]
            uk = np.unique(key)
            yield pd.DataFrame(
                {"doc_id": dids[idx[(uk >> 31).astype(np.int64)]],
                 "fp": uk & ((1 << 31) - 1)})

    return d.select("doc_id", "text").mapInPandas(
        gen, schema="doc_id long, fp bigint")


def winnow_fingerprints_hof(d: DataFrame) -> DataFrame:
    """JVM-expression twin of winnow_fingerprints (codes -> rolling
    gram hashes -> window minima -> array_distinct inside one
    projection, zero Python boundary).  Kept as the measured
    comparison point — 4.1 s vs the numpy path's 0.8 s at sf0.1
    (round 11; per-character boxed lambda evaluation dominates) — and
    as the fallback if an environment lacks Arrow."""
    d = d.where(F.length("text") >= GRAM + WINNOW - 1)
    codes = F.transform(F.split("text", ""), lambda c: F.ascii(c))
    acc = "cast(element_at(codes, p) as bigint)"
    for i in range(1, GRAM):
        acc = (f"(({acc}) * {HASH_BASE} + element_at(codes, p + {i})) "
               f"% {HASH_MOD}")
    grams = F.expr(
        f"transform(sequence(1, size(codes) - {GRAM - 1}), p -> {acc})")
    winmin = ", ".join(f"element_at(grams, p + {j})" for j in range(WINNOW))
    fps_arr = F.expr(
        f"array_distinct(transform(sequence(1, size(grams) - {WINNOW - 1}), "
        f"p -> least({winmin})))")
    return (d.select("doc_id", codes.alias("codes"))
             .select("doc_id", grams.alias("grams"))
             .select("doc_id", F.explode(fps_arr).alias("fp")))


def _winnow_postings(spark: SparkSession, sf_dir: str,
                     materialize: bool = True,
                     with_hub: bool = False) -> DataFrame:
    """Winnowed postings with the corpus-relative boilerplate df-cut
    applied. ``materialize=True`` (default) eagerly checkpoints —
    right for every MULTI-consumer plan (q150: sizes + both self-join
    sides; q167/q174: sizes + candidates + both verify sides), where
    it is the materialized winnowed index of the corpus built once.
    Single-pass consumers (q157: one window + one agg) MUST pass
    ``materialize=False``: paying a full postings write for a plan
    that reads them once tripled q157's x10 wall-clock when the
    checkpoint first landed unconditionally (r10 sweep: 6.7 s -> 20.4 s
    at x10; re-measured 5.7 s / factor 1.86 after this flag).

    ``with_hub=True`` additionally emits hub = MIN(doc_id) OVER
    (PARTITION BY fp) of the post-cut rows — the star-candidate
    recall key (q167/q174).  It rides the SAME fp exchange as the
    df-cut window (the second Window node sees fp-partitioned,
    fp-sorted input, so Catalyst adds neither an exchange nor a
    sort), saving the separate candidate shuffle the round-10 shape
    paid."""
    allfps = winnow_fingerprints(load_table(spark, sf_dir, "documents"))
    # boilerplate df-cut via ONE window over the postings' own
    # fp-exchange (the q87 one-shuffle pattern); the cut scalar is a
    # one-row broadcast, no driver collect
    cut = (load_table(spark, sf_dir, "documents")
           .agg(F.ceil(FP_DF_FRAC * F.count("*")).alias("c")))
    out = (allfps.withColumn("df", F.count("*").over(W.partitionBy("fp")))
                 .crossJoin(F.broadcast(cut))
                 .where(F.col("df") <= F.col("c")))
    if with_hub:
        out = out.withColumn("hub",
                             F.min("doc_id").over(W.partitionBy("fp")))
        out = out.select("doc_id", "fp", "hub")
    else:
        out = out.select("doc_id", "fp")
    return out.localCheckpoint(eager=True) if materialize else out


def _winnow_shared(fps: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_shared) pair counts over the postings index,
    n_shared >= MIN_SHARED. Map-side-combinable aggregation over the
    fp equi-join; cost is inherent Ω(candidate pairs) — the detection
    guarantee needs every co-occurring pair counted once."""
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    return (a.join(b, "fp")
             .where(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").alias("n_shared"))
             .where(F.col("n_shared") >= MIN_SHARED))


@query("q150_winnow_matches", f"""
WITH {_SQL_WINNOW_SHARED}
SELECT doc_a, doc_b, n_shared, containment_ppm FROM (
  SELECT s.doc_a, s.doc_b, s.n_shared,
         CAST((s.n_shared * 1000000
               - (s.n_shared * 1000000) % LEAST(sa.n, sb.n))
              / LEAST(sa.n, sb.n) AS BIGINT) AS containment_ppm
  FROM shared s
  JOIN sizes sa ON sa.doc_id = s.doc_a
  JOIN sizes sb ON sb.doc_id = s.doc_b)
WHERE containment_ppm >= {MIN_CONTAIN_PPM}
""")
def q150_winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed-fingerprint inverted index -> ALL shared-fingerprint
    pairs (the exact audit view; output is Ω(true dup pairs) — the
    output-bounded default for feeding keep-one dedup is q157).

    The per-document fingerprint set is the same shuffle-free array
    pipeline as q52 (codes -> rolling gram hashes -> window minima ->
    array_distinct, all inside one projection); only the DISTINCT
    (doc_id, fp) postings are exploded and checkpointed once for the
    three consumers (sizes + both join sides) — at scale this IS the
    materialized winnowed index of the corpus."""
    fps = _winnow_postings(spark, sf_dir)
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n"))
    shared = _winnow_shared(fps)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    # DECIMAL(38,0) before *1e6 (the q110 lesson)
    num = F.col("n_shared").cast("decimal(38,0)") * 1_000_000
    den = F.least(F.col("na"), F.col("nb"))
    # per-doc sizes frame: unhinted (see dedup.q44) — AQE decides
    return (shared.join(sa, "doc_a")
                  .join(sb, "doc_b")
                  .select("doc_a", "doc_b", "n_shared",
                          exact_tdiv(num, den).alias("containment_ppm"))
                  .where(F.col("containment_ppm") >= MIN_CONTAIN_PPM))


# ---------------------------------------------------------------------------
# q157 — star-graph substring-link edges: the OUTPUT-BOUNDED default
# that feeds keep-one dedup (q55/q97) at scale. q150's pair emission is
# Ω(true dup pairs): every fingerprint shared by df documents yields a
# df-clique (df^2/2 pairs), so a corpus replicated r times emits ~r^2/2
# the pairs (measured 175x at the x10 sweep) — and NO post-aggregation
# budget can fix that, because the clique is materialized inside the
# self-join before any cap applies (a mutual-top-k variant was measured
# at 26x, worse than the exact view). The scalable shape replaces each
# per-fingerprint CLIQUE with a STAR: every document links to the
# MINIMUM doc_id sharing that fingerprint. Edges are O(postings) — one
# per (doc, fp) at worst, before the (hub, doc) dedup-count — never
# quadratic in document frequency.
#
# Detection guarantee (UNCONDITIONAL, stronger than q150's thresholded
# emission): any two documents sharing one winnowed fingerprint — i.e.
# any common substring of >= GRAM + WINNOW - 1 chars, by the winnowing
# guarantee — both link to that fingerprint's hub, so they land in the
# same connected component of the edge graph. q150 remains the exact
# per-pair audit view (n_shared / containment scores); q157 is the
# clustering feed.
#
# Scale: ONE fp-partitioned window (min over the postings' own
# exchange — the q87 one-shuffle pattern) + one (hub, doc) aggregate.
# Both linear in postings; no join ever fans out.
# ---------------------------------------------------------------------------
@query("q157_winnow_star", f"""
WITH {_SQL_WINNOW_SHARED},
hubbed AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS hub
  FROM fps),
edges AS (
  SELECT hub AS doc_a, doc_id AS doc_b, COUNT(*) AS n_fps
  FROM hubbed WHERE doc_id <> hub
  GROUP BY hub, doc_id)
SELECT doc_a, doc_b, CAST(n_fps AS BIGINT) AS n_fps FROM edges
""")
def q157_winnow_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fingerprint star edges (doc_a = hub = min sharing doc_id,
    doc_b, n_fps = fingerprints linking the two) — the output-bounded
    clustering feed (see block comment). Single-pass plan (one window
    + one agg over the postings), so the index is NOT materialized."""
    fps = _winnow_postings(spark, sf_dir, materialize=False)
    return (fps.withColumn("hub", F.min("doc_id").over(W.partitionBy("fp")))
               .where(F.col("doc_id") != F.col("hub"))
               .select(F.col("hub").alias("doc_a"),
                       F.col("doc_id").alias("doc_b"))
               .groupBy("doc_a", "doc_b")
               .agg(F.count("*").alias("n_fps")))


# ---------------------------------------------------------------------------
# q167 — connected components over VERIFIED q157 star edges: the
# consumer that closes the substring-dedup loop (q157 -> q167 -> q168).
# The raw star graph is the unconditional DETECTION feed — any two docs
# sharing one winnowed fingerprint land in the same raw component — but
# a single shared >= GRAM+WINNOW-1-char substring is far too weak a
# link for keep-one dedup (on this corpus the ungated closure collapses
# 496/500 docs into one blob via chance 11-char matches). So q167 is
# the q57 production shape transplanted to substrings: the star edges
# are the RECALL stage (O(postings) candidates, never a clique), and
# each candidate pair is then VERIFIED with q150's exact criterion
# (true shared-fp count >= MIN_SHARED and containment >= MIN_CONTAIN_PPM,
# computed only for candidate pairs). Components run over the verified
# edges.
#
# Guarantee (documented trade): every candidate pair adjacent in the
# star graph that passes the exact gate is linked. Pairs passing the
# gate but NOT star-adjacent (both members link to a hub that is itself
# not their dup) can be split — measured at sf0.001: 481/500 labels and
# 61 vs 59 multi-member clusters agree with the full q150-pair closure,
# at O(postings) candidates instead of Ω(per-fp cliques). q150 remains
# the exact per-pair audit view.
#
# Same output shape and fixpoint semantics as q55 (min reachable doc_id
# per doc; singletons keep their own id), so the oracle is the same
# recursive-CTE reachability closure over the identically-verified
# edge set.
#
# Scale: candidates are O(postings) by q157's construction; the verify
# join touches |candidates| x per-doc fp sets (q57's verify shape, never
# n^2); propagation iterates ONLY the active subgraph via the q55
# min-label loop — one shuffle-join + one agg per round, O(component
# diameter) rounds, and verified-dup components are shallow.
# ---------------------------------------------------------------------------
_STAR_EDGES = memo.register("star_edges")


def winnow_verified_star_edges(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Verified (doc_a, doc_b) substring-dup star edges — q167's
    recall+verify stages, shared with q174's unified component build.
    Recall: one fp-partitioned window emits distinct (hub, doc) star
    candidates, O(postings). Verify: exact shared-fp counts for
    candidate pairs only (|cand| x fps/doc, never n^2), then the
    MIN_SHARED / containment-ppm cuts. Returns an eagerly-checkpointed
    frame (multiple consumers: both union directions, q174).

    Memoized per (applicationId, sf_dir) — the winnow_component_frame
    precedent (r8): q174 (which unions these edges with the LSH pairs)
    reuses the checkpointed frame instead of re-running the
    recall+verify pipeline.  ``memo.bypass("star_edges")`` skips the
    memo entirely (no read, no write): bench.py wraps q167's own runs
    in it so every benched q167 sample measures the TRUE build cost
    even under min-of-N in one app (the r11 ADVICE — without it, run
    2+ reported the memo-hit path while the ledger claimed a build
    measurement).  q174's bench entry still reuses the frame by
    design; BASELINE.md ledgers that."""
    return _STAR_EDGES.get_or_build(
        (spark.sparkContext.applicationId, sf_dir),
        lambda: _build_star_edges(spark, sf_dir))


def _build_star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    fps = _winnow_postings(spark, sf_dir, with_hub=True)
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n"))
    cand = (fps.where(F.col("doc_id") != F.col("hub"))
               .select(F.col("hub").alias("doc_a"),
                       F.col("doc_id").alias("doc_b"))
               .distinct())
    a = fps.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fps.select(F.col("doc_id").alias("doc_b"), "fp")
    ns = (cand.join(a, "doc_a").join(b, ["doc_b", "fp"])
              .groupBy("doc_a", "doc_b")
              .agg(F.count("*").alias("n_shared"))
              .where(F.col("n_shared") >= MIN_SHARED))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    num = F.col("n_shared").cast("decimal(38,0)") * 1_000_000
    den = F.least(F.col("na"), F.col("nb"))
    return (ns.join(sa, "doc_a").join(sb, "doc_b")
            .where(exact_tdiv(num, den) >= MIN_CONTAIN_PPM)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=True))


@query("q167_winnow_components", f"""
WITH RECURSIVE {_SQL_WINNOW_SHARED},
hubbed AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS hub
  FROM fps),
cand AS (
  SELECT DISTINCT hub AS doc_a, doc_id AS doc_b
  FROM hubbed WHERE doc_id <> hub),
ver AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE CAST((s.n_shared * 1000000
              - (s.n_shared * 1000000) % LEAST(sa.n, sb.n))
             / LEAST(sa.n, sb.n) AS BIGINT) >= {MIN_CONTAIN_PPM}),
edges(src, dst) AS (
  SELECT doc_a, doc_b FROM ver UNION ALL SELECT doc_b, doc_a FROM ver),
reach(doc, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.doc = e.src)
SELECT doc AS doc_id, MIN(r) AS component,
       (doc = MIN(r)) AS is_canonical
FROM reach GROUP BY doc
""")
def q167_winnow_components(spark: SparkSession, sf_dir: str,
                           *, max_rounds: int = 20) -> DataFrame:
    """Min-label propagation over the verified q157 star-edge graph
    (see block comment); reuses dedup.propagate_min_labels.

    NOTE on the oracle: its ``ver`` CTE joins the candidate edges
    against the full ``shared`` pair counts, which DuckDB computes via
    the pair clique — fine for an oracle, but the Spark side computes
    the exact counts ONLY for candidate pairs (the q57 verify shape),
    which is the scalable plan."""
    from .dedup import propagate_min_labels
    pairs = winnow_verified_star_edges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst"))))
    # iterate only the active subgraph; singletons never enter the
    # loop; identity seeds -> propagate's fast path (labels = reps)
    labels = propagate_min_labels(None, edges, max_rounds=max_rounds)
    full = (docs.join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", F.col("doc_id"))
                     .alias("component")))
    return full.select(
        "doc_id", "component",
        (F.col("doc_id") == F.col("component")).alias("is_canonical"))


# ---------------------------------------------------------------------------
# q168 — keep-one canonical view over the substring clusters: q97's
# quality-ranked winner materialization applied to q167's components.
# Together q157 -> q167 -> q168 is the full substring-dedup pipeline:
# O(postings) edge feed -> cluster labels -> one surviving doc per
# cluster, each stage oracle-gated.
# ---------------------------------------------------------------------------
@query("q168_winnow_canonical", """
WITH comp AS ({Q167}),
{KEEP_ONE}""")
def q168_winnow_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-quality member per substring-dup component (shared
    dedup.keep_one_by_quality ranking: alpha_ppm desc, n_tokens desc,
    doc_id)."""
    from .dedup import keep_one_by_quality
    comp = winnow_component_frame(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").where(F.length("text") > 0)
    return keep_one_by_quality(comp, d)


_WINNOW_COMPONENTS = memo.register("winnow_components")


def winnow_component_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized, eagerly-checkpointed (doc_id, component) labels from
    q167 for downstream consumers (q168's keep-one) — the same
    materialize-once semantics as dedup.component_frame; q167's own
    bench entry keeps measuring the true build cost."""
    return _WINNOW_COMPONENTS.get_or_build(
        (spark.sparkContext.applicationId, sf_dir),
        lambda: (q167_winnow_components(spark, sf_dir)
                 .select("doc_id", "component")
                 .localCheckpoint(eager=True)))


def _fill_q168_oracle() -> None:
    from .dedup import SQL_KEEP_ONE_TAIL
    ORACLES["q168_winnow_canonical"] = (
        ORACLES["q168_winnow_canonical"]
        .replace("{Q167}", ORACLES["q167_winnow_components"])
        .replace("{KEEP_ONE}", SQL_KEEP_ONE_TAIL))


_fill_q168_oracle()


# ---------------------------------------------------------------------------
# q169 — HyperLogLog distinct-gram cardinality per source, from
# scratch and hash-gated: the cardinality member of the sketch family
# (CMS q132 counts frequencies, Bloom bands membership, bottom-k q165
# containment — HLL counts DISTINCTs in fixed memory). Spark's native
# approx_count_distinct (q38) stays rows-only because its sketch
# internals are engine-private; this operator derives the registers
# from the parity-proven polynomial folds so BOTH engines compute
# bit-identical register tables, estimates, and error — the full value
# gate, not a tolerance check. The counted stream is the CONTAM_GRAM
# token-gram hashes (curation.gram_array — distinct 5-gram contexts
# per source, the vocabulary-diversity read a mixture designer wants;
# thousands per source at bench SFs, so the sketch operates in its
# real regime rather than at toy cardinalities).
#
# Construction (Flajolet et al., HLL): gram hash gh -> one affine
# transform picks the bucket (gh*a1+b1 mod HM mod 512), a second
# supplies the rho bits (w = gh*a2+b2 mod HM < 2^30;
# rho = 31 - LENGTH(BIN(w)) = leading zeros of w in 30-bit width + 1;
# w = 0 folds into rho 30 on both engines — harmless at 1e-9
# probability). Registers are MAX(rho) per (source, bucket): the one
# aggregation in the op, map-side combinable, output bounded by
# |sources| x 512 REGARDLESS of corpus size. Merge across partitions,
# batches, or sources is elementwise MAX — idempotent, associative,
# commutative — which the '__all__' row proves in-query by merging the
# per-source register sets into the global estimate.
#
# Exactness discipline — no floats anywhere:
# * the harmonic denominator is S = sum(2^(31-rho)) + n_zero * 2^31
#   (exact bigint, <= 512 * 2^31 < 2^40); the raw estimate
#   alpha_512 * 512^2 * 2^31 / S is one exact_tdiv of the precomputed
#   21-digit integer numerator (DECIMAL(38,0) on Spark, HUGEINT on
#   DuckDB; quotient < 2^51 so the DuckDB rounding cast is exact per
#   the _idiv contract);
# * the small-range linear-counting correction (raw <= 2.5m and
#   empty registers exist -> m*ln(m/V)) would put ln() inside the
#   value gate — instead V has only 512 possible values, so the
#   corrected estimates are a 512-entry INTEGER TABLE precomputed once
#   in this module and embedded as the same array literal in both
#   engines' plans. element_at/[] by V — zero libm calls at query
#   time, bit-identical by construction.
# * err_ppm against the exact distinct (the q142 est-vs-exact QA
#   pattern) reads the accuracy directly.
#
# The 30-bit hash bounds the countable range at ~2^30 distincts per
# source; past that, widen to two independent 30-bit folds (the same
# widening CMS would need). Registers themselves stay 512 x 6 bits.
#
# Scale: one scan; probes are per-row integer projections; the
# register aggregation is the only sketch-side shuffle and its output
# cardinality is fixed; everything after runs on <= |sources|+1 rows.
# This is the 100 TB "distinct grams/urls per source" answer that
# exact COUNT(DISTINCT) — a corpus-wide shuffle of every distinct
# value — cannot be. (The exact side HERE is the QA yardstick the
# bench SFs can afford, kept so the gate hash-checks the estimate
# against truth.)
# ---------------------------------------------------------------------------
import math as _math

HLL_M = 512                 # registers per source (2^9)
_HLL_A1, _HLL_B1 = 479_001_599, 199          # bucket affine (primes)
_HLL_A2, _HLL_B2 = 87_178_291, 32_452_843    # rho-bits affine
# round(0.7213/(1 + 1.079/512) * 1e6) * 512^2 * 2^31 — exact integer
_HLL_NUMER = "405201806323452215296"         # alpha_ppm * m^2 * 2^31
_HLL_DEN_PPM = 1_000_000
# linear-counting table: lc[V] = round(m * ln(m / V)), V = 1..512 —
# the only place ln() appears, evaluated ONCE here and shipped to both
# engines as the same integer literal array
_HLL_LC = [round(HLL_M * _math.log(HLL_M / v)) for v in range(1, HLL_M + 1)]
_HLL_LC_SPARK = "array(" + ", ".join(f"{v}L" for v in _HLL_LC) + ")"
_HLL_LC_SQL = "[" + ", ".join(str(v) for v in _HLL_LC) + "]"


def hll_probes(docs: DataFrame) -> DataFrame:
    """(source, bucket, rho) for every distinct-in-doc gram — per-row
    integer projections over curation.gram_array (no shuffle). Shared
    by batch q169 and the streaming register gate."""
    from .curation import gram_array
    g = gram_array(docs, "source").select(
        "source", F.explode("ghs").alias("gh"))
    # NOTE (known, documented bias): w is uniform over [0, HASH_MOD) =
    # [0, 1e9+7), not the exact power-of-two domain [0, 2^30) that
    # rho = 31 - bitlen(w) assumes, so P(rho = 1) ≈ 1 - 2^29/HASH_MOD
    # ≈ 0.463 instead of 0.5 (deeper rho levels are near-exact). The
    # effect is a small systematic underestimate in raw_est that the
    # err_ppm QA column exposes; engine parity is unaffected because
    # oracle and Spark share the identical integer math. Kept as-is
    # deliberately: folding into an exact 2^30 domain would need a
    # wider intermediate hash on BOTH engines for no parity gain.
    w = (F.col("gh") * _HLL_A2 + _HLL_B2) % HASH_MOD
    return g.select(
        "source",
        (((F.col("gh") * _HLL_A1 + _HLL_B1) % HASH_MOD) % HLL_M)
        .alias("bucket"),
        (F.lit(31) - F.length(F.bin(w))).alias("rho"))


def hll_registers(probes: DataFrame) -> DataFrame:
    """MAX(rho) per (source, bucket) — the bounded sketch state."""
    return probes.groupBy("source", "bucket").agg(F.max("rho").alias("rho"))


def merge_hll_registers(regs: DataFrame) -> DataFrame:
    """Merge register partials (any partitioning of the input stream):
    elementwise MAX — the HLL merge semiring."""
    return regs.groupBy("source", "bucket").agg(F.max("rho").alias("rho"))


def hll_estimates(regs: DataFrame) -> DataFrame:
    """(source, m, n_present, n_zero, reg_sum, raw_est, hll_est,
    method) from a merged register table. Integer-only: reg_sum is the
    2^31-scaled harmonic denominator, the raw estimate one exact
    decimal division, the small-range correction a table lookup."""
    per = regs.groupBy("source").agg(
        F.count("*").alias("n_present"),
        F.sum(F.expr("shiftleft(1L, cast(31 - rho as int))"))
         .alias("s_present"))
    n_zero = F.lit(HLL_M) - F.col("n_present")
    reg_sum = (F.col("s_present")
               + n_zero.cast("long") * F.lit(1 << 31)).alias("reg_sum")
    out = per.select("source", F.lit(HLL_M).alias("m"),
                     "n_present", n_zero.alias("n_zero"), reg_sum)
    raw = exact_tdiv(F.lit(_HLL_NUMER).cast("decimal(38,0)"),
                     F.col("reg_sum") * _HLL_DEN_PPM)
    out = out.withColumn("raw_est", raw)
    lc_applies = ((F.col("n_zero") > 0)
                  & (F.col("raw_est") * 2 <= 5 * HLL_M))
    lc_val = F.expr(f"element_at({_HLL_LC_SPARK}, cast(n_zero as int))")
    return out.select(
        "*",
        F.when(lc_applies, lc_val).otherwise(F.col("raw_est"))
         .alias("hll_est"),
        F.when(lc_applies, F.lit("linear_counting")).otherwise(F.lit("raw"))
         .alias("method"))


_SQL_HLL_IDIV = "CAST(({n} - ({n}) % ({d})) / ({d}) AS BIGINT)"


def _sql_hll_grams() -> str:
    """DuckDB twin of hll_probes' gram stream, carrying source."""
    from .curation import CONTAM_GRAM, _SQL_TOKH
    from .dedup import SB
    return f"""
SELECT source, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
         RANGE(LEN(th) - {CONTAM_GRAM - 1}),
         i -> ((((th[i+1] * {SB} + th[i+2]) % {HASH_MOD} * {SB} + th[i+3])
                % {HASH_MOD} * {SB} + th[i+4]) % {HASH_MOD} * {SB} + th[i+5])
              % {HASH_MOD}))) AS gh
FROM (SELECT source, {_SQL_TOKH} AS th
      FROM (SELECT source,
                   LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> '') AS toks
            FROM documents)
      WHERE LEN(toks) >= {CONTAM_GRAM})
"""


@query("q169_hll_distinct")
def q169_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    regs = hll_registers(hll_probes(d))
    gregs = merge_hll_registers(regs.withColumn("source", F.lit("__all__")))
    est = hll_estimates(regs.unionByName(gregs))
    # exact baseline over the SAME gh stream the sketch sees (q142
    # est-vs-exact QA discipline); the exact distinct is the expensive
    # path the sketch replaces — here it is the yardstick, not the
    # product
    from .curation import gram_array
    ghs = (gram_array(d, "source")
           .select("source", F.explode("ghs").alias("gh")))
    ex = (ghs.groupBy("source")
          .agg(F.countDistinct("gh").alias("exact_distinct"))
          .unionByName(ghs.agg(F.countDistinct("gh").alias("exact_distinct"))
                       .select(F.lit("__all__").alias("source"),
                               "exact_distinct")))
    err = exact_tdiv(F.abs(F.col("hll_est") - F.col("exact_distinct"))
                     * 1_000_000, F.col("exact_distinct"))
    return (est.join(ex, "source")
            .select("source", "m", "n_present", "n_zero", "reg_sum",
                    "raw_est", "hll_est", "method", "exact_distinct",
                    err.alias("err_ppm")))


def _fill_q169_oracle() -> None:
    ORACLES["q169_hll_distinct"] = f"""
WITH grams AS ({_sql_hll_grams()}),
pr AS (
  SELECT source,
         ((gh * {_HLL_A1} + {_HLL_B1}) % {HASH_MOD}) % {HLL_M} AS bucket,
         31 - LENGTH(BIN((gh * {_HLL_A2} + {_HLL_B2}) % {HASH_MOD})) AS rho
  FROM grams),
regs AS (SELECT source, bucket, MAX(rho) AS rho FROM pr
         GROUP BY source, bucket),
allregs AS (
  SELECT * FROM regs
  UNION ALL
  SELECT '__all__' AS source, bucket, MAX(rho) AS rho FROM regs
  GROUP BY bucket),
per AS (
  SELECT source, COUNT(*) AS n_present,
         SUM(1::BIGINT << CAST(31 - rho AS INTEGER)) AS s_present
  FROM allregs GROUP BY source),
hll AS (
  SELECT source, {HLL_M} AS m, CAST(n_present AS BIGINT) AS n_present,
         CAST({HLL_M} - n_present AS BIGINT) AS n_zero,
         CAST(s_present + ({HLL_M} - n_present) * (1::BIGINT << 31)
              AS BIGINT) AS reg_sum
  FROM per),
est AS (
  SELECT source, m, n_present, n_zero, reg_sum,
         {_SQL_HLL_IDIV.format(n=_HLL_NUMER,
                               d=f"reg_sum * {_HLL_DEN_PPM}")} AS raw_est
  FROM hll),
corr AS (
  SELECT source, m, n_present, n_zero, reg_sum, raw_est,
         CASE WHEN n_zero > 0 AND raw_est * 2 <= 5 * {HLL_M}
              THEN CAST(({_HLL_LC_SQL})[CAST(n_zero AS INTEGER)] AS BIGINT)
              ELSE raw_est END AS hll_est,
         CASE WHEN n_zero > 0 AND raw_est * 2 <= 5 * {HLL_M}
              THEN 'linear_counting' ELSE 'raw' END AS method
  FROM est),
ex AS (
  SELECT source, COUNT(DISTINCT gh) AS exact_distinct FROM grams
  GROUP BY source
  UNION ALL
  SELECT '__all__', COUNT(DISTINCT gh) FROM grams)
SELECT c.source, m, n_present, n_zero, reg_sum, raw_est, hll_est, method,
       CAST(exact_distinct AS BIGINT) AS exact_distinct,
       {_SQL_HLL_IDIV.format(n="ABS(hll_est - exact_distinct) * 1000000",
                             d="exact_distinct")} AS err_ppm
FROM corr c JOIN ex USING (source)
"""


_fill_q169_oracle()


# ---------------------------------------------------------------------------
# q170 — KMV source-overlap matrix: estimated distinct-gram Jaccard
# between every pair of sources from bottom-k (KMV / k-minimum-values)
# sketches, with the exact overlap as the QA yardstick. The corpus-
# design read before mixing sources (q164's weights, q122's drift KL):
# "how much of source A's vocabulary is also B's" — pairwise across
# all sources, from sketches whose size is FIXED (k hashes per source)
# no matter how large the corpus grows. Same sketch family as q165's
# bottom-k containment, upgraded from doc-vs-benchmark to
# source-vs-source with the standard KMV Jaccard estimator:
# est_J = |A ∩ B ∩ M_k| / k_used, where M_k is the k smallest of
# A ∪ B and k_used = min(k, |A ∪ B|) (Beyer et al., "On synopses for
# distinct-value estimation under multiset operations").
#
# Determinism: the hash IS the sampling order (bottom-k of the
# parity-proven gram fold), so sketches, merged sketches, estimator
# counts, and ppm divisions are all integers — bit-identical across
# engines, no rounding discipline needed.
#
# Scale: the sketch build is the ONLY corpus-sized stage, and the
# naive spelling (one window per source) would put an entire source's
# postings in one task — a skew bomb at 100 TB. Spelled instead as
# two-level bottom-k: rank within (source, gh % KMV_SALTS) salted
# sub-partitions, keep <= k per sub-partition, then rank the
# KMV_SALTS * k survivors per source. Exact-equivalent (the global
# k-minimum set is contained in the union of per-salt k-minimum
# sets) and every window partition is bounded. After that: |sources|
# rows of k-arrays, |sources|^2/2 pairs of pure array math — driver-
# free, broadcast-free. The EXACT side (a postings self-join on gh
# with per-gh fan-out bounded by |sources|^2) is affordable because
# sources are bounded; it is the yardstick, the sketch is the product.
# ---------------------------------------------------------------------------
KMV_K = 256          # sketch size (hashes kept per source)
KMV_SALTS = 32       # first-level sub-partitions per source


def kmv_sketch_arrays(docs: DataFrame) -> DataFrame:
    """(source, sk[]) — the bottom-KMV_K distinct-gram sketch per
    source via the two-level bottom-k. Shared by batch q170 and the
    streaming KMV gate (the sketch is the bounded state; the exact
    columns are batch-only QA)."""
    from .curation import gram_array
    ds = (gram_array(docs, "source")
          .select("source", F.explode("ghs").alias("gh"))
          .distinct())
    w1 = W.partitionBy("source", F.col("gh") % KMV_SALTS).orderBy("gh")
    w2 = W.partitionBy("source").orderBy("gh")
    lvl1 = (ds.withColumn("rn", F.row_number().over(w1))
            .where(F.col("rn") <= KMV_K).drop("rn"))
    return (lvl1.withColumn("rn", F.row_number().over(w2))
            .where(F.col("rn") <= KMV_K)
            .groupBy("source")
            .agg(F.array_sort(F.collect_list("gh")).alias("sk")))


def merge_kmv_sketches(parts: DataFrame) -> DataFrame:
    """Merge per-batch sketch partials: k smallest of the DISTINCT
    union per source — the min-k semiring (associative, commutative,
    idempotent like the HLL MAX merge; a duplicated partial changes
    nothing). flatten -> array_distinct -> array_sort -> slice, all
    per-source array math over |sources| rows."""
    return (parts.groupBy("source")
            .agg(F.slice(F.array_sort(F.array_distinct(
                F.flatten(F.collect_list("sk")))), 1, KMV_K).alias("sk")))


def kmv_overlap_estimates(sketches: DataFrame) -> DataFrame:
    """(source_a, source_b, k_used, k_shared, est_j_ppm) for every
    source pair from a (source, sk[]) frame — the estimator half of
    q170, shared with the streaming gate's read side."""
    a = sketches.select(F.col("source").alias("source_a"),
                        F.col("sk").alias("ska"))
    b = sketches.select(F.col("source").alias("source_b"),
                        F.col("sk").alias("skb"))
    pairs = (a.join(b, F.col("source_a") < F.col("source_b"))
             .withColumn("mk", F.slice(
                 F.array_sort(F.array_union("ska", "skb")), 1, KMV_K)))
    k_used = F.size("mk").cast("bigint")
    k_shared = F.size(F.array_intersect(
        "mk", F.array_intersect("ska", "skb"))).cast("bigint")
    return pairs.select(
        "source_a", "source_b",
        k_used.alias("k_used"), k_shared.alias("k_shared"),
        exact_tdiv(k_shared * 1_000_000, k_used).alias("est_j_ppm"))


def kmv_cardinality(sketches: DataFrame) -> DataFrame:
    """(source, k, kth_min, d_est) — the KMV distinct-count estimate
    (k-1)/U(k) with U(k) = kth smallest hash / HASH_MOD, spelled as
    one integer division: d_est = (k-1) * HASH_MOD div kth_min. A
    NON-FULL sketch (|sk| < KMV_K) saw every distinct hash, so the
    exact count |sk| is returned instead of the noisy estimator —
    standard KMV small-cardinality regime. The state-only cardinality
    read the streaming gate can serve without any exact-distinct state
    (the HLL gate's q169 sibling from a different sketch)."""
    k = F.size("sk").cast("bigint")
    kth = F.element_at("sk", F.size("sk")).cast("bigint")
    return sketches.select(
        "source", k.alias("k"), kth.alias("kth_min"),
        F.when(k < KMV_K, k)
         .otherwise(exact_tdiv((k - 1) * HASH_MOD, kth))
         .alias("d_est"))


@query("q170_source_overlap_kmv", f"""
WITH grams AS ({{GRAMS}}),
ds AS (SELECT DISTINCT source, gh FROM grams),
rk AS (
  SELECT source, gh,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY gh) AS rn
  FROM ds),
sk AS (
  SELECT source, LIST_SORT(LIST(gh)) AS sk
  FROM rk WHERE rn <= {KMV_K} GROUP BY source),
sizes AS (SELECT source, COUNT(*) AS d_exact FROM ds GROUP BY source),
sketches AS (SELECT s.source, sk, d_exact FROM sk s
             JOIN sizes USING (source)),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.sk AS ska, b.sk AS skb, a.d_exact AS da, b.d_exact AS db,
         (LIST_SORT(LIST_DISTINCT(a.sk || b.sk)))[1:{KMV_K}] AS mk
  FROM sketches a JOIN sketches b ON a.source < b.source),
est AS (
  SELECT source_a, source_b, da, db,
         CAST(LEN(mk) AS BIGINT) AS k_used,
         CAST(LEN(LIST_FILTER(mk, x -> LIST_CONTAINS(ska, x)
                                   AND LIST_CONTAINS(skb, x)))
              AS BIGINT) AS k_shared
  FROM pairs),
ex AS (
  SELECT a.source AS source_a, b.source AS source_b,
         COUNT(*) AS exact_inter
  FROM ds a JOIN ds b ON a.gh = b.gh AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT e.source_a, e.source_b, k_used, k_shared,
       CAST((k_shared * 1000000 - k_shared * 1000000 % k_used) / k_used
            AS BIGINT) AS est_j_ppm,
       CAST(COALESCE(exact_inter, 0) AS BIGINT) AS exact_inter,
       CAST(da + db - COALESCE(exact_inter, 0) AS BIGINT) AS exact_union,
       CAST((COALESCE(exact_inter, 0) * 1000000
             - COALESCE(exact_inter, 0) * 1000000
               % (da + db - COALESCE(exact_inter, 0)))
            / (da + db - COALESCE(exact_inter, 0)) AS BIGINT) AS exact_j_ppm
FROM est e LEFT JOIN ex ON e.source_a = ex.source_a
                       AND e.source_b = ex.source_b
""")
def q170_source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import gram_array
    d = load_table(spark, sf_dir, "documents")
    est = kmv_overlap_estimates(kmv_sketch_arrays(d))
    ds = (gram_array(d, "source")
          .select("source", F.explode("ghs").alias("gh")).distinct())
    sizes = ds.groupBy("source").agg(F.count("*").alias("d_exact"))
    est = (est.join(sizes.select(F.col("source").alias("source_a"),
                                 F.col("d_exact").alias("da")), "source_a")
           .join(sizes.select(F.col("source").alias("source_b"),
                              F.col("d_exact").alias("db")), "source_b"))
    ex = (ds.select(F.col("source").alias("source_a"), "gh")
          .join(ds.select(F.col("source").alias("source_b"), "gh"), "gh")
          .where(F.col("source_a") < F.col("source_b"))
          .groupBy("source_a", "source_b")
          .agg(F.count("*").alias("exact_inter")))
    j = est.join(ex, ["source_a", "source_b"], "left")
    inter0 = F.coalesce(F.col("exact_inter"), F.lit(0)).cast("bigint")
    uni = F.col("da") + F.col("db") - inter0
    return j.select(
        "source_a", "source_b", "k_used", "k_shared", "est_j_ppm",
        inter0.alias("exact_inter"),
        uni.cast("bigint").alias("exact_union"),
        exact_tdiv(inter0 * 1_000_000, uni).alias("exact_j_ppm"))


def _fill_q170_oracle() -> None:
    ORACLES["q170_source_overlap_kmv"] = (
        ORACLES["q170_source_overlap_kmv"]
        .replace("{GRAMS}", _sql_hll_grams()))


_fill_q170_oracle()


# ---------------------------------------------------------------------------
# q174 — unified dedup components: connected components over the UNION
# of the two verified edge families the engine produces — q57's
# jaccard-verified LSH near-dup pairs and q167's containment-verified
# substring star edges. A real curation pipeline wants ONE cluster set
# ("these docs are duplicates, by either evidence"), not two parallel
# partitions; this is that set, feeding the same keep-one ranking the
# q55/q167 families already use.
#
# Scale: both edge feeds are the already-audited O(postings)-bounded
# builders (q57 verify-only-candidates, q167 star recall + candidate
# verify); the union is |edges_a| + |edges_b| rows; propagation is the
# pointer-doubled O(log diameter) loop over the ACTIVE subgraph only.
# Nothing here introduces a new corpus-sized shuffle.
#
# Oracle: one recursive-CTE reachability closure over the SQL union of
# the two engines' edge CTEs (q57's verified filter spelled inline with
# lsh_-prefixed names to avoid colliding with the winnow chain's
# `sizes`).
# ---------------------------------------------------------------------------
def _q174_oracle() -> str:
    from .dedup import _CANDIDATES_SQL, SQL_SHINGLE_HASHES
    return f"""
WITH RECURSIVE
{_CANDIDATES_SQL},
lsh_shs AS (SELECT DISTINCT doc_id, sh FROM ({SQL_SHINGLE_HASHES})),
lsh_sizes AS (SELECT doc_id, COUNT(*) AS n FROM lsh_shs GROUP BY doc_id),
lsh_inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS i
  FROM pairs p
  JOIN lsh_shs a ON a.doc_id = p.doc_a
  JOIN lsh_shs b ON b.doc_id = p.doc_b AND b.sh = a.sh
  GROUP BY p.doc_a, p.doc_b),
lsh_ver AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs p
  JOIN lsh_inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
  JOIN lsh_sizes sa ON sa.doc_id = p.doc_a
  JOIN lsh_sizes sb ON sb.doc_id = p.doc_b
  WHERE i.i >= 1
    AND CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= 0.05),
{_SQL_WINNOW_SHARED},
hubbed AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY fp) AS hub
  FROM fps),
wcand AS (
  SELECT DISTINCT hub AS doc_a, doc_id AS doc_b
  FROM hubbed WHERE doc_id <> hub),
wver AS (
  SELECT c.doc_a, c.doc_b
  FROM wcand c
  JOIN shared s ON s.doc_a = c.doc_a AND s.doc_b = c.doc_b
  JOIN sizes sa ON sa.doc_id = c.doc_a
  JOIN sizes sb ON sb.doc_id = c.doc_b
  WHERE CAST((s.n_shared * 1000000
              - (s.n_shared * 1000000) % LEAST(sa.n, sb.n))
             / LEAST(sa.n, sb.n) AS BIGINT) >= {MIN_CONTAIN_PPM}),
uni AS (SELECT doc_a, doc_b FROM lsh_ver
        UNION SELECT doc_a, doc_b FROM wver),
edges(src, dst) AS (
  SELECT doc_a, doc_b FROM uni UNION ALL SELECT doc_b, doc_a FROM uni),
reach(doc, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON reach.doc = e.src)
SELECT doc AS doc_id, MIN(r) AS component,
       (doc = MIN(r)) AS is_canonical
FROM reach GROUP BY doc
"""


@query("q174_unified_components", "{Q174}")
def q174_unified_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Components over verified-LSH ∪ verified-star edges (see block
    comment); same output contract as q55/q167 so the existing
    keep-one view consumes it unchanged."""
    from .dedup import propagate_min_labels, q57_lsh_verified_pairs
    lsh = (q57_lsh_verified_pairs(spark, sf_dir)
           .where(F.col("verified")).select("doc_a", "doc_b"))
    star = winnow_verified_star_edges(spark, sf_dir)
    uni = lsh.unionByName(star)   # duplicates are harmless to a fixpoint
    edges = (uni.select(F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("dst"))
             .unionByName(uni.select(F.col("doc_b").alias("src"),
                                     F.col("doc_a").alias("dst"))))
    labels = propagate_min_labels(None, edges)  # identity-seed fast path
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    full = (docs.join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", F.col("doc_id"))
                     .alias("component")))
    return full.select(
        "doc_id", "component",
        (F.col("doc_id") == F.col("component")).alias("is_canonical"))


def _fill_q174_oracle() -> None:
    ORACLES["q174_unified_components"] = _q174_oracle()


_fill_q174_oracle()
