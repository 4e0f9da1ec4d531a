"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` /
``oracle_sql()`` enumerate every implemented operator (SURVEY.md §2) with
DuckDB oracle twins where SQL-expressible. Implementations live in
``oanda_stream_processor_spark.operators.*``; this module only aggregates.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Unconditional imports: a broken module must fail loudly here, not silently
# drop its whole query family from the driver's correctness run.
from oanda_stream_processor_spark.operators import (
    asof,
    behavior,
    curation,
    dedup,
    extras,
    increment,
    llmprep,
    multimodal,
    relational,
    retrieval,
    scalar,
    similarity,
    stats,
    textops,
    udfs,
)
from oanda_stream_processor_spark.operators import ticks as tick_queries

_MODULES = [
    relational,
    scalar,
    asof,
    dedup,
    similarity,
    textops,
    multimodal,
    tick_queries,
    udfs,
    extras,
    increment,
    stats,
    llmprep,
    curation,
    behavior,
    retrieval,
]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    return relational.q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        out.update(m.QUERIES)
    return out


# Registry entries whose CONSTRUCTION runs Spark jobs — i.e. calling
# queries()[name](spark, sf) is NOT purely lazy (r13 verdict, Next-round
# #6: a harness that builds-but-defers all frames must not be surprised
# by hidden jobs).  Four causes, all deliberate:
#   * plan-gate probes: a bounded (~2k-doc) sampled statistic picks the
#     physical plan before the frame exists (q178/q183/q189/q194
#     MaxScore plan gate; q98/q136/q142/q166 calibration reads).
#     r17: the probe's route is memoized per corpus fingerprint
#     (retrieval._gate_memo_key — input-file set), and all four
#     queries read the one plan gate, so only the FIRST of them built
#     over a corpus pays it; the other three still belong in this set
#     because the sf0.001 fixture routes 'term', whose branch eagerly
#     localCheckpoints its postings frames at build (a flat-routed
#     corpus would build them lazily after the warmup — the memo-off
#     profile is unchanged either way);
#   * eager localCheckpoints: multi-consumer frames (postings indexes,
#     star edges, ANN codebooks) materialize once at build (q42/q44/
#     q55-family, q87/q95, ANN q56/q88/q92/q128/q147/q148/q156);
#   * driver-side iterative loops: star contraction / power iteration /
#     BPE merges run their rounds at build time (q55/q90/q146/q151/
#     q155/q158/q160/q161/q167/q174, q159, q99, q135/q139/q152);
#   * build-once memos: q185 materializes the shared graded frame AND
#     the quality_corpus_frames trio — including the materialized
#     positional postings, the shared postings checkpoint and the
#     BM25 pool (one-scan pipeline: token_postings checkpoint ->
#     corpus_term_frames_memo/bm25_pool_memo, r15) — on FIRST build
#     per (app, sf_dir); q186 is then lazy; q187 reads the warm pool
#     as its pass 1 but stays eager via its OWN result memo (the
#     TOP_K-bounded PRF ranking, checkpointed so q192 grades an
#     already-computed system frame); q191/q192 read the warm trio
#     but stay eager via their own nrel/idcg checkpoints;
#     q127/q159/q168 build eagerly on first touch of their memoized
#     inputs and keep some eager work of their own past the memo.
# The set is the FIRST-build profile in registry-sorted order — the
# production profile of a process that builds the whole registry;
# tests/test_eager_registry.py sweeps exactly that and pins this set.
EAGER_BUILD_QUERIES = frozenset({
    "q127_hard_negatives", "q128_ann_pq", "q135_temporal_split",
    "q136_bloom_prefilter", "q139_semantic_dedup",
    "q142_minhash_calibration", "q146_graph_triangles",
    "q147_ann_ivf_pq", "q148_ann_ivf_multiprobe", "q150_winnow_matches",
    "q151_pca_power", "q152_dsir_importance", "q155_bpe_merges",
    "q156_ann_recall_curve", "q158_bpe_encode", "q159_split_leakage",
    "q160_incremental_components", "q161_component_merge_events",
    "q166_dedup_threshold_curve", "q167_winnow_components",
    "q168_winnow_canonical", "q172_histogram_quantiles",
    "q173_hist_mad_outliers", "q174_unified_components",
    "q178_bm25_maxscore_topk", "q183_bm25f_maxscore_topk",
    "q185_retrieval_quality", "q187_prf_expanded_bm25",
    "q189_bm25_blockmax_topk", "q191_fusion_quality_compare",
    "q194_bm25f_blockmax_topk",
    "q192_prf_quality_compare", "q193_quality_gated_fusion",
    "q42_lsh_candidates", "q44_jaccard_pairs", "q55_dedup_components",
    "q56_ann_ivf", "q57_lsh_verified_pairs", "q87_jaccard_dfcut",
    "q88_ann_sq", "q90_pagerank", "q92_ann_ivf_sq", "q95_simhash_pairs",
    "q98_skipping_effectiveness", "q99_curation_pipeline",
})


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out
