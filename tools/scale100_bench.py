"""100x scale-up measurement for the corpus/embedding family — turns
SCALE.md's "would hold at 100x" claims from extrapolation into numbers.

Same honest-replication recipe as tools/scale_bench.py (which measures
the whole suite at 10x), but two decades up: documents and embeddings
are replicated 100x with per-replica token tags / id+label offsets, so
replicas share NO shingles and label blocks keep their density — the
shape of a corpus that genuinely grew 100x with distinct content. Only
the documents+embeddings tables are built (the TPC-H facts are the
10x sweep's job); the default query set is every dedup / similarity /
text / curation operator that reads only those two tables.

With the x1 and x10 numbers already recorded in SCALE_SWEEP_r08.json,
the x100 point gives each operator a three-point scaling curve; the
interesting read-out is factor100 vs 100x-ideal-linear work growth on
a fixed 32-thread box: factor100 well under ~100 means the operator is
sublinear-per-core and cluster headroom is real; factor100 >> 100
means super-linear work (the thing the growth rules exist to prevent).

PINNED PROTOCOL (r17; VERDICT r16 Next-round #5): BOTH legs run
memo-off (``memo.bypass("retrieval", "star_edges")`` around the whole
measurement) and BOTH legs are min-of-N — x1 at
``runs_x1`` (default 2), x100 at ``SPARK_GRAFT_X100_RUNS`` (default
2).  r15/r16 measured the build-once families by hand with per-query
memo-off re-runs and the ratio column churned on x1-side noise (q167
78.2x -> 98.2x with the x100 absolute flat); with the protocol in the
tool, every row is the true pipeline build on both sides and the
factor moves only when the code does.

Usage: python tools/scale100_bench.py [runs_x1] [query ...]
Prints one JSON line; x100 data cached at /tmp/spark_graft_x100.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.abspath(os.path.join(__file__, "../..")))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
X100_DIR = "/tmp/spark_graft_x100"
RUNS = int(sys.argv[1]) if len(sys.argv) > 1 else 2
ONLY = set(sys.argv[2:])

# every operator below reads ONLY documents and/or embeddings
DEFAULT_SET = [
    "q40_dedup_exact",
    "q41_minhash_signature",
    "q42_lsh_candidates",
    "q43_simhash",
    "q45_cosine_topk",
    "q49_lang_id",
    "q50_quality_score",
    "q55_dedup_components",
    "q56_ann_ivf",
    "q57_lsh_verified_pairs",
    "q87_jaccard_dfcut",
    "q92_ann_ivf_sq",
    "q97_canonical_by_quality",
    "q139_semantic_dedup",
    "q141_knn_label_prop",
    "q157_winnow_star",
    "q162_passage_rewrite",
    "q163_filter_attribution",
    "q164_mixture_weights",
    "q165_fuzzy_contamination",
    "q167_winnow_components",
    "q168_winnow_canonical",
    "q169_hll_distinct",
    "q170_source_overlap_kmv",
    "q171_leakfree_splits",
    # unified components + the retrieval family (r12; documents +
    # static embeddings only)
    "q174_unified_components",
    "q175_bm25_topk",
    "q176_rrf_fusion",
    "q177_bm25f_topk",
    "q178_bm25_maxscore_topk",
    "q179_phrase_match",
    "q180_training_shards",
    "q181_phrase_filtered_bm25",
    "q182_term_proximity",
    "q183_bm25f_maxscore_topk",
    "q184_proximity_boosted_bm25",
    # r13: quality metrics, PRF, passage
    "q185_retrieval_quality",
    "q186_retrieval_quality_summary",
    "q187_prf_expanded_bm25",
    "q188_best_passage",
    # r14: block-max, proximity fusion, quality comparisons
    "q189_bm25_blockmax_topk",
    "q190_proximity_fused_rrf",
    "q191_fusion_quality_compare",
    "q192_prf_quality_compare",
    # r15/r16: gated fusion, BM25F block-max, truth set + metric halves
    "q193_quality_gated_fusion",
    "q194_bm25f_blockmax_topk",
    "q195_relevance_truth",
    "q196_truth_side",
]


def build_x100(spark) -> None:
    from pyspark.sql import functions as F

    from oanda_stream_processor_spark.io import load_table

    if os.path.exists(os.path.join(X100_DIR, "_DONE")):
        return
    shutil.rmtree(X100_DIR, ignore_errors=True)
    os.makedirs(X100_DIR, exist_ok=True)

    docs = load_table(spark, SF_DIR, "documents")
    reps = []
    for k in range(100):
        text = (F.col("text") if k == 0 else
                F.regexp_replace("text", " ", f" {k}x"))
        reps.append(docs.select(
            (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
            text.alias("text"), "lang", "source", "n_chars"))
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(X100_DIR, "documents.parquet"))

    emb = load_table(spark, SF_DIR, "embeddings")
    reps = [emb.select((F.col("vec_id") + k * 10_000_000).alias("vec_id"),
                       "embedding",
                       (F.col("label") + k * 1000).alias("label"))
            for k in range(100)]
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(X100_DIR, "embeddings.parquet"))
    open(os.path.join(X100_DIR, "_DONE"), "w").close()


# r18 (VERDICT r17 Next-round #4): the pinned memo-off protocol
# bypasses the retrieval and star-edge memos, but the materialize-once
# component frames (production semantics: build once, every consumer
# reads the frame) stay on, so their CONSUMERS' rows record the warm
# incremental pass (cold spot-check r17: q168 x100 222 s vs warm
# 4.2 s).  Those consumers also get a cold column: every memo is
# purged (memo.purge_all) before every cold run, so both truths are
# in the record — x100 (warm consumer read, the production steady
# state) and x100_cold (full build-from-scratch).  Warm columns are
# computed exactly as before — no factor churn.
COLD_SPLIT = {
    "q97_canonical_by_quality",
    "q168_winnow_canonical",
    "q171_leakfree_splits",
}


def main() -> None:
    from oanda_stream_processor_spark import memo
    from oanda_stream_processor_spark.session import get_spark

    import __spark_entry__ as ent

    spark = get_spark(app_name="scale100_bench")
    t0 = time.perf_counter()
    build_x100(spark)
    build_s = round(time.perf_counter() - t0, 1)

    # pinned protocol: memo-off both sides (module docstring)
    with memo.bypass("retrieval", "star_edges"):
        measure(spark, ent.queries(), build_s)


def measure(spark, queries: dict, build_s: float) -> None:
    from oanda_stream_processor_spark import memo

    runs_x100 = int(os.environ.get("SPARK_GRAFT_X100_RUNS", "2"))
    names = sorted(ONLY) if ONLY else DEFAULT_SET
    results = {}

    def leg(fn, sf: str, runs: int, cold: bool = False) -> float:
        times = []
        for _ in range(runs):
            if cold:
                memo.purge_all()
            t1 = time.perf_counter()
            fn(spark, sf).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t1)
        return round(min(times), 3)

    for name in names:
        fn = queries[name]
        row = {}
        try:
            row["x1"] = leg(fn, SF_DIR, RUNS)
            row["x100"] = leg(fn, X100_DIR, runs_x100)
        except Exception as exc:   # keep sweeping; a broken query is a row
            row["error"] = f"{type(exc).__name__}: {exc}"[:200]
            results[name] = row
            print(f"# {name}: ERROR {row['error']}", file=sys.stderr,
                  flush=True)
            continue
        row["factor100"] = (round(row["x100"] / row["x1"], 2)
                            if row["x1"] else None)
        results[name] = row
        print(f"# {name}: x1={row['x1']}s x100={row['x100']}s "
              f"factor100={row['factor100']}", file=sys.stderr, flush=True)

    # cold columns AFTER the whole warm sweep (purging mid-sweep
    # would de-warm later queries' warm rows — factor churn, the
    # thing the pinned protocol exists to prevent)
    for name in [n for n in names
                 if n in COLD_SPLIT and "error" not in results.get(n, {})]:
        fn = queries[name]
        row = results[name]
        try:
            row["x1_cold"] = leg(fn, SF_DIR, RUNS, cold=True)
            row["x100_cold"] = leg(fn, X100_DIR, runs_x100, cold=True)
        except Exception as exc:
            row["cold_error"] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        row["factor100_cold"] = (
            round(row["x100_cold"] / row["x1_cold"], 2)
            if row["x1_cold"] else None)
        print(f"# {name}: x1_cold={row['x1_cold']}s "
              f"x100_cold={row['x100_cold']}s "
              f"factor100_cold={row['factor100_cold']}",
              file=sys.stderr, flush=True)

    print(json.dumps({
        "metric": "corpus_family_scaleup_x100",
        "runs_x1": RUNS, "runs_x100": runs_x100, "memo": "off",
        "sf_dir": SF_DIR, "build_s": build_s,
        "queries": results,
        "note": ("x100 on a fixed 32-thread box; factor100 ~< 100 = "
                 "at-most-linear work (cluster headroom real), "
                 ">> 100 = super-linear work; min-of-N memo-off on "
                 "BOTH legs (pinned r17 protocol)"),
    }))


if __name__ == "__main__":
    main()
