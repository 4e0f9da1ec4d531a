"""Measure the seed-pass saving of the folded PER-FIELD histogram θ
(r16; VERDICT r15 ask #2's "bench row" — the THETA_FOLD convention
applied to the BM25F family).

Builds the incremental BM25F field store (all seven partials,
including the lockstep per-field impact histogram) from the sf
documents table, then times the PRUNED served block-max read with the
two θ sources the fold routes between:

* theta='seed' — the pre-r16 read: a read-time seed CANDIDATE SCORING
  pass (join seed postings, score through the weighted-sum model,
  rank) derives θ;
* theta='hist' — the folded read: θ priced from the persisted
  per-field impact histogram through the weighted-sum bound
  (thetagate.bm25f_theta_lower_bound), no candidate scoring before
  the single exact scoring pass.

Both branches are forced onto the BLOCK plan (the fixture corpus
routes 'flat' in the gate — the fold only matters where pruning
machinery runs).  Rows are asserted identical before timing (the
exactness contract).  Prints one JSON line.

Usage: python tools/bench_served_ftheta.py [sf_dir] [runs]
"""

from __future__ import annotations

import json
import shutil
import os
import sys
import time

sys.path.insert(0, os.path.abspath(os.path.join(__file__, "../..")))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
RUNS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
STORE = "/tmp/spark_graft_ftheta_store"


def main() -> None:
    from pyspark.sql import functions as F

    from oanda_stream_processor_spark.io import load_table
    from oanda_stream_processor_spark.session import get_spark
    from oanda_stream_processor_spark.streaming.bm25gate import (
        serve_bm25f_blockmax_topk,
        write_batch_field_partials,
    )

    spark = get_spark(app_name="bench_served_ftheta")
    shutil.rmtree(STORE, ignore_errors=True)
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    t0 = time.perf_counter()
    for i in range(4):
        write_batch_field_partials(d.where(F.col("doc_id") % 4 == i),
                                   STORE, i)
    build_s = round(time.perf_counter() - t0, 3)

    def run(theta: str) -> float:
        best = float("inf")
        for _ in range(RUNS):
            t = time.perf_counter()
            (serve_bm25f_blockmax_topk(spark, STORE, plan="block",
                                       theta=theta)
             .write.format("noop").mode("overwrite").save())
            best = min(best, time.perf_counter() - t)
        return round(best, 3)

    same = (sorted(map(tuple, serve_bm25f_blockmax_topk(
                spark, STORE, plan="block", theta="hist").collect()))
            == sorted(map(tuple, serve_bm25f_blockmax_topk(
                spark, STORE, plan="block", theta="seed").collect())))
    assert same, "hist and seed reads diverged — field fold is broken"
    seed_s, hist_s = run("seed"), run("hist")
    print(json.dumps({
        "metric": "served_bm25f_theta_fold", "sf_dir": SF_DIR,
        "runs": RUNS, "store_build_s": build_s, "rows_equal": same,
        "block_seed_theta_s": seed_s, "block_hist_theta_s": hist_s,
        "saving_s": round(seed_s - hist_s, 3),
        "note": ("both branches forced onto the block plan; the delta "
                 "is the read-time seed candidate-scoring pass the "
                 "persisted per-field histogram replaces")}))
    spark.stop()
    shutil.rmtree(STORE, ignore_errors=True)


if __name__ == "__main__":
    main()
