"""Measure the per-read saving of grading served rankings against the
incremental truth store instead of re-deriving the truth from the
positional postings store (r16; VERDICT r15 Next-round #1's "measured
bench row" — the THETA_FOLD convention applied to the decision reads).

Builds all four stores (BM25 tf/df/dl/corpus+blk+impact, token-
positional postings, trigram-positional postings, graded-truth
partials) from the sf documents table under the query-docs-first
contract, then times two decision reads each way:

* quality  — rrfserve.serve_retrieval_quality: q185's per-query
  metric rows.  postings = relevance_truth_from over the FULL stored
  positional postings (a corpus-sized probe join per read) + a
  read-time window for n_rel/IDCG; store = truthgate.read_truth
  (partitioned scan of per-pair partials + one bounded groupBy) +
  read_truth_side (SUM-merged n_rel, bounded ideal re-rank).
* fusion   — rrfserve.serve_fusion_quality_compare: q191's three
  macro rows (the ship-which-ranker decision), same truth split.

Rows are asserted identical both ways before timing (the truthgate
parity theorem, exercised at bench scale).  Prints one JSON line.

Usage: python tools/bench_served_truth.py [sf_dir] [runs]
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
ROOT = "/tmp/spark_graft_truthwire"


def main() -> None:
    from pyspark.sql import functions as F

    from oanda_stream_processor_spark.io import load_table
    from oanda_stream_processor_spark.operators.retrieval import N_QUERIES
    from oanda_stream_processor_spark.session import get_spark
    from oanda_stream_processor_spark.streaming.bm25gate import (
        write_batch_partials,
    )
    from oanda_stream_processor_spark.streaming.phrasegate import (
        write_batch_postings,
    )
    from oanda_stream_processor_spark.streaming.proxgate import (
        write_batch_token_postings,
    )
    from oanda_stream_processor_spark.streaming.rrfserve import (
        exact_cosine_pool,
        serve_fusion_quality_compare,
        serve_retrieval_quality,
    )
    from oanda_stream_processor_spark.streaming.truthgate import (
        write_batch_truth_partials,
    )

    spark = get_spark(app_name="bench_served_truth")
    shutil.rmtree(ROOT, ignore_errors=True)
    b, x, h, t = (f"{ROOT}/{p}" for p in ("bm25", "prox", "phr", "truth"))
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    t0 = time.perf_counter()
    # queries-first batching (the truthgate ingest contract)
    batches = [d.where((F.col("doc_id") < N_QUERIES)
                       | (F.col("doc_id") % 4 == 0))] + \
              [d.where((F.col("doc_id") >= N_QUERIES)
                       & (F.col("doc_id") % 4 == i)) for i in (1, 2, 3)]
    for i, part in enumerate(batches):
        write_batch_partials(part, b, i)
        write_batch_token_postings(part, x, i)
        write_batch_postings(part, h, i)
        write_batch_truth_partials(part, t, i)
    build_s = round(time.perf_counter() - t0, 3)
    cos = exact_cosine_pool(spark, SF_DIR).localCheckpoint(eager=True)

    def reads(truth_state):
        return {
            "quality": lambda: serve_retrieval_quality(
                spark, b, x, h, truth_state=truth_state),
            "fusion": lambda: serve_fusion_quality_compare(
                spark, b, x, h, cos, truth_state=truth_state),
        }

    out = {"metric": "served_truth_wire", "sf_dir": SF_DIR,
           "runs": RUNS, "store_build_s": build_s}
    for name in ("quality", "fusion"):
        same = (sorted(map(tuple, reads(t)[name]().collect()))
                == sorted(map(tuple, reads(None)[name]().collect())))
        assert same, f"{name}: store-truth and postings-truth diverged"
        row = {}
        for label, state in (("postings", None), ("store", t)):
            best = float("inf")
            for _ in range(RUNS):
                tt = time.perf_counter()
                (reads(state)[name]()
                 .write.format("noop").mode("overwrite").save())
                best = min(best, time.perf_counter() - tt)
            row[label] = round(best, 3)
        out[f"{name}_postings_truth_s"] = row["postings"]
        out[f"{name}_store_truth_s"] = row["store"]
        out[f"{name}_saving_s"] = round(row["postings"] - row["store"], 3)
        out[f"{name}_rows_equal"] = same
    out["note"] = ("postings = truth re-derived from the full stored "
                   "positional postings per read; store = truthgate's "
                   "per-pair partials + SUM-merged n_rel + bounded "
                   "ideal re-rank")
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
