"""Measure the gate-statistic memo (r17; VERDICT r16 Next-round #1):
q178/q183/q189/q194 pay a bounded ~2k-doc plan-gate probe at every
query CONSTRUCTION — harmless once, but a serving process that
rebuilds queries per request re-pays a probe whose answer is a
property of the corpus, not the query.  The retrieval memo entry
memoizes the route per (gate kind, corpus input-file fingerprint), so
only the first construction probes — and all four queries read the
one plan gate, so over one corpus they share that probe.

This tool times, at the given sf_dir (the sf0.1 fixture routes
'flat', so q194 == gate probe + q177's plan verbatim):

* q177  — the delegate's own cost (min-of-runs): the floor q194's
  repeat-build cost should approach with the memo warm;
* q194 first   — memo COLD (probe paid), one run;
* q194 repeat  — memo WARM (probe skipped), min-of-runs;
* q194 memo-off — memo.bypass("retrieval") (the true-cost bench
  convention: the probe IS part of the query's first-request cost
  and the official bench keeps measuring it), min-of-runs;
* q178 first/repeat/memo-off — the same gate from the term-only
  query, same shape (its delegate is q175); the memo is cleared
  before q178's first build so it pays its own probe.

Rows are asserted identical memo-on vs memo-off before timing (the
memo changes WHEN the probe runs, never the verdict).  Prints one
JSON line.

Usage: python tools/bench_gate_memo.py [sf_dir] [runs]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.abspath(os.path.join(__file__, "../..")))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
RUNS = int(sys.argv[2]) if len(sys.argv) > 2 else 3


def main() -> None:
    import oanda_stream_processor_spark.operators.retrieval as R
    from oanda_stream_processor_spark.memo import bypass
    from oanda_stream_processor_spark.session import get_spark

    spark = get_spark(app_name="bench_gate_memo")

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def best_of(fn, runs: int = RUNS) -> float:
        return round(min(run_once(fn) for _ in range(runs)), 3)

    # warm the session floor (table cache, codegen) off the clock
    R.q175_bm25_topk(spark, SF_DIR).write.format("noop") \
        .mode("overwrite").save()

    # parity: memo-on rows == memo-off rows for both gated queries
    with bypass("retrieval"):
        want194 = sorted(map(tuple,
                             R.q194_bm25f_blockmax_topk(spark,
                                                        SF_DIR).collect()))
        want178 = sorted(map(tuple,
                             R.q178_bm25_maxscore_topk(spark,
                                                       SF_DIR).collect()))
    R._RETRIEVAL.clear()
    assert sorted(map(tuple, R.q194_bm25f_blockmax_topk(
        spark, SF_DIR).collect())) == want194, "q194 memo changed rows"
    assert sorted(map(tuple, R.q178_bm25_maxscore_topk(
        spark, SF_DIR).collect())) == want178, "q178 memo changed rows"

    out = {"metric": "gate_statistic_memo", "sf_dir": SF_DIR,
           "runs": RUNS,
           "plan": R.maxscore_gate_plan(
               R.load_table(spark, SF_DIR, "documents"))}
    assert len([k for k in R._RETRIEVAL.keys() if k[0] == "plan"]) == 1, \
        "q178 and q194 did not share one gate probe"

    out["q177_delegate_s"] = best_of(R.q177_bm25f_topk)
    R._RETRIEVAL.clear()
    out["q194_first_build_s"] = round(
        run_once(R.q194_bm25f_blockmax_topk), 3)
    out["q194_repeat_memo_s"] = best_of(R.q194_bm25f_blockmax_topk)
    with bypass("retrieval"):
        out["q194_memo_off_s"] = best_of(R.q194_bm25f_blockmax_topk)

    out["q175_delegate_s"] = best_of(R.q175_bm25_topk)
    R._RETRIEVAL.clear()
    out["q178_first_build_s"] = round(
        run_once(R.q178_bm25_maxscore_topk), 3)
    out["q178_repeat_memo_s"] = best_of(R.q178_bm25_maxscore_topk)
    with bypass("retrieval"):
        out["q178_memo_off_s"] = best_of(R.q178_bm25_maxscore_topk)

    out["q194_repeat_saving_s"] = round(
        out["q194_memo_off_s"] - out["q194_repeat_memo_s"], 3)
    out["q178_repeat_saving_s"] = round(
        out["q178_memo_off_s"] - out["q178_repeat_memo_s"], 3)
    out["rows_equal"] = True
    out["note"] = ("repeat = gate memo warm (probe skipped); memo-off "
                   "= memo.bypass('retrieval'), the official bench's "
                   "true-cost convention (probe paid per build)")
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
