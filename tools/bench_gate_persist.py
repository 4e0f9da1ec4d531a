"""Measure the r18 gate-verdict sidecar (VERDICT r17 Next-round #5):
how much of the plan-gate probe a RESTARTED serving process skips when
the verdict is persisted under the store root.

Builds an N-batch BM25 store from the sf documents table, then times
``maxscore_gate_plan_from_postings`` (the store-backed gate probe a
serving process pays per corpus) under three protocols, min-of-RUNS
each, clearing the in-memory memo before every run (= fresh process):

* probe    — sidecar removed each run: the full bounded probe
  (pre-r18 restart cost);
* sidecar  — sidecar present: the r18 restart path (one JSON read);
* memo-off — memo.bypass("retrieval"): the bench's timed-region
  protocol, asserted to keep probing (and never write the sidecar).

Routes asserted identical across all three.  Prints one JSON line.

Usage: python tools/bench_gate_persist.py [sf_dir] [n_batches] [runs]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.abspath(os.path.join(__file__, "../..")))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
N_BATCHES = int(sys.argv[2]) if len(sys.argv) > 2 else 12
RUNS = int(sys.argv[3]) if len(sys.argv) > 3 else 3
ROOT = "/tmp/spark_graft_gate_persist"


def main() -> None:
    from pyspark.sql import functions as F

    import oanda_stream_processor_spark.operators.retrieval as R
    from oanda_stream_processor_spark.io import load_table
    from oanda_stream_processor_spark.memo import bypass
    from oanda_stream_processor_spark.operators.retrieval import N_QUERIES
    from oanda_stream_processor_spark.session import get_spark
    from oanda_stream_processor_spark.streaming.bm25gate import (
        read_dl,
        read_tf,
        write_batch_partials,
    )

    spark = get_spark(app_name="bench_gate_persist")
    shutil.rmtree(ROOT, ignore_errors=True)
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    nb = N_BATCHES
    for i in range(nb):
        part = (d.where((F.col("doc_id") < N_QUERIES)
                        | (F.col("doc_id") % nb == 0)) if i == 0 else
                d.where((F.col("doc_id") >= N_QUERIES)
                        & (F.col("doc_id") % nb == i)))
        write_batch_partials(part, ROOT, i)
    side = os.path.join(ROOT, R._GATE_SIDECAR)

    def best(prep) -> tuple[float, str]:
        out, plan = float("inf"), None
        for _ in range(RUNS):
            R._RETRIEVAL.clear()          # = restarted process
            prep()
            t0 = time.perf_counter()
            plan = R.maxscore_gate_plan_from_postings(
                read_tf(spark, ROOT), read_dl(spark, ROOT))
            out = min(out, time.perf_counter() - t0)
        return round(out, 3), plan

    def rm_side():
        if os.path.isfile(side):
            os.remove(side)

    probe_s, v_probe = best(rm_side)
    assert os.path.isfile(side), "probe run did not write the sidecar"
    sidecar_s, v_side = best(lambda: None)

    rm_side()
    with bypass("retrieval"):
        memooff_s, v_off = best(lambda: None)
    assert not os.path.isfile(side), "memo-off wrote the sidecar"

    assert v_probe == v_side == v_off, "route diverged across paths"
    out = {
        "metric": "gate_verdict_persistence",
        "sf_dir": SF_DIR, "n_batches": nb, "runs": RUNS,
        "restart_probe_s": probe_s,
        "restart_sidecar_s": sidecar_s,
        "memo_off_probe_s": memooff_s,
        "plan": v_probe,
        "note": ("min-of-RUNS, in-memory memo cleared before every "
                 "run (= fresh process); 'probe' removes the sidecar "
                 "each run, 'sidecar' reads it, memo-off bypasses "
                 "both and is asserted to keep probing (the bench's "
                 "timed-region protocol is unchanged)"),
    }
    print(json.dumps(out))
    spark.stop()
    shutil.rmtree(ROOT, ignore_errors=True)


if __name__ == "__main__":
    main()
