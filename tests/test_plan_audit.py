"""Unit coverage for the plan-audit walkers (tools/explain_audit.py) —
the global-window boundedness rule (r12 verdict ask #4) must actually
CATCH a corpus-sized unpartitioned window and must PASS the bounded
shapes the repo legitimately uses, so a future plan regression fails
pytest as well as the audit script."""

from __future__ import annotations

import os
import sys

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from oanda_stream_processor_spark.io import load_table

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))

SF_DIR = "/root/testdata/sf0.001"


def _walkers():
    import explain_audit as ea
    return ea.unbounded_global_windows


def test_corpus_sized_global_window_is_flagged(spark):
    unbounded_global_windows = _walkers()
    d = load_table(spark, SF_DIR, "documents")
    # the anti-pattern: row_number over the WHOLE corpus, no partition
    bad = d.withColumn("rn", F.row_number().over(W.orderBy("doc_id")))
    flagged, ok = unbounded_global_windows(bad)
    assert flagged, "corpus-sized global window was not flagged"
    assert not ok


def test_bounded_global_windows_pass(spark):
    unbounded_global_windows = _walkers()
    d = load_table(spark, SF_DIR, "documents")
    # bounded by a Limit
    lim = (d.orderBy("doc_id").limit(10)
           .withColumn("rn", F.row_number().over(W.orderBy("doc_id"))))
    flagged, ok = unbounded_global_windows(lim)
    assert not flagged and len(ok) == 1 and "Limit" in ok[0]
    # bounded by a fixed-domain aggregate (lang is a bounded key)
    agg = (d.groupBy("lang").agg(F.count("*").alias("n"))
           .withColumn("rn", F.row_number().over(W.orderBy("lang"))))
    flagged, ok = unbounded_global_windows(agg)
    assert not flagged and len(ok) == 1 and "Aggregate" in ok[0]
    # an aggregate on an UNBOUNDED key (doc_id) does NOT bound it
    bad_agg = (d.groupBy("doc_id").agg(F.count("*").alias("n"))
               .withColumn("rn",
                           F.row_number().over(W.orderBy("doc_id"))))
    flagged, ok = unbounded_global_windows(bad_agg)
    assert flagged and not ok


def test_generate_breaks_boundedness(spark):
    """explode over a bounded aggregate is corpus-sized again — the
    walker must NOT let Generate inherit its child's bound (r13
    self-review finding)."""
    unbounded_global_windows = _walkers()
    d = load_table(spark, SF_DIR, "documents")
    exploded = (d.groupBy("lang").agg(F.collect_list("doc_id")
                                      .alias("ids"))
                .select("lang", F.explode("ids").alias("doc_id"))
                .withColumn("rn",
                            F.row_number().over(W.orderBy("doc_id"))))
    flagged, ok = unbounded_global_windows(exploded)
    assert flagged and not ok
