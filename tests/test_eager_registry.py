"""Pin which registry entries are non-lazy at DataFrame-BUILD time
(r13 verdict, Next-round #6).

``__spark_entry__.EAGER_BUILD_QUERIES`` is the contract: calling
``queries()[name](spark, sf)`` runs Spark jobs for exactly these names
(gate probes, eager localCheckpoints, iterative build loops, memo
materialization) and is purely lazy for every other entry.  A harness
that builds-but-defers all frames can read the marker instead of being
surprised by hidden jobs.

Protocol: one sweep in registry-sorted order against sf0.001, after
warming every table's parquet schema inference (the first touch of a
path runs a footer-read job that is a property of the SESSION, not the
query).  Sorted order matters for the build-once memos: q185 populates
the quality memo so q186 builds lazily; q167 populates the star-edge
memo so q168 builds lazily — exactly the production profile of a
process that builds the whole registry.
"""

from __future__ import annotations

from oanda_stream_processor_spark import memo
from oanda_stream_processor_spark.io import load_table

SF = "/root/testdata/sf0.001"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def test_eager_build_marker_matches_reality(spark):
    import __spark_entry__ as ent

    # the sweep pins the FIRST-build profile — purge every build-once
    # memo so earlier tests sharing this session cannot have warmed
    # them (r15: the sweep is order-robust; it failed spuriously
    # whenever a retrieval test ran q185/q187 first).  Purge BEFORE
    # the table warm-up, which refills the table memo.
    memo.purge_all()
    for t in TABLES:  # warm schema inference / file-index caches
        load_table(spark, SF, t).schema

    # sweep under an OWN job group: the default-group tracker reads
    # nothing if any earlier test in the shared session left a group
    # set (the empty-string-group hazard, see test_component_budget)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("eager_sweep", "registry build-time job sweep")
    eager: set[str] = set()
    try:
        for name, fn in sorted(ent.queries().items()):
            before = len(tracker.getJobIdsForGroup("eager_sweep"))
            fn(spark, SF)  # build only — never executed
            if len(tracker.getJobIdsForGroup("eager_sweep")) > before:
                eager.add(name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    missing = ent.EAGER_BUILD_QUERIES - eager
    extra = eager - ent.EAGER_BUILD_QUERIES
    assert not missing, f"marked eager but built lazily: {sorted(missing)}"
    assert not extra, f"hidden build-time jobs, unmarked: {sorted(extra)}"
