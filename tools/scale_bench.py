"""10x scale-up measurement for EVERY query — replaces extrapolation in
SCALE.md with numbers (round 6: extended from the 24-query heavy family
to the whole suite).

Builds a x10 dataset derived from sf0.1 into /tmp — facts replicated
10x with per-replica key offsets, dimensions kept fixed (the honest
shape of a corpus/warehouse that grew 10x):

* documents — 10 replicas with offset doc_ids; every token after the
  first gains a per-replica tag (regexp: each space becomes " {k}x"),
  so replicas share NO shingles and the candidate graph is 10 disjoint
  copies — the honest shape of a 10x corpus of distinct documents
  (identical replicas would instead explode every doc into a 10-clique
  of exact dups and measure an artifact). Text grows ~15% in bytes from
  the tags; noted, not corrected.
* embeddings — 10 replicas with offset vec_ids and per-replica label
  offsets (label + 1000k): label-blocked ops keep per-block density
  while total work scales 10x. Vectors are unchanged, so unblocked ANN
  (q45/q48) sees a true 10x candidate set against the same query set
  (vec_id < 10 exists only in replica 0).
* lineitem/orders/customer/part/supplier — 10 replicas with all
  fact-to-fact join keys (orderkey, custkey, partkey, suppkey) offset
  by k*10M so joins stay replica-local and per-key densities are
  preserved; nationkey is NOT offset (dims fixed).
* events — 10 replicas with offset event_id/user_id (per-user
  sequences keep their length; 10x users) over the same time range.
* nation/region — copied unchanged: a 10x warehouse does not grow its
  dimension tables, so broadcast-dim plans should scale ~flat.

Caveats: q82's synthetic custkey-arithmetic hierarchy gains roots at
replica boundaries (parent ids point into absent key ranges) — still a
valid 10x-rows measurement of the per-level iterative join.

Usage: python tools/scale_bench.py [runs_per_query] [query ...]
(optional query names restrict the run to that subset)
Prints one JSON line with min-of-N seconds at x1 and x10 per query.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.abspath(os.path.join(__file__, "../..")))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
X10_DIR = "/tmp/spark_graft_x10"
RUNS = int(sys.argv[1]) if len(sys.argv) > 1 else 3
ONLY = set(sys.argv[2:])

# round 6: the default set is EVERY queries() entry (sorted); pass
# names on the CLI to restrict


def build_x10(spark) -> None:
    from pyspark.sql import functions as F

    from oanda_stream_processor_spark.io import load_table

    if os.path.exists(os.path.join(X10_DIR, "_DONE")):
        return
    shutil.rmtree(X10_DIR, ignore_errors=True)
    os.makedirs(X10_DIR, exist_ok=True)

    docs = load_table(spark, SF_DIR, "documents")
    reps = []
    for k in range(10):
        text = (F.col("text") if k == 0 else
                F.regexp_replace("text", " ", f" {k}x"))
        reps.append(docs.select(
            (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
            text.alias("text"), "lang", "source", "n_chars"))
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(X10_DIR, "documents.parquet"))

    emb = load_table(spark, SF_DIR, "embeddings")
    reps = [emb.select((F.col("vec_id") + k * 10_000_000).alias("vec_id"),
                       "embedding",
                       (F.col("label") + k * 1000).alias("label"))
            for k in range(10)]
    out = reps[0]
    for r in reps[1:]:
        out = out.unionByName(r)
    out.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(X10_DIR, "embeddings.parquet"))

    # relational facts: replicate with replica-local join keys
    OFF = 10_000_000
    fact_offsets = {
        "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "customer": ["c_custkey"],
        "part": ["p_partkey"],
        "supplier": ["s_suppkey"],
        "events": ["event_id", "user_id"],
    }
    for table, keys in fact_offsets.items():
        t = load_table(spark, SF_DIR, table)
        reps = []
        for k in range(10):
            r = t
            for col in keys:
                r = r.withColumn(col, F.col(col) + F.lit(k * OFF))
            reps.append(r)
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.coalesce(8).write.mode("overwrite").parquet(
            os.path.join(X10_DIR, f"{table}.parquet"))

    # dimensions: fixed — a 10x warehouse keeps its dims
    for table in ("nation", "region"):
        load_table(spark, SF_DIR, table).coalesce(1).write \
            .mode("overwrite").parquet(os.path.join(X10_DIR, f"{table}.parquet"))
    open(os.path.join(X10_DIR, "_DONE"), "w").close()


def main() -> None:
    from oanda_stream_processor_spark.session import get_spark

    import __spark_entry__ as ent

    spark = get_spark(app_name="scale_bench")
    build_x10(spark)
    queries = ent.queries()
    results = {}
    for name in sorted(queries):
        if ONLY and name not in ONLY:
            continue
        fn = queries[name]
        row = {}
        try:
            for tag, d in (("x1", SF_DIR), ("x10", X10_DIR)):
                times = []
                for _ in range(RUNS):
                    t0 = time.perf_counter()
                    fn(spark, d).write.format("noop").mode("overwrite").save()
                    times.append(time.perf_counter() - t0)
                row[tag] = round(min(times), 3)
        except Exception as exc:   # keep sweeping; a broken query is a row
            row["error"] = f"{type(exc).__name__}: {exc}"[:200]
            results[name] = row
            print(f"# {name}: ERROR {row['error']}", file=sys.stderr, flush=True)
            continue
        row["factor"] = round(row["x10"] / row["x1"], 2) if row["x1"] else None
        results[name] = row
        print(f"# {name}: x1={row['x1']}s x10={row['x10']}s "
              f"factor={row['factor']}", file=sys.stderr, flush=True)
    # corpus-growth-rule counterfactuals: since round 7 the rule is the
    # DEFAULT (q139/q141/IVF derive their block count from the corpus
    # row count — similarity._growth_splits). These variants re-run the
    # two formerly super-linear ops with the LEGACY fixed layout pinned
    # (split_planes=0 / n_planes=6) so the sweep records what the rule
    # saves: r6 measured ~10x growth for both pinned defaults.
    from oanda_stream_processor_spark.operators import similarity as _sim
    variants = {
        "q139_semantic_dedup@pinned_coarse":
            (results.get("q139_semantic_dedup"),
             lambda sp, d: _sim.q139_semantic_dedup(sp, d, split_planes=0)),
        "q141_knn_label_prop@pinned_planes6":
            (results.get("q141_knn_label_prop"),
             lambda sp, d: _sim.q141_knn_label_prop(sp, d, n_planes=6)),
        "q127_hard_negatives@pinned_planes6":
            (results.get("q127_hard_negatives"),
             lambda sp, d: _sim.q127_hard_negatives(sp, d, n_planes=6)),
    }
    for vname, (base_row, vfn) in variants.items():
        if not base_row or "x1" not in base_row:
            continue
        try:
            times = []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                vfn(spark, X10_DIR).write.format("noop") \
                    .mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            x10s = round(min(times), 3)
            results[vname] = {
                "x1": base_row["x1"], "x10": x10s,
                "factor": round(x10s / base_row["x1"], 2)}
            print(f"# {vname}: x1(default)={base_row['x1']}s "
                  f"x10(scaled)={x10s}s factor={results[vname]['factor']}",
                  file=sys.stderr, flush=True)
        except Exception as exc:
            results[vname] = {"error": f"{type(exc).__name__}: {exc}"[:200]}

    print(json.dumps({"metric": "full_suite_scaleup", "runs": RUNS,
                      "sf_dir": SF_DIR, "queries": results}))
    spark.stop()


if __name__ == "__main__":
    main()
