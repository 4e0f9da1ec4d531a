"""Parallelism-invariance check: every query's order-insensitive value
hash must be IDENTICAL under radically different execution layouts.

This is the local proof behind SCALE.md's determinism claim: results
that survive 4-thread/7-shuffle-partition vs 32-thread/32-partition
execution unchanged have no summation-order, partition-order, or
tie-break dependence — the property a 1000-executor run rests on.
(Floating aggregates that feed the oracle go through fixed-point or
sequential-fold accumulation precisely so this holds; see
operators/helpers.py.)

Usage: python tools/parallelism_check.py [sf_dir] [query ...]
Prints per-query ok/MISMATCH and exits nonzero on any mismatch.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.abspath(os.path.join(__file__, "../..")))
from tools.verify_oracle import canon  # noqa: E402  (same hash as the gate)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

LAYOUTS = [
    ("local[32]", "32"),   # the bench layout
    ("local[4]", "7"),     # few threads, prime shuffle width
]


def run_layout(master: str, shuffle: str) -> dict[str, tuple]:
    from pyspark.sql import SparkSession

    import __spark_entry__ as ent

    spark = (SparkSession.builder.master(master)
             .appName(f"pcheck-{master}")
             .config("spark.sql.shuffle.partitions", shuffle)
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    out = {}
    for name, fn in sorted(ent.queries().items()):
        if ONLY and name not in ONLY:
            continue
        try:
            df = fn(spark, SF_DIR)
            rows = [tuple(r) for r in df.collect()]
            h, _ = canon(rows, df.columns)
            out[name] = (len(rows), h)
        except Exception as exc:  # noqa: BLE001
            out[name] = ("ERROR", f"{type(exc).__name__}: {exc}"[:160])
    spark.stop()
    return out


def main() -> int:
    a = run_layout(*LAYOUTS[0])
    b = run_layout(*LAYOUTS[1])
    bad = 0
    for name in sorted(a):
        ra, rb = a[name], b.get(name)
        if ra == rb and ra[0] != "ERROR":
            print(f"ok       {name}: {ra[0]} rows, hash stable")
        else:
            bad += 1
            print(f"MISMATCH {name}: {LAYOUTS[0][0]}={ra} {LAYOUTS[1][0]}={rb}")
    print(f"\n{len(a) - bad} invariant, {bad} mismatched "
          f"across {LAYOUTS[0]} vs {LAYOUTS[1]}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
