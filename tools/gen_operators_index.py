"""Regenerate OPERATORS.md from the live query registry.

Usage: python tools/gen_operators_index.py > OPERATORS.md
No Spark session needed — imports only walk the registries.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.abspath(os.path.join(__file__, "../..")))


def main() -> None:
    import __spark_entry__ as ent

    oracled = set(ent.oracle_sql())
    rows = []
    for mod in ent._MODULES:
        mname = mod.__name__.split("oanda_stream_processor_spark.")[-1]
        for q in mod.QUERIES:
            rows.append((q, mname, "oracle" if q in oracled else "rows-only"))
    rows.sort()
    n_oracle = sum(1 for r in rows if r[2] == "oracle")
    print("# OPERATORS — query inventory index")
    print()
    print("Machine-generated map of every `queries()` entry to its "
          "implementing\nmodule and its driver correctness mode (`oracle` = "
          "full DuckDB\nrow/schema/hash gate; `rows-only` = genuinely "
          "non-SQL-expressible, the\ndriver records the weaker check). "
          f"Current totals: {len(rows)} queries, {n_oracle}\noracled. "
          "Regenerate: `python tools/gen_operators_index.py > OPERATORS.md`.")
    print()
    print("| query | module | gate |")
    print("|---|---|---|")
    for q, m, g in rows:
        print(f"| {q} | {m} | {g} |")


if __name__ == "__main__":
    main()
