"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column-name set, and
an order-insensitive value hash (columns sorted by name, rows sorted by
their stringified tuple). Reports per-query PASS/FAIL with first-diff
context. Usage:  python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.abspath(os.path.join(__file__, "../..")))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(v):
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v)) + ".0"
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("|".join(norm(r[i]) for i in order) for r in rows)
    h = hashlib.md5("\n".join(out).encode()).hexdigest()
    return h, out


def main():
    import __spark_entry__ as ent
    from oanda_stream_processor_spark.session import get_spark

    spark = get_spark(app_name="verify_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs, oracles = ent.queries(), ent.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in sorted(qs.items()):
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
        if not problems:
            sh, s_c = canon(srows, scols)
            oh, o_c = canon(orows, ocols)
            if sh != oh:
                for i, (a, b) in enumerate(zip(s_c, o_c)):
                    if a != b:
                        problems.append(f"first diff row {i}:\n  spark : {a}\n  duckdb: {b}")
                        break
                else:
                    problems.append("hash differs but no row diff found?!")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
