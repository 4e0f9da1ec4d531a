"""Regenerate README.md's record-backed lines FROM the committed record
files — the quote-the-record rule (round-9 lesson: a "0 fail" claim was
committed next to a record saying "2 fail"; claims must be mechanical,
not prose).

Usage: python tools/gen_readme_status.py
Each block quotes the latest committed record of its kind:
  * the query and oracle counts (the package tree line and the
    ``__spark_entry__`` contract line) and the correctness block between
    <!-- correctness:begin --> and <!-- correctness:end -->, from
    ORACLE_LOCAL_r{N}.txt (queries = pass + fail + rows-only; oracles =
    pass + fail);
  * the performance block (<!-- performance:begin/end -->), from
    BENCH_LOCAL_r{N}.json's Spark and DuckDB legs;
  * the determinism block (<!-- determinism:begin/end -->), from
    PARALLELISM_r{N}.txt's summary line.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# DuckDB's recursive-CTE component oracles: they dominate its total
CTE_FAMILY = ("q167_", "q168_", "q174_")


def _latest(pattern: str) -> tuple[str, str]:
    """(file name, round) of the newest ``pattern`` record (``{}`` is
    the round)."""
    rounds = []
    for path in glob.glob(os.path.join(REPO, pattern.format("*"))):
        m = re.fullmatch(pattern.format(r"(\d+)"), os.path.basename(path))
        if m:
            rounds.append(m.group(1))
    if not rounds:
        raise SystemExit(f"no {pattern.format('NN')} record")
    n = max(rounds, key=int)
    return pattern.format(n), n


def _read(name: str) -> str:
    return open(os.path.join(REPO, name)).read()


def _block(readme: str, name: str, body: str) -> str:
    out, cnt = re.subn(
        rf"<!-- {name}:begin -->.*?<!-- {name}:end -->",
        f"<!-- {name}:begin -->\n{body}\n<!-- {name}:end -->".replace(
            "\\", r"\\"), readme, flags=re.S)
    if cnt != 1:
        raise SystemExit(f"README {name} markers not found (expected 1)")
    return out


def _fill(text: str) -> str:
    return textwrap.fill(text, 70, subsequent_indent="  ",
                         break_on_hyphens=False)


def _sub(readme: str, pattern: str, repl: str) -> str:
    out, cnt = re.subn(pattern, repl, readme)
    if cnt != 1:
        raise SystemExit(f"README line not found: {pattern}")
    return out


def correctness(readme: str) -> tuple[str, str]:
    rec, _ = _latest("ORACLE_LOCAL_r{}.txt")
    # per-SF summary: the "N pass, M fail, K rows-only" line that ends
    # each section (the whole-file tail is the sf0.1 section's)
    sections = re.split(r"=== (sf[\d.]+) ===", _read(rec))[1:]
    parts, counts = [], None
    for sf, body in zip(sections[::2], sections[1::2]):
        m = re.findall(r"^((\d+) pass, (\d+) fail, (\d+) rows-only)$",
                       body, re.M)
        parts.append(f"{sf}: {m[-1][0] if m else 'NO SUMMARY LINE'}")
        if m:
            p, f, r = map(int, m[-1][1:])
            counts = (p + f + r, p + f, r)
    if counts is None:
        raise SystemExit(f"{rec} has no summary line")
    n_queries, n_oracles, n_rows_only = counts
    readme = _sub(readme, r"\d+ named queries across",
                  f"{n_queries} named queries across")
    readme = _sub(readme,
                  r"`queries\(\)` \d+ operators; `oracle_sql\(\)` \d+ "
                  r"DuckDB twins\n  \(\d+ rows-only",
                  f"`queries()` {n_queries} operators; `oracle_sql()` "
                  f"{n_oracles} DuckDB twins\n  ({n_rows_only} rows-only")
    readme = _block(readme, "correctness", (
        f"- Correctness (machine-quoted from `{rec}` by\n"
        "  `tools/gen_readme_status.py` — the committed record IS the\n"
        "  claim): " + "; ".join(parts) + ".\n"
        "  Gate: `python tools/verify_oracle.py <sf_dir>` (row count +\n"
        "  columns + order-insensitive value hash vs DuckDB). Oracle SQL\n"
        "  is version-proofed (no `//`, no HUGEINT-typed final columns,\n"
        "  FLOOR-quantized argmin keys — see `ORACLE_VERSIONS.txt` and\n"
        "  `tools/oracle_dtype_audit.py`)."))
    return readme, "; ".join(parts)


def performance(readme: str) -> tuple[str, str]:
    rec, n = _latest("BENCH_LOCAL_r{}.json")
    d = json.loads(_read(rec))
    sq = {k: v for k, v in d["queries"].items() if v is not None}
    dq = {k: v for k, v in d.get("duckdb_baseline", {}).items()
          if v is not None and k in sq}
    if not dq:
        raise SystemExit(f"{rec} has no DuckDB leg (bench.py --duckdb)")
    rest = [k for k in dq if not k.startswith(CTE_FAMILY)]
    s_all, d_all = sum(sq[k] for k in dq), sum(dq.values())
    s_rest, d_rest = sum(sq[k] for k in rest), sum(dq[k] for k in rest)
    line = (f"Spark {s_all:.1f} s vs DuckDB {d_all:.1f} s over {len(dq)} "
            f"oracled queries = **{s_all / d_all:.2f}×**")
    readme = _block(readme, "performance", _fill(
        "- Performance: `python bench.py [--duckdb]`; numbers in "
        f"`BASELINE.md`. Round {int(n)} (`{rec}`, sf{d['sf']}, "
        "machine-quoted by `tools/gen_readme_status.py`): aggregate "
        f"wall-clock {line}. DuckDB's total is dominated by its "
        "recursive-CTE component oracles (q167/q168/q174); without them, "
        f"Spark {s_rest:.1f} s vs DuckDB {d_rest:.1f} s over {len(rest)} "
        f"queries = **{s_rest / d_rest:.2f}×**."))
    return readme, line


def determinism(readme: str) -> tuple[str, str]:
    rec, _ = _latest("PARALLELISM_r{}.txt")
    m = re.search(r"^(\d+) invariant, (\d+) mismatched across "
                  r"\('local\[(\d+)\]', '(\d+)'\) vs "
                  r"\('local\[(\d+)\]', '(\d+)'\)$", _read(rec), re.M)
    if m is None:
        raise SystemExit(f"{rec} has no summary line")
    inv, mis, c1, p1, c2, p2 = m.groups()
    readme = _block(readme, "determinism", _fill(
        "- Determinism: every query's value hash is identical under "
        f"local[{c1}]/{p1}-shuffle-partition and local[{c2}]/{p2}-partition "
        f"execution (`{rec}`, {inv} invariant / {mis} mismatched) — no "
        "summation-order or tie-break dependence."))
    return readme, f"{inv} invariant / {mis} mismatched"


def main() -> None:
    path = os.path.join(REPO, "README.md")
    readme = open(path).read()
    for gen in (correctness, performance, determinism):
        readme, said = gen(readme)
        print(f"{gen.__name__}: {said}")
    open(path, "w").write(readme)


if __name__ == "__main__":
    main()
