"""Regenerate README.md's correctness sentence FROM the record file —
the quote-the-record rule (round-9 lesson: a "0 fail" claim was
committed next to a record saying "2 fail"; claims must be mechanical,
not prose).

Usage: python tools/gen_readme_status.py <round>   # e.g. 10
Reads ORACLE_LOCAL_r{N}.txt, extracts each SF section's summary line,
and rewrites the README block between the markers
<!-- correctness:begin --> and <!-- correctness:end -->.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n = f"{int(sys.argv[1]):02d}"
    rec = f"ORACLE_LOCAL_r{n}.txt"
    txt = open(os.path.join(REPO, rec)).read()
    # per-SF summary: the "N pass, M fail, K rows-only" line that ends
    # each section (the whole-file tail is the sf0.1 section's)
    sections = re.split(r"=== (sf[\d.]+) ===", txt)[1:]
    parts = []
    for sf, body in zip(sections[::2], sections[1::2]):
        m = re.findall(r"^(\d+ pass, \d+ fail, \d+ rows-only)$",
                       body, re.M)
        parts.append(f"{sf}: {m[-1] if m else 'NO SUMMARY LINE'}")
    block = (
        "<!-- correctness:begin -->\n"
        f"- Correctness (machine-quoted from `{rec}` by\n"
        "  `tools/gen_readme_status.py` — the committed record IS the\n"
        "  claim): " + "; ".join(parts) + ".\n"
        "  Gate: `python tools/verify_oracle.py <sf_dir>` (row count +\n"
        "  columns + order-insensitive value hash vs DuckDB). Oracle SQL\n"
        "  is version-proofed (no `//`, no HUGEINT-typed final columns,\n"
        "  FLOOR-quantized argmin keys — see `ORACLE_VERSIONS.txt` and\n"
        "  `tools/oracle_dtype_audit.py`).\n"
        "<!-- correctness:end -->")
    readme = open(os.path.join(REPO, "README.md")).read()
    out, cnt = re.subn(
        r"<!-- correctness:begin -->.*?<!-- correctness:end -->",
        block.replace("\\", r"\\"), readme, flags=re.S)
    if cnt != 1:
        raise SystemExit("README markers not found (expected exactly 1)")
    open(os.path.join(REPO, "README.md"), "w").write(out)
    print(f"README correctness block regenerated from {rec}:")
    for p in parts:
        print(" ", p)


if __name__ == "__main__":
    main()
