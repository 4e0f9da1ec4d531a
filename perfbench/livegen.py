"""Open-loop tick generator: one single-threaded process that lands a
small NDJSON file in a watched directory every ``--interval`` seconds,
holding ``--rate`` messages per second from ``--start`` until SIGTERM,
or for at most ``--seconds``. Each line is stamped with its message's
due time. Files are written under a dot name and renamed into place,
so the stream source never sees a partial file.

Prints one JSON line: every due time in microseconds, and how late the
files landed (p99, ms).

    python3 perfbench/livegen.py --dir D --seed 1 --rate 200 \\
        --interval 0.1 --start <epoch s> --seconds 40
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import signal
import time

from datagen import tick_line


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--interval", type=float, required=True)
    ap.add_argument("--start", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args()
    rng = random.Random(a.seed)
    start_us = int(a.start * 1e6)
    step_us = 1e6 / a.rate
    n_files = int(a.seconds / a.interval)
    per_file = round(a.rate * a.interval)
    stop: list[int] = []
    signal.signal(signal.SIGTERM, lambda signum, _frame: stop.append(signum))
    due_us, late_ms, i = [], [], 0
    for k in range(n_files):
        if stop:
            break
        land = a.start + (k + 1) * a.interval
        lines = []
        for _ in range(per_file):
            t_us = start_us + int(i * step_us)
            line, _exp = tick_line(rng, t_us)
            lines.append(line)
            due_us.append(t_us)
            i += 1
        tmp = os.path.join(a.dir, f".f{k:06d}.tmp")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        wait = land - time.time()
        if wait > 0:
            time.sleep(wait)
        if stop:
            os.remove(tmp)
            del due_us[-per_file:]
            break
        os.rename(tmp, os.path.join(a.dir, f"f{k:06d}.ndjson"))
        late_ms.append(max(0.0, (time.time() - land) * 1e3))
    late_ms.sort()
    p99 = late_ms[max(0, math.ceil(0.99 * len(late_ms)) - 1)]
    print(json.dumps({"due_us": due_us, "late_p99_ms": p99}))


if __name__ == "__main__":
    main()
