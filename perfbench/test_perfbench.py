"""The benchmark's own tests: its pieces, its contract with
``BENCHMARK.json``, and a smoke run of every workload, untraced and
traced. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

import run
from datagen import write_capture, write_tables
from harness import (REPO, Tracer, median, parse_sql_metric, pct,
                     stray_writes)

HARNESS_DIR = os.path.dirname(os.path.abspath(__file__))


def _left_running() -> list[str]:
    """Command lines of processes whose environment points into the
    benchmark's temp root: what a run started and did not stop."""
    mark = os.path.join(REPO, ".perfbench_tmp").encode()
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if mark not in f.read():
                    continue
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                out.append(f.read().replace(b"\0", b" ").decode()[:200])
        except OSError:
            continue
    return out
from workloads import WORKLOADS

SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
RUN_PY = os.path.join(REPO, "perfbench", "run.py")


def test_spec_matches_the_emitted_names():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} \
        == run.PER_LAYER
    assert set(run.MEANING) == set(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = write_capture(str(tmp_path / "a"), 7, 3000)
    b = write_capture(str(tmp_path / "b"), 7, 3000)
    assert a == b
    assert (tmp_path / "a").read_bytes() == (tmp_path / "b").read_bytes()
    assert write_capture(str(tmp_path / "c"), 8, 3000) != a
    kinds = [v[0] for v in a.values()]
    assert 0 < kinds.count("heartbeat") < kinds.count("price_tick")
    write_tables(str(tmp_path / "t1"), 3, 0.05)
    write_tables(str(tmp_path / "t2"), 3, 0.05)
    for f in os.listdir(tmp_path / "t1"):
        assert (tmp_path / "t1" / f).read_bytes() \
            == (tmp_path / "t2" / f).read_bytes()


def test_statistics_and_sql_metric_parsing():
    assert median([3, 1, 2]) == 2 and median([1, 2, 3, 4]) == 2.5
    assert pct(range(1, 101), 99) == 99 and pct([5], 99) == 5
    assert parse_sql_metric("2.1 s") == 2100.0
    assert parse_sql_metric("640.0 B") == 640.0
    assert parse_sql_metric("2.0 KiB") == 2048.0
    assert parse_sql_metric(
        "total (min, med, max (stageId: taskId))\n7.2 s (1.0 s, 2.0 s, "
        "3.0 s (stage 3.0: task 4))") == 7200.0


def test_stray_writes_sees_new_changed_and_removed_files():
    before = {"a": (1, 1), "b": (1, 1), "c": (1, 1)}
    after = {"a": (1, 1), "b": (2, 5), "d": (1, 1)}
    assert stray_writes(before, after) == ["b", "c", "d"]
    assert stray_writes(before, dict(before)) == []


def test_reference_speed_scales_times_and_rates_inversely():
    raw = {"setup_s": 20.0, "items_per_s": 100.0, "latency_p50_ms": 50.0,
           "latency_p90_ms": 80.0, "cpu_ms_per_item": 2.0}
    # a host at half the reference speed took twice as long
    ref = run.at_reference_speed(raw, 0.5)
    assert ref == {"setup_s": 10.0, "items_per_s": 200.0,
                   "latency_p50_ms": 25.0, "latency_p90_ms": 40.0,
                   "cpu_ms_per_item": 1.0}
    assert run.HOST_SCALED < set(WORKLOADS)


def test_spans_link_to_their_parent():
    t = Tracer("r", True)
    with t.span("outer"):
        with t.span("inner"):
            sum(range(10**5))
    (outer,), (inner,) = t.durations("outer"), t.durations("inner")
    assert 0 < inner <= outer
    assert t.spans[1]["parent"] == 0 and t.spans[0]["run"] == "r"
    off = Tracer("r", False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_stop_descendants_ends_children_and_orphans():
    # the shell leaves a sleep behind and exits; as subreaper the script
    # still finds the orphan, stops it and waits for it
    script = (
        "import os, subprocess, harness\n"
        "harness.adopt_orphans()\n"
        "sh = subprocess.run(\n"
        "    ['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'],\n"
        "    capture_output=True, text=True)\n"
        "orphan = int(sh.stdout)\n"
        "child = subprocess.Popen(['sleep', '60'])\n"
        "left = harness.stop_descendants(grace_s=0.5)\n"
        "print(left, os.path.exists(f'/proc/{orphan}'), child.poll())\n")
    p = subprocess.run([sys.executable, "-c", script], cwd=HARNESS_DIR,
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    left, orphan_exists, child_status = p.stdout.split()
    assert left == "[]" and orphan_exists == "False"
    assert child_status != "None"


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "tick_replay", "--seed", "1", "--seconds", "1"],
                       cwd=tmp_path, capture_output=True, text=True,
                       timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke(workload, trace, tmp_path):
    """A short run from outside the repository: every metric of the
    mode is emitted with its unit and the outputs check out."""
    # tick_live counts the messages delivered inside the window, so the
    # window must outlast the ~1.5 s latency of a live micro-batch
    seconds = 4 if workload == "tick_live" else 1
    p = subprocess.run([sys.executable, RUN_PY, "--workload", workload,
                        "--seed", "1", "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=tmp_path, capture_output=True, text=True,
                       timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, p.stdout[-3000:]
    assert out["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    if trace and workload == "query_mix":
        # Spark's counters cover one pass, however many passes ran
        record = next(json.loads(line)["record"] for line in
                      p.stdout.splitlines() if line.startswith('{"record"'))
        passes = record["module_counters_per_pass"]
        assert len(passes) >= 2
        for mod in run.OPERATOR_MODULES:
            jobs = {c[mod]["jobs"] for c in passes}
            assert jobs == {out["metrics"][f"{mod}.jobs"]["value"]}, mod
            assert jobs != {0}, mod
    assert os.listdir(tmp_path) == []
    assert _left_running() == []
    assert not os.path.exists(os.path.join(REPO, ".perfbench_tmp"))
