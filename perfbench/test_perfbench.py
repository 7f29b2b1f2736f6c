"""The benchmark's own tests, on a tiny corpus (``--smoke``):

    python -m pytest perfbench -q

They check that every named metric is printed with its unit, that a
corrupted top-k counts as a failed operation, and that traced and
untraced runs of one seed return the same results. Every run is a child
Python process, as when the benchmark is run from the command line, so
each has a JVM, heap and temp dir of its own and leaves nothing behind
in the test process."""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMOKE = ["--seed", "3", "--seconds", "2", "--smoke"]

# a child that runs the benchmark in-process after ``patch`` and writes
# its record, report, per-operation results and the processes it still
# has below it once the run has returned, as JSON to argv[1]
CHILD = """
import json, os, sys
sys.path.insert(0, {here!r})
import run, spans, workloads
{patch}
record, info, out = run.run(sys.argv[2:])
left = [p for p in spans._tree_pids(os.getpid()) if p != os.getpid()]
with open(sys.argv[1], "w") as f:
    json.dump({{"record": record, "info": info, "results": out.results,
               "left": left}}, f)
"""

sys.path.insert(0, HERE)
import run  # noqa: E402


def _check(proc):
    assert proc.returncode == 0, proc.stderr[-4000:]
    return proc


def _main(*args):
    """``perfbench/run.py`` as a command; its stdout lines."""
    proc = subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    return _check(proc).stdout.strip().splitlines()


def _smoke(tmp_path, workload, trace, patch=""):
    path = tmp_path / f"{workload}-{trace}.json"
    code = CHILD.format(here=HERE, patch=patch)
    _check(subprocess.run(
        [sys.executable, "-c", code, str(path), "--workload", workload,
         "--trace", str(trace), *SMOKE],
        cwd=ROOT, capture_output=True, text=True, timeout=600))
    with open(path) as f:
        got = json.load(f)
    # the JVM, its Python workers and the input generator have all ended
    assert got["left"] == []
    return got


def test_benchmark_json_names_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"build", "query"}


@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(trace):
    lines = _main("--workload", "query", "--trace", str(trace), *SMOKE)
    record = json.loads(lines[-1])
    assert set(record) == {"correct", "attempted", "failed", "metrics"}
    assert record["correct"] and record["failed"] == 0
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: m["unit"] for k, m in record["metrics"].items()} == want
    for name, unit in want.items():
        assert any(ln.startswith(f"{name} = ") and ln.endswith(f" {unit}")
                   for ln in lines[:-1]), name


def test_corrupted_topk_raises_error_rate(tmp_path):
    patch = ("real = workloads.topk\n"
             "workloads.topk = lambda rows: real(rows)[::-1][:-1]")
    got = _smoke(tmp_path, "query", 0, patch)
    assert got["record"]["failed"] > 0 and not got["record"]["correct"]
    assert got["info"]["error_rate"] > 0


@pytest.mark.parametrize("workload", ["build", "query"])
def test_traced_and_untraced_runs_agree(tmp_path, workload):
    plain = _smoke(tmp_path, workload, 0)["results"]
    traced = _smoke(tmp_path, workload, 1)["results"]
    common = plain.keys() & traced.keys()
    assert common
    for key in common:
        assert plain[key] == traced[key], key
