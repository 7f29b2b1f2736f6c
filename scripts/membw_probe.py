"""Measure this box's per-core scaling limits for the two resource
classes an index build consumes: CPU (cache-resident compute) and
memory bandwidth (streaming), at 1 vs 4 pinned cores.

Motivation: the N→4N cluster-scaling harness measured uniform
per-stage efficiency loss — every build stage, including the
shuffle-free postings stage, sped up only ~2.5x at 4 workers. That
pattern (no serial stage, no shuffle bottleneck, uniform slowdown)
points at a shared hardware resource, not the Spark plan. This probe
quantifies it:

* ``compute``: repeated 2000x2000 matmul + md5 over a ~30 MB working
  set (mostly cache-resident) — scales near-linearly if cores are
  real and frequency is flat.
* ``stream``: repeated 400 MB buffer copies — pure memory-bus load.
  On this microVM 4 concurrent single-core streams each run ~4x
  slower than one alone, i.e. TOTAL bandwidth is capped at ~7 GB/s
  regardless of core count. Any job phase that streams (Arrow
  transfer, parquet encode/decode, tmpfs IO, GC) shares that cap.

Real cluster nodes bring their own memory controllers — adding
executors adds bandwidth — so this cap is a single-box artifact that
depresses measured N→4N efficiency without reflecting the plan.

    python scripts/membw_probe.py [--out BENCH_MEMBW.json]

Writes one JSON object with per-mode 1-core / 4-core timings and the
implied per-core efficiency at 4 cores.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WORKER = r"""
import hashlib, sys, time
import numpy as np

mode = sys.argv[1]
reps = int(sys.argv[2]) if len(sys.argv) > 2 else 0
t0 = time.time()
if mode == "compute":
    rng = np.random.default_rng(0)
    a = rng.random((2000, 2000))
    s = 0.0
    for _ in range(12):
        b = a @ a
        s += float(b[0, 0])
        hashlib.md5(a.tobytes()).hexdigest()
else:  # stream
    a = np.zeros(400_000_000, dtype=np.uint8)
    a[:] = 1  # first-touch outside nothing — include fault cost in warmup
    t0 = time.time()
    s = 0
    for _ in range(reps or 25):
        b = a.copy()
        s += int(b[0])
print(time.time() - t0)
"""


def run_pinned(mode: str, cores: list[int],
               reps: int | None = None) -> list[float]:
    env = dict(os.environ)
    for k in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        env[k] = "1"
    argv_tail = [mode] + ([str(reps)] if reps else [])
    procs = [
        subprocess.Popen(
            ["taskset", "-c", str(c), sys.executable, "-c", WORKER,
             *argv_tail],
            stdout=subprocess.PIPE, text=True, env=env,
        )
        for c in cores
    ]
    return [float(p.communicate()[0].strip()) for p in procs]


def best_of(mode: str, cores: list[int], trials: int,
            reps: int | None = None) -> list[float]:
    """Best-of-K per slot (the box injects one-sided stalls)."""
    best = None
    for _ in range(trials):
        r = run_pinned(mode, cores, reps)
        best = r if best is None else [min(a, b) for a, b in zip(best, r)]
    return best


def quick_stream_state(reps: int = 4, trials: int = 3) -> dict:
    """Light bandwidth sample (1-core and 4-core stream with ``reps``
    copies, best-of-``trials``) — the shared box_state probe for
    bench.py and the scaling harnesses.

    Best-of matters: the box injects ONE-SIDED multi-10s stalls (THP
    compaction), and a single stall inside a ~1.4 s 4-rep sample reads
    as ~1 GB/s even when the box is healthy. A single-trial version of
    this probe read 0.2–3 GB/s for hours while the full best-of-3
    probe read 11–14 GB/s minutes apart and actual Spark walls were
    the best on record — the gate never fired because the PROBE
    under-read. Capability = best observed across short trials. The
    4-core figure is each trial's total over its cores, max over
    trials — per-core bests taken from different trials would add up
    to a bandwidth no single trial reached."""
    gb = reps * 2 * 400_000_000 / 1e9
    one = best_of("stream", [0], trials, reps)[0]
    four = max(
        sum(gb / t for t in run_pinned("stream", [0, 1, 2, 3], reps))
        for _ in range(trials)
    )
    return {
        "stream_bw_1core_gb_s": round(gb / one, 2),
        "stream_bw_4core_total_gb_s": round(four, 2),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_MEMBW.json"))
    args = ap.parse_args()

    out = {}
    stream_bytes = 25 * 2 * 400_000_000  # read + write per copy
    for mode in ("compute", "stream"):
        one = best_of(mode, [0], args.trials)[0]
        four = best_of(mode, [0, 1, 2, 3], args.trials)
        worst4 = max(four)
        out[mode] = {
            "t_1core_s": round(one, 3),
            "t_4core_each_s": [round(t, 3) for t in four],
            "percore_efficiency_at_4": round(one / worst4, 3),
        }
        if mode == "stream":
            out[mode]["bw_1core_gb_s"] = round(stream_bytes / one / 1e9, 2)
            out[mode]["bw_4core_total_gb_s"] = round(
                sum(stream_bytes / t for t in four) / 1e9, 2
            )
    print(json.dumps(out, indent=1))
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
