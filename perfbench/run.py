#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, timed end to end, with
every result checked against the reference model (``oracle/refmodel``).

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Run it from the repository root. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` runs the same workload with spans around the
benchmark's calls into each layer and reports the per-layer metrics,
writing the spans to ``.perfbench_out/``. A report goes to stdout first;
the last line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything else the run
writes lives under ``.perfbench_work/`` and is removed when it ends.
Every process the run starts (the input generator, the JVM and its
Python workers, the bandwidth probes) has ended before it returns.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from search_engine_spark.config import EngineConfig  # noqa: E402
from search_engine_spark.session import build_session  # noqa: E402
from search_engine_spark.sources.index_store import STAGES  # noqa: E402

# name -> unit; BENCHMARK.json lists the same names
END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "items_per_s": "1/s",
    "index_bytes_per_doc": "B",
    "peak_rss_mb": "MB",
}
_BUILD_METRICS = {
    "wall_s": "s", "jobs": "count", "stages": "count", "input_bytes": "B",
    "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
    "output_bytes": "B", "task_run_s": "s", "jvm_cpu_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "functions.extract_docs_per_s": "1/s",
    "functions.extract_cpu_s": "s",
    "functions.tokenize_docs_per_s": "1/s",
    "functions.tokenize_cpu_s": "s",
    "functions.encode_postings_per_s": "1/s",
    "functions.decode_score_postings_per_s": "1/s",
    **{f"build.{st}.{m}": u for st in STAGES + ("other",)
       for m, u in _BUILD_METRICS.items()},
    "build.proc_cpu_s": "s",
    **{f"index_store.{st}.{m}": u for st in STAGES
       for m, u in (("bytes", "B"), ("files", "count"))},
    "query.open_s": "s",
    "query.jobs_per_query": "count",
    "query.stages_per_query": "count",
    "query.input_bytes_per_query": "B",
    "query.task_run_ms_per_query": "ms",
    **{f"query.p50_ms.{sh}": "ms" for sh in corpus.SHAPES},
    "query.batch_qps": "1/s",
    "query.batch.jobs": "count",
    "query.long_list_share": "ratio",
    "query.repeat_term_share": "ratio",
    "stream.ingest_docs_per_s": "1/s",
    "stream.fresh_query_p50_ms": "ms",
    "stream.epoch.trigger_ms": "ms",
    "stream.epoch.add_batch_ms": "ms",
    "stream.epoch.wal_commit_ms": "ms",
    "stream.epoch.jobs": "count",
    "stream.segments_live": "count",
    "stream.query.jobs": "count",
    "stream.compact_s": "s",
    "stream.compact.jobs": "count",
    "box.stream_bw_gb_s.launch": "GB/s",
    "box.stream_bw_gb_s.end": "GB/s",
    "trace.op_p50_ms": "ms",
    "trace.overhead_pct": "%",
}

# Sizes. 12k docs is the smallest corpus of this generator in which
# several head terms have df > 64 blocks x 128 (wand_min_blocks x
# block_size at the default config), so the block-max routes run.
FULL = dict(n_docs=12_000, warm_docs=1_000, kernel_sample=400,
            stream_epochs=2, stream_epoch_docs=300, probe_trials=3)
SMOKE = dict(n_docs=600, warm_docs=100, kernel_sample=50, stream_epochs=2,
             stream_epoch_docs=40, probe_trials=1)
# query rounds the oracle answers ahead; a run stops when they run out.
# One round of seven searches takes longer than a 10 s run, so a run
# times one round; the second is there for a faster box.
ROUNDS = 2


def box_stream_bw(trials: int, reps: int = 2) -> float:
    """Memory bandwidth of the box, GB/s: ``membw_probe.run_pinned``
    once per trial on every core, the per-trial total, max over trials.
    The maximum of whole trials, never of per-core bests taken from
    different trials."""
    scripts = os.path.join(ROOT, "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import membw_probe

    gb = reps * 2 * 400_000_000 / 1e9
    cores = list(range(os.cpu_count() or 1))[:4]
    return max(sum(gb / t for t in membw_probe.run_pinned("stream", cores, reps))
               for _ in range(trials))


def sizing() -> tuple:
    """local[N] with N <= nproc (at most 4) and a heap of an eighth of
    the box's memory, at most 1 GiB: ample for the 12k-doc corpus."""
    cores = max(1, min(4, len(os.sched_getaffinity(0))))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    return cores, min(total_mb // 8, 1024)


def adopt_orphans() -> None:
    """Makes this process the subreaper of its tree: a descendant whose
    parent ends (the JVM's launcher shell, the Python workers once the
    JVM has gone) becomes this process's child, for ``reap`` to wait
    for, instead of running on under init."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def stop_jvm(spark) -> None:
    """Stops the session and the JVM that PySpark launched for it, and
    waits for the JVM to end. ``SparkSession.stop`` leaves the JVM
    running until this process exits; it exits when its stdin closes."""
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def reap(timeout_s: float = 30.0) -> None:
    """Waits until this process has no child left, orphans adopted by
    ``adopt_orphans`` included; kills the tree's remaining processes
    once ``timeout_s`` has passed."""
    deadline = time.monotonic() + timeout_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in spans._tree_pids(os.getpid()):
                if p != os.getpid():
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)


def run(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpus, for the benchmark's own tests")
    args = ap.parse_args(argv)
    size = SMOKE if args.smoke else FULL

    cores, heap_mb = sizing()
    adopt_orphans()
    layer = {}
    if args.trace:
        layer["box.stream_bw_gb_s.launch"] = box_stream_bw(size["probe_trials"])

    # Spark, its Python workers and tempfile all write under the work
    # dir; the process-wide settings for that are put back at the end
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                            dir=os.path.join(ROOT, ".perfbench_work"))
    saved_env = {k: os.environ.get(k) for k in ("TMPDIR", "PYSPARK_SUBMIT_ARGS")}
    saved_tempdir = tempfile.tempdir
    os.environ["TMPDIR"] = tempfile.tempdir = work
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options '-Djava.io.tmpdir={work}'",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
        "pyspark-shell",
    ])
    cfg = EngineConfig(index_partitions=cores)
    spark = None
    try:
        inputs = corpus.inputs(size["n_docs"], args.seed, work, cfg,
                               size["warm_docs"], ROUNDS)
        t0 = time.perf_counter()
        spark = build_session(
            cpus=cores, shuffle_partitions=cores,
            app_name=f"perfbench_{args.workload}",
            driver_memory=f"{heap_mb}m",
            local_dir=os.path.join(work, "spark-local"))
        spark.sparkContext.setLogLevel("ERROR")
        layer["session.start_s"] = time.perf_counter() - t0
        ctx = workloads.Ctx(
            spark=spark, cfg=cfg, inputs=inputs,
            tracer=spans.Tracer(spark.sparkContext if args.trace else None),
            work=work, seed=args.seed, seconds=args.seconds, t0=t0,
            kernel_sample=size["kernel_sample"],
            stream_epochs=size["stream_epochs"],
            stream_epoch_docs=size["stream_epoch_docs"])
        out = workloads.WORKLOADS[args.workload](ctx)
        peak_rss_mb = spans.tree_peak_rss_mb()
    finally:
        stop_jvm(spark)
        reap()
        shutil.rmtree(work, ignore_errors=True)
        tempfile.tempdir = saved_tempdir
        for k, v in saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    if args.trace:
        layer["box.stream_bw_gb_s.end"] = box_stream_bw(size["probe_trials"])
        ctx.tracer.write(
            os.path.join(ROOT, ".perfbench_out",
                         f"trace-{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, **out.info})
    layer.update(out.layer)

    e2e = {
        "setup_s": out.setup_s,
        "op_p50_ms": (statistics.median(out.op_walls_s) * 1e3
                      if out.op_walls_s else 0.0),
        "items_per_s": out.items_per_s,
        "index_bytes_per_doc": out.index_bytes_per_doc,
        "peak_rss_mb": peak_rss_mb,
    }
    chosen = ({k: (layer.get(k, 0.0), u) for k, u in PER_LAYER.items()}
              if args.trace else
              {k: (e2e[k], u) for k, u in END_TO_END.items()})
    record = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in chosen.items()},
    }
    info = {"workload": args.workload, "seed": args.seed,
            "master": f"local[{cores}]", "heap_mb": heap_mb,
            "timed_ops": len(out.op_walls_s),
            "error_rate": out.failed / out.attempted, **out.info}
    return record, info, out


def main(argv=None) -> int:
    # a terminated run still stops Spark and its input process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    record, info, _ = run(argv)
    for k, v in info.items():
        print(f"{k} = {v}")
    for k, m in record["metrics"].items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
