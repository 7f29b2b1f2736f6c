"""The workloads. Each is one closed-loop client in one process: the
next operation starts when the previous one has returned.

build  full ``build_index`` runs of the seeded corpus, each into a
       fresh directory; every build's stats are checked against the
       oracle's. Kernel and shuffle layers do the work, no query runs.
query  top-10 ``search(with_meta=True)`` calls over an index of the same
       corpus, in whole rounds of the seven query shapes; every top-k is
       checked for rank identity against the oracle.

In a traced run every timed operation is traced. The query workload's
traced run adds one ``search_batch``; the build workload's traced run
then drives the streaming indexer (``stream_pass``).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Dict, List

from pyspark.sql import functions as F

import corpus
import kernels
from oracle import rank_identical, same_by_url, stats_match
from spans import Tracer, all_job_ids
from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.query_eval import SearchEngine
from search_engine_spark.sources.index_store import STAGES, IndexStore

K = 10
BATCH = 4
_BUILD_COUNTS = ("jobs", "stages", "input_bytes", "shuffle_read_bytes",
                 "shuffle_write_bytes", "output_bytes", "task_run_s",
                 "jvm_cpu_s")


@dataclass
class Ctx:
    spark: object
    cfg: EngineConfig
    tracer: Tracer
    inputs: dict                # corpus.inputs: paths and answers
    work: str
    seed: int
    seconds: float
    kernel_sample: int
    stream_epochs: int
    stream_epoch_docs: int
    t0: float                   # process start, the origin of setup_s


@dataclass
class Outcome:
    setup_s: float = 0.0
    op_walls_s: List[float] = field(default_factory=list)
    items_per_s: float = 0.0
    index_bytes_per_doc: float = 0.0
    attempted: int = 0
    failed: int = 0
    layer: Dict[str, float] = field(default_factory=dict)
    info: Dict[str, object] = field(default_factory=dict)
    # per operation, what it returned, for comparing two runs
    results: Dict[str, object] = field(default_factory=dict)


def topk(rows) -> List[tuple]:
    """(doc_id, score) pairs of a collected top-k, in rank order."""
    return [(r["doc_id"], r["score"]) for r in rows]


def _failed(what: str) -> None:
    print(f"[perfbench] operation failed: {what}", file=sys.stderr)
    traceback.print_exc()


def _mismatch(what: str) -> None:
    print(f"[perfbench] {what} differs from the oracle", file=sys.stderr)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def store_layout(index_dir: str) -> Dict[str, float]:
    out = {}
    for st in STAGES:
        p = os.path.join(index_dir, st)
        out[f"index_store.{st}.bytes"] = dir_bytes(p)
        out[f"index_store.{st}.files"] = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(p) for f in fs)
    return out


@contextmanager
def stage_spans(tracer: Tracer):
    """One span, under its own job group, per ``IndexStore.write_stage``
    call while the block runs. The benchmark installs this wrapper from
    outside, in traced runs only; the engine is unchanged."""
    if not tracer.enabled:
        yield
        return
    orig = IndexStore.write_stage

    def write_stage(self, stage, df, wall_start):
        with tracer.span(f"build.{stage}", group=True):
            return orig(self, stage, df, wall_start)

    IndexStore.write_stage = write_stage
    try:
        yield
    finally:
        IndexStore.write_stage = orig


def run_build(ctx: Ctx, pages, index_dir: str, op: int) -> float:
    t = time.perf_counter()
    with ctx.tracer.span("build", op=op, group=True), stage_spans(ctx.tracer):
        build_index(ctx.spark, pages, index_dir, cfg=ctx.cfg)
    return time.perf_counter() - t


def build_layer(tracer: Tracer) -> Dict[str, float]:
    """Per-build means over the traced builds: one row per stage, plus
    ``other``, the rest of ``build_index``. Jobs a stage's DataFrame
    runs while it is being defined, before ``write_stage`` (the docs
    stage's id assignment, which runs extraction), count as other."""
    builds = tracer.named("build")
    if not builds:
        return {}
    ids = {b["id"] for b in builds}
    n = len(builds)
    out: Dict[str, float] = {}
    for st in STAGES:
        spans = [s for s in tracer.named(f"build.{st}") if s["parent"] in ids]
        out[f"build.{st}.wall_s"] = sum(s["end"] - s["start"] for s in spans) / n
        for m in _BUILD_COUNTS:
            out[f"build.{st}.{m}"] = sum(s["counts"][m] for s in spans) / n
    out["build.other.wall_s"] = sum(
        b["end"] - b["start"] for b in builds) / n - sum(
        out[f"build.{st}.wall_s"] for st in STAGES)
    for m in _BUILD_COUNTS:
        out[f"build.other.{m}"] = sum(b["counts"][m] for b in builds) / n
    out["build.proc_cpu_s"] = sum(b["counts"]["proc_cpu_s"] for b in builds) / n
    return out


def _traced_extras(ctx: Ctx, out: Outcome, ans: dict, index_dir: str,
                   op_cost_s: float) -> None:
    out.layer.update(build_layer(ctx.tracer))
    out.layer.update(store_layout(index_dir))
    out.layer.update(kernels.measure(
        corpus.read(ans["path"]), os.path.join(index_dir, "blocks"),
        ans["kernel_postings"], ans["avgdl"], ctx.cfg, ctx.kernel_sample,
        ctx.seed))
    if out.op_walls_s:
        out.layer["trace.op_p50_ms"] = statistics.median(out.op_walls_s) * 1e3
        out.layer["trace.overhead_pct"] = (
            op_cost_s / sum(out.op_walls_s) * 100)


# -- build ----------------------------------------------------------------

def build(ctx: Ctx) -> Outcome:
    ans = ctx.inputs
    # warm-up on a slice: the first build pays JIT and Python worker
    # start-up whatever its size
    with ctx.tracer.span("setup"):
        t = time.perf_counter()
        build_index(ctx.spark, ctx.spark.read.parquet(ans["warm_path"]),
                    os.path.join(ctx.work, "idx_warm"), cfg=ctx.cfg)
        warm_s = time.perf_counter() - t
    pages = ctx.spark.read.parquet(ans["path"])
    out = Outcome(setup_s=time.perf_counter() - ctx.t0)

    prev = None
    op = 0
    cost = ctx.tracer.cost_s
    deadline = time.perf_counter() + ctx.seconds
    # at least two builds, so the median is never a single sample
    while op < 2 or time.perf_counter() < deadline:
        d = os.path.join(ctx.work, f"idx_{op}")
        out.attempted += 1
        try:
            wall = run_build(ctx, pages, d, op)
            meta = IndexStore(d).read_meta()
        except Exception:
            _failed(f"build {op}")
            out.failed += 1
        else:
            out.op_walls_s.append(wall)
            out.results[f"build{op}"] = meta["stats"]
            if not stats_match(meta, ans["stats"], ans["avgdl"]):
                _mismatch(f"build {op} stats")
                out.failed += 1
            out.index_bytes_per_doc = dir_bytes(d) / ans["n_docs"]
            if prev:
                shutil.rmtree(prev, ignore_errors=True)
            prev = d
        op += 1
    op_cost = ctx.tracer.cost_s - cost
    if out.op_walls_s:
        out.items_per_s = (ans["n_docs"] * len(out.op_walls_s)
                           / sum(out.op_walls_s))
    out.info.update(docs=ans["n_docs"], warmup_build_s=warm_s)

    if ctx.tracer.enabled and prev:
        _traced_extras(ctx, out, ans, prev, op_cost)
        stream_pass(ctx, out)
    return out


# -- query ----------------------------------------------------------------

def query(ctx: Ctx) -> Outcome:
    ans = ctx.inputs
    idx = os.path.join(ctx.work, "idx")
    with ctx.tracer.span("setup"):
        run_build(ctx, ctx.spark.read.parquet(ans["path"]), idx, op=-1)
        t = time.perf_counter()
        with ctx.tracer.span("query.open", group=True):
            eng = SearchEngine(ctx.spark, idx)
            eng.docmeta.count()
            eng.blocks.count()
        open_s = time.perf_counter() - t
    out = Outcome(setup_s=time.perf_counter() - ctx.t0,
                  index_bytes_per_doc=dir_bytes(idx) / ans["n_docs"])

    got: Dict[int, list] = {}
    walls: Dict[int, float] = {}
    ran: List[corpus.Query] = []
    cost = ctx.tracer.cost_s
    deadline = time.perf_counter() + ctx.seconds
    # whole rounds, so every run times the same mix of shapes
    for q in ans["queries"]:
        if q.shape == corpus.SHAPES[0] and ran and \
                time.perf_counter() >= deadline:
            break
        ran.append(q)
        out.attempted += 1
        flt = None if q.max_doc_len is None else F.col("doc_len") <= q.max_doc_len
        t = time.perf_counter()
        try:
            with ctx.tracer.span(f"query.{q.shape}", op=q.qid, group=True):
                rows = eng.search(q.text, K, meta_filter=flt).collect()
        except Exception:
            _failed(f"query {q.text!r}")
            out.failed += 1
            continue
        walls[q.qid] = time.perf_counter() - t
        got[q.qid] = topk(rows)
    op_cost = ctx.tracer.cost_s - cost
    out.op_walls_s = list(walls.values())
    out.items_per_s = len(walls) / sum(walls.values()) if walls else 0.0

    for qid, res in got.items():
        out.results[f"q{qid}"] = res
        if not rank_identical(res, ans["expected"][qid]):
            _mismatch(f"query {qid} top-k")
            out.failed += 1

    heads = set(ans["heads"])
    seen: set = set()
    long_n = repeat_n = 0
    for q in ran:
        terms = set(corpus.query_terms(q.text))
        long_n += bool(terms & heads)
        repeat_n += bool(terms) and terms <= seen
        seen |= terms
    out.info.update(queries=len(ran), head_terms=len(heads),
                    walls_ms=[round(walls[q.qid] * 1e3) for q in ran
                              if q.qid in walls])
    out.layer.update({
        "query.open_s": open_s,
        "query.long_list_share": long_n / len(ran),
        "query.repeat_term_share": repeat_n / len(ran),
    })
    if not ctx.tracer.enabled:
        return out

    _traced_extras(ctx, out, ans, idx, op_cost)
    spans = [s for s in ctx.tracer.spans if s["op"] is not None
             and s["op"] >= 0 and s["name"].startswith("query.")]
    n = max(len(spans), 1)
    for m, key, scale in (("jobs_per_query", "jobs", 1),
                          ("stages_per_query", "stages", 1),
                          ("input_bytes_per_query", "input_bytes", 1),
                          ("task_run_ms_per_query", "task_run_s", 1e3)):
        out.layer[f"query.{m}"] = sum(s["counts"][key] for s in spans) * scale / n
    for shape in corpus.SHAPES:
        w = [walls[q.qid] for q in ran if q.shape == shape and q.qid in walls]
        out.layer[f"query.p50_ms.{shape}"] = (
            statistics.median(w) * 1e3 if w else 0.0)
    _batch(ctx, idx, ans, ran, out)
    return out


def _batch(ctx: Ctx, idx: str, ans: dict, ran, out: Outcome) -> None:
    """One ``search_batch`` over the first queries of the run, for the
    per-layer ``query.batch_*`` metrics. ``search_batch`` takes one
    meta_filter for all its queries, so the filter shape stays out. It
    runs on an engine opened for it: the run's engine has memoized the
    term stats and block metadata of these queries, and the batch would
    skip the prefetch jobs it exists to share."""
    batch = [q for q in ran if q.max_doc_len is None][:BATCH]
    eng = SearchEngine(ctx.spark, idx)
    out.attempted += 1
    t = time.perf_counter()
    try:
        with ctx.tracer.span("query.batch", group=True) as sp:
            rows = eng.search_batch([q.text for q in batch], K).collect()
    except Exception:
        _failed("search_batch")
        out.failed += 1
        return
    out.layer["query.batch_qps"] = len(batch) / (time.perf_counter() - t)
    out.layer["query.batch.jobs"] = sp["counts"]["jobs"]
    by_q: Dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (-r["score"], r["doc_id"])):
        by_q.setdefault(r["query"], []).append((r["doc_id"], r["score"]))
    if not all(rank_identical(by_q.get(q.text, []), ans["expected"][q.qid])
               for q in batch):
        _mismatch("search_batch top-k")
        out.failed += 1


# -- stream (traced build runs) ---------------------------------------------

def stream_pass(ctx: Ctx, out: Outcome) -> None:
    """Epochs of new pages ingested by ``IncrementalIndexer`` with
    ``availableNow``, a few live ``search_query`` calls after each, then
    one ``compact``. Job groups do not reach the stream thread, so jobs
    are counted by diffing the status store's job ids, and epoch phases
    come from ``StreamingQueryProgress.durationMs``. Live results are
    compared with the oracle by url: stream doc ids are assigned per
    epoch, not by url rank."""
    from search_engine_spark.streaming.incremental import IncrementalIndexer

    sc = ctx.spark.sparkContext
    n = ctx.stream_epoch_docs
    pdf = corpus.pages(ctx.stream_epochs * n, ctx.seed + 1)
    landing = os.path.join(ctx.work, "landing")
    os.makedirs(landing)
    sdir = os.path.join(ctx.work, "stream_idx")
    ixer = IncrementalIndexer(ctx.spark, sdir, ctx.cfg)
    phases = {"triggerExecution": [], "addBatch": [], "walCommit": []}
    epoch_jobs, epoch_walls, fresh_walls, fresh_jobs = [], [], [], []
    for e in range(ctx.stream_epochs):
        corpus.write_parquet(pdf.iloc[e * n:(e + 1) * n],
                             os.path.join(landing, f"epoch{e}.parquet"))
        jobs0 = all_job_ids(sc)
        out.attempted += 1
        t = time.perf_counter()
        try:
            with ctx.tracer.span("stream.epoch", op=e):
                q = ixer.start(landing, available_now=True)
                q.awaitTermination()
        except Exception:
            _failed(f"stream epoch {e}")
            out.failed += 1
            return
        epoch_walls.append(time.perf_counter() - t)
        epoch_jobs.append(len(all_job_ids(sc) - jobs0))
        for p in q.recentProgress:
            for k in phases:
                phases[k].append(p.durationMs.get(k, 0))

        oracle = corpus.oracle_for(pdf.iloc[:(e + 1) * n], ctx.cfg)
        live = [q for q in corpus.query_stream(oracle, 1, ctx.seed + e)
                if q.shape in ("term", "and")]
        for q in live:
            out.attempted += 1
            jobs0 = all_job_ids(sc)
            t = time.perf_counter()
            try:
                with ctx.tracer.span("stream.query", op=e):
                    rows = ixer.search_query(q.text, K).collect()
                    ids = [r["doc_id"] for r in rows]
                    urls = {r["doc_id"]: r["url"] for r in ixer.docmeta()
                            .filter(F.col("doc_id").isin(ids))
                            .select("doc_id", "url").collect()}
            except Exception:
                _failed(f"stream query {q.text!r}")
                out.failed += 1
                continue
            fresh_walls.append(time.perf_counter() - t)
            fresh_jobs.append(len(all_job_ids(sc) - jobs0))
            res = [(urls.get(r["doc_id"]), r["score"]) for r in rows]
            out.results[f"stream{e}.{q.shape}"] = res
            if not same_by_url(res, oracle, q.text, K):
                _mismatch(f"stream query {q.text!r} top-k")
                out.failed += 1

    with open(os.path.join(sdir, "stream_state.json")) as f:
        segments_live = len(json.load(f)["segments"])
    jobs0 = all_job_ids(sc)
    out.attempted += 1
    t = time.perf_counter()
    try:
        with ctx.tracer.span("stream.compact"):
            ixer.compact(os.path.join(ctx.work, "stream_compact"))
    except Exception:
        _failed("stream compact")
        out.failed += 1
    compact_s = time.perf_counter() - t

    def per_epoch(xs):
        return sum(xs) / len(epoch_walls)

    out.layer.update({
        "stream.ingest_docs_per_s": ctx.stream_epochs * n / sum(epoch_walls),
        "stream.fresh_query_p50_ms": (
            statistics.median(fresh_walls) * 1e3 if fresh_walls else 0.0),
        "stream.epoch.trigger_ms": per_epoch(phases["triggerExecution"]),
        "stream.epoch.add_batch_ms": per_epoch(phases["addBatch"]),
        "stream.epoch.wal_commit_ms": per_epoch(phases["walCommit"]),
        "stream.epoch.jobs": per_epoch(epoch_jobs),
        "stream.segments_live": segments_live,
        "stream.query.jobs": (sum(fresh_jobs) / len(fresh_jobs)
                              if fresh_jobs else 0.0),
        "stream.compact_s": compact_s,
        "stream.compact.jobs": len(all_job_ids(sc) - jobs0),
    })


WORKLOADS: Dict[str, Callable[[Ctx], Outcome]] = {
    "build": build,
    "query": query,
}
