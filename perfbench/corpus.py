"""Seeded inputs and the oracle's answers for them.

The corpus is ``pages_source.generate_pages_pdf`` with its defaults
(Zipf vocabulary of ~4k terms, ~97 tokens per doc, 20% html-only rows,
2% duplicate urls, 2% url variants). The generator yields the same urls
for every seed, so every url here carries a ``/s<seed>/`` prefix: two
corpora of different seeds never collapse into one under url dedup.
Stream epochs are row slices of one generated frame, so they share one
vocabulary and their urls are distinct.

``inputs`` prepares a run's corpus and the oracle's answers in a child
Python process and waits for it to end, before the run starts Spark or its
clock: the oracle's memory stays out of the measured process tree, and
nothing of the harness runs beside the timed work.
"""

from __future__ import annotations

import os
import pickle
import random
import subprocess
import sys
from dataclasses import dataclass
from typing import List, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from oracle import FrozenRefIndex
from search_engine_spark.functions.html_extract import extract_html
from search_engine_spark.plans import query_parser as qp
from search_engine_spark.sources.pages_source import generate_pages_pdf

SHAPES = ("term", "and", "or", "not", "tree", "phrase", "filter")
# query text per shape, over the shape's term slots
_TEMPLATES = {
    "term": "{0}",
    "and": "{0} && {1}",
    "or": "{0} || {1}",
    "not": "{0} && !{1}",
    "tree": "({0} && {1}) || ({2} && !{3})",
    "phrase": "",
    "filter": "{0} || {1}",
}


def pages(n_docs: int, seed: int) -> pd.DataFrame:
    pdf = generate_pages_pdf(n_docs, seed=seed)
    pdf["url"] = pdf["url"].str.replace(
        "https://example.org/", f"https://example.org/s{seed}/", regex=False
    )
    return pdf


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    """One parquet file with ``warc_ts`` as microsecond TIMESTAMP:
    pyarrow's nanosecond default is rejected by Spark's parquet reader
    (PARQUET_TYPE_ILLEGAL). Written beside ``path`` and renamed into
    place, so a stream reading the directory never sees half a file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp,
                   coerce_timestamps="us")
    os.replace(tmp, path)


def read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def oracle_rows(pdf: pd.DataFrame) -> List[dict]:
    """Rows as the engine sees them: html-only rows are extracted."""
    rows = []
    for url, ts, html, text in zip(pdf["url"], pdf["warc_ts"], pdf["html"],
                                   pdf["text"]):
        if text is None:
            text = extract_html(html)[1]
        rows.append({"url": url, "warc_ts": ts, "title": "", "text": text})
    return rows


def oracle_for(pdf: pd.DataFrame, cfg) -> FrozenRefIndex:
    return FrozenRefIndex.from_rows(oracle_rows(pdf), cfg)


def query_terms(text: str) -> List[str]:
    ast = qp.parse(text)
    return [] if ast is None else qp.extract_terms(ast)


@dataclass(frozen=True)
class Query:
    qid: int
    shape: str
    text: str
    # doc_len upper bound of the meta_filter shape, else None
    max_doc_len: Optional[int] = None


def query_stream(oracle, rounds: int, seed: int) -> List[Query]:
    """Seeded rounds of queries, one of each shape per round. Terms are
    drawn Zipf-weighted (s = 1) over the oracle's dictionary ranked by
    df, so head terms (the long posting lists) recur and tail terms
    appear too. The draws of one round are stratified: its uniforms fall
    one per equal slice of [0, 1), and which term slot gets which slice
    depends on the round's index, not on the seed. So round r of every
    seed gives each shape terms of the same df band, and the same route
    through the engine, while the terms themselves follow the seed.
    Phrases are two adjacent tokens of a random document, so they hit."""
    rng = random.Random(seed)
    terms = sorted(oracle.postings, key=lambda t: (-oracle.df(t), t))
    w = 1.0 / np.arange(1, len(terms) + 1, dtype=np.float64)
    cum = np.cumsum(w / w.sum())
    slots = {sh: t.count("{") for sh, t in _TEMPLATES.items()}
    n_slots = sum(slots.values())
    lens = sorted(d.doc_len for d in oracle.docs)
    out: List[Query] = []
    for r in range(rounds):
        strata = random.Random(r).sample(range(n_slots), n_slots)
        u = iter((k + rng.random()) / n_slots for k in strata)
        for shape in SHAPES:
            picked = [terms[min(int(np.searchsorted(cum, next(u))),
                                len(terms) - 1)]
                      for _ in range(slots[shape])]
            max_len = None
            if shape == "phrase":
                text = _phrase(oracle, rng)
            else:
                text = _TEMPLATES[shape].format(*picked)
            if shape == "filter":
                # doc_len cut at a quantile in [0.2, 0.5]: the share of
                # docs the filter keeps
                q = rng.uniform(0.2, 0.5)
                max_len = lens[int(q * (len(lens) - 1))]
            out.append(Query(len(out), shape, text, max_len))
    return out


def _phrase(oracle, rng: random.Random) -> str:
    from search_engine_spark.functions.tokenizer import tokenize_text

    while True:
        doc = oracle.docs[rng.randrange(len(oracle.docs))]
        toks = tokenize_text(doc.text, oracle.cfg)
        if len(toks) >= 2:
            i = rng.randrange(len(toks) - 1)
            return f'"{toks[i]} {toks[i + 1]}"'


def head_terms(oracle, cfg) -> List[str]:
    """Terms with more than ``wand_min_blocks`` blocks: the long lists
    the block-max pruned routes are for."""
    lim = cfg.wand_min_blocks * cfg.block_size
    return sorted(t for t, p in oracle.postings.items() if len(p) > lim)


def prepare(n_docs, seed, work, cfg, warm_docs, rounds) -> None:
    """Child process: the warm-up slice and the corpus as parquet, and
    the oracle's answers, pickled to ``work/oracle.pkl``: the build
    stats, the query stream with each query's expected top-10, and the
    head terms' postings."""
    pdf = pages(n_docs, seed)
    write_parquet(pdf.iloc[:warm_docs], os.path.join(work, "warm.parquet"))
    write_parquet(pdf, os.path.join(work, "pages.parquet"))
    oracle = oracle_for(pdf, cfg)
    queries = query_stream(oracle, rounds, seed)
    heads = head_terms(oracle, cfg)
    # the kernels time encode and decode on long lists; a corpus too
    # small to have any uses its four most frequent terms
    kernel_terms = heads or sorted(oracle.postings,
                                   key=lambda t: -oracle.df(t))[:4]
    answers = {
        "n_docs": oracle.n_docs,
        "stats": oracle.stats(),
        "avgdl": oracle.avgdl,
        "queries": queries,
        "expected": {q.qid: oracle.search_filtered(q.text, 10, q.max_doc_len)
                     for q in queries},
        "heads": heads,
        "kernel_postings": {t: [d for d, _, _ in oracle.postings[t]]
                            for t in kernel_terms},
    }
    with open(os.path.join(work, "oracle.pkl"), "wb") as f:
        pickle.dump(answers, f)


def inputs(n_docs, seed, work, cfg, warm_docs, rounds) -> dict:
    """Runs ``prepare`` in a child process to its end. Returns the
    oracle's answers, with the parquet paths of the warm-up slice
    (``warm_path``) and of the corpus (``path``). The child is a plain
    interpreter, not a ``multiprocessing`` one: that would leave a
    resource tracker process running until this process exits."""
    with open(os.path.join(work, "prepare_args.pkl"), "wb") as f:
        pickle.dump((n_docs, seed, work, cfg, warm_docs, rounds), f)
    here = os.path.dirname(os.path.abspath(__file__))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [here, os.path.dirname(here), os.environ.get("PYTHONPATH", "")]))
    proc = subprocess.Popen(
        [sys.executable, "-c",
         "import pickle, sys, corpus\n"
         "with open(sys.argv[1], 'rb') as f:\n"
         "    corpus.prepare(*pickle.load(f))",
         os.path.join(work, "prepare_args.pkl")], env=env)
    try:
        code = proc.wait()
    finally:
        if proc.poll() is None:
            proc.terminate()
            proc.wait()
    if code != 0:
        raise RuntimeError(f"input generation exited {code}")
    with open(os.path.join(work, "oracle.pkl"), "rb") as f:
        ans = pickle.load(f)
    ans["warm_path"] = os.path.join(work, "warm.parquet")
    ans["path"] = os.path.join(work, "pages.parquet")
    return ans
