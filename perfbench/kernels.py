"""The ``functions`` layer timed in-process, without the JVM: the Arrow
kernel bodies on a seeded sample of the workload's own input. Rates are
items per wall second; CPU is this process's CPU time for the call."""

from __future__ import annotations

import time
from typing import Dict, List

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from search_engine_spark.functions import codec
from search_engine_spark.functions.html_extract import extract_html
from search_engine_spark.functions.tokenizer import batch_token_codes


def _timed(fn):
    w0, c0 = time.perf_counter(), time.process_time()
    fn()
    return time.perf_counter() - w0, time.process_time() - c0


def measure(pdf: pd.DataFrame, blocks_dir: str,
            postings: Dict[str, List[int]], avgdl: float, cfg, sample: int,
            seed: int) -> Dict[str, float]:
    """``postings`` maps long-list terms to their doc ids: encode runs on
    their gaps, decode and score on their blocks in the built index."""
    rng = np.random.default_rng(seed)
    rows = rng.choice(len(pdf), size=min(sample, len(pdf)), replace=False)
    htmls = pdf["html"].iloc[rows].tolist()
    texts: List[str] = []

    def extract():
        texts.extend(extract_html(h)[1] for h in htmls)

    ex_wall, ex_cpu = _timed(extract)
    tok_wall, tok_cpu = _timed(lambda: batch_token_codes(texts, cfg))

    gaps = [np.diff(np.asarray(ids, dtype=np.int64), prepend=0)
            for ids in postings.values()]
    n_enc = sum(len(g) for g in gaps)
    enc_wall, _ = _timed(lambda: [codec.vb_encode_arr(g) for g in gaps])

    blocks = pq.read_table(
        blocks_dir, columns=["doc_gaps", "tfs", "dls"],
        filters=[("term", "in", list(postings))],
    ).to_pydict()
    n_dec = sum(len(ids) for ids in postings.values())

    def decode_score():
        for g, t, d in zip(blocks["doc_gaps"], blocks["tfs"], blocks["dls"]):
            _, tf, dl = codec.decode_block(g, t, d)
            codec.bm25_stf(tf, dl, avgdl, cfg.k1, cfg.b)

    dec_wall, _ = _timed(decode_score)
    n = len(htmls)
    return {
        "functions.extract_docs_per_s": n / ex_wall,
        "functions.extract_cpu_s": ex_cpu,
        "functions.tokenize_docs_per_s": n / tok_wall,
        "functions.tokenize_cpu_s": tok_cpu,
        "functions.encode_postings_per_s": n_enc / enc_wall,
        "functions.decode_score_postings_per_s": n_dec / dec_wall,
    }
