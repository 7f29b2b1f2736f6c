"""Differential test of the query evaluator against the reference model.

Random boolean queries (terms, 2-term phrases with and without ``/N``,
NOT, AND, OR, repeated terms, NOT-only roots) run on one seeded corpus
built twice: with ``block_size=2, wand_min_blocks=0`` (and salted
posting lists), so every query takes a block-max pruned route, and
with the default block settings, so none does. Each query runs with and
without a ``meta_filter``. The top-10, tie order included, must equal
``RefIndex``'s — over the allowed doc_ids in the filtered case — with
scores equal to 1e-9.
"""

import math
import random

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.query_eval import SearchEngine
from search_engine_spark.oracle.refmodel import RefIndex
from search_engine_spark.plans import query_parser as qp

VOCAB = ["apple", "berry", "cedar", "delta", "ember", "fjord", "grove", "heron"]
K = 10
CONFIGS = {
    "pruned": EngineConfig(
        index_partitions=4, block_size=2, wand_min_blocks=0,
        salt_df_threshold=20, salt_buckets=3,
    ),
    "unpruned": EngineConfig(index_partitions=4),
}


def _corpus(n_docs=80, seed=7):
    """Short docs over VOCAB with skewed term frequencies, so scores tie
    often; a few docs hold no VOCAB term (the NOT universe)."""
    rng = random.Random(seed)
    weights = [1.0 / (i + 1) for i in range(len(VOCAB))]
    rows = []
    for i in range(n_docs):
        if i % 16 == 5:
            text = "filler words only"
        else:
            text = " ".join(
                rng.choices(VOCAB, weights, k=rng.randint(1, 9))
            )
        rows.append((f"http://diff/{i:03d}", text))
    return rows


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    rows = _corpus()
    pages = spark.createDataFrame(
        [(u, None, None, t, "en") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    built = {}
    for name, cfg in CONFIGS.items():
        out = str(tmp_path_factory.mktemp(f"diff_{name}") / "idx")
        build_index(spark, pages, out, cfg)
        built[name] = SearchEngine(spark, out)
    oracle = RefIndex.from_rows(
        [{"url": u, "title": "", "text": t} for u, t in rows], CONFIGS["unpruned"]
    )
    return built, oracle


_terms = st.sampled_from(VOCAB)
_phrase = st.tuples(_terms, _terms, st.none() | st.integers(0, 3)).map(
    lambda p: f'"{p[0]} {p[1]}"' + ("" if p[2] is None else f"/{p[2]}")
)
_query = st.recursive(
    _terms | _phrase,
    lambda sub: st.one_of(
        sub.map(lambda q: f"!({q})"),
        st.tuples(sub, sub).map(lambda p: f"({p[0]} && {p[1]})"),
        st.tuples(sub, sub).map(lambda p: f"({p[0]} || {p[1]})"),
    ),
    max_leaves=5,
)


def _want(oracle, query, max_len):
    scores = oracle._eval(qp.parse(query))
    ranked = sorted(
        (
            (d, s) for d, s in scores.items()
            if max_len is None or oracle.docs[d].doc_len <= max_len
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )
    return ranked[:K]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(query=_query)
@example(query="!(apple)")
@example(query="(berry || !(apple))")
@example(query="(apple && !(!(heron)))")
@example(query='(apple && !("berry apple"))')
def test_random_queries_match_reference(engines, query):
    built, oracle = engines
    max_len = sorted(d.doc_len for d in oracle.docs)[len(oracle.docs) // 2]
    for max_len_or_none in (None, max_len):
        want = _want(oracle, query, max_len_or_none)
        flt = (
            None if max_len_or_none is None
            else F.col("doc_len") <= max_len_or_none
        )
        for name, eng in built.items():
            got = [
                (r["doc_id"], r["score"])
                for r in eng.search(
                    query, K, with_meta=False, meta_filter=flt
                ).collect()
            ]
            assert [d for d, _ in got] == [d for d, _ in want], (
                name, query, max_len_or_none, got, want,
            )
            assert all(
                math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-12)
                for (_, g), (_, w) in zip(got, want)
            ), (name, query, max_len_or_none, got, want)
