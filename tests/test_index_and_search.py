"""Index equivalence + rank-identity — the contract tests (SURVEY §5.2 3-4).

Builds the Spark index over the synthetic corpus, compares every
artifact against the single-node oracle model, then asserts top-k
doc_id sequences AND scores match to 1e-9 for the reference query set
(scripts/test_cpp_search.py:80-85) and the boolean/phrase suites lifted
from the reference's own unit tests (FIXTURES.md §3-4).
"""

import math

import pytest

from search_engine_spark.config import EngineConfig
from search_engine_spark.operators.index_build import build_index
from search_engine_spark.operators.query_eval import SearchEngine
from search_engine_spark.oracle.refmodel import RefIndex
from search_engine_spark.sources.pages_source import (
    REFERENCE_QUERY_TERMS, generate_pages_pdf, pages_df,
)

N_DOCS = 400
CFG = EngineConfig(index_partitions=8, block_size=16, wand_min_blocks=2)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "index")
    pages = pages_df(spark, n_docs=N_DOCS, seed=42)
    store = build_index(spark, pages, out, CFG)
    engine = SearchEngine(spark, out)
    # oracle over the same corpus (extraction applied where text is null)
    pdf = generate_pages_pdf(n_docs=N_DOCS, seed=42)
    from search_engine_spark.functions.html_extract import extract_html

    rows = []
    for _, r in pdf.iterrows():
        if r["text"] is not None:
            rows.append(
                {"url": r["url"], "warc_ts": r["warc_ts"],
                 "title": extract_html(r["html"])[0], "text": r["text"]}
            )
        else:
            title, text = extract_html(r["html"])
            rows.append(
                {"url": r["url"], "warc_ts": r["warc_ts"], "title": title,
                 "text": text}
            )
    oracle = RefIndex.from_rows(rows, CFG)
    return store, engine, oracle


def test_docmeta_matches_oracle(spark, built):
    store, _, oracle = built
    got = {
        r["doc_id"]: (r["url"], r["doc_len"], r["unique_terms"])
        for r in store.read_stage(spark, "docmeta").collect()
    }
    assert len(got) == oracle.n_docs
    for d in oracle.docs:
        assert got[d.doc_id] == (d.url, d.doc_len, d.unique_terms), d.url


def test_dictionary_matches_oracle(spark, built):
    store, _, oracle = built
    got = {
        r["term"]: (r["df"], r["cf"])
        for r in store.read_stage(spark, "dictionary").collect()
    }
    want = {t: (oracle.df(t), oracle.cf(t)) for t in oracle.postings}
    assert got == want


def test_blocks_decode_to_oracle_postings(spark, built):
    store, _, oracle = built
    from search_engine_spark.functions import codec

    by_term = {}
    for r in store.read_stage(spark, "blocks").collect():
        by_term.setdefault(r["term"], []).append(r)
    assert set(by_term) == set(oracle.postings)
    for term, blocks in by_term.items():
        got = []
        for blk in sorted(blocks, key=lambda r: r["block_id"]):
            d, t, _ = codec.decode_block(
                bytes(blk["doc_gaps"]), bytes(blk["tfs"]), bytes(blk["dls"])
            )
            got.extend(zip(d.tolist(), t.tolist()))
        got.sort()
        want = sorted((doc, tf) for doc, tf, _ in oracle.postings[term])
        assert got == want, term


def test_index_stats_match(built):
    store, _, oracle = built
    meta = store.read_meta()
    want = oracle.stats()
    got = meta["stats"]
    assert got["total_documents"] == want["total_documents"]
    assert got["total_terms"] == want["total_terms"]
    assert got["total_postings"] == want["total_postings"]
    assert math.isclose(
        got["avg_document_length"], want["avg_document_length"], rel_tol=1e-9
    )
    assert got["most_frequent_term"] == want["most_frequent_term"]
    assert math.isclose(meta["avgdl"], oracle.avgdl, rel_tol=1e-9)


def _rank_identical(engine, oracle, query, k=10):
    got = [
        (r["doc_id"], r["score"])
        for r in engine.search(query, k, with_meta=False).collect()
    ]
    want = oracle.search(query, k)
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (gd, gs), (wd, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=1e-9), (query, gd, gs, ws)


def test_rank_identity_reference_query_set(built):
    _, engine, oracle = built
    for q in REFERENCE_QUERY_TERMS:
        _rank_identical(engine, oracle, q)


def test_rank_identity_boolean_queries(built):
    _, engine, oracle = built
    for q in [
        "математика && информация",
        "математика || число",
        "число && !алгебра",
        "(математика || информация) && число",
        "математика информация",  # implicit AND
        "!математика && алгебра",
    ]:
        _rank_identical(engine, oracle, q)


def test_count_matches(built):
    _, engine, oracle = built
    for q in ["математика", "математика && информация", "математика || число"]:
        assert engine.count(q) == oracle.count(q), q


def test_wand_pruning_rank_identical(built):
    # cfg.wand_min_blocks=2, block_size=16 → frequent terms take the
    # pruned path; compare against oracle directly
    _, engine, oracle = built
    stats = engine.term_stats(["математика"])
    df = stats["математика"][0]
    assert df > 2 * CFG.block_size, "fixture must exercise pruning"
    _rank_identical(engine, oracle, "математика", k=5)
    _rank_identical(engine, oracle, "математика", k=50)


def test_suggest(built):
    _, engine, oracle = built
    got = engine.suggest("мате", 10)
    want = sorted(t for t in oracle.postings if t.startswith("мате"))[:10]
    assert got == want


def test_snippets(built):
    _, engine, oracle = built
    term = REFERENCE_QUERY_TERMS[0]
    rows = engine.search_with_snippets(term, k=5).collect()
    assert rows, "query must hit"
    for r in rows:
        assert f"[{term}]" in r["snippet"], r["snippet"]
        # window bound: ±5 tokens + highlight + ellipses
        assert len(r["snippet"].split()) <= 13


def test_search_batch_tags_queries(built):
    _, engine, _ = built
    qs = [REFERENCE_QUERY_TERMS[0], REFERENCE_QUERY_TERMS[1]]
    out = engine.search_batch(qs, k=3).collect()
    tags = {r["query"] for r in out}
    assert tags == set(qs)


def test_search_batch_driver_jobs_bounded(spark, built, tmp_path):
    """VERDICT r4 #5: a B-query batch issues a constant number of driver
    jobs, whatever B — the term-stats, phase-1 block and block-range
    prefetches and the final union collect; phase 1 runs on the driver,
    so no query adds a job of its own. Results stay identical to
    per-query search()."""
    store, seeded, oracle = built
    # fresh engine → cold memo caches (the module engine's are warm)
    eng = SearchEngine(spark, store.dir, cache=False)
    qs = [
        "математика",
        "информация",
        "число",
        "математика || число",
        "информация || алгебра",
        "(математика || информация) && число",
    ]
    sc = spark.sparkContext
    # AQE materializes every shuffle stage as its own job, which would
    # make the count meaningless; without it one collect == one job
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("sb_jobs", "search_batch job-count")
        rows = eng.search_batch(qs, k=5).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    jobs = sc.statusTracker().getJobIdsForGroup("sb_jobs")
    assert len(jobs) <= 4, (len(jobs), jobs)
    got = {}
    for r in rows:
        got.setdefault(r["query"], []).append(
            (r["doc_id"], round(r["score"], 9))
        )
    for q in qs:
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in seeded.search(q, 5, with_meta=False).collect()
        ]
        assert got.get(q, []) == want, q


def test_and_block_pruning_rank_identical(built):
    _, engine, oracle = built
    t1, t2 = REFERENCE_QUERY_TERMS[0], REFERENCE_QUERY_TERMS[1]
    stats = engine.term_stats([t1, t2])
    # fixture uses block_size=16 / wand_min_blocks=2 so the path engages
    assert max(
        (stats[t][0] + CFG.block_size - 1) // CFG.block_size for t in (t1, t2)
    ) > CFG.wand_min_blocks
    pruned = engine._and_scores_block_pruned([t1, t2], stats)
    full = engine._eval(
        __import__(
            "search_engine_spark.plans.query_parser", fromlist=["parse"]
        ).parse(f"{t1} && {t2}"),
        stats,
    )
    p = {r["doc_id"]: r["score"] for r in pruned.collect()}
    f = {r["doc_id"]: r["score"] for r in full.collect()}
    assert set(p) == set(f) and p
    for d in p:
        assert p[d] == pytest.approx(f[d], rel=1e-12)
    # end-to-end: search() engages the pruned path and matches oracle
    got = [
        (r["doc_id"], r["score"])
        for r in engine.search(f"{t1} && {t2}", 10, with_meta=False).collect()
    ]
    want = oracle.search(f"{t1} && {t2}", 10)
    assert [d for d, _ in got] == [d for d, _, in want]


def test_or_wand_matches_full_eval_and_prunes(spark, tmp_path):
    """Multi-term OR with block-max pruning: rank-identical to the full
    evaluation, decoding strictly fewer blocks (VERDICT r1 #9).

    Corpus shape that makes pruning provable: 30 docs carry both terms
    with high tf (top-k lives here), 200 long docs carry only the
    common term with tf=1 — their blocks' max_score falls below
    θ − U_aa and must be skipped."""
    from pyspark.sql import functions as F

    rows = []
    for i in range(30):
        rows.append((f"http://a/{i:04d}", "aa bb " * 5))
    filler = " ".join(f"w{j:02d}" for j in range(40))
    for i in range(200):
        rows.append((f"http://b/{i:04d}", "bb " + filler))
    pages = spark.createDataFrame(
        [(u, None, None, t, "ru") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = EngineConfig(index_partitions=4, block_size=4, wand_min_blocks=2)
    out = str(tmp_path / "idx")
    build_index(spark, pages, out, cfg)
    eng = SearchEngine(spark, out, cache=False)
    eng.wand_debug = True
    q = "aa || bb"
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, 10, with_meta=False).collect()
    ]
    want_df = (
        eng.scores_df(q).orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    )
    want = [(r["doc_id"], round(r["score"], 9)) for r in want_df.collect()]
    assert got == want
    st = eng._last_wand_stats
    assert st["theta"] is not None
    assert 0 < st["decoded_blocks"] < st["total_blocks"], st


def test_tree_wand_mixed_query_matches_full_eval_and_prunes(spark, tmp_path):
    """General boolean-tree block-max pruning (VERDICT r2 #1): a mixed
    AND/OR/NOT query above wand_min_blocks must (a) return exactly the
    full-eval top-k and (b) decode strictly fewer blocks.

    Corpus shape: 30 docs carry aa+bb with high tf (the top-k), 200
    long docs carry only bb with tf=1 — their ~50 blocks fall below
    θ − (U_total − U(bb)) and must be skipped; 3 aa+dd docs are
    excluded by the !dd branch and their aa blocks also prune."""
    from pyspark.sql import functions as F

    rows = []
    for i in range(30):
        rows.append((f"http://a/{i:04d}", "aa bb " * 5))
    filler = " ".join(f"w{j:02d}" for j in range(40))
    for i in range(200):
        rows.append((f"http://b/{i:04d}", "bb " + filler))
    for i in range(3):
        rows.append((f"http://c/{i:04d}", "aa dd"))
    pages = spark.createDataFrame(
        [(u, None, None, t, "ru") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = EngineConfig(index_partitions=4, block_size=4, wand_min_blocks=2)
    out = str(tmp_path / "idx")
    build_index(spark, pages, out, cfg)
    eng = SearchEngine(spark, out, cache=False)
    eng.wand_debug = True
    # mixed tree: not a flat AND → routes the θ-pruned scan
    q = "(aa && bb) || (aa && !dd)"
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, 10, with_meta=False).collect()
    ]
    want_df = (
        eng.scores_df(q).orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    )
    want = [(r["doc_id"], round(r["score"], 9)) for r in want_df.collect()]
    assert got == want
    st = eng._last_wand_stats
    assert st["theta"] is not None
    assert 0 < st["decoded_blocks"] < st["total_blocks"], st


def test_tree_wand_not_branch_stays_exact(spark, tmp_path):
    """NOT inners must never be block-restricted: a doc that matches the
    negated term must stay excluded even when the positive side prunes.
    Also covers the and-NOT shape (`aa && !dd`), which flat-AND
    flattening rejects and therefore routes through the tree path."""
    from pyspark.sql import functions as F

    rows = []
    for i in range(40):
        rows.append((f"http://a/{i:04d}", "aa " * 4 + f"u{i:03d}"))
    for i in range(10):
        rows.append((f"http://d/{i:04d}", "aa " * 4 + "dd"))
    filler = " ".join(f"w{j:02d}" for j in range(30))
    for i in range(120):
        rows.append((f"http://f/{i:04d}", "aa " + filler))
    pages = spark.createDataFrame(
        [(u, None, None, t, "ru") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = EngineConfig(index_partitions=4, block_size=4, wand_min_blocks=2)
    out = str(tmp_path / "idx")
    build_index(spark, pages, out, cfg)
    eng = SearchEngine(spark, out, cache=False)
    q = "aa && !dd"
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in eng.search(q, 10, with_meta=False).collect()
    ]
    want_df = (
        eng.scores_df(q).orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    )
    want = [(r["doc_id"], round(r["score"], 9)) for r in want_df.collect()]
    assert got == want
    # every dd doc is excluded despite high aa tf
    dd_ids = {
        r["doc_id"]
        for r in eng.docmeta.filter(F.col("url").startswith("http://d/")).collect()
    }
    assert not ({d for d, _ in got} & dd_ids)


def test_single_term_pruning_keeps_theta_ties(spark, tmp_path):
    """Regression: phase-2 block pruning must keep blocks whose
    max_score EQUALS θ — a tied doc with a smaller doc_id in such a
    block wins the (score desc, doc_id asc) tie-break."""
    from pyspark.sql import functions as F

    f = lambda n, tag: " ".join(f"{tag}{j:02d}" for j in range(n))
    rows = [
        ("http://x/0", "tt tt " + f(8, "aa")),   # tf=2 dl=10 → ties id3
        ("http://x/1", "tt " + f(39, "bb")),     # low score
        ("http://x/2", "tt " * 8 + f(2, "cc")),  # tf=8 dl=10 → top
        ("http://x/3", "tt tt " + f(8, "dd")),   # tf=2 dl=10 → ties id0
    ]
    pages = spark.createDataFrame(
        [(u, None, None, t, "ru") for u, t in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = EngineConfig(index_partitions=2, block_size=2, wand_min_blocks=1)
    out = str(tmp_path / "idx")
    build_index(spark, pages, out, cfg)
    eng = SearchEngine(spark, out, cache=False)
    got = [r["doc_id"] for r in eng.search("tt", 2, with_meta=False).collect()]
    # full-path truth: top is id2; the s* tie between id0 and id3 goes
    # to id0 (doc_id asc) even though id0's block is not in phase 1
    want = [
        r["doc_id"]
        for r in eng.scores_df("tt")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(2)
        .collect()
    ]
    assert want == [2, 0]
    assert got == want


def test_filtered_search_prunes_blocks(spark, tmp_path):
    """Filter-aware block-max pruning (VERDICT r3 #1): a meta_filter
    query above wand_min_blocks must match the hand-filtered full-eval
    truth AND decode strictly fewer blocks — θ comes from a phase 1
    semi-joined with the allowed set (a lower bound on the k-th best
    FILTERED score), not from the unfiltered universe. Covers all three
    θ paths: single-term, flat-OR, mixed tree."""
    from pyspark.sql import functions as F

    rows = []
    for i in range(30):
        # half ru / half en — the filter keeps 15 of the top-tf docs
        rows.append(
            (f"http://a/{i:04d}", "aa bb " * 5, "ru" if i % 2 == 0 else "en")
        )
    filler = " ".join(f"w{j:02d}" for j in range(40))
    for i in range(200):
        rows.append((f"http://b/{i:04d}", "bb " + filler, "ru"))
    pages = spark.createDataFrame(
        [(u, None, None, t, l) for u, t, l in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    cfg = EngineConfig(index_partitions=4, block_size=4, wand_min_blocks=2)
    out = str(tmp_path / "idx")
    build_index(spark, pages, out, cfg)
    eng = SearchEngine(spark, out, cache=False)
    eng.wand_debug = True
    pred = F.col("lang") == "ru"
    allowed = [r["doc_id"] for r in eng.docmeta.filter(pred).collect()]

    # θ paths (single-term / flat-OR / mixed-tree) must PRUNE; the
    # exact flat-AND and phrase routes just stay correct under the
    # filter (no θ to check)
    for q, check_prune in (
        ("bb", True),
        ("aa || bb", True),
        ("(aa && bb) || aa", True),
        ("aa && bb", False),
        ('"aa bb"', False),
    ):
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng.search(
                q, 5, with_meta=False, meta_filter=pred
            ).collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 9))
            for r in eng.scores_df(q)
            .filter(F.col("doc_id").isin(allowed))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(5)
            .collect()
        ]
        assert got == want, q
        if check_prune:
            st = eng._last_wand_stats
            assert st["theta"] is not None, (q, st)
            assert 0 < st["decoded_blocks"] < st["total_blocks"], (q, st)
