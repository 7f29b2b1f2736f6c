"""The correctness side: ``oracle/refmodel.RefIndex`` made usable at
benchmark scale, and the comparisons every timed result goes through.

``RefIndex.avgdl`` is a property that sums over every doc, and ``bm25``
reads it once per posting, so one head term costs O(df * N).
``FrozenRefIndex`` is a read-only copy that binds avgdl once after the
build; the arithmetic is unchanged.
"""

from __future__ import annotations

import math
from typing import List, Optional, Sequence, Tuple

from search_engine_spark.oracle.refmodel import RefIndex
from search_engine_spark.plans import query_parser as qp

REL_TOL = 1e-9


class FrozenRefIndex(RefIndex):
    # shadows the base class's per-call property with a plain attribute
    avgdl = 0.0

    @classmethod
    def from_rows(cls, rows, cfg) -> "FrozenRefIndex":
        base = RefIndex.from_rows(rows, cfg)
        idx = cls.__new__(cls)
        idx.__dict__.update(base.__dict__)
        idx.avgdl = RefIndex.avgdl.fget(base)
        return idx

    def search_filtered(self, query: str, k: int,
                        max_doc_len: Optional[int] = None
                        ) -> List[Tuple[int, float]]:
        """Top-k (doc_id, score) over docs with doc_len <= max_doc_len
        (the meta_filter shape), ordered (score desc, doc_id asc)."""
        if max_doc_len is None:
            return self.search(query, k)
        ast = qp.parse(query)
        if ast is None:
            return []
        scores = self._eval(ast)
        ranked = sorted(
            ((d, s) for d, s in scores.items()
             if self.docs[d].doc_len <= max_doc_len),
            key=lambda kv: (-kv[1], kv[0]),
        )
        return ranked[:k]


def rank_identical(got: Sequence[Tuple[int, float]],
                   want: Sequence[Tuple[int, float]]) -> bool:
    """Same doc ids in the same order, scores equal to 1e-9 relative."""
    return [d for d, _ in got] == [d for d, _ in want] and all(
        math.isclose(g, w, rel_tol=REL_TOL)
        for (_, g), (_, w) in zip(got, want)
    )


def same_by_url(got: Sequence[Tuple[str, float]],
                oracle: FrozenRefIndex, query: str, k: int) -> bool:
    """Rank identity for results whose doc ids are not url ranks (stream
    segments assign ids per epoch, so ties may order differently).
    Scores must match the oracle's top-k position by position, and each
    returned url must be a distinct doc whose oracle score is the one
    reported."""
    ast = qp.parse(query)
    full = {} if ast is None else oracle._eval(ast)
    want = sorted(full.values(), reverse=True)[:k]
    by_url = {oracle.docs[d].url: s for d, s in full.items()}
    return (
        len(got) == len(want)
        and len({u for u, _ in got}) == len(got)
        and all(math.isclose(g, w, rel_tol=REL_TOL)
                for (_, g), w in zip(got, want))
        and all(u in by_url and math.isclose(by_url[u], s, rel_tol=REL_TOL)
                for u, s in got)
    )


STAT_KEYS = ("total_documents", "total_terms", "total_postings",
             "most_frequent_term")


def stats_match(meta: dict, stats: dict, avgdl: float) -> bool:
    """A build is correct when its stats equal the oracle's."""
    got = meta["stats"]
    return (
        all(got[k] == stats[k] for k in STAT_KEYS)
        and math.isclose(got["avg_document_length"],
                         stats["avg_document_length"], rel_tol=REL_TOL)
        and math.isclose(meta["avgdl"], avgdl, rel_tol=REL_TOL)
    )
