"""Batch-serving gate: search_many answers N queries in one job and each
query's rows are rank-identical (bit-exact scores) to search_terms."""

from __future__ import annotations

import pytest

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators.index_build import (
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.sources.transcripts import synth_transcripts

N_TURNS = 1000

BATCH = [
    {"query_id": "q1", "terms": ["spark", "index"], "mode": "AND", "k": 10},
    {"query_id": "q2", "terms": ["the", "to", "spark"], "mode": "OR", "k": 25},
    {"query_id": "q3", "terms": ["rareterm_xyzzy"], "mode": "AND", "k": 10},
    {"query_id": "q4", "terms": ["zz_not_in_corpus"], "mode": "AND", "k": 10},
    {"query_id": "q5", "terms": ["the", "a", "to"], "mode": "AND", "k": 15},
    {"query_id": "q6", "terms": ["merge", "sort", "hash"], "mode": "AND", "k": 5},
]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("batch-wh")))
    build_index(spark, cat, transcripts_to_docs(synth_transcripts(spark, N_TURNS)))
    return SearchEngine(spark, cat)


def test_batch_matches_single_queries(spark, eng):
    batch = eng.search_many(BATCH).collect()
    by_q: dict[str, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(
            (int(r["doc_id"]), float(r["score"]), int(r["matched"]))
        )
    for q in BATCH:
        single = [
            (int(r["doc_id"]), float(r["score"]), int(r["matched"]))
            for r in eng.search_terms(q["terms"], q["mode"], q["k"]).collect()
        ]
        got = by_q.get(q["query_id"], [])
        assert got == single, q["query_id"]


def test_batch_routing_invariant(eng, monkeypatch):
    """Results must not depend on the shared-scan/per-query routing cutoff:
    cutoff=0 routes EVERY answerable query through the pruned union-branch
    path, cutoff=huge keeps every one in the shared scan -- bit-identical."""

    def snap(rows):
        out = {}
        for r in rows:
            out.setdefault(r["query_id"], []).append(
                (int(r["rank"]), int(r["doc_id"]), float(r["score"]),
                 int(r["matched"]))
            )
        return out

    from open_source_search_engine_spark.operators import query

    monkeypatch.setattr(query, "SHARED_SCAN_MAX_ROWS", 0)
    all_heavy = snap(eng.search_many(BATCH).collect())
    monkeypatch.setattr(query, "SHARED_SCAN_MAX_ROWS", 1 << 60)
    all_shared = snap(eng.search_many(BATCH).collect())
    assert all_heavy == all_shared
    # q4 is unanswerable (term absent); q6 is answerable but no doc holds
    # all three AND terms in this corpus -> zero rows on both paths
    assert set(all_heavy) == {"q1", "q2", "q3", "q5"}


def test_batch_ranks_sequential(eng):
    rows = eng.search_many(BATCH[:2]).collect()
    seen: dict[str, int] = {}
    for r in rows:
        q = r["query_id"]
        seen[q] = seen.get(q, 0) + 1
        assert int(r["rank"]) == seen[q]
