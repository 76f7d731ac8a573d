"""Query terms never reach SQL text: the exact path writes its expressions
as SQL (decoded_postings, _contributions, _aggregate_scores), but only
numbers go into that text -- a term is resolved to its term_id in the
driver. Terms carrying SQL quoting and comment characters must therefore
behave like any other absent term: no error, and the page the remaining
terms give (empty under AND), in both tokenizer modes."""

from __future__ import annotations

import pytest

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.sources.transcripts import synth_transcripts

HOSTILE = [
    "it's",
    "back\\slash",
    'say"hi',
    "tick`tock",
    "a;b",
    "x -- y",
    "spark') OR ('1'='1",
    "'; DROP TABLE postings; --",
]


@pytest.fixture(scope="module", params=["unicode", "ascii"])
def eng(request, spark, tmp_path_factory):
    mode = request.param
    cat = Catalog(spark, str(tmp_path_factory.mktemp(f"sqltext-{mode}-wh")))
    build_index(
        spark,
        cat,
        transcripts_to_docs(synth_transcripts(spark, 200)),
        IndexConfig(tokenizer_mode=mode),
    )
    return SearchEngine(spark, cat, tokenizer_mode=mode)


def _page(df):
    return [tuple(r) for r in df.collect()]


def test_hostile_terms_are_absent_terms(spark, eng):
    base = ["spark", "index"]
    or_page = _page(eng.search_terms(base, "OR", 10))
    and_page = _page(eng.search_terms(base, "AND", 10))
    assert or_page and and_page
    # one query carries every hostile string: a quoting break in any of
    # them fails the whole query. A cold engine resolves them in its own
    # dictionary read.
    e = SearchEngine(spark, eng.catalog, tokenizer_mode=eng.tokenizer_mode)
    q = base + HOSTILE
    assert _page(e.search_terms(q, "AND", 10)) == []
    assert _page(e.search_auto(q, "AND", 10)) == []
    assert _page(e.search_terms(q, "OR", 10)) == or_page
    assert _page(e.search_auto(q, "OR", 10)) == or_page
    assert _page(e.search_auto(base, "AND", 10, exclude_terms=HOSTILE)) == (
        and_page
    )
    assert _page(e.search_auto(HOSTILE, "OR", 10)) == []
    batch = e.search_many(
        [
            {"query_id": "and", "terms": q, "mode": "AND", "k": 10},
            {"query_id": "or", "terms": q, "mode": "OR", "k": 10},
        ]
    ).collect()
    assert [r["query_id"] for r in batch] == ["or"] * len(or_page)
    assert [(r["doc_id"], r["score"], r["matched"]) for r in batch] == or_page
