"""SERP assembly endpoint (SearchEngine.serve) — the Msg40 result-page flow
(`Msg40.cpp:841` launchMsg20s; `Speller.cpp:69`) in one call.

Gates:
* ranking identity: serve's page is search_terms' top-k, rank contiguous;
* snippet identity: the page-restricted render equals best_window_snippets
  over the full corpus filtered to the page (restrict narrows, never alters);
* per-source cap: no source exceeds the cap and the page equals the manual
  score_terms + window composition (the A6 contract);
* did-you-mean: a thin page spell-corrects, re-serves and annotates;
* '-term' exclusion honored; empty query -> empty 7-column frame.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.operators.snippets import (
    best_window_snippets,
)
from open_source_search_engine_spark.sources.transcripts import synth_transcripts


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("serp-wh"))
    catalog = Catalog(spark, wh)
    build_index(
        spark,
        catalog,
        transcripts_to_docs(synth_transcripts(spark, 600)),
        IndexConfig(),
    )
    return SearchEngine(spark, catalog)


def test_serve_page_is_topk_with_snippets(eng):
    page = eng.serve("spark index", k=5).collect()
    top = eng.search_terms(["spark", "index"], "AND", 5).collect()
    assert [r["doc_id"] for r in page] == [r["doc_id"] for r in top]
    assert [r["score"] for r in page] == [r["score"] for r in top]
    assert [r["rank"] for r in page] == list(range(1, len(page) + 1))
    assert all(r["suggested_query"] is None for r in page)
    for r in page:
        assert r["snippet"], r
        assert "[spark]" in r["highlighted"] or "[index]" in r["highlighted"]


def test_serve_snippets_equal_unrestricted_render(eng):
    page = {r["doc_id"]: r for r in eng.serve("spark index", k=5).collect()}
    docs = eng.catalog.read_table("documents")
    full = {
        r["doc_id"]: r
        for r in best_window_snippets(docs, ["spark", "index"]).collect()
        if r["doc_id"] in page
    }
    assert set(full) == set(page)
    for d, r in page.items():
        assert r["snippet"] == full[d]["snippet"]
        assert r["highlighted"] == full[d]["highlighted"]


def test_serve_source_cap_matches_manual_window(eng):
    from pyspark.sql import Window

    page = eng.serve(
        "the", k=6, source_cap=2, source_col="role"
    ).collect()
    roles = eng.catalog.read_table("documents").select("doc_id", "role")
    counts = {}
    role_of = {r["doc_id"]: r["role"] for r in roles.collect()}
    for r in page:
        counts[role_of[r["doc_id"]]] = counts.get(role_of[r["doc_id"]], 0) + 1
    assert counts and max(counts.values()) <= 2
    scored = eng.score_terms(["the"], "AND")
    w = Window.partitionBy("role").orderBy(F.desc("score"), F.asc("doc_id"))
    manual = (
        scored.join(roles, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(6)
        .collect()
    )
    assert [r["doc_id"] for r in page] == [r["doc_id"] for r in manual]


def test_serve_thin_page_suggests_and_requeries(eng):
    page = eng.serve("sprak index", k=5).collect()
    assert page, "corrected query should match docs"
    assert {r["suggested_query"] for r in page} == {"spark index"}
    asked = eng.serve("spark index", k=5).collect()
    assert [r["doc_id"] for r in page] == [r["doc_id"] for r in asked]
    # snippets are rendered for the CORRECTED terms
    assert all(
        "[spark]" in r["highlighted"] or "[index]" in r["highlighted"]
        for r in page
    )


def test_serve_exclusion_honored(eng):
    page = eng.serve("spark -index", k=10).collect()
    manual = eng.search("spark -index", mode="AND", k=10).collect()
    assert [r["doc_id"] for r in page] == [r["doc_id"] for r in manual]


def test_serve_empty_query_is_empty_frame(eng):
    out = eng.serve("", k=5)
    assert out.columns == [
        "rank", "doc_id", "score", "matched",
        "snippet", "highlighted", "suggested_query",
    ]
    assert out.count() == 0


def test_serve_wand_route_is_identical(eng, monkeypatch):
    from open_source_search_engine_spark.operators import query

    asked = eng.serve("spark index", k=5).collect()
    monkeypatch.setattr(query, "WAND_DF_CUTOFF", 0)
    monkeypatch.setattr(query, "RAREST_DF_CUTOFF", 0)
    routed = eng.serve("spark index", k=5).collect()
    assert [tuple(r) for r in routed] == [tuple(r) for r in asked]
