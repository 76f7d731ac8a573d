"""High-frequency-term shortcut gates (HighFrequencyTermShortcuts.cpp
rebuild): cached single-term queries are bit-identical to the full scan,
never touch the postings table, and the cache invalidates on updates."""

from __future__ import annotations

import pytest

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators import query
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.sources.transcripts import synth_transcripts


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    docs = transcripts_to_docs(synth_transcripts(spark, 600)).persist()
    cat_hot = Catalog(spark, str(tmp_path_factory.mktemp("hot-wh")))
    build_index(
        spark, cat_hot, docs, IndexConfig(tokenizer_mode="ascii", hot_cache_k=64)
    )
    cat_cold = Catalog(spark, str(tmp_path_factory.mktemp("cold-wh")))
    build_index(spark, cat_cold, docs, IndexConfig(tokenizer_mode="ascii"))
    return (
        SearchEngine(spark, cat_hot, tokenizer_mode="ascii"),
        SearchEngine(spark, cat_cold, tokenizer_mode="ascii"),
    )


def _rows(df):
    return [
        (int(r["doc_id"]), float(r["score"]), int(r["matched"]))
        for r in df.collect()
    ]


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _spark_exact(monkeypatch) -> None:
    """Route every plan to the Spark exact path (a zero driver cutoff), so
    a query the cache declines shows a postings scan in its plan."""
    monkeypatch.setattr(query, "WAND_DF_CUTOFF", 0)


def test_cached_single_term_is_bit_identical(pair):
    hot, cold = pair
    for term in ["the", "spark", "index"]:
        a = _rows(hot.search_terms([term], "AND", 10))
        b = _rows(cold.search_terms([term], "AND", 10))
        assert a == b, term
        assert a  # the synthetic corpus contains these


def test_cached_plan_skips_postings(pair, monkeypatch):
    hot, cold = pair
    _spark_exact(monkeypatch)
    p = _physical(hot.search_terms(["the"], "AND", 10))
    assert "hot_topk" in p
    assert "postings" not in p  # no decode, no postings scan
    p2 = _physical(cold.search_terms(["the"], "AND", 10))
    assert "postings" in p2


def test_fast_path_declines_when_inapplicable(pair, monkeypatch):
    hot, _ = pair
    _spark_exact(monkeypatch)
    # k beyond cache depth for a term with df > cache_k -> full scan
    p = _physical(hot.search_terms(["the"], "AND", 500))
    assert "postings" in p
    # multi-term / excluded / filtered queries never use the cache
    p2 = _physical(hot.search_terms(["the", "spark"], "AND", 10))
    assert "postings" in p2
    p3 = _physical(
        hot.search_terms(["the"], "AND", 10, exclude_terms=["spark"])
    )
    assert "postings" in p3


def test_cache_rejected_on_bm25_param_mismatch(pair, monkeypatch):
    """The cached within-term ranking is the tf_norm order, which depends
    on k1/b -- an engine whose params differ from the cache's build params
    must fall back to the full scan (and still rank correctly)."""
    from open_source_search_engine_spark.functions.bm25 import BM25Params

    hot, _cold = pair
    eng = SearchEngine(
        hot.spark, hot.catalog,
        params=BM25Params(k1=0.4, b=0.1), tokenizer_mode="ascii",
    )
    assert eng._hot_topk is None  # cache not accepted
    _spark_exact(monkeypatch)
    p = _physical(eng.search_terms(["the"], "AND", 10))
    assert "postings" in p
    # matching params still accept it
    eng2 = SearchEngine(
        hot.spark, hot.catalog, params=BM25Params(), tokenizer_mode="ascii"
    )
    assert eng2._hot_topk is not None


def test_compact_rebuilds_cache_with_original_params(spark, tmp_path_factory):
    """compact_updates must rebuild the hot cache with the k1/b the index
    was BUILT with, not defaults -- gated by rank identity between the
    non-default-params engine's cached path and a cold engine."""
    from open_source_search_engine_spark.functions.bm25 import BM25Params
    from open_source_search_engine_spark.operators.updates import (
        apply_updates,
        compact_updates,
    )

    params = BM25Params(k1=0.6, b=0.3)
    docs = transcripts_to_docs(synth_transcripts(spark, 300))
    cat = Catalog(spark, str(tmp_path_factory.mktemp("pp-wh")))
    build_index(
        spark, cat, docs,
        IndexConfig(tokenizer_mode="ascii", hot_cache_k=64, bm25=params),
    )
    first = docs.limit(1).collect()[0]
    upsert = spark.createDataFrame(
        [(first["doc_id"], "the the the changed text")],
        "doc_id long, text string",
    )
    apply_updates(
        spark, cat, upserts=upsert, config=IndexConfig(tokenizer_mode="ascii")
    )
    compact_updates(spark, cat)
    eng = SearchEngine(spark, cat, params=params, tokenizer_mode="ascii")
    assert eng._hot_topk is not None  # rebuilt with the ORIGINAL params
    p = _physical(eng.search_terms(["the"], "AND", 10))
    assert "hot_topk" in p and "postings" not in p
    cold = Catalog(spark, str(tmp_path_factory.mktemp("pp-cold-wh")))
    build_index(
        spark, cold, cat.read_table("documents").select("doc_id", "text"),
        IndexConfig(tokenizer_mode="ascii"),
    )
    eng_cold = SearchEngine(spark, cold, params=params, tokenizer_mode="ascii")
    assert _rows(eng.search_terms(["the"], "AND", 10)) == _rows(
        eng_cold.search_terms(["the"], "AND", 10)
    )


def test_cache_invalidates_after_updates(spark, tmp_path_factory, monkeypatch):
    from open_source_search_engine_spark.operators.updates import apply_updates

    docs = transcripts_to_docs(synth_transcripts(spark, 300))
    cat = Catalog(spark, str(tmp_path_factory.mktemp("inv-wh")))
    build_index(
        spark, cat, docs, IndexConfig(tokenizer_mode="ascii", hot_cache_k=64)
    )
    first = docs.limit(1).collect()[0]
    upsert = spark.createDataFrame(
        [(first["doc_id"], "the the the replacement text")],
        "doc_id long, text string",
    )
    apply_updates(spark, cat, upserts=upsert, config=IndexConfig(tokenizer_mode="ascii"))
    eng = SearchEngine(spark, cat, tokenizer_mode="ascii")
    # stale cache is ignored: plan scans postings and sees the new text
    _spark_exact(monkeypatch)
    p = _physical(eng.search_terms(["the"], "AND", 10))
    assert "postings" in p
    top = _rows(eng.search_terms(["replacement"], "AND", 5))
    assert [d for d, _s, _m in top] == [int(first["doc_id"])]

    # compaction resets max_seg to 0 -- the cache must be REBUILT there,
    # not resurrected stale: fresh again AND reflecting the new corpus
    from open_source_search_engine_spark.operators.updates import (
        compact_updates,
    )

    compact_updates(spark, cat)
    eng2 = SearchEngine(spark, cat, tokenizer_mode="ascii")
    p2 = _physical(eng2.search_terms(["the"], "AND", 10))
    assert "hot_topk" in p2 and "postings" not in p2
    cold = Catalog(spark, str(tmp_path_factory.mktemp("inv-cold-wh")))
    new_docs = cat.read_table("documents").select("doc_id", "text")
    build_index(spark, cold, new_docs, IndexConfig(tokenizer_mode="ascii"))
    eng_cold = SearchEngine(spark, cold, tokenizer_mode="ascii")
    assert _rows(eng2.search_terms(["the"], "AND", 10)) == _rows(
        eng_cold.search_terms(["the"], "AND", 10)
    )


def test_rebuild_without_cache_drops_the_previous_cache(spark, tmp_path):
    """A rebuild with hot_cache_k=0 into a catalog that held a cache must
    not serve that cache: its entries are the previous build's docs. The
    two corpora share their avgdl, so only the postings snapshot the cache
    was built from tells them apart."""
    cat = Catalog(spark, str(tmp_path / "wh"))
    first = spark.createDataFrame(
        [(1, "beta alpha"), (2, "beta gamma"), (3, "beta delta")],
        "doc_id long, text string",
    )
    build_index(
        spark, cat, first, IndexConfig(tokenizer_mode="ascii", hot_cache_k=8)
    )
    second = spark.createDataFrame(
        [(11, "beta omega"), (12, "beta sigma"), (13, "beta kappa")],
        "doc_id long, text string",
    )
    build_index(spark, cat, second, IndexConfig(tokenizer_mode="ascii"))
    eng = SearchEngine(spark, cat, tokenizer_mode="ascii")
    got = [r.doc_id for r in eng.search_terms(["beta"], "AND", 3).collect()]
    assert got == [11, 12, 13]
    assert eng._hot_topk is None
