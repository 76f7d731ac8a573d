"""End-to-end gates: build the index over the synthetic transcripts, check
per-turn text equality, stats, and rank identity vs the golden oracle
(SURVEY.md §5.3 gates 1-3; FIXTURES.md §2 query tiers Q1-Q4).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.functions.oracle import (
    build_oracle_index,
    oracle_topk,
)
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.sources.transcripts import (
    synth_pandas,
    synth_transcripts,
)

N_TURNS = 1200


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    from open_source_search_engine_spark.catalog import Catalog

    wh = str(tmp_path_factory.mktemp("wh"))
    catalog = Catalog(spark, wh)
    tdf = synth_transcripts(spark, N_TURNS)
    result = build_index(spark, catalog, transcripts_to_docs(tdf))
    return catalog, result


@pytest.fixture(scope="module")
def oracle_index():
    pdf = synth_pandas(N_TURNS)
    pdf = pdf.reset_index(drop=True)
    # doc_id must match the engine's: read from the engine's documents table
    return pdf


def test_per_turn_text_equality(spark, built):
    """North-rule invariant: documents.text == transcripts.text under stable
    (conv_id, turn_idx) ordering."""
    catalog, _ = built
    docs = catalog.read_table("documents")
    src = synth_transcripts(spark, N_TURNS)
    joined = src.alias("s").join(
        docs.alias("d"), ["conv_id", "turn_idx"], "full_outer"
    )
    mismatch = joined.filter(
        ~(
            (F.col("s.text") == F.col("d.text"))
            | (F.col("s.text").isNull() & F.col("d.text").isNull())
        )
    ).count()
    assert mismatch == 0
    assert docs.count() == N_TURNS


def test_docid_unique_and_deterministic(built):
    catalog, _ = built
    docs = catalog.read_table("documents")
    assert docs.select("doc_id").distinct().count() == N_TURNS


def test_corpus_stats_match_oracle(built, oracle_index, spark):
    catalog, result = built
    docs = catalog.read_table("documents").select("doc_id", "text").toPandas()
    oidx = build_oracle_index(docs)
    assert result.n_docs == oidx.n_docs
    assert result.avgdl == pytest.approx(oidx.avgdl, rel=1e-12)
    # term_stats df values match oracle dfs exactly
    ts = catalog.read_table("term_stats").toPandas().set_index("term")["df"]
    odf = oidx.df
    assert len(ts) == len(odf)
    for term, df in list(odf.items())[:200]:
        assert int(ts[term]) == df, term


def test_postings_blocks_roundtrip(built):
    """Decoded blocks reproduce sorted doc_ids; block metadata is consistent
    (mirrors reference PosdbTest add->dump->verify, SURVEY.md §5.1)."""
    catalog, result = built
    rows = catalog.read_table("postings").limit(50).collect()
    assert rows
    for r in rows:
        ids, tfs, dls = r["doc_ids"], r["tfs"], r["dls"]
        assert len(ids) == r["n_docs"] == len(tfs) == len(dls)
        assert list(ids) == sorted(ids)
        assert ids[0] == r["first_doc_id"] and ids[-1] == r["last_doc_id"]
        assert max(tfs) == r["block_max_tf"]
        assert min(dls) == r["block_min_dl"]
        pos = r["positions"]
        assert [len(p) for p in pos] == list(tfs)
        assert all(list(p) == sorted(p) for p in pos)


QUERY_TIERS = [
    # Q1 single-term: common / rare / absent
    (["the"], "OR", 10),
    (["spark"], "AND", 10),
    (["rareterm_xyzzy"], "AND", 10),
    (["zz_not_in_corpus"], "AND", 10),
    # Q2 AND, incl. stopword+rare combos
    (["spark", "index"], "AND", 10),
    (["the", "rareterm_xyzzy"], "AND", 10),
    (["spark", "index", "query", "merge"], "AND", 20),
    # Q3 OR
    (["spark", "index"], "OR", 10),
    (["rareterm_xyzzy", "zz_not_in_corpus"], "OR", 10),
    (["the", "to", "spark"], "OR", 25),
    # Q4 adversarial: all-stopword; k larger than result count; tie-breaks
    (["the", "to", "and", "of", "a"], "AND", 15),
    (["rareterm_xyzzy"], "OR", 500),
    (["repeat"], "OR", 10),
]


@pytest.mark.parametrize("terms,mode,k", QUERY_TIERS)
def test_rank_identity_exact_path(spark, built, terms, mode, k):
    """THE correctness gate: engine top-k == oracle top-k, rank-identical,
    float64 scores bit-equal (shared formula + canonical accumulation)."""
    catalog, _ = built
    docs = catalog.read_table("documents").select("doc_id", "text").toPandas()
    oidx = build_oracle_index(docs)
    expected = oracle_topk(oidx, terms, mode=mode, k=k)

    eng = SearchEngine(spark, catalog)
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in eng.search_terms(terms, mode=mode, k=k).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (gd, gs, es)


def test_negative_term(spark, built):
    catalog, _ = built
    docs = catalog.read_table("documents").select("doc_id", "text").toPandas()
    oidx = build_oracle_index(docs)
    expected = oracle_topk(
        oidx, ["spark"], mode="AND", k=10, exclude_terms=["index"]
    )
    eng = SearchEngine(spark, catalog)
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in eng.search_terms(
            ["spark"], mode="AND", k=10, exclude_terms=["index"]
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expected]


def test_query_string_parsing(spark, built):
    catalog, _ = built
    eng = SearchEngine(spark, catalog)
    a = eng.search("spark -index", mode="AND", k=10).collect()
    b = eng.search_terms(["spark"], "AND", 10, exclude_terms=["index"]).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]


def test_skip_terms_x7(spark, tmp_path_factory):
    """X7 common-word skip (XmlDoc_Indexing.cpp:1961-2022): skip words get
    no postings/df and query empty, but still count in dl/avgdl; other
    termlists and bigrams are untouched."""
    from open_source_search_engine_spark.catalog import Catalog
    from open_source_search_engine_spark.operators.index_build import IndexConfig
    from open_source_search_engine_spark.operators.query import SearchEngine

    tdf = transcripts_to_docs(synth_transcripts(spark, 400))
    cat_a = Catalog(spark, str(tmp_path_factory.mktemp("wh-noskip")))
    cat_b = Catalog(spark, str(tmp_path_factory.mktemp("wh-skip")))
    ra = build_index(spark, cat_a, tdf, IndexConfig(tokenizer_mode="ascii"))
    rb = build_index(
        spark, cat_b, tdf,
        IndexConfig(tokenizer_mode="ascii", skip_terms=("the", "spark")),
    )
    # dl/avgdl unchanged: skipped words still occupy length
    assert ra.avgdl == rb.avgdl and ra.n_docs == rb.n_docs
    ea = SearchEngine(spark, cat_a, tokenizer_mode="ascii")
    eb = SearchEngine(spark, cat_b, tokenizer_mode="ascii")
    assert ea.search_terms(["spark"], "AND", 5).count() > 0
    assert eb.search_terms(["spark"], "AND", 5).count() == 0
    assert eb.plan_terms(["the", "spark"]).empty
    # unaffected termlists identical
    a = [(r["doc_id"], round(r["score"], 9)) for r in ea.search_terms(["merge"], "AND", 10).collect()]
    b = [(r["doc_id"], round(r["score"], 9)) for r in eb.search_terms(["merge"], "AND", 10).collect()]
    assert a == b
