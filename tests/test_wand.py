"""Block-max WAND gate: identical results to the exact path on every query
tier (SURVEY.md §7.2.5 -- "selects with bounds, scores with the same
canonical formula, so results are identical")."""

from __future__ import annotations

import pytest

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators.index_build import (
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators import query
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.operators.wand import (
    pruning_stats,
    wand_search,
)
from open_source_search_engine_spark.sources.transcripts import synth_transcripts

N_TURNS = 1200

QUERY_TIERS = [
    (["the"], "OR", 10),
    (["spark"], "AND", 10),
    (["rareterm_xyzzy"], "AND", 10),
    (["zz_not_in_corpus"], "AND", 10),
    (["spark", "index"], "AND", 10),
    (["the", "rareterm_xyzzy"], "AND", 10),
    (["spark", "index", "query", "merge"], "AND", 20),
    (["spark", "index"], "OR", 10),
    (["rareterm_xyzzy", "zz_not_in_corpus"], "OR", 10),
    (["the", "to", "spark"], "OR", 25),
    (["the", "to", "and", "of", "a"], "AND", 15),
    (["rareterm_xyzzy"], "OR", 500),
    (["repeat"], "OR", 10),
]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    from open_source_search_engine_spark.operators.index_build import IndexConfig

    wh = str(tmp_path_factory.mktemp("wand-wh"))
    catalog = Catalog(spark, wh)
    # tiny target_reduce_docs forces heavy terms into MANY fine-grained
    # blocks while rare terms stay whole-range -- exercises the
    # hierarchical (mixed salt_bits) grouping at test scale
    build_index(
        spark,
        catalog,
        transcripts_to_docs(synth_transcripts(spark, N_TURNS)),
        IndexConfig(target_reduce_docs=64),
    )
    return SearchEngine(spark, catalog)


@pytest.mark.parametrize("cutoff", [100_000, 0])
@pytest.mark.parametrize("terms,mode,k", QUERY_TIERS)
def test_wand_matches_exact(eng, terms, mode, k, cutoff, monkeypatch):
    # cutoff=100_000: AND tiers take the one-job small-df fast path;
    # cutoff=0: every tier forced through two-phase theta pruning.
    # Both must be rank- AND score-identical to the exact path.
    monkeypatch.setattr(query, "RAREST_DF_CUTOFF", cutoff)
    exact = [
        (int(r["doc_id"]), float(r["score"]), int(r["matched"]))
        for r in eng.search_terms(terms, mode=mode, k=k).collect()
    ]
    wand = [
        (int(r["doc_id"]), float(r["score"]), int(r["matched"]))
        for r in wand_search(eng, terms, mode=mode, k=k).collect()
    ]
    assert [w[0] for w in wand] == [e[0] for e in exact]
    for (wd, ws, wm), (ed, es, em) in zip(wand, exact):
        assert ws == pytest.approx(es, rel=1e-12, abs=1e-12), (wd, ws, es)
        assert wm == em


def test_wand_with_exclusion(eng):
    exact = eng.search_terms(
        ["spark"], "AND", 10, exclude_terms=["index"]
    ).collect()
    wand = wand_search(eng, ["spark"], "AND", 10, exclude_terms=["index"]).collect()
    assert [r["doc_id"] for r in wand] == [r["doc_id"] for r in exact]


def test_wand_small_phase_a(eng, monkeypatch):
    """Tiny phase-A budget forces the theta-pruning path in phase B."""
    monkeypatch.setattr(query, "PHASE_A_GROUPS", 1)
    monkeypatch.setattr(query, "RAREST_DF_CUTOFF", 0)
    exact = eng.search_terms(["spark", "index"], "AND", 5).collect()
    wand = wand_search(eng, ["spark", "index"], "AND", 5).collect()
    assert [r["doc_id"] for r in wand] == [r["doc_id"] for r in exact]


def test_pick_granularity_bounds_within_term_fanout():
    """The clamp must bound the COARSEST block of any query term, not just
    the per-term max: a term whose max is 20 but that carries one salt_bits
    0 straggler block must not see g = 20 (the straggler would overlap
    2^20 groups)."""
    from open_source_search_engine_spark.operators.query import MAX_GROUP_SPLIT
    from open_source_search_engine_spark.operators.wand import pick_granularity

    # homogeneous terms: behavior unchanged
    assert pick_granularity([12, 0], [12, 0]) == 0 + MAX_GROUP_SPLIT
    assert pick_granularity([12, 12], [12, 12]) == 12
    # within-term straggler: clamped by the straggler, not the max
    assert pick_granularity([20], [0]) == MAX_GROUP_SPLIT
    assert pick_granularity([20, 12], [3, 12]) == 3 + MAX_GROUP_SPLIT


def test_and_presence_pruning_prunes(eng):
    """Heavy terms split into many prefix groups and KEEP that granularity
    even when conjoined with a rare term (the rare term's coarse block is
    replicated into the fine groups instead of collapsing the whole query
    into one group -- the r1-ADVICE fix)."""
    st = pruning_stats(eng, ["the", "to"], "AND")
    assert st["groups_total"] > 1  # fine-grained split happened
    assert st["groups_surviving"] <= st["groups_total"]
    st2 = pruning_stats(eng, ["the", "rareterm_xyzzy"], "AND")
    assert st2["granularity"] > 0  # heavy term keeps grouping fine
    assert st2["groups_total"] > 1  # no single-group collapse
    # the replicated rare block counts as "maybe present" everywhere, so
    # metadata-level presence cannot prune it (surviving <= total); groups
    # are pruned by their bounds against run A's theta, and the exact
    # path's matched filter drops the docs that miss a term
    assert st2["groups_surviving"] <= st2["groups_total"]


@pytest.mark.parametrize("mode,cutoff", [("OR", 100_000), ("AND", 0)])
def test_wand_k0_is_the_exact_empty_page(eng, mode, cutoff, monkeypatch):
    # k=0 on the two-phase path used to index an empty page's kth row
    monkeypatch.setattr(query, "RAREST_DF_CUTOFF", cutoff)
    q = ["spark", "index"]
    page = wand_search(eng, q, mode, k=0)
    assert page.collect() == [] == eng.search_terms(q, mode, k=0).collect()
    assert page.schema == eng.search_terms(q, mode, k=0).schema
