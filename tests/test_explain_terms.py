"""Query-plan introspection (explain_terms) and routing gates: dictionary
rows match the engine's own plan_terms, the route decision flips exactly at
the sum(df) cutoff, absent terms carry the df=0/idf-NULL/present=false
contract, a fully-cached call runs ZERO Spark jobs (the free-SERP-telemetry
claim), and the route explain_terms reports is the executor search_auto
runs (both come from query.route)."""

from __future__ import annotations

import pytest

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators import query, wand
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.sources.transcripts import synth_transcripts

ROWS = [
    (1, "alpha bravo charlie"),
    (2, "alpha bravo"),
    (3, "alpha delta"),
    (4, "echo foxtrot"),
]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("explain-wh")))
    build_index(
        spark,
        cat,
        spark.createDataFrame(ROWS, "doc_id long, text string"),
        IndexConfig(),
    )
    return SearchEngine(spark, cat)


@pytest.fixture(scope="module")
def transcript_eng(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("route-wh")))
    build_index(
        spark,
        cat,
        transcripts_to_docs(synth_transcripts(spark, 600)),
        IndexConfig(),
    )
    return SearchEngine(spark, cat)


def _groups_calls(monkeypatch) -> list:
    """Record every wand._groups call: it runs exactly when a query takes
    the block-max WAND route."""
    calls = []
    real = wand._groups

    def recording(*args):
        calls.append(args)
        return real(*args)

    monkeypatch.setattr(wand, "_groups", recording)
    return calls


def _driver_calls(monkeypatch, eng) -> list:
    """Record every SearchEngine._driver_pages call on ``eng``: it runs
    exactly when a query takes the driver route."""
    calls = []
    real = eng._driver_pages

    def recording(queries):
        calls.append(queries)
        return real(queries)

    monkeypatch.setattr(eng, "_driver_pages", recording)
    return calls


def test_rows_match_plan_and_absent_contract(eng):
    got = {
        r["term"]: r
        for r in eng.explain_terms(["alpha", "bravo", "zzznope"]).collect()
    }
    plan = eng.plan_terms(["alpha", "bravo"])
    for _, p in plan.iterrows():
        r = got[p["term"]]
        assert r["present"] is True
        assert r["df"] == int(p["df"])
        assert r["idf"] == pytest.approx(float(p["idf"]), rel=1e-12)
    absent = got["zzznope"]
    assert absent["present"] is False
    assert absent["df"] == 0 and absent["idf"] is None
    assert all(r["sum_df"] == 3 + 2 for r in got.values())


def test_route_flips_at_cutoff_and_matches_search_auto(eng):
    # sum_df(alpha, bravo) = 5: cutoff 5 -> driver, cutoff 4 -> wand under
    # OR; an AND over them stays exact at any cutoff (rarest df 2)
    def routes(mode, cutoff):
        return {
            (r["route"], r["reason"])
            for r in eng.explain_terms(["alpha", "bravo"], mode, cutoff)
            .collect()
        }

    assert routes("OR", 5) == {("driver", "sum_df")}
    assert routes("OR", 4) == {("wand", "pruning")}
    assert routes("AND", 4) == {("exact", "rarest_df")}
    # both routes give identical pages (search_auto's stated contract)
    a = eng.search_auto(["alpha", "bravo"], "OR", 10, wand_df_cutoff=5).collect()
    b = eng.search_auto(["alpha", "bravo"], "OR", 10, wand_df_cutoff=4).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


@pytest.mark.parametrize(
    "wand_cutoff,rarest_cutoff,want",
    [
        (5, 100_000, ("driver", "sum_df")),
        (4, 100_000, ("exact", "rarest_df")),
        (4, 1, ("wand", "pruning")),
    ],
)
def test_explained_route_is_the_executed_route(
    eng, monkeypatch, wand_cutoff, rarest_cutoff, want
):
    monkeypatch.setattr(query, "WAND_DF_CUTOFF", wand_cutoff)
    monkeypatch.setattr(query, "RAREST_DF_CUTOFF", rarest_cutoff)
    terms = ["alpha", "bravo"]
    explained = eng.explain_terms(terms).collect()
    assert {(r["route"], r["reason"]) for r in explained} == {want}
    calls = _groups_calls(monkeypatch)
    local = _driver_calls(monkeypatch, eng)
    page = eng.search_auto(terms, "AND", 10).collect()
    assert len(calls) + len(local) <= 1
    executed = "wand" if calls else "driver" if local else "exact"
    assert executed == want[0]
    assert page == eng.search_terms(terms, "AND", 10).collect()


def test_cached_explain_runs_zero_jobs(eng):
    eng.explain_terms(["alpha", "bravo"]).collect()  # warm the plan cache
    sc = eng.spark.sparkContext
    tracker = sc.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    eng.explain_terms(["alpha", "bravo"])  # build only, no collect
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "plan-cached explain must not launch a job"


def test_search_auto_routes_by_planned_df(transcript_eng, monkeypatch):
    # adaptive strategy choice (single-query analog of search_many's
    # SHARED_SCAN_MAX_ROWS routing): both routes must serve identical
    # pages, and the route really is decided by the cutoffs — zero cutoffs
    # force WAND, an enormous one forces the exact scan.
    eng = transcript_eng
    terms = ["spark", "index"]
    calls = _groups_calls(monkeypatch)
    exact = [
        (r["doc_id"], round(r["score"], 12), r["matched"])
        for r in eng.search_auto(
            terms, "AND", 10, wand_df_cutoff=10**12
        ).collect()
    ]
    assert not calls
    monkeypatch.setattr(query, "RAREST_DF_CUTOFF", 0)
    via_wand = [
        (r["doc_id"], round(r["score"], 12), r["matched"])
        for r in eng.search_auto(terms, "AND", 10, wand_df_cutoff=0).collect()
    ]
    assert calls
    want = [
        (r["doc_id"], round(r["score"], 12), r["matched"])
        for r in eng.search_terms(terms, "AND", 10).collect()
    ]
    assert exact == want and via_wand == want and want


def test_search_auto_exclusions_and_or_mode(transcript_eng):
    eng = transcript_eng
    for cutoff in (0, 10**12):
        got = [
            (r["doc_id"], round(r["score"], 12))
            for r in eng.search_auto(
                ["spark", "index"],
                "OR",
                10,
                exclude_terms=["merge"],
                wand_df_cutoff=cutoff,
            ).collect()
        ]
        want = [
            (r["doc_id"], round(r["score"], 12))
            for r in eng.search_terms(
                ["spark", "index"], "OR", 10, exclude_terms=["merge"]
            ).collect()
        ]
        assert got == want and want
