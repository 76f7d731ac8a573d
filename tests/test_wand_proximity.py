"""Proximity rescoring on the WAND and batch paths, and the shared
certified re-rank (operators/rerank.py) behind all five re-rank entry points.

Gates:
* wand_proximity == search_proximity (rank AND score) on 2-, 3- and 4-term
  queries — the over-fetch + bounded-bonus guarantee really is exact;
* the guarantee loop is exercised (tiny overfetch forces the candidate set
  below the match count, so the exactness check / growth path must fire);
* prox_weight=0 is rank-identical to wand_search (the verdict's
  rank-identity-at-w=0 gate);
* search_many_proximity is per-query identical to search_proximity;
* the Spark job count of each re-rank entry point's exhaustive fast path
  is pinned, so an extra collect or rescore job fails.
"""

from __future__ import annotations

import time

import pytest

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.operators.wand import (
    wand_boosted,
    wand_phrase,
    wand_proximity,
    wand_search,
)
from open_source_search_engine_spark.sources.transcripts import synth_transcripts

N_TURNS = 1200

PROX_TIERS = [
    (["spark", "index"], 10),
    (["spark", "index", "query"], 10),
    (["spark", "index", "query", "merge"], 15),
    (["the", "to"], 10),  # stopword pair: large match set, heavy positions
    (["rareterm_xyzzy", "spark"], 5),
    (["zz_not_in_corpus", "spark"], 5),  # AND with a missing term -> empty
]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wandprox-wh"))
    catalog = Catalog(spark, wh)
    build_index(
        spark,
        catalog,
        transcripts_to_docs(synth_transcripts(spark, N_TURNS)),
        IndexConfig(target_reduce_docs=64),
    )
    return SearchEngine(spark, catalog)


def _rows(df):
    return [
        (int(r["doc_id"]), float(r["score"]), int(r["matched"]))
        for r in df.collect()
    ]


@pytest.mark.parametrize("terms,k", PROX_TIERS)
def test_wand_proximity_matches_exact(eng, terms, k):
    exact = _rows(eng.search_proximity(terms, k=k, prox_weight=1.0))
    scale = _rows(wand_proximity(eng, terms, k=k, prox_weight=1.0))
    assert [s[0] for s in scale] == [e[0] for e in exact]
    for (sd, ss, sm), (ed, es, em) in zip(scale, exact):
        assert ss == pytest.approx(es, rel=1e-12, abs=1e-12), (sd, ss, es)
        assert sm == em


def test_overfetch_growth_path_is_exact(eng):
    # overfetch=1, k=3 on a stopword pair: the first candidate fetch is far
    # below the match count, so the ceiling check must either certify or
    # grow m — both paths must land on the exact answer.
    exact = _rows(eng.search_proximity(["the", "to"], k=3, prox_weight=5.0))
    scale = _rows(
        wand_proximity(
            eng, ["the", "to"], k=3, prox_weight=5.0, overfetch=1
        )
    )
    assert scale == pytest.approx(exact)
    assert [s[0] for s in scale] == [e[0] for e in exact]


def test_max_candidates_fallback_is_exact(eng):
    # max_candidates == k+1 forces the exact-path takeover branch
    exact = _rows(eng.search_proximity(["the", "to"], k=5, prox_weight=5.0))
    scale = _rows(
        wand_proximity(
            eng,
            ["the", "to"],
            k=5,
            prox_weight=5.0,
            overfetch=1,
            max_candidates=6,
        )
    )
    assert [s[0] for s in scale] == [e[0] for e in exact]


def test_escalation_schedule_is_exact(eng):
    # Force the IN-LOOP escalation path (r5: tail-slope extrapolated
    # schedule): max_candidates far below the stopword pair's match count
    # disables the pre-loop exhaustive bump, and overfetch=1 starts m at
    # k+1, so the certificate must fail at least once. Whichever branch
    # the extrapolation picks (jump m, or exact-now), the result must be
    # the exact answer.
    exact = _rows(eng.search_proximity(["the", "to"], k=3, prox_weight=5.0))
    for max_candidates in (8, 64, 256):
        scale = _rows(
            wand_proximity(
                eng,
                ["the", "to"],
                k=3,
                prox_weight=5.0,
                overfetch=1,
                max_candidates=max_candidates,
            )
        )
        assert [s[0] for s in scale] == [e[0] for e in exact], max_candidates
        assert scale == pytest.approx(exact)


def test_w0_rank_identity_with_wand(eng):
    for terms, k in [(["spark", "index"], 10), (["the", "to"], 15)]:
        base = _rows(wand_search(eng, terms, "AND", k))
        prox0 = _rows(wand_proximity(eng, terms, k=k, prox_weight=0.0))
        assert prox0 == base


def test_wand_proximity_exact_fallback_honors_exclusions(eng):
    from open_source_search_engine_spark.operators.wand import wand_proximity

    with_excl = {
        r["doc_id"]
        for r in eng.search_terms(["spark"], mode="OR", k=10_000).collect()
    }
    # overfetch=1 + tiny max_candidates + huge weight forces the exact
    # fallback branch; the exclusion must survive into it
    out = wand_proximity(
        eng,
        ["the", "to"],
        k=3,
        prox_weight=50.0,
        overfetch=1,
        max_candidates=4,
        exclude_terms=["spark"],
    ).collect()
    assert out
    assert not ({r["doc_id"] for r in out} & with_excl)
    # and the result equals the exact path with the same exclusion
    want = eng.search_proximity(
        ["the", "to"], k=3, prox_weight=50.0, exclude_terms=["spark"]
    ).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in out] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]


# ---------------------------------------------------------------------------
# batch proximity (r5): search_many_proximity must be per-query rank- and
# score-identical to search_proximity on EVERY routing path — certified
# one-shot, fallback (certificate impossible), single-term, OR-mode.
# ---------------------------------------------------------------------------

def _exact_rows(eng, terms, k, w, mode="AND"):
    out = eng.search_proximity(sorted(set(terms)), k=k, prox_weight=w, mode=mode)
    return [
        (i + 1, r["doc_id"], round(r["score"], 9), r["matched"])
        for i, r in enumerate(out.collect())
    ]


BATCH = [
    {"query_id": "qa", "terms": ["spark", "index"], "mode": "AND", "k": 5},
    {"query_id": "qb", "terms": ["merge", "sort", "shard"], "mode": "AND", "k": 5},
    {"query_id": "qc", "terms": ["spark"], "mode": "AND", "k": 5},
    {"query_id": "qd", "terms": ["vector", "window"], "mode": "OR", "k": 5},
    {"query_id": "qe", "terms": ["zzzabsent", "spark"], "mode": "AND", "k": 5},
]


def test_batch_proximity_identity_all_shapes(eng):
    out = eng.search_many_proximity(BATCH, prox_weight=1.0)
    by_q = {}
    for r in out.orderBy("query_id", "rank").collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], round(r["score"], 9), r["matched"])
        )
    for q in BATCH:
        qid = q["query_id"]
        want = _exact_rows(eng, q["terms"], q["k"], 1.0, q["mode"])
        assert by_q.get(qid, []) == want, qid
    assert "qe" not in by_q  # unanswerable AND query yields no rows


def test_batch_proximity_forced_fallback_is_exact(eng):
    # overfetch=1 gives m = k+1 candidates and a huge prox_weight makes the
    # certificate unsatisfiable unless the match set is exhausted -- the
    # common-term query routes through the exact fallback branch and must
    # STILL be identical to the exact path
    batch = [{"query_id": "fb", "terms": ["the", "spark"], "mode": "AND", "k": 3}]
    out = eng.search_many_proximity(batch, prox_weight=50.0, overfetch=1)
    got = [
        (r["rank"], r["doc_id"], round(r["score"], 9), r["matched"])
        for r in out.collect()
    ]
    assert got == _exact_rows(eng, ["the", "spark"], 3, 50.0)


def test_batch_proximity_weight_zero_is_search_many(eng):
    a = [tuple(r) for r in eng.search_many_proximity(BATCH, prox_weight=0.0).collect()]
    b = [tuple(r) for r in eng.search_many(BATCH).collect()]
    assert a == b


# ---------------------------------------------------------------------------
# job-count pin: one exhaustive-fast-path call per re-rank entry point,
# counted with statusTracker() in a job group. The pins are the counts the
# five entry points launch now that their BM25 candidate fetches take the
# driver route (a small plan's page is read and folded in the driver, no
# job); only the rescoring and the exact fallbacks run on Spark. A rise is
# a regression.
# ---------------------------------------------------------------------------

ROLE_W = {"role": ({"user": 2.0, "assistant": 0.5}, 1.0)}
JOB_BATCH = BATCH[:4]  # the answerable shapes: AND, 3-term, 1-term, OR
RERANK_JOB_PINS = {
    "wand_proximity": (
        lambda e: wand_proximity(e, ["spark", "index", "query"], k=10), 4
    ),
    "wand_phrase": (lambda e: wand_phrase(e, ["to", "be"], k=10), 4),
    "wand_boosted": (
        lambda e: wand_boosted(
            e, ["spark", "index"], "AND", 10, field_weights=ROLE_W
        ),
        2,
    ),
    "search_many_proximity": (
        lambda e: e.search_many_proximity(JOB_BATCH, prox_weight=1.0), 8
    ),
    "search_many_boosted": (
        lambda e: e.search_many_boosted(JOB_BATCH, field_weights=ROLE_W), 5
    ),
}


def _settled_job_count(sc, group: str) -> int:
    # the status store is fed by the async listener bus: poll until the
    # group's job count has held still for half a second
    seen, stable, deadline = -1, 0, time.time() + 10
    while stable < 5 and time.time() < deadline:
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        stable, seen = (stable + 1, n) if n == seen else (0, n)
        time.sleep(0.1)
    return seen


def test_rerank_entry_points_keep_their_job_counts(spark, eng):
    sc = spark.sparkContext
    got = {}
    for name, (call, _) in RERANK_JOB_PINS.items():
        call(eng).collect()  # warm the engine's plan cache
        group = f"rerank-jobs-{name}"
        sc.setJobGroup(group, name)
        try:
            call(eng).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got[name] = _settled_job_count(sc, group)
    assert got == {name: pin for name, (_, pin) in RERANK_JOB_PINS.items()}
