"""Quoted-phrase top-k on the WAND scale path (O5 at scale).

Gates:
* wand_phrase == search_phrase (rank AND score) on 2-, 3- and 4-word
  phrases, repeated-word phrases, rare phrases and missing-term phrases —
  the over-fetch + candidate-restricted verify + certificate loop is exact;
* both certificate regimes are exercised: the exhaustive fast path
  (rarest-df bound affordable) AND the escalation/exact-fallback path
  (max_candidates squeezed below the match set);
* a single-word "phrase" is wand_search verbatim;
* phrase_docs(restrict=page) == phrase_docs() ∩ page (the broadcast
  semi-join narrows, never alters, verification).
"""

from __future__ import annotations

import pytest

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.operators.wand import (
    wand_phrase,
    wand_search,
)
from open_source_search_engine_spark.sources.transcripts import synth_transcripts

N_TURNS = 1200

PHRASE_TIERS = [
    (["to", "be"], 10),
    (["to", "be", "or", "not"], 10),
    (["repeat", "repeat"], 10),
    (["rareterm_xyzzy", "appears"], 5),
    (["zz_nope", "zz_nada"], 5),  # terms absent from the corpus -> empty
    (["the", "to"], 10),  # common words, adjacency-constrained
]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wandphrase-wh"))
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


@pytest.mark.parametrize("phrase,k", PHRASE_TIERS)
def test_wand_phrase_matches_exact(eng, phrase, k):
    exact = _rows(eng.search_phrase(phrase, k))
    scale = _rows(wand_phrase(eng, phrase, k=k))
    assert [s[0] for s in scale] == [e[0] for e in exact]
    for (sd, ss, sm), (ed, es, em) in zip(scale, exact):
        assert ss == pytest.approx(es, rel=1e-12, abs=1e-12), (sd, ss, es)
        assert sm == em


@pytest.mark.parametrize("phrase,k", PHRASE_TIERS[:3])
def test_squeezed_candidate_budget_is_exact(eng, phrase, k):
    # max_candidates below the AND match set of common words disables the
    # exhaustive fast path, so the certificate must either hold on a small
    # page, escalate, or land on the exact fallback — all exact.
    exact = _rows(eng.search_phrase(phrase, k))
    scale = _rows(
        wand_phrase(eng, phrase, k=k, overfetch=1, max_candidates=16)
    )
    assert scale == exact


def test_single_word_is_wand_search(eng):
    via_phrase = _rows(wand_phrase(eng, ["spark"], k=10))
    via_wand = _rows(wand_search(eng, ["spark"], "AND", 10))
    assert via_phrase == via_wand


def test_restrict_narrows_but_never_alters(eng):
    full = {
        int(r["doc_id"]) for r in eng.phrase_docs(["to", "be"]).collect()
    }
    assert full  # the planted 'to be or not to be' turn guarantees hits
    some = sorted(full)[: max(1, len(full) // 2)]
    page = eng.spark.createDataFrame(
        [(d,) for d in some] + [(-1,)], "doc_id long"
    )
    got = {
        int(r["doc_id"])
        for r in eng.phrase_docs(["to", "be"], restrict=page).collect()
    }
    assert got == set(some)


def test_exclusions_rejected_loudly(eng):
    # the exact fallback (search_phrase) has no exclusion support, so the
    # scale path takes no exclusions at all rather than silently dropping
    # the filter when the terminal branch fires
    with pytest.raises(TypeError, match="exclude_terms"):
        wand_phrase(eng, ["to", "be"], k=5, exclude_terms=["spark"])
