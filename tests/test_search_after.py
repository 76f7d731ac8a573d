"""Cursor-based deep paging (search_after) gates: chained cursor pages
tile the full ranking exactly (no skip, no repeat, any depth), page 1 with
no cursor equals search_terms, a mid-tie cursor resumes inside the tie run
by doc_id, and the plan stays the single TakeOrderedAndProject a page-1
query costs (the whole point: O(k) at any depth)."""

from __future__ import annotations

import pytest

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.sources.transcripts import (
    synth_transcripts,
)

Q = ["spark", "index"]


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("after-wh")))
    build_index(
        spark,
        cat,
        transcripts_to_docs(synth_transcripts(spark, 800)),
        IndexConfig(tokenizer_mode="ascii"),
    )
    return SearchEngine(spark, cat, tokenizer_mode="ascii")


def test_cursor_pages_tile_the_full_ranking(eng):
    full = eng.search_terms(Q, "OR", 10_000).collect()
    assert len(full) > 30, "need depth to page through"
    paged, cur = [], None
    while True:
        page = eng.search_after(Q, "OR", k=7, after=cur).collect()
        if not page:
            break
        paged.extend(page)
        cur = (page[-1]["score"], page[-1]["doc_id"])
    assert [(r["doc_id"], r["score"]) for r in paged] == [
        (r["doc_id"], r["score"]) for r in full
    ], "chained pages must reproduce the global ranking bit-for-bit"


def test_page1_equals_search_terms(eng):
    a = eng.search_after(Q, "AND", k=10).collect()
    b = eng.search_terms(Q, "AND", 10).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_cursor_resumes_inside_tie_run(eng):
    # ties (equal scores) are broken doc_id ASC; cursor placed ON a tie
    # member must resume at the NEXT doc_id of the same score
    full = eng.search_terms(Q, "OR", 10_000).collect()
    tie_idx = next(
        (
            i
            for i in range(len(full) - 1)
            if full[i]["score"] == full[i + 1]["score"]
        ),
        None,
    )
    if tie_idx is None:
        pytest.skip("corpus produced no score tie at this size")
    cur = (full[tie_idx]["score"], full[tie_idx]["doc_id"])
    nxt = eng.search_after(Q, "OR", k=1, after=cur).collect()
    assert nxt[0]["doc_id"] == full[tie_idx + 1]["doc_id"]
    assert nxt[0]["score"] == full[tie_idx + 1]["score"]


def test_deep_page_plan_is_single_topk(eng, monkeypatch):
    from open_source_search_engine_spark.operators import query

    # the Spark exact path: a zero cutoff routes the plan off the driver
    monkeypatch.setattr(query, "WAND_DF_CUTOFF", 0)
    p = (
        eng.search_after(Q, "OR", k=10, after=(0.5, 123))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


def test_wand_cursor_pages_tile_exact_ranking(eng, monkeypatch):
    # WAND + cursor on BOTH wand paths must reproduce the exact-path
    # global ranking bit-for-bit when chained
    from open_source_search_engine_spark.operators import query
    from open_source_search_engine_spark.operators.wand import wand_search

    full = eng.search_terms(Q, "AND", 10_000).collect()
    assert len(full) > 15
    for cutoff in (100_000, 0):  # fast path, then forced two-phase theta
        monkeypatch.setattr(query, "RAREST_DF_CUTOFF", cutoff)
        paged, cur = [], None
        while True:
            page = wand_search(eng, Q, "AND", k=6, after=cur).collect()
            if not page:
                break
            paged.extend(page)
            cur = (page[-1]["score"], page[-1]["doc_id"])
        assert [(r["doc_id"], r["score"]) for r in paged] == [
            (r["doc_id"], r["score"]) for r in full
        ], f"cutoff={cutoff}"


@pytest.fixture(scope="module")
def tight_eng(spark, tmp_path_factory):
    """Equal-length docs with tf 1 or 2, so block bounds are nearly exact
    scores: a rare ``aa`` (a few coarse blocks) over a common ``bb`` (fine
    blocks). The top doc has both at tf 2; its ``aa``-only partial row
    outscores every other doc, and groups under the other ``aa`` blocks
    bound below it."""
    import random

    rng = random.Random(2)
    rows = []
    for i in range(80):
        toks = (
            ["aa", "aa", "bb", "bb"] if i == 0
            else ["aa", "bb"] if i < 6
            else ["aa"] if i < 10
            else ["bb"] * rng.choice((1, 2)) if i < 60
            else []
        )
        toks += [f"f{i}x{j}" for j in range(4 - len(toks))]
        rows.append((rng.getrandbits(62), " ".join(toks)))
    cat = Catalog(spark, str(tmp_path_factory.mktemp("after-tight-wh")))
    build_index(
        spark,
        cat,
        spark.createDataFrame(rows, "doc_id long, text string"),
        IndexConfig(target_reduce_docs=2),
    )
    return SearchEngine(spark, cat)


def test_wand_or_cursor_pages_tile_exact_or_ranking(tight_eng, monkeypatch):
    # forced two-phase OR + cursor: theta must count complete rows only. A
    # partial row of a doc an earlier page returned passes the cursor and,
    # counted, would prune the groups that hold the next page
    from open_source_search_engine_spark.operators import query
    from open_source_search_engine_spark.operators.wand import (
        pruning_stats,
        wand_search,
    )

    monkeypatch.setattr(query, "PHASE_A_GROUPS", 1)
    monkeypatch.setattr(query, "RAREST_DF_CUTOFF", 0)
    q = ["aa", "bb"]
    assert pruning_stats(tight_eng, q, "OR")["groups_total"] > 8
    full = tight_eng.search_terms(q, "OR", 10_000).collect()
    paged, cur = [], None
    while len(paged) <= len(full):
        page = wand_search(tight_eng, q, "OR", k=1, after=cur).collect()
        if not page:
            break
        paged.extend(page)
        cur = (page[-1]["score"], page[-1]["doc_id"])
    assert [tuple(r) for r in paged] == [tuple(r) for r in full]


def test_wand_after_none_is_plain_wand(eng):
    from open_source_search_engine_spark.operators.wand import wand_search

    a = wand_search(eng, Q, "AND", k=10).collect()
    b = wand_search(eng, Q, "AND", k=10, after=None).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
