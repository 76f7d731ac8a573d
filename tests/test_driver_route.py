"""The driver route (query.route's "driver": SearchEngine._driver_pages):
a small AND/OR/-term plan is answered from one Arrow read of its blocks and
a numpy fold, with no Spark job. Gates: pages equal the Spark exact path's
bit for bit (doc_id, score bits, matched) on the test tiers and on a
tombstoned index, page by page under a cursor; single queries, all-small
batches and engine construction launch zero jobs; a fileless postings
table falls back to a filtered Spark scan; a mixed batch splits between
the driver and the shared scan with identical pages."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators import query
from open_source_search_engine_spark.operators.index_build import (
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.operators.updates import apply_updates
from open_source_search_engine_spark.sources.transcripts import synth_transcripts

from test_entry_oracle import SF_DIR
from test_plan_quality import _Fileless, _jobs_of

#: the test tiers' documents, next to the driver contract's own tier
TESTDATA = os.path.dirname(SF_DIR)
TIERS = ["sf0.001", "sf0.1"]


def _bits(rows) -> list[tuple]:
    return [(r["doc_id"], r["score"].hex(), r["matched"]) for r in rows]


def _spark_page(eng, monkeypatch, *args, **kwargs) -> list[tuple]:
    """search_after's page on the Spark exact path: a zero cutoff routes
    every plan off the driver, and search_after never runs WAND."""
    with monkeypatch.context() as m:
        m.setattr(query, "WAND_DF_CUTOFF", 0)
        return _bits(eng.search_after(*args, **kwargs).collect())


def _driver_page(eng, *args, **kwargs) -> list[tuple]:
    return _bits(eng.search_after(*args, **kwargs).collect())


def _tier_engine(spark, tmp_path_factory, tier: str) -> SearchEngine:
    cat = Catalog(spark, str(tmp_path_factory.mktemp(f"driver-{tier}")))
    docs = spark.read.parquet(f"{TESTDATA}/{tier}/documents.parquet")
    build_index(spark, cat, docs.select("doc_id", "text"))
    return SearchEngine(spark, cat)


@pytest.fixture(scope="module", params=TIERS)
def tier_eng(request, spark, tmp_path_factory):
    return _tier_engine(spark, tmp_path_factory, request.param)


@pytest.fixture(scope="module")
def plain_eng(spark, tmp_path_factory):
    return _tier_engine(spark, tmp_path_factory, TIERS[0])


@pytest.fixture(scope="module")
def tomb_eng(spark, tmp_path_factory):
    """A 600-turn index after one update round: every turn_idx 2 doc
    upserted with new text, every turn_idx 5 doc deleted, so tombstones
    annihilate the old versions of common terms' postings."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("driver-tomb")))
    base = transcripts_to_docs(synth_transcripts(spark, 600))
    build_index(spark, cat, base)
    upserts = base.filter(F.col("turn_idx") == 2).withColumn(
        "text", F.concat(F.lit("spark fresh merge "), F.col("text"))
    )
    deletes = base.filter(F.col("turn_idx") == 5).select("doc_id")
    apply_updates(spark, cat, upserts=upserts, delete_ids=deletes)
    eng = SearchEngine(spark, cat)
    assert eng._tomb_arrays is not None
    return eng


def _tier_queries(eng) -> list[tuple]:
    """AND, OR and -term queries over head, middle and tail terms of the
    index's own dictionary (df desc, term asc)."""
    rows = (
        eng.catalog.read_table("term_stats")
        .where("term NOT LIKE '% %'")
        .orderBy(F.desc("df"), F.asc("term"))
        .select("term")
        .collect()
    )
    t = [r["term"] for r in rows]
    head, mid, tail = t[:4], t[len(t) // 20:len(t) // 20 + 4], t[-3:]
    return [
        ([head[0], head[1]], "AND", 10, None),
        ([head[0], head[1]], "OR", 10, None),
        ([head[2], mid[0]], "AND", 10, None),
        ([mid[0], mid[1], mid[2]], "OR", 25, None),
        ([head[0], mid[3], tail[0]], "OR", 10, None),
        ([head[3]], "AND", 1000, None),
        ([head[1], mid[1]], "OR", 10, [head[0]]),
        ([head[0]], "AND", 10, [mid[0], tail[1]]),
        ([tail[2], "zz_absent_term_qq"], "OR", 10, None),
    ]


def test_driver_pages_equal_spark_pages_on_the_tiers(tier_eng, monkeypatch):
    for terms, mode, k, ex in _tier_queries(tier_eng):
        assert query.route(tier_eng.plan_terms(terms), mode)[0] == "driver"
        want = _spark_page(tier_eng, monkeypatch, terms, mode, k, None, ex)
        got = _driver_page(tier_eng, terms, mode, k, None, ex)
        assert got == want and want, (terms, mode, ex)
        auto = _bits(tier_eng.search_auto(terms, mode, k, ex).collect())
        assert auto == want, (terms, mode, ex)


@pytest.mark.parametrize(
    "terms,mode,ex",
    [
        (["spark", "index"], "OR", None),
        (["the", "to"], "AND", None),
        (["spark", "merge", "fresh"], "OR", ["index"]),
    ],
)
def test_cursor_walk_equals_spark_on_a_tombstoned_index(
    tomb_eng, monkeypatch, terms, mode, ex
):
    k, after, pages = 7, None, 0
    while True:
        want = _spark_page(tomb_eng, monkeypatch, terms, mode, k, after, ex)
        got = _driver_page(tomb_eng, terms, mode, k, after, ex)
        assert got == want, (pages, after)
        if len(want) < k:
            break
        after, pages = (float.fromhex(want[-1][1]), want[-1][0]), pages + 1
    assert pages >= 3


@pytest.mark.parametrize("tombstoned", [False, True])
def test_small_queries_and_batches_launch_zero_jobs(
    spark, request, tombstoned
):
    eng = request.getfixturevalue("tomb_eng" if tombstoned else "plain_eng")
    sc = spark.sparkContext
    eng.plan_terms(["the", "spark", "merge"])
    calls = [
        (["the", "spark"], "AND", None),
        (["spark", "merge"], "OR", None),
        (["the", "merge"], "OR", ["spark"]),
    ]
    for i, (terms, mode, ex) in enumerate(calls):
        rows, jobs = _jobs_of(
            sc, f"driver-{tombstoned}-{i}",
            lambda: eng.search_auto(terms, mode, 10, ex).collect(),
        )
        assert jobs == 0 and rows, (terms, mode, ex)
    batch = [
        {"query_id": f"q{i}", "terms": terms, "mode": mode, "k": 5}
        for i, (terms, mode, _) in enumerate(calls)
    ]
    rows, jobs = _jobs_of(
        sc, f"driver-batch-{tombstoned}",
        lambda: eng.search_many(batch).collect(),
    )
    assert jobs == 0 and len({r["query_id"] for r in rows}) == 3
    assert [(r["query_id"], r["rank"]) for r in rows] == sorted(
        (r["query_id"], r["rank"]) for r in rows
    )
    _, jobs = _jobs_of(
        sc, f"driver-ctor-{tombstoned}",
        lambda: SearchEngine(spark, eng.catalog),
    )
    assert jobs == 0


def test_batch_splits_between_driver_and_shared_scan(tomb_eng, monkeypatch):
    eng = tomb_eng
    queries = [
        {"query_id": "a", "terms": ["the", "to"], "mode": "OR", "k": 10},
        {"query_id": "b", "terms": ["spark", "index"], "mode": "AND", "k": 5},
        {"query_id": "c", "terms": ["fresh", "merge"], "mode": "OR", "k": 8},
        {"query_id": "d", "terms": ["zz_absent_term_qq"], "mode": "OR"},
    ]
    plan = eng.plan_terms(["the", "to"])
    # "a" is the only query over the cutoff: it takes the shared scan
    monkeypatch.setattr(query, "WAND_DF_CUTOFF", int(plan["df"].sum()) - 1)
    planned = eng._plan_batch(queries, 10)[1]
    assert {q.qid: q.via for q in planned} == {
        "a": "shared", "b": "driver", "c": "driver"
    }
    got = eng.search_many(queries).collect()
    for q in queries[:3]:
        want = _spark_page(eng, monkeypatch, q["terms"], q["mode"], q["k"])
        page = [r for r in got if r["query_id"] == q["query_id"]]
        assert [r["rank"] for r in page] == list(range(1, len(page) + 1))
        assert _bits(page) == want and want, q["query_id"]
    assert [r["query_id"] for r in got] == sorted(r["query_id"] for r in got)


def test_fileless_postings_take_the_driver_route_through_spark(
    spark, tomb_eng, monkeypatch
):
    fileless = SearchEngine(
        spark, _Fileless(tomb_eng.catalog, ("postings", "tombstones"))
    )
    assert fileless._postings.inputFiles() == []
    for terms, mode in ((["spark", "index"], "AND"), (["the", "to"], "OR")):
        ex = ["merge"]
        want = _spark_page(tomb_eng, monkeypatch, terms, mode, 10, None, ex)
        got = _driver_page(fileless, terms, mode, 10, None, ex)
        assert got == want and want


def test_engine_over_a_hot_cache_index_launches_zero_jobs(
    spark, tmp_path_factory
):
    from open_source_search_engine_spark.operators.index_build import (
        IndexConfig,
    )

    cat = Catalog(spark, str(tmp_path_factory.mktemp("driver-hot")))
    build_index(
        spark, cat, transcripts_to_docs(synth_transcripts(spark, 200)),
        IndexConfig(hot_cache_k=16),
    )
    eng, jobs = _jobs_of(
        spark.sparkContext, "driver-ctor-hot", lambda: SearchEngine(spark, cat)
    )
    assert jobs == 0 and eng._hot_meta is not None
    assert eng._hot_meta == cat.read_table("hot_meta").first().asDict()
