"""Resume gates (SURVEY.md §7.2.6): kill-and-resume produces an identical
index; a clean re-run no-ops every partition; compaction (merge_postings)
preserves query results while collapsing segments."""

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
from open_source_search_engine_spark.operators.resumable import (
    SimulatedFailure,
    merge_postings,
    resumable_build,
)
from open_source_search_engine_spark.sources.transcripts import synth_transcripts

N_TURNS = 800


def _topk(spark, catalog, terms=("spark", "index"), mode="AND", k=10):
    eng = SearchEngine(spark, catalog)
    return [
        (int(r["doc_id"]), float(r["score"]))
        for r in eng.search_terms(list(terms), mode, k).collect()
    ]


@pytest.fixture(scope="module")
def docs(spark):
    return transcripts_to_docs(synth_transcripts(spark, N_TURNS))


@pytest.fixture(scope="module")
def reference_catalog(spark, tmp_path_factory, docs):
    """One-shot (non-resumable) build as ground truth."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("ref-wh")))
    build_index(spark, cat, docs)
    return cat


def test_kill_and_resume_identical(spark, tmp_path_factory, docs, reference_catalog):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("res-wh")))
    with pytest.raises(SimulatedFailure):
        resumable_build(
            spark, cat, docs, n_partitions=4, fail_after_partition=1
        )
    res = resumable_build(spark, cat, docs, n_partitions=4)
    assert res.partitions_skipped == 2  # partitions 0,1 committed pre-crash
    assert res.partitions_run == 2
    assert _topk(spark, cat) == _topk(spark, reference_catalog)
    # stats identical to the one-shot build (n_blocks differs until
    # compaction -- segments each hold their own partial blocks)
    a = cat.read_table("corpus_stats").collect()[0]
    b = reference_catalog.read_table("corpus_stats").collect()[0]
    assert (a["n_docs"], a["avgdl"]) == (b["n_docs"], b["avgdl"])
    merge_postings(spark, cat)
    # block layouts may differ (df-adaptive granularity depends on build
    # partitioning) but the POSTING content must be identical
    pa = cat.read_table("postings").agg(
        F.sum("n_docs").alias("p"), F.sum("sum_tf").alias("t")
    ).collect()[0]
    pb = reference_catalog.read_table("postings").agg(
        F.sum("n_docs").alias("p"), F.sum("sum_tf").alias("t")
    ).collect()[0]
    assert (pa["p"], pa["t"]) == (pb["p"], pb["t"])
    assert _topk(spark, cat) == _topk(spark, reference_catalog)


def test_rerun_noops_and_manifest_rows(spark, tmp_path_factory, docs):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("res2-wh")))
    r1 = resumable_build(spark, cat, docs, n_partitions=4)
    assert r1.partitions_run == 4
    r2 = resumable_build(spark, cat, docs, n_partitions=4)
    assert r2.partitions_run == 0 and r2.partitions_skipped == 4
    man = cat.read_table("build_manifest")
    assert man.filter(F.col("status") == "committed").count() == 4
    for row in man.collect():
        assert row["rows"] >= 0 and row["postings_per_sec"] > 0
    met = cat.read_table("build_metrics").collect()
    assert len(met) == 2 and met[0]["merge_fan_in"] == 4


def test_merge_postings_preserves_results(spark, tmp_path_factory, docs, reference_catalog):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("res3-wh")))
    resumable_build(spark, cat, docs, n_partitions=4)
    before = _topk(spark, cat, ("the", "to", "spark"), "OR", 25)
    n_rows_before = cat.read_table("postings").count()
    fan_in = merge_postings(spark, cat)
    assert fan_in == 4
    assert cat.read_table("postings").count() < n_rows_before
    # every (term_id, block_id) is single-row again
    dup = (
        cat.read_table("postings")
        .groupBy("term_id", "salt_bits", "block_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    after = _topk(spark, cat, ("the", "to", "spark"), "OR", 25)
    assert before == after
    assert after == _topk(spark, reference_catalog, ("the", "to", "spark"), "OR", 25)


class TestResumableConfigParity:
    def test_bigrams_built_by_resumable(self, spark, catalog):
        from open_source_search_engine_spark.operators.resumable import (
            resumable_build,
        )

        docs = spark.createDataFrame(
            [(1, "quick brown fox jumps"), (2, "brown quick separated x")],
            "doc_id long, text string",
        )
        resumable_build(
            spark, catalog, docs, IndexConfig(bigrams=True), n_partitions=2
        )
        eng = SearchEngine(spark, catalog)
        # the indexed bigram termlist must exist and serve the initial
        # corpus (used to be silently skipped -> phrase missed doc 1)
        assert not eng.plan_terms(["quick brown"]).empty
        hits = eng.bigram_postings("quick", "brown").collect()
        assert [r.doc_id for r in hits] == [1]

    def test_skip_terms_honored_by_resumable(self, spark, catalog):
        from open_source_search_engine_spark.operators.resumable import (
            resumable_build,
        )

        docs = spark.createDataFrame(
            [(1, "www example site"), (2, "plain doc words")],
            "doc_id long, text string",
        )
        resumable_build(
            spark,
            catalog,
            docs,
            IndexConfig(skip_terms=("www",)),
            n_partitions=2,
        )
        eng = SearchEngine(spark, catalog)
        assert eng.search_terms(["www"], "AND", 5).count() == 0
        assert eng.search_terms(["example"], "AND", 5).count() == 1

    def test_duplicate_doc_id_raises(self, spark, catalog):
        from open_source_search_engine_spark.operators.resumable import (
            resumable_build,
        )

        docs = spark.createDataFrame(
            [(7, "first version"), (7, "second version")],
            "doc_id long, text string",
        )
        with pytest.raises(ValueError, match="collision"):
            resumable_build(spark, catalog, docs, n_partitions=2)
