"""Physical-plan gates: the properties the 100TB design depends on must be
visible in .explain() -- filter pushdown to the parquet scan, column pruning
(never read position lists the query doesn't need), broadcast for
the tiny side, and TakeOrderedAndProject for top-k (partial per-partition
top-k + tiny final merge, the TopTree/Msg3a shape)."""

from __future__ import annotations

import pytest

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators.index_build import (
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators import query
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.sources.transcripts import synth_transcripts


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("plan-wh")))
    build_index(spark, cat, transcripts_to_docs(synth_transcripts(spark, 400)))
    return SearchEngine(spark, cat)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_term_filter_pushed_to_scan(eng):
    plan = eng.plan_terms(["spark", "index"])
    dec = eng.decoded_postings([int(t) for t in plan["term_id"]])
    p = _physical(dec)
    assert "PushedFilters: [In(term_id" in p


def test_column_pruning_skips_positions(eng):
    plan = eng.plan_terms(["spark"])
    dec = eng.decoded_postings([int(t) for t in plan["term_id"]])
    p = _physical(dec)
    # the ReadSchema of the postings scan must not include the positions
    # payload (only the phrase path pays for it)
    scan = [ln for ln in p.splitlines() if "postings" in ln and "ReadSchema" in ln]
    assert scan and all("positions" not in ln.split("ReadSchema")[1] for ln in scan)
    with_pos = eng.decoded_postings(
        [int(t) for t in plan["term_id"]], include_positions=True
    )
    p2 = _physical(with_pos)
    scan2 = [ln for ln in p2.splitlines() if "postings" in ln and "ReadSchema" in ln]
    assert scan2 and any("positions" in ln.split("ReadSchema")[1] for ln in scan2)


def test_topk_is_take_ordered(eng, monkeypatch):
    # the Spark exact path: a zero cutoff routes the plan off the driver
    monkeypatch.setattr(query, "WAND_DF_CUTOFF", 0)
    df = eng.search_terms(["spark", "index"], "AND", 10)
    p = _physical(df)
    assert "TakeOrderedAndProject" in p


def test_source_cap_shape_has_no_global_sort(spark, eng):
    # the per-source window cap (SURVEY.md A6) must consume UNRANKED scores:
    # no global Sort / TakeOrderedAndProject below the window (the window's
    # own per-partition sort after Exchange(source) is the only Sort allowed)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    scored = eng.score_terms(["spark"], "AND")
    p0 = _physical(scored)
    assert "TakeOrderedAndProject" not in p0
    assert "Sort [" not in p0

    docs = eng.catalog.read_table("documents").select(
        "doc_id", F.pmod("doc_id", F.lit(7)).alias("source")
    )
    w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    capped = (
        scored.join(docs, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )
    p = _physical(capped)
    assert "TakeOrderedAndProject" not in p
    # every Sort in the plan is the window's local sort keyed by source
    sorts = [ln for ln in p.splitlines() if "Sort [" in ln]
    assert sorts and all("source" in ln for ln in sorts)


def test_filter_docs_restricts_before_ranking(spark, eng):
    docs = eng.catalog.read_table("documents").select("doc_id").limit(50)
    df = eng.search_terms(["spark"], "AND", 5, filter_docs=docs)
    p = _physical(df)
    # the semi join must appear BELOW the top-k operator in the plan
    assert "TakeOrderedAndProject" in p and "LeftSemi" in p
    assert p.index("TakeOrderedAndProject") < p.index("LeftSemi")


@pytest.fixture(scope="module")
def ann(spark, tmp_path_factory):
    from open_source_search_engine_spark.operators import similarity

    cat = Catalog(spark, str(tmp_path_factory.mktemp("ann-wh")))
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    similarity.build_ann_index(spark, cat, emb, n_planes=6, n_centroids=4)
    idx = similarity.load_ann_index(cat)
    qv = [
        float(x) for x in emb.limit(1).collect()[0]["embedding"]
    ]
    return idx, qv, emb


def test_lsh_ann_scan_is_partition_pruned(spark, ann):
    # the materialized-index contract (VERDICT r1 #1): a query must READ the
    # stored lsh_sig partition column -- hamming-ring IN-filter lands in
    # PartitionFilters -- and must NOT recompute signatures (no zip_with
    # dot-product chain anywhere in the plan)
    from open_source_search_engine_spark.operators import similarity

    idx, qv, _ = ann
    top = similarity.lsh_ann_topk(idx["lsh"], qv, k=5, n_planes=6, max_hamming=1)
    p = _physical(top)
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert pf and any("lsh_bucket" in ln for ln in pf), p
    # exactly ONE dot product in the plan: candidate x query-vector cosine.
    # an inline-signature plan would carry n_planes more zip_with chains
    assert p.count("zip_with") <= 1, p.count("zip_with")
    # stored vec_norm is reused -- the norm's transform-square chain is gone
    assert "vec_norm" in p


def test_ivf_scan_is_partition_pruned(spark, ann):
    from open_source_search_engine_spark.operators import similarity

    idx, qv, _ = ann
    top = similarity.ivf_topk(
        idx["ivf"], qv, k=5, n_probe=2, centroids=idx["centroids"]
    )
    p = _physical(top)
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert pf and any("ivf_c" in ln for ln in pf), p


def test_indexed_ann_matches_inline(spark, ann):
    # stored-signature path == inline-computed path, bit for bit
    from open_source_search_engine_spark.operators import similarity

    idx, qv, emb = ann
    a = similarity.lsh_ann_topk(
        idx["lsh"], qv, k=10, n_planes=6, max_hamming=2
    ).collect()
    b = similarity.lsh_ann_topk(emb, qv, k=10, n_planes=6, max_hamming=2).collect()
    assert [(r["vec_id"], r["cosine"]) for r in a] == [
        (r["vec_id"], r["cosine"]) for r in b
    ]
    c = similarity.ivf_topk(
        idx["ivf"], qv, k=10, n_probe=2, centroids=idx["centroids"]
    ).collect()
    d = similarity.ivf_topk(
        emb, qv, k=10, n_probe=2, centroids=idx["centroids"]
    ).collect()
    assert [(r["vec_id"], r["cosine"]) for r in c] == [
        (r["vec_id"], r["cosine"]) for r in d
    ]


def test_sortby_is_take_ordered(eng):
    df = eng.search_sorted("spark", "turn_idx", k=5)
    p = _physical(df)
    assert "TakeOrderedAndProject" in p
    assert "Sort [" not in p.replace("TakeOrderedAndProject", "")


def test_hash_split_has_no_shuffle(spark):
    from open_source_search_engine_spark.operators.curation import hash_split

    docs = spark.range(1000).withColumnRenamed("id", "doc_id")
    p = _physical(hash_split(docs))
    assert "Exchange" not in p  # pure projection, embarrassingly parallel


def test_minhash_screen_scan_is_shuffle_free_on_sig_side(spark):
    from open_source_search_engine_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"text number {i} with shared tokens here") for i in range(20)],
        ["doc_id", "text"],
    )
    sigs = dedup.minhash_signatures(docs, num_hashes=8, shingle_n=3)
    # signature computation itself is a single mapInPandas over the scan --
    # no Exchange before the banding explode
    p = _physical(sigs)
    assert "Exchange" not in p


def test_pack_shards_has_no_global_sort(spark):
    from open_source_search_engine_spark.operators.curation import pack_shards

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * (i % 5 + 1)) for i in range(200)],
        ["doc_id", "text"],
    )
    p = _physical(pack_shards(docs, 64, n_buckets=8))
    # two-level prefix sum: ONE hash exchange on the bucket key feeding a
    # bucket-partitioned window; never a global range sort or an
    # unpartitioned window (the one-task-sort anti-pattern)
    assert "rangepartitioning" not in p
    assert "hashpartitioning(bucket" in p
    assert "windowspecdefinition(bucket" in p


def test_decontaminate_corpus_side_never_shuffles_shingles(spark):
    from open_source_search_engine_spark.operators.curation import contaminated_docs

    ev = spark.createDataFrame([(1, "a b c d e", "e")], ["doc_id", "text", "source"])
    corpus = spark.createDataFrame(
        [(i, f"a b c d e token{i}", "t") for i in range(2, 30)],
        ["doc_id", "text", "source"],
    )
    p = _physical(contaminated_docs(corpus, ev, n=4))
    assert "BroadcastHashJoin" in p
    # the only Exchange is the final per-doc agg (hashpartitioning(doc_id));
    # corpus shingles themselves never shuffle
    import re

    exchanges = re.findall(r"Exchange (\w+partitioning)\(([^,)]+)", p)
    data_exchanges = [e for e in exchanges if "broadcast" not in e[0].lower()]
    assert all(col.startswith("doc_id") for _, col in data_exchanges), exchanges


def test_search_deduped_page_is_broadcast_and_topk(eng):
    # r4 serve-time result dedup: the over-fetched page drives a BROADCAST
    # semi-join against the doc store (page <= overfetch*k rows; the doc
    # store side must not shuffle), the page itself comes from a
    # TakeOrderedAndProject top-k, and the simhash-equality collapse is a
    # window over the page only
    df = eng.search_deduped(["spark", "index"], "AND", k=5, overfetch=4)
    p = _physical(df)
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_phrase_postings_prunes_scan(eng):
    # r4 multi-word phrase path (n>=3 positional): the postings scan must
    # be pruned to the phrase's term_ids and MUST read positions (only
    # here); no cartesian product anywhere
    df = eng.phrase_postings(["spark", "index", "spark"])
    p = _physical(df)
    assert "PushedFilters: [In(term_id" in p
    scan = [
        ln for ln in p.splitlines() if "postings" in ln and "ReadSchema" in ln
    ]
    assert scan and any("positions" in ln.split("ReadSchema")[1] for ln in scan)
    assert "Cartesian" not in p


def test_search_many_pre_topk_below_window(eng, monkeypatch):
    # r4 batch-serving fix: a bounded per-partition top-k (the partial
    # WindowGroupLimit) must sit BELOW the per-query rank window and its
    # shuffle, so the window ranks at most n_partitions*k rows per query
    # instead of fully sorting every query's candidate set (the 10M-index
    # 590s anti-pattern). A zero cutoff keeps both queries off the driver
    # route, in the shared scan.
    monkeypatch.setattr(query, "WAND_DF_CUTOFF", 0)
    batch = [
        {"query_id": "a", "terms": ["spark", "index"], "mode": "AND", "k": 5},
        {"query_id": "b", "terms": ["the"], "mode": "OR", "k": 5},
    ]
    p = _physical(eng.search_many(batch))
    # executedPlan prints root-first: the Window node appears above the
    # shuffle, which appears above the partial pre-top-k it consumes
    window = p.index("Window [")
    partial = next(
        i for i, ln in enumerate(p.splitlines())
        if "WindowGroupLimit" in ln and ln.rstrip().endswith("Partial")
    )
    partial = sum(len(ln) + 1 for ln in p.splitlines()[:partial])
    assert window < p.index("Exchange hashpartitioning(query_id", window) < partial


def test_chunk_docs_is_pure_projection(spark):
    # the chunking unit-of-work split must stay a shuffle-free JVM
    # projection + explode: zero Exchanges, zero Python workers
    from open_source_search_engine_spark.operators.curation import chunk_docs
    from open_source_search_engine_spark.sources.transcripts import (
        synth_transcripts,
    )

    docs = synth_transcripts(spark, 50).withColumnRenamed("conv_id", "cid")
    docs = docs.selectExpr("monotonically_increasing_id() AS doc_id", "text")
    p = _physical(chunk_docs(docs, 32, 8))
    assert "Exchange" not in p
    assert "Python" not in p and "ArrowEval" not in p


def test_related_terms_page_restrict_is_broadcast(eng):
    # gigabits: the doc-store restriction to the <= k_docs page must be a
    # broadcast semi-join (page side tiny), and global dfs come from the
    # dictionary — no corpus-wide tokenization
    p = _physical(eng.related_terms(["spark", "index"], k_docs=5, top_terms=5))
    assert "BroadcastHashJoin" in p and "LeftSemi" in p


def test_count_matches_is_single_partial_agg_no_sort(eng):
    # the "about N results" figure: one map-side-combined aggregate over
    # the pruned postings scan -- no top-k, no sort, no window
    p = _physical(eng.count_matches(["spark", "index"]))
    assert "HashAggregate" in p
    assert "TakeOrderedAndProject" not in p and "Sort " not in p
    assert "Window" not in p


def test_df_histogram_no_joins(eng):
    # dictionary telemetry never touches postings: a single aggregation
    # over the term_stats scan, no joins of any kind
    p = _physical(eng.df_histogram())
    assert "Join" not in p
    assert "term_stats" in p and "postings" not in p


def test_prefix_expansion_pushes_startswith_to_dictionary(eng):
    # the wildcard never scans postings for expansion: the StartsWith
    # filter reaches the term_stats parquet scan
    exp = (
        eng._term_stats.filter(
            eng._term_stats.term.startswith("s")
        ).select("term", "df")
    )
    p = _physical(exp)
    assert "PushedFilters" in p and "StringStartsWith" in p
    # and the final page is still the partial-top-k shape
    p2 = _physical(eng.search_prefix(["s*", "index"], "AND", 10, 3))
    assert "TakeOrderedAndProject" in p2


def test_near_scan_is_pruned_and_positions_read_once(eng):
    # NEAR reads ONLY the two terms' blocks (term_id pushdown) and the
    # positions payload appears in the postings ReadSchema (it needs it),
    # while the scoring rescan does not re-read positions
    df = eng.search_near("spark", "index", slop=3, k=10)
    p = _physical(df)
    assert "PushedFilters: [In(term_id" in p
    scans = [
        ln for ln in p.splitlines() if "postings" in ln and "ReadSchema" in ln
    ]
    assert scans
    with_pos = [ln for ln in scans if "positions" in ln.split("ReadSchema")[1]]
    without = [ln for ln in scans if "positions" not in ln.split("ReadSchema")[1]]
    assert with_pos and without, "one positional scan + one score scan"


def test_collocations_no_cartesian_or_sortmergejoin(spark):
    # pair generation is a per-doc array projection, never a self-join:
    # no cartesian product and no shuffle join keyed on doc_id pairs; the
    # vocab joins back via broadcast
    from open_source_search_engine_spark.operators.text_analysis import (
        collocations,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i % 5} fill") for i in range(60)],
        "doc_id long, text string",
    )
    p = _physical(collocations(docs, df_min=2, df_max=50, vocab_k=10, top_k=5))
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p  # vocab + final top-k selections


def test_ltr_features_single_agg_pruned_topk(eng):
    # the feature export must cost exactly a plain query: term_id pushdown
    # on the postings scan, ONE doc_id aggregate carrying every feature
    # (no second shuffle, no window, no join: idf is a literal per term_id),
    # top-k via partial-top-k
    df = eng.ltr_features(["spark", "index"], k=10)
    p = _physical(df)
    assert "PushedFilters: [In(term_id" in p
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p
    assert "Join" not in p and "CartesianProduct" not in p


def test_prf_requery_is_pruned_topk(eng):
    # the PRF requery is the ordinary weighted-OR page: pruned postings
    # scan + TakeOrderedAndProject; the expansion mining happens in its
    # own bounded jobs before this plan exists
    df = eng.search_prf(["spark", "index"], k=10, fb_docs=5, n_expand=3)
    p = _physical(df)
    assert "PushedFilters: [In(term_id" in p
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


def test_fetch_docs_is_pruned_point_lookup(eng):
    # PageGet shape: the In(doc_id) predicate reaches the doc-store scan;
    # no join, no window, one ordered projection
    df = eng.fetch_docs([3, 1, 2, 2])
    p = _physical(df)
    assert "PushedFilters: [In(doc_id" in p
    assert "Join" not in p and "Window" not in p
    rows = df.collect()
    assert [r["doc_id"] for r in rows] == sorted(
        {1, 2, 3} & {r["doc_id"] for r in rows}
    ), "ordered doc_id ASC, dedup'd ids"


def test_suffix_expansion_dictionary_only_pruned_postings(eng):
    # the wildcard expansion probes the (persisted) reversed dictionary;
    # the SERVING plan that follows is the usual vote-group shape: the
    # postings scan stays pruned to the expanded term ids, top-k is
    # TakeOrderedAndProject, and nothing degenerates into a global sort
    df = eng.search_suffix(["*e", "index"], "AND", 10, max_expansions=3)
    p = _physical(df)
    assert "PushedFilters: [In(term_id" in p
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


def test_hll_sketch_is_jvm_only_bounded_shuffle(spark):
    # the sketch path (include_exact=False) must stay JVM-side -- no
    # Python workers, no joins -- and its only shuffles are the
    # register agg (<= m rows per group) and the per-group rollup
    from open_source_search_engine_spark.operators.text_analysis import (
        hll_distinct_terms,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha w{i} beta", f"s{i % 3}") for i in range(50)],
        "doc_id long, text string, source string",
    )
    df = hll_distinct_terms(docs, include_exact=False)
    p = _physical(df)
    assert "PythonUDF" not in p and "ArrowEval" not in p
    assert "Join" not in p
    assert "partial_max" in p or "HashAggregate" in p  # map-side combine


def test_bq_coarse_phase_no_join_rescore_is_broadcast(spark):
    # coarse Hamming top-c: one scan of the packed words +
    # TakeOrderedAndProject, no join; the rescore joins the candidate
    # ids back BROADCAST -- the float table is never sort-merge joined
    import numpy as np

    from open_source_search_engine_spark.operators.similarity import (
        bq_pack,
        bq_topk,
    )

    rng = np.random.RandomState(3)
    emb = spark.createDataFrame(
        [(i, [float(v) for v in rng.randn(64)]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    packed, dim = bq_pack(emb)
    q = [float(v) for v in rng.randn(64)]
    full = bq_topk(packed, emb, q, dim, rescore=20, k=5)
    p = _physical(full)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_bm25f_field_side_broadcast_no_cartesian(eng):
    df = eng.search_fielded(
        ["spark", "user"], "AND", 10, field_col="role", field_weight=2.0
    )
    p = _physical(df)
    # the (value, term, tf) field map and the per-term df both join in
    # broadcast; candidates never cartesian
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


# -- Parquet-native postings: no Python on the serving decode -------------

_PYTHON_NODES = (
    "PythonUDF", "ArrowEvalPython", "BatchEvalPython", "MapInPandas",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
)


def _executed_python_nodes(df) -> list[str]:
    df.collect()
    p = _physical(df)
    return [n for n in _PYTHON_NODES if n in p]


@pytest.fixture(scope="module")
def updated_eng(spark, tmp_path_factory):
    from open_source_search_engine_spark.operators.updates import apply_updates

    cat = Catalog(spark, str(tmp_path_factory.mktemp("plan-upd-wh")))
    build_index(spark, cat, transcripts_to_docs(synth_transcripts(spark, 200)))
    victims = cat.read_table("documents").select("doc_id").limit(5)
    apply_updates(spark, cat, delete_ids=victims)
    eng = SearchEngine(spark, cat)
    assert eng._tombstones is not None
    return eng


def test_exact_paths_have_no_python(eng, updated_eng):
    for e in (eng, updated_eng):
        for df in (
            e.search_terms(["spark", "index"], "AND", 10),
            e.search_terms(["spark", "index"], "OR", 10),
            e.search_terms(["spark", "index"], "OR", 10, exclude_terms=["the"]),
        ):
            assert _executed_python_nodes(df) == []


def test_wand_runs_have_no_python(eng, updated_eng, monkeypatch):
    """Both restricted exact runs of forced two-phase WAND: AND, and OR
    with a cursor (whose run A keeps complete rows only, so run B always
    runs), with and without tombstones."""
    from open_source_search_engine_spark.operators.wand import wand_search

    runs = []
    score_plan = SearchEngine._score_plan

    def recording(self, *args, **kwargs):
        runs.append(score_plan(self, *args, **kwargs))
        return runs[-1]

    monkeypatch.setattr(SearchEngine, "_score_plan", recording)
    monkeypatch.setattr(query, "RAREST_DF_CUTOFF", 0)
    for e in (eng, updated_eng):
        q = ["spark", "index"]
        wand_search(e, q, "AND", 10).collect()
        wand_search(e, q, "OR", 3, after=(1e9, 0)).collect()
    assert len(runs) >= 6
    for df in runs:
        assert _executed_python_nodes(df) == []


def test_batch_shared_scan_decode_has_no_python(eng, monkeypatch):
    monkeypatch.setattr(query, "SHARED_SCAN_MAX_ROWS", 10**9)
    queries = [
        {"query_id": "a", "terms": ["spark", "index"], "mode": "AND", "k": 5},
        {"query_id": "b", "terms": ["user", "the"], "mode": "OR", "k": 5},
    ]
    df = eng.search_many(queries)
    assert _executed_python_nodes(df) == []


def test_proximity_has_no_python(eng, updated_eng, monkeypatch):
    """The proximity bonus runs in the JVM on every strategy: the exact
    page, the rescoring of forced two-phase WAND's candidates, and the
    batch path's rescoring, with and without tombstones."""
    import dataclasses

    from open_source_search_engine_spark.operators import rerank
    from open_source_search_engine_spark.operators.wand import wand_proximity

    rescored = []
    proximity = rerank.proximity

    def recording(engine, prox_weight):
        mod = proximity(engine, prox_weight)

        def rescore(*args, **kwargs):
            rescored.append(mod.rescore(*args, **kwargs))
            return rescored[-1]

        return dataclasses.replace(mod, rescore=rescore)

    monkeypatch.setattr(rerank, "proximity", recording)
    monkeypatch.setattr(query, "RAREST_DF_CUTOFF", 0)
    q = ["spark", "index", "query"]
    batch = [
        {"query_id": "a", "terms": q, "mode": "AND", "k": 5},
        {"query_id": "b", "terms": ["user", "the"], "mode": "OR", "k": 5},
    ]
    for e in (eng, updated_eng):
        assert _executed_python_nodes(e.search_proximity(q, k=10)) == []
        wand_proximity(e, q, k=3).collect()
        e.search_many_proximity(batch).collect()
    assert len(rescored) >= 4
    for df in rescored:
        assert _executed_python_nodes(df) == []


def test_stored_postings_blocks_are_list_columns(eng):
    from pyspark.sql import types as T

    schema = eng.catalog.read_table("postings").schema
    for col in ("doc_ids", "tfs", "dls", "positions"):
        assert isinstance(schema[col].dataType, T.ArrayType), col
    assert isinstance(schema["positions"].dataType.elementType, T.ArrayType)


def test_absent_and_term_launches_no_task(spark, eng):
    sc = spark.sparkContext
    q = ["spark", "zz_absent_term_qq"]
    eng.search_auto(q, "AND", 10).collect()  # plans (and caches) the terms
    cold = SearchEngine(spark, eng.catalog)  # plans them inside the query
    for group, e in (("absent-and", eng), ("absent-and-cold", cold)):
        sc.setJobGroup(group, group)
        try:
            rows = e.search_auto(q, "AND", 10).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        tasks = sum(
            tracker.getStageInfo(s).numTasks
            for j in tracker.getJobIdsForGroup(group)
            for s in tracker.getJobInfo(j).stageIds
            if tracker.getStageInfo(s) is not None
        )
        assert rows == [] and tasks == 0, group


# -- planning floor: the dictionary is read in the driver, query constants
# -- are SQL literals, collected rows ship through Arrow --------------------


def _jobs_of(sc, group: str, call):
    """(call's result, Spark jobs it launched), counted in a job group."""
    import time

    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the async listener bus: poll until the
    # group's job count has held still for half a second
    seen, stable, deadline = -1, 0, time.time() + 10
    while stable < 5 and time.time() < deadline:
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        stable, seen = (stable + 1, n) if n == seen else (0, n)
        time.sleep(0.1)
    return out, seen


def test_plan_terms_on_unseen_terms_launches_no_job(spark, eng):
    from pyspark.sql import functions as F

    cold = SearchEngine(spark, eng.catalog)
    terms = ["spark", "index", "zz_absent_term_qq"]
    plan, jobs = _jobs_of(
        spark.sparkContext, "plan-cold", lambda: cold.plan_terms(terms)
    )
    assert jobs == 0
    want = {
        r["term"]: (r["term_id"], r["df"], r["max_salt_bits"], r["min_salt_bits"])
        for r in eng.catalog.read_table("term_stats")
        .where(F.col("term").isin(terms))
        .collect()
    }
    got = {
        r.term: (r.term_id, r.df, r.max_salt_bits, r.min_salt_bits)
        for r in plan.itertuples()
    }
    assert got == want and len(got) == 2
    assert list(plan["df"]) == sorted(plan["df"])  # rarest first
    assert cold._plan_cache["zz_absent_term_qq"] is None  # cached miss


class _Fileless:
    """A catalog that serves ``tables`` as frames listing no files, the way
    an Iceberg (DSv2) table does: ``inputFiles()`` is empty."""

    def __init__(self, cat, tables=("term_stats",)):
        self._cat = cat
        self._tables = tables

    def __getattr__(self, name):
        return getattr(self._cat, name)

    def read_table(self, name):
        df = self._cat.read_table(name)
        if name in self._tables:
            df = df.sparkSession.createDataFrame(df.toPandas(), df.schema)
        return df


def test_plan_terms_reads_a_fileless_term_stats_through_spark(spark, eng):
    fileless = SearchEngine(spark, _Fileless(eng.catalog))
    assert fileless._term_stats.inputFiles() == []
    terms = ["spark", "index", "zz_absent_term_qq"]
    got = fileless.plan_terms(terms)
    assert got.equals(SearchEngine(spark, eng.catalog).plan_terms(terms))
    assert fileless._plan_cache["zz_absent_term_qq"] is None
    q = ["spark", "index"]
    for mode in ("AND", "OR"):
        assert (
            fileless.search_auto(q, mode, 10).collect()
            == eng.search_terms(q, mode, 10).collect()
        )


def test_wand_reads_a_fileless_postings_through_spark(
    spark, wand_eng, monkeypatch
):
    from open_source_search_engine_spark.operators.wand import (
        pruning_stats,
        wand_search,
    )

    fileless = SearchEngine(
        spark, _Fileless(wand_eng.catalog, ("term_stats", "postings"))
    )
    assert fileless._postings.inputFiles() == []
    monkeypatch.setattr(query, "RAREST_DF_CUTOFF", 0)
    q = ["the", "to"]
    for mode in ("AND", "OR"):
        got = wand_search(fileless, q, mode, 10)
        assert got.collect() == wand_eng.search_terms(q, mode, 10).collect()
        assert pruning_stats(fileless, q, mode) == pruning_stats(
            wand_eng, q, mode
        )


def test_exact_and_query_over_unplanned_terms_launches_two_jobs(
    spark, eng, monkeypatch
):
    # the Spark exact path: a zero cutoff routes the AND query rarest_df
    monkeypatch.setattr(query, "WAND_DF_CUTOFF", 0)
    warm = SearchEngine(spark, eng.catalog)
    warm.search_auto(["merge", "shard"], "AND", 10).collect()
    q = ["vector", "stream"]
    assert q[0] not in warm._plan_cache and q[1] not in warm._plan_cache
    rows, jobs = _jobs_of(
        spark.sparkContext,
        "exact-and-unplanned",
        lambda: warm.search_auto(q, "AND", 10).collect(),
    )
    assert jobs == 2
    assert rows == eng.search_terms(q, "AND", 10).collect()


def test_collected_pages_plan_as_local_table_scan(spark, eng):
    from open_source_search_engine_spark.operators.query import _BATCH_SCHEMA
    from open_source_search_engine_spark.operators.wand import wand_search
    from open_source_search_engine_spark.session import _local_frame

    q = ["spark", "index"]
    want = eng.search_terms(q, "OR", 10)
    eng.search_cached(q, "OR", 10).collect()
    hit = eng.search_cached(q, "OR", 10)
    page = wand_search(eng, q, "OR", 10)
    info = eng.explain_terms(["spark", "zz_absent_term_qq"])
    rows = [("q1", 1, 7, None, 2), ("q1", 2, None, 1.5, None)]
    local = _local_frame(spark, _BATCH_SCHEMA, rows)
    for df in (hit, page, info, local):
        p = _physical(df)
        assert "LocalTableScan" in p and "ExistingRDD" not in p, p

    def types(df):
        return [(f.name, f.dataType) for f in df.schema]

    assert types(hit) == types(want) == types(page)
    assert hit.collect() == want.collect() == page.collect()
    assert [r["idf"] is None for r in info.collect()] == [False, True]
    assert info.schema.simpleString() == (
        "struct<term:string,present:boolean,df:bigint,idf:double,"
        "route:string,reason:string,sum_df:bigint>"
    )
    assert [tuple(r) for r in local.collect()] == rows
    assert local.schema.simpleString() == (
        "struct<query_id:string,rank:bigint,doc_id:bigint,score:double,"
        "matched:int>"
    )


def test_old_varbyte_catalog_fails_loudly(spark, tmp_path):
    from pyspark.sql import functions as F

    from open_source_search_engine_spark.operators.resumable import (
        merge_postings,
    )
    from open_source_search_engine_spark.operators.updates import apply_updates

    cat = Catalog(spark, str(tmp_path / "old-wh"))
    build_index(spark, cat, transcripts_to_docs(synth_transcripts(spark, 40)))
    old = cat.read_table("postings")
    for c in ("doc_ids", "tfs", "dls", "positions"):
        old = old.withColumn(c, F.lit(b"\x01").cast("binary"))
    cat.write_table(old.localCheckpoint(), "postings")
    sc = spark.sparkContext

    groups = iter(range(100))

    def jobs(call) -> int:
        group = f"old-catalog-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def raises(call):
        with pytest.raises(ValueError, match="rebuild"):
            call()

    # a bare read of the table (Parquet footer/schema job) is the floor:
    # each entry point must refuse right after it, before any work of its own
    floor = jobs(lambda: cat.read_table("postings"))
    for call in (
        lambda: SearchEngine(spark, cat),
        lambda: merge_postings(spark, cat),
        lambda: apply_updates(spark, cat),
    ):
        assert jobs(lambda: raises(call)) <= floor


# -- block-max WAND: groups chosen in the driver, scored by the exact path --


@pytest.fixture(scope="module")
def wand_eng(spark, tmp_path_factory):
    """tests/test_wand.py's index: heavy terms split into many fine blocks,
    rare terms stay whole-range (mixed salt_bits)."""
    from open_source_search_engine_spark.operators.index_build import (
        IndexConfig,
    )

    cat = Catalog(spark, str(tmp_path_factory.mktemp("plan-wand-wh")))
    build_index(
        spark,
        cat,
        transcripts_to_docs(synth_transcripts(spark, 1200)),
        IndexConfig(target_reduce_docs=64),
    )
    return SearchEngine(spark, cat)


@pytest.mark.parametrize("mode", ["AND", "OR"])
def test_two_phase_wand_launches_at_most_four_jobs(
    spark, wand_eng, mode, monkeypatch
):
    from open_source_search_engine_spark.operators.wand import (
        pruning_stats,
        wand_search,
    )

    monkeypatch.setattr(query, "PHASE_A_GROUPS", 1)
    monkeypatch.setattr(query, "RAREST_DF_CUTOFF", 0)
    q = ["the", "to", "spark"]
    want = wand_eng.search_terms(q, mode, 10).collect()
    st = pruning_stats(wand_eng, q, mode)  # plans the terms
    assert st["groups_surviving"] > 1  # run A cannot cover every group
    sc = spark.sparkContext
    rows, jobs = _jobs_of(
        sc,
        f"wand-two-phase-{mode}",
        lambda: wand_search(wand_eng, q, mode, 10).collect(),
    )
    assert rows == want
    assert jobs <= 4
    stats, jobs = _jobs_of(
        sc, f"wand-pruning-{mode}", lambda: pruning_stats(wand_eng, q, mode)
    )
    assert stats == st and jobs == 0
