"""Round-5 serving/lifecycle features.

* search_with_suggestion — did-you-mean IN the result flow
  (`Speller.cpp:69` unified dict consulted from the SERP path): fallback
  fires only below min_results, auto-requery serves the corrected terms,
  healthy queries ship untouched with a NULL suggestion.
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
from open_source_search_engine_spark.sources.transcripts import synth_transcripts


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("r5-wh"))
    catalog = Catalog(spark, wh)
    build_index(
        spark,
        catalog,
        transcripts_to_docs(synth_transcripts(spark, 600)),
        IndexConfig(),
    )
    return SearchEngine(spark, catalog)


def test_fallback_fires_and_requeries(eng):
    out = eng.search_with_suggestion("sprak index", k=5).collect()
    assert out, "corrected query should match docs"
    sq = {r["suggested_query"] for r in out}
    assert sq == {"spark index"}
    corrected = eng.search_terms(["spark", "index"], mode="AND", k=5).collect()
    assert [(r["doc_id"], r["score"]) for r in out] == [
        (r["doc_id"], r["score"]) for r in corrected
    ]


def test_healthy_query_served_as_is(eng):
    out = eng.search_with_suggestion("spark index", k=5).collect()
    assert out
    assert all(r["suggested_query"] is None for r in out)
    base = eng.search("spark index", k=5).collect()
    assert [(r["doc_id"], r["score"]) for r in out] == [
        (r["doc_id"], r["score"]) for r in base
    ]


def test_hopeless_term_no_recommendation(eng):
    # nothing within 2 edits -> no correction, empty result, NULL suggestion
    out = eng.search_with_suggestion("xqzvwjkpt index", k=5).collect()
    assert out == []


def test_no_auto_requery_attaches_suggestion_only(eng):
    out = eng.search_with_suggestion(
        "sprak index", k=5, auto_requery=False
    ).collect()
    assert out == []  # original thin result kept (empty), suggestion branch


# ---------------------------------------------------------------------------
# bundled irregular-forms fixture (r4 VERDICT task 6): morphology beyond
# regular rules, exercised through the search_expanded plan path
# ---------------------------------------------------------------------------


def test_irregular_fixture_width_and_shape():
    from open_source_search_engine_spark.functions.synonyms import (
        irregular_forms,
        morph_forms,
    )

    table = irregular_forms()
    assert len(table) >= 100  # "realistic width" per the verdict
    assert all(v and all(isinstance(a, str) for a in v) for v in table.values())
    assert morph_forms("children") == ["child"]
    assert morph_forms("geese") == ["goose"]
    assert morph_forms("went") == ["go"]
    # irregular + regular-rule candidates coexist ("wives" also generates
    # rule noise like "wive" that plan-validation drops)
    assert "wife" in morph_forms("wives")


def test_children_matches_child_docs(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    rows = spark.createDataFrame(
        [
            ("c1", 0, "user", "the child ran to the park", None),
            ("c1", 1, "assistant", "every child deserves a book", None),
            ("c2", 0, "user", "adults only in this document", None),
            ("c2", 1, "assistant", "we go to the market to buy bread", None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.lit("2026-01-01 00:00:00").cast("timestamp"))
    cat = Catalog(spark, str(tmp_path_factory.mktemp("irr-wh")))
    build_index(spark, cat, transcripts_to_docs(rows))
    e = SearchEngine(spark, cat)
    # 'children' is ABSENT from the corpus: only the irregular-forms entry
    # makes it match the two 'child' docs (Synonyms.cpp wordform contract)
    hits = e.search_expanded(["children"], "AND", 10).collect()
    assert len(hits) == 2
    # 'went' -> 'go' through the same fixture
    went = e.search_expanded(["went"], "AND", 10).collect()
    assert len(went) == 1
    # sanity: without morphology there is no match
    assert e.search_expanded(["children"], "AND", 10, morphology=False).collect() == []


def test_warehouse_relocation_reads_identically(spark, tmp_path_factory):
    # a warehouse built in a scratch dir then MOVED (the bench.py 10M cache
    # does exactly this: build in /tmp, copy under the repo) must stay
    # readable: manifests record absolute dirs from build time, and
    # Catalog._resolve_dirs remaps them onto the new root
    import shutil

    src = str(tmp_path_factory.mktemp("reloc-src"))
    cat_a = Catalog(spark, src)
    build_index(
        spark,
        cat_a,
        transcripts_to_docs(synth_transcripts(spark, 300)),
        IndexConfig(),
    )
    before = sorted(
        tuple(r)
        for r in SearchEngine(spark, cat_a).search_terms(
            ["spark", "index"], "AND", 5
        ).collect()
    )
    assert before  # the query must actually match something

    dst = str(tmp_path_factory.mktemp("reloc-dst-root")) + "/moved-wh"
    shutil.move(src, dst)
    eng_b = SearchEngine(spark, Catalog(spark, dst))
    after = sorted(
        tuple(r) for r in eng_b.search_terms(["spark", "index"], "AND", 5).collect()
    )
    assert after == before
    # time-travel reads resolve through the same remap
    cat_b = Catalog(spark, dst)
    snaps = cat_b.snapshots("postings")
    assert cat_b.read_snapshot("postings", snaps[-1]["snapshot_id"]).count() > 0


def test_append_after_relocation_preserves_rebase(spark, tmp_path_factory):
    # append used to copy the parent's STALE absolute dirs into a snapshot
    # stamped with the new root, destroying the rebase info: a second move
    # then lost the pre-move data. Gate: write at A, move A->B, append at
    # B, move B->C -- every row must still be readable at C.
    import shutil

    root = str(tmp_path_factory.mktemp("reloc-append"))
    a, b, c = f"{root}/a", f"{root}/b", f"{root}/c"
    cat_a = Catalog(spark, a)
    cat_a.write_table(spark.range(0, 3).toDF("v"), "t")
    cat_a.append_table(spark.range(10, 13).toDF("v"), "t")
    shutil.move(a, b)
    cat_b = Catalog(spark, b)
    cat_b.append_table(spark.range(20, 23).toDF("v"), "t")
    shutil.move(b, c)
    got = sorted(r["v"] for r in Catalog(spark, c).read_table("t").collect())
    assert got == [0, 1, 2, 10, 11, 12, 20, 21, 22]


def test_suggestion_requery_preserves_exclusions(eng):
    # '-term' must stay an exclusion through the auto-requery: the naive
    # tokenize dropped the sign and REQUIRED the excluded term
    out = eng.search_with_suggestion("sprak -index", k=5).collect()
    assert out, "corrected query should still match docs"
    assert {r["suggested_query"] for r in out} == {"spark -index"}
    want = eng.search_terms(
        ["spark"], mode="AND", k=5, exclude_terms=["index"]
    ).collect()
    assert [(r["doc_id"], r["score"]) for r in out] == [
        (r["doc_id"], r["score"]) for r in want
    ]
    # none of the served docs may contain the excluded term
    with_excl = {
        r["doc_id"]
        for r in eng.search_terms(["index"], mode="OR", k=1000).collect()
    }
    assert not ({r["doc_id"] for r in out} & with_excl)


def test_append_after_copy_rebases_onto_new_root(spark, tmp_path_factory):
    # COPY variant of the relocation gate: the original warehouse is still
    # alive when the copy appends, so the exists-as-is rule used to inherit
    # the OLD root's absolute dirs into a snapshot stamped with the NEW
    # root — once the original was deleted the data became unreachable
    # (the new snapshot's recorded root no longer prefixed those dirs).
    # Commit-time resolution now rebases onto the current root whenever
    # the copied dir exists.
    import shutil

    root = str(tmp_path_factory.mktemp("copy-append"))
    a, b = f"{root}/a", f"{root}/b"
    cat_a = Catalog(spark, a)
    cat_a.write_table(spark.range(0, 3).toDF("v"), "t")
    shutil.copytree(a, b)
    cat_b = Catalog(spark, b)
    cat_b.append_table(spark.range(10, 13).toDF("v"), "t")  # a still alive
    m = cat_b._read_manifest("t")
    assert all(d.startswith(b + "/") for d in m["data_dirs"]), m["data_dirs"]
    shutil.rmtree(a)  # original torn down (the bench-cache lifecycle)
    got = sorted(r["v"] for r in Catalog(spark, b).read_table("t").collect())
    assert got == [0, 1, 2, 10, 11, 12]


def test_search_auto_routes_by_planned_df(eng):
    # adaptive strategy choice (single-query analog of search_many's
    # shared_scan_max_rows routing): both routes must serve identical
    # pages, and the route really is decided by the cutoff — a zero
    # cutoff forces WAND, an enormous one forces the exact scan.
    terms = ["spark", "index"]
    exact = [
        (r["doc_id"], round(r["score"], 12), r["matched"])
        for r in eng.search_auto(
            terms, "AND", 10, wand_df_cutoff=10**12
        ).collect()
    ]
    via_wand = [
        (r["doc_id"], round(r["score"], 12), r["matched"])
        for r in eng.search_auto(terms, "AND", 10, wand_df_cutoff=0).collect()
    ]
    want = [
        (r["doc_id"], round(r["score"], 12), r["matched"])
        for r in eng.search_terms(terms, "AND", 10).collect()
    ]
    assert exact == want and via_wand == want and want


def test_search_auto_exclusions_and_or_mode(eng):
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


def test_search_auto_missing_term_is_empty(eng):
    assert eng.search_auto(["zz_nope_xx"], "AND", 5).count() == 0


def test_related_terms_gigabits(eng):
    # gigabits: related-topic terms from the result page (Msg40.cpp:1545)
    out = eng.related_terms(["spark", "index"], k_docs=10, top_terms=5)
    rows = out.collect()
    assert rows and len(rows) <= 5
    terms = [r["term"] for r in rows]
    # query terms are excluded; scores strictly ordered (desc, term asc)
    assert "spark" not in terms and "index" not in terms
    keys = [(-r["score"], r["term"]) for r in rows]
    assert keys == sorted(keys)
    # score really is tf_page x idf over the page docs: recompute one term
    import math

    page = {
        r["doc_id"]
        for r in eng.search_terms(["spark", "index"], "AND", 10).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in eng.catalog.read_table("documents").collect()
        if r["doc_id"] in page
    }
    import re

    t0 = rows[0]
    tf = sum(
        len([w for w in re.split(r"[^a-z0-9_]+", (docs[d] or "").lower()) if w == t0["term"]])
        for d in docs
    )
    assert tf == t0["tf_page"]
    idf = math.log((eng.n_docs - t0["df"] + 0.5) / (t0["df"] + 0.5) + 1.0)
    assert t0["score"] == pytest.approx(tf * idf, rel=1e-12)


def test_search_grouped_conversation_ranking(eng):
    # group-level ranking over the transcript doc store: groups scored by
    # total/max member BM25; best member is the (score DESC, doc_id ASC)
    # argmax; identity vs a manual score_terms + groupBy composition
    from pyspark.sql import functions as F

    out = eng.search_grouped(["spark", "index"], "role", k=5, agg="sum")
    rows = out.collect()
    assert rows
    scored = eng.score_terms(["spark", "index"], "AND")
    docs = eng.catalog.read_table("documents").select("doc_id", "role")
    manual = (
        scored.join(docs, "doc_id")
        .groupBy("role")
        .agg(F.sum("score").alias("gs"), F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("gs"), F.asc("role"))
        .limit(5)
        .collect()
    )
    assert [(r["group"], round(r["group_score"], 9), r["n_matching"]) for r in rows] == [
        (m["role"], round(m["gs"], 9), m["n"]) for m in manual
    ]
    # best member really is the group's top-(score, doc_id) doc
    per_doc = {
        r["doc_id"]: r["score"]
        for r in scored.join(docs, "doc_id").collect()
    }
    role_of = {
        r["doc_id"]: r["role"]
        for r in docs.collect()
        if r["doc_id"] in per_doc
    }
    for r in rows:
        members = [
            (s, -d) for d, s in per_doc.items() if role_of[d] == r["group"]
        ]
        bs, nd = max(members)
        assert (r["best_doc_id"], round(r["best_score"], 9)) == (
            -nd,
            round(bs, 9),
        )
    # max mode: group_score equals best_score everywhere
    mx = eng.search_grouped(["spark", "index"], "role", k=5, agg="max")
    for r in mx.collect():
        assert r["group_score"] == r["best_score"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        eng.search_grouped(["spark"], "role", agg="median")
