"""Bigram-term gates (SURVEY.md X3): bigram postings carry first-word
positions; phrase retrieval over bigram termlists is identical to positional
intersection of unigram lists; BM25 rankings are unaffected by the extra
terms (df of unigrams unchanged)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
    transcripts_to_docs,
)
from open_source_search_engine_spark.operators import query
from open_source_search_engine_spark.operators.query import SearchEngine
from open_source_search_engine_spark.sources.transcripts import synth_transcripts

N_TURNS = 800


@pytest.fixture(scope="module")
def engines(spark, tmp_path_factory):
    docs = transcripts_to_docs(synth_transcripts(spark, N_TURNS))
    big = Catalog(spark, str(tmp_path_factory.mktemp("bi-wh")))
    build_index(
        spark, big, docs, IndexConfig(tokenizer_mode="ascii", bigrams=True)
    )
    plain = Catalog(spark, str(tmp_path_factory.mktemp("uni-wh")))
    build_index(spark, plain, docs, IndexConfig(tokenizer_mode="ascii"))
    return (
        SearchEngine(spark, big, tokenizer_mode="ascii"),
        SearchEngine(spark, plain, tokenizer_mode="ascii"),
    )


@pytest.fixture(scope="module")
def tombstoned(spark, tmp_path_factory):
    """The plain engine's corpus after one update round: 40 turns
    rewritten (a new segment) and 40 deleted, so reads go through the
    tombstone filter."""
    from open_source_search_engine_spark.operators.updates import apply_updates

    docs = transcripts_to_docs(synth_transcripts(spark, N_TURNS))
    cat = Catalog(spark, str(tmp_path_factory.mktemp("tomb-wh")))
    cfg = IndexConfig(tokenizer_mode="ascii")
    build_index(spark, cat, docs, cfg)
    ids = [r.doc_id for r in docs.select("doc_id").orderBy("doc_id").collect()]
    rewritten = docs.where(F.col("doc_id").isin(ids[:40])).withColumn(
        "text", F.lit("spark index query merge the spark to be index spark")
    )
    deleted = docs.where(F.col("doc_id").isin(ids[40:80])).select("doc_id")
    apply_updates(
        spark, cat, upserts=rewritten, delete_ids=deleted, config=cfg
    )
    eng = SearchEngine(spark, cat, tokenizer_mode="ascii")
    assert eng._tombstones is not None
    return eng


def test_bigram_terms_in_stats(engines):
    big, _ = engines
    ts = big.catalog.read_table("term_stats")
    n_bi = ts.filter(F.col("term").contains(" ")).count()
    assert n_bi > 0
    # planted turn "to be or not to be" -> bigram "to be" with tf 2
    row = ts.filter(F.col("term") == "to be").collect()
    assert row and row[0]["cf"] >= 2


PHRASES = [
    ["to", "be"],
    ["to", "be", "or", "not"],
    ["repeat", "repeat"],
    ["rareterm_xyzzy", "appears"],
    ["zz_nope", "zz_nada"],
]


@pytest.mark.parametrize("phrase", PHRASES)
def test_bigram_phrase_equals_positional(spark, engines, phrase):
    big, plain = engines
    via_bigram = [
        (int(r["doc_id"]), float(r["score"]))
        for r in big.search_phrase(phrase, 20, use_bigrams=True).collect()
    ]
    via_positional = [
        (int(r["doc_id"]), float(r["score"]))
        for r in big.search_phrase(phrase, 20, use_bigrams=False).collect()
    ]
    on_plain_index = [
        (int(r["doc_id"]), float(r["score"]))
        for r in plain.search_phrase(phrase, 20).collect()
    ]
    assert via_bigram == via_positional == on_plain_index


def test_bigram_postings_termlist_equals_positional(spark, engines):
    """SearchEngine.bigram_postings: the indexed-bigram-termlist path and
    the unigram positional-adjacency fallback produce identical
    (doc_id, tf, dl) rows -- so search_expanded's bigram boost is
    index-layout independent."""
    big, plain = engines
    for a, b in [("to", "be"), ("repeat", "repeat"), ("zz_no", "zz_nada")]:
        x = sorted(
            (int(r["doc_id"]), int(r["tf"]), int(r["dl"]))
            for r in big.bigram_postings(a, b).collect()
        )
        y = sorted(
            (int(r["doc_id"]), int(r["tf"]), int(r["dl"]))
            for r in plain.bigram_postings(a, b).collect()
        )
        assert x == y, (a, b)
    assert sorted(
        int(r["tf"]) for r in big.bigram_postings("to", "be").collect()
    )  # non-empty for the planted phrase


def test_expanded_bigram_boost_needs_no_join(engines):
    """search_expanded's bigram boost is extra weighted entries in the one
    vote-group aggregation, not a left join per word pair."""
    big, _ = engines
    for words in (["spark", "index"], ["to", "be"]):
        assert len(big.plan_terms([" ".join(words)])) == 1  # indexed bigram
        df = big.search_expanded(words, "AND", 10)
        assert "Join" not in df._jdf.queryExecution().executedPlan().toString()


def test_unigram_rankings_unaffected(spark, engines):
    big, plain = engines
    a = [
        (int(r["doc_id"]), float(r["score"]))
        for r in big.search_terms(["spark", "index"], "AND", 10).collect()
    ]
    b = [
        (int(r["doc_id"]), float(r["score"]))
        for r in plain.search_terms(["spark", "index"], "AND", 10).collect()
    ]
    assert a == b


@pytest.mark.parametrize("mode", ["ascii", "unicode"])
def test_bigram_index_incremental_updates(spark, tmp_path_factory, mode):
    """Incremental updates on a bigrams=True index (SURVEY.md §2.9 + X3):
    after upsert + delete, term_stats (including bigram terms) and
    phrase/BM25 results are identical to a fresh bigram build of the
    edited corpus, both before and after compaction."""
    from open_source_search_engine_spark.operators.updates import (
        apply_updates,
        compact_updates,
    )

    cfg = IndexConfig(tokenizer_mode=mode, bigrams=True)
    base = transcripts_to_docs(synth_transcripts(spark, 400))
    live = Catalog(spark, str(tmp_path_factory.mktemp(f"biup-{mode}")))
    build_index(spark, live, base, cfg)

    changed = base.filter(F.col("turn_idx") == 1).withColumn(
        "text", F.concat(F.lit("brandnew bigramword pair here "), F.col("text"))
    )
    deletes = base.filter(F.col("turn_idx") == 4).select("doc_id")
    apply_updates(
        spark, live, upserts=changed, delete_ids=deletes, config=cfg
    )
    edited = (
        base.filter(~F.col("turn_idx").isin(1, 4)).unionByName(changed)
    )
    cold = Catalog(spark, str(tmp_path_factory.mktemp(f"biup-cold-{mode}")))
    build_index(spark, cold, edited, cfg)

    def check():
        e_live = SearchEngine(spark, live, tokenizer_mode=mode)
        e_cold = SearchEngine(spark, cold, tokenizer_mode=mode)
        # stats identity incl. the NEW bigram terms from the upsert
        a = {
            r["term"]: (r["term_id"], r["df"], r["cf"])
            for r in live.read_table("term_stats").collect()
        }
        b = {
            r["term"]: (r["term_id"], r["df"], r["cf"])
            for r in cold.read_table("term_stats").collect()
        }
        assert a == b
        assert "brandnew bigramword" in a  # new bigram term, correct id
        for phrase in [["brandnew", "bigramword"], ["to", "be"]]:
            x = [
                (int(r["doc_id"]), float(r["score"]))
                for r in e_live.search_phrase(phrase, 20).collect()
            ]
            y = [
                (int(r["doc_id"]), float(r["score"]))
                for r in e_cold.search_phrase(phrase, 20).collect()
            ]
            assert x == y
        x = [
            (int(r["doc_id"]), float(r["score"]))
            for r in e_live.search_terms(["spark", "index"], "AND", 10).collect()
        ]
        y = [
            (int(r["doc_id"]), float(r["score"]))
            for r in e_cold.search_terms(["spark", "index"], "AND", 10).collect()
        ]
        assert x == y

    check()  # tombstone-filtered read path
    compact_updates(spark, live)
    check()  # after physical annihilation


def test_unicode_mode_bigrams_with_non_ascii(spark, tmp_path_factory):
    """X3 in unicode tokenizer mode: non-ASCII docs take the regex path and
    still emit bigram terms with ids identical to the byte path's, so
    phrase-over-bigrams == positional intersection on a mixed corpus."""
    rows = [
        (0, "the quick merge sort runs fast"),
        (1, "café crème is café crème here"),
        (2, "merge sort and café crème together"),
        (3, "nothing relevant in this row"),
        (4, "sort merge is not merge sort"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cat = Catalog(spark, str(tmp_path_factory.mktemp("unibi-wh")))
    build_index(
        spark, cat, docs, IndexConfig(tokenizer_mode="unicode", bigrams=True)
    )
    eng = SearchEngine(spark, cat, tokenizer_mode="unicode")
    ts = eng.catalog.read_table("term_stats")
    row = ts.filter(F.col("term") == "café crème").collect()
    assert row and int(row[0]["df"]) == 2 and int(row[0]["cf"]) == 3
    for phrase, expect in [
        (["café", "crème"], {1, 2}),
        (["merge", "sort"], {0, 2, 4}),
    ]:
        via_bigram = {
            int(r["doc_id"])
            for r in eng.search_phrase(phrase, 10, use_bigrams=True).collect()
        }
        via_positional = {
            int(r["doc_id"])
            for r in eng.search_phrase(phrase, 10, use_bigrams=False).collect()
        }
        assert via_bigram == via_positional == expect


# -- page pins: every vote-group, batch and phrase entry point, bit for bit --

PINNED_PAGES = Path(__file__).with_name("pinned_pages.json")
SYN = {"spark": ["shard", "to be"], "index": ["query", "repeat repeat repeat"]}
BATCH = [
    {"query_id": "a", "terms": ["spark", "index"], "mode": "AND", "k": 7},
    {"query_id": "b", "terms": ["the", "merge", "shard"], "mode": "OR"},
    {"query_id": "c", "terms": ["zz_absent", "spark"], "mode": "AND"},
    {"query_id": "d", "terms": ["zz_absent", "query"], "mode": "OR", "k": 5},
    {"query_id": "e", "terms": ["rareterm_xyzzy"], "mode": "OR"},
    {"query_id": "f", "terms": ["to", "be", "not"], "mode": "AND", "k": 3},
]
PHRASE_WORDS = [
    ["repeat", "repeat"],
    ["repeat", "repeat", "repeat"],
    ["to", "be", "or", "not"],
    ["to", "be", "or", "not", "to", "be"],
    ["spark", "index"],
    ["rareterm_xyzzy"],
]


def _rows(df):
    """A frame's rows with every double as its exact hex bits."""
    return [
        [v.hex() if isinstance(v, float) else v for v in r]
        for r in df.collect()
    ]


#: the modifier pages: proximity, boosts, phrase and NEAR on every path
PROX_QUERIES = [
    (["spark", "index"], "AND", None),
    (["spark", "index"], "OR", None),
    (["spark", "index", "query"], "AND", None),
    (["spark", "index", "query"], "OR", None),
    (["spark", "index", "query", "merge"], "AND", None),
    (["spark", "index", "query", "merge"], "OR", None),
    (["the", "to"], "AND", ["merge"]),
    (["spark", "query", "the"], "OR", ["index"]),
]
ROLE_W = {"role": ({"user": 2.0, "assistant": 0.5}, 1.0)}
RECENCY = ("ts", 1780272000.0, 30.0)  # now = 2026-06-01T00:00:00Z
BOOSTS = [("role", ROLE_W, None), ("recency", None, RECENCY),
          ("both", ROLE_W, RECENCY)]


def modifier_pages(big, plain, tomb) -> dict:
    """name -> rows of the exact, WAND and batch modifier entry points."""
    from open_source_search_engine_spark.operators.wand import wand_proximity

    out = {}
    for name, e in (("plain", plain), ("tombstoned", tomb)):
        for terms, mode, excl in PROX_QUERIES:
            key = f"search_proximity_{' '.join(terms)}_{mode}_{excl}_{name}"
            out[key] = _rows(e.search_proximity(
                terms, k=10, prox_weight=1.5, mode=mode, exclude_terms=excl
            ))
    for bname, fw, rec in BOOSTS:
        for mode, excl in (("AND", None), ("OR", ["merge"])):
            out[f"search_boosted_{bname}_{mode}"] = _rows(plain.search_boosted(
                ["spark", "index", "the"], mode, 10, field_weights=fw,
                recency=rec, exclude_terms=excl,
            ))
        out[f"search_many_boosted_{bname}"] = _rows(plain.search_many_boosted(
            BATCH, field_weights=fw, recency=rec
        ))
    for words in PHRASE_WORDS[:5]:
        out[f"search_phrase_unigram_lists_{' '.join(words)}_big"] = _rows(
            big.search_phrase(words, use_bigrams=False)
        )
    for terms in (["spark", "index"], ["spark", "index", "query"],
                  ["the", "to"]):
        for forced in (False, True):
            with pytest.MonkeyPatch.context() as mp:
                if forced:
                    mp.setattr(query, "RAREST_DF_CUTOFF", 0)
                out[f"wand_proximity_{' '.join(terms)}_{forced}"] = _rows(
                    wand_proximity(plain, terms, k=10, prox_weight=1.5)
                )
    out["search_many_proximity"] = _rows(
        plain.search_many_proximity(BATCH, prox_weight=1.5)
    )
    for slop in (1, 3):
        for name, e in (("plain", plain), ("tombstoned", tomb)):
            for w1, w2 in (("spark", "index"), ("to", "be"), ("the", "to")):
                out[f"search_near_{w1} {w2}_{slop}_{name}"] = [
                    [r["doc_id"], r["min_gap"]]
                    for r in e.search_near(w1, w2, slop=slop, k=10).collect()
                ]
    return out


def pinned_pages(big, plain, tomb) -> dict:
    """name -> rows of each entry point whose scoring or phrase matching
    shares the canonical fold or the positional kernel; postings rows are
    sorted, pages keep their order."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(query, "SHARED_SCAN_MAX_ROWS", 300)
        heavy = _rows(plain.search_many(BATCH))
    out = {
        "search_many": _rows(plain.search_many(BATCH)),
        "search_many_heavy": heavy,
        "search_wildcard": _rows(
            plain.search_wildcard(["sp*", "*dex", "merge"], "OR", 10)
        ),
        "search_wildcard_and": _rows(
            plain.search_wildcard(
                ["s*", "index"], "AND", 10, exclude_terms=["merge"]
            )
        ),
        "search_fuzzy": _rows(plain.search_fuzzy(["spork", "index"], "AND", 10)),
        "search_fuzzy_or": _rows(plain.search_fuzzy(["spork", "tabel"], "OR", 10)),
        "search_prf": _rows(plain.search_prf(["spark", "index"], k=10)),
        "search_prf_or": _rows(
            plain.search_prf(["merge", "shard"], k=10, mode="OR", beta=0.25)
        ),
        "search_query_uor": _rows(plain.search_query("spark UOR shard index")),
        "search_query_uor_not": _rows(
            plain.search_query("(spark UOR shard) -merge", k=10)
        ),
    }
    for name, e in (("big", big), ("plain", plain)):
        for mode in ("AND", "OR"):
            out[f"search_synonyms_{mode}_{name}"] = _rows(
                e.search_synonyms(["spark", "index"], SYN, mode, 10)
            )
            for q in ("spark index", "to be or not", "the spark index"):
                out[f"search_expanded_{mode}_{q}_{name}"] = _rows(
                    e.search_expanded(q, mode, 10)
                )
        for words in PHRASE_WORDS:
            key = " ".join(words)
            out[f"phrase_postings_{key}_{name}"] = sorted(
                _rows(e.phrase_postings(words))
            )
            out[f"phrase_docs_{key}_{name}"] = sorted(
                _rows(e.phrase_docs(words))
            )
            out[f"search_phrase_{key}_{name}"] = _rows(e.search_phrase(words))
        restrict = e.search_terms(["repeat"], "OR", 1)
        out[f"phrase_docs_restrict_{name}"] = sorted(
            _rows(e.phrase_docs(["repeat", "repeat"], restrict=restrict))
        )
        restrict = e.search_terms(["spark", "index"], "AND", 5)
        out[f"phrase_docs_restrict_spark index_{name}"] = sorted(
            _rows(e.phrase_docs(["spark", "index"], restrict=restrict))
        )
        for a, b in (("to", "be"), ("repeat", "repeat"), ("spark", "index")):
            out[f"bigram_postings_{a} {b}_{name}"] = sorted(
                _rows(e.bigram_postings(a, b))
            )
    out["phrase_docs_bigram_terms"] = sorted(
        _rows(big.phrase_docs(["to be", "be or", "or not"]))
    )
    out["phrase_docs_bigram_terms_restrict"] = sorted(
        _rows(
            big.phrase_docs(
                ["repeat repeat", "repeat repeat"],
                restrict=big.search_terms(["repeat"], "OR", 1),
            )
        )
    )
    out.update(modifier_pages(big, plain, tomb))
    return out


def test_pages_are_pinned_bit_for_bit(engines, tombstoned):
    """Pages and postings rows (doc_id, score bits, matched / tf, dl) equal
    the ones recorded in pinned_pages.json: folding every weighted BM25
    sum in one place, matching every phrase with one kernel, writing each
    modifier once and reading every position through one pivot moved no
    bit."""
    got = json.loads(json.dumps(pinned_pages(*engines, tombstoned)))
    want = json.loads(PINNED_PAGES.read_text())
    assert sorted(got) == sorted(want)
    for name in sorted(want):
        assert got[name] == want[name], name
