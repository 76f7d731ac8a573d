"""Session-7 (round-5 close) features: suffix wildcard via the reversed
dictionary, deterministic HLL distinct-term sketches, packed binary-
quantization ANN rescore, snapshot-pinned (time-travel) serving, and
field-weighted BM25F."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

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
    wh = str(tmp_path_factory.mktemp("r5c-wh"))
    catalog = Catalog(spark, wh)
    build_index(
        spark,
        catalog,
        transcripts_to_docs(synth_transcripts(spark, 600)),
        IndexConfig(),
    )
    e = SearchEngine(spark, catalog)
    yield e
    # good heap citizenship in the shared session-long JVM: release the
    # persisted reversed dictionary and any cached phrase frames
    rd = getattr(e, "_rdict", None)
    if rd is not None:
        rd.unpersist()
    for hits, _df in e._phrase_hits_cache.values():
        hits.unpersist()


def _toks(text: str) -> list[str]:
    return [w for w in re.split(r"[^a-z0-9_]+", (text or "").lower()) if w]


# ------------------------------------------------------------- suffix ----
def test_suffix_expansion_matches_manual_groups(eng):
    # manual expansion: top-3 dictionary terms ENDING in 'e' by
    # (df desc, term asc) must reproduce search_suffix exactly
    stats = sorted(
        (
            (r["term"], r["df"])
            for r in eng._term_stats.select("term", "df").collect()
            if r["term"].endswith("e") and " " not in r["term"]
        ),
        key=lambda x: (-x[1], x[0]),
    )
    assert len(stats) > 3, "need the bound to bind"
    members = [(t, 1.0) for t, _ in stats[:3]]
    manual = (
        eng._vote_group_scores({"*e": members, "index": [("index", 1.0)]}, "AND")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .collect()
    )
    got = eng.search_suffix(["*e", "index"], "AND", 10, max_expansions=3).collect()
    assert [(r["doc_id"], round(r["score"], 6)) for r in got] == [
        (r["doc_id"], round(r["score"], 6)) for r in manual
    ]
    assert all(r["matched"] == 2 for r in got)


def test_suffix_mirrors_prefix_on_reversed_pattern(eng):
    # '*e' through the reversed dictionary and a literal term must agree
    # with the identical member set scored via search_prefix semantics:
    # both are the same vote-group machinery, so a suffix whose matches
    # coincide with a prefix's matches yields the same page. Use a
    # pattern that matches exactly one term to force the equivalence.
    one = [
        r["term"]
        for r in eng._term_stats.select("term").collect()
        if r["term"].endswith("dex") and " " not in r["term"]
    ]
    assert one == ["index"], one
    via_suffix = eng.search_suffix(["*dex"], "AND", 10).collect()
    direct = (
        eng.search_terms(["index"], "AND", 10).collect()
    )
    assert [(r["doc_id"], round(r["score"], 6)) for r in via_suffix] == [
        (r["doc_id"], round(r["score"], 6)) for r in direct
    ]


def test_suffix_unmatched_under_and_is_empty(eng):
    assert eng.search_suffix(["*zzzzq", "index"], "AND", 10).collect() == []
    # under OR the dead group drops out and the live one still serves
    assert eng.search_suffix(["*zzzzq", "index"], "OR", 10).collect() != []


# ---------------------------------------------------------------- hll ----
def test_hll_estimate_within_sketch_error(spark):
    # 64 registers -> relative error ~1.04/sqrt(64) = 13%; allow 3 sigma.
    # Vocabulary of ~200 distinct terms across two sources.
    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 200}" for j in range(30)),
         f"s{i % 2}")
        for i in range(100)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    from open_source_search_engine_spark.operators.text_analysis import (
        hll_distinct_terms,
    )

    out = hll_distinct_terms(docs).collect()
    assert len(out) == 2
    for r in out:
        assert r["n_exact"] > 50
        assert r["rel_err"] < 3 * 1.04 / (64 ** 0.5), (
            r["source"], r["hll_est"], r["n_exact"]
        )


def test_hll_registers_merge_across_slices(spark):
    # THE scale property: the sketch of a union equals the register-max
    # merge of per-slice sketches -- what makes it a per-partition
    # accumulator. Verified at the estimate level: computing the sketch
    # over all docs equals computing it over any partition split, because
    # registers only ever take max(rho).
    from open_source_search_engine_spark.operators.text_analysis import (
        hll_distinct_terms,
    )

    rows = [
        (i, " ".join(f"t{(i * 13 + j) % 150}" for j in range(20)), "one")
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    whole = hll_distinct_terms(docs, include_exact=False).collect()[0]
    redistributed = hll_distinct_terms(
        docs.repartition(13), include_exact=False
    ).collect()[0]
    assert whole["hll_est"] == redistributed["hll_est"]


def test_hll_duplicate_tokens_do_not_move_registers(spark):
    # idempotence: repeating every doc's text 5x changes nothing
    from open_source_search_engine_spark.operators.text_analysis import (
        hll_distinct_terms,
    )

    base = [(i, f"alpha beta w{i}", "s") for i in range(30)]
    docs = spark.createDataFrame(base, "doc_id long, text string, source string")
    dup = spark.createDataFrame(
        [(i, " ".join([t] * 5), s) for i, t, s in base],
        "doc_id long, text string, source string",
    )
    a = hll_distinct_terms(docs, include_exact=False).collect()[0]["hll_est"]
    b = hll_distinct_terms(dup, include_exact=False).collect()[0]["hll_est"]
    assert a == b


# ----------------------------------------------------------------- bq ----
@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [
        (i, [float(v) for v in rng.randn(64).astype("float32")])
        for i in range(200)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).localCheckpoint(eager=True)


def test_bq_pack_bits_match_signs(emb):
    from open_source_search_engine_spark.operators.similarity import bq_pack

    packed, dim = bq_pack(emb)
    assert dim == 64
    got = {r["vec_id"]: (r["w0"], r["w1"]) for r in packed.collect()}
    for r in emb.collect():
        bits = [1 if x >= 0 else 0 for x in r["embedding"]]
        w0 = int("".join(map(str, bits[:32])), 2)
        w1 = int("".join(map(str, bits[32:])), 2)
        assert got[r["vec_id"]] == (w0, w1)


def test_bq_hamming_matches_bruteforce(emb):
    from open_source_search_engine_spark.operators.similarity import (
        bq_pack,
        bq_topk,
    )

    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    q = vecs[3]
    packed, dim = bq_pack(emb)
    out = bq_topk(packed, emb, q, dim, rescore=200, k=200).collect()
    qb = [1 if x >= 0 else 0 for x in q]
    for r in out:
        vb = [1 if x >= 0 else 0 for x in vecs[r["vec_id"]]]
        assert r["hamming"] == sum(a != b for a, b in zip(qb, vb))


def test_bq_full_rescore_reproduces_float_bruteforce(emb):
    # with rescore >= corpus the coarse phase only reorders candidates:
    # the final page must be the float brute force exactly
    from open_source_search_engine_spark.operators.similarity import (
        bq_pack,
        bq_topk,
        cosine_topk,
    )

    q = emb.filter(F.col("vec_id") == 5).collect()[0]["embedding"]
    packed, dim = bq_pack(emb)
    got = bq_topk(packed, emb, q, dim, rescore=10**6, k=10).collect()
    want = cosine_topk(emb, q, k=10).collect()
    assert [(r["vec_id"], round(r["cosine"], 6)) for r in got] == [
        (r["vec_id"], round(r["cosine"], 6)) for r in want
    ]


def test_bq_recall_reasonable_at_64_bits(emb):
    # sign-bit Hamming is a coarse but real signal: top-50-of-200
    # rescore must recover most of the float top-10
    from open_source_search_engine_spark.operators.similarity import (
        bq_pack,
        bq_topk,
        cosine_topk,
    )

    q = emb.filter(F.col("vec_id") == 11).collect()[0]["embedding"]
    packed, dim = bq_pack(emb)
    got = {r["vec_id"] for r in bq_topk(packed, emb, q, dim, 50, 10).collect()}
    want = {r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()}
    assert len(got & want) >= 5, (got, want)


# ------------------------------------------------- wildcard in grammar ----
def test_search_string_routes_wildcards(eng):
    got = eng.search("s* index", mode="AND", k=10).collect()
    want = eng.search_prefix(["s*", "index"], "AND", 10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]
    # mixed directions in one query: trailing AND leading patterns
    mixed = eng.search("s* *e", mode="AND", k=10).collect()
    manual = eng.search_wildcard(["s*", "*e"], "AND", 10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in mixed] == [
        (r["doc_id"], round(r["score"], 9)) for r in manual
    ]
    assert mixed, "both groups expand in this corpus"


def test_search_wildcard_exclusion_composes(eng):
    # '-vector' must anti-join the wildcard page exactly like search_terms
    full = eng.search_wildcard(["s*", "index"], "AND", 10**6).collect()
    with_vector = {
        r["doc_id"]
        for r in eng.catalog.read_table("documents").collect()
        if "vector" in _toks(r["text"])
    }
    want = [
        (r["doc_id"], round(r["score"], 9))
        for r in full
        if r["doc_id"] not in with_vector
    ][:10]
    got = eng.search("s* index -vector", mode="AND", k=10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == want
    assert len(got) < len(full), "the exclusion must bite"


def test_plain_queries_keep_the_fast_path(eng):
    # no wildcard -> the classic search_terms page, bit-identical
    a = eng.search("spark index", mode="AND", k=10).collect()
    b = eng.search_terms(["spark", "index"], "AND", 10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in a] == [
        (r["doc_id"], round(r["score"], 9)) for r in b
    ]


def test_negated_wildcard_raises_instead_of_literal(eng):
    # '-ind*' used to become a literal exclusion of the token 'ind'
    with pytest.raises(ValueError, match=re.escape("'-ind*'")):
        eng.search("spark -ind*", mode="AND", k=10)


def test_infix_wildcard_raises_instead_of_empty_page(eng):
    # '*dex*' used to score as the literal group '*dex*': an empty page
    with pytest.raises(ValueError, match=re.escape("'*dex*'")):
        eng.search("spark *dex*", mode="AND", k=10)


# ----------------------------------------------- linear score-fold guard ----
def test_wide_vote_group_plans_in_linear_time(spark, tmp_path_factory):
    # regression guard for the O(2^n) fold: a 30-member wildcard vote
    # group must plan AND serve in seconds. The exponential when/otherwise
    # fold needed ~2^30 expression nodes here (hours of codegen
    # subexpression elimination); the linear coalesce fold is instant.
    import time

    wh = str(tmp_path_factory.mktemp("r5c-wide-wh"))
    catalog = Catalog(spark, wh)
    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{j:02d}" for j in range(30) if (i + j) % 3))
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    build_index(spark, catalog, docs, IndexConfig())
    engine = SearchEngine(spark, catalog)
    t0 = time.time()
    out = engine.search_wildcard(["w*"], "OR", 10, max_expansions=30).collect()
    elapsed = time.time() - t0
    assert out, "the wide group must match"
    # generous for throttled shared hosts; the exponential fold cannot
    # finish in this bound at 30 slots
    assert elapsed < 120, f"wide vote group took {elapsed:.0f}s"


# ---------------------------------------------------------- time travel ----
@pytest.fixture(scope="module")
def tt(spark, tmp_path_factory):
    """Build, capture pins, then mutate destructively: delete a third of
    the corpus and rewrite one doc to dominate the test query."""
    from open_source_search_engine_spark.operators.updates import apply_updates

    wh = str(tmp_path_factory.mktemp("r5c-tt-wh"))
    catalog = Catalog(spark, wh)
    docs = transcripts_to_docs(synth_transcripts(spark, 400))
    build_index(spark, catalog, docs, IndexConfig())
    pins = catalog.capture()
    page_before = [
        (r["doc_id"], round(r["score"], 9))
        for r in SearchEngine(spark, catalog)
        .search_terms(["spark", "index"], "AND", 10)
        .collect()
    ]
    apply_updates(
        spark,
        catalog,
        upserts=spark.createDataFrame(
            [(docs.first()["doc_id"], "spark index " * 20)],
            "doc_id long, text string",
        ),
        delete_ids=docs.select("doc_id").filter(F.col("doc_id") % 3 == 0),
    )
    return catalog, pins, page_before


def test_snapshot_pinned_engine_ignores_later_edits(spark, tt):
    catalog, pins, page_before = tt
    pinned = SearchEngine(spark, catalog.at(pins))
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in pinned.search_terms(["spark", "index"], "AND", 10).collect()
    ]
    assert got == page_before
    # ...and the LIVE engine serves a genuinely different page, so the
    # pin is doing real work
    live = SearchEngine(spark, catalog)
    live_page = [
        (r["doc_id"], round(r["score"], 9))
        for r in live.search_terms(["spark", "index"], "AND", 10).collect()
    ]
    assert live_page != page_before


def test_snapshot_view_is_read_only_and_frozen(spark, tt):
    catalog, pins, _ = tt
    view = catalog.at(pins)
    with pytest.raises(PermissionError):
        view.write_table(None, "anything")
    with pytest.raises(PermissionError):
        view.compact("postings")
    # tombstones were created AFTER the capture: absent from the view,
    # present in the live catalog
    assert catalog.table_exists("tombstones")
    assert not view.table_exists("tombstones")
    with pytest.raises(FileNotFoundError):
        view.read_table("tombstones")


def test_capture_covers_every_live_table(tt):
    catalog, pins, _ = tt
    for name in ("postings", "term_stats", "corpus_stats", "documents"):
        assert name in pins
        # the pinned read resolves and is non-empty
        assert catalog.read_snapshot(name, pins[name]).limit(1).count() == 1


# -------------------------------------------------------------- bm25f ----
def test_bm25f_weight_zero_degenerates_to_plain_bm25(eng):
    got = eng.search_fielded(
        ["spark", "index"], "AND", 10, field_col="role", field_weight=0.0
    ).collect()
    want = eng.search_terms(["spark", "index"], "AND", 10).collect()
    assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
        (r["doc_id"], round(r["score"], 9)) for r in want
    ]


def test_bm25f_matches_bruteforce_recompute(eng):
    import math

    w, k1, b = 2.0, eng.params.k1, eng.params.b
    docs = eng.catalog.read_table("documents").collect()
    terms = ["spark", "user"]
    tf = {}
    dlf = {}
    for r in docs:
        bt = _toks(r["text"])
        ft = _toks(r["role"] or "")
        dlf[r["doc_id"]] = len(bt) + w * len(ft)
        for t in terms:
            c = bt.count(t) + w * ft.count(t)
            if c > 0:
                tf[(r["doc_id"], t)] = c
    n = len(docs)
    # the engine composes avgdl-tilde from the STORED corpus-stats body
    # avgdl (same source as every other serving path) + w * mean field dl
    avgdlf = eng.avgdl + w * (
        sum(len(_toks(r["role"] or "")) for r in docs) / n
    )
    df = {t: sum(1 for (d, tt) in tf if tt == t) for t in terms}
    scores = {}
    for (d, t), c in sorted(tf.items()):
        idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
        contrib = idf * c * (k1 + 1.0) / (
            c + k1 * (1.0 - b + b * dlf[d] / avgdlf)
        )
        scores.setdefault(d, [0.0, 0])
        scores[d][0] += contrib
        scores[d][1] += 1
    full = sorted(
        (
            (d, s)
            for d, (s, m) in scores.items()
            if m == len(terms)
        ),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    got = eng.search_fielded(
        terms, "AND", 10, field_col="role", field_weight=w
    ).collect()
    assert [(r["doc_id"], round(r["score"], 6)) for r in got] == [
        (d, round(s, 6)) for d, s in full
    ]
    # union-df semantics: 'user' never appears in transcript body text of
    # the synthetic corpus? if it does this still holds -- the point is
    # the AND page is non-empty because the role field supplies the term
    assert got, "field-side hits must satisfy AND"


def test_bm25f_page_is_bit_stable_across_partitionings(spark, eng):
    # the per-doc sum folds in term-string order (_aggregate_scores), so
    # the shuffle layout cannot move a bit of a score
    pages = []
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (1, 7):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            pages.append([
                (r["doc_id"], r["score"].hex(), r["matched"])
                for r in eng.search_fielded(
                    ["spark", "user", "index"], "OR", 20, field_col="role",
                    field_weight=2.0,
                ).collect()
            ])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert pages[0] and pages[0] == pages[1]


def test_bm25f_field_hit_outranks_body_hit(spark, tmp_path_factory):
    # two docs, same body length: one has the query term ONLY in the
    # field (weighted 3x), one has it once in the body -- the field doc
    # must rank first
    wh = str(tmp_path_factory.mktemp("r5c-f-wh"))
    catalog = Catalog(spark, wh)
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "query", 4),
            (2, "query beta gamma delta", "other", 4),
            (3, "alpha beta gamma delta", "other", 4),
        ],
        "doc_id long, text string, role string, n long",
    )
    build_index(spark, catalog, docs, IndexConfig())
    engine = SearchEngine(spark, catalog)
    out = engine.search_fielded(
        ["query"], "OR", 10, field_col="role", field_weight=3.0
    ).collect()
    assert [r["doc_id"] for r in out] == [1, 2]


def test_bm25f_keeps_docs_with_a_null_field(spark, tmp_path_factory):
    # doc 2 has a NULL source and matches only in the body: the dl join on
    # the field value must keep it (dl_field = 0), so at w=0 BM25F is
    # still exactly plain BM25 and at w>0 the doc still scores
    wh = str(tmp_path_factory.mktemp("r5c-fnull-wh"))
    catalog = Catalog(spark, wh)
    docs = spark.createDataFrame(
        [
            (1, "alpha query gamma delta", "src0"),
            (2, "query beta gamma delta", None),
            (3, "alpha beta gamma delta", "src1"),
        ],
        "doc_id long, text string, source string",
    )
    build_index(spark, catalog, docs, IndexConfig())
    engine = SearchEngine(spark, catalog)
    plain = engine.search_terms(["query"], "OR", 10).collect()
    flat = engine.search_fielded(["query"], "OR", 10, field_weight=0.0)
    assert [(r["doc_id"], round(r["score"], 9)) for r in flat.collect()] == [
        (r["doc_id"], round(r["score"], 9)) for r in plain
    ]
    weighted = engine.search_fielded(["query"], "OR", 10, field_weight=2.0)
    assert {r["doc_id"] for r in weighted.collect()} == {1, 2}


# --------------------------------------------------------- index diff ----
def test_term_stats_diff_matches_recount(spark, tt):
    # the diff reads the DELTA-MAINTAINED stats tables; the brute force
    # recounts dfs from the docs actually present before/after
    from collections import Counter

    from open_source_search_engine_spark.operators.updates import (
        term_stats_diff,
    )

    catalog, pins, _ = tt
    old_docs = {
        r["doc_id"]: r["text"]
        for r in catalog.read_snapshot(
            "documents", pins["documents"]
        ).collect()
    }
    live = {
        r["doc_id"]: r["text"]
        for r in catalog.read_table("documents").collect()
    }

    from open_source_search_engine_spark.functions.tokenizer import tokenize

    def dfs(docs):
        # the fixture index is built in the default unicode mode -- the
        # recount must use the same tokenizer, not the ascii _toks
        c = Counter()
        for text in docs.values():
            for t in set(tokenize(text, "unicode")):
                c[t] += 1
        return c

    do, dn = dfs(old_docs), dfs(live)
    want = sorted(
        (
            (t, do.get(t, 0), dn.get(t, 0), dn.get(t, 0) - do.get(t, 0))
            for t in set(do) | set(dn)
            if dn.get(t, 0) != do.get(t, 0)
        ),
        key=lambda x: (-abs(x[3]), x[0]),
    )
    got = [
        (r["term"], r["df_old"], r["df_new"], r["delta"])
        for r in term_stats_diff(
            catalog.at(pins), catalog, top_k=10**6
        ).collect()
    ]
    assert got == want
    assert want, "the fixture's edits must move the dictionary"


def test_term_stats_diff_same_catalog_is_empty(spark, tt):
    catalog, pins, _ = tt
    view = catalog.at(pins)
    assert term_stats_diff_empty(view)


def term_stats_diff_empty(view):
    from open_source_search_engine_spark.operators.updates import (
        term_stats_diff,
    )

    return term_stats_diff(view, view, top_k=100).count() == 0


def test_reversed_dict_covers_dictionary_exactly_once(eng):
    rd = eng._reversed_dict().collect()
    uni = [
        (r["term"], r["df"])
        for r in eng._term_stats.select("term", "df").collect()
        if " " not in r["term"]
    ]
    assert sorted((r["term"], r["df"]) for r in rd) == sorted(uni)
    for r in rd:
        assert r["rterm"] == r["term"][::-1]
