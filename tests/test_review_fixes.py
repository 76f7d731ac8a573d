"""Regression gates for the round-4 review findings (two passes).

Pass 1 (query/build path): UOR vote groups must honor
query-side stopword dropping, morphology must not derive false friends
("news" -> "new"), the synonym loader must keep legacy space-separated
lines that contain a comma parsing as before, and the phrase-member hits
cache must stay bounded.

Pass 2 (curation/analysis/streaming): shingling must not crash on docs
shorter than n tokens, pack_shards must not overflow on 63-bit hash
doc_ids, ivf must honor id_col, lang_id/gopher flags must not go NULL on
NULL text, spam_rank must not max out on tiny docs, and streaming ingest
must not let a stale redelivery overwrite a newer stored turn."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_source_search_engine_spark.functions.synonyms import (
    load_synonyms,
    morph_forms,
)
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
)
from open_source_search_engine_spark.operators.query import SearchEngine


def _engine(spark, catalog, rows, mode="ascii", **cfg):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    build_index(spark, catalog, docs, IndexConfig(tokenizer_mode=mode, **cfg))
    return SearchEngine(spark, catalog, tokenizer_mode=mode)


class TestUorStopwordDrop:
    def test_uor_member_stopword_does_not_score(self, spark, catalog):
        eng = _engine(
            spark,
            catalog,
            [
                (1, "spark merge the x"),
                (2, "spark the x"),
                (3, "spark merge x"),
            ],
        )
        got = {
            r.doc_id: r
            for r in eng.search_query(
                "spark (merge UOR the)", k=10, drop_stopwords=True
            ).collect()
        }
        # eligibility: the 'the' clause collapses to [spark] -> all 3 docs
        assert set(got) == {1, 2, 3}
        # doc 2 has no surviving UOR member: matched counts ONLY the spark
        # group, and its score is exactly the spark-only score
        assert got[2].matched == 1
        spark_only = {
            r.doc_id: r.score
            for r in eng.search_terms(["spark"], "AND", 10).collect()
        }
        assert got[2].score == pytest.approx(spark_only[2])
        # docs with merge count both groups
        assert got[1].matched == 2
        assert got[3].matched == 2


class TestMorphologyFalseFriends:
    def test_lexicalized_words_derive_nothing(self):
        assert morph_forms("news") == []
        assert morph_forms("series") == []
        assert morph_forms("always") == []

    def test_regular_inflections_still_derive(self):
        assert "table" in morph_forms("tables")
        assert "index" in morph_forms("indexes")
        assert "merge" in morph_forms("merging")


class TestLoaderBackwardCompat:
    def test_legacy_space_line_with_comma(self, tmp_path):
        # previously-valid format: whitespace group that happens to contain
        # a comma -- the first field's extra words must become alternatives,
        # not a multi-word base no query term can look up
        p = tmp_path / "syn.txt"
        p.write_text("speedy shuffle, fast\n")
        assert load_synonyms(str(p)) == {"speedy": ["shuffle", "fast"]}

    def test_multiword_alternatives_unchanged(self, tmp_path):
        p = tmp_path / "syn.txt"
        p.write_text("html, hypertext markup language\n")
        assert load_synonyms(str(p)) == {"html": ["hypertext markup language"]}


class TestPhraseHitsCacheBounded:
    def test_cache_reuse_and_eviction(self, spark, catalog):
        eng = _engine(
            spark,
            catalog,
            [
                (1, "alpha beta gamma tail"),
                (2, "delta epsilon zeta tail"),
                (3, "padding doc tail words"),
            ],
        )
        eng._phrase_hits_cache_max = 1
        syn = {"one": ["alpha beta gamma"], "two": ["delta epsilon zeta"]}
        r1 = eng.search_synonyms(["one"], syn, "OR", 10).collect()
        assert [r.doc_id for r in r1] == [1]
        assert len(eng._phrase_hits_cache) == 1
        # second call with the same phrase reuses the entry (no growth)
        eng.search_synonyms(["one"], syn, "OR", 10).collect()
        assert list(eng._phrase_hits_cache) == ["alpha beta gamma"]
        # a different phrase evicts the old entry at max size 1
        r2 = eng.search_synonyms(["two"], syn, "OR", 10).collect()
        assert [r.doc_id for r in r2] == [2]
        assert list(eng._phrase_hits_cache) == ["delta epsilon zeta"]
        # evicted frame still answers correctly (recompute, not stale ref)
        r1b = eng.search_synonyms(["one"], syn, "OR", 10).collect()
        assert [(r.doc_id, r.score) for r in r1b] == [
            (r.doc_id, r.score) for r in r1
        ]


class TestShortDocShingles:
    def test_short_docs_yield_empty_not_crash(self, spark):
        from open_source_search_engine_spark.operators.dedup import (
            doc_shingles,
            ngram_jaccard_pairs,
        )

        docs = spark.createDataFrame(
            [(1, "one two"), (2, "a"), (3, "x y z w"), (4, "")],
            "doc_id long, text string",
        )
        got = doc_shingles(docs, n=3).collect()
        # only doc 3 has >= 3 tokens: shingles "x y z" and "y z w"
        assert sorted((r.doc_id, r.shingle) for r in got) == [
            (3, "x y z"),
            (3, "y z w"),
        ]
        # the pair generator inherits the guard (used to abort the job)
        assert ngram_jaccard_pairs(docs, n=3).collect() == []

    def test_diversity_rank_single_token_doc(self, spark):
        from open_source_search_engine_spark.operators.text_analysis import (
            diversity_rank,
        )

        docs = spark.createDataFrame(
            [(1, "solo"), (2, "rep rep other rep")],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in diversity_rank(docs).collect()}
        assert 1 not in rows  # no repeated term, and no crash
        assert rows[2].n_repeated == 1


class TestPackShardsOverflow:
    def test_63bit_doc_ids(self, spark):
        from open_source_search_engine_spark.operators.curation import (
            pack_shards,
        )

        big = [(2**62 + i * 7, f"tok{i} alpha beta gamma") for i in range(40)]
        docs = spark.createDataFrame(big, "doc_id long, text string")
        rows = sorted(
            pack_shards(docs, budget_tokens=40, n_buckets=8).collect(),
            key=lambda r: r.doc_id,
        )
        assert len(rows) == 40
        # shard_id must be non-decreasing in doc_id order (the
        # byte-identical-shards contract): the old (doc_id-lo)*n_buckets
        # bucket expression overflowed long here and aborted under ANSI
        shard_seq = [r.shard_id for r in rows]
        assert shard_seq == sorted(shard_seq)
        # exact prefix-sum semantics: shard of doc i = floor(excl_sum/40)
        excl = 0
        for r in rows:
            assert r.shard_id == excl // 40
            excl += r.n_tokens


class TestIvfIdCol:
    def test_ivf_topk_honors_id_col(self, spark):
        import numpy as np

        from open_source_search_engine_spark.operators.similarity import (
            ivf_topk,
        )

        rng = np.random.default_rng(7)
        rows = [
            (int(i), [float(x) for x in rng.normal(size=8)])
            for i in range(30)
        ]
        emb = spark.createDataFrame(
            rows, "doc_id long, embedding array<double>"
        )
        q = [float(x) for x in rng.normal(size=8)]
        got = ivf_topk(
            emb, q, k=5, n_centroids=4, n_probe=4, id_col="doc_id"
        ).collect()
        assert len(got) == 5  # used to throw UNRESOLVED_COLUMN vec_id


class TestNullTextAnalysis:
    def test_lang_id_null_text_is_und(self, spark):
        from open_source_search_engine_spark.operators.text_analysis import (
            lang_id,
        )

        docs = spark.createDataFrame(
            [(1, None), (2, "the cat and the dog have been there")],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in lang_id(docs).collect()}
        assert rows[1].lang_pred == "und" and rows[1].lang_score == 0
        assert rows[2].lang_pred == "en"

    def test_gopher_flags_null_text_fails_gates(self, spark):
        from open_source_search_engine_spark.operators.text_analysis import (
            gopher_quality_flags,
        )

        docs = spark.createDataFrame(
            [(1, None)], "doc_id long, text string"
        )
        r = gopher_quality_flags(docs).collect()[0]
        assert r.quality_pass == 0  # used to be NULL (three-valued)
        assert r.flag_n_tokens == 1 and r.flag_common_words == 1
        assert r.flag_bullets == 0 and r.flag_ellipsis == 0

    def test_spam_rank_tiny_docs_not_maximal(self, spark):
        from open_source_search_engine_spark.operators.text_analysis import (
            word_spam_rank,
        )

        docs = spark.createDataFrame(
            [
                (1, "hello"),
                (2, "two words"),
                (3, "spam spam spam spam spam spam spam spam"),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in word_spam_rank(docs).collect()}
        assert rows[1].spam_rank == 0  # used to be 10
        assert rows[2].spam_rank == 0
        assert rows[3].spam_rank == 10  # genuine stamping still maxes


class TestStaleRedelivery:
    def test_older_ts_does_not_overwrite(self, spark, catalog):
        import pyspark.sql.functions as SF

        from open_source_search_engine_spark.operators.index_build import (
            build_index,
            transcripts_to_docs,
        )
        from open_source_search_engine_spark.streaming.ingest import (
            ingest_batch,
        )

        def turns(text, ts):
            return spark.createDataFrame(
                [("conv-a", 0, "user", text, None)],
                "conv_id string, turn_idx int, role string, text string,"
                " tool string",
            ).withColumn("ts", SF.lit(ts).cast("timestamp"))

        build_index(
            spark, catalog, transcripts_to_docs(turns("original words", "2026-01-01 00:00:00"))
        )
        # batch 1: the EDIT (newer ts) replaces the original
        ingest_batch(spark, catalog, turns("edited words", "2026-01-02 00:00:00"))
        # batch 2: an at-least-once source re-delivers the ORIGINAL (older
        # ts) -- it must NOT overwrite the edit
        ingest_batch(spark, catalog, turns("original words", "2026-01-01 00:00:00"))
        stored = catalog.read_table("documents").collect()
        assert len(stored) == 1 and stored[0].text == "edited words"


# ---------------------------------------------------------------------------
# pass 3: build/update lifecycle parity
# ---------------------------------------------------------------------------
class TestMinSaltBitsPreserved:
    def test_untouched_terms_keep_min(self, spark, catalog):
        from open_source_search_engine_spark.operators.updates import (
            apply_updates,
        )

        eng = _engine(
            spark,
            catalog,
            [(i, "common filler" if i else "unique_zz only") for i in range(12)],
            target_reduce_docs=4,  # force salted blocks at tiny scale
        )
        before = {
            r.term: (r.min_salt_bits, r.max_salt_bits)
            for r in catalog.read_table("term_stats").collect()
        }
        # precondition: at least one term actually has a nonzero min --
        # otherwise this gate would pass vacuously under the old zeroing
        assert any(p[0] > 0 for p in before.values()), before
        up = spark.createDataFrame(
            [(100, "unique_zz again")], "doc_id long, text string"
        )
        apply_updates(spark, catalog, upserts=up)
        after = {
            r.term: (r.min_salt_bits, r.max_salt_bits)
            for r in catalog.read_table("term_stats").collect()
        }
        # terms NOT in the delta keep their stored profile (used to be
        # zeroed wholesale)
        for t, prof in before.items():
            if t not in ("unique_zz", "again", "only"):
                assert after[t] == prof, t


class TestPositionsGuard:
    def test_positional_queries_raise_without_positions(self, spark, catalog):
        eng = _engine(
            spark,
            catalog,
            [(1, "one two three four five")],
            store_positions=False,
        )
        with pytest.raises(ValueError, match="store_positions"):
            eng.phrase_postings(["one", "two", "three"])
        with pytest.raises(ValueError, match="store_positions"):
            eng.bigram_postings("one", "two")
        with pytest.raises(ValueError, match="store_positions"):
            eng.search_proximity(["one", "two"], k=5)
        # non-positional serving still works
        assert eng.search_terms(["three"], "AND", 5).count() == 1

    def test_indexed_bigram_termlist_needs_no_positions(self, spark, catalog):
        eng = _engine(
            spark,
            catalog,
            [(1, "one two three")],
            store_positions=False,
            bigrams=True,
        )
        hits = eng.bigram_postings("one", "two").collect()
        assert [r.doc_id for r in hits] == [1]

    @pytest.mark.parametrize("bigrams", [False, True])
    def test_phrase_matching_without_positions(self, spark, catalog, bigrams):
        # a phrase over ONE termlist (an indexed 2-word bigram) answers
        # without positions; every multi-slot match raises -- these all
        # used to read the empty positions lists and match nothing
        eng = _engine(
            spark,
            catalog,
            [(1, "one two"), (2, "three four")],
            store_positions=False,
            bigrams=bigrams,
        )
        multi_slot = [
            lambda: eng.phrase_docs(["one", "two"]),
            lambda: eng.search_phrase(["one", "two", "three"]),
        ]
        two_words = [
            lambda: eng.search_phrase(["one", "two"]),
            lambda: eng.search_query('"one two"'),
        ]
        for call in multi_slot + ([] if bigrams else two_words):
            with pytest.raises(ValueError, match="store_positions"):
                call()
        for call in two_words if bigrams else []:
            assert [r.doc_id for r in call().collect()] == [1]

    def test_wand_phrase_over_one_bigram_termlist(self, spark, catalog):
        # the re-rank answers a phrase that reads no positions instead of
        # refusing it up front
        from open_source_search_engine_spark.operators.wand import wand_phrase

        eng = _engine(
            spark,
            catalog,
            [(1, "one two"), (2, "three four")],
            store_positions=False,
            bigrams=True,
        )
        for page in (
            eng.search_phrase(["one", "two"]),
            wand_phrase(eng, ["one", "two"]),
        ):
            assert [r.doc_id for r in page.collect()] == [1]

    def test_single_term_proximity_needs_no_positions(self, spark, catalog):
        # a one-term query has no pair to score: exact and batch answer
        eng = _engine(
            spark,
            catalog,
            [(1, "one two"), (2, "three four")],
            store_positions=False,
        )
        page = eng.search_proximity(["one"]).collect()
        assert [r.doc_id for r in page] == [1]
        rows = eng.search_many_proximity(
            [{"query_id": "a", "terms": ["one"]}]
        ).collect()
        assert [(r.query_id, r.doc_id) for r in rows] == [("a", 1)]


# ---------------------------------------------------------------------------
# pass 4: events/codec/multimodal/catalog edges
# ---------------------------------------------------------------------------
class TestAsOfNullPayload:
    def test_latest_right_row_attached_atomically(self, spark):
        from open_source_search_engine_spark.operators.events import (
            as_of_join,
        )

        right = spark.createDataFrame(
            [(1, 1, 5, None), (1, 2, None, 7)],
            "k long, ts long, a int, b int",
        )
        left = spark.createDataFrame([(1, 3)], "k long, ts long")
        row = as_of_join(
            left, right, key_col="k", left_ts="ts", right_ts="ts"
        ).collect()[0]
        # the latest right row (ts=2) is (a=NULL, b=7); carrying columns
        # independently used to fabricate (a=5, b=7) -- a row that never
        # existed in right
        assert row.ts_asof == 2
        assert row.a_asof is None and row.b_asof == 7


class TestSessionizeNoEventId:
    def test_frame_without_event_id_column(self, spark):
        from open_source_search_engine_spark.operators.events import (
            sessionize,
        )

        df = spark.createDataFrame(
            [("u1", "2026-01-01 00:00:00", 1.0),
             ("u1", "2026-01-01 02:00:00", 2.0)],
            "user_id string, ts string, value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        rows = sessionize(df, gap_minutes=30).collect()
        assert len(rows) == 2  # used to crash UNRESOLVED_COLUMN event_id


class TestCodecEmptyDocs:
    def test_positions_roundtrip_with_zero_tfs(self):
        import numpy as np
        import pyarrow as pa

        from open_source_search_engine_spark.functions.codec import (
            decode_blocks,
            doc_positions,
            encode_blocks,
        )

        for tfs in ([0, 2], [2, 0], [0, 2, 0, 1], [0, 0, 3]):
            tfs_a = np.asarray(tfs, dtype=np.int64)
            n = int(tfs_a.sum())
            flat = np.arange(3, 3 + n, dtype=np.int64)
            ids = np.arange(tfs_a.size, dtype=np.int64)
            cols = encode_blocks(
                np.array([0]), ids, tfs_a, tfs_a, doc_positions(tfs_a, flat)
            )
            batch = pa.RecordBatch.from_arrays(
                list(cols.values()), names=list(cols)
            )
            _, _, _, got, _ = decode_blocks(batch, True)
            # every doc keeps exactly its own positions, empty ones too
            want, at = [], 0
            for t in tfs:
                want.append(flat[at: at + t].tolist())
                at += t
            assert got.to_pylist() == want, tfs


class TestMultimodalEdges:
    def test_empty_wav_features(self):
        import numpy as np

        from open_source_search_engine_spark.functions.codecs import encode_wav
        from open_source_search_engine_spark.operators.multimodal import (
            real_decode,
        )

        payload = encode_wav(np.array([], dtype=np.int16), 8000)
        out = real_decode(payload, "audio")
        assert list(out["feature"]) == [0.0] * 8  # used to raise in rfft

    def test_custom_extract_fn_honors_stride(self, spark):
        from open_source_search_engine_spark.operators.multimodal import (
            sample_frames,
        )

        df = spark.createDataFrame(
            [(1, "video", bytearray(b"0123456789abcdef"))],
            "doc_id long, media_type string, media binary",
        )
        calls = sample_frames(
            df,
            every_n=4,
            n_frames=3,
            extract_fn=lambda p, i: bytes([i]),
        ).collect()
        # the SOURCE frame index must stride by every_n for custom
        # backends too (it used to be applied only inside the default)
        assert sorted(bytes(r.frame)[0] for r in calls) == [0, 4, 8]


class TestSplitRunonShortTerm:
    def test_one_char_term_no_bogus_split(self, spark):
        from open_source_search_engine_spark.operators.speller import (
            split_runon,
        )

        vocab = spark.createDataFrame(
            [("", 5), ("x", 3)], "term string, df long"
        )
        got = split_runon(spark, vocab, ["x"], skip_known=False).collect()
        assert got == []  # used to emit split_pos=0 with empty halves


class TestCatalogConcurrentAppend:
    def test_parallel_appends_lose_nothing(self, spark, tmp_path_factory):
        import threading

        from open_source_search_engine_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path_factory.mktemp("cat-race")))
        cat.write_table(
            spark.createDataFrame([(0,)], "v long"), "t", mode="overwrite"
        )
        errs = []

        def appender(base):
            try:
                for j in range(2):
                    cat.append_table(
                        spark.createDataFrame([(base * 10 + j,)], "v long"), "t"
                    )
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ts = [threading.Thread(target=appender, args=(i,)) for i in range(4)]
        [t.start() for t in ts]
        [t.join() for t in ts]
        assert not errs
        # every append's data dir is live in the final snapshot (the
        # unlocked read-then-replace used to orphan concurrent appends)
        assert cat.read_table("t").count() == 1 + 8
        seqs = [s["sequence"] for s in cat.snapshots("t")]
        assert len(seqs) == len(set(seqs))  # no duplicated sequence


def test_load_synonyms_skips_null_cells(spark):
    from open_source_search_engine_spark.functions.synonyms import load_synonyms

    df = spark.createDataFrame(
        [("fast", None), ("fast", "quick"), (None, "x")],
        "term string, alt string",
    )
    assert load_synonyms(df) == {"fast": ["quick"]}
    df2 = spark.createDataFrame(
        [("fast", ["quick", None])],
        "term string, alts array<string>",
    )
    assert load_synonyms(df2) == {"fast": ["quick"]}


def test_decode_avi_error_contract_and_topdown():
    import numpy as np
    import pytest

    from open_source_search_engine_spark.functions.codecs import (
        decode_avi,
        encode_avi,
    )

    frames = [
        np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3),
        np.full((2, 3, 3), 7, dtype=np.uint8),
    ]
    payload = encode_avi(frames, fps=5)
    fps, got = decode_avi(payload)
    assert fps == 5 and len(got) == 2
    assert all((a == b).all() for a, b in zip(got, frames))
    # a frame chunk with no prior strf must raise the documented ValueError
    import struct

    movi_body = b"00db" + struct.pack("<I", 4) + b"\x00" * 4
    movi = b"LIST" + struct.pack("<I", 4 + len(movi_body)) + b"movi" + movi_body
    body = b"AVI " + movi
    bad = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError):
        decode_avi(bad)


def test_decode_avi_ignores_audio_stream_strf():
    # an audio strl AFTER the video strl carries a WAVEFORMATEX strf; the
    # decoder used to parse those bytes as <Iii> and clobber the video
    # w/h, corrupting (or crashing) every subsequent frame decode
    import struct

    import numpy as np

    from open_source_search_engine_spark.functions.codecs import (
        _STRH,
        decode_avi,
        encode_avi,
    )

    frames = [
        np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3),
        np.full((2, 3, 3), 7, dtype=np.uint8),
    ]
    payload = encode_avi(frames, fps=5)

    # audio strl: strh fccType='auds' + strf = 16-byte WAVEFORMATEX
    strh = b"strh" + struct.pack("<I", 56) + _STRH.pack(
        b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0,
        1, 8000, 0, 16000, 0, 0xFFFFFFFF, 2, 0, 0, 0, 0,
    )
    wf = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    strf = b"strf" + struct.pack("<I", len(wf)) + wf
    strl = (
        b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl"
        + strh + strf
    )
    # splice the audio strl in right before the movi LIST ("movi" fourcc
    # sits 8 bytes after its LIST tag), then repair the RIFF size
    movi_at = payload.index(b"movi") - 8
    spliced = payload[:movi_at] + strl + payload[movi_at:]
    spliced = (
        spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    )
    fps, got = decode_avi(spliced)
    assert fps == 5 and len(got) == 2
    assert all((a == b).all() for a, b in zip(got, frames))
