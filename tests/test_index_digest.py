"""Pinned index digests: every index writer (build_index in both tokenizer
modes, resumable_build + merge_postings, apply_updates + compact_updates)
must keep writing the same index, byte for byte in what a query reads.

Each digest is a sha256 over one part of the written index, in a canonical
row order:

* ``postings``: every posting as decoded (term_id, doc_id, tf, dl,
  positions, seg_seq);
* ``blocks``: the block metadata (term_id, salt_bits, block_id, n_docs,
  block_max_tf, block_min_dl);
* ``term_stats``: every row;
* ``corpus_stats``: n_docs, avgdl, n_terms, n_blocks, store_positions;
* ``hot_topk``: every row, for the configs that build the hot-term cache.

The corpora are small (under 300 docs) with ``target_reduce_docs=16``, so
frequent terms still split into salted blocks. To print the digests the
current code writes (e.g. after a deliberate format change), run
``python -m tests.test_index_digest`` from the repository root.
"""

from __future__ import annotations

import hashlib
import random

import pytest

from open_source_search_engine_spark.catalog import Catalog
from open_source_search_engine_spark.operators.index_build import (
    IndexConfig,
    build_index,
)
from open_source_search_engine_spark.operators.resumable import (
    merge_postings,
    resumable_build,
)
from open_source_search_engine_spark.operators.updates import (
    apply_updates,
    compact_updates,
)

N_DOCS = 240
_ASCII_WORDS = (
    "the and to of spark index query merge block score term doc posting "
    "shard bm25 phrase cache segment build update delete www http"
).split()
_UNICODE_WORDS = "café naïve straße über 東京 世界和平 ёлка δοκιμή".split()


def _texts(seed: int, n: int) -> list[str]:
    """Zipf-ish word draws; every fifth doc mixes in non-ASCII words so the
    unicode build runs both its byte path and its regex path."""
    rng = random.Random(seed)
    weights = [1.0 / (r + 1) for r in range(len(_ASCII_WORDS))]
    out = []
    for i in range(n):
        words = rng.choices(_ASCII_WORDS, weights, k=rng.randint(0, 14))
        if i % 5 == 0:
            words += rng.choices(_UNICODE_WORDS, k=rng.randint(1, 4))
            rng.shuffle(words)
        out.append(" ".join(words).title() if i % 7 == 0 else " ".join(words))
    return out


def _docs(spark, seed: int = 11, n: int = N_DOCS, base: int = 0):
    rows = [(base + i * 7919, t) for i, t in enumerate(_texts(seed, n))]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _sha(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def index_digest(catalog: Catalog) -> dict[str, str]:
    postings = catalog.read_table("postings")
    decoded = postings.selectExpr(
        "term_id",
        "inline(arrays_zip(doc_ids, tfs, dls, positions))"
        " AS (doc_id, tf, dl, positions)",
        "seg_seq",
    )
    cs = catalog.read_table("corpus_stats").collect()[0]
    out = {
        "postings": _sha(
            (r.term_id, r.doc_id, r.tf, r.dl,
             None if r.positions is None else list(r.positions), r.seg_seq)
            for r in decoded.collect()
        ),
        "blocks": _sha(
            postings.select(
                "term_id", "salt_bits", "block_id", "n_docs",
                "block_max_tf", "block_min_dl",
            ).collect()
        ),
        "term_stats": _sha(
            catalog.read_table("term_stats").select(
                "term_id", "term", "df", "cf", "max_salt_bits",
                "min_salt_bits",
            ).collect()
        ),
        "corpus_stats": _sha(
            [(int(cs.n_docs), repr(float(cs.avgdl)), int(cs.n_terms),
              int(cs.n_blocks), bool(cs.store_positions))]
        ),
    }
    if catalog.table_exists("hot_topk"):
        out["hot_topk"] = _sha(catalog.read_table("hot_topk").collect())
    return out


_BUILDS = {
    "ascii-bigrams-hot": dict(
        tokenizer_mode="ascii", bigrams=True, hot_cache_k=6,
        hot_cache_min_df_frac=0.2,
    ),
    "ascii-nopos": dict(tokenizer_mode="ascii", store_positions=False),
    "ascii-skip": dict(tokenizer_mode="ascii", skip_terms=("www", "http")),
    "unicode-bigrams-hot": dict(
        tokenizer_mode="unicode", bigrams=True, hot_cache_k=6,
        hot_cache_min_df_frac=0.2,
    ),
    "unicode-nopos": dict(tokenizer_mode="unicode", store_positions=False),
    "unicode-skip": dict(tokenizer_mode="unicode", skip_terms=("www", "東京")),
}


def build_digest(spark, root: str, name: str) -> dict[str, str]:
    catalog = Catalog(spark, f"{root}/{name}")
    cfg = IndexConfig(target_reduce_docs=16, **_BUILDS[name])
    build_index(spark, catalog, _docs(spark), cfg)
    return index_digest(catalog)


def resumable_digests(spark, root: str) -> dict[str, dict[str, str]]:
    catalog = Catalog(spark, f"{root}/resumable")
    cfg = IndexConfig(target_reduce_docs=16, bigrams=True)
    resumable_build(spark, catalog, _docs(spark), cfg, n_partitions=4)
    out = {"resumable": index_digest(catalog)}
    merge_postings(spark, catalog)
    out["resumable-merged"] = index_digest(catalog)
    return out


def update_digests(spark, root: str) -> dict[str, dict[str, str]]:
    catalog = Catalog(spark, f"{root}/updates")
    cfg = IndexConfig(target_reduce_docs=16, hot_cache_k=6,
                      hot_cache_min_df_frac=0.2)
    build_index(spark, catalog, _docs(spark), cfg)
    # replace every fourth doc, add 20 new ones, delete every eighth odd one
    old = [(i * 7919, t) for i, t in enumerate(_texts(11, N_DOCS))]
    fresh = _texts(23, N_DOCS // 4 + 20)
    ups = [(d, fresh[j]) for j, (d, _) in enumerate(old[::4])]
    ups += [(10**9 + j, fresh[-1 - j]) for j in range(20)]
    dels = [(d,) for d, _ in old[1::8]]
    apply_updates(
        spark, catalog,
        upserts=spark.createDataFrame(ups, "doc_id long, text string"),
        delete_ids=spark.createDataFrame(dels, "doc_id long"),
        config=cfg,
    )
    out = {"updated": index_digest(catalog)}
    compact_updates(spark, catalog)
    out["compacted"] = index_digest(catalog)
    return out


#: recorded with the code before the index writers shared one load,
#: segment and finish step
PINNED = {
    "ascii-bigrams-hot": {
        "blocks": "1038fcb14e14cd7a",
        "corpus_stats": "6e58379ee17be16a",
        "hot_topk": "5d1d76d37c9ce704",
        "postings": "996a6c98517b2ce2",
        "term_stats": "5061f8115945864f",
    },
    "ascii-nopos": {
        "blocks": "99f03f48c7238c54",
        "corpus_stats": "63c61fa21a7ab035",
        "postings": "a5b59de3c9e8137b",
        "term_stats": "56791b80eaa637f4",
    },
    "ascii-skip": {
        "blocks": "1812a081ab98ef8e",
        "corpus_stats": "03e84971f9d3bc28",
        "postings": "2d5af6fbc851a111",
        "term_stats": "259ba93afec4351b",
    },
    "compacted": {
        "blocks": "5b7325e7b65d682f",
        # re-recorded when compaction began recounting n_blocks (the
        # pre-compaction count, delta segment included, was kept before)
        "corpus_stats": "eb79e1f711c7ab96",
        "hot_topk": "9b820add9ce64480",
        "postings": "25cbd6f85844aeef",
        "term_stats": "18449705b19f9dd5",
    },
    "resumable": {
        "blocks": "572146938027c41d",
        "corpus_stats": "e8c0ebb7c322cfcf",
        "postings": "4fde63b8b6d64c83",
        "term_stats": "0f511e7c25272055",
    },
    "resumable-merged": {
        "blocks": "b172b60389afbca3",
        "corpus_stats": "e8c0ebb7c322cfcf",
        "postings": "4fde63b8b6d64c83",
        "term_stats": "0f511e7c25272055",
    },
    "unicode-bigrams-hot": {
        "blocks": "866cda53b5253651",
        "corpus_stats": "8d80a3944d2da40c",
        "hot_topk": "c2ee4c30d67920b5",
        "postings": "4fde63b8b6d64c83",
        "term_stats": "32d62a5f2333cbd0",
    },
    "unicode-nopos": {
        "blocks": "cdf7b16098dfa1d0",
        "corpus_stats": "2299b7e0a5ec4f2e",
        "postings": "edf752094c894dba",
        "term_stats": "1515d908e9fa1602",
    },
    "unicode-skip": {
        "blocks": "57451e116706268a",
        "corpus_stats": "e1ebf5fecbfe0a37",
        "postings": "88859596a91cc83e",
        "term_stats": "e52bfb3677ac636b",
    },
    "updated": {
        "blocks": "738fc0172682b5ea",
        "corpus_stats": "bc57eee37df09242",
        "hot_topk": "88d29c0eb14ac198",
        "postings": "62b01657631f32be",
        "term_stats": "cc1dd912475c7e3f",
    },
}


@pytest.mark.parametrize("name", sorted(_BUILDS))
def test_build_index_digest(spark, tmp_path, name):
    assert build_digest(spark, str(tmp_path), name) == PINNED[name]


def test_resumable_build_digest(spark, tmp_path):
    got = resumable_digests(spark, str(tmp_path))
    for name, digest in got.items():
        assert digest == PINNED[name], name


def test_update_digest(spark, tmp_path):
    got = update_digests(spark, str(tmp_path))
    for name, digest in got.items():
        assert digest == PINNED[name], name
    # compaction recounts corpus_stats over the rewritten postings
    catalog = Catalog(spark, f"{tmp_path}/updates")
    n_blocks = catalog.read_table("corpus_stats").first()["n_blocks"]
    assert n_blocks == catalog.read_table("postings").count()


if __name__ == "__main__":
    import pprint
    import tempfile

    from open_source_search_engine_spark.session import get_spark

    spark = get_spark(app_name="osse-digest", master="local[4]",
                      shuffle_partitions=8)
    with tempfile.TemporaryDirectory(prefix="osse-digest-") as root:
        got = {n: build_digest(spark, root, n) for n in sorted(_BUILDS)}
        got.update(resumable_digests(spark, root))
        got.update(update_digests(spark, root))
    pprint.pprint(got, sort_dicts=True)
    spark.stop()
