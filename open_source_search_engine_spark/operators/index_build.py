"""Inverted-index build pipeline (the EP2 rebuild, SURVEY.md §3.2).

Reference pipeline: spider/inject -> XmlDoc::getMetaList tokenize+hash
(`XmlDoc_Indexing.cpp:226` hashAll, `:1779-2212` hashWords3) -> per-shard
routed posting keys (`Msg4Out.cpp`, `Hostdb.cpp:1477` getShardNum) ->
memtable -> sorted dump (`RdbDump.cpp:251`) -> background merge
(`RdbMerge.cpp:53`).

Spark-first re-expression -- a MAP-SIDE COMBINER architecture (measured: the
naive plan shipped 120M raw token tuples per 4M docs through Arrow twice;
this plan ships ~3% of that):

  documents ──ONE mapInArrow: tokenize + partial-encode──▶ partial blocks
      (python never hands raw tuples back to the JVM; partial rows are
       posting blocks (codec.py format) keyed by (term_id, salt_bits, salt))
      │ shuffle of partial blocks only
      ▼
  repartition(term_id, salt_bits, block_id) + sortWithinPartitions
      │
      ▼ ONE mapInArrow: vectorized k-way merge
  final postings blocks: ONE row per (term_id, salt_bits, salt) group

Block granularity is DF-ADAPTIVE per term (_partial_encoder): a term's
blocks are hash-prefix ranges sized to ~target_reduce_docs docs, so a tail
term is one whole-range block and a stopword splits into many -- the table
is df-proportional, never metadata-dominated, and the reduce groups are
bounded. block_id = top salt_bits bits of the 63-bit doc hash; prefixes
nest across granularities, which is what WAND's hierarchical grouping uses.

Skew: a stopword term spans its many salt ranges -- the block key IS the
salt (north rule's salted repartitioning); AQE splits residual imbalance.
All ids are computed in Python (functions/hashing.py py_*) because the
combiner never round-trips rows through the JVM; ids only need internal
consistency, not parity with any JVM hash.

One index writer -- every write path (build_index here,
resumable.resumable_build, updates.apply_updates / compact_updates) is the
same three steps, the analog of the reference's one Rdb dump/merge
lifecycle (`RdbDump.cpp:251`, `RdbMerge.cpp:53`):

  load_documents  dl column, documents write, ONE job for the doc_id
                  collision audit + n_docs/avgdl
  segment         build_postings, skip-terms filter, seg_seq
  finish_index    term_stats, corpus_stats, update-state reset, hot cache
                  (apply_updates keeps its delta term_stats and writes
                  corpus_stats alone: write_corpus_stats)

The tokenizer behind the combiner and tokenize_docs is ONE per-batch
dispatch (_tokenize): the byte path for ASCII text, the regex path
(_tokenize_batch, also the byte path's reference in the tests) for the
rest, both ending in the same grouping (_group_terms).
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import Catalog
from ..functions import codec
from ..functions.bm25 import BM25Params
from ..functions.hashing import (
    doc_id_col,
    py_block_ids,
    py_term_ids,
)
from ..functions.tokenizer import (
    _HAS_CJK_RE,
    _UNICODE_RE,
    _pattern,
    expand_cjk_in_lists,
    tokenize,
)
from ..session import _local_frame

TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("term_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("dl", T.IntegerType(), False),
    ]
)

_INT_LIST = T.ArrayType(T.IntegerType(), False)

#: One row per posting block; the per-doc list columns (doc_ids, tfs, dls,
#: positions) are laid out as described in functions/codec.py.
POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("term_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        # block_id = top `salt_bits` bits of the 63-bit doc hash: the block
        # covers an explicit hash-prefix RANGE of the doc space. salt_bits
        # varies per term (df-adaptive): a tail term is ONE whole-range
        # block; a stopword splits into ~target_reduce_docs-doc blocks.
        # Hierarchical prefixes let WAND group blocks of different terms
        # (wand.py: group at the coarsest granularity among query terms).
        T.StructField("block_id", T.LongType(), False),
        T.StructField("salt_bits", T.IntegerType(), False),
        T.StructField("n_docs", T.IntegerType(), False),
        T.StructField("first_doc_id", T.LongType(), False),
        T.StructField("last_doc_id", T.LongType(), False),
        T.StructField("block_max_tf", T.IntegerType(), False),
        T.StructField("block_min_dl", T.IntegerType(), False),
        T.StructField("sum_tf", T.LongType(), False),
        T.StructField("doc_ids", T.ArrayType(T.LongType(), False), False),
        T.StructField("tfs", _INT_LIST, False),
        T.StructField("dls", _INT_LIST, False),
        T.StructField("positions", T.ArrayType(_INT_LIST, False), False),
    ]
)
_POSTING_COLS = POSTINGS_SCHEMA.fieldNames()


def _check_block_format(postings: DataFrame) -> None:
    """Refuse postings written in the retired varbyte block format (binary
    ``doc_ids`` cells): the serving, compaction and update paths read the
    list columns of functions/codec.py. Looks at the schema only, so it
    fails before the caller starts any work."""
    if isinstance(postings.schema["doc_ids"].dataType, T.BinaryType):
        raise ValueError(
            "postings use the old varbyte block format (binary doc_ids); "
            "rebuild the index with build_index to get list-column blocks"
        )


@dataclass
class IndexConfig:
    tokenizer_mode: str = "unicode"
    target_reduce_docs: int = 8192
    bm25: BM25Params = field(default_factory=BM25Params)
    store_positions: bool = True
    #: also index 2-word phrase terms (SURVEY.md X3); term string "t1 t2";
    #: accelerates search_phrase via direct bigram-termlist lookup instead
    #: of positional intersection (both tokenizer modes)
    bigrams: bool = False
    #: >0 enables the high-frequency-term shortcut cache
    #: (HighFrequencyTermShortcuts.cpp rebuild, operators/hot_cache.py):
    #: per-term top-k postings precomputed at build for terms with
    #: df >= n_docs * hot_cache_min_df_frac
    hot_cache_k: int = 0
    hot_cache_min_df_frac: float = 0.05
    #: X7 common-word skip (`XmlDoc_Indexing.cpp:1961-2022`: 'www'/'com'/
    #: 'http'... never reach the index; transcript analogs are filler
    #: tokens). Skipped words still count in dl/avgdl (they occupy
    #: positions) but get no postings, no df, and no hot-cache entry --
    #: querying one finds nothing, exactly the reference behavior.
    skip_terms: tuple[str, ...] = ()
    #: automatic compaction trigger (`Rdb.h:279` m_minToMerge; `Rdb.cpp:41`
    #: attemptMergeAll fires merges itself when the file count reaches it).
    #: When set, apply_updates compacts as soon as the live segment count
    #: (initial build + one per applied delta) reaches this value, so
    #: segment count stays bounded without a caller remembering to compact.
    #: None keeps compaction caller-invoked.
    min_to_merge: int | None = None


@dataclass
class BuildResult:
    n_docs: int
    avgdl: float
    n_terms: int
    n_blocks: int
    elapsed_sec: float


def transcripts_to_docs(transcripts: DataFrame) -> DataFrame:
    """Adapter: input_hint transcript table -> generic doc table.

    Document unit = (conv_id, turn_idx) under stable turn ordering
    (SURVEY.md W6); doc_id is the deterministic 63-bit hash (§7.3).
    """
    return transcripts.withColumn(
        "doc_id", doc_id_col(F.col("conv_id"), F.col("turn_idx"))
    )


# --------------------------------------------------------------------------
# tokenize (batch-vectorized core, shared by the combiner and stats deltas)
# --------------------------------------------------------------------------

_FNV_OFFSET_U64 = np.uint64(0xCBF29CE484222325)
_FNV_PRIME_U64 = np.uint64(0x100000001B3)

_TOKEN_BYTE = np.zeros(256, dtype=bool)
_TOKEN_BYTE[ord("a"): ord("z") + 1] = True
_TOKEN_BYTE[ord("0"): ord("9") + 1] = True
_TOKEN_BYTE[ord("_")] = True


def _fnv_hash_tokens(arr: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Vectorized FNV-1a-64 + splitmix finalize over variable-length byte
    tokens -- value-identical to hashing.py_term_id on the decoded string.
    Loops over byte POSITION (max token length iterations), never over
    tokens."""
    n = starts.size
    h = np.full(n, _FNV_OFFSET_U64, dtype=np.uint64)
    if n == 0:
        return h.astype(np.int64)
    maxlen = int(lens.max())
    with np.errstate(over="ignore"):
        for p in range(maxlen):
            live = lens > p
            bp = arr[starts[live] + p].astype(np.uint64)
            h[live] = (h[live] ^ bp) * _FNV_PRIME_U64
        z = h + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z & np.uint64((1 << 63) - 1)).astype(np.int64)


def _bigram_ids(h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """Bigram term id from the two member tokens' term ids (vectorized mix +
    splitmix finalize). Pure build-internal identity: queries resolve bigram
    terms by STRING through term_stats, so no string-hash parity is needed."""
    with np.errstate(over="ignore"):
        z = (h1.astype(np.uint64) * _FNV_PRIME_U64) ^ h2.astype(np.uint64)
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z & np.uint64((1 << 63) - 1)).astype(np.int64)


def _group_terms(
    b: pd.DataFrame,
    tok_doc: np.ndarray,
    tids: np.ndarray,
    pos: np.ndarray,
    dl: np.ndarray,
    text_of,
    term_strings: dict[int, str],
    bigrams: bool,
) -> dict[str, np.ndarray]:
    """The tail both tokenizer paths share, over the batch's tokens in
    document order (token i: doc row ``tok_doc[i]``, term id ``tids[i]``,
    position ``pos[i]``, text ``text_of(i)``; ``dl`` per doc row).

    Registers each new term id's string in ``term_strings``. With
    ``bigrams``, adds one bigram entry per consecutive token pair of a doc
    (SURVEY.md X3): positioned at the first word, term string "t1 t2", id
    mixed from the member ids (_bigram_ids); the entries join the unigram
    stream before grouping, so tf/positions aggregate the same way and dl
    stays the unigram count. Then groups by (doc, term) in position order.

    Returns doc_id/tid/tf/dl arrays, one entry per (doc, term) group, and
    the sorted flat positions ``pos_flat`` (group i owns the next tf[i])."""
    uniq, first_idx = np.unique(tids, return_index=True)
    for u, fi in zip(uniq.tolist(), first_idx.tolist()):
        if u not in term_strings:
            term_strings[u] = text_of(fi)
    g_doc, g_tid, g_pos = tok_doc, tids, pos
    bi_idx = (
        np.flatnonzero(tok_doc[1:] == tok_doc[:-1])
        if bigrams else np.empty(0, np.int64)
    )
    if bi_idx.size:
        bh = _bigram_ids(tids[bi_idx], tids[bi_idx + 1])
        ub, fb = np.unique(bh, return_index=True)
        for u, fi in zip(ub.tolist(), fb.tolist()):
            if u not in term_strings:
                i = bi_idx[fi]
                term_strings[u] = f"{text_of(i)} {text_of(i + 1)}"
        g_doc = np.concatenate([tok_doc, tok_doc[bi_idx]])
        g_tid = np.concatenate([tids, bh])
        g_pos = np.concatenate([pos, pos[bi_idx]])
    order = np.lexsort((g_pos, g_tid, g_doc))
    d_s, t_s, p_s = g_doc[order], g_tid[order], g_pos[order]
    new_group = np.empty(d_s.size, dtype=bool)
    new_group[0] = True
    new_group[1:] = (d_s[1:] != d_s[:-1]) | (t_s[1:] != t_s[:-1])
    g_starts = np.flatnonzero(new_group)
    return {
        "doc_id": b["doc_id"].to_numpy(dtype=np.int64)[d_s[g_starts]],
        "tid": t_s[g_starts],
        "tf": np.diff(np.append(g_starts, d_s.size)).astype(np.int64),
        "dl": dl[d_s[g_starts]].astype(np.int64),
        "pos_flat": p_s,
    }


def _tokenize_batch_fast(
    b: pd.DataFrame, term_strings: dict[int, str], bigrams: bool = False
):
    """ASCII-mode byte-level tokenizer: one str.lower + one utf-8 encode per
    DOC, then pure numpy (byte-class mask -> run boundaries -> vectorized
    FNV term ids). No per-token Python objects -- measured ~3-4x less memory
    traffic than the regex path, which matters because 32 concurrent workers
    saturate DRAM bandwidth before they saturate cores.

    Token boundaries are EXACTLY the regex [a-z0-9_]+ boundaries: non-ASCII
    characters encode to bytes >= 0x80, which are non-token bytes, just as
    the characters themselves are outside [a-z0-9_].

    Returns _group_terms' arrays, or None for a batch without tokens.
    """
    if len(b) == 0:
        return None
    enc = b["text"].fillna("").str.lower().str.encode("utf-8")
    byte_list = enc.tolist()
    doc_blens = np.fromiter((len(x) for x in byte_list), np.int64, len(b))
    joined = b"\x00".join(byte_list)
    arr = np.frombuffer(joined, dtype=np.uint8)
    if arr.size == 0:
        return None
    # doc byte-span starts (each doc occupies [off, off+blen))
    doc_offsets = np.cumsum(doc_blens + 1) - (doc_blens + 1)
    mask = _TOKEN_BYTE[arr]
    m8 = mask.astype(np.int8)
    d = np.diff(m8)
    tok_starts = np.flatnonzero(d == 1) + 1
    tok_ends = np.flatnonzero(d == -1) + 1
    if mask[0]:
        tok_starts = np.concatenate(([0], tok_starts))
    if mask[-1]:
        tok_ends = np.concatenate((tok_ends, [arr.size]))
    if tok_starts.size == 0:
        return None
    tok_lens = tok_ends - tok_starts
    tok_doc = np.searchsorted(doc_offsets, tok_starts, side="right") - 1
    # token ordinal within doc
    first_tok_of_doc = np.searchsorted(tok_doc, np.arange(len(b)), side="left")
    pos = np.arange(tok_doc.size, dtype=np.int64) - first_tok_of_doc[tok_doc]
    dl = np.bincount(tok_doc, minlength=len(b))
    return _group_terms(
        b, tok_doc, _fnv_hash_tokens(arr, tok_starts, tok_lens), pos, dl,
        lambda i: arr[tok_starts[i]: tok_ends[i]].tobytes().decode("utf-8"),
        term_strings, bigrams,
    )


def _tokenize_batch(
    b: pd.DataFrame,
    pattern,
    term_strings: dict[int, str],
    bigrams: bool = False,
):
    """Regex-path tokenizer (``pattern`` from tokenizer._pattern): the
    reference the byte path is checked against, and the path of the rows
    holding a non-ASCII character in unicode mode. Term ids come from
    py_term_ids (value-identical to the byte path's vectorized FNV).
    Returns _group_terms' arrays, or None for a batch without tokens."""
    if len(b) == 0:
        return None
    lowered = b["text"].fillna("").str.lower()
    token_lists = lowered.str.findall(pattern).to_numpy()
    # value-compare, NOT `is`: the compiled pattern crosses the
    # driver->executor pickle boundary and only aliases the module-level
    # object while re's pattern cache happens to hold it
    if pattern.pattern == _UNICODE_RE.pattern:
        token_lists = expand_cjk_in_lists(lowered, token_lists)
    lens = np.fromiter((len(t) for t in token_lists), np.int64, len(b))
    if not (lens > 0).any():
        return None
    flat = np.concatenate([t for t in token_lists if t])
    tok_doc = np.repeat(np.arange(len(b)), lens)
    starts = np.cumsum(lens) - lens
    pos = np.arange(flat.size, dtype=np.int64) - np.repeat(starts, lens)
    codes, uniques = pd.factorize(pd.Series(flat), sort=False)
    tids = py_term_ids(np.asarray(uniques, dtype=object))[codes]
    return _group_terms(
        b, tok_doc, tids, pos, lens, lambda i: str(flat[i]), term_strings,
        bigrams,
    )


def _tokenize(
    b: pd.DataFrame, mode: str, term_strings: dict[int, str], bigrams: bool
):
    """One batch -> _group_terms' arrays, or None: the build tokenizer of
    the combiner and of tokenize_docs. ascii mode takes the byte path.
    unicode mode takes it for the PURE-ASCII rows too (pure-ASCII lowered
    text tokenizes identically under \\w+ and [a-z0-9_]+); only rows
    holding a non-ASCII character take the regex path. Real transcript
    corpora are mostly ASCII, so the default mode keeps most of the
    byte-level speed."""
    if mode == "ascii":
        return _tokenize_batch_fast(b, term_strings, bigrams)
    is_ascii = b["text"].fillna("").map(str.isascii).to_numpy()
    parts = [
        tk
        for tk in (
            _tokenize_batch_fast(b[is_ascii], term_strings, bigrams),
            _tokenize_batch(b[~is_ascii], _pattern(mode), term_strings, bigrams),
        )
        if tk is not None
    ]
    if not parts:
        return None
    return {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}


def tokenize_docs(
    docs: DataFrame, mode: str = "unicode", bigrams: bool = False
) -> DataFrame:
    """(doc_id, text, ...) -> (doc_id, term, term_id, tf, positions, dl)
    tuples; ``term_id`` is the build tokenizer's id, so a bigram's is its
    member-id mix (_bigram_ids) and an update gives a NEW term the id a
    rebuild would.

    The "metaList" (reference `XmlDoc.cpp:12322` getMetaList) as a
    DataFrame. Used for term-stats deltas and tests; the BUILD path uses the
    fused combiner (build_postings) instead of materializing these rows.

    ``bigrams`` additionally emits the 2-word phrase terms ("t1 t2",
    positioned at the first word; SURVEY.md X3) so stats deltas on a
    bigram-enabled index stay exact (operators/updates.py).
    """
    src = docs.select("doc_id", "text")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        term_strings: dict[int, str] = {}
        for rb in batches:
            tk = _tokenize(rb.to_pandas(), mode, term_strings, bigrams)
            if tk is None:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(tk["doc_id"], pa.int64()),
                    pa.array(
                        [term_strings[t] for t in tk["tid"].tolist()],
                        pa.string(),
                    ),
                    pa.array(tk["tid"], pa.int64()),
                    pa.array(tk["tf"], pa.int32()),
                    codec.doc_positions(tk["tf"], tk["pos_flat"]),
                    pa.array(tk["dl"], pa.int32()),
                ],
                names=TOKENS_SCHEMA.fieldNames(),
            )

    return src.mapInArrow(run, schema=TOKENS_SCHEMA)


def doc_length_col(mode: str = "unicode"):
    """Vectorized pandas UDF computing dl (token count) of a text column."""
    pattern = _pattern(mode)

    @F.pandas_udf(T.IntegerType())
    def _dl(texts: pd.Series) -> pd.Series:
        filled = texts.fillna("")
        counts = filled.str.lower().str.count(pattern.pattern).astype("int32")
        if mode == "unicode":
            # CJK runs expand to char bigrams (tokenizer contract); only
            # the rows that contain CJK pay the python path
            cjk = filled.str.contains(_HAS_CJK_RE).to_numpy()
            if cjk.any():
                import numpy as _np

                idx = _np.flatnonzero(cjk)
                # explicit int32: a bare list assigns as int64 and pandas
                # deprecates (soon errors on) the implicit downcast
                counts.iloc[idx] = _np.array(
                    [len(tokenize(filled.iloc[i], mode)) for i in idx],
                    dtype="int32",
                )
        return counts

    return _dl


# --------------------------------------------------------------------------
# grouped block encoder (shared: partial encode, merge, compaction)
# --------------------------------------------------------------------------

def _encode_grouped(
    tid: np.ndarray,
    bid: np.ndarray,
    sbits: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: pa.ListArray | None,
    term_at,
) -> pa.RecordBatch:
    """Postings sorted by (tid, sbits, bid, doc_id) -> one POSTINGS row per
    (tid, sbits, bid) group (the sorted-dump analog, `RdbDump.cpp:251`).

    All reductions are reduceat; the list columns are one offsets array
    over the flat values (codec.encode_blocks). ``positions`` holds one
    list per posting; ``term_at(gs)`` returns the term strings of the
    groups starting at posting indices ``gs``."""
    n = tid.size
    new_grp = np.empty(n, dtype=bool)
    new_grp[0] = True
    new_grp[1:] = (
        (tid[1:] != tid[:-1]) | (bid[1:] != bid[:-1]) | (sbits[1:] != sbits[:-1])
    )
    gs = np.flatnonzero(new_grp)
    ge = np.append(gs[1:], n)
    cols = {
        "term_id": pa.array(tid[gs], pa.int64()),
        "term": term_at(gs),
        "block_id": pa.array(bid[gs], pa.int64()),
        "salt_bits": pa.array(sbits[gs], pa.int32()),
        "n_docs": pa.array(ge - gs, pa.int32()),
        "first_doc_id": pa.array(doc_ids[gs], pa.int64()),
        "last_doc_id": pa.array(doc_ids[ge - 1], pa.int64()),
        "block_max_tf": pa.array(np.maximum.reduceat(tfs, gs), pa.int32()),
        "block_min_dl": pa.array(np.minimum.reduceat(dls, gs), pa.int32()),
        "sum_tf": pa.array(np.add.reduceat(tfs, gs), pa.int64()),
        **codec.encode_blocks(gs, doc_ids, tfs, dls, positions),
    }
    return pa.RecordBatch.from_arrays(
        [cols[c] for c in _POSTING_COLS], names=_POSTING_COLS
    )


# --------------------------------------------------------------------------
# stage 1: fused tokenize + partial encode (the map-side combiner)
# --------------------------------------------------------------------------

def _partial_encoder(
    mode: str,
    store_positions: bool,
    n_map_partitions: int,
    target_reduce_docs: int = 8192,
    bigrams: bool = False,
):
    """ADAPTIVE per-term salting (the df-aware analog of the reference's
    rarest/commonest split decisions and the north rule's salted
    repartitioning): a term's shuffle key is (term_id, salt) where salt =
    top k bits of the doc hash, and k is picked per term from its estimated
    global df (local count x partition count):

      tail term  (df <~ target) -> k=0: ONE partial row per (partition,
                  term) -- no singleton explosion from over-splitting
      heavy term (stopword)     -> k ~ log2(df / target): splits into
                  bounded ~target-doc reduce groups -- no skewed reducer

    The reduce group (term_id, k, salt) becomes exactly ONE final posting
    block -- blocks are df-proportional, so the table is never metadata-
    dominated (the globally-aligned-block design produced 3-doc rows for
    the zipf tail). Partitions near an estimate boundary may pick k+-1 for
    the same term; those rows stay separate blocks (ranges at different
    granularity must not merge), which the multi-row contract permits.
    """
    max_kbits = 40

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        term_strings: dict[int, str] = {}
        parts = []
        for rb in batches:
            tk = _tokenize(rb.to_pandas(), mode, term_strings, bigrams)
            if tk is not None:
                if not store_positions:
                    del tk["pos_flat"]
                parts.append(tk)
        if not parts:
            return
        doc_ids, tid, tfs, dls = (
            np.concatenate([p[k] for p in parts])
            for k in ("doc_id", "tid", "tf", "dl")
        )
        positions = (
            codec.doc_positions(
                tfs, np.concatenate([p["pos_flat"] for p in parts])
            )
            if store_positions
            else None
        )
        # adaptive split bits per term from estimated global df
        uniq_tids, inv, local_df = np.unique(
            tid, return_inverse=True, return_counts=True
        )
        est_df = local_df.astype(np.float64) * float(n_map_partitions)
        kbits_u = np.clip(
            np.ceil(np.log2(np.maximum(est_df / target_reduce_docs, 1.0))),
            0,
            max_kbits,
        ).astype(np.int64)
        h63 = py_block_ids(doc_ids)
        sbits = kbits_u[inv]
        salt = h63 >> (np.int64(63) - sbits)
        perm = np.lexsort((doc_ids, salt, sbits, tid))
        if positions is not None:
            positions = positions.take(pa.array(perm))
        tid, salt, sbits = tid[perm], salt[perm], sbits[perm]
        doc_ids, tfs, dls = doc_ids[perm], tfs[perm], dls[perm]
        out = _encode_grouped(
            tid, salt, sbits, doc_ids, tfs, dls, positions,
            lambda gs: pa.array(
                [term_strings[t] for t in tid[gs].tolist()], pa.string()
            ),
        )
        # chunk the yield so Arrow batches stay bounded
        for i in range(0, out.num_rows, 8192):
            yield out.slice(i, 8192)

    return run


# --------------------------------------------------------------------------
# stage 2: vectorized k-way merge of partial blocks -> final blocks
# --------------------------------------------------------------------------

def _tombstoned(
    batch: pa.RecordBatch, row_idx: np.ndarray, doc_ids: np.ndarray
) -> np.ndarray:
    """Mask of the postings whose doc is in their row's ``tombs`` list with
    the row's seg_seq <= upto_seq (annihilation stays row-local)."""
    tombs = batch.column("tombs")
    n_t = pc.fill_null(pc.list_value_length(tombs), 0).to_numpy(
        zero_copy_only=False
    )
    if not n_t.any():
        return np.zeros(doc_ids.size, dtype=bool)
    entries = tombs.flatten()
    t_doc = entries.field("doc_id").to_numpy(zero_copy_only=False)
    t_upto = entries.field("upto_seq").to_numpy(zero_copy_only=False)
    t_row = np.repeat(np.arange(batch.num_rows), n_t)
    segs = batch.column("seg_seq").to_numpy(zero_copy_only=False)
    live = t_upto >= segs[t_row]
    dead = pd.MultiIndex.from_arrays([t_row[live], t_doc[live]])
    return pd.MultiIndex.from_arrays([row_idx, doc_ids]).isin(dead)


def _merge_stream_factory(store_positions: bool, packed_tombs: bool = False):
    """Streaming merge over rows sorted by (term_id, salt_bits, block_id
    [, seg_seq]): each group's partial rows (one per map partition /
    segment) merge into ONE posting block row. Partial and stored blocks
    share POSTINGS_SCHEMA, so this reads build partials, delta segments
    and compaction input alike.

    ``packed_tombs``: rows carry a ``tombs`` column
    (array<struct<doc_id, upto_seq>> | null) holding exactly THEIR block's
    tombstones, shipped by the distributed (salt_bits, block_id) join in
    resumable.route_tombstones -- a posting dies iff its doc is in the
    row's tomb list with seg_seq <= upto_seq. No global
    tombstone state exists anywhere in the stream.
    """

    def merge_groups(batch: pa.RecordBatch) -> pa.RecordBatch | None:
        doc_ids, tfs, dls, positions, counts = codec.decode_blocks(
            batch, store_positions
        )
        row_idx = np.repeat(np.arange(batch.num_rows), counts)

        def per_posting(name: str) -> np.ndarray:
            return batch.column(name).to_numpy(zero_copy_only=False)[row_idx]

        tid = per_posting("term_id")
        bid = per_posting("block_id")
        sbits = per_posting("salt_bits").astype(np.int64)
        if packed_tombs:
            keep = ~_tombstoned(batch, row_idx, doc_ids)
            if not keep.all():
                if positions is not None:
                    positions = positions.filter(pa.array(keep))
                doc_ids, tfs, dls = doc_ids[keep], tfs[keep], dls[keep]
                tid, bid, sbits, row_idx = (
                    tid[keep], bid[keep], sbits[keep], row_idx[keep]
                )
            if doc_ids.size == 0:
                return None
        perm = np.lexsort((doc_ids, bid, sbits, tid))
        if positions is not None:
            positions = positions.take(pa.array(perm))
        tid, bid, sbits = tid[perm], bid[perm], sbits[perm]
        doc_s, tfs_s, dls_s = doc_ids[perm], tfs[perm], dls[perm]
        dup = (
            (tid[1:] == tid[:-1]) & (bid[1:] == bid[:-1])
            & (sbits[1:] == sbits[:-1]) & (doc_s[1:] == doc_s[:-1])
        )
        if dup.any():
            raise ValueError(
                "duplicate (term, doc) posting survived merge -- tombstones "
                "must cover every prior version of an upserted doc"
            )
        src_row = row_idx[perm]
        terms = batch.column("term")
        return _encode_grouped(
            tid, bid, sbits, doc_s, tfs_s, dls_s, positions,
            lambda gs: terms.take(pa.array(src_row[gs])),
        )

    def stream(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        carry: pa.RecordBatch | None = None
        for b in batches:
            if carry is not None and carry.num_rows:
                both = pa.Table.from_batches([carry, b]).combine_chunks()
                b = both.to_batches()[0]
            if b.num_rows == 0:
                continue
            tid = b.column("term_id").to_numpy()
            bid = b.column("block_id").to_numpy()
            sb = b.column("salt_bits").to_numpy()
            last_mask = (
                (tid == tid[-1]) & (bid == bid[-1]) & (sb == sb[-1])
            )
            cut = int(b.num_rows - last_mask.sum())
            carry = b.slice(cut)
            if cut:
                out = merge_groups(b.slice(0, cut))
                if out is not None and out.num_rows:
                    yield out
        if carry is not None and carry.num_rows:
            out = merge_groups(carry)
            if out is not None and out.num_rows:
                yield out

    return stream


def build_postings(
    docs: DataFrame,
    target_reduce_docs: int = 8192,
    tokenizer_mode: str = "unicode",
    store_positions: bool = True,
    bigrams: bool = False,
) -> DataFrame:
    """documents -> posting blocks. Two Python stages, one shuffle of
    COMPRESSED partial blocks (the Msg4 metalist routing, `Msg4Out.cpp`,
    with the memtable-style partial aggregation done map-side)."""
    src = docs.select("doc_id", "text")
    # the combiner accumulates a whole partition in Python memory and is the
    # dominant compute stage: keep partitions numerous enough to (a) use
    # every core and (b) bound per-partition memory
    try:
        par = docs.sparkSession.sparkContext.defaultParallelism
    except Exception:
        par = 8
    n_map = max(1, src.rdd.getNumPartitions())
    if n_map < par * 2:
        n_map = par * 2
        src = src.repartition(n_map)
    partial = src.mapInArrow(
        _partial_encoder(
            tokenizer_mode, store_positions, n_map, target_reduce_docs, bigrams
        ),
        schema=POSTINGS_SCHEMA,
    )
    merged = (
        partial.repartition(F.col("term_id"), F.col("salt_bits"), F.col("block_id"))
        .sortWithinPartitions("term_id", "salt_bits", "block_id")
        .mapInArrow(
            _merge_stream_factory(store_positions),
            schema=POSTINGS_SCHEMA,
        )
    )
    return merged


def term_stats_from_postings(postings: DataFrame) -> DataFrame:
    """Exact per-term document frequency from the postings table itself
    (blocks partition a term's docs, so df = sum of block n_docs). Replaces
    the reference's RdbMap page-count df ESTIMATE (`Posdb.cpp:301-353`
    getTermFreq; SURVEY.md A3) with exact counts."""
    return postings.groupBy("term_id").agg(
        F.first("term").alias("term"),
        F.sum("n_docs").cast("long").alias("df"),
        F.sum("sum_tf").cast("long").alias("cf"),
        # per-term block granularity profile: lets the query planner pick
        # the WAND grouping granularity WITHOUT an extra metadata job.
        # min_salt_bits bounds the COARSEST block of the term: WAND clamps
        # its grouping granularity so no single block fans out more than
        # 2^MAX_GROUP_SPLIT groups (wand.pick_granularity)
        F.max("salt_bits").cast("int").alias("max_salt_bits"),
        F.min("salt_bits").cast("int").alias("min_salt_bits"),
    )


# --------------------------------------------------------------------------
# the index writer: load documents -> segment(s) -> finish
# --------------------------------------------------------------------------

#: the one corpus_stats schema (write_corpus_stats); n_terms and n_blocks
#: are the row counts of term_stats and postings when it was written
CORPUS_STATS_SCHEMA = (
    "n_docs long, avgdl double, n_terms long, n_blocks long,"
    " store_positions boolean"
)
TOMBSTONES_SCHEMA = "doc_id long, upto_seq long"


def load_documents(
    spark: SparkSession,
    catalog: Catalog,
    docs: DataFrame,
    mode: str,
    kept: DataFrame | None = None,
) -> tuple[DataFrame, int, float]:
    """Write the documents table: ``docs`` (doc_id, text, ...) gain their
    ``dl`` column and follow ``kept`` (rows that already carry dl: the
    untouched docs of an update, none of them with a doc_id of ``docs``)
    when given. One collect then sums the corpus stats over the written
    table and audits doc_id collisions (SURVEY.md §7.3) over the rows
    that can collide: the whole table for a fresh load, only the new rows
    for an update (the kept rows were audited when first written).
    Returns (the documents as written, n_docs, avgdl)."""
    # small inputs (few parquet splits) must not serialize the map stages:
    # fan out to at least the cluster's parallelism before the heavy UDFs.
    # An update's few new rows join the kept rows' partitions instead:
    # fanning them out would only split the table into more files
    par = spark.sparkContext.defaultParallelism
    if kept is None and docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par * 2)
    docs = new = docs.withColumn("dl", doc_length_col(mode)(F.col("text")))
    if kept is not None:
        docs = kept.unionByName(docs)
    catalog.write_table(docs, "documents")
    docs = catalog.read_table("documents")
    audited = docs if kept is None else new
    # avgdl = exact integer sum / count, NOT F.avg: double summation order
    # varies with partitioning, and rank identity needs bit-stable avgdl
    stats_row = docs.agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("dl").alias("sum_dl")
    ).crossJoin(
        audited.agg(
            (F.count(F.lit(1)) - F.countDistinct("doc_id")).alias("dups")
        )
    ).collect()[0]
    if stats_row["dups"]:
        raise ValueError("doc_id collision detected; rehash with a salt")
    n_docs = int(stats_row["n_rows"])
    avgdl = (int(stats_row["sum_dl"] or 0) / n_docs) if n_docs else 0.0
    return docs, n_docs, avgdl


def without_skip_terms(frame: DataFrame, skip_terms) -> DataFrame:
    """X7 common-word skip (`XmlDoc_Indexing.cpp:1961-2022`): drop the rows
    whose ``term`` is a skip word -- from a posting segment and from an
    update's term_stats delta alike. dl already counts the skip words;
    bigram terms containing one survive on purpose -- that is what phrase
    search needs them for."""
    if not skip_terms:
        return frame
    return frame.filter(~F.col("term").isin(list(skip_terms)))


def segment(docs: DataFrame, config: IndexConfig, seg_seq: int) -> DataFrame:
    """One posting segment of ``docs`` (build_postings under ``config``,
    without the skip words' termlists), tagged ``seg_seq``: 0 for a full
    build, the next sequence for an update's delta."""
    postings = build_postings(
        docs,
        config.target_reduce_docs,
        config.tokenizer_mode,
        config.store_positions,
        config.bigrams,
    )
    return without_skip_terms(postings, config.skip_terms).withColumn(
        "seg_seq", F.lit(seg_seq).cast("long")
    )


def write_corpus_stats(
    spark: SparkSession,
    catalog: Catalog,
    n_docs: int,
    avgdl: float,
    store_positions: bool,
) -> tuple[int, int]:
    """Write corpus_stats over the current term_stats and postings tables.
    Returns (n_terms, n_blocks)."""
    n_terms = catalog.read_table("term_stats").count()
    n_blocks = catalog.read_table("postings").count()
    catalog.write_table(
        _local_frame(
            spark,
            CORPUS_STATS_SCHEMA,
            [(n_docs, avgdl, n_terms, n_blocks, bool(store_positions))],
        ),
        "corpus_stats",
    )
    return n_terms, n_blocks


def stored_positions(catalog: Catalog) -> bool:
    """The index's store_positions flag, as its build recorded it."""
    return bool(catalog.read_table("corpus_stats").first()["store_positions"])


def reset_update_state(spark: SparkSession, catalog: Catalog) -> None:
    """Clear tombstones and reset the segment sequence to 0
    (operators/updates.py): every prior version is physically gone."""
    catalog.write_table(_local_frame(spark, TOMBSTONES_SCHEMA), "tombstones")
    catalog.write_table(
        _local_frame(spark, "max_seg long", [(0,)]), "index_meta"
    )


def finish_index(
    spark: SparkSession,
    catalog: Catalog,
    corpus: tuple[int, float, bool],
    hot: tuple[int, int, BM25Params] | None,
) -> tuple[int, int]:
    """The last step of every full rewrite of the postings table
    (build_index, resumable_build, compact_updates):

    * term_stats from the postings (term_stats_from_postings);
    * corpus_stats from ``corpus`` = (n_docs, avgdl, store_positions), with
      n_terms and n_blocks recounted over the rewritten tables;
    * the update state reset: doc_ids are deterministic, so a rebuild into
      a previously-updated catalog would otherwise inherit tombstones that
      annihilate the rebuilt docs' seg-0 postings;
    * the hot-term cache (operators/hot_cache.py), when ``hot`` =
      (min_df, cache_k, params) is given. A cache left by an earlier build
      is never served: it names the postings snapshot it was built from.

    term_stats is sorted by term within each file, so the row-group
    statistics of a multi-row-group file bound the driver's dictionary
    lookups (SearchEngine._snapshot_rows).

    Returns (n_terms, n_blocks)."""
    catalog.write_table(
        term_stats_from_postings(catalog.read_table("postings"))
        .sortWithinPartitions("term"),
        "term_stats",
    )
    counts = write_corpus_stats(spark, catalog, *corpus)
    if catalog.table_exists("tombstones") or catalog.table_exists("index_meta"):
        reset_update_state(spark, catalog)
    if hot:
        from .hot_cache import build_hot_term_cache

        build_hot_term_cache(spark, catalog, *hot)
    return counts


def hot_cache_spec(
    config: IndexConfig, n_docs: int
) -> tuple[int, int, BM25Params] | None:
    """finish_index's ``hot`` for a build under ``config``."""
    if not config.hot_cache_k:
        return None
    min_df = max(2, int(n_docs * config.hot_cache_min_df_frac))
    return min_df, config.hot_cache_k, config.bm25


def build_index(
    spark: SparkSession,
    catalog: Catalog,
    docs: DataFrame,
    config: IndexConfig | None = None,
) -> BuildResult:
    """Full index build: documents + postings + term_stats + corpus_stats.

    ``docs`` must have (doc_id long, text string, ...); use
    transcripts_to_docs for the transcript input shape.
    """
    config = config or IndexConfig()
    t0 = time.time()
    docs, n_docs, avgdl = load_documents(
        spark, catalog, docs, config.tokenizer_mode
    )
    catalog.write_table(segment(docs, config, 0), "postings")
    n_terms, n_blocks = finish_index(
        spark, catalog, (n_docs, avgdl, config.store_positions),
        hot_cache_spec(config, n_docs),
    )
    return BuildResult(
        n_docs=n_docs,
        avgdl=avgdl,
        n_terms=n_terms,
        n_blocks=n_blocks,
        elapsed_sec=time.time() - t0,
    )

