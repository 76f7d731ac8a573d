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
    pick_block_bits,
    py_block_ids,
    py_term_id,
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
    target_block_docs: int = 128
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
    block_bits: int
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

    Returns (doc_id, tid, tf, dl, pos_flat) per (doc, term) group and
    updates ``term_strings`` (term_id -> term) with this batch's uniques.
    """
    if len(b) == 0:
        return None
    doc_ids_in = b["doc_id"].to_numpy(dtype=np.int64)
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
    dl = np.bincount(tok_doc, minlength=len(b)).astype(np.int64)
    tids_tok = _fnv_hash_tokens(arr, tok_starts, tok_lens)
    # register unique term strings (few per batch) for the output dictionary
    uniq, first_idx = np.unique(tids_tok, return_index=True)
    for u, fi in zip(uniq.tolist(), first_idx.tolist()):
        if u not in term_strings:
            term_strings[u] = (
                arr[tok_starts[fi]: tok_ends[fi]].tobytes().decode("utf-8")
            )
    g_doc, g_tid, g_pos = tok_doc, tids_tok, pos
    if bigrams and tok_doc.size > 1:
        # bigram "terms" (SURVEY.md X3): one entry per consecutive token
        # pair within a doc, positioned at the FIRST word; term string
        # "t1 t2" registered for the dictionary. The bigram entries join the
        # unigram stream before grouping, so tf/positions aggregate the
        # same way; dl stays the unigram count.
        adj = tok_doc[1:] == tok_doc[:-1]
        bi_idx = np.flatnonzero(adj)
        if bi_idx.size:
            bh = _bigram_ids(tids_tok[bi_idx], tids_tok[bi_idx + 1])
            ub, fb = np.unique(bh, return_index=True)
            for u, fi in zip(ub.tolist(), fb.tolist()):
                if u not in term_strings:
                    i = bi_idx[fi]
                    term_strings[u] = (
                        arr[tok_starts[i]: tok_ends[i]].tobytes().decode("utf-8")
                        + " "
                        + arr[tok_starts[i + 1]: tok_ends[i + 1]]
                        .tobytes()
                        .decode("utf-8")
                    )
            g_doc = np.concatenate([tok_doc, tok_doc[bi_idx]])
            g_tid = np.concatenate([tids_tok, bh])
            g_pos = np.concatenate([pos, pos[bi_idx]])
    # group by (doc, term_id); stable in position order
    order = np.lexsort((g_pos, g_tid, g_doc))
    d_s, t_s, p_s = g_doc[order], g_tid[order], g_pos[order]
    new_group = np.empty(d_s.size, dtype=bool)
    new_group[0] = True
    new_group[1:] = (d_s[1:] != d_s[:-1]) | (t_s[1:] != t_s[:-1])
    g_starts = np.flatnonzero(new_group)
    tf = np.diff(np.append(g_starts, d_s.size)).astype(np.int64)
    return {
        "doc_id": doc_ids_in[d_s[g_starts]],
        "tid": t_s[g_starts],
        "tf": tf,
        "dl": dl[d_s[g_starts]],
        "pos_flat": p_s,
    }

def py_any_term_id(term: str) -> int:
    """Term id for unigram OR bigram term strings. A bigram term is the
    space-joined member pair ("t1 t2" -- the tokenizer never emits spaces,
    so the space is unambiguous); its id mixes the member unigram ids
    exactly like the build combiner (_bigram_ids), so incremental updates
    assign NEW bigram terms the same id a full rebuild would."""
    if " " in term:
        a, b = term.split(" ", 1)
        ha = np.array([py_term_id(a)], dtype=np.int64)
        hb = np.array([py_term_id(b)], dtype=np.int64)
        return int(_bigram_ids(ha, hb)[0])
    return py_term_id(term)


def _tokenize_batch_with_bigrams(
    b: pd.DataFrame, pattern, term_strings: dict[int, str]
):
    """Regex-path tokenizer emitting unigram AND bigram entries (SURVEY.md
    X3) -- the unicode-mode counterpart of _tokenize_batch_fast(bigrams=
    True). Term ids come from py_term_ids (value-identical to the byte
    path's vectorized FNV), and bigram ids from the same member-id mix
    (_bigram_ids), so a bigram indexed through either path gets one id.
    Returns (doc_id, tid, tf, dl, pos_flat) arrays or None."""
    if len(b) == 0:
        return None
    doc_ids_in = b["doc_id"].to_numpy(dtype=np.int64)
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
    doc_rep = np.repeat(np.arange(len(b)), lens)
    starts = np.cumsum(lens) - lens
    pos = np.arange(flat.size, dtype=np.int64) - np.repeat(starts, lens)
    codes, uniques = pd.factorize(pd.Series(flat), sort=False)
    tids_u = py_term_ids(np.asarray(uniques, dtype=object))
    for u, t in zip(tids_u.tolist(), uniques):
        if u not in term_strings:
            term_strings[u] = t
    tid = tids_u[codes]
    g_doc, g_tid, g_pos = doc_rep, tid, pos
    adj = doc_rep[1:] == doc_rep[:-1]
    bi_idx = np.flatnonzero(adj)
    if bi_idx.size:
        bh = _bigram_ids(tid[bi_idx], tid[bi_idx + 1])
        ub, fb = np.unique(bh, return_index=True)
        for u, fi in zip(ub.tolist(), fb.tolist()):
            if u not in term_strings:
                i = bi_idx[fi]
                term_strings[u] = f"{flat[i]} {flat[i + 1]}"
        g_doc = np.concatenate([doc_rep, doc_rep[bi_idx]])
        g_tid = np.concatenate([tid, bh])
        g_pos = np.concatenate([pos, pos[bi_idx]])
    order = np.lexsort((g_pos, g_tid, g_doc))
    d_s, t_s, p_s = g_doc[order], g_tid[order], g_pos[order]
    new_group = np.empty(d_s.size, dtype=bool)
    new_group[0] = True
    new_group[1:] = (d_s[1:] != d_s[:-1]) | (t_s[1:] != t_s[:-1])
    g_starts = np.flatnonzero(new_group)
    tf = np.diff(np.append(g_starts, d_s.size)).astype(np.int64)
    return (
        doc_ids_in[d_s[g_starts]],
        t_s[g_starts],
        tf,
        lens[d_s[g_starts]].astype(np.int64),
        p_s,
    )


def _tokenize_batch(b: pd.DataFrame, pattern):
    """One Arrow batch -> per-(doc, term) numpy arrays.

    Returns None for empty batches, else a dict with doc_id/term(object)/
    tf/dl int arrays plus sorted flat positions (absolute token ordinals,
    group-aligned with tf)."""
    if len(b) == 0:
        return None
    doc_ids = b["doc_id"].to_numpy(dtype=np.int64)
    lowered = b["text"].fillna("").str.lower()
    token_lists = lowered.str.findall(pattern).to_numpy()
    # value-compare, NOT `is` (see _tokenize_batch_with_bigrams)
    if pattern.pattern == _UNICODE_RE.pattern:
        token_lists = expand_cjk_in_lists(lowered, token_lists)
    lens = np.fromiter((len(t) for t in token_lists), np.int64, len(b))
    if not (lens > 0).any():
        return None
    flat = np.concatenate([t for t in token_lists if t])
    doc_rep_idx = np.repeat(np.arange(len(b)), lens)
    starts = np.cumsum(lens) - lens
    pos = np.arange(flat.size, dtype=np.int64) - np.repeat(starts, lens)
    codes, uniques = pd.factorize(pd.Series(flat), sort=False)
    order = np.lexsort((pos, codes, doc_rep_idx))
    d_s, c_s, p_s = doc_rep_idx[order], codes[order], pos[order]
    new_group = np.empty(d_s.size, dtype=bool)
    new_group[0] = True
    new_group[1:] = (d_s[1:] != d_s[:-1]) | (c_s[1:] != c_s[:-1])
    g_starts = np.flatnonzero(new_group)
    tf = np.diff(np.append(g_starts, d_s.size)).astype(np.int64)
    return {
        "doc_id": doc_ids[d_s[g_starts]],
        "terms": np.asarray(uniques, dtype=object),
        "codes": c_s[g_starts],
        "tf": tf,
        "dl": lens[d_s[g_starts]].astype(np.int64),
        "pos_flat": p_s,  # aligned: group i owns pos_flat[cum tf]
    }


def tokenize_docs(
    docs: DataFrame, mode: str = "unicode", bigrams: bool = False
) -> DataFrame:
    """(doc_id, text, ...) -> (doc_id, term, tf, positions, dl) tuples.

    The "metaList" (reference `XmlDoc.cpp:12322` getMetaList) as a
    DataFrame. Used for term-stats deltas and tests; the BUILD path uses the
    fused combiner (build_postings) instead of materializing these rows.

    ``bigrams`` additionally emits the 2-word phrase terms ("t1 t2",
    positioned at the first word; SURVEY.md X3) so stats deltas on a
    bigram-enabled index stay exact (operators/updates.py).
    """
    pattern = _pattern(mode)
    src = docs.select("doc_id", "text")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            b = rb.to_pandas()
            if bigrams:
                term_strings: dict[int, str] = {}
                if mode == "ascii":
                    tk = _tokenize_batch_fast(b, term_strings, bigrams=True)
                    out = (
                        None
                        if tk is None
                        else (
                            tk["doc_id"], tk["tid"], tk["tf"], tk["dl"],
                            tk["pos_flat"],
                        )
                    )
                else:
                    out = _tokenize_batch_with_bigrams(
                        b, pattern, term_strings
                    )
                if out is None:
                    continue
                doc_id, tid, tf, dl, pos_flat = out
                terms = [term_strings[t] for t in tid.tolist()]
            else:
                tk = _tokenize_batch(b, pattern)
                if tk is None:
                    continue
                doc_id, tf, dl, pos_flat = (
                    tk["doc_id"], tk["tf"], tk["dl"], tk["pos_flat"]
                )
                terms = tk["terms"][tk["codes"]]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_id, pa.int64()),
                    pa.array(terms, pa.string()),
                    pa.array(tf, pa.int32()),
                    codec.doc_positions(tf, pos_flat),
                    pa.array(dl, pa.int32()),
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
    pattern = _pattern(mode)
    max_kbits = 40

    def tokenize_one(b: pd.DataFrame, term_strings: dict[int, str]):
        """One batch -> (doc_id, tid, tf, dl, pos_flat) arrays or None.

        unicode mode still fast-paths the PURE-ASCII rows of each batch
        (pure-ASCII lowered text tokenizes identically under \\w+ and
        [a-z0-9_]+); only rows containing non-ASCII characters take the
        regex path. Real transcript corpora are mostly ASCII, so the
        default mode keeps most of the byte-level speed."""
        if mode == "ascii":
            tk = _tokenize_batch_fast(b, term_strings, bigrams)
            return (
                None
                if tk is None
                else (tk["doc_id"], tk["tid"], tk["tf"], tk["dl"], tk["pos_flat"])
            )
        is_ascii = b["text"].fillna("").map(str.isascii).to_numpy()
        parts = []
        fa = b[is_ascii]
        if len(fa):
            tk = _tokenize_batch_fast(fa, term_strings, bigrams)
            if tk is not None:
                parts.append(
                    (tk["doc_id"], tk["tid"], tk["tf"], tk["dl"], tk["pos_flat"])
                )
        fu = b[~is_ascii]
        if len(fu):
            if bigrams:
                out = _tokenize_batch_with_bigrams(fu, pattern, term_strings)
                if out is not None:
                    parts.append(out)
            else:
                tk = _tokenize_batch(fu, pattern)
                if tk is not None:
                    tids_u = py_term_ids(tk["terms"])
                    for u, t in zip(tids_u.tolist(), tk["terms"]):
                        if u not in term_strings:
                            term_strings[u] = t
                    parts.append(
                        (
                            tk["doc_id"], tids_u[tk["codes"]], tk["tf"],
                            tk["dl"], tk["pos_flat"],
                        )
                    )
        if not parts:
            return None
        if len(parts) == 1:
            return parts[0]
        return tuple(
            np.concatenate([p[i] for p in parts]) for i in range(5)
        )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        term_strings: dict[int, str] = {}
        doc_l, tid_l, tf_l, dl_l, pos_l = [], [], [], [], []
        for rb in batches:
            out = tokenize_one(rb.to_pandas(), term_strings)
            if out is None:
                continue
            doc_b, tid_b, tf_b, dl_b, pos_b = out
            doc_l.append(doc_b)
            tid_l.append(tid_b)
            tf_l.append(tf_b)
            dl_l.append(dl_b)
            if store_positions:
                pos_l.append(pos_b)
        if not doc_l:
            return
        doc_ids = np.concatenate(doc_l)
        tid = np.concatenate(tid_l)
        tfs = np.concatenate(tf_l)
        dls = np.concatenate(dl_l)
        positions = (
            codec.doc_positions(tfs, np.concatenate(pos_l))
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
        h63 = py_block_ids(doc_ids, 0)  # full 63-bit doc hash
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
    batch: pa.RecordBatch, row_idx: np.ndarray, doc_ids: np.ndarray,
    has_seg: bool,
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
    segs = (
        batch.column("seg_seq").to_numpy(zero_copy_only=False)
        if has_seg
        else np.zeros(batch.num_rows, np.int64)
    )
    live = t_upto >= segs[t_row]
    dead = pd.MultiIndex.from_arrays([t_row[live], t_doc[live]])
    return pd.MultiIndex.from_arrays([row_idx, doc_ids]).isin(dead)


def _merge_stream_factory(
    store_positions: bool,
    has_seg: bool = False,
    packed_tombs: bool = False,
):
    """Streaming merge over rows sorted by (term_id, salt_bits, block_id
    [, seg_seq]): each group's partial rows (one per map partition /
    segment) merge into ONE posting block row. Partial and stored blocks
    share POSTINGS_SCHEMA, so this reads build partials, delta segments
    and compaction input alike.

    ``packed_tombs``: rows carry a ``tombs`` column
    (array<struct<doc_id, upto_seq>> | null) holding exactly THEIR block's
    tombstones, shipped by the distributed (salt_bits, block_id) join in
    resumable.route_tombstones -- a posting dies iff its doc is in the
    row's tomb list with seg_seq <= upto_seq (needs has_seg). No global
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
            keep = ~_tombstoned(batch, row_idx, doc_ids, has_seg)
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
        # 2^max_group_split groups (wand.pick_granularity)
        F.max("salt_bits").cast("int").alias("max_salt_bits"),
        F.min("salt_bits").cast("int").alias("min_salt_bits"),
    )


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

    # small inputs (few parquet splits) must not serialize the map stages:
    # fan out to at least the cluster's parallelism before the heavy UDFs
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par * 2)

    docs = docs.withColumn("dl", doc_length_col(config.tokenizer_mode)(F.col("text")))
    catalog.write_table(docs, "documents")
    docs = catalog.read_table("documents")

    # ONE job: doc_id collision audit (SURVEY.md §7.3) + corpus stats.
    # avgdl = exact integer sum / count, NOT F.avg: double summation order
    # varies with partitioning, and rank identity needs bit-stable avgdl
    stats_row = (
        docs.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("c"), F.first("dl").alias("dl"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("c")).alias("n_rows"),
            F.sum("dl").alias("sum_dl"),
        )
        .collect()[0]
    )
    n_docs = int(stats_row["n_docs"])
    if int(stats_row["n_rows"] or 0) != n_docs:
        raise ValueError("doc_id collision detected; rehash with a salt")
    avgdl = (int(stats_row["sum_dl"] or 0) / n_docs) if n_docs else 0.0
    block_bits = pick_block_bits(n_docs, config.target_block_docs)

    postings = build_postings(
        docs,
        config.target_reduce_docs,
        config.tokenizer_mode,
        config.store_positions,
        config.bigrams,
    )
    if config.skip_terms:
        # X7: drop the skip words' unigram termlists AFTER encoding stats
        # (dl already includes them); bigram terms containing a skip word
        # survive on purpose -- that is what phrase search needs them for
        skip_ids = [py_term_id(t) for t in config.skip_terms]
        postings = postings.filter(~F.col("term_id").isin(skip_ids))
    # seg_seq 0 = initial build; incremental updates append higher sequences
    catalog.write_table(
        postings.withColumn("seg_seq", F.lit(0).cast("long")), "postings"
    )

    postings = catalog.read_table("postings")
    catalog.write_table(term_stats_from_postings(postings), "term_stats")

    n_terms = catalog.read_table("term_stats").count()
    n_blocks = postings.count()
    corpus = _local_frame(
        spark,
        "n_docs long, avgdl double, block_bits int, n_terms long,"
        " n_blocks long, store_positions boolean",
        [(n_docs, avgdl, block_bits, n_terms, n_blocks,
          bool(config.store_positions))],
    )
    catalog.write_table(corpus, "corpus_stats")
    # a rebuild into a previously-updated catalog must not inherit stale
    # tombstones / a nonzero segment sequence: doc_ids are deterministic,
    # so an old tombstone would annihilate the rebuilt doc's seg-0
    # postings (the doc would exist but be unsearchable)
    if catalog.table_exists("tombstones") or catalog.table_exists("index_meta"):
        from .updates import reset_update_state

        reset_update_state(spark, catalog)
    if config.hot_cache_k:
        from .hot_cache import build_hot_term_cache

        build_hot_term_cache(
            spark,
            catalog,
            min_df=max(2, int(n_docs * config.hot_cache_min_df_frac)),
            cache_k=config.hot_cache_k,
            params=config.bm25,
            max_seg=0,
        )
    return BuildResult(
        n_docs=n_docs,
        avgdl=avgdl,
        n_terms=n_terms,
        n_blocks=n_blocks,
        block_bits=block_bits,
        elapsed_sec=time.time() - t0,
    )
