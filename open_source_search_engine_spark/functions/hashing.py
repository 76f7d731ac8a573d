"""Deterministic identifiers: doc_id and term_id.

Reference: docId = 38-bit hash of the URL with a domain-hash overlay
(`Titledb.h:8-11, 54-78`), termId = 48-bit positional XOR hash of the
lowercased token (`hash.h:126-182`, `termid_mask.h:4`). 38 bits cannot cover
10^12 turns, so we use 63-bit ids (SURVEY.md §7.3); exact hash-function parity
with the C++ is not required because rank identity is defined against our own
golden scorer (SURVEY.md §5.3).

doc_id is computed JVM-side (xxhash64 at ingest); term_id and block routing
are computed in PYTHON (the build combiner never round-trips token rows
through the JVM). Sign bits are masked so ids are non-negative 63-bit ints,
keeping prefix shifts well defined and the doc_id-asc tie-break a plain
numeric sort.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

SIGN_MASK = (1 << 63) - 1

_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = 0x100000001B3
_U64MASK = 0xFFFFFFFFFFFFFFFF


def py_term_id(term: str) -> int:
    """Deterministic 63-bit term id computed in PYTHON (FNV-1a 64 over UTF-8
    + splitmix finalize). The build pipeline runs tokenize + partial encode
    in one Python stage (no JVM hop for the raw token tuples), so term ids
    must be computable Python-side; every id consumer (postings, term_stats,
    query planning) derives from this one function. Parity with the JVM
    xxhash64 is NOT needed -- ids only need internal consistency
    (SURVEY.md X2: exact hash identity with the reference is also not
    required)."""
    h = _FNV_OFFSET
    for byte in term.encode("utf-8"):
        h = ((h ^ byte) * _FNV_PRIME) & _U64MASK
    # splitmix64 finalizer for avalanche
    h = (h + 0x9E3779B97F4A7C15) & _U64MASK
    h = ((h ^ (h >> 30)) * 0xBF58476D1CE4E5B9) & _U64MASK
    h = ((h ^ (h >> 27)) * 0x94D049BB133111EB) & _U64MASK
    h = h ^ (h >> 31)
    return h & SIGN_MASK


def py_term_ids(uniques) -> np.ndarray:
    """Vectorize py_term_id over the (small) unique-term set of a batch."""
    return np.fromiter((py_term_id(t) for t in uniques), np.int64, len(uniques))


def py_block_ids(doc_ids: np.ndarray) -> np.ndarray:
    """Block routing hash: splitmix64(doc_id), sign bit masked -- a 63-bit
    hash whose top ``salt_bits`` bits are a doc's block_id at that
    granularity (index_build._partial_encoder, resumable.route_tombstones).
    Hashing first keeps block populations uniform for ANY doc_id
    distribution; the same doc lands in the same block for every term.
    Vectorized uint64 arithmetic with intentional wraparound."""
    with np.errstate(over="ignore"):
        z = doc_ids.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z & np.uint64(SIGN_MASK)).astype(np.int64)


def doc_id_col(conv_id: Column, turn_idx: Column) -> Column:
    """63-bit deterministic doc id for a transcript turn.

    ``xxhash64(concat(conv_id, ':', turn_idx)) & SIGN_MASK``. Collision audit
    happens at build time (groupBy(doc_id).count() > 1 must be empty --
    SURVEY.md §7.3; reference precedent: probable-docid collision chain,
    `html/developer.html:1904-1908`).
    """
    return F.xxhash64(
        F.concat(conv_id.cast("string"), F.lit(":"), turn_idx.cast("string"))
    ).bitwiseAND(F.lit(SIGN_MASK))

