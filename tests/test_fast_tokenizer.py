"""Regression gate: the byte-level fast tokenizer is EXACTLY equivalent to
the regex path -- same (doc, term, tf, dl) groups, same positions, and term
ids identical to hashing.py_term_id -- on planted edge cases and random
inputs (hypothesis), with and without bigram terms (then also the same
registered term strings)."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from open_source_search_engine_spark.functions.hashing import py_term_id
from open_source_search_engine_spark.functions.tokenizer import _pattern
from open_source_search_engine_spark.operators.index_build import (
    _bigram_ids,
    _fnv_hash_tokens,
    _tokenize_batch,
    _tokenize_batch_fast,
)
from open_source_search_engine_spark.sources.transcripts import PLANTED


def _term_id(term):
    """A term string's id from hashing.py_term_id alone: a bigram ("t1
    t2") mixes its members' ids."""
    if " " not in term:
        return py_term_id(term)
    a, b = (np.array([py_term_id(w)], dtype=np.int64) for w in term.split(" "))
    return int(_bigram_ids(a, b)[0])


def _groups_slow(b):
    tk = _tokenize_batch(b, _pattern("ascii"), {})
    if tk is None:
        return None, None
    groups = sorted(
        zip(tk["doc_id"].tolist(), tk["tid"].tolist(), tk["tf"].tolist(), tk["dl"].tolist())
    )
    return groups, int(tk["pos_flat"].sum())


def _groups_fast(b):
    tk = _tokenize_batch_fast(b, {})
    if tk is None:
        return None, None
    groups = sorted(
        zip(tk["doc_id"].tolist(), tk["tid"].tolist(), tk["tf"].tolist(), tk["dl"].tolist())
    )
    return groups, int(tk["pos_flat"].sum())


def _bigram_groups(tokenize_batch, b):
    """(doc, term string, tf, dl, positions) per group, with bigrams, plus
    the batch's registered term strings."""
    ts: dict[int, str] = {}
    tk = tokenize_batch(b, ts)
    if tk is None:
        return None, ts
    ends = np.cumsum(tk["tf"])
    groups = sorted(
        (d, ts[t], f, dl, tuple(tk["pos_flat"][e - f: e].tolist()))
        for d, t, f, dl, e in zip(
            tk["doc_id"].tolist(), tk["tid"].tolist(), tk["tf"].tolist(),
            tk["dl"].tolist(), ends.tolist(),
        )
    )
    return groups, ts


def _assert_bigram_paths_agree(b):
    slow = _bigram_groups(
        lambda b, ts: _tokenize_batch(b, _pattern("ascii"), ts, bigrams=True), b
    )
    fast = _bigram_groups(
        lambda b, ts: _tokenize_batch_fast(b, ts, bigrams=True), b
    )
    assert slow == fast
    groups, ts = fast
    for tid, term in ts.items():
        assert _term_id(term) == tid
    for d, term, _f, _dl, _pos in groups or []:
        # every bigram term string is two registered unigram strings
        assert all(w in ts.values() for w in term.split(" "))


def _batch(texts):
    return pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
    )


def test_planted_edge_cases_equivalent():
    b = _batch(list(PLANTED) + ["MiXeD CaSe_And_1 23x", "__", "a" * 300])
    assert _groups_slow(b) == _groups_fast(b)


def test_planted_edge_cases_equivalent_with_bigrams():
    b = _batch(list(PLANTED) + ["MiXeD CaSe_And_1 23x", "__", "a" * 300])
    _assert_bigram_paths_agree(b)


def test_term_strings_registered():
    ts: dict[int, str] = {}
    _tokenize_batch_fast(_batch(["alpha beta alpha", "Gamma!"]), ts)
    assert set(ts.values()) == {"alpha", "beta", "gamma"}
    for tid, term in ts.items():
        assert py_term_id(term) == tid


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FFF),
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_random_unicode_equivalence(texts):
    b = _batch(texts)
    assert _groups_slow(b) == _groups_fast(b)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=1, max_codepoint=0x2FFF),
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_random_unicode_equivalence_with_bigrams(texts):
    _assert_bigram_paths_agree(_batch(texts))


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abz01_ .,-", max_size=120))
def test_fnv_matches_py_term_id_on_tokens(text):
    for tok in _pattern("ascii").findall(text.lower()):
        arr = np.frombuffer(tok.encode(), np.uint8)
        hv = int(
            _fnv_hash_tokens(arr, np.array([0]), np.array([len(arr)]))[0]
        )
        assert hv == py_term_id(tok)


class TestCjkPatternIdentity:
    def test_expansion_survives_fresh_compiled_pattern(self):
        # the executor receives the pattern via pickle; after re's pattern
        # cache churns, the unpickled object is EQUAL to the module-level
        # _UNICODE_RE but not identical -- expansion must still fire
        re.purge()
        fresh = re.compile(r"\w+", re.UNICODE)
        from open_source_search_engine_spark.functions.tokenizer import (
            _UNICODE_RE,
        )

        assert fresh is not _UNICODE_RE  # precondition: distinct objects
        b = pd.DataFrame({"doc_id": [1], "text": ["世界和平"]})
        out = _tokenize_batch(b, fresh, {})
        # with expansion: 3 overlapping char bigrams -> dl 3; without, the
        # whole run is one giant token -> dl 1
        assert out is not None
        assert int(out["dl"][0]) == 3
