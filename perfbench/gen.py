"""Seeded inputs of the benchmark: transcript corpus, query stream, update stream.

Everything is derived from one integer seed with numpy's PCG64, so the same
seed gives byte-identical inputs and the engine package's own synthetic
source (``sources/transcripts.py``) never feeds the benchmark.

The vocabulary is one fixed table for every seed, so corpora of different
seeds differ only in their draws and cost the engine about the same.

Corpus shape (BASELINE.json ``input_hint``): ``conv_id, turn_idx, role, text,
tool, ts`` plus a benchmark-assigned 63-bit ``doc_id`` (the identity
``build_index`` accepts; assigning it here keeps the oracle independent of
the engine's id hashing). Text is a Zipf draw over a pseudo-word vocabulary
with 30% of tokens drawn from a skewed stopword list, 3-60 tokens per turn,
a little capitalisation and punctuation, and a few planted edge-case turns,
two of which carry the rare term.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd

VOCAB_SIZE = 30_000
ZIPF_S = 1.0
STOPWORDS = ("the", "to", "and", "of", "a", "is", "in", "it")
STOPWORD_FRACTION = 0.30
MIN_TOKENS, MAX_TOKENS = 3, 60
TURNS_PER_CONV = 8
ROLES = np.array(["user", "assistant", "tool"])
TOOLS = np.array(["search", "python", "browser", "calculator", "editor"])
RARE_TERM = "qqrareterm"
#: never generated, so a query naming it must come back empty under AND
ABSENT_TERMS = ("zzabsenta", "zzabsentb", "zzabsentc")
#: edge cases of the ascii tokenizer ([a-z0-9_]+ over lower()), planted in
#: the first turns of every corpus
PLANTED = (
    "Café Müller visited 東京 with naïve zeal",
    "Bob's CD-ROM and alice's X-ray",
    "to be or not to be",
    "hello \U0001f600 world emoticons",
    "1,000 items cost 1.8 dollars",
    "single",
    "repeat repeat repeat repeat repeat",
    "",
    "the the the the the the the the",
    f"{RARE_TERM} appears exactly here once",
    f"and {RARE_TERM.upper()} twice, {RARE_TERM}!",
)
HEAD_RANKS = (0, 60)
MID_RANKS = (60, 3_000)
TAIL_RANKS = (3_000, 20_000)
SIGN_MASK = (1 << 63) - 1
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


@lru_cache(maxsize=1)
def vocabulary() -> np.ndarray:
    """VOCAB_SIZE distinct pseudo-words, most frequent first. The array is
    cached; callers must not modify it."""
    rng = np.random.default_rng(1)
    words: list[str] = []
    seen = set(STOPWORDS) | set(ABSENT_TERMS) | {RARE_TERM}
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def _cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return np.cumsum(w) / w.sum()


def texts(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    """``n`` turn texts: Zipf words, skewed stopwords, light punctuation."""
    lens = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, n)
    total = int(lens.sum())
    ranks = np.searchsorted(_cdf(VOCAB_SIZE, ZIPF_S), rng.random(total), side="right")
    stop = np.searchsorted(_cdf(len(STOPWORDS), 1.0), rng.random(total), side="right")
    words = np.where(
        rng.random(total) < STOPWORD_FRACTION,
        np.asarray(STOPWORDS)[np.minimum(stop, len(STOPWORDS) - 1)],
        vocab[np.minimum(ranks, VOCAB_SIZE - 1)],
    ).astype(object)
    # tokenizer-visible noise: capitalised words, trailing punctuation
    caps = rng.random(total) < 0.03
    words[caps] = [w.capitalize() for w in words[caps]]
    punct = rng.random(total) < 0.05
    words[punct] = [w + "," for w in words[punct]]
    ends = np.cumsum(lens)
    return [" ".join(words[e - n_:e]) + "." for e, n_ in zip(ends, lens)]


def doc_ids(seed: int, gids: np.ndarray) -> np.ndarray:
    """Uniform non-negative 63-bit ids: splitmix64 of the seeded turn id."""
    with np.errstate(over="ignore"):
        z = gids.astype(np.uint64) + np.uint64((seed * 0x2545F4914F6CDD1D) % (1 << 64))
        z = z + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z & np.uint64(SIGN_MASK)).astype(np.int64)


def turns(seed: int, gids: np.ndarray, text: list[str]) -> pd.DataFrame:
    """Transcript rows for global turn ids ``gids`` with the given texts."""
    turn_idx = (gids % TURNS_PER_CONV).astype(np.int32)
    role = ROLES[turn_idx % 3]
    tool_pick = TOOLS[doc_ids(seed + 1, gids) % len(TOOLS)]
    return pd.DataFrame(
        {
            "doc_id": doc_ids(seed, gids),
            "conv_id": [f"conv-{c:09d}" for c in gids // TURNS_PER_CONV],
            "turn_idx": turn_idx,
            "role": role,
            "text": text,
            # a string column even when no row is a tool turn, so a small
            # upsert file never has a null-typed column
            "tool": pd.array(np.where(role == "tool", tool_pick, None), dtype="string"),
            "ts": pd.to_datetime(1_767_225_600 + gids, unit="s", utc=True).astype(
                "datetime64[us, UTC]"
            ),
        }
    )


def corpus(seed: int, n_turns: int) -> pd.DataFrame:
    """The seeded corpus of ``n_turns`` transcript turns."""
    rng = np.random.default_rng([seed, 3])
    text = texts(rng, vocabulary(), n_turns)
    text[: len(PLANTED)] = PLANTED
    df = turns(seed, np.arange(n_turns, dtype=np.int64), text)
    if df["doc_id"].duplicated().any():
        raise ValueError(f"doc_id collision for seed {seed}")
    return df


def _pick(rng, vocab, ranks, n):
    return [str(w) for w in vocab[rng.choice(np.arange(*ranks), n, replace=False)]]


#: the serving mix as a fixed cycle of (kind, mode): tail-term pairs, 2-3
#: head terms, a stopword-anchored query, mostly AND with some OR, a
#: ``-term`` exclusion, an absent term and the planted rare term. A fixed
#: cycle, not random draws, so every run of a few dozen queries has the
#: same composition and only the terms vary with the seed.
MIX = (
    ("tail", "AND"), ("head", "AND"), ("stop", "AND"), ("tail", "OR"),
    ("exclude", "AND"), ("head", "AND"), ("absent", "AND"), ("rare", "OR"),
)


def query(rng: np.random.Generator, vocab: np.ndarray, kind: str, mode: str) -> dict:
    """One query of the given kind and mode with seeded terms."""
    exclude = []
    if kind == "tail":
        terms = _pick(rng, vocab, TAIL_RANKS, 2)
    elif kind == "head":
        terms = _pick(rng, vocab, HEAD_RANKS, int(rng.integers(2, 4)))
    elif kind == "stop":
        terms = [STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]] + _pick(
            rng, vocab, MID_RANKS, int(rng.integers(1, 3))
        )
    elif kind == "exclude":
        terms = _pick(rng, vocab, HEAD_RANKS, 2)
        exclude = _pick(rng, vocab, MID_RANKS, 1)
    elif kind == "absent":
        terms = _pick(rng, vocab, MID_RANKS, 1) + [
            ABSENT_TERMS[int(rng.integers(0, len(ABSENT_TERMS)))]
        ]
    elif kind == "rare":
        terms = [RARE_TERM] + _pick(rng, vocab, MID_RANKS, 1)
    else:
        raise ValueError(f"unknown query kind {kind!r}")
    return {"terms": sorted(terms), "mode": mode, "exclude": exclude, "k": 10}


def queries(seed: int, stream: int = 0):
    """Endless stream of queries cycling through MIX; ``stream`` selects
    independent terms under the same seed."""
    rng = np.random.default_rng([seed, 4, stream])
    vocab = vocabulary()
    i = 0
    while True:
        yield query(rng, vocab, *MIX[i % len(MIX)])
        i += 1


def fresh_term(rnd: int) -> str:
    """Term carried only by the texts upserted in update round ``rnd``."""
    return f"qqfresh{rnd}"


def update_round(
    seed: int,
    rnd: int,
    live: np.ndarray,
    next_gid: int,
    upsert_frac: float,
    delete_frac: float,
    new_frac: float = 0.1,
) -> tuple[pd.DataFrame, np.ndarray, np.ndarray]:
    """One round of updates against the live global turn ids ``live``.

    Returns ``(upserts, upsert_gids, delete_gids)``. Upserts replace the text of about
    ``upsert_frac`` of the live turns and add ``new_frac`` as many brand-new
    turns (global ids from ``next_gid``); deletes drop about ``delete_frac``
    of the live turns, disjoint from the replaced ones. Every upserted text
    carries ``fresh_term(rnd)`` so read-after-write queries find the new
    versions.
    """
    rng = np.random.default_rng([seed, 5, rnd])
    n_up = max(1, int(len(live) * upsert_frac))
    n_del = max(1, int(len(live) * delete_frac))
    chosen = rng.choice(live, n_up + n_del, replace=False)
    replaced, deleted = np.sort(chosen[:n_up]), np.sort(chosen[n_up:])
    gids = np.concatenate(
        [replaced, np.arange(next_gid, next_gid + max(1, int(n_up * new_frac)))]
    )
    text = [f"{t} {fresh_term(rnd)}" for t in texts(rng, vocabulary(), gids.size)]
    return turns(seed, gids, text), gids, deleted
