"""Block-max WAND query path (the max-score pruning rebuild).

Reference: per-doc max-score prefilter vs the current kth TopTree score
(`PosdbTable.cpp:3910-3947` prefilters, `:4351-4516` getMaxPossibleScore) --
skip a doc when the sum of its terms' score upper bounds cannot beat the
current threshold. The distributed re-expression is *block*-max WAND over
the posting-block skip metadata (``block_max_tf``, ``block_min_dl`` written
at build time): groups of blocks are chosen in the driver, from metadata
alone, and scored by the exact path (query.SearchEngine._score_plan) --
one scorer, so WAND pages equal the exact path's by construction.

Every posting block covers an explicit hash-PREFIX range of the doc space:
``block_id`` = top ``salt_bits`` bits of the 63-bit doc hash
(hashing.py_block_ids, a splitmix64 of doc_id -- NOT a prefix of doc_id),
with ``salt_bits`` df-adaptive per term (index_build._partial_encoder).
Prefix ranges nest, so blocks of different granularities fall into aligned
groups at ANY granularity g:

* a block with salt_bits >= g nests inside one group (block_id >> (s-g));
* a COARSER block (salt_bits < g) overlaps 2^(g-s) groups.

g is picked from the plan's per-term ``max_salt_bits`` / ``min_salt_bits``
(term_stats): fine enough that heavy terms keep their native granularity,
clamped so a term's coarsest block overlaps at most
~2^query.MAX_GROUP_SPLIT groups.

The driver reads the query terms' block metadata with Arrow from the
engine's postings snapshot files (SearchEngine._snapshot_rows; no list
columns, no Spark job) and computes, per group:

* the bound: per term the MAX over the term's overlapping blocks of
  ub(term, block) = idf * tf_norm(block_max_tf, block_min_dl) (monotone in
  tf, anti-monotone in dl; a doc lives in exactly one block per term),
  summed over the terms;
* AND presence: a group missing any query term holds no conjunctive match
  and is never scored (the analog of rarest-first candidate intersection,
  `PosdbTable.cpp:1935`).

Then the exact path runs twice, its decode restricted (before ``inline``)
to the blocks overlapping a chosen group set, written into the SQL text as
integer literals:

  Run A: the query.PHASE_A_GROUPS groups with the highest bounds; theta is
         the kth score of its page.
  Run B: every eligible group whose bound is >= theta - EPS, run A's
         included; its page is the answer. Skipped when it would repeat
         run A.

No per-doc group mask is needed. A doc outside a run's groups enters that
run only through a replicated coarse block, as a row that is missing its
other terms' fine blocks or is complete. A partial row scores at most its
doc's true score (positive contributions, folded in one order) and under
AND fails ``matched = n``. So run A's page names k distinct docs whose true
score is >= theta; each of those, and each doc of the true top k, lies in a
group whose bound is >= theta, so run B scores it fully, and every other
row of run B scores below theta. With a cursor under OR, a partial row may
belong to a doc an earlier page already returned, so theta then counts
only complete rows (``matched`` = the plan's term count).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.bm25 import tf_norm
from ..session import _local_frame
from . import query, rerank
from .query import _SCORED, _page, _unanswerable

EPS = 1e-9


def pick_granularity(salt_bits_per_term, min_salt_bits_per_term) -> int:
    """Grouping granularity g for a query: the finest per-term granularity,
    clamped so the coarsest BLOCK of any query term overlaps
    <= 2^query.MAX_GROUP_SPLIT groups. Both inputs come from term_stats.

    The clamp uses each term's min_salt_bits -- its coarsest block -- not
    just the per-term max: within one term, a straggler partial block
    salted far below the term's typical granularity would otherwise
    overlap 2^(g - s) groups, unbounded by the across-term clamp."""
    vals = [int(v) for v in salt_bits_per_term]
    if not vals:
        return 0
    floor = min(int(v) for v in min_salt_bits_per_term)
    return min(max(vals), floor + query.MAX_GROUP_SPLIT)


def _groups(engine, plan: pd.DataFrame):
    """(g, per-group frame indexed by group id with the group's ``bound``
    and ``present`` term count, the coarse salt_bits levels), from the plan
    terms' block metadata read in the driver."""
    meta = engine._snapshot_rows(
        "postings",
        ["term_id", "block_id", "salt_bits", "block_max_tf", "block_min_dl"],
        "term_id",
        [int(t) for t in plan["term_id"]],
    ).to_pandas()
    g = pick_granularity(plan["max_salt_bits"], plan["min_salt_bits"])
    idf = dict(zip(plan["term_id"].astype(np.int64), plan["idf"]))
    ub = meta["term_id"].map(idf).to_numpy() * tf_norm(
        meta["block_max_tf"], meta["block_min_dl"], engine.avgdl, engine.params
    )
    salt = meta["salt_bits"].to_numpy(np.int64)
    up = np.maximum(g - salt, 0)
    # a block's first overlapped group, and how many it overlaps
    first = np.left_shift(
        np.right_shift(meta["block_id"].to_numpy(np.int64), salt - g + up), up
    )
    span = np.left_shift(1, up)
    offset = np.arange(span.sum()) - np.repeat(np.cumsum(span) - span, span)
    per = (
        pd.DataFrame(
            {
                "group": np.repeat(first, span) + offset,
                "term": np.repeat(meta["term_id"].to_numpy(), span),
                "ub": np.repeat(ub, span),
            }
        )
        .groupby(["group", "term"])["ub"]
        .max()
        .groupby(level="group")
        .agg(bound="sum", present="size")
    )
    levels = sorted(int(s) for s in set(salt[salt < g]))
    return g, per, levels


def _blocks_sql(g: int, groups: np.ndarray, levels: list[int]) -> str:
    """SQL predicate: the blocks that overlap ``groups`` at granularity g --
    fine blocks by their group, coarse blocks by their parent id at each
    coarse salt_bits level."""

    def ids(a) -> str:
        return ", ".join(str(int(x)) for x in np.unique(a))

    parts = [f"salt_bits >= {g} AND shiftright(block_id, salt_bits - {g})"
             f" IN ({ids(groups)})"]
    parts += [f"salt_bits = {s} AND block_id IN ({ids(groups >> (g - s))})"
              for s in levels]
    return " OR ".join(f"({p})" for p in parts)


def wand_search(
    engine,
    query_terms: list[str],
    mode: str = "AND",
    k: int = 10,
    exclude_terms: list[str] | None = None,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """Block-max WAND BM25 top-k. Same result contract as
    SearchEngine.search_terms (and search_after for ``after``): (doc_id,
    score, matched) ordered score desc / doc_id asc, limited to k.

    A query that query.route sends to the exact path at any sum(df) (an
    AND whose rarest df is at most RAREST_DF_CUTOFF: pruning cannot save
    more than the run it costs) gets the exact path's page (search_after);
    so does k <= 0. Otherwise two restricted exact runs (module doc) give
    the page, collected: the run frames are not returned, so the page
    plans as a LocalTableScan."""
    plan = engine.plan_terms(query_terms)
    if _unanswerable(plan, query_terms, mode):
        return _local_frame(engine.spark, _SCORED)
    if k <= 0 or query.route(plan, mode, wand_df_cutoff=0)[0] == "exact":
        return engine.search_after(query_terms, mode, k, after, exclude_terms)
    g, per, levels = _groups(engine, plan)
    n = len(plan)
    eligible = per[per["present"] == n] if mode == "AND" else per
    ranked = eligible.reset_index().sort_values(
        ["bound", "group"], ascending=[False, True]
    )
    groups = ranked["group"].to_numpy(np.int64)
    bounds = ranked["bound"].to_numpy()
    if not len(groups):
        return _local_frame(engine.spark, _SCORED)

    def run(m: int, complete_only: bool) -> list:
        """The page of the exact path over the top ``m`` groups' blocks."""
        blocks = None if m == len(per) else _blocks_sql(g, groups[:m], levels)
        scored = engine._score_plan(plan, mode, exclude_terms, blocks=blocks)
        if complete_only:
            scored = scored.where(f"matched = {n}")
        return _page(scored, k, after).collect()

    partial = mode != "AND" and after is not None
    m_a = min(max(query.PHASE_A_GROUPS, 1), len(groups))
    rows = run(m_a, partial)
    theta = rows[-1]["score"] if len(rows) == k else -np.inf
    m_b = max(m_a, int(np.count_nonzero(bounds >= theta - EPS)))
    if partial or m_b > m_a:
        rows = run(m_b, False)
    return _local_frame(engine.spark, _SCORED, rows)


def wand_proximity(
    engine,
    query_terms: list[str],
    k: int = 10,
    prox_weight: float = 1.0,
    overfetch: int = 4,
    max_candidates: int = 10_000,
    exclude_terms: list[str] | None = None,
) -> DataFrame:
    """Proximity rescoring on the WAND scale path: the exact answer of
    SearchEngine.search_proximity (AND), i.e. bm25 + prox_weight * the
    term-pair min-distance bonus (reference: the sliding-window pair score
    every candidate gets, `PosdbTable.cpp:3404-3620`).

    Over-fetches BM25 candidates with wand_search, rescores only those
    with the shared pair bonus and certifies the page; the certificate,
    the tail-slope escalation up to ``max_candidates`` and the exact
    fallback are rerank.wand_rerank's (see rerank.py). ``exclude_terms``
    reach wand_search and the exact fallback. prox_weight=0 (or a <2-term
    query) is wand_search verbatim — rank-identity gated in
    tests/test_wand_proximity.py."""
    return rerank.wand_rerank(
        engine, query_terms, "AND", k, rerank.proximity(engine, prox_weight),
        overfetch, max_candidates, exclude_terms,
    )


def wand_phrase(
    engine,
    phrase_terms: list[str],
    k: int = 10,
    overfetch: int = 4,
    max_candidates: int = 10_000,
    use_bigrams: bool = True,
) -> DataFrame:
    """Quoted-phrase top-k on the WAND scale path: the exact answer of
    SearchEngine.search_phrase (reference: quoted phrases go through the
    plain top-k candidate machinery and are position-verified,
    `Query.h:219-226`, `Matches.cpp:252`).

    Phrase docs are a subset of the AND match set of the phrase's
    distinct terms and score as their plain BM25 sum, so the WAND BM25
    candidates are position-verified (served from bigram termlists when
    present, restricted to the candidates) and certified by
    rerank.wand_rerank (see rerank.py). A single-word "phrase" is
    wand_search verbatim. No exclusions: the exact fallback
    (search_phrase) has none; search_query's grammar combines the two.
    Rank/score identity with search_phrase is gated in
    tests/test_wand_phrase.py."""
    return rerank.wand_rerank(
        engine, sorted(set(phrase_terms)), "AND", k,
        rerank.phrase(engine, phrase_terms, use_bigrams),
        overfetch, max_candidates, None,
    )


def wand_boosted(
    engine,
    query_terms: list[str],
    mode: str = "AND",
    k: int = 10,
    field_weights: dict[str, tuple[dict[str, float], float]] | None = None,
    recency: tuple[str, float, float] | None = None,
    overfetch: int = 4,
    max_candidates: int = 10_000,
    exclude_terms: list[str] | None = None,
) -> DataFrame:
    """Doc-level score boosts on the WAND scale path: the exact answer of
    SearchEngine.search_boosted, which joins the FULL candidate set to the
    doc store before top-k.

    Over-fetches BM25 candidates with wand_search, joins only those to
    the doc store pruned to the boost columns, applies the shared
    multiplier (rerank.boosts) and certifies the page against
    the max multiplier (rerank.wand_rerank; see rerank.py). No boosts
    configured -> wand_search verbatim; an unknown boost column raises
    ValueError. Gated in tests/test_wand_boosted.py."""
    return rerank.wand_rerank(
        engine, query_terms, mode, k,
        rerank.boosts(engine, field_weights, recency),
        overfetch, max_candidates, exclude_terms,
    )


def pruning_stats(engine, query_terms: list[str], mode: str = "AND") -> dict:
    """Observability: how many groups the query's blocks fall into, and how
    many survive the AND-presence filter (the decode-avoidance win). A view
    over wand_search's driver-side block metadata: no Spark job."""
    plan = engine.plan_terms(query_terms)
    if plan.empty:
        return {"groups_total": 0, "groups_surviving": 0, "granularity": 0}
    g, per, _ = _groups(engine, plan)
    total = len(per)
    surviving = int((per["present"] == len(plan)).sum())
    return {
        "groups_total": total,
        "groups_surviving": surviving if mode == "AND" else total,
        "granularity": g,
    }
