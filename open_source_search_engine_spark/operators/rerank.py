"""The score modifiers -- proximity, quoted phrases and doc-level boosts
-- each written once, and the three drivers that apply them.

``exact`` is the modifier's no-over-fetch driver (behind
SearchEngine.search_proximity / search_phrase / search_boosted): it
rescores the FULL BM25 match set, which at 10^12-turn scale means pivoting
every posting of a common term or joining billions of candidates to the
doc store. The WAND and batch serving paths instead share ONE certified
over-fetch re-rank, the threshold-filtered top-k of the reference's
PosdbTable pipeline (`PosdbTable.cpp:3910-3947` max-score prefilter,
TopTree bounded top-k):

  1. over-fetch the true BM25 top-m candidates (m = overfetch * k, or the
     whole match set when its plan-time bound -- rarest df under AND,
     sum(df) under OR -- is below the cutoff);
  2. rescore ONLY those candidates with the modifier (a broadcast restrict
     keeps the rescoring shuffle at m rows, not the corpus);
  3. certify the rescored top k, else grow m or fall back to exact.

THE CERTIFICATE. BM25 top-m under the total order (score DESC, doc_id ASC)
means every doc OUTSIDE the candidate set has BM25 <= the weakest
candidate's. Each modifier bounds what rescoring can do to a doc with an
affine ceiling on that BM25, ``scale * bm25 + shift``:

  * proximity adds at most W = prox_weight * C(n_terms, 2) (each pair's
    1/(min_dist+1) is <= 1): ceiling = weakest + W, certified by >=;
  * a phrase only REMOVES docs (verification keeps a subset of
    candidates and leaves scores alone): ceiling = weakest, certified by
    >= (a survivor tied with an outside doc precedes it: survivors are
    candidates, which win the doc_id tie-break);
  * boosts multiply by at most M (``boosts``' provable max multiplier;
    BM25 is nonnegative, so the bound multiplies through):
    ceiling = weakest * M, certified STRICTLY by > (an outside doc tied on
    BM25 and granted exactly M must not leapfrog on the doc_id tie-break).

When the k-th rescored score clears the ceiling, no outside doc can enter
the page and the top k is final. When the fetch returned fewer than m rows
the candidate set IS the match set and one pass is trivially exact. A
non-positive scale (every boost weight <= 0) collapses every score, so
the certificate cannot discriminate and the exact path answers directly.

Two drivers share the certificate:

  * ``wand_rerank`` (single query over wand.wand_search) escalates m on
    failure: BM25 decays monotonically with rank, so the observed tail
    slope extrapolates the rank where the weakest candidate reaches
    (kth - shift) / scale; when even ``max_candidates`` cannot plausibly
    get there the exact path answers now. The schedule is performance
    only -- exactness never depends on it.
  * ``batch_rerank`` (many queries over SearchEngine.search_many) makes
    ONE over-fetch pass and ONE rescore pass; each query that fails its
    certificate becomes an exact union branch of the returned plan.

A modifier supplies only its rescoring, its ceiling and whether
single-term queries skip rescoring (``Modifier``). Its factory returns
None for an identity config (prox_weight 0, no boosts, a one-word
phrase), and every driver then answers with its plain BM25 path
(search_terms, wand_search, search_many). Rank/score identity of the
re-rank drivers with ``exact`` is gated in tests/test_wand_proximity.py,
tests/test_wand_phrase.py and tests/test_wand_boosted.py.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.bm25 import sql_double
from ..session import _local_frame
from . import query
from .query import (
    _BATCH_SCHEMA, _SCORED, _page, _rank_branch, _unanswerable, match_bound,
)


@dataclass(frozen=True)
class Modifier:
    """One re-rank modifier, as the drivers see it.

    ``rescore(cands, terms_of, restrict)``: ``cands`` is keyed by
    ``doc_id`` (single query) or ``(query_id, doc_id)`` (batch) with BM25
    ``score`` and ``matched``; ``terms_of`` maps each query key (None for a
    single query) to its sorted present terms. Returns the same columns
    with the rescored ``score``; rows may be dropped, never added.
    ``restrict``: ``cands`` is a small driver-built frame (the re-rank
    drivers), broadcast into the rescoring; False on the exact path,
    where ``cands`` is the whole match set.
    ``ceiling(n_terms)``: the certificate's ``(scale, shift)``.
    """

    rescore: Callable[[DataFrame, dict, bool], DataFrame]
    ceiling: Callable[[int], tuple[float, float]]
    strict: bool
    single_term_final: bool = False


class _Query(NamedTuple):
    """One batch query after planning; ``m`` None = no rescoring."""

    present: list[str]
    mode: str
    k: int
    m: int | None
    cert: tuple[float, float]


def _keys(cands: DataFrame) -> list[str]:
    return [c for c in ("query_id", "doc_id") if c in cands.columns]


def _pair_bonus_sql(n: int) -> str:
    """SQL text of the proximity bonus over the pivot's position slots
    ``_p0 .. _p{n-1}`` (SearchEngine._positions): the sum over slot pairs
    i < j, in that fixed order, of 1 / (min |p_i - p_j| + 1). A pair with
    an empty slot -- a term the doc lacks, or a batch slot the query does
    not use -- adds 0.0, so padding never moves a bit."""
    bonus = ["0.0D"]
    for i in range(n):
        for j in range(i + 1, n):
            d = (f"array_min(transform(_p{i}, x -> "
                 f"array_min(transform(_p{j}, y -> abs(x - y)))))")
            bonus.append(
                f"CASE WHEN size(_p{i}) > 0 AND size(_p{j}) > 0"
                f" THEN 1.0D / (CAST({d} AS DOUBLE) + 1.0D) ELSE 0.0D END"
            )
    return " + ".join(bonus)


def proximity(engine, prox_weight: float) -> Modifier | None:
    """score + prox_weight * the term-pair min-distance bonus (reference:
    the sliding-window pair score, `PosdbTable.cpp:3404-3620`; pair
    formula ~ 1/(dist+1), `:744-810`). None at prox_weight 0."""
    if prox_weight == 0.0:
        return None
    w = sql_double(prox_weight)

    def rescore(cands, terms_of, restrict):
        keys = _keys(cands)
        n = max(len(ts) for ts in terms_of.values())
        bonus = engine._positions(
            terms_of, "the proximity boost", cands if restrict else None
        ).selectExpr(*keys, f"{_pair_bonus_sql(n)} AS _bonus")
        return cands.join(bonus, keys, "left_outer").selectExpr(
            *keys, f"score + {w} * coalesce(_bonus, 0.0D) AS score", "matched"
        )

    return Modifier(
        rescore=rescore,
        ceiling=lambda n: (1.0, float(prox_weight) * (n * (n - 1) // 2)),
        strict=False,
        single_term_final=True,
    )


def phrase(engine, words: list[str], use_bigrams: bool) -> Modifier | None:
    """Keep the docs holding the exact phrase (reference: quoted phrases
    are position-verified, `Query.h:219-226`, `Matches.cpp:252`); scores
    are unchanged. None for a phrase of fewer than two words. Single
    query only (keyed by doc_id): no batch phrase entry point exists."""
    if len(words) < 2:
        return None

    def rescore(cands, terms_of, restrict):
        hits = engine._phrase_hits(
            words, use_bigrams, restrict=cands if restrict else None
        )
        return cands.join(hits, "doc_id", "left_semi")

    return Modifier(
        rescore=rescore, ceiling=lambda n: (1.0, 0.0), strict=False
    )


def boosts(
    engine,
    field_weights: dict[str, tuple[dict[str, float], float]] | None,
    recency: tuple[str, float, float] | None,
) -> Modifier | None:
    """Doc-level score multipliers from document attributes, a pure JVM
    CASE/pow projection over the documents table pruned to doc_id + the
    boost columns (SearchEngine.search_boosted documents the config). None
    when no boost is configured; an unknown boost column raises ValueError
    before any job runs.

    The ceiling's scale is the provable max multiplier: per field column
    the max over the weight map plus the default, multiplied across
    columns; the recency factor 0.5^(max(age,0)/halflife) is <= 1.0 (age
    clamps at 0), so it never raises the bound."""
    field_weights = field_weights or {}
    if not field_weights and recency is None:
        return None
    docs = engine.catalog.read_table("documents")
    mult = F.lit(1.0)
    max_mult = 1.0
    need = sorted(field_weights)
    for col in need:
        wmap, default = field_weights[col]
        case = F.lit(float(default))
        # reversed when-chain so the FIRST sorted key is the OUTERMOST
        # condition: evaluation order is deterministic regardless of
        # dict insertion order
        for val in sorted(wmap, reverse=True):
            case = F.when(
                F.col(col) == F.lit(val), F.lit(float(wmap[val]))
            ).otherwise(case)
        mult = mult * case
        max_mult *= max([float(default)] + [float(w) for w in wmap.values()])
    if recency is not None:
        ts_col, now_epoch, halflife_days = recency
        need = need + [ts_col]
        age_days = F.greatest(
            (F.lit(float(now_epoch)) - F.unix_timestamp(F.col(ts_col)))
            / F.lit(86400.0),
            F.lit(0.0),
        )
        mult = mult * F.pow(
            F.lit(0.5), age_days / F.lit(float(halflife_days))
        )
    for col in need:
        if col not in docs.columns:
            raise ValueError(
                f"unknown boost column '{col}' -- boostable columns "
                f"are the documents columns {sorted(docs.columns)}"
            )
    pruned_docs = docs.select("doc_id", *need)

    def rescore(cands, terms_of, restrict):
        return (F.broadcast(cands) if restrict else cands).join(
            pruned_docs, "doc_id"
        ).select(
            *_keys(cands), (F.col("score") * mult).alias("score"), "matched"
        )

    return Modifier(
        rescore=rescore, ceiling=lambda n: (max_mult, 0.0), strict=True
    )


def exact(
    engine,
    terms: list[str],
    mode: str,
    k: int,
    exclude_terms: list[str] | None,
    mod: Modifier | None,
) -> DataFrame:
    """The modifier's exact page, with no over-fetch: the whole BM25 match
    set rescored, then the top k. No modifier (an identity config), or a
    single present term under a modifier that leaves those final, is
    search_terms' page."""
    plan = engine.plan_terms(terms)
    if _unanswerable(plan, terms, mode):
        return _local_frame(engine.spark, _SCORED)
    if mod is None or (mod.single_term_final and len(plan) < 2):
        return engine.search_terms(terms, mode, k, exclude_terms)
    scored = engine._score_plan(plan, mode, exclude_terms)
    return _page(mod.rescore(scored, {None: sorted(plan["term"])}, False), k)


def _initial_m(k: int, overfetch: int, dfs, mode: str, cutoff: int) -> int:
    """Over-fetch size: overfetch * k, or the WHOLE match set when its
    plan-time bound (query.match_bound) is below ``cutoff`` -- one pass is
    then trivially exact."""
    m = max(k * overfetch, k + 1)
    bound = match_bound(dfs, mode)
    return max(m, bound + 1) if bound < cutoff else m


def _kth(rows: list, k: int) -> float:
    return rows[k - 1]["score"] if len(rows) >= k else float("-inf")


def _certified(mod: Modifier, kth: float, weakest: float, cert) -> bool:
    scale, shift = cert
    ceiling = weakest * scale + shift
    return kth > ceiling if mod.strict else kth >= ceiling


def _next_m(m, kth, bm25, cert, max_candidates) -> int | None:
    """Tail-slope escalation; None = take the exact path now."""
    if m >= max_candidates:
        return None
    tail = bm25[len(bm25) // 2:]
    slope = (tail[0] - tail[-1]) / max(1, len(tail) - 1)
    if slope <= 0 or kth == float("-inf"):
        return None  # a flat tail (ties) cannot reach the threshold
    scale, shift = cert
    m_needed = m + int((bm25[-1] - (kth - shift) / scale) / slope) + 1
    if m_needed > max_candidates:
        return None
    return min(max(m * 4, int(m_needed * 1.25)), max_candidates)


def wand_rerank(
    engine,
    terms: list[str],
    mode: str,
    k: int,
    mod: Modifier | None,
    overfetch: int,
    max_candidates: int,
    exclude_terms: list[str] | None,
) -> DataFrame:
    """Single-query driver over wand_search (module doc: certificate and
    escalation). Returns (doc_id, score, matched), top k; no modifier is
    wand_search's page."""
    from .wand import wand_search

    spark = engine.spark
    empty = _local_frame(spark, _SCORED)
    plan = engine.plan_terms(terms)
    if _unanswerable(plan, terms, mode):
        return empty
    if mod is None or (mod.single_term_final and len(plan) < 2):
        return wand_search(engine, terms, mode, k, exclude_terms)
    cert = mod.ceiling(len(plan))
    if cert[0] <= 0.0:
        return exact(engine, terms, mode, k, exclude_terms, mod)
    m = _initial_m(k, overfetch, plan["df"], mode, max_candidates)
    terms_of = {None: sorted(plan["term"])}
    while True:
        cands = wand_search(engine, terms, mode, m, exclude_terms)
        cand_rows = cands.collect()  # <= m rows (wand's own contract)
        if not cand_rows:
            return empty
        cand_df = _local_frame(spark, cands.schema, cand_rows)
        top = _page(mod.rescore(cand_df, terms_of, True), k)
        rows = top.collect()
        if len(cand_rows) < m:
            break  # the candidate set is the whole match set
        bm25 = [r["score"] for r in cand_rows]  # desc (wand order)
        kth = _kth(rows, k)
        if _certified(mod, kth, min(bm25), cert):
            break
        m = _next_m(m, kth, bm25, cert, max_candidates)
        if m is None:
            return exact(engine, terms, mode, k, exclude_terms, mod)
    return _local_frame(spark, top.schema, rows)


def batch_rerank(
    engine,
    queries: list[dict],
    mod: Modifier | None,
    default_k: int,
    overfetch: int,
) -> DataFrame:
    """Batch driver over search_many (module doc: certificate). Returns
    (query_id, rank, doc_id, score, matched); per query the modifier's
    exact page. Driver materialization is bounded by sum_q m_q rows: a
    query over-fetches its whole match set only when its bound is below
    query.RERANK_COLLECT_BUDGET split evenly across the batch, so the
    bound holds at any batch size. No modifier is search_many's answer."""
    spark = engine.spark
    if mod is None:
        return engine.search_many(queries, default_k=default_k)
    cutoff = max(
        query.RERANK_MIN_EXHAUSTIVE,
        query.RERANK_COLLECT_BUDGET // max(1, len(queries)),
    )
    meta: dict[str, _Query] = {}
    for q in engine._plan_batch(queries, default_k)[1]:
        m = None  # None: the BM25 page is final (no rescoring)
        if not (mod.single_term_final and len(q.present) < 2):
            m = _initial_m(q.k, overfetch, q.dfs, q.mode, cutoff)
        meta[q.qid] = _Query(
            q.present, q.mode, q.k, m, mod.ceiling(len(q.present))
        )
    fallback = [
        qid for qid, q in meta.items() if q.m is not None and q.cert[0] <= 0.0
    ]
    over = [
        {"query_id": qid, "terms": q.present, "mode": q.mode,
         "k": q.k if q.m is None else q.m}
        for qid, q in meta.items()
        if qid not in fallback
    ]
    cand_rows = (  # bounded: sum_q m_q
        engine.search_many(over, default_k=default_k).collect() if over else []
    )
    final_rows = [tuple(r) for r in cand_rows if meta[r["query_id"]].m is None]
    bm25_of: dict[str, list[float]] = {}
    for r in cand_rows:
        if meta[r["query_id"]].m is not None:
            bm25_of.setdefault(r["query_id"], []).append(r["score"])
    if bm25_of:
        cand_df = _local_frame(
            spark,
            "query_id string, doc_id long, score double, matched int",
            [
                (r["query_id"], r["doc_id"], r["score"], r["matched"])
                for r in cand_rows
                if r["query_id"] in bm25_of
            ],
        )
        terms_of = {qid: meta[qid].present for qid in bm25_of}
        rows_of: dict[str, list] = {}
        for r in mod.rescore(cand_df, terms_of, True).collect():
            rows_of.setdefault(r["query_id"], []).append(r)
        for qid, bm25 in sorted(bm25_of.items()):
            q = meta[qid]
            rows = sorted(
                rows_of.get(qid, []), key=lambda r: (-r["score"], r["doc_id"])
            )
            kth = _kth(rows, q.k)
            if len(bm25) < q.m or _certified(mod, kth, min(bm25), q.cert):
                final_rows.extend(
                    (qid, i + 1, r["doc_id"], r["score"], r["matched"])
                    for i, r in enumerate(rows[:q.k])
                )
            else:
                fallback.append(qid)
    out = _local_frame(spark, _BATCH_SCHEMA, final_rows)
    for qid in sorted(fallback):
        q = meta[qid]
        out = out.unionByName(
            _rank_branch(qid, exact(engine, q.present, q.mode, q.k, None, mod))
        )
    return out.orderBy("query_id", "rank")
