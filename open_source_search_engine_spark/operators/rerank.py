"""Certified over-fetch re-rank: ONE algorithm behind proximity, quoted
phrases and doc-level boosts on the WAND and batch serving paths.

The exact paths (SearchEngine.search_proximity / search_phrase /
search_boosted) apply their modifier to the FULL BM25 match set, which at
10^12-turn scale means pivoting every posting of a common term or joining
billions of candidates to the doc store. The scale shape is the
threshold-filtered top-k of the reference's PosdbTable pipeline
(`PosdbTable.cpp:3910-3947` max-score prefilter, TopTree bounded top-k):

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
  * boosts multiply by at most M (query.boost_multiplier's provable max
    multiplier; BM25 is nonnegative, so the bound multiplies through):
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

A modifier supplies only its rescoring, its ceiling, its exact path and
whether single-term queries skip rescoring (``Modifier``). Rank/score
identity against the exact paths is gated in tests/test_wand_proximity.py,
tests/test_wand_phrase.py and tests/test_wand_boosted.py.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .query import _BATCH_SCHEMA, _rank_branch, boost_multiplier


@dataclass(frozen=True)
class Modifier:
    """One re-rank modifier, as the shared drivers see it.

    ``rescore(cands, terms_of)``: ``cands`` is keyed by ``doc_id`` (single
    query) or ``(query_id, doc_id)`` (batch) with BM25 ``score`` and
    ``matched``; ``terms_of`` maps each query key (None for a single
    query) to its sorted present terms. Returns the same columns with the
    rescored ``score``; rows may be dropped, never added.
    ``ceiling(n_terms)``: the certificate's ``(scale, shift)``.
    ``exact(terms, mode, k, exclude_terms)``: the exact fallback page.
    """

    rescore: Callable[[DataFrame, dict], DataFrame]
    ceiling: Callable[[int], tuple[float, float]]
    strict: bool
    exact: Callable[..., DataFrame]
    single_term_final: bool = False
    needs_positions: str | None = None


class _Query(NamedTuple):
    """One batch query after planning; ``m`` None = no rescoring."""

    present: list[str]
    mode: str
    k: int
    m: int | None
    cert: tuple[float, float]


def _keys(cands: DataFrame) -> list[str]:
    return [c for c in ("query_id", "doc_id") if c in cands.columns]


def proximity(engine, prox_weight: float) -> Modifier:
    w = float(prox_weight)

    def rescore(cands, terms_of):
        # every term is already in the engine's plan cache: no job
        plan = engine.plan_terms([t for ts in terms_of.values() for t in ts])
        tid_of = dict(zip(plan["term"], plan["term_id"]))
        bonus = engine._keyed_position_bonus(terms_of, tid_of, cands)
        keys = _keys(cands)
        return cands.join(bonus, keys, "left_outer").select(
            *keys,
            (
                F.col("score")
                + F.lit(w) * F.coalesce(F.col("_bonus"), F.lit(0.0))
            ).alias("score"),
            "matched",
        )

    return Modifier(
        rescore=rescore,
        ceiling=lambda n: (1.0, w * (n * (n - 1) // 2)),
        strict=False,
        exact=lambda terms, mode, k, excl: engine.search_proximity(
            terms, k=k, prox_weight=w, mode=mode, exclude_terms=excl
        ),
        single_term_final=True,
        needs_positions="the proximity boost",
    )


def phrase(engine, phrase_terms: list[str], use_bigrams: bool) -> Modifier:
    # single-query only (keyed by doc_id): no batch phrase entry point exists
    def rescore(cands, terms_of):
        hits = engine._phrase_hits(phrase_terms, use_bigrams, restrict=cands)
        return cands.join(hits, "doc_id", "left_semi")

    return Modifier(
        rescore=rescore,
        ceiling=lambda n: (1.0, 0.0),
        strict=False,
        exact=lambda terms, mode, k, excl: engine.search_phrase(
            phrase_terms, k=k, use_bigrams=use_bigrams
        ),
        needs_positions="the phrase path",
    )


def boosts(engine, field_weights, recency) -> Modifier:
    mult, pruned_docs, max_mult = boost_multiplier(
        engine.catalog.read_table("documents"), field_weights, recency
    )

    def rescore(cands, terms_of):
        return F.broadcast(cands).join(pruned_docs, "doc_id").select(
            *_keys(cands), (F.col("score") * mult).alias("score"), "matched"
        )

    return Modifier(
        rescore=rescore,
        ceiling=lambda n: (max_mult, 0.0),
        strict=True,
        exact=lambda terms, mode, k, excl: engine.search_boosted(
            terms, mode=mode, k=k, field_weights=field_weights,
            recency=recency, exclude_terms=excl,
        ),
    )


def _initial_m(k: int, overfetch: int, dfs, mode: str, cutoff: int) -> int:
    """Over-fetch size: overfetch * k, or the WHOLE match set when its
    plan-time bound (rarest df under AND, sum(df) under OR) is below
    ``cutoff`` -- one pass is then trivially exact."""
    m = max(k * overfetch, k + 1)
    dfs = [int(d) for d in dfs]
    bound = min(dfs) if mode == "AND" else sum(dfs)
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
    mod: Modifier,
    overfetch: int,
    max_candidates: int,
    wand_kwargs: dict,
) -> DataFrame:
    """Single-query driver over wand_search (module doc: certificate and
    escalation). Returns (doc_id, score, matched), top k."""
    from .wand import wand_search

    spark = engine.spark
    empty = spark.createDataFrame([], "doc_id long, score double, matched int")
    plan = engine.plan_terms(terms)
    if plan.empty or (mode == "AND" and len(plan) < len(set(terms))):
        return empty
    if mod.single_term_final and len(plan) < 2:
        return wand_search(engine, terms, mode, k, **wand_kwargs)
    if mod.needs_positions:
        engine._require_positions(mod.needs_positions)
    excl = wand_kwargs.get("exclude_terms")
    cert = mod.ceiling(len(plan))
    if cert[0] <= 0.0:
        return mod.exact(terms, mode, k, excl)
    m = _initial_m(k, overfetch, plan["df"], mode, max_candidates)
    terms_of = {None: sorted(plan["term"])}
    while True:
        cands = wand_search(engine, terms, mode, m, **wand_kwargs)
        cand_rows = cands.collect()  # <= m rows (wand's own contract)
        if not cand_rows:
            return empty
        cand_df = spark.createDataFrame(cand_rows, cands.schema)
        top = (
            mod.rescore(cand_df, terms_of)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        rows = top.collect()
        if len(cand_rows) < m:
            break  # the candidate set is the whole match set
        bm25 = [r["score"] for r in cand_rows]  # desc (wand order)
        kth = _kth(rows, k)
        if _certified(mod, kth, min(bm25), cert):
            break
        m = _next_m(m, kth, bm25, cert, max_candidates)
        if m is None:
            return mod.exact(terms, mode, k, excl)
    return spark.createDataFrame(rows, top.schema) if rows else empty


def batch_rerank(
    engine,
    queries: list[dict],
    mod: Modifier,
    default_k: int,
    overfetch: int,
    shared_scan_max_rows: int,
    exhaustive_df_cutoff: int | None,
) -> DataFrame:
    """Batch driver over search_many (module doc: certificate). Returns
    (query_id, rank, doc_id, score, matched); per query the modifier's
    exact page. Driver materialization is bounded by sum_q m_q rows;
    ``exhaustive_df_cutoff`` defaults to a 200k-row collect budget split
    evenly across the batch, so the bound holds at any batch size."""
    spark = engine.spark
    if mod.needs_positions:
        engine._require_positions(mod.needs_positions)
    plan = engine.plan_terms(sorted({t for q in queries for t in q["terms"]}))
    df_of = dict(zip(plan["term"], plan["df"]))
    if exhaustive_df_cutoff is None:
        exhaustive_df_cutoff = max(2_000, 200_000 // max(1, len(queries)))
    meta: dict[str, _Query] = {}
    for q in queries:
        mode = q.get("mode", "AND")
        k = int(q.get("k", default_k))
        terms = sorted(set(q["terms"]))
        present = [t for t in terms if t in df_of]
        if not present or (mode == "AND" and len(present) < len(terms)):
            continue  # unanswerable -> no rows (search_terms contract)
        m = None  # None: the BM25 page is final (no rescoring)
        if not (mod.single_term_final and len(present) < 2):
            m = _initial_m(
                k, overfetch, [df_of[t] for t in present], mode,
                exhaustive_df_cutoff,
            )
        meta[str(q["query_id"])] = _Query(
            present, mode, k, m, mod.ceiling(len(present))
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
    cand_rows = engine.search_many(
        over, default_k=default_k, shared_scan_max_rows=shared_scan_max_rows
    ).collect() if over else []  # bounded: sum_q m_q
    final_rows = [tuple(r) for r in cand_rows if meta[r["query_id"]].m is None]
    bm25_of: dict[str, list[float]] = {}
    for r in cand_rows:
        if meta[r["query_id"]].m is not None:
            bm25_of.setdefault(r["query_id"], []).append(r["score"])
    if bm25_of:
        cand_df = spark.createDataFrame(
            [
                (r["query_id"], r["doc_id"], r["score"], r["matched"])
                for r in cand_rows
                if r["query_id"] in bm25_of
            ],
            "query_id string, doc_id long, score double, matched int",
        )
        terms_of = {qid: meta[qid].present for qid in bm25_of}
        rows_of: dict[str, list] = {}
        for r in mod.rescore(cand_df, terms_of).collect():
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
    out = spark.createDataFrame(final_rows, _BATCH_SCHEMA)
    for qid in sorted(fallback):
        q = meta[qid]
        out = out.unionByName(
            _rank_branch(qid, mod.exact(q.present, q.mode, q.k, None))
        )
    return out.orderBy("query_id", "rank")
