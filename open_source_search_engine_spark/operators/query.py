"""Query serving: BM25 top-k over the posting blocks (EP1 rebuild, SURVEY.md §3.1).

Reference pipeline: Query::set2 term parse -> Msg3a broadcast to all doc
shards -> per-shard PosdbTable::intersectLists (rarest-first candidate
intersection `PosdbTable.cpp:1935`, max-score pruning `:3910-3947`, TopTree
bounded top-k `TopTree.cpp:185`) -> Msg3a::mergeLists k-way merge with
score-desc / docid-asc tie-break (`Msg3a.cpp:807-811`).

Spark-first re-expression -- one scorer, one positional pivot and one
definition of each modifier, sharing one formula module (functions/bm25.py):

* every BM25 sum -- exact, batch (search_many), vote groups (synonyms,
  expansion, wildcards, fuzzy, UOR), the bigram boost, PRF's weighted
  requery and BM25F (search_fielded) -- is ONE pivoted aggregation,
  ``_aggregate_scores``: per-(term, doc) contributions idf * tf-norm (the
  plan's terms resolved in the driver, their blocks decoded by a
  partition-pruned scan; see ``_contributions``) pivot into one
  conditional-sum column per term slot, folded as a fixed list of
  (slot, weight) entries in a CANONICAL order -- float64 sums are
  bit-stable across partitionings (SURVEY.md §7.4.1), which search_after's
  cursor relies on. The page is ``_page``: ``ORDER BY score DESC, doc_id
  ASC LIMIT k``, which Spark executes as TakeOrderedAndProject = partial
  per-partition top-k + final merge, exactly the reference's TopTree ->
  Msg3a shape (SURVEY.md A9/T1/T2).

* every positional read is ONE JVM pivot, ``_positions``: per doc (or
  per (query, doc) for a batch), one positions array per term slot. Phrase
  matching (``_phrase_postings``: the intersection of each slot's
  positions shifted by its slot index, behind every quoted phrase, phrase
  member and bigram), NEAR (the in-order gap) and the proximity bonus
  (pair min-distances) are SQL array lambdas over it.

* ``wand`` (block-max pruning, wand.py) chooses block groups in the
  driver from their upper bounds and scores them with the exact path
  (restricted runs of ``_score_plan``), so results are identical.

* a plan whose postings fit under WAND_DF_CUTOFF never reaches Spark:
  ``_driver_pages`` reads its blocks with Arrow in the driver and folds
  them with numpy in the same canonical order, bit-identical to
  ``_aggregate_scores`` -- the reference answers a query in one process,
  over termlists it reads itself (Msg39 -> PosdbTable, Msg3a merge).

``route`` is the one function that picks the driver, the Spark exact path
or WAND for a query, from its plan; every routing cutoff is a constant
next to it.

Proximity, phrase and boosts are each defined once, in rerank.py, as a
``Modifier``: the exact path (search_proximity, search_phrase,
search_boosted) is its no-over-fetch driver, and the WAND and batch paths
share one certified over-fetch re-rank.

AND semantics = doc must match every term group (`PosdbTable.cpp:2049`);
OR = any term; NOT (-term) = anti-join (`Query.h:191-193`).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyarrow.fs import FileSystem
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..functions.bm25 import (
    BM25Params, idf as bm25_idf, idf_sql, sql_double, tf_norm, tf_norm_sql,
)
from ..functions.codec import decode_blocks
from ..functions.tokenizer import tokenize
from ..session import _local_frame
from .index_build import _check_block_format


@dataclass
class QueryResult:
    df: DataFrame  # (doc_id, score, matched)


_BATCH_SCHEMA = (
    "query_id string, rank long, doc_id long, score double, matched int"
)
_SCORED = "doc_id long, score double, matched int"
_POSTINGS = "doc_id long, tf int, dl int"


def _unanswerable(present, query_terms: list[str], mode: str) -> bool:
    """A query that can match nothing: none of its terms is in the corpus,
    or it is an AND with an absent term. ``present`` is its plan (or the
    list of its terms the dictionary holds)."""
    return len(present) == 0 or (
        mode == "AND" and len(present) < len(set(query_terms))
    )


# -- routing: every single-query strategy is chosen by ``route``, and every
#    cutoff it and the batch planner use is one of these constants. They are
#    read at call time, so a test can monkeypatch them.

#: a query whose planned decode volume sum(df) (its excluded terms' df
#: included) is at most this runs in the driver (SearchEngine._driver_pages)
WAND_DF_CUTOFF = 1_000_000
#: an AND query whose rarest df is at most this is exact: its candidate
#: set is that small, so pruning cannot save more than the run it costs
RAREST_DF_CUTOFF = 100_000
#: a batch query whose sum(df) exceeds this leaves search_many's shared
#: scan for its own union branch
SHARED_SCAN_MAX_ROWS = 3_000_000
#: block-max WAND's run A scores this many highest-bound block groups
PHASE_A_GROUPS = 8
#: a coarse block overlaps at most ~2^this many WAND groups (plus one
#: doubling headroom for per-partition granularity drift)
MAX_GROUP_SPLIT = 6
#: the batch re-rank over-fetches a query's whole match set when its match
#: bound is below max(RERANK_MIN_EXHAUSTIVE, RERANK_COLLECT_BUDGET //
#: n_queries), so a batch's whole-match-set fetches collect about
#: RERANK_COLLECT_BUDGET rows in the driver
RERANK_COLLECT_BUDGET = 200_000
RERANK_MIN_EXHAUSTIVE = 2_000


def match_bound(dfs, mode: str) -> int:
    """The plan-time bound on a query's match set: its rarest df under
    AND, sum(df) under OR."""
    dfs = [int(d) for d in dfs]
    return min(dfs) if mode == "AND" else sum(dfs)


def route(
    plan, mode: str, wand_df_cutoff: int | None = None, exclude_df: int = 0
) -> tuple[str, str]:
    """A single query's strategy, from its plan alone (no job): (route,
    reason).

    * "driver" (SearchEngine._driver_pages: one Arrow read and a numpy
      fold, no Spark job) with reason "sum_df" when the postings it reads,
      sum(df) plus the excluded terms' ``exclude_df``, are at most
      ``wand_df_cutoff`` (WAND_DF_CUTOFF by default);
    * "exact" (the Spark exact path) with reason "rarest_df" when an AND
      query's rarest df is at most RAREST_DF_CUTOFF;
    * otherwise "wand" (block-max pruning, wand.wand_search) with reason
      "pruning".

    ``plan`` is the query's plan, or any mapping whose "df" holds its
    present terms' dfs. The reference sizes its intersection strategy the
    same way, off per-term list sizes before any termlist is read
    (rarest-first seeding, `PosdbTable.cpp:1998`), and answers a query in
    one process over termlists it reads itself (Msg39 -> PosdbTable)."""
    dfs = [int(d) for d in plan["df"]]
    cutoff = WAND_DF_CUTOFF if wand_df_cutoff is None else wand_df_cutoff
    if sum(dfs) + int(exclude_df) <= cutoff:
        return "driver", "sum_df"
    if mode == "AND" and match_bound(dfs, mode) <= RAREST_DF_CUTOFF:
        return "exact", "rarest_df"
    return "wand", "pruning"


class _BatchQuery(NamedTuple):
    """One answerable batch query after planning (SearchEngine._plan_batch):
    its present terms in ascending order and their dfs, its mode and k, and
    where search_many answers it: "driver" (route's driver route), "shared"
    (the shared scan) or "branch" (its own union branch)."""

    qid: str
    present: list[str]
    dfs: list[int]
    mode: str
    k: int
    via: str


class _DriverQuery(NamedTuple):
    """One query for the driver route (SearchEngine._driver_pages): its
    (term_id, idf) slots in term-string order (the canonical fold's order),
    its mode and k, the term ids whose docs it excludes, and its cursor."""

    slots: list[tuple[int, float]]
    mode: str
    k: int
    exclude_ids: tuple[int, ...] = ()
    after: tuple[float, int] | None = None


def _page(
    scored: DataFrame, k: int, after: tuple[float, int] | None = None
) -> DataFrame:
    """The result page of a scored (doc_id, score, ...) frame: its top k by
    score desc, doc_id asc, strictly after the cursor ``after`` = (score,
    doc_id) of the previous page's last row when one is given (see
    SearchEngine.search_after). The cursor filters before the top-k, so a
    deep page costs what page 1 costs."""
    if after is not None:
        s0, d0 = sql_double(after[0]), int(after[1])
        scored = scored.where(
            f"score < {s0} OR (score = {s0} AND doc_id > {d0})"
        )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(int(k))


def _rank_branch(query_id: str, top_k: DataFrame) -> DataFrame:
    """Tag one query's page with (query_id, rank) as a batch union branch.

    ``top_k`` must already be ordered and limited to the query's k rows
    (a search_* page): the unpartitioned rank Window below then sorts at
    most k rows in one task, never a candidate set."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top_k.select(
        F.lit(query_id).alias("query_id"),
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "score",
        "matched",
    )


def decode_postings(
    postings: DataFrame,
    term_ids: list[int],
    include_positions: bool = False,
    blocks: str | None = None,
) -> DataFrame:
    """The ``term_ids``' blocks of a postings table, exploded back to
    (term_id, doc_id, tf, dl[, positions], seg_seq) rows in the JVM: the
    blocks are list columns (format: functions/codec.py), so one
    ``arrays_zip`` + ``inline`` replaces any Python decode hop. ``blocks``
    (a SQL predicate over block columns) keeps only the matching blocks,
    before ``inline``, so skipped blocks are never exploded."""
    pos = ", positions" if include_positions else ""
    ids = ", ".join(str(int(t)) for t in term_ids)
    where = f"term_id IN ({ids})" if ids else "false"
    if blocks is not None:
        where = f"{where} AND ({blocks})"
    return postings.where(where).selectExpr(
        "term_id",
        f"inline(arrays_zip(doc_ids, tfs, dls{pos})) AS (doc_id, tf, dl{pos})",
        "seg_seq",
    )


class SearchEngine:
    """Serves BM25 queries against a built index (catalog tables)."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        params: BM25Params | None = None,
        tokenizer_mode: str = "unicode",
    ):
        self.spark = spark
        self.catalog = catalog
        self.params = params or BM25Params()
        self.tokenizer_mode = tokenizer_mode
        self._postings = catalog.read_table("postings")
        _check_block_format(self._postings)
        self._term_stats = catalog.read_table("term_stats")
        #: table -> (frame, its snapshot files) for _snapshot_rows, which
        #: reads the files with Arrow; a table that is not a file scan
        #: (Iceberg's DSv2 tables) lists none and is read by Spark. On a
        #: parquet catalog nothing here launches a Spark job.
        self._snapshots = {
            name: (frame, frame.inputFiles())
            for name, frame in (
                ("term_stats", self._term_stats),
                ("postings", self._postings),
                *(
                    (name, catalog.read_table(name))
                    for name in ("corpus_stats", "tombstones", "hot_meta")
                    if catalog.table_exists(name)
                ),
            )
        }
        row = self._snapshot_rows("corpus_stats").to_pylist()[0]
        self.n_docs = int(row["n_docs"])
        self.avgdl = float(row["avgdl"])
        self.store_positions = bool(row["store_positions"])
        #: term -> (term_id, df, max_salt_bits) | None for confirmed-absent
        #: (the g_termFreqCache analog, `Posdb.cpp:306`; snapshot-bound)
        self._plan_cache: dict[str, tuple | None] = {}
        #: phrase string -> (persisted hits frame, df); bounded FIFO so a
        #: long-lived serving engine answering many expanded queries with
        #: n>=3-word phrase members never accumulates unbounded cached
        #: blocks (evicted entries are unpersisted). Snapshot-bound like
        #: _plan_cache.
        self._phrase_hits_cache: dict[str, tuple[DataFrame, int]] = {}
        self._phrase_hits_cache_max = 32
        #: serve-time result-page LRU (search_cached): (terms, mode, k,
        #: exclusions) -> (collected rows, schema). Snapshot-bound like
        #: everything above; each entry is <= k rows.
        from collections import OrderedDict

        self._serp_cache: OrderedDict = OrderedDict()
        self._serp_cache_max = 256
        # ranged tombstones from incremental updates (operators/updates.py):
        # ignore a doc's postings from segments with seg_seq <= upto_seq.
        # The Spark paths join the frame; the driver route searches the
        # (doc_id ascending, upto_seq) arrays (one row per doc)
        self._tombstones = self._tomb_arrays = None
        if "tombstones" in self._snapshots:
            t = self._snapshot_rows("tombstones", ["doc_id", "upto_seq"])
            if t.num_rows:
                self._tombstones = self._snapshots["tombstones"][0]
                t = t.sort_by("doc_id")
                self._tomb_arrays = tuple(
                    t.column(c).to_numpy() for c in ("doc_id", "upto_seq")
                )
        # high-frequency-term shortcut cache (operators/hot_cache.py);
        # consulted only while FRESH: built from the current postings
        # snapshot (any later update, merge or rebuild commits a new one),
        # and under this engine's k1/b -- the cached within-term ranking is
        # the tf_norm order, which depends on them, so a cache built under
        # different params would silently serve a wrongly-selected top-k
        self._hot_topk = None
        self._hot_meta: dict | None = None
        if "hot_meta" in self._snapshots and catalog.table_exists("hot_topk"):
            meta = self._snapshot_rows("hot_meta").to_pylist()[0]
            if (
                meta.get("postings_snapshot") == catalog.snapshot_id("postings")
                and float(meta["k1"]) == self.params.k1
                and float(meta["b"]) == self.params.b
            ):
                self._hot_meta = meta
                self._hot_topk = catalog.read_table("hot_topk")

    # ------------------------------------------------------------------
    def plan_terms(self, query_terms: list[str]) -> pd.DataFrame:
        """Query preamble: resolve terms -> (term, term_id, df, idf).

        The analog of Msg3a::setTermFreqWeights (`Msg3a.cpp:1011-1033`):
        per-term df is read from term_stats (exact, not the reference's
        page-map estimate). Duplicate query terms are dropped (`Query.h:137`
        IGNORE_REPEAT). Returns terms sorted by df ascending (rarest first,
        `PosdbTable.cpp:1998` -- drives candidate generation order).

        Lookups memoize per engine instance -- the reference caches term
        freqs for 500 s (`Posdb.cpp:306` g_termFreqCache); an engine is
        bound to one index snapshot, so its cache never goes stale. UNSEEN
        terms (confirmed-absent ones are cached as misses) are read in the
        driver by _snapshot_rows: no plan costs a Spark job on a catalog
        whose tables are files.
        """
        terms = sorted(set(query_terms))
        cols = ["term", "term_id", "df", "max_salt_bits", "min_salt_bits"]
        missing = [t for t in terms if t not in self._plan_cache]
        if missing:
            fetched = self._snapshot_rows("term_stats", cols, "term", missing)
            for t, *row in zip(*fetched.to_pydict().values()):
                self._plan_cache[t] = tuple(row)
            for t in missing:
                self._plan_cache.setdefault(t, None)  # confirmed absent
        rows = pd.DataFrame(
            [(t, *self._plan_cache[t]) for t in terms if self._plan_cache[t]],
            columns=cols,
        )
        rows["idf"] = bm25_idf(rows["df"].to_numpy(np.float64), self.n_docs)
        return rows.sort_values(["df", "term"]).reset_index(drop=True)

    def _snapshot_rows(
        self,
        table: str,
        cols: list[str] | None = None,
        key: str | None = None,
        values: list | None = None,
    ) -> pa.Table:
        """``cols`` (None: all) of the rows of this engine's ``table``
        snapshot (a key of ``_snapshots``) whose ``key`` is in ``values``
        (no ``key``: every row), read in the driver with Arrow from the
        snapshot's own files: no Spark job. The filter carries the values'
        range too: Arrow prunes row groups by their statistics for a range,
        never for ``isin`` alone. A catalog whose table lists no files
        (Iceberg) is read with a filtered Spark scan instead."""
        frame, files = self._snapshots[table]
        if not files:
            if key is not None:
                frame = frame.where(F.col(key).isin(values))
            return (frame if cols is None else frame.select(*cols)).toArrow()
        where = None
        if key is not None:
            field = pc.field(key)
            where = field.isin(values)
            if values:
                where = (field >= min(values)) & (field <= max(values)) & where
        fs = FileSystem.from_uri(files[0])[0]
        return pads.dataset(
            [FileSystem.from_uri(f)[1] for f in files], filesystem=fs
        ).to_table(columns=cols, filter=where)

    def tokenize_query(self, query: str) -> list[str]:
        return tokenize(query, self.tokenizer_mode)

    # ------------------------------------------------------------------
    def decoded_postings(
        self, term_ids: list[int], include_positions: bool = False
    ) -> DataFrame:
        """Partition-pruned scan of the query terms' blocks, exploded back
        to postings (decode_postings), less the ones this engine's
        tombstones annihilate."""
        return self._decoded(term_ids, include_positions)

    def _decoded(
        self,
        term_ids: list[int],
        include_positions: bool = False,
        blocks: str | None = None,
    ) -> DataFrame:
        """decoded_postings over only the blocks that match the SQL
        predicate ``blocks`` (None: every block of the terms)."""
        decoded = decode_postings(
            self._postings, term_ids, include_positions, blocks
        )
        if self._tombstones is not None:
            decoded = (
                decoded.join(
                    F.broadcast(self._tombstones), "doc_id", "left_outer"
                )
                .where("upto_seq IS NULL OR seg_seq > upto_seq")
                .drop("upto_seq")
            )
        return decoded

    # ------------------------------------------------------------------
    def score_terms(
        self,
        query_terms: list[str],
        mode: str = "AND",
        exclude_terms: list[str] | None = None,
        filter_docs: DataFrame | None = None,
    ) -> DataFrame:
        """Exact BM25 scoring WITHOUT top-k selection: every matching doc as
        (doc_id, score, matched), unordered. The building block for
        consumers that re-rank or window-cap the full candidate set (e.g.
        the per-source cap, SURVEY.md A6) -- those must NOT pay a global
        sort first, so the orderBy/limit lives only in search_terms.

        ``filter_docs`` (a doc_id DataFrame) restricts the RESULT SET while
        keeping global statistics -- the reference's site-whitelist shape
        (`Msg2.h:13-14`, SURVEY.md F6/F7). The semi-join applies BEFORE
        scoring, so the plan never ranks unrestricted results.

        Planning launches no Spark job: the dictionary is read in the
        driver (plan_terms) and the per-term constants (idf, fold slot)
        are literals in the plan's SQL expressions, not a broadcast frame.
        The expressions are SQL text, so building the plan costs a JVM
        call per operator, not per expression node.
        """
        plan = self.plan_terms(query_terms)
        if _unanswerable(plan, query_terms, mode):
            return _local_frame(self.spark, _SCORED)
        return self._score_plan(plan, mode, exclude_terms, filter_docs)

    def _score_plan(
        self,
        plan: pd.DataFrame,
        mode: str,
        exclude_terms: list[str] | None = None,
        filter_docs: DataFrame | None = None,
        blocks: str | None = None,
    ) -> DataFrame:
        """score_terms over a resolved, non-empty plan; ``blocks`` restricts
        the decode (_decoded) -- block-max WAND's runs score through here."""
        contrib = self._contributions(plan, blocks)
        if filter_docs is not None:
            contrib = contrib.join(
                filter_docs.select("doc_id"), "doc_id", "left_semi"
            )
        scored = self._aggregate_scores(contrib, len(plan))
        if mode == "AND":
            scored = scored.where(f"matched = {len(plan)}")
        return self._exclude(scored, exclude_terms)

    def _exclude(
        self, scored: DataFrame, exclude_terms: list[str] | None
    ) -> DataFrame:
        """'-term' exclusion (`Query.h:191-193`): anti-join ``scored``
        against every doc holding any excluded term."""
        if not exclude_terms:
            return scored
        ex_plan = self.plan_terms(exclude_terms)
        if ex_plan.empty:
            return scored
        ex_docs = self.decoded_postings(
            [int(t) for t in ex_plan["term_id"]]
        ).select("doc_id").distinct()
        return scored.join(ex_docs, "doc_id", "left_anti")

    def search_terms(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        exclude_terms: list[str] | None = None,
        filter_docs: DataFrame | None = None,
    ) -> DataFrame:
        """Exact BM25 top-k. Returns (doc_id, score, matched) DataFrame,
        ordered score desc / doc_id asc, limited to k.

        A plan that ``route`` sends to the driver is answered there
        (_driver_pages: no Spark job); any other plan, and every
        ``filter_docs`` call, runs the Spark exact path, which executes the
        page as TakeOrderedAndProject: per-partition partial top-k + tiny
        final merge, the TopTree -> Msg3a shape. Unrestricted single-term
        queries on precomputed hot terms answer from the shortcut cache
        (hot_cache.py) first -- bit-identical results, no postings decode
        (plan-gated)."""
        if filter_docs is None:
            return self._search(query_terms, mode, k, exclude_terms)
        return _page(
            self.score_terms(query_terms, mode, exclude_terms, filter_docs), k
        )

    def _search(
        self,
        query_terms: list[str],
        mode: str,
        k: int,
        exclude_terms: list[str] | None = None,
        after: tuple[float, int] | None = None,
        wand_df_cutoff: int | None = None,
        wand: bool = False,
    ) -> DataFrame:
        """The exact page strictly after ``after`` (search_after), on the
        route ``route`` picks from the plan (``wand_df_cutoff`` overrides
        its cutoff): the driver, the Spark exact path, or -- when ``wand``
        (search_auto) -- block-max WAND; without ``wand`` a WAND plan runs
        the Spark exact path. The hot-term cache answers an unrestricted
        page 1 of one hot term before either exact path."""
        plan = self.plan_terms(query_terms)
        if _unanswerable(plan, query_terms, mode):
            return _local_frame(self.spark, _SCORED)
        ex_plan = self.plan_terms(exclude_terms) if exclude_terms else None
        ex_ids = () if ex_plan is None else tuple(map(int, ex_plan["term_id"]))
        ex_df = 0 if ex_plan is None else int(ex_plan["df"].sum())
        via = route(plan, mode, wand_df_cutoff, ex_df)[0]
        if via == "wand" and wand:
            from .wand import wand_search

            return wand_search(
                self, query_terms, mode, k, exclude_terms=exclude_terms
            )
        if len(set(query_terms)) == 1 and not exclude_terms and after is None:
            fast = self._hot_single_term(query_terms[0], k)
            if fast is not None:
                return fast
        if via == "driver":
            by_term = sorted(zip(plan["term"], plan["term_id"], plan["idf"]))
            page = self._driver_pages([_DriverQuery(
                [(int(t), float(i)) for _, t, i in by_term], mode, k, ex_ids,
                after,
            )])[0]
            return _local_frame(self.spark, _SCORED, page)
        return _page(self._score_plan(plan, mode, exclude_terms), k, after)

    def _live_postings(self, term_ids: list[int]) -> tuple[np.ndarray, ...]:
        """(term_id, doc_id, tf, dl) of ``term_ids``' live postings as numpy
        arrays sorted by term_id, read in the driver: one Arrow read of
        their blocks (_snapshot_rows), flattened by codec.decode_blocks,
        less the postings this engine's tombstones annihilate (a doc's
        postings from segments with seg_seq <= its upto_seq)."""
        blocks = self._snapshot_rows(
            "postings", ["term_id", "doc_ids", "tfs", "dls", "seg_seq"],
            "term_id", term_ids,
        )
        doc, tf, dl, _, counts = decode_blocks(blocks, False)

        def per_posting(name: str) -> np.ndarray:
            return np.repeat(blocks.column(name).to_numpy(), counts)

        tid = per_posting("term_id")
        if self._tomb_arrays is not None:
            t_doc, t_upto = self._tomb_arrays
            i = np.minimum(np.searchsorted(t_doc, doc), t_doc.size - 1)
            live = (t_doc[i] != doc) | (per_posting("seg_seq") > t_upto[i])
            tid, doc, tf, dl = tid[live], doc[live], tf[live], dl[live]
        order = np.argsort(tid, kind="stable")
        return tid[order], doc[order], tf[order], dl[order]

    def _driver_pages(self, queries: list[_DriverQuery]) -> list[list[tuple]]:
        """The driver route: each query's exact page as (doc_id, score,
        matched) rows, from ONE Arrow read of every query's and every
        excluded term's blocks (_live_postings) and a numpy fold -- no
        Spark job, and bit-identical to the Spark exact path:

        * contrib = idf * tf_norm with bm25's numpy formulas, whose
          operations are the SQL text's (tf_norm_sql), in the same order;
        * per doc, 0.0 + c_slot0 + c_slot1 ... in term-string order, an
          absent slot adding 0.0: _aggregate_scores' canonical fold;
          ``matched`` counts the doc's contribution rows, and AND keeps
          matched = n;
        * a doc holding an excluded term is dropped ('-term'), the cursor
          keeps (score < s0) OR (score = s0 AND doc_id > d0), and the page
          is the top k by (score desc, doc_id asc).

        Memory bound: the read holds the postings of the queries' terms and
        excluded terms, at most their summed dictionary df -- which
        ``route`` caps at WAND_DF_CUTOFF for one query -- plus the
        superseded versions updates have not compacted away yet; each
        query's fold holds its own terms' postings."""
        ids = sorted(
            {t for q in queries for t, _ in q.slots}
            | {t for q in queries for t in q.exclude_ids}
        )
        tid, doc, tf, dl = self._live_postings(ids)
        lo = dict(zip(ids, np.searchsorted(tid, ids, "left").tolist()))
        hi = dict(zip(ids, np.searchsorted(tid, ids, "right").tolist()))
        norm = tf_norm(tf, dl, self.avgdl, self.params)
        pages = []
        for q in queries:
            spans = [(lo[t], hi[t]) for t, _ in q.slots]
            udoc, inv = np.unique(
                np.concatenate([doc[a:b] for a, b in spans]),
                return_inverse=True,
            )
            score = np.zeros(udoc.size)
            start = 0
            for (_, idf), (a, b) in zip(q.slots, spans):
                rows = inv[start:start + b - a]
                score += np.bincount(rows, idf * norm[a:b], udoc.size)
                start += b - a
            matched = np.bincount(inv, minlength=udoc.size)
            keep = (
                matched == len(q.slots) if q.mode == "AND"
                else np.ones(udoc.size, dtype=bool)
            )
            if q.exclude_ids:
                ex = np.concatenate([doc[lo[t]:hi[t]] for t in q.exclude_ids])
                keep &= ~np.isin(udoc, ex)
            if q.after is not None:
                s0, d0 = float(q.after[0]), int(q.after[1])
                keep &= (score < s0) | ((score == s0) & (udoc > d0))
            top = np.flatnonzero(keep)
            k = max(int(q.k), 0)
            if top.size > k > 0:
                kth = np.partition(score[top], top.size - k)[top.size - k]
                top = top[score[top] >= kth]
            top = top[np.lexsort((udoc[top], -score[top]))][:k]
            pages.append(list(zip(
                udoc[top].tolist(), score[top].tolist(), matched[top].tolist()
            )))
        return pages

    def search_cached(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """Serve-time result-page cache (the reference caches at this layer
        too: serp/summary caches `SummaryCache.cpp`, `Msg40.cpp`; docid
        slices `Msg17.cpp`): an identical (terms, mode, k, exclusions)
        request within one engine's lifetime returns the collected page
        from a bounded driver-side LRU instead of re-running the top-k job.

        No invalidation logic is needed because a SearchEngine is
        SNAPSHOT-BOUND: ``_postings``/``_term_stats`` resolve to the
        catalog snapshot read at construction and updates only become
        visible through a NEW engine (the pattern every update test uses),
        so a cached page can never go stale within the instance that
        cached it — same lifetime contract as ``_plan_cache`` and the
        phrase-hits cache above.

        Driver memory is bounded: each entry is <= k result rows; the LRU
        holds at most ``_serp_cache_max`` entries. A hit's DataFrame plans
        as a LocalTableScan (no postings scan — gated), rows bit-identical
        to the uncached path.
        """
        key = (
            tuple(query_terms),
            mode,
            int(k),
            tuple(exclude_terms or ()),
        )
        hit = self._serp_cache.get(key)
        if hit is not None:
            self._serp_cache.move_to_end(key)
            rows, schema = hit
            return _local_frame(self.spark, schema, rows)
        res = self.search_terms(
            query_terms, mode=mode, k=k, exclude_terms=exclude_terms
        )
        rows = res.collect()
        self._serp_cache[key] = (rows, res.schema)
        if len(self._serp_cache) > self._serp_cache_max:
            self._serp_cache.popitem(last=False)
        return _local_frame(self.spark, res.schema, rows)

    def search_auto(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        exclude_terms: list[str] | None = None,
        wand_df_cutoff: int | None = None,
    ) -> DataFrame:
        """Adaptive single-query strategy choice: the driver route, the
        Spark exact scan or block-max WAND (wand.wand_search), as ``route``
        decides from the plan before any termlist is touched (plan_terms
        reads the dictionary in the driver: no Spark job). ``wand_df_cutoff``
        overrides route's WAND_DF_CUTOFF. Every route is rank-identical to
        search_terms (the driver and WAND sides are gated bit-equal), so
        results do NOT depend on the route -- only the plan shape does."""
        return self._search(
            query_terms, mode, k, exclude_terms, None, wand_df_cutoff, True
        )

    def _hot_single_term(self, term: str, k: int) -> DataFrame | None:
        """Shortcut-cache path for one term (HighFrequencyTermShortcuts.cpp
        analog): serve top-k from hot_topk, recomputing the score with the
        live idf/avgdl through the exact path's float64 expression -- the
        within-term ORDER is tf_norm desc, doc_id asc both at build and
        here (idf is a positive per-term constant), so results are
        bit-identical to the full scan. Returns None when inapplicable
        (cache cold/stale, term not hot, or k beyond the cached depth)."""
        if self._hot_topk is None or self._hot_meta is None:
            return None
        plan = self.plan_terms([term])
        if plan.empty:
            return None
        df_t = int(plan["df"].iloc[0])
        if df_t < int(self._hot_meta["min_df"]):
            return None
        if k > int(self._hot_meta["cache_k"]) and df_t > int(
            self._hot_meta["cache_k"]
        ):
            return None  # cache not deep enough for this k

        tid = int(plan["term_id"].iloc[0])
        idf = sql_double(plan["idf"].iloc[0])
        tf_norm = tf_norm_sql("tf", "dl", self.avgdl, self.params)
        return _page(
            self._hot_topk.where(f"term_id = {tid} AND rnk <= {int(k)}")
            .selectExpr(
                "doc_id", f"{idf} * {tf_norm} AS score", "1 AS matched"
            ),
            k,
        )

    def search_boosted(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        field_weights: dict[str, tuple[dict[str, float], float]] | None = None,
        recency: tuple[str, float, float] | None = None,
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """Doc-level score multipliers from document attributes — the
        reference's post-term-scoring boosts applied at the same point in
        the pipeline: after per-term BM25 contributions are summed per doc,
        before top-k selection (`PosdbTable.cpp:4095-4122` multiplies the
        final doc score by siteRank and same/unknown-language boosts;
        hashgroup/field weights are config parms `Parms.cpp:3644-3790`,
        `ScoringWeights.cpp:19-53`; page temperature is another doc-level
        multiplier).

        ``field_weights`` maps a documents-table column to
        ``({value: weight}, default_weight)`` — e.g.
        ``{"lang": ({"en": 1.0}, 0.4)}`` is the same-language boost
        (query language matches → full weight, everything else damped),
        ``{"source": ({"src0": 1.4}, 1.0)}`` is the siterank/hashgroup
        shape (trusted sources up-weighted, unlisted sources neutral).

        ``recency`` is ``(ts_col, now_epoch_seconds, halflife_days)`` —
        the page-temperature analog for transcript corpora: score ×
        0.5^(age_days/halflife). Age clamps at 0 so future-dated rows are
        never boosted above 1. ``now`` is an explicit parameter (not the
        wall clock) so results are deterministic and testable.

        Plan shape (rerank.exact over rerank.boosts, the multiplier the
        WAND and batch paths share): candidate set (score_terms, no top-k
        yet) hash-joined to the doc store pruned to doc_id + the boost
        columns only, the multiplier a pure JVM CASE/pow projection
        (whole-stage codegen, no Python), then orderBy+limit →
        TakeOrderedAndProject. The join
        is the search_sorted/facets shape (J4 family): at 100 TB it is a
        shuffle hash join on doc_id of candidates × pruned doc columns —
        never the full doc rows, never a global sort.

        Returns (doc_id, score, matched) ordered score desc / doc_id asc,
        limited to k. With no boosts configured this is exactly
        search_terms (identity gate in tests/test_boosted_search.py).
        """
        from . import rerank

        return rerank.exact(
            self, query_terms, mode, k, exclude_terms,
            rerank.boosts(self, field_weights, recency),
        )

    def search_proximity(
        self,
        query_terms: list[str],
        k: int = 10,
        prox_weight: float = 1.0,
        mode: str = "AND",
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """BM25 with an optional term-pair proximity boost.

        Reference: proximity is CORE ranking there -- the sliding-window
        minimum term-pair score (`PosdbTable.cpp:3404-3620`
        getMinTermPairScoreSlidingWindow; pair formula `:744-810` scores
        ~ 1/(dist+1)). Our BM25 engine keeps base ranking position-free
        (north rule) and exposes the pair-distance boost as an OPTIONAL
        additive component over the already-stored position arrays:

          score = bm25 + prox_weight * sum_{a<b} 1 / (min |p_a - p_b| + 1)

        min over all occurrence pairs of the two terms in the doc; absent
        pairs contribute 0; pair bonuses fold in lexicographic term-pair
        order inside one float64 accumulator (deterministic). prox_weight=0
        is rank-identical to search_terms (gated). Positions decode only
        for the query's terms -- the scan prunes on term_id and reads the
        positions column only here.

        The bonus is SQL over the one positional pivot (_positions): no
        Python worker. A query with fewer than two present terms has no
        pair and gets search_terms' page; so does prox_weight=0 (gated).
        The rescoring is rerank.proximity, shared with the WAND and batch
        paths."""
        from . import rerank

        return rerank.exact(
            self, query_terms, mode, k, exclude_terms,
            rerank.proximity(self, prox_weight),
        )

    def search_synonyms(
        self,
        query_terms: list[str],
        synonyms: dict[str, list[str]] | None = None,
        mode: str = "AND",
        k: int = 10,
        syn_weight: float = 0.9,
    ) -> DataFrame:
        """Query-side synonym/word-form expansion at plan time.

        Reference: `Synonyms.cpp:59` getSynonyms expands each query word,
        `Query.cpp:414-445` applies it under queryExpansion, and the
        synonym-form posting keys score with a 0.9 weight
        (`PosdbTable.cpp:5863-5940` synonym weight; SURVEY.md X5). The
        system test `test/system/test_search_terms.py:8` pins the visible
        contract: a query term matches documents containing ONLY its
        expansion.

        Each query term t becomes the vote group {t} ∪ synonyms[t] -- the
        J2 sub-list union (`PosdbTable.cpp:1426` setQueryTermInfo: term ∪
        bigrams ∪ synonyms counted as ONE listGroupNum vote). matched =
        number of groups with any member present; AND requires every group.
        score = sum over (group, member-present) of weight * BM25-contrib,
        weight 1.0 for the base term and ``syn_weight`` for alternatives,
        accumulated in fixed (group, member) order (float64-stable).
        Members absent from the corpus drop out of their group; a group
        with NO member in the corpus is unanswerable under AND.
        """
        from ..functions.synonyms import expand

        bases = sorted(set(query_terms))
        groups = {
            t: [
                (m, 1.0 if m == t else float(syn_weight))
                for m in expand(t, synonyms)
            ]
            for t in bases
        }
        return _page(self._vote_group_scores(groups, mode), k)

    def _vote_group_scores(
        self,
        groups: dict[str, list[tuple[str, float]]],
        mode: str = "AND",
        boosts: list[tuple[str, float]] = (),
    ) -> DataFrame:
        """The J2 vote-group scorer shared by search_synonyms,
        search_expanded, the wildcard/fuzzy expansions and UOR: ``groups``
        maps group_key -> [(member term, weight)] (`PosdbTable.cpp:1426`
        setQueryTermInfo listGroupNum). Returns (doc_id, score, matched)
        UNORDERED; matched counts groups with any member present; AND
        filters to every viable group, OR to at least one. Score
        accumulates weight * BM25-contrib in fixed sorted (group, member,
        weight) order, then each ``boosts`` entry (phrase, weight) in the
        given order -- additive components that are not votes (the
        bigram boost) -- all in one _aggregate_scores fold.

        A member containing a space is a MULTI-WORD PHRASE member (the
        `html` -> "hypertext markup language" abbreviation golden,
        `Synonyms.cpp:59` + `test/system/test_search_terms.py:8`): it
        matches by positional adjacency (phrase_postings / the indexed
        bigram termlist) and contributes idf(df_phrase) * tf_norm of the
        phrase occurrence count, weighted like any other alternative. A
        phrase absent from the corpus drops out of its group exactly like
        an absent term."""
        bases = sorted(groups)
        members = {m for g in groups.values() for m, _w in g}
        plan = self.plan_terms(sorted(m for m in members if " " not in m))
        # pivot slots: the plan's terms in _contributions' order, then the
        # phrases present in the corpus
        slot_of = {t: i for i, t in enumerate(sorted(plan["term"]))}
        contribs = [] if plan.empty else [
            self._contributions(plan).select("doc_id", "slot", "contrib")
        ]
        tf_norm = tf_norm_sql("tf", "dl", self.avgdl, self.params)
        phrases = {m for m in members if " " in m} | {p for p, _ in boosts}
        for ph in sorted(phrases):
            hits, df_ph = self._phrase_stats(ph)
            if df_ph > 0:
                idf = sql_double(bm25_idf(float(df_ph), self.n_docs))
                contribs.append(hits.selectExpr(
                    "doc_id", f"{len(slot_of)} AS slot",
                    f"{idf} * {tf_norm} AS contrib",
                ))
                slot_of[ph] = len(slot_of)
        viable = [
            [(m, float(w)) for m, w in groups[t] if m in slot_of]
            for t in bases
        ]
        if not any(viable) or (mode == "AND" and not all(viable)):
            return _local_frame(self.spark, _SCORED)
        contrib = contribs[0]
        for c in contribs[1:]:
            contrib = contrib.unionByName(c)
        entries = [
            (slot_of[m], w)
            for _t, m, w in sorted(
                (t, m, w) for t, g in zip(bases, viable) for m, w in g
            )
        ] + [(slot_of[p], float(w)) for p, w in boosts if p in slot_of]
        votes = [[slot_of[m] for m, _w in g] for g in viable if g]
        scored = self._aggregate_scores(contrib, entries, votes)
        return scored.where(
            f"matched = {len(votes)}" if mode == "AND" else "matched > 0"
        )

    def _phrase_stats(self, phrase: str) -> tuple[DataFrame, int]:
        """(hits, df) of a space-joined phrase: hits = phrase_postings of
        its words; df from term_stats when the index carries it as a
        bigram term (no job), else counted once, with the hits persisted
        in the bounded phrase-hits cache (evictions unpersist)."""
        words = phrase.split()
        hits = self.phrase_postings(words)
        if len(words) == 2:
            pplan = self.plan_terms([phrase])
            if not pplan.empty:
                return hits, int(pplan["df"].iloc[0])
        cache = self._phrase_hits_cache
        if phrase not in cache:
            hits = hits.persist()
            while len(cache) >= self._phrase_hits_cache_max:
                cache.pop(next(iter(cache)))[0].unpersist()
            cache[phrase] = (hits, hits.count())
        return cache[phrase]

    def bigram_postings(self, a: str, b: str) -> DataFrame:
        """(doc_id, tf, dl) of the adjacency "a b": tf = number of positions
        p with a@p and b@p+1 (the bigram termlist payload, SURVEY.md X3).

        Served from the indexed bigram termlist when the index carries one
        (partition-pruned scan, no position decode); otherwise matched over
        the two unigram termlists' positions (_phrase_postings). Both paths
        produce identical rows (gated)."""
        bi = f"{a} {b}"
        return self._phrase_postings(
            [bi] if len(self.plan_terms([bi])) else [a, b]
        )

    def phrase_postings(self, words: list[str]) -> DataFrame:
        """(doc_id, tf, dl) of the exact n-word phrase: tf = number of
        start positions p with word_i at p+i for all i (the bigram-termlist
        payload generalized to n words, SURVEY.md X3/O5).

        n=1 reads the unigram termlist; n=2 is bigram_postings (served from
        an indexed bigram termlist when present); n>=3 matches the unigram
        termlists' positions (_phrase_postings). Repeated words are
        handled (the same term's positions shift differently per slot)."""
        if len(words) == 2:
            return self.bigram_postings(*words)
        return self._phrase_postings(words)

    def _phrase_postings(
        self, slots: list[str], restrict: DataFrame | None = None
    ) -> DataFrame:
        """THE positional phrase matcher: (doc_id, tf, dl) of the docs
        holding termlist ``slots[i]`` at position p + i for every i, with
        tf = the number of such start positions p -- per doc, the size of
        the intersection of each slot's positions shifted by -i -- and dl
        the doc's length. A slot is a unigram or an indexed bigram term
        (bigram positions are first-word positions, so the same shifts
        apply); slots may repeat.

        A single slot needs no positions: its rows are its termlist's.
        Every multi-slot match needs them and raises ValueError on an
        index built with store_positions=False. ``restrict`` (a small
        (doc_id, ...) frame, e.g. a WAND candidate page) is broadcast
        semi-joined onto the decoded postings BEFORE the per-doc pivot, so
        the pivot shuffles candidate positions only."""
        plan = self.plan_terms(slots)
        if _unanswerable(plan, slots, "AND"):
            return _local_frame(self.spark, _POSTINGS)
        if len(slots) == 1:
            decoded = self._decoded([int(plan["term_id"].iloc[0])])
            if restrict is not None:
                decoded = decoded.join(
                    F.broadcast(restrict.select("doc_id")), "doc_id",
                    "left_semi",
                )
            return decoded.groupBy("doc_id").agg(
                F.expr("CAST(sum(tf) AS INT) AS tf"),
                F.expr("CAST(max(dl) AS INT) AS dl"),
            )
        terms = sorted(set(slots))
        inter = f"_p{terms.index(slots[0])}"
        for i, t in enumerate(slots[1:], 1):
            shifted = f"transform(_p{terms.index(t)}, x -> x - {i})"
            inter = f"array_intersect({inter}, {shifted})"
        return self._positions(
            {None: terms}, "positional phrase matching", restrict
        ).selectExpr(
            "doc_id", f"CAST(size({inter}) AS INT) AS tf",
            "CAST(dl AS INT) AS dl",
        ).where("tf > 0")

    def _positions(
        self, terms_of: dict, what: str, restrict: DataFrame | None = None
    ) -> DataFrame:
        """THE positional pivot, shared by phrase matching
        (_phrase_postings), NEAR (search_near) and the proximity bonus
        (rerank.proximity): per key, one positions array ``_p{i}`` per
        slot i and the doc's length ``dl``, all in the JVM.

        ``terms_of`` is ``{None: terms}`` (key doc_id, slot i =
        ``terms[i]``) or, for a batch, query_id -> that query's terms (key
        (query_id, doc_id); a slot beyond a query's terms stays empty). A
        slot's array is its term's positions in the doc, flattened across
        segments (unsorted), empty when the doc lacks the term.
        ``restrict`` (a small frame carrying the keys, e.g. a re-rank's
        candidates) is broadcast semi-joined onto the decoded postings
        BEFORE the pivot, so the pivot shuffles candidate positions only.
        Raises ValueError, naming ``what``, on an index built with
        store_positions=False: its blocks carry empty positions lists,
        which would read as no match for every doc."""
        if not self.store_positions:
            raise ValueError(
                f"{what} needs word positions, but this index was built "
                "with store_positions=False"
            )
        plan = self.plan_terms([t for ts in terms_of.values() for t in ts])
        tid_of = {t: int(i) for t, i in zip(plan["term"], plan["term_id"])}
        decoded = self._decoded(
            sorted(tid_of.values()), include_positions=True
        )
        if None in terms_of:
            keys = ["doc_id"]
            slots = [f"term_id = {tid_of[t]}" for t in terms_of[None]]
        else:
            keys = ["query_id", "doc_id"]
            qterms = _local_frame(
                self.spark,
                "query_id string, term_id long, slot int",
                [
                    (qid, tid_of[t], i)
                    for qid, ts in terms_of.items()
                    for i, t in enumerate(ts)
                ],
            )
            decoded = decoded.join(F.broadcast(qterms), "term_id")
            n = max(len(ts) for ts in terms_of.values())
            slots = [f"slot = {i}" for i in range(n)]
        if restrict is not None:
            decoded = decoded.join(
                F.broadcast(restrict.select(*keys)), keys, "left_semi"
            )
        return decoded.groupBy(*keys).agg(
            *[
                F.expr(
                    f"flatten(collect_list(CASE WHEN {c} THEN positions END))"
                    f" AS _p{i}"
                )
                for i, c in enumerate(slots)
            ],
            F.expr("max(dl) AS dl"),
        )

    def search_expanded(
        self,
        query: str | list[str],
        mode: str = "AND",
        k: int = 10,
        synonyms: dict[str, list[str]] | None = None,
        syn_weight: float = 0.9,
        bigram_weight: float = 1.4,
        use_bigrams: bool = True,
        number_forms: bool = True,
        use_word_forms: bool = True,
        morphology: bool = True,
    ) -> DataFrame:
        """Full query-TERM expansion at plan time (`Query.cpp:364` setQTerms;
        system goldens `test/system/test_search_terms.py:4-18`: 'the one'
        expands to ['the one', 'the', 'one', '1']):

        * each raw query word becomes ONE vote group (J2) holding its word
          forms (possessive/apostrophe strip, accent fold -- SURVEY.md X4,
          `XmlDoc_Indexing.cpp:2072-2115`), its synonym-table alternatives
          (X5), and its number word<->digit forms, alternatives weighted
          ``syn_weight`` (`PosdbTable.cpp:5863-5940`);
        * each consecutive word pair adds its bigram term's BM25
          contribution scaled by ``bigram_weight`` -- the wiki-bigram boost
          analog (`PosdbTable.h:21` WIKI_BIGRAM_WEIGHT 1.4). The bigram is
          an additive score component, not a vote group: ``matched`` counts
          word groups only, and AND requires every word group, exactly like
          search_terms.

        ``query`` is a raw string (whitespace-split BEFORE tokenization, so
        apostrophe forms survive) or a pre-split word list."""
        from ..functions.synonyms import NUMBER_FORMS, expand, word_forms

        words = query.split() if isinstance(query, str) else list(query)
        words = [w for w in words if w]
        groups: dict[str, list[tuple[str, float]]] = {}
        bases: list[str] = []  # per-word primary term, for bigram pairs
        for w in words:
            if use_word_forms:
                forms = word_forms(
                    w, self.tokenizer_mode, syn_weight, morphology
                )
            else:
                forms = [(t, 1.0) for t in self.tokenize_query(w)]
            members: list[tuple[str, float]] = []
            seen: set[str] = set()

            def add(term: str, weight: float):
                if term and term not in seen:
                    seen.add(term)
                    members.append((term, weight))

            for m, wt in forms:
                add(m, wt)
                for alt in expand(m, synonyms)[1:]:
                    add(alt, float(syn_weight))
                if number_forms and m in NUMBER_FORMS:
                    add(NUMBER_FORMS[m], float(syn_weight))
            key = w.lower()
            if members and key not in groups:
                groups[key] = members
            bases.append(members[0][0] if members else "")
        pairs = sorted(
            {(x, y) for x, y in zip(bases, bases[1:]) if x and y}
            if use_bigrams else ()
        )
        boosts = [(f"{x} {y}", float(bigram_weight)) for x, y in pairs]
        return _page(self._vote_group_scores(groups, mode, boosts), k)

    def search_deduped(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        overfetch: int = 4,
        sim_ham: int = 0,
    ) -> DataFrame:
        """Serve-time result dedup with over-fetch refill.

        Reference: `Msg40.cpp:1173-1300` dedups the RESULT PAGE by content
        similarity (contentHash32 exact + percentSimilarSummary near-dup)
        and re-fetches when dedup eats results (`Msg40.cpp:1270-1300`
        over-fetch/refill loop). Spark re-expression: over-fetch
        ``overfetch * k`` results in one top-k job, simhash the result
        docs' stored text (dedup.simhash64 -- only the <= overfetch*k
        result rows are hashed, via a broadcast semi-join against the doc
        store), drop every result whose simhash is within ``sim_ham``
        hamming bits of a higher-ranked KEPT result, refill to k from the
        over-fetched tail.

        ``sim_ham=0`` (content-identity collapse, the contentHash32 analog)
        is pure DataFrame algebra: keep the best-ranked row per simhash
        (greedy == keep-first when similarity is equality). ``sim_ham>0``
        runs the reference's greedy keep-loop in one Arrow kernel over the
        bounded candidate page (<= overfetch*k rows by construction -- a
        serve-node-sized working set, like the reference's).
        Returns (doc_id, score, matched), score desc / doc_id asc, <= k."""
        from .dedup import simhash64

        c = max(int(overfetch) * k, k)
        # the over-fetched page feeds TWO plan branches (the semi-join's id
        # list and the final page join); without materialization Spark
        # recomputes the whole postings-scan + top-k subtree for each.
        # localCheckpoint bounds storage at <= c rows and truncates lineage
        top = self.search_terms(query_terms, mode, c).localCheckpoint(eager=True)
        docs = self.catalog.read_table("documents").select("doc_id", "text")
        page_docs = docs.join(
            F.broadcast(top.select("doc_id")), "doc_id", "left_semi"
        )
        sims = simhash64(page_docs)
        page = top.join(F.broadcast(sims), "doc_id")
        if sim_ham <= 0:
            from pyspark.sql import Window

            w_rank = Window.orderBy(F.desc("score"), F.asc("doc_id"))
            w_grp = Window.partitionBy("simhash").orderBy("rnk")
            return _page(
                page.withColumn("rnk", F.row_number().over(w_rank))
                .withColumn("grnk", F.row_number().over(w_grp))
                .filter(F.col("grnk") == 1)
                .select("doc_id", "score", "matched"),
                k,
            )

        kk, ham = k, int(sim_ham)

        def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(
                ["score", "doc_id"], ascending=[False, True]
            )
            kept_hashes: list[int] = []
            keep_idx: list[int] = []
            for row_i, h in enumerate(
                pdf["simhash"].astype(np.int64).tolist()
            ):
                hu = h & 0xFFFFFFFFFFFFFFFF
                if all(
                    bin(hu ^ (kh & 0xFFFFFFFFFFFFFFFF)).count("1") > ham
                    for kh in kept_hashes
                ):
                    kept_hashes.append(h)
                    keep_idx.append(row_i)
                    if len(keep_idx) == kk:
                        break
            out = pdf.iloc[keep_idx]
            return out[["doc_id", "score", "matched"]]

        return _page(
            page.withColumn("_g", F.lit(1))
            .groupBy("_g")
            .applyInPandas(
                lambda pdf: greedy(pdf.drop(columns=["_g"])), schema=_SCORED
            ),
            k,
        )

    def _plan_batch(
        self, queries: list[dict], default_k: int
    ) -> tuple[pd.DataFrame, list[_BatchQuery]]:
        """The one batch planner (search_many, rerank.batch_rerank): the
        plan of every batch term, and per answerable query its present
        terms, dfs, mode, k and where it runs -- the driver when ``route``
        says so, else the shared scan, or its own union branch when its
        sum(df) exceeds SHARED_SCAN_MAX_ROWS. Unanswerable queries are
        dropped: they have no rows (search_terms contract)."""
        plan = self.plan_terms(
            sorted({t for q in queries for t in q["terms"]})
        )
        df_of = dict(zip(plan["term"], plan["df"]))
        planned = []
        for q in queries:
            mode = q.get("mode", "AND")
            terms = sorted(set(q["terms"]))
            present = [t for t in terms if t in df_of]
            if _unanswerable(present, terms, mode):
                continue
            dfs = [int(df_of[t]) for t in present]
            via = (
                "driver" if route({"df": dfs}, mode)[0] == "driver"
                else "shared" if sum(dfs) <= SHARED_SCAN_MAX_ROWS
                else "branch"
            )
            planned.append(_BatchQuery(
                str(q["query_id"]), present, dfs, mode,
                int(q.get("k", default_k)), via,
            ))
        return plan, planned

    def search_many(
        self, queries: list[dict], default_k: int = 10
    ) -> DataFrame:
        """Batch serving: MANY queries answered in ONE pass.

        ``queries`` = [{"query_id": str, "terms": [...], "mode": "AND"|"OR",
        "k": int}]. Returns (query_id, rank, doc_id, score, matched) with
        per-query rank over (score desc, doc_id asc) limited to that
        query's k. Each query's rows are rank-identical to search_terms --
        the point is amortization: the reference pays one UDP fan-out per
        query (Msg3a), a batch pipeline pays one postings scan for the whole
        workload. Per-doc scores aggregate with the same canonical term
        order, so identity holds bit-exactly.

        Adaptive routing (_plan_batch): every query ``route`` sends to the
        driver is answered from ONE Arrow read of the union of those
        queries' terms (_driver_pages); if no other query remains, the
        batch launches no Spark job. The rest share ONE distributed job:
        the shared scan replicates each
        term's postings into every query using the term, so a query over
        all-common terms contributes sum(df) rows to the scoring shuffle --
        at 10M docs a 2-common-term query is ~10M shuffled rows for 10
        result rows, and the pruned per-query path (TakeOrderedAndProject,
        hot cache, term-partition pruning) wins. Queries whose sum(df)
        exceeds SHARED_SCAN_MAX_ROWS therefore become per-query UNION
        BRANCHES of the same returned plan (still ONE job -- branch stages
        share the scheduler wave) while the rest stay in the shared scan.
        Both paths are rank-identical to search_terms, so results do not
        depend on the cutoff.
        """
        from pyspark.sql import Window

        plan, planned = self._plan_batch(queries, default_k)
        tid_of = dict(zip(plan["term"], plan["term_id"]))
        idf_of = dict(zip(plan["term"], plan["idf"]))
        local = sorted(
            (q for q in planned if q.via == "driver"), key=lambda q: q.qid
        )
        shared = [q for q in planned if q.via == "shared"]
        frames = [
            _rank_branch(q.qid, self.search_terms(q.present, q.mode, q.k))
            for q in planned
            if q.via == "branch"
        ]
        pages = self._driver_pages([
            _DriverQuery(
                [(int(tid_of[t]), float(idf_of[t])) for t in q.present],
                q.mode, q.k,
            )
            for q in local
        ]) if local else []
        rows = [
            (q.qid, rank, *row)
            for q, page in zip(local, pages)
            for rank, row in enumerate(page, 1)
        ]
        if not frames and not shared:
            return _local_frame(self.spark, _BATCH_SCHEMA, rows)
        if rows:
            frames.append(_local_frame(self.spark, _BATCH_SCHEMA, rows))
        if shared:
            # each query's term at its own slot `pos` (the index in its
            # ascending term list), so the batch folds exactly search_terms'
            # 0.0 + c_t1 + c_t2 ... per (query, doc). The per-term constants
            # ride a broadcast table, not CASE literals: one batch's plan
            # then compiles to the same code as the last one's
            qmeta = _local_frame(
                self.spark,
                "query_id string, term_id long, pos int, idf double, "
                "n_required int, k int",
                [
                    (
                        q.qid, int(tid_of[t]), pos, float(idf_of[t]),
                        len(q.present) if q.mode == "AND" else 1, q.k,
                    )
                    for q in shared
                    for pos, t in enumerate(q.present)
                ],
            )
            tf_norm = tf_norm_sql("tf", "dl", self.avgdl, self.params)
            contrib = self._decoded(
                sorted({int(tid_of[t]) for q in shared for t in q.present})
            ).join(F.broadcast(qmeta), "term_id").selectExpr(
                "query_id", "doc_id", "pos AS slot",
                f"idf * {tf_norm} AS contrib", "n_required", "k",
            )
            scored = self._aggregate_scores(
                contrib,
                max(len(q.present) for q in shared),
                keys=("query_id", "doc_id"),
                n_required="first(n_required)",
                k="first(k)",
            ).where("matched >= n_required")
            # per-partition bounded pre-top-k BEFORE the rank window -- the
            # reference's per-shard TopTree -> Msg3a merge shape
            # (`TopTree.cpp:185`, `Msg3a.cpp:807-811`). A window alone is a
            # FULL SORT of every query's candidate set (at 10M docs: 64
            # sorts of ~7M rows each -- measured 590 s). The literal
            # ``rank <= max_k`` bound lets Spark plan a partial
            # WindowGroupLimit below the shuffle (any global top-k row is in
            # its partition's per-query top-k), so the window ranks at most
            # n_partitions * max_k rows per query, all in the JVM (up to
            # the optimizer's windowGroupLimitThreshold, 1000 by default).
            max_k = max(q.k for q in shared)
            w = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            frames.insert(0, (
                scored.withColumn("rank", F.row_number().over(w))
                .where(f"rank <= {max_k} AND rank <= k")
                .selectExpr(
                    "query_id", "CAST(rank AS BIGINT) AS rank", "doc_id",
                    "score", "matched",
                )
            ))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.orderBy("query_id", "rank")

    def search_many_proximity(
        self,
        queries: list[dict],
        prox_weight: float = 1.0,
        default_k: int = 10,
        overfetch: int = 4,
    ) -> DataFrame:
        """Batch serving WITH the term-pair proximity boost (exact:
        search_proximity; WAND scale: wand.wand_proximity; batch: here).
        Per query the result is search_proximity(terms, k, prox_weight,
        mode) tagged with (query_id, rank).

        ONE search_many pass over-fetches BM25 candidates, ONE pass
        rescores them with the shared pair bonus (rerank.batch_rerank;
        the certificate is explained in rerank.py); single-term queries
        have no pair and are final after the BM25 pass, and a query that
        fails its certificate takes its exact search_proximity page as a
        union branch. Queries whose match-set bound is small over-fetch
        their whole match set (RERANK_COLLECT_BUDGET). prox_weight=0
        delegates to search_many verbatim."""
        from . import rerank

        return rerank.batch_rerank(
            self, queries, rerank.proximity(self, prox_weight),
            default_k, overfetch,
        )

    def search_many_boosted(
        self,
        queries: list[dict],
        field_weights: dict[str, tuple[dict[str, float], float]] | None = None,
        recency: tuple[str, float, float] | None = None,
        default_k: int = 10,
        overfetch: int = 4,
    ) -> DataFrame:
        """Batch serving WITH doc-level score boosts (exact:
        search_boosted; WAND scale: wand.wand_boosted; batch: here). Per
        query the result is search_boosted(terms, mode, k, ...) tagged
        with (query_id, rank); the boost config is shared across the batch
        (one serving deployment = one scoring config, like the reference's
        global boost parms, `Parms.cpp:3644-3790`).

        ONE search_many pass over-fetches BM25 candidates (single-term
        queries too: a doc multiplier can reorder any list), ONE broadcast
        join to the pruned boost columns rescores them (rerank.batch_rerank;
        the max-multiplier certificate is explained in rerank.py); a query
        that fails its certificate takes its exact search_boosted page as
        a union branch. No boosts configured -> search_many verbatim."""
        from . import rerank

        return rerank.batch_rerank(
            self, queries, rerank.boosts(self, field_weights, recency),
            default_k, overfetch,
        )

    def _parse_signs(self, query: str) -> tuple[list[str], list[str]]:
        """'-term' sign parsing shared by search / search_with_suggestion
        (`Query.h:191-193`): returns (include_terms, exclude_terms), both
        tokenized. ONE copy so the simple-grammar split can never diverge
        between the serve path and the suggestion path."""
        include, exclude = [], []
        for w in query.split():
            if w.startswith("-") and len(w) > 1:
                exclude.extend(self.tokenize_query(w[1:]))
            else:
                include.extend(self.tokenize_query(w))
        return include, exclude

    def search(self, query: str, mode: str = "AND", k: int = 10) -> DataFrame:
        """Parse a query string: bare terms, '-term' exclusions
        (`Query.h:191-193` sign parsing), and wildcards — a term with a
        leading or trailing ``*`` routes the whole query through
        search_wildcard, where each pattern expands in the (reversed)
        dictionary and scores as a vote group; signs compose (r5 s7).
        A negated pattern ('-pre*') or a star inside a word or on both
        ends ('*mid*') raises ValueError naming the pattern. For the FULL
        grammar (quotes, parens, OR, field:value) use search_query."""
        include, exclude, has_wild = [], [], False
        for w in query.split():
            neg = w.startswith("-") and len(w) > 1
            body = w[1:] if neg else w
            stem = body.strip("*")
            toks = self.tokenize_query(stem)
            if stem and "*" in body:
                if neg or body.count("*") > 1 or "*" in stem:
                    # no expansion exists for a negated or infix/double
                    # pattern; scoring it as a literal would answer wrong
                    raise ValueError(
                        f"unsupported wildcard pattern {w!r}: only one "
                        "leading ('*fix') or trailing ('pre*') star on a "
                        "non-negated word is supported"
                    )
                has_wild = True
                if len(toks) == 1:
                    # the tokenizer strips '*': re-attach it to the token
                    lead, trail = body[0] == "*", body[-1] == "*"
                    include.append(lead * "*" + toks[0] + trail * "*")
                    continue
            (exclude if neg else include).extend(toks)
        serve = self.search_wildcard if has_wild else self.search_terms
        return serve(include, mode=mode, k=k, exclude_terms=exclude)

    def search_with_suggestion(
        self,
        query: str,
        k: int = 10,
        mode: str = "AND",
        min_results: int = 1,
        max_dist: int = 2,
        auto_requery: bool = True,
    ) -> DataFrame:
        """Serving-integrated did-you-mean (r4 VERDICT task 5).

        Reference: the speller sits IN the result flow — the SERP path
        consults the unified dictionary and surfaces a "did you mean"
        alongside (or instead of) thin results (`Speller.cpp:69`
        loadUnifiedDict; `Speller.cpp:463` getPhrasePopularity, called from
        the query serving path). Here:

        1. run the normal search; if it returns >= ``min_results`` rows the
           results ship as-is (suggested_query NULL — no recommendation);
        2. otherwise correct each query term to its best dictionary word
           within ``max_dist`` edits (speller.suggest over the index's own
           term_stats vocabulary — dist ASC, df DESC, term ASC, so
           in-vocabulary terms keep themselves); terms with no candidate
           stay verbatim;
        3. if the corrected query differs and ``auto_requery`` is set,
           re-serve it and annotate every row with ``suggested_query``
           (the reference's auto-requery-on-empty shape); else return the
           original (thin) results with the suggestion attached.

        '-term' exclusions are honored on BOTH serves: only POSITIVE
        terms are spell-corrected, the exclusion set rides along verbatim
        into the requery, and ``suggested_query`` renders it back as
        '-term' (a misspelled exclusion excludes nothing, which is
        already its search() behavior — correcting it could newly REMOVE
        results from a query the user typed, the wrong failure mode for
        a suggestion feature).

        Output: (doc_id, score, matched, suggested_query) — score order,
        suggested_query constant per response (NULL = served as asked).

        Driver-side work is bounded: the base page is localCheckpoint-ed
        (<= k rows), so the trigger check AND the returned frame share ONE
        search job; the correction collects <= n_terms suggestion rows.
        """
        terms, exclude = self._parse_signs(query)
        base = self.search_terms(terms, mode=mode, k=k, exclude_terms=exclude)
        no_sugg = F.lit(None).cast("string")
        if not terms:
            return base.withColumn("suggested_query", no_sugg)
        # materialize the (<= k row) page once: the thin-result check and
        # the caller's collect must not each run the search job
        base = base.localCheckpoint()
        got = base.limit(int(min_results)).collect()
        if len(got) >= int(min_results):
            return base.withColumn("suggested_query", no_sugg)
        corrected, sugg_str = self._spell_corrected(terms, exclude, max_dist)
        if corrected == terms or not auto_requery:
            sq = F.lit(sugg_str) if corrected != terms else no_sugg
            return base.withColumn("suggested_query", sq)
        return self.search_terms(
            corrected, mode=mode, k=k, exclude_terms=exclude
        ).withColumn("suggested_query", F.lit(sugg_str))

    def _spell_corrected(
        self, terms: list[str], exclude: list[str], max_dist: int
    ) -> tuple[list[str], str]:
        """The did-you-mean requery shared by search_with_suggestion and
        serve: each positive term corrected to its best dictionary word
        within ``max_dist`` edits (speller.suggest over this index's own
        term_stats; a term with no candidate stays verbatim), and the
        suggestion string with the exclusions rendered back as '-term'."""
        from . import speller

        vocab = speller.vocab_from_term_stats(self._term_stats)
        sugg = speller.suggest(
            self.spark, vocab, terms, max_dist=max_dist, per_term=1
        )
        best = {r["qterm"]: r["suggestion"] for r in sugg.collect()}
        corrected = [best.get(t, t) for t in terms]
        return corrected, " ".join(corrected + [f"-{t}" for t in exclude])

    def serve(
        self,
        query: str,
        k: int = 10,
        mode: str = "AND",
        source_cap: int | None = None,
        source_col: str = "source",
        snippet_width: int = 11,
        min_results: int = 1,
        max_dist: int = 2,
    ) -> DataFrame:
        """Full SERP assembly — the reference's Msg40 result-page flow in
        one call (`Msg40.cpp:841` launchMsg20s fans per-result summary
        requests off the ranked docid list; `Speller.cpp:69` supplies the
        did-you-mean alongside; site clustering caps per-site rows).

        1. rank: BM25 top-k with '-term' exclusions, routed through
           search_auto (exact scan vs block-max WAND as ``route``
           decides from the plan — rank-identical either way); with ``source_cap``, the
           cap windows the FULL match set per source (score_terms —
           no global sort) before the top-k, exactly the A6 contract;
        2. did-you-mean: a page thinner than ``min_results`` rows
           spell-corrects the positive terms against the index's own
           vocabulary and re-serves once, annotating ``suggested_query``
           (NULL = served as asked);
        3. snippets: best-window summaries rendered for the PAGE ONLY —
           the doc store is broadcast-semi-joined down to <= k docs before
           tokenization (the Msg20 shape: per-result work is O(k),
           never O(corpus)).

        Output: (rank, doc_id, score, matched, snippet, highlighted,
        suggested_query), rank 1..n by (score DESC, doc_id ASC).
        """
        from .snippets import best_window_snippets

        out_schema = (
            "rank long, doc_id long, score double, matched int, "
            "snippet string, highlighted string, suggested_query string"
        )
        terms, exclude = self._parse_signs(query)
        if not terms:
            return _local_frame(self.spark, out_schema)

        def page(pos_terms: list[str]) -> DataFrame:
            if source_cap is None:
                return self.search_auto(
                    pos_terms, mode=mode, k=k, exclude_terms=exclude
                )
            from pyspark.sql import Window

            scored = self.score_terms(pos_terms, mode, exclude_terms=exclude)
            src = self.catalog.read_table("documents").select(
                "doc_id", source_col
            )
            w_src = Window.partitionBy(source_col).orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            return _page(
                scored.join(src, "doc_id")
                .withColumn("_rn", F.row_number().over(w_src))
                .filter(F.col("_rn") <= int(source_cap))
                .select("doc_id", "score", "matched"),
                k,
            )

        # materialize the (<= k row) page once: the thinness check, the
        # snippet restrict and the final join must not re-run the search
        base = page(terms).localCheckpoint()
        served_terms, sugg_str = terms, None
        if base.limit(int(min_results)).count() < int(min_results):
            corrected, sugg = self._spell_corrected(terms, exclude, max_dist)
            if corrected != terms:
                sugg_str, served_terms = sugg, corrected
                base = page(corrected).localCheckpoint()
        docs_page = self.catalog.read_table("documents").join(
            F.broadcast(base.select("doc_id")), "doc_id", "left_semi"
        )
        snip = best_window_snippets(
            docs_page, served_terms, width=snippet_width
        ).select("doc_id", "snippet", "highlighted")
        from pyspark.sql import Window

        # unpartitioned window is safe here: base is already LIMIT k
        w_all = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            base.join(snip, "doc_id", "left_outer")
            .withColumn("rank", F.row_number().over(w_all).cast("long"))
            .withColumn(
                "suggested_query",
                F.lit(sugg_str).cast("string"),
            )
            .select(
                "rank", "doc_id", "score", "matched",
                "snippet", "highlighted", "suggested_query",
            )
            .orderBy("rank")
        )

    def search_grouped(
        self,
        query_terms: list[str],
        group_col: str,
        k: int = 10,
        mode: str = "AND",
        agg: str = "sum",
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """Group-level ranking: score GROUPS (conversations, sources,
        sites) by their matching member docs and return the top-k groups
        with each group's best member. For the transcript domain this is
        "find the best CONVERSATION, not just the best turn" — the
        inverse of the per-source cap (A6 caps members inside the doc
        ranking; this ranks the groups themselves, the Clusterdb
        site-cluster aggregation read in the other direction,
        `Clusterdb.h`; J5's top-k → cluster recs).

        ``agg``: 'sum' (total relevance mass — long matching groups win)
        or 'max' (best single member — spike quality wins). Output:
        (group, group_score, n_matching, best_doc_id, best_score),
        ordered group_score DESC, group ASC.

        Scale shape: score_terms' full match set (never globally sorted)
        joins the doc store's (doc_id, group) — column-pruned — then ONE
        map-side-combined groupBy(group_col); the best-member pair rides
        the same aggregation as a max_by struct, so there is no second
        window/shuffle. Top-k via TakeOrderedAndProject.
        """
        if agg not in ("sum", "max"):
            raise ValueError("agg must be 'sum' or 'max'")
        scored = self.score_terms(
            query_terms, mode, exclude_terms=exclude_terms
        )
        grp = self.catalog.read_table("documents").select(
            "doc_id", F.col(group_col).alias("group")
        )
        joined = scored.join(grp, "doc_id")
        gscore = (
            F.sum("score") if agg == "sum" else F.max("score")
        ).alias("group_score")
        # best member = (score DESC, doc_id ASC) argmax; doc_id is
        # negated inside the comparator struct so one max_by gives the
        # deterministic tie-break without a window
        best = F.max(
            F.struct(
                F.col("score").alias("s"),
                (-F.col("doc_id")).alias("nd"),
            )
        ).alias("_best")
        return (
            joined.groupBy("group")
            .agg(
                gscore,
                F.count(F.lit(1)).cast("long").alias("n_matching"),
                best,
            )
            .select(
                "group",
                "group_score",
                "n_matching",
                (-F.col("_best.nd")).cast("long").alias("best_doc_id"),
                F.col("_best.s").alias("best_score"),
            )
            .orderBy(F.desc("group_score"), F.asc("group"))
            .limit(k)
        )

    def related_terms(
        self,
        query_terms: list[str],
        k_docs: int = 50,
        top_terms: int = 10,
        mode: str = "AND",
        min_df: int = 2,
    ) -> DataFrame:
        """Related-topic terms mined from the result page — the
        reference's "gigabits" (`Msg40.cpp:1545` uses the gigabit vector
        for topic clustering over the result summaries; `Msg40.cpp:1817`
        prepares query-term info for them; PageResults renders the list
        as related topics beside the results).

        score(term) = occurrences within the top ``k_docs`` result docs
        × the engine's own BM25 idf, ln((N − df + 0.5)/(df + 0.5) + 1) —
        frequent-in-page but rare-in-corpus terms surface, stopwords
        self-damp through the idf. Query terms are excluded; ``min_df``
        drops hapax noise. Output: (term, score, tf_page, df) ordered
        score DESC, term ASC, limited to ``top_terms``.

        Scale shape: the page is <= k_docs rows (broadcast semi-join into
        the doc store), so only page docs tokenize — O(k·dl), never
        O(corpus); the page-term aggregate (<= k·dl distinct terms) then
        broadcast-joins into the term dictionary for global dfs.
        """
        page = self.search_terms(query_terms, mode, k_docs)
        docs_page = self.catalog.read_table("documents").join(
            F.broadcast(page.select("doc_id")), "doc_id", "left_semi"
        )
        from .dedup import tokens_col

        toks = docs_page.select(
            F.explode(tokens_col(F.col("text"))).alias("term")
        )
        q = sorted(set(query_terms))
        cand = (
            toks.filter(~F.col("term").isin(q))
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("tf_page"))
        )
        return (
            cand.join(self._term_stats.select("term", "df"), "term")
            .where(f"df >= {int(min_df)}")
            .selectExpr(
                "term",
                f"tf_page * {idf_sql('df', self.n_docs)} AS score",
                "CAST(tf_page AS BIGINT) AS tf_page",
                "CAST(df AS BIGINT) AS df",
            )
            .orderBy(F.desc("score"), F.asc("term"))
            .limit(int(top_terms))
        )

    def more_like_this(
        self,
        doc_id: int,
        top_terms: int = 5,
        k: int = 10,
    ) -> DataFrame:
        """Related-docs serving ("more like this") — the reference's
        related-pages flow re-queries with terms mined from a seed result
        (`Msg40.cpp:1545` gigabit vector; PageResults' related-pages link
        re-enters the query path with them). Two steps, both on existing
        engine machinery:

        1. **Seed keywords**: tokenize the STORED seed doc (one row from
           the doc store — the reference refetches the title rec the same
           way, `Msg20` by docid), weight each distinct term by
           tf(seed) × the engine's BM25 idf from term_stats, keep the top
           ``top_terms`` (score DESC, term ASC — deterministic).
        2. **Re-query**: a normal BM25 OR query over those keywords with
           the seed itself excluded from the result set.

        Scale shape: step 1 touches ONE doc-store row (driver-side
        tokenize of a single text, like the speller's query handling) and
        ``top_terms`` term_stats lookups through the memoized plan cache;
        step 2 is the ordinary partition-pruned top-k. Nothing scans the
        corpus outside the final scoring job.
        """
        rows = (
            self.catalog.read_table("documents")
            .filter(F.col("doc_id") == int(doc_id))
            .select("text")
            .collect()
        )
        if not rows or not rows[0]["text"]:
            return _local_frame(self.spark, _SCORED)
        toks = self.tokenize_query(rows[0]["text"])
        if not toks:
            return _local_frame(self.spark, _SCORED)
        from collections import Counter

        tf = Counter(toks)
        plan = self.plan_terms(list(tf))  # (term, df, idf, ...) pandas
        if plan.empty:
            return _local_frame(self.spark, _SCORED)
        plan = plan.assign(
            kscore=[
                tf[t] * i for t, i in zip(plan["term"], plan["idf"])
            ]
        ).sort_values(
            ["kscore", "term"], ascending=[False, True], kind="mergesort"
        )
        sel = list(plan["term"].head(int(top_terms)))
        return _page(
            self.score_terms(sel, "OR").filter(F.col("doc_id") != int(doc_id)),
            k,
        )

    def search_prf(
        self,
        query_terms: list[str],
        k: int = 10,
        fb_docs: int = 10,
        n_expand: int = 5,
        beta: float = 0.4,
        min_df: int = 2,
        mode: str = "AND",
    ) -> DataFrame:
        """Pseudo-relevance-feedback requery (Rocchio, public IR since
        1971): run the base query, mine expansion terms from its top
        ``fb_docs`` results, then re-score a weighted OR over
        original ∪ expansion — the automated version of the reference's
        query-refinement flow, where PageResults offers gigabit-derived
        refined searches that re-enter the query path (`Msg40.cpp:1545`
        gigabit vector over result summaries; PageResults' related-topics
        links are exactly "requery with this term added").

        Expansion mining IS ``related_terms`` (tf_page × idf, query terms
        excluded, df ≥ ``min_df``, top ``n_expand`` by score DESC / term
        ASC — deterministic). The requery scores every term's ordinary
        BM25 contribution scaled by weight 1.0 for original terms and
        ``beta`` for expansion terms (Rocchio's β; a=1, γ=0 — no
        negative feedback, matching the reference's refinement UX),
        summed in canonical term order (bit-stable). Output:
        (doc_id, score, matched) ordered score DESC / doc_id ASC,
        ``matched`` counting hits over the EXPANDED term set.

        Scale shape: expansion mining is related_terms' page-restricted
        O(fb_docs·dl) job (never a corpus scan); the driver collects only
        ≤ ``n_expand`` term strings (bounded metadata); the requery is
        the ordinary partition-pruned weighted-OR top-k
        (TakeOrderedAndProject). Two jobs total.
        """
        if beta < 0.0:
            raise ValueError("beta must be >= 0")
        exp = [
            r["term"]
            for r in self.related_terms(
                query_terms,
                k_docs=int(fb_docs),
                top_terms=int(n_expand),
                mode=mode,
                min_df=int(min_df),
            )
            .select("term")
            .collect()
        ]
        q = set(query_terms)
        plan = self.plan_terms(sorted(q | set(exp)))
        if plan.empty:
            return _local_frame(self.spark, _SCORED)
        weights = [
            (i, 1.0 if t in q else float(beta))
            for i, t in enumerate(sorted(plan["term"]))
        ]
        return _page(
            self._aggregate_scores(self._contributions(plan), weights), k
        )

    def ltr_features(
        self, query_terms: list[str], k: int = 100
    ) -> DataFrame:
        """Learning-to-rank feature extraction: one row of ranking features
        per candidate doc for the top ``k`` BM25-OR candidates — the
        training-data export a ranking pipeline derives its LTR model from.
        The reference hand-mixes exactly these signals inside one scorer
        (`PosdbTable.cpp` term-pair/density/spam weights folded into a
        single score); a Spark-native stack exports them as columns and
        lets the model learn the mix.

        Features (all from the ONE postings scan the ordinary query path
        does): ``bm25`` (bit-identical to search_terms — the same
        _contributions and _aggregate_scores), ``matched`` / ``coverage`` (hit count
        over the query's distinct terms), ``tf_sum/tf_min/tf_max``,
        ``idf_sum`` (of matched terms), ``dl`` and ``dl_norm`` (=dl/avgdl).

        Scale shape: partition-pruned decode of the query terms' blocks,
        ONE map-side-combined groupBy(doc_id) carrying every feature agg,
        top-k via TakeOrderedAndProject. No extra shuffle or join vs a
        plain query, and no Python.
        """
        plan = self.plan_terms(query_terms)
        schema = (
            "doc_id long, bm25 double, matched int, coverage double, "
            "tf_sum long, tf_min int, tf_max int, idf_sum double, "
            "dl int, dl_norm double"
        )
        if plan.empty:
            return _local_frame(self.spark, schema)

        g = self._aggregate_scores(
            self._contributions(plan),
            len(plan),
            tf_sum="CAST(sum(tf) AS BIGINT)",
            tf_min="CAST(min(tf) AS INT)",
            tf_max="CAST(max(tf) AS INT)",
            idf_sum="sum(idf)",
            dl="CAST(first(dl) AS INT)",
        )
        n_q = sql_double(float(len(set(query_terms))))
        return (
            g.selectExpr(
                "doc_id",
                "score AS bm25",
                "matched",
                f"matched / {n_q} AS coverage",
                "tf_sum",
                "tf_min",
                "tf_max",
                "idf_sum",
                "dl",
                f"dl / {sql_double(self.avgdl)} AS dl_norm",
            )
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .limit(int(k))
        )

    def count_matches(self, query_terms: list[str]) -> DataFrame:
        """Total-hits counting — the reference's "results 1-10 of about N"
        figure (`Msg40.cpp` getNumTotalHits; PageResults renders it on
        every SERP). One row: (n_terms, n_and, n_or) — how many docs match
        ALL the query terms and how many match ANY, in ONE aggregation
        over the same scoring frame the SERP uses (tombstones, segment
        read-repair and salting all inherited for free).

        Scale shape: partition-pruned postings scan + a map-side-combined
        count — no top-k, no sort, no data rows to the driver. The full
        agg is exact, unlike the reference's page-map ESTIMATE
        (`Posdb.cpp` getTermFreq reads list sizes) — Spark makes the exact
        count as cheap as the estimate, so there is no reason to guess.
        """
        uniq = sorted(set(query_terms))
        n = len(uniq)
        scored = self.score_terms(uniq, "OR")
        return scored.agg(
            F.lit(n).cast("long").alias("n_terms"),
            F.count(F.when(F.col("matched") == n, 1)).alias("n_and"),
            F.count(F.lit(1)).alias("n_or"),
        )

    def df_histogram(self) -> DataFrame:
        """Index telemetry: the term-dictionary's document-frequency
        distribution in log2 buckets — the reference's stats page renders
        exactly this shape of termlist telemetry (`PageStats.cpp` prints
        Posdb record/list distribution; `Rdb` exposes per-base list
        counts). Pipeline use: choosing stopword/salting cutoffs and
        spotting dictionary bloat (a fat tail of df=1 terms is OCR noise
        or PII leakage).

        Output per bucket b (df in [2^b, 2^(b+1))): lo = 2^b, n_terms,
        sum_df (total postings those terms contribute). The bucket index
        is integer arithmetic — length(bin(df)) - 1 — NOT floor(log2(df)),
        whose float rounding at exact powers of two differs by backend.

        Scale shape: one map-side-combined agg over term_stats (already
        tiny next to postings); no joins, no window.
        """
        ts = self._term_stats.select("term", "df")
        bucket = (F.length(F.bin(F.col("df"))) - 1).cast("long")
        return (
            ts.groupBy(bucket.alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("n_terms"),
                F.sum("df").alias("sum_df"),
            )
            .select(
                "bucket",
                F.expr("shiftleft(1L, cast(bucket AS int))")
                .cast("long")
                .alias("lo"),
                F.col("n_terms").cast("long").alias("n_terms"),
                F.col("sum_df").cast("long").alias("sum_df"),
            )
            .orderBy("bucket")
        )

    def search_prefix(
        self,
        patterns: list[str],
        mode: str = "AND",
        k: int = 10,
        max_expansions: int = 16,
    ) -> DataFrame:
        """Prefix/wildcard query terms: ``"pre*"`` expands to the top
        ``max_expansions`` dictionary terms sharing the prefix (df DESC,
        term ASC — most selective-by-volume first, deterministic) and the
        expansion scores as ONE vote group through the J2 machinery
        (`_vote_group_scores`), exactly like a synonym group: OR within
        the group, the query's AND/OR across groups, matched counts
        groups. A pattern without ``*`` is its own single-member group.

        Beyond the reference's query grammar (Gigablast expands synonyms
        and word forms, `Synonyms.cpp:59`, but has no wildcard); the
        expansion reuses that exact vote-group scoring so a prefix behaves
        like a dictionary-derived synonym set.

        Scale shape: expansion happens in the term DICTIONARY only —
        a pushed-down StartsWith filter on term_stats (tiny next to
        postings) + TakeOrderedAndProject, collecting <= max_expansions
        rows per pattern to the driver (plan metadata, same order as
        plan_terms). The postings scan stays partition-pruned to the
        expanded terms; an unmatched prefix under AND yields an empty
        page (same contract as an absent term).
        """
        return self.search_wildcard(patterns, mode, k, max_expansions)

    def _reversed_dict(self) -> DataFrame:
        """The reversed-term dictionary backing search_suffix, materialized
        once per engine: term_stats re-keyed by reverse(term) and
        range-partitioned + sorted on that key, so a leading-wildcard
        lookup becomes a PREFIX range probe (the classic Lucene
        ReversedWildcardFilter move). In-memory the range partitioning
        gives InMemoryTableScan batch pruning on rterm bounds; a
        deployment persists this as a second sort order of the (tiny)
        dictionary table, making ``*fix`` a min/max-pruned range scan
        instead of a full-dictionary regex pass."""
        if getattr(self, "_rdict", None) is None:
            self._rdict = (
                self._term_stats.filter(~F.col("term").contains(" "))
                .select(
                    F.reverse(F.col("term")).alias("rterm"), "term", "df"
                )
                .repartitionByRange(8, "rterm")
                .sortWithinPartitions("rterm")
                .persist()
            )
        return self._rdict

    def search_suffix(
        self,
        patterns: list[str],
        mode: str = "AND",
        k: int = 10,
        max_expansions: int = 16,
    ) -> DataFrame:
        """Leading-wildcard query terms: ``"*fix"`` expands to the top
        ``max_expansions`` dictionary terms sharing the SUFFIX (df DESC,
        term ASC, deterministic) and scores as ONE vote group — the
        mirror image of `search_prefix`, completing the wildcard pair.

        The naive plan (``term LIKE '%fix'``) cannot be pruned: every
        dictionary row must be tested. The scale design is the reversed
        dictionary (`_reversed_dict`): key the dictionary by
        reverse(term) once, and a suffix probe becomes
        ``rterm startswith reverse(suffix)`` — a range-prunable prefix
        scan over a table sorted for exactly that predicate. The postings
        scan that follows is partition-pruned to the expanded terms, the
        same contract as search_prefix.

        Beyond the reference's grammar (Gigablast has no wildcard); the
        expansion scores through the J2 vote-group machinery like a
        synonym set (`Synonyms.cpp:59` group semantics).
        """
        return self.search_wildcard(patterns, mode, k, max_expansions)

    def _wildcard_groups(
        self, patterns: list[str], max_expansions: int
    ) -> dict[str, list[tuple[str, float]]]:
        """Shared wildcard expander: trailing ``pre*`` probes the term
        dictionary (pushed-down StartsWith), leading ``*fix`` probes the
        reversed dictionary (`_reversed_dict`); anything else is a
        literal single-member group. Expansion order is (df DESC, term
        ASC), bounded by ``max_expansions`` per pattern."""
        groups: dict[str, list[tuple[str, float]]] = {}
        for pat in sorted(set(patterns)):
            if pat.endswith("*") and len(pat) > 1 and "*" not in pat[:-1]:
                pre = pat[:-1]
                rows = (
                    self._term_stats.filter(
                        F.col("term").startswith(pre)
                        & ~F.col("term").contains(" ")
                    )
                    .select("term", "df")
                    .orderBy(F.desc("df"), F.asc("term"))
                    .limit(int(max_expansions))
                    .collect()
                )
                groups[pat] = [(r["term"], 1.0) for r in rows]
            elif pat.startswith("*") and len(pat) > 1 and "*" not in pat[1:]:
                rpre = pat[1:][::-1]
                rows = (
                    self._reversed_dict()
                    .filter(F.col("rterm").startswith(rpre))
                    .select("term", "df")
                    .orderBy(F.desc("df"), F.asc("term"))
                    .limit(int(max_expansions))
                    .collect()
                )
                groups[pat] = [(r["term"], 1.0) for r in rows]
            else:
                groups[pat] = [(pat, 1.0)]
        return groups

    def search_wildcard(
        self,
        patterns: list[str],
        mode: str = "AND",
        k: int = 10,
        max_expansions: int = 16,
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """Unified wildcard serving: every pattern — trailing ``pre*``,
        leading ``*fix``, or a literal word — becomes one vote group, so
        mixed queries ("s* merge -vector") score with the same J2 group
        semantics as synonyms; '-term' exclusions apply as the standard
        anti-join, exactly like search_terms. ``search()`` routes here
        whenever the query string contains a wildcard, so signs and
        wildcards compose in the user-facing grammar."""
        groups = self._wildcard_groups(patterns, max_expansions)
        return _page(
            self._exclude(self._vote_group_scores(groups, mode), exclude_terms),
            k,
        )

    def search_fielded(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        field_col: str = "source",
        field_weight: float = 2.0,
    ) -> DataFrame:
        """BM25F field-weighted scoring (Robertson–Zaragoza): the body
        text and a metadata field score as ONE weighted term-frequency
        stream — tf̃ = tf_body + w·tf_field, dl̃ = dl_body + w·dl_field,
        avgdl̃ over the corpus, idf from the UNION document frequency
        (a doc matching only in the field still counts, and still
        matches under AND). This is the reference's per-hashgroup weight
        family (`Posdb.h` HASHGROUP_INTITLE / s_hashGroupWeights,
        `PosdbTable.cpp` applies them per posting): title hits outrank
        body hits because their occurrences are weighted INSIDE the
        saturation curve, not bolted on after.

        Plan shape: the field DICTIONARY (distinct ``field_col`` values)
        is collected once — bounded by field cardinality, the analog of
        the term dictionary; a deployment materializes it at build time.
        Field-side candidates come from a BROADCAST join of that tiny
        (value, term slot, tf) map against a column-pruned doc-store
        scan; body-side candidates are the usual partition-pruned postings
        decode. The two sides full-outer-join on (doc_id, slot) — a
        shuffle bounded by candidate count, not corpus size — and per-doc
        dl̃ joins in from the same pruned doc-store scan. (A production
        build stores w·dl_field next to dl in the postings rows — the
        build already stores dl — which collapses that join; here it is
        derived so BM25F works on every existing index unchanged.) The
        per-term contributions use bm25's SQL idf and tf-norm and fold in
        _aggregate_scores in term-string order, like every BM25 sum.
        """
        from .index_build import doc_length_col

        w = float(field_weight)
        uniq = sorted(set(query_terms))
        plan = self.plan_terms(uniq)
        docs = self.catalog.read_table("documents")
        # field dictionary: distinct values + per-value doc counts,
        # collected ONCE per (engine, field) — ONE map-side-combined agg,
        # cardinality-bounded, snapshot-bound like _plan_cache (a build
        # materializes this next to term_stats)
        if not hasattr(self, "_field_dicts"):
            self._field_dicts: dict[str, dict[str, int]] = {}
        if field_col not in self._field_dicts:
            self._field_dicts[field_col] = {
                r["_fv"]: r["n"]
                for r in docs.groupBy(F.col(field_col).alias("_fv"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        counts = self._field_dicts[field_col]
        fvals = list(counts)
        tmap: list[tuple[str, str, int]] = []
        dlt: dict[str, int] = {}
        for v in fvals:
            toks = self.tokenize_query(v or "")
            dlt[v] = len(toks)
            for slot, t in enumerate(uniq):
                c = toks.count(t)
                if c:
                    tmap.append((v, slot, c))
        # per-doc dl-tilde: dl_body (from text, == the indexed dl) plus
        # w * dl_field; ONE column-pruned doc-store projection reused by
        # both the field-candidate join and the dl join
        docs_aux = docs.select(
            "doc_id",
            F.col(field_col).alias("_fv"),
            doc_length_col(self.tokenizer_mode)(F.col("text")).alias(
                "_dlb"
            ),
        )
        dlt_df = F.broadcast(
            _local_frame(
                self.spark,
                "_fv string, _dlt int",
                [(v, int(n)) for v, n in dlt.items()],
            )
        )
        # null-safe: a doc whose field is NULL keeps dl_field = 0 (the
        # dictionary maps None to 0 tokens) and still scores on the body
        dl_side = docs_aux.join(
            dlt_df, docs_aux["_fv"].eqNullSafe(dlt_df["_fv"])
        ).select(
            "doc_id",
            (F.col("_dlb") + F.lit(w) * F.col("_dlt")).alias("_dlf"),
        )
        # avgdl-tilde: avgdl_body (corpus stats) + w * mean field dl,
        # the latter from the cached per-value doc counts
        avg_dlt = (
            sum(counts[v] * dlt[v] for v in counts) / float(self.n_docs)
            if self.n_docs
            else 0.0
        )
        avgdlf = self.avgdl + w * avg_dlt
        # body side: partition-pruned postings decode
        if not plan.empty:
            body = self.decoded_postings(
                [int(t) for t in plan["term_id"]]
            ).join(
                F.broadcast(
                    _local_frame(
                        self.spark,
                        "term_id long, slot int",
                        [
                            (int(r.term_id), uniq.index(r.term))
                            for r in plan.itertuples(index=False)
                        ],
                    )
                ),
                "term_id",
            ).select("doc_id", "slot", F.col("tf").alias("_tfb"))
        else:
            body = _local_frame(self.spark, "doc_id long, slot int, _tfb int")
        # field side: broadcast (value, term, tf) map into the doc store
        if tmap:
            fside = docs_aux.join(
                F.broadcast(
                    _local_frame(
                        self.spark, "_fv string, slot int, _tft int", tmap
                    )
                ),
                "_fv",
            ).select("doc_id", "slot", "_tft")
        else:
            fside = _local_frame(self.spark, "doc_id long, slot int, _tft int")
        comb = (
            body.join(fside, ["doc_id", "slot"], "full_outer")
            .select(
                "doc_id",
                "slot",
                (
                    F.coalesce(F.col("_tfb"), F.lit(0)).cast("double")
                    + F.lit(w) * F.coalesce(F.col("_tft"), F.lit(0))
                ).alias("_tfc"),
            )
            # df/matched are defined on tf-tilde > 0: at w=0 a field-only
            # hit contributes nothing and must not count, so the operator
            # degenerates EXACTLY to plain BM25 (gated)
            .filter(F.col("_tfc") > 0)
        )
        # union df per term -> idf-tilde (n_terms rows, broadcast back);
        # the contributions fold in term-string slot order
        fdf = comb.groupBy("slot").agg(F.countDistinct("doc_id").alias("_df"))
        tf_norm = tf_norm_sql("_tfc", "_dlf", avgdlf, self.params)
        contrib = (
            comb.join(F.broadcast(fdf), "slot")
            .join(dl_side, "doc_id")
            .selectExpr(
                "doc_id", "slot",
                f"{idf_sql('_df', self.n_docs)} * {tf_norm} AS contrib",
            )
        )
        scored = self._aggregate_scores(contrib, len(uniq))
        if mode == "AND":
            scored = scored.where(f"matched = {len(uniq)}")
        return _page(scored, k)

    def fetch_docs(self, doc_ids: list[int]) -> DataFrame:
        """Cached-copy serving — the reference's PageGet flow (serve the
        stored document by docid; `PageGet.cpp` reads the title rec via
        Msg20/Msg22 by docid): a partition-pruned doc-store lookup
        returning every stored column for the requested ids, ordered
        doc_id ASC. The SERP's "cached" link, the snippet path's doc
        fetch, and any export-by-id all reduce to this one scan shape.

        Scale shape: an In(doc_id) predicate pushed to the doc-store
        parquet scan (plan-gated) — the page of ids is query-sized, so
        the filter is a literal list, no join, no shuffle beyond the
        final order of ≤len(doc_ids) rows.
        """
        ids = sorted({int(d) for d in doc_ids})
        return (
            self.catalog.read_table("documents")
            .filter(F.col("doc_id").isin(ids))
            .orderBy(F.asc("doc_id"))
        )

    def explain_terms(
        self,
        query_terms: list[str],
        mode: str = "AND",
        wand_df_cutoff: int | None = None,
    ) -> DataFrame:
        """Query-plan introspection — the reference's `&debug=1` query-info
        surface (PageResults debug dump of per-term termlist sizes;
        `Msg3a.cpp:1011` setTermFreqWeights is exactly this table) as a
        DataFrame an operator can join/log: per query term its dictionary
        row (present, df, idf) plus the query-level routing decision under
        ``mode``: search_auto's ``route`` (driver|exact|wand), its ``reason``
        (sum_df|rarest_df|pruning) and the ``sum_df`` of the plan.

        Costs ZERO Spark jobs (plan_terms reads the dictionary in the
        driver and memoizes its rows, including confirmed misses) — the
        frame is built from driver-held plan metadata, so SERP handlers
        can attach it to every response for free. Absent terms appear with
        df=0 / idf NULL / present=false; sum_df counts present terms only
        (an absent term decodes nothing — same contract as routing).
        """
        plan = self.plan_terms(query_terms)
        by_term = {
            str(t): (int(d), float(i))
            for t, d, i in zip(plan["term"], plan["df"], plan["idf"])
        }
        chosen, reason = route(plan, mode, wand_df_cutoff)
        sum_df = int(plan["df"].sum())
        rows = []
        for t in sorted(set(query_terms)):
            df_i, idf = by_term.get(t, (0, None))
            rows.append((t, t in by_term, df_i, idf, chosen, reason, sum_df))
        return _local_frame(
            self.spark,
            "term string, present boolean, df long, idf double, "
            "route string, reason string, sum_df long",
            rows,
        )

    def search_after(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        after: tuple[float, int] | None = None,
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """Cursor-based deep paging: page N+1 is the top-k of the ranking
        STRICTLY AFTER the cursor ``after`` = (score, doc_id) of page N's
        last row — the scale-correct pagination. The reference pages by
        over-fetching firstResultNum+docsToGet and slicing (`Msg40.cpp`
        docsToGet grows with the requested offset; our ``bm25_paging``
        mirrors that), which is O(offset + k) work per page; this is O(k)
        per page at ANY depth, because the cursor predicate
        (score, doc_id) < cursor filters BEFORE the top-k selection, so
        page 1000 costs the same one TakeOrderedAndProject as page 1.

        Sound ONLY because scores are bit-stable: `_aggregate_scores`
        folds contributions in canonical term order, so re-running the
        query reproduces page N's boundary score EXACTLY and the strict
        tuple comparison ((score < s0) OR (score = s0 AND doc_id > d0))
        resumes without skips or repeats. An engine with
        nondeterministic float accumulation cannot offer this operator.

        ``after=None`` is page 1 (identical to search_terms). The driver
        route applies the same predicate before its numpy top-k.
        """
        return self._search(query_terms, mode, k, exclude_terms, after)

    def search_relaxed(
        self,
        query_terms: list[str],
        k: int = 10,
        exclude_terms: list[str] | None = None,
    ) -> DataFrame:
        """requireAllTerms=false serving (`Msg3a.cpp:124-126`: "all search
        results MUST contain the required query terms, OTHERWISE, such
        results are preferred, but the result set will contain docs that
        do not have all required query terms") — the relaxed half of the
        reference's rat parameter. Full-coverage docs form the top tier;
        partial matchers fill the remainder of the page, each tier
        ordered score DESC / doc_id ASC.

        ``phase`` = 'full' when the doc matches every query term PRESENT
        in the corpus (an absent term can match nothing under either
        mode — same contract as plan_terms everywhere else), else
        'partial'.

        Scale shape: ONE job — ordinary OR scoring with a two-key
        TakeOrderedAndProject ((is_full, score) DESC, doc_id ASC); no
        driver-side count-then-requery round trip, unlike the spell
        fallback (which must inspect the page to decide).
        """
        plan = self.plan_terms(query_terms)
        n_full = len(plan)
        scored = self.score_terms(query_terms, "OR", exclude_terms)
        is_full = F.col("matched") == F.lit(int(n_full))
        return (
            scored.withColumn(
                "phase",
                F.when(is_full, F.lit("full")).otherwise(F.lit("partial")),
            )
            .orderBy(
                F.desc(is_full.cast("int")),
                F.desc("score"),
                F.asc("doc_id"),
            )
            .limit(int(k))
            .select("doc_id", "score", "matched", "phase")
        )

    def search_fuzzy(
        self,
        query_terms: list[str],
        mode: str = "AND",
        k: int = 10,
        max_edit: int = 1,
        max_expansions: int = 8,
        fuzzy_weight: float = 0.7,
    ) -> DataFrame:
        """Typo-tolerant search: each query term expands to the dictionary
        terms within Levenshtein distance ≤ ``max_edit`` and the expansion
        scores as ONE vote group through the J2 machinery
        (`_vote_group_scores`) — OR within the group, the query's AND/OR
        across groups, matched counts groups. The retrieval-side
        complement of the spell-assist surface (`Speller.cpp:169`
        getRecommendation walks edit neighbors of the typed word;
        search_with_suggestion requeries AFTER the fact — this matches
        THROUGH the typo in one query), and the edit-distance sibling of
        ``search_prefix``'s wildcard expansion.

        Expansion order: distance ASC (the exact term, if indexed, always
        leads), then df DESC, term ASC — deterministic. Member weight:
        1.0 at distance 0, ``fuzzy_weight`` otherwise (the derived-form
        damp, same shape as the morphology path's 0.9). A term whose
        neighborhood is empty behaves like an absent term (AND → empty
        page).

        Scale shape: expansion happens in the term DICTIONARY only — the
        length band |len − len(q)| ≤ max_edit pushes to the term_stats
        scan as two comparisons, levenshtein evaluates inside the band
        only, TakeOrderedAndProject collects ≤ max_expansions rows per
        term (plan metadata, the search_prefix contract). The postings
        scan stays partition-pruned to the expanded terms.
        """
        groups: dict[str, list[tuple[str, float]]] = {}
        for t in sorted(set(query_terms)):
            lev = F.levenshtein(F.col("term"), F.lit(t))
            rows = (
                self._term_stats.filter(
                    (F.length("term") >= len(t) - int(max_edit))
                    & (F.length("term") <= len(t) + int(max_edit))
                    & ~F.col("term").contains(" ")
                )
                .select("term", "df", lev.alias("lev"))
                .filter(F.col("lev") <= int(max_edit))
                .orderBy(F.asc("lev"), F.desc("df"), F.asc("term"))
                .limit(int(max_expansions))
                .collect()
            )
            groups[t] = [
                (r["term"], 1.0 if r["lev"] == 0 else float(fuzzy_weight))
                for r in rows
            ]
        return _page(self._vote_group_scores(groups, mode), k)

    def complete_query(
        self, partial: str, k: int = 10, max_candidates: int = 32
    ) -> DataFrame:
        """Search-box query completion, context-aware: the LAST token of
        ``partial`` is the word being typed; it expands to dictionary
        words sharing that prefix and the completions are ranked by how
        many docs contain the completion TOGETHER with every already-typed
        context word — i.e. completions that keep the query answerable
        rank first, not merely globally-frequent words. With no context
        (single-token input) the rank is plain dictionary df.

        Companion to search_prefix (same dictionary expansion) and to the
        serving-integrated speller (`Speller.cpp:69` consults the unified
        dict in the result flow) — completion is the type-ahead half of
        that assist surface; the reference has no autocomplete endpoint,
        so this is beyond-reference like the wildcard operator.

        Scale shape: candidate expansion is a pushed-down StartsWith on
        the term DICTIONARY (tiny next to postings) +
        TakeOrderedAndProject, <= max_candidates rows to the driver (plan
        metadata, the search_prefix/plan_terms contract). Co-occurrence
        counting is ONE partition-pruned postings scan over context +
        candidate term_ids: context docs reduce via a map-side-combined
        (doc, n_ctx_terms) agg, candidate rows semi-join against them,
        then a <= max_candidates-group count. No corpus scan, no window,
        no Python beyond the shared Arrow decode.

        Output: (completion, n_docs, df) ordered n_docs DESC, df DESC,
        completion ASC, limited to k. Context words absent from the
        corpus -> empty (the AND contract); completions co-occurring with
        zero context docs are dropped.
        """
        out_schema = "completion string, n_docs long, df long"
        words = self.tokenize_query(partial)
        if not words:
            return _local_frame(self.spark, out_schema)
        prefix, context = words[-1], sorted(set(words[:-1]))
        cand = (
            self._term_stats.filter(
                F.col("term").startswith(prefix)
                & ~F.col("term").contains(" ")
            )
            .select("term", "term_id", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(int(max_candidates))
            .collect()
        )
        cand = [r for r in cand if r["term"] not in context]
        if not cand:
            return _local_frame(self.spark, out_schema)
        if not context:
            # no typed context: rank by dictionary df (n_docs == df)
            rows = [(r["term"], int(r["df"]), int(r["df"])) for r in cand]
            return (
                _local_frame(self.spark, out_schema, rows)
                .orderBy(
                    F.desc("n_docs"), F.desc("df"), F.asc("completion")
                )
                .limit(int(k))
            )
        ctx_plan = self.plan_terms(context)
        if len(ctx_plan) < len(context):
            return _local_frame(self.spark, out_schema)
        ctx_ids = [int(t) for t in ctx_plan["term_id"]]
        cand_ids = [int(r["term_id"]) for r in cand]
        decoded = self.decoded_postings(sorted(set(ctx_ids + cand_ids)))
        ctx_docs = (
            decoded.filter(F.col("term_id").isin(ctx_ids))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("nm"))
            .filter(F.col("nm") == len(ctx_ids))
            .select("doc_id")
        )
        counts = (
            decoded.filter(F.col("term_id").isin(cand_ids))
            .join(ctx_docs, "doc_id", "left_semi")
            .groupBy("term_id")
            .agg(F.count(F.lit(1)).alias("n_docs"))
        )
        meta = _local_frame(
            self.spark,
            "term_id long, completion string, df long",
            [(int(r["term_id"]), r["term"], int(r["df"])) for r in cand],
        )
        return (
            counts.join(F.broadcast(meta), "term_id")
            .select(
                "completion",
                F.col("n_docs").cast("long").alias("n_docs"),
                F.col("df").cast("long").alias("df"),
            )
            .orderBy(F.desc("n_docs"), F.desc("df"), F.asc("completion"))
            .limit(int(k))
        )

    def search_near(
        self, w1: str, w2: str, slop: int = 3, k: int = 10
    ) -> DataFrame:
        """In-order sloppy phrase (NEAR): docs where ``w2`` occurs 1..slop
        token positions AFTER ``w1``, ranked by the ordinary two-term BM25
        AND score, with the observed minimum gap attached (slop=1 is the
        exact adjacent phrase). The sliding-window generalization the
        reference scores with (`PosdbTable.cpp:3404` works in exactly this
        in-order pair-distance space) surfaced as a MATCHING predicate
        instead of a rank bonus — the complement of search_proximity.

        Scale shape: same as phrase_docs — partition-pruned positional
        postings for the two terms only, the one per-doc positional pivot
        (_positions), the gap scan as a JVM array lambda over the per-doc
        position arrays (O(tf1·tf2) per doc on in-memory ints; per-doc tfs
        are tiny), then the standard restricted scoring job. No corpus
        scan, no Python.
        """
        if slop < 1:
            raise ValueError("slop must be >= 1")
        if _unanswerable(self.plan_terms([w1, w2]), [w1, w2], "AND"):
            return _local_frame(
                self.spark,
                "doc_id long, score double, matched int, min_gap int",
            )
        terms = sorted({w1, w2})
        p1, p2 = (f"_p{terms.index(w)}" for w in (w1, w2))
        near = self._positions({None: terms}, "search_near").selectExpr(
            "doc_id",
            f"array_min(flatten(transform({p1}, a -> filter(transform({p2},"
            f" b -> b - a), g -> g >= 1 AND g <= {int(slop)})))) AS min_gap",
        ).where("min_gap IS NOT NULL")
        scored = self.score_terms(
            [w1, w2], "AND", filter_docs=near.select("doc_id")
        )
        return _page(
            scored.join(near, "doc_id").select(
                "doc_id", "score", "matched", "min_gap"
            ),
            k,
        )

    def search_query(
        self,
        query: str,
        k: int = 10,
        drop_stopwords: bool = False,
        stop_words: set[str] | None = None,
    ) -> DataFrame:
        """Full query-string grammar: quoted phrases, parens, OR/'|',
        '-' exclusion, '+' forced inclusion, field:value restriction
        (`Query.cpp:1229` setQWords; opcodes `Query.h:146-152`; field codes
        `Query.h:33-102`; signs `Query.h:191-193`; quotes `Query.h:219-226`).

        Semantics (mirroring the reference, which scores ALL query terms
        and lets the boolean structure constrain MATCHING,
        `PosdbTable.cpp:5408`): score = BM25 sum over every positive
        term/phrase word in the query (OR accumulation, canonical order);
        eligibility = the DNF of the boolean expression, each clause
        evaluated with semi/anti-join algebra (terms AND-chained, phrases
        by positional adjacency, fields as document-column equality).
        Returns (doc_id, score, matched) top-k; matched counts the scoring
        terms present in the doc.

        ``drop_stopwords`` enables the reference's query-side stopword
        dropping (`Query.h:136-143` IGNORE_DEFAULT): unforced plain
        stopword terms leave the query; ``+term`` (`Query.h:192`), quoted
        phrases, and fields always survive, and an all-stopword clause is
        answered as-is. ``stop_words`` overrides the default English set."""
        el, terms = self.query_eligibility(query, drop_stopwords, stop_words)
        if el is None:
            return _local_frame(self.spark, _SCORED)
        # UOR rank-blend (`Query.h:146-152` OP_UOR): a UOR's terms score as
        # ONE vote group (matched counts the group once), other scoring
        # terms stay singleton groups -- eligibility is unchanged (the DNF
        # treats UOR as OR)
        from ..functions.query_parser import parse_query, uor_groups

        ugroups = uor_groups(parse_query(query))
        if not terms:
            scored = _local_frame(self.spark, _SCORED)
        elif ugroups:
            grouped: set[str] = set()
            vote: dict[str, list[tuple[str, float]]] = {}
            # only tokens that survived query_eligibility's term selection
            # may score: a stopword dropped by IGNORE_DEFAULT must not
            # re-enter through its UOR group (the raw parse tree still
            # contains it)
            eligible_toks = set(terms)
            for g in ugroups:
                members = sorted(
                    {
                        tok
                        for text in g
                        for tok in self.tokenize_query(text)
                    }
                    & (eligible_toks - grouped)
                )
                if members:
                    vote["\x01uor:" + " ".join(members)] = [
                        (m, 1.0) for m in members
                    ]
                    grouped.update(members)
            for t in terms:
                if t not in grouped:
                    vote[t] = [(t, 1.0)]
            scored = self._vote_group_scores(vote, mode="OR")
        else:
            scored = self.score_terms(terms, mode="OR")
        # an eligible doc without scoring terms still returns at score 0.0
        # / matched 0 (left-outer, NOT semi-join): a field-only query
        # ('lang:en') or a scoring-term-free clause ('... OR (lang:fr)')
        # must not silently drop its eligible docs (r2 ADVICE). Ties at
        # 0.0 break doc_id asc as everywhere else.
        return _page(
            el.join(scored, "doc_id", "left_outer").selectExpr(
                "doc_id",
                "coalesce(score, 0.0D) AS score",
                "CAST(coalesce(matched, 0) AS INT) AS matched",
            ),
            k,
        )

    def query_eligibility(
        self,
        query: str,
        drop_stopwords: bool = False,
        stop_words: set[str] | None = None,
    ) -> tuple[DataFrame | None, list[str]]:
        """Parse a query string and evaluate its boolean structure to the
        eligible doc_id set (DNF clauses via semi/anti-join algebra).

        Returns (eligible_docs | None, sorted scoring terms). The shared
        front half of search_query / search_facets / search_sorted."""
        from ..functions.query_parser import (
            drop_stopword_terms,
            parse_query,
            to_dnf,
            unwrap_forced,
        )

        clauses = to_dnf(parse_query(query))
        if drop_stopwords:
            if stop_words is None:
                from .text_analysis import LANG_MARKERS

                stop_words = set(LANG_MARKERS["en"]) | {"a", "an"}
            clauses = drop_stopword_terms(clauses, set(stop_words))
        scoring: set[str] = set()
        for cl in clauses:
            for negd, atom in cl:
                atom, _forced = unwrap_forced(atom)
                if not negd and atom[0] in ("term", "phrase"):
                    scoring.update(self.tokenize_query(atom[1]))
        eligible = None
        for cl in clauses:
            cd = self._clause_docs(cl)
            if cd is None:
                continue
            eligible = cd if eligible is None else eligible.unionByName(cd)
        if eligible is None:
            return None, sorted(scoring)
        return eligible.distinct(), sorted(scoring)

    def search_facets(
        self,
        query: str,
        facet_fields: list[str] | tuple[str, ...] = (),
        facet_ranges: dict[str, int] | None = None,
        top_n: int = 20,
        drop_stopwords: bool = False,
    ) -> DataFrame:
        """Faceted search (`gbfacetstr:`/`gbfacetint:` -- `Query.cpp:1787`
        hashes facet terms into the posting keys; we aggregate the doc-store
        columns instead): per-field value counts over ALL docs matching the
        query string, not just the top-k page.

        ``facet_fields`` are string-valued document columns; ``facet_ranges``
        maps a numeric column to a bucket width (gbfacetint range buckets:
        value -> floor(v/width)*width). Returns (facet_field, facet_value,
        n_docs), top_n values per field by count desc / value asc.

        Plan shape: one semi-join of the doc store against the eligible set,
        then one map-side-combined aggregation per facet; output cardinality
        is #distinct facet values, so the per-field top-n window is tiny."""
        el, _ = self.query_eligibility(query, drop_stopwords)
        empty = _local_frame(
            self.spark, "facet_field string, facet_value string, n_docs long"
        )
        if el is None or (not facet_fields and not facet_ranges):
            return empty
        docs = self.catalog.read_table("documents")
        for fld in list(facet_fields) + list(facet_ranges or {}):
            if fld not in docs.columns:
                raise ValueError(
                    f"unknown facet field '{fld}' -- facetable fields are "
                    f"the documents columns {sorted(docs.columns)}"
                )
        docs = docs.join(el, "doc_id", "left_semi")
        pieces = []
        for fld in facet_fields:
            pieces.append(
                docs.groupBy(
                    F.lit(fld).alias("facet_field"),
                    F.col(fld).cast("string").alias("facet_value"),
                ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            )
        for fld, width in (facet_ranges or {}).items():
            bucket = (F.floor(F.col(fld) / F.lit(width)) * width).cast("long")
            pieces.append(
                docs.groupBy(
                    F.lit(f"{fld}:{width}").alias("facet_field"),
                    bucket.cast("string").alias("facet_value"),
                ).agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            )
        from pyspark.sql import Window

        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        w = Window.partitionBy("facet_field").orderBy(
            F.desc("n_docs"), F.asc("facet_value")
        )
        return (
            out.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= top_n)
            .select("facet_field", "facet_value", "n_docs")
        )

    def search_sorted(
        self,
        query: str,
        sort_field: str,
        ascending: bool = False,
        k: int = 10,
        min_filters: dict[str, float] | None = None,
        max_filters: dict[str, float] | None = None,
    ) -> DataFrame:
        """Query-time field sort with range constraints (`gbsortby:`/
        `gbsortbyint:` `Query.cpp:1526-1692`; `gbmin:`/`gbmax:` range
        constraints on the sort termlist `Query.cpp:1668-1686`): matching
        docs ordered by a document column instead of relevance.

        Range filters apply to doc-store numeric columns BEFORE the sort, so
        Spark executes scan -> semi-join -> filter -> TakeOrderedAndProject
        (per-partition partial top-k, tiny final merge -- no global sort).
        Returns (doc_id, <sort_field>) top-k, doc_id asc tie-break."""
        el, _ = self.query_eligibility(query)
        docs = self.catalog.read_table("documents")
        if sort_field not in docs.columns:
            raise ValueError(
                f"unknown sort field '{sort_field}' -- sortable fields are "
                f"the documents columns {sorted(docs.columns)}"
            )
        if el is None:
            # empty result with the REAL column types (a string sort field
            # must not come back long-typed just because nothing matched)
            return docs.select("doc_id", sort_field).limit(0)
        docs = docs.join(el, "doc_id", "left_semi")
        for fld, v in (min_filters or {}).items():
            docs = docs.filter(F.col(fld) >= v)
        for fld, v in (max_filters or {}).items():
            docs = docs.filter(F.col(fld) <= v)
        key = F.asc(sort_field) if ascending else F.desc(sort_field)
        return (
            docs.select("doc_id", sort_field)
            .orderBy(key, F.asc("doc_id"))
            .limit(k)
        )

    def _clause_docs(self, clause) -> DataFrame | None:
        """One DNF clause -> doc_id frame via semi/anti-join algebra
        (J3/O2/O3; boolean_docs generalized with phrase + field atoms)."""
        from ..functions.query_parser import unwrap_forced

        pos, neg = [], []
        for negd, atom in clause:
            atom, _forced = unwrap_forced(atom)
            kind = atom[0]
            if kind == "term":
                words = self.tokenize_query(atom[1])
                if not words:
                    continue
                f = None
                for w in words:
                    td = self.term_docs(w)
                    f = td if f is None else f.join(td, "doc_id", "left_semi")
            elif kind == "phrase":
                words = self.tokenize_query(atom[1])
                if not words:
                    continue
                f = self._phrase_hits(words)
            else:  # field:value -> document-column equality (F5 analog)
                name, value = atom[1], atom[2]
                docs = self.catalog.read_table("documents")
                if name not in docs.columns:
                    raise ValueError(
                        f"unknown field '{name}:' -- queryable fields are "
                        f"the documents columns {sorted(docs.columns)}"
                    )
                f = docs.filter(
                    F.col(name).cast("string") == value
                ).select("doc_id")
            (neg if negd else pos).append(f)
        if not pos:
            return None
        frame = pos[0]
        for f in pos[1:]:
            frame = frame.join(f, "doc_id", "left_semi")
        for f in neg:
            frame = frame.join(f, "doc_id", "left_anti")
        return frame

    def _phrase_hits(
        self,
        words: list[str],
        use_bigrams: bool = True,
        restrict: DataFrame | None = None,
    ) -> DataFrame:
        """Docs containing the exact phrase; verified over the much-shorter
        bigram termlists when the index carries them (SURVEY.md X3; a
        2-word phrase is then one termlist and needs no positions),
        positional unigram intersection otherwise. Results identical.
        ``restrict`` narrows verification to a candidate doc set (see
        _phrase_postings)."""
        if use_bigrams and len(words) >= 2:
            bi = [f"{a} {b}" for a, b in zip(words, words[1:])]
            if len(self.plan_terms(bi)) == len(set(bi)):
                words = bi
        return self.phrase_docs(words, restrict=restrict)

    # ------------------------------------------------------------------
    def _contributions(
        self, plan: pd.DataFrame, blocks: str | None = None
    ) -> DataFrame:
        """(doc_id, tf, dl, slot, idf, contrib), contrib = idf * tf_norm,
        JVM-side; callers that read only the contribution get tf, dl and idf
        pruned. A term's slot is its index in term-string order, the
        canonical fold's (_aggregate_scores). Idf and slot are CASE
        expressions over term_id, so the plan's constants need no frame of
        their own; only numbers go into the SQL text. ``blocks`` restricts
        the decode (_decoded)."""
        by_term = sorted(zip(plan["term"], plan["term_id"], plan["idf"]))
        idf = " ".join(
            f"WHEN {int(t)} THEN {sql_double(v)}" for _, t, v in by_term
        )
        slot = " ".join(
            f"WHEN {int(t)} THEN {i}" for i, (_, t, _) in enumerate(by_term)
        )
        tf_norm = tf_norm_sql("tf", "dl", self.avgdl, self.params)
        return self._decoded(
            [int(t) for t in plan["term_id"]], blocks=blocks
        ).selectExpr(
            "doc_id",
            "tf",
            "dl",
            f"CASE term_id {slot} END AS slot",
            f"CASE term_id {idf} END AS idf",
            f"CASE term_id {idf} END * {tf_norm} AS contrib",
        )

    # ------------------------------------------------------------------
    def phrase_docs(
        self, phrase_terms: list[str], restrict: DataFrame | None = None
    ) -> DataFrame:
        """(doc_id) of the docs containing the exact phrase (positional
        adjacency): term i of ``phrase_terms`` at position p + i for some p.

        Reference: quoted phrases are verified by positional containment
        (`Query.h:219-226`, `Matches.cpp:252`; SURVEY.md O5). A term may be
        a bigram term ("t_i t_{i+1}" at slot i: bigram positions are
        first-word ordinals) and may repeat. ``restrict`` (a small
        (doc_id, ...) DataFrame, e.g. a WAND candidate page) narrows
        verification to those docs before the per-doc pivot -- at scale the
        termlist of a common word is huge, but the candidate page is O(k).
        The match is _phrase_postings'."""
        return self._phrase_postings(phrase_terms, restrict).select("doc_id")

    def search_phrase(
        self, phrase_terms: list[str], k: int = 10, use_bigrams: bool = True
    ) -> DataFrame:
        """Quoted-phrase query with BM25 ranking: docs must contain the exact
        phrase (positional adjacency, O5); scoring is the ordinary BM25 sum
        over the phrase's distinct terms -- quoted terms keep normal scores
        in the reference too, the quotes only constrain matching
        (`Query.h:219-226`).

        When the index carries bigram terms (IndexConfig.bigrams; SURVEY.md
        X3), adjacency is verified over the much-shorter bigram termlists
        ("t_i t_{i+1}" at slot i -- positions are first-word ordinals, so
        the same slot machinery applies); otherwise it falls back to
        positional intersection of the unigram lists. Results identical.
        """
        from . import rerank

        return rerank.exact(
            self, sorted(set(phrase_terms)), "AND", k, None,
            rerank.phrase(self, phrase_terms, use_bigrams),
        )

    def term_docs(self, term: str) -> DataFrame:
        """Distinct doc_ids containing ``term`` (one termlist scan)."""
        plan = self.plan_terms([term])
        if plan.empty:
            return _local_frame(self.spark, "doc_id long")
        return (
            self.decoded_postings([int(plan["term_id"].iloc[0])])
            .select("doc_id")
            .distinct()
        )

    def boolean_docs(self, dnf: list[list[str]]) -> DataFrame:
        """Boolean retrieval in disjunctive normal form: OR of AND-clauses.

        Reference: boolean grammar evaluated per-doc over termlist bit
        vectors (`PosdbTable.cpp:5408` makeDocIdVoteBufForBoolQuery,
        `Expression::isTruth`; SURVEY.md J3/O2). Spark re-expression: each
        AND clause = chain of semi-joins on doc_id; OR = union + distinct.
        A '-term' inside a clause is an anti-join (O3).
        """
        clause_frames = []
        for clause in dnf:
            pos = [t for t in clause if not t.startswith("-")]
            neg = [t[1:] for t in clause if t.startswith("-")]
            if not pos:
                continue
            frame = self.term_docs(pos[0])
            for t in pos[1:]:
                frame = frame.join(self.term_docs(t), "doc_id", "left_semi")
            for t in neg:
                frame = frame.join(self.term_docs(t), "doc_id", "left_anti")
            clause_frames.append(frame)
        if not clause_frames:
            return _local_frame(self.spark, "doc_id long")
        out = clause_frames[0]
        for f in clause_frames[1:]:
            out = out.unionByName(f)
        return out.distinct()

    def _aggregate_scores(
        self,
        contrib: DataFrame,
        entries: int | list[tuple[int, float]],
        groups: list[list[int]] | None = None,
        keys: tuple[str, ...] = ("doc_id",),
        **features: str,
    ) -> DataFrame:
        """THE canonical-order float64 fold: every BM25 sum in the package
        is computed here. Returns (*keys, score, matched), plus one column
        per ``features`` entry (name -> SQL aggregate over ``contrib``'s
        columns) computed in the same aggregation.

        A PIVOTED hash aggregation of ``contrib`` (slot, contrib) rows per
        ``keys`` (doc_id; (query_id, doc_id) for a batch) -- one
        conditional-sum column per slot, then a fixed-order fold -- which
        map-side partial-aggregates. ``entries`` is the fold: (slot,
        weight) pairs added in list order, 0.0 + w_0 * c_0 + w_1 * c_1 ...;
        an int n means slots 0..n-1 at weight 1.0, the plain query's
        term-string order (_contributions). A slot may repeat (a term in
        two vote groups); weight 1.0 multiplies nothing. An absent slot
        adds w * 0.0 (coalesce-to-0.0 is bit-identical to skipping for
        positive contributions), so the fold is linear in the entries --
        a skip written as when/otherwise would copy the accumulated tree
        into both branches, O(2^n) expression nodes for a wide group.

        ``groups``: vote groups as lists of slots; matched counts the
        groups with any slot present. None: every contribution row is its
        own vote (count(1)), the plain-term case."""
        if isinstance(entries, int):
            entries = [(i, 1.0) for i in range(entries)]
        matched = "matched"
        aggs = [
            f"sum(CASE WHEN slot = {i} THEN contrib END) AS _c{i}"
            for i in sorted({s for s, _ in entries})
        ]
        if groups is None:
            aggs.append("CAST(count(1) AS INT) AS matched")
        else:
            matched = " + ".join(
                "CAST(({}) AS INT)".format(
                    " OR ".join(f"_c{s} IS NOT NULL" for s in grp)
                )
                for grp in groups
            ) + " AS matched"
        g = contrib.groupBy(*keys).agg(
            *[F.expr(e) for e in aggs],
            *[F.expr(f"{e} AS {name}") for name, e in features.items()],
        )
        fold = " + ".join(["0.0D"] + [
            f"coalesce(_c{s}, 0.0D)" if w == 1.0
            else f"{sql_double(w)} * coalesce(_c{s}, 0.0D)"
            for s, w in entries
        ])
        return g.selectExpr(*keys, f"{fold} AS score", matched, *features)
