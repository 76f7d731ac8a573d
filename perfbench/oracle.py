"""Independent BM25 top-k oracle in DuckDB.

Tokenizes with ``regexp_split_to_array(lower(text), '[^a-z0-9_]+')``, which
is byte-identical to the engine's ascii tokenizer, and scores with the BM25
formula (k1=1.2, b=0.75, Lucene idf) written out here rather than imported,
so no engine code takes part in checking the engine.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pandas as pd

K1, B = 1.2, 0.75
TIE_EPS = 1e-9
SPLIT = "[^a-z0-9_]+"
_TERM = re.compile(r"[a-z0-9_]+")


def _lit(terms) -> str:
    """A SQL list of quoted terms; terms are tokenizer output, checked so
    that quoting them is safe."""
    for t in terms:
        if not _TERM.fullmatch(t):
            raise ValueError(f"not a token of the ascii tokenizer: {t!r}")
    return ", ".join(f"'{t}'" for t in terms) or "''"


class Oracle:
    """BM25 over a mutable corpus of ``(doc_id, text)`` rows."""

    def __init__(self, corpus: pd.DataFrame, threads: int = 4):
        self.db = duckdb.connect(config={"threads": threads})
        self.db.execute("CREATE TABLE tok (doc_id BIGINT, term VARCHAR, tf INTEGER)")
        self.db.execute("CREATE TABLE docs (doc_id BIGINT PRIMARY KEY, dl INTEGER)")
        self._insert(corpus[["doc_id", "text"]], sort=True)

    def _insert(self, rows: pd.DataFrame, sort: bool = False) -> None:
        self.db.register("incoming", rows)
        self.db.execute(
            f"""CREATE OR REPLACE TEMP TABLE split AS
            SELECT doc_id, unnest(regexp_split_to_array(lower(text), '{SPLIT}')) AS term
            FROM incoming"""
        )
        self.db.execute(
            "INSERT INTO docs SELECT i.doc_id, count(s.term) FILTER (WHERE s.term <> '')"
            " FROM incoming i LEFT JOIN split s USING (doc_id) GROUP BY i.doc_id"
        )
        # sorted by term, so a term filter skips row groups by zone map
        self.db.execute(
            "INSERT INTO tok SELECT doc_id, term, count(*) FROM split"
            " WHERE term <> '' GROUP BY doc_id, term"
            + (" ORDER BY term, doc_id" if sort else "")
        )
        self.db.unregister("incoming")
        self.db.execute("DROP TABLE split")
        n, s = self.db.execute("SELECT count(*), sum(dl) FROM docs").fetchone()
        self.n_docs = int(n)
        self.avgdl = int(s or 0) / self.n_docs if self.n_docs else 0.0

    def apply(self, upserts: pd.DataFrame, delete_ids) -> None:
        """Replace the text of ``upserts`` rows (new ids are inserted) and
        drop ``delete_ids``."""
        gone = pd.DataFrame(
            {"doc_id": np.concatenate([upserts["doc_id"].to_numpy(), np.asarray(delete_ids)])}
        )
        self.db.register("gone", gone)
        self.db.execute("DELETE FROM tok WHERE doc_id IN (SELECT doc_id FROM gone)")
        self.db.execute("DELETE FROM docs WHERE doc_id IN (SELECT doc_id FROM gone)")
        self.db.unregister("gone")
        self._insert(upserts[["doc_id", "text"]])

    def _ranked(self, queries: list[dict], limit: int) -> pd.DataFrame:
        """(qid, doc_id, score) of the first ``limit`` matches of every
        query, in one scan of the queries' terms."""
        qterms, need, excl = [], [], []
        for i, q in enumerate(queries):
            terms = sorted(set(q["terms"]))
            qterms += [f"({i}, {_lit([t])})" for t in terms]
            need.append(f"({i}, {len(terms) if q['mode'] == 'AND' else 1})")
            excl += [f"({i}, {_lit([t])})" for t in q["exclude"]]
        all_terms = sorted({t for q in queries for t in q["terms"]})
        return self.db.execute(
            f"""
            WITH qt(qid, term) AS (VALUES {", ".join(qterms)}),
            qn(qid, need) AS (VALUES {", ".join(need)}),
            qx(qid, term) AS (VALUES {", ".join(excl) or "(-1, '')"}),
            hits AS (SELECT doc_id, term, tf FROM tok WHERE term IN ({_lit(all_terms)})),
            st AS (SELECT term, count(*) AS df FROM hits GROUP BY term),
            c AS (
                SELECT qt.qid, h.doc_id,
                       ln(({self.n_docs} - st.df + 0.5) / (st.df + 0.5) + 1.0)
                       * (h.tf * ({K1} + 1.0)
                          / (h.tf + {K1} * (1.0 - {B} + {B} * d.dl / {self.avgdl!r}))) AS contrib
                FROM qt JOIN hits h USING (term) JOIN st USING (term) JOIN docs d USING (doc_id)),
            s AS (SELECT qid, doc_id, sum(contrib) AS score, count(*) AS m FROM c GROUP BY qid, doc_id),
            ex AS (SELECT qx.qid, x.doc_id FROM qx JOIN tok x USING (term))
            SELECT s.qid, s.doc_id, s.score
            FROM s JOIN qn USING (qid) ANTI JOIN ex USING (qid, doc_id)
            WHERE s.m >= qn.need
            QUALIFY row_number() OVER (PARTITION BY s.qid ORDER BY s.score DESC, s.doc_id) <= {limit}
            ORDER BY s.qid, s.score DESC, s.doc_id
            """
        ).df()

    def top_k_many(self, queries: list[dict], extra: int = 32) -> list[pd.DataFrame]:
        """The expected page of each query: top ``k`` by score desc, scores
        within TIE_EPS counted as ties and broken by doc_id asc."""
        limit = max(q["k"] for q in queries) + extra
        ranked = self._ranked(queries, limit)
        groups = dict(iter(ranked.groupby("qid")))
        pages = []
        for i, q in enumerate(queries):
            got = groups.get(i, ranked.iloc[:0])[["doc_id", "score"]].reset_index(drop=True)
            k = q["k"]
            if len(got) == limit and got["score"].iloc[k - 1] - got["score"].iloc[-1] <= TIE_EPS:
                # the tie group at rank k may run past the fetched rows
                pages.append(self.top_k_many([q], extra * 4)[0])
            else:
                pages.append(tie_order(got).head(k))
        return pages

    def top_k(self, q: dict) -> pd.DataFrame:
        return self.top_k_many([q])[0]


def tie_order(page: pd.DataFrame) -> pd.DataFrame:
    """Reorder a score-desc page so scores within TIE_EPS of the first
    score of their run form one tie group, ordered by doc_id asc."""
    s = page["score"].to_numpy(np.float64)
    group = np.zeros(len(s), dtype=np.int64)
    lead = 0
    for i in range(1, len(s)):
        if s[lead] - s[i] > TIE_EPS:
            lead = i
        group[i] = lead
    return (
        page.assign(_g=group)
        .sort_values(["_g", "doc_id"], kind="stable")
        .drop(columns="_g")
        .reset_index(drop=True)
    )


def same_page(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Engine page ``got`` (doc_id, score) equals the oracle page ``want``:
    same doc ids in tie-normalized order and scores within TIE_EPS."""
    if len(got) != len(want):
        return False
    got = tie_order(got.reset_index(drop=True))
    return bool(
        np.array_equal(got["doc_id"].to_numpy(np.int64), want["doc_id"].to_numpy(np.int64))
        and np.allclose(
            got["score"].to_numpy(np.float64), want["score"].to_numpy(np.float64),
            rtol=0, atol=TIE_EPS,
        )
    )
