"""BM25 formula module -- shared by the Spark engine and the golden oracle.

The north rule pins scoring to BM25 (the reference's own scorer is
proximity-based and explicitly not TF/IDF, `html/faq.html:337`; its full
formula is documented in SURVEY.md §4.5). One formula module guarantees the
engine and the brute-force oracle cannot diverge: numpy for the driver and
the oracle, SQL text (``idf_sql``, ``tf_norm_sql``) for every Spark plan:

    idf(df)     = ln((N - df + 0.5) / (df + 0.5) + 1)        (Lucene-style, >0)
    tf_norm     = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    score(d, Q) = sum over q in Q of idf(df_q) * tf_norm(tf_qd, dl_d)

All math is float64 with a canonical accumulation order (terms sorted by
term string asc, then docs) so per-doc sums are bit-stable across
partitionings (SURVEY.md §7.4.1).

Tie-break contract (reference `TopTree.cpp:185-260` addNode and
`Msg3a.cpp:807-811` "prefer lower docids on top"): score DESC, doc_id ASC.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

K1_DEFAULT = 1.2
B_DEFAULT = 0.75


@dataclass(frozen=True)
class BM25Params:
    """Ranking parameters (the analog of the reference's scoring parms,
    `Parms.cpp:3644-3790` / `ScoringWeights.cpp` -- parameterized, not
    programmable)."""

    k1: float = K1_DEFAULT
    b: float = B_DEFAULT


def idf(df: np.ndarray | float, n_docs: int) -> np.ndarray | float:
    """Always-positive BM25 idf."""
    return np.log((n_docs - np.asarray(df, dtype=np.float64) + 0.5)
                  / (np.asarray(df, dtype=np.float64) + 0.5) + 1.0)


def tf_norm(
    tf: np.ndarray,
    dl: np.ndarray,
    avgdl: float,
    params: BM25Params = BM25Params(),
) -> np.ndarray:
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    denom = tf + params.k1 * (1.0 - params.b + params.b * dl / float(avgdl))
    return tf * (params.k1 + 1.0) / denom


def sql_double(x: float) -> str:
    """A float64 as Spark SQL text that parses back to the same bits:
    ``repr`` is the shortest decimal that round-trips, the ``D`` suffix
    types it DOUBLE."""
    x = float(x)
    if not math.isfinite(x):
        raise ValueError(f"no SQL literal for {x!r}")
    return f"{x!r}D"


def idf_sql(df: str, n_docs: int) -> str:
    """SQL text of ``idf`` over the column ``df``."""
    n, d = sql_double(n_docs), f"CAST({df} AS DOUBLE)"
    return f"ln(({n} - {d} + 0.5D) / ({d} + 0.5D) + 1.0D)"


def tf_norm_sql(tf: str, dl: str, avgdl: float, params: BM25Params) -> str:
    """SQL text of ``tf_norm`` over the columns ``tf`` and ``dl``. The one
    definition every Spark path uses -- exact (which WAND scores through),
    batch, BM25F and the hot-term cache -- so they agree to the bit; only
    numbers go into the text."""
    k1, b = params.k1, params.b
    tfd = f"CAST({tf} AS DOUBLE)"
    return (
        f"({tfd} * {sql_double(k1 + 1.0)} / ({tfd} + {sql_double(k1)}"
        f" * ({sql_double(1.0 - b)} + {sql_double(b)}"
        f" * CAST({dl} AS DOUBLE) / {sql_double(avgdl)})))"
    )
