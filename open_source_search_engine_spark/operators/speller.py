"""Spelling suggestion + run-on word splitting over the corpus vocabulary.

Spark-first analog of the reference speller (``Speller.cpp``): the reference
loads a unified dictionary file mapping word -> per-language popularity
(``Speller.cpp:69`` loadUnifiedDict) and serves two primitives on it --
phrase popularity lookup (``Speller.cpp:463`` getPhrasePopularity, used by
``Pops.cpp:46`` and the Wiktionary synonym machinery) and run-on word
splitting (``Speller.cpp:547`` canSplitWords, a backtracking longest-first
multi-split).

Here the "unified dict" is the index's OWN ``term_stats`` table
(term, df, cf): popularity == exact document frequency, so the dictionary
is always consistent with the served corpus and costs nothing to build
beyond the index itself. All three primitives are pure Catalyst plans:

* ``phrase_popularity`` -- broadcast-hash lookup of query terms.
* ``suggest`` (did-you-mean) -- ONE vocabulary scan per query batch: the
  tiny query side is broadcast into a nested-loop join whose predicate is
  a length-band prefilter (short-circuits most rows) AND
  ``levenshtein(q, term) <= max_dist`` (JVM codegen -- DuckDB's
  ``levenshtein`` computes the identical classic DP metric, so the whole
  operator is oracle-checkable). Rank per query term by
  (dist ASC, df DESC, term ASC): distance 0 always wins, so
  in-dictionary terms suggest themselves.
* ``split_runon`` -- two-way split (the dominant run-on case; the
  reference backtracks over arbitrarily many split points): explode every
  split position of each query term, dictionary-join BOTH halves via
  broadcast-hash joins (the exploded query side is |terms| x max_len rows,
  always tiny), rank by the weaker half's popularity.

Scale shape at 10^12 turns: the vocabulary is O(distinct terms) -- orders
of magnitude smaller than the corpus -- and every primitive here is a
constant number of scans over it with the query side broadcast, so there
is no shuffle proportional to corpus size anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import _local_frame


def vocab_from_term_stats(term_stats: DataFrame, min_df: int = 1) -> DataFrame:
    """Unigram vocabulary (term, df) from the index's term_stats table.

    Bigram dictionary entries (terms containing a space, IndexConfig
    bigrams=True builds) are dropped: the speller corrects single words.
    ``min_df`` prunes hapax noise (the reference ships popularity-scored
    dictionary entries only; a df floor is the corpus-derived analog).
    """
    return (
        term_stats.where(~F.col("term").contains(" "))
        .where(F.col("df") >= int(min_df))
        .select("term", F.col("df").cast("long").alias("df"))
    )


def _query_frame(spark: SparkSession, query_terms: list[str]) -> DataFrame:
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    return _local_frame(spark, "qterm string", [(t,) for t in query_terms])


def phrase_popularity(
    spark: SparkSession, vocab: DataFrame, query_terms: list[str]
) -> DataFrame:
    """getPhrasePopularity analog (``Speller.cpp:463``): df per query term,
    0 for out-of-vocabulary terms.

    The IN-filter on the vocab scan is a pushable predicate (reaches the
    parquet reader), so the scan returns at most |query_terms| rows; those
    broadcast into the left-outer join. A right-outer join with the tiny
    side broadcast would NOT plan as a broadcast join (Spark can only build
    the side opposite the outer side) and would shuffle the whole vocab.
    """
    q = _query_frame(spark, query_terms)
    hits = vocab.where(F.col("term").isin([str(t) for t in query_terms]))
    return (
        q.join(F.broadcast(hits), q["qterm"] == hits["term"], "left")
        .select("qterm", F.coalesce(F.col("df"), F.lit(0)).alias("popularity"))
    )


def suggest(
    spark: SparkSession,
    vocab: DataFrame,
    query_terms: list[str],
    max_dist: int = 2,
    per_term: int = 1,
) -> DataFrame:
    """Did-you-mean: best dictionary word within ``max_dist`` edits.

    Returns (qterm, suggestion, dist, df), ``per_term`` rows per query term
    that has any candidate (OOV terms beyond max_dist of everything produce
    no row -- "no recommendation", as the reference returns false).
    Deterministic rank: dist ASC, df DESC, suggestion ASC.
    """
    q = _query_frame(spark, query_terms)
    dist = F.levenshtein(F.col("qterm"), F.col("term"))
    cand = vocab.join(
        F.broadcast(q),
        (F.abs(F.length("qterm") - F.length("term")) <= max_dist)
        & (dist <= max_dist),
    )
    w = Window.partitionBy("qterm").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("suggestion")
    )
    return (
        cand.select(
            "qterm",
            F.col("term").alias("suggestion"),
            dist.cast("long").alias("dist"),
            "df",
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= int(per_term))
        .drop("rn")
    )


def split_runon(
    spark: SparkSession,
    vocab: DataFrame,
    query_terms: list[str],
    skip_known: bool = True,
) -> DataFrame:
    """Two-way run-on split (``Speller.cpp:547`` canSplitWords, restricted
    to one split point): best (left_part, right_part) such that both halves
    are dictionary words, ranked by the weaker half's df (desc), earliest
    split position on ties.

    ``skip_known`` mirrors the reference's use (splitting is attempted for
    terms NOT found in the dictionary): known query terms are anti-joined
    away before exploding split positions.

    Returns (qterm, split_pos, left_part, right_part, df_l, df_r), one row
    per splittable query term.
    """
    q = _query_frame(spark, query_terms)
    if skip_known:
        q = q.join(vocab, q["qterm"] == vocab["term"], "left_anti")
    # length guard: sequence(1, 0) is the DESCENDING [1, 0] (the hazard
    # dedup.shingles_expr documents), which would explode a bogus
    # split_pos=0 row with an empty left half for 1-char terms
    q = q.filter(F.length("qterm") >= 2)
    parts = (
        q.withColumn(
            "split_pos", F.explode(F.sequence(F.lit(1), F.length("qterm") - 1))
        )
        .withColumn("left_part", F.col("qterm").substr(F.lit(1), F.col("split_pos")))
        .withColumn(
            "right_part",
            F.col("qterm").substr(
                F.col("split_pos") + 1, F.length("qterm") - F.col("split_pos")
            ),
        )
    )
    vl = vocab.select(F.col("term").alias("left_part"), F.col("df").alias("df_l"))
    vr = vocab.select(F.col("term").alias("right_part"), F.col("df").alias("df_r"))
    # broadcast the tiny side into both dictionary joins: two
    # broadcast-hash scans of vocab, zero shuffles. half_l has at most
    # |parts| rows (vocab terms are unique), so it broadcasts in turn.
    half_l = vl.join(F.broadcast(parts), "left_part")
    cand = vr.join(F.broadcast(half_l), "right_part")
    w = Window.partitionBy("qterm").orderBy(
        F.desc(F.least("df_l", "df_r")), F.asc("split_pos")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "qterm",
            F.col("split_pos").cast("long").alias("split_pos"),
            "left_part",
            "right_part",
            "df_l",
            "df_r",
        )
    )
