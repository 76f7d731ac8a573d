"""Percolation — reverse search: match DOCUMENTS against a table of STORED
queries (the Elasticsearch "percolate" shape). The forward engine asks
"which docs match this query?"; this asks "which stored queries match this
doc?" — the ingest-time form every alerting / routing / policy-tagging
pipeline needs (tag each incoming transcript turn with the rule queries it
triggers, before it ever reaches an index).

The reference has no percolator — its spider pipeline hard-codes its
filters (`XmlDoc.cpp` spam/adult classification at index time, SURVEY.md
X13/X14 route docs by fixed rules). This generalizes that stage to
user-stored boolean term queries, evaluated with the SAME ascii
tokenization the index and every dedup/fingerprint operator use
(`functions/tokenizer.py` mode='ascii'), so a rule matches exactly when
the indexed form of the doc would.

Scale shape (100 TB): the rule table is label-sized by contract, so it is
COMPILED INTO THE PROJECTION — the driver reads the ≤|rules| rule rows
(bounded metadata, the only collect) and emits one array_intersect struct
per rule over the doc's distinct-token array. The result is a pure JVM
projection + explode: ZERO shuffles, zero joins, no Python, whole-stage
codegen end to end, and therefore runs UNCHANGED under Structured
Streaming in append mode (readStream → percolate → writeStream) — no
watermark or state needed because every doc's evaluation is doc-local.
Per-doc cost is O(|rules| · |distinct toks|) set intersections; for rule
sets too large to compile into a plan (beyond ~10^4), shard the rule table
and union the percolate projections — still shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import _local_frame
from .dedup import tokens_col

__all__ = ["percolate"]


def percolate(
    docs: DataFrame,
    rules: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Match every doc against every stored rule query.

    ``rules``: (query_id: long, terms: array<string>, mode: string) with
    mode 'AND' (all distinct terms must appear) or 'OR' (any). Duplicate
    terms inside a rule are ignored (`Query.h:137` IGNORE_REPEAT — same
    contract as the forward path). Rule terms are matched in the ascii
    normalized token space. An optional ``exclude`` array<string> column
    carries the rule's negative terms (`Query.h:191-193` '-term' sign
    grammar): a doc containing ANY excluded term never matches the rule,
    regardless of mode.

    Returns one row per MATCHING (doc, rule) pair:
    (doc_id, query_id, n_hit, n_terms) — ``n_hit`` distinct rule terms
    present in the doc, ``n_terms`` the rule's distinct-term count.
    Docs matching no rule and rules matching no doc simply yield no rows.
    """
    has_excl = "exclude" in rules.columns
    sel = ["query_id", F.array_distinct("terms").alias("terms"), "mode"] + (
        [F.array_distinct("exclude").alias("exclude")] if has_excl else []
    )
    rule_rows = rules.select(*sel).collect()
    structs = []
    for r in rule_rows:
        if r["mode"] not in ("AND", "OR"):
            raise ValueError(f"rule {r['query_id']}: mode must be AND|OR")
        terms = F.array(*[F.lit(t) for t in r["terms"]])
        n_hit = F.size(F.array_intersect(F.col("_toks"), terms))
        n_terms = len(r["terms"])
        matched = (
            (n_hit == F.lit(n_terms)) if r["mode"] == "AND"
            else (n_hit >= 1)
        )
        excl = list(r["exclude"]) if has_excl and r["exclude"] else []
        if excl:
            ex_arr = F.array(*[F.lit(t) for t in excl])
            matched = matched & (
                F.size(F.array_intersect(F.col("_toks"), ex_arr)) == 0
            )
        structs.append(
            F.struct(
                F.lit(int(r["query_id"])).cast("long").alias("query_id"),
                n_hit.cast("long").alias("n_hit"),
                F.lit(n_terms).cast("long").alias("n_terms"),
                matched.alias("m"),
            )
        )
    if not structs:
        return _local_frame(
            docs.sparkSession,
            "doc_id long, query_id long, n_hit long, n_terms long",
        )
    return (
        docs.withColumn(
            "_toks", F.array_distinct(tokens_col(F.col(text_col)))
        )
        .select("doc_id", F.explode(F.array(*structs)).alias("r"))
        .filter(F.col("r.m"))
        .select("doc_id", "r.query_id", "r.n_hit", "r.n_terms")
    )
