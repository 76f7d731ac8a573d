"""Corpus-curation operators for training-data pipelines.

Covers the reference's index-time content hygiene passes re-expressed as
corpus-level curation ops:

* repeated-fragment suppression (``XmlDoc.cpp:20012`` getFragVec, applied at
  ``XmlDoc_Indexing.cpp:1886``): the reference hashes sliding word windows
  and skips indexing fragments it has seen repeatedly — boilerplate
  navigation, footers, templated text. Here the same idea runs corpus-wide:
  an n-gram fragment that appears in >= ``min_docs`` distinct documents of
  the same source is boilerplate; documents are scored by how much of their
  text is boilerplate (the C4/Gopher "repeated-paragraph" filter analog).
* deterministic train/val/test splits: content-hash bucketing so the split
  is stable under re-runs, re-partitioning, and incremental additions —
  never ``rand()``, which re-deals every run and leaks val into train.
* source mixing weights: per-source token shares and the resampling weight
  that flattens them to a uniform target mix (the "domain reweighting" step
  of an LLM data pipeline).

Scale notes (100 TB):
* fragment df is one map-side-combined aggregation on (source, shingle);
  the resulting boilerplate set is tiny relative to the corpus (only
  fragments with df >= min_docs survive), so the join back to documents is
  broadcast-able and Spark's AQE picks that up from its size.
* hash_split is a pure projection — zero shuffles, embarrassingly parallel.
* source_mix_weights aggregates to one row per source (thousands, not
  billions) — the weight table is a broadcast dim for the resampling join.

Everything is JVM-side (md5, conv, higher-order array functions) so the
DuckDB oracles can replicate it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import _local_frame
from .dedup import shingles_expr, with_tokens


def doc_fragments(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, source, shingle) distinct fragment occurrences."""
    return (
        with_tokens(docs, text_col)
        .select("doc_id", "source", F.explode(shingles_expr("toks", n)).alias("shingle"))
        .distinct()
    )


def boilerplate_fragments(
    docs: DataFrame, n: int = 3, min_docs: int = 3, per_source: bool = True
) -> DataFrame:
    """Fragments repeated across >= min_docs distinct docs (within one
    source when per_source): the corpus-wide analog of the reference's
    repeated-fragment table (XmlDoc.cpp:20012 getFragVec).

    Returns (source?, shingle, n_docs). One shuffle (map-side combined);
    output cardinality is bounded by the number of genuinely templated
    fragments, not corpus size.
    """
    frags = doc_fragments(docs, n)
    keys = ["source", "shingle"] if per_source else ["shingle"]
    return (
        frags.groupBy(*keys)
        .agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def boilerplate_stats(
    docs: DataFrame, n: int = 3, min_docs: int = 3
) -> DataFrame:
    """Per-doc boilerplate exposure: how many of the doc's fragments are
    source-level boilerplate (XmlDoc_Indexing.cpp:1886 applies the frag
    vector at index time; here it becomes a filterable quality column).

    Returns (doc_id, source, n_frags, n_boiler, boiler_ratio).

    Plan shape: ONE corpus scan. The former self-join against
    boilerplate_fragments re-ran the tokenize+shingle+distinct pass on
    both sides (two full scans, verified in the physical plan -- no
    ReusedExchange); since frags is already (doc_id, source, shingle)
    DISTINCT, a count window over (source, shingle) yields exactly
    countDistinct(doc_id) per fragment without touching the corpus again.
    Skew bound: a window partition holds at most the docs of one source
    containing that shingle -- the same key skew the join had.
    """
    frags = doc_fragments(docs, n)
    w_frag = Window.partitionBy("source", "shingle")
    marked = frags.withColumn(
        "is_boiler",
        F.when(
            F.count(F.lit(1)).over(w_frag) >= min_docs, F.lit(1)
        ).otherwise(F.lit(None).cast("int")),
    )
    return (
        marked.groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frags"),
            F.coalesce(F.sum("is_boiler"), F.lit(0)).cast("long").alias("n_boiler"),
        )
        .withColumn(
            "boiler_ratio",
            F.round(F.col("n_boiler") / F.col("n_frags"), 4),
        )
    )


def hash_split(
    docs: DataFrame,
    weights: dict[str, int] | None = None,
    salt: str = "split",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic content-hash split assignment.

    bucket = first 8 hex chars of md5(salt ':' key) as an integer, mod 100;
    buckets are carved into the requested splits in dict order. Stable under
    re-runs and incremental corpus growth (a doc's split never changes),
    zero shuffles, and exactly replicable in SQL.
    """
    weights = weights or {"train": 90, "val": 5, "test": 5}
    total = sum(weights.values())
    if total != 100:
        raise ValueError(f"split weights must sum to 100, got {total}")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    expr = None
    lo = 0
    for name, w in weights.items():
        cond = (F.col("split_bucket") >= lo) & (F.col("split_bucket") < lo + w)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
        lo += w
    return docs.withColumn("split_bucket", bucket).withColumn("split", expr)


def source_mix_weights(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source token shares and the uniform-mix resampling weight.

    weight = (total_tokens / n_sources) / source_tokens: sampling each
    source's docs with probability proportional to ``weight`` flattens the
    token distribution to uniform across sources (the domain-reweighting
    step). Output is one row per source — a broadcast dim at any scale.
    """
    toks = with_tokens(docs, text_col).select(
        "source", F.size("toks").cast("long").alias("n_tokens")
    )
    per_source = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("source_tokens"),
    )
    totals = per_source.agg(
        F.sum("source_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return (
        per_source.crossJoin(F.broadcast(totals))
        .withColumn(
            "token_share",
            F.round(F.col("source_tokens") / F.col("total_tokens"), 4),
        )
        .withColumn(
            "mix_weight",
            F.round(
                (F.col("total_tokens") / F.col("n_sources")) / F.col("source_tokens"),
                4,
            ),
        )
        .select("source", "n_docs", "source_tokens", "token_share", "mix_weight")
    )


def contaminated_docs(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training docs that share any word
    n-gram with an evaluation set (the standard eval-overlap scrub an LLM
    data pipeline runs before training; same shingle machinery as the
    near-dup suite, reference fragment-hash analog XmlDoc.cpp:20012).

    Returns (doc_id, n_hits) — n_hits = how many DISTINCT eval n-grams the
    doc contains. Callers drop (or audit) every returned doc_id.

    Scale notes (100 TB): the eval set is benchmark-sized (MBs, not TBs),
    so its distinct shingle set is explicitly broadcast, and the broadcast
    join filters the corpus shingle stream BEFORE any deduplication — the
    corpus's own shingles are never shuffled (dedup-then-filter would
    exchange the full O(corpus tokens) shingle stream; filter-then-dedup
    exchanges only the contamination hits, which are rare by construction).
    The plan is scan → broadcast-hash-join → partial-distinct agg on
    doc_id. n=13 is the conventional contamination window (GPT-3 appendix
    C); tests use smaller n because synthetic docs are short.
    """
    # No distinct() on the eval side: the final countDistinct collapses
    # duplicate-join rows anyway, and skipping it removes the only other
    # Exchange in the plan (a slightly larger broadcast list is cheaper
    # than a shuffle round for a benchmark-sized eval set).
    ev = with_tokens(eval_docs, text_col).select(
        F.explode(shingles_expr("toks", n)).alias("shingle")
    )
    sh = with_tokens(docs, text_col).select(
        "doc_id", F.explode(shingles_expr("toks", n)).alias("shingle")
    )
    return (
        sh.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").cast("long").alias("n_hits"))
    )


def pack_shards(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """Assign docs (in stable doc_id order) to training-export shards of
    ~budget_tokens each: shard_id = floor(exclusive_prefix_sum(n_tokens)
    / budget) — the "pack documents into ~N-token output files" step of a
    training-data exporter, with deterministic doc order so re-runs
    produce byte-identical shards.

    Distributed prefix sum, the classic two-level scheme:
      1. bucket docs by arithmetic doc_id range (deterministic — no
         repartitionByRange sampling, so the two passes below can never
         disagree on bucket boundaries);
      2. one tiny agg collects per-bucket token totals (<= n_buckets rows
         reach the driver, NEVER data rows) → exclusive bucket offsets;
      3. a window per bucket computes the within-bucket running sum; the
         broadcast offset join lifts it to the global prefix sum.

    Scale notes (100 TB): pass 2 is map-side combined to n_buckets rows;
    pass 3 shuffles once on bucket_id (each bucket = one task — size
    n_buckets to ~executor count so no single sort exceeds a partition).
    No global sort, no single-partition window, no driver data.
    """
    counts = with_tokens(docs, text_col).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    # min/max over docs directly (NOT counts): column pruning drops the
    # tokenize projection, so this pass reads only the doc_id column
    lo, hi = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:
        return counts.withColumn("shard_id", F.lit(None).cast("long")).select(
            "doc_id", "n_tokens", "shard_id"
        )
    # cache the tiny (doc_id, n_tokens) projection: the totals collect and
    # the final windowed result would otherwise each re-tokenize the full
    # corpus (2 extra 100 TB scans for a 16 B/doc frame). Spark evicts /
    # spills under pressure; an export job calls this once.
    counts = counts.persist()
    span = max(int(hi) - int(lo) + 1, 1)
    # integer-exact monotonic range bucketing. The obvious
    # (doc_id - lo) * n_buckets / span overflows long for the engine's own
    # 63-bit hash doc_ids (ANSI mode: job abort; non-ANSI: wrapped sign
    # breaks the doc_id-ordered-shards contract), so divide by a
    # precomputed width instead of multiplying.
    width = span // n_buckets + 1
    counts = counts.withColumn(
        "bucket",
        F.least(
            F.lit(n_buckets - 1),
            F.expr(f"(doc_id - {int(lo)}L) div {width}L").cast("int"),
        ),
    )
    totals = (
        counts.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bucket_tokens"))
        .orderBy("bucket")
        .collect()  # <= n_buckets rows: bounded by config, not data
    )
    offsets, running = [], 0
    for row in totals:
        offsets.append((int(row["bucket"]), running))
        running += int(row["bucket_tokens"])
    off_df = _local_frame(
        docs.sparkSession, "bucket int, bucket_offset bigint", offsets
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        counts.join(F.broadcast(off_df), "bucket")
        .withColumn(
            "excl_tokens",
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + F.col("bucket_offset"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.floor(F.col("excl_tokens") / F.lit(float(budget_tokens)))
            .cast("long")
            .alias("shard_id"),
        )
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 13,
    min_hits: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """The removal step: drop every doc `contaminated_docs` flags with
    >= min_hits overlapping eval n-grams (left-anti join on doc_id).
    The flagged set is contamination-sized (tiny), so AQE broadcasts it;
    the corpus passes through unshuffled."""
    hits = contaminated_docs(docs, eval_docs, n=n, text_col=text_col).filter(
        F.col("n_hits") >= min_hits
    )
    return docs.join(hits.select("doc_id"), "doc_id", "left_anti")


def resample_to_uniform(
    docs: DataFrame, text_col: str = "text", salt: str = "resample"
) -> DataFrame:
    """Apply the domain-reweighting step `source_mix_weights` computes:
    deterministically downsample every source to the SMALLEST source's
    token budget, flattening the mix to uniform. keep iff
    md5_frac(salt:doc_id) < target_tokens / source_tokens — the same
    never-rand() discipline as hash_split, so the kept set is stable
    under re-runs, repartitioning, and incremental growth.

    Returns the kept docs with (n_tokens, keep_rate) attached.

    Scale notes (100 TB): one map-side-combined agg to a per-source dim
    (thousands of rows), broadcast back; the corpus itself passes through
    a projection + filter with NO data-row shuffle.
    """
    toks = (
        with_tokens(docs, text_col)
        .withColumn("n_tokens", F.size("toks").cast("long"))
        .drop("toks")
    )
    per = toks.groupBy("source").agg(F.sum("n_tokens").alias("source_tokens"))
    tgt = per.agg(F.min("source_tokens").alias("target_tokens"))
    rates = (
        per.crossJoin(F.broadcast(tgt))
        .withColumn("keep_rate", F.col("target_tokens") / F.col("source_tokens"))
        .select("source", "keep_rate")
    )
    frac = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    return (
        toks.join(F.broadcast(rates), "source")
        .filter(frac < F.col("keep_rate"))
    )


def pack_export(
    docs: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    n_buckets: int = 64,
    sep: str = "\n\n",
) -> DataFrame:
    """Materialize the shards `pack_shards` assigns: one row per shard_id
    with the docs' texts concatenated in doc_id order — the actual
    training-export payload, byte-identical across re-runs.

    Returns (shard_id, n_docs, n_tokens, packed). Within-shard order is
    forced by sorting the collected (doc_id, text) structs — never a bare
    collect_list, whose order is partition-arrival nondeterministic.

    Scale notes (100 TB): one shuffle on shard_id; each shard is
    ~budget_tokens of text (a few MB), so a group never exceeds a task's
    memory. Writers partition the output by shard_id ranges.
    """
    assigned = pack_shards(docs, budget_tokens, text_col, n_buckets)
    withtext = assigned.join(docs.select("doc_id", text_col), "doc_id")
    return (
        withtext.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.array_sort(
                F.collect_list(F.struct("doc_id", F.col(text_col).alias("t")))
            ).alias("_docs"),
        )
        .withColumn(
            "packed",
            F.array_join(F.expr("transform(_docs, d -> d.t)"), sep),
        )
        .select("shard_id", "n_docs", "n_tokens", "packed")
    )


#: PII patterns: (kind, regex, placeholder). Deliberately conservative,
#: high-precision forms (the C4/Gopher-style pipelines scrub exactly these
#: classes before training). The subset of regex syntax used (\b \d
#: char-classes, bounded repetition) means Java regex (Spark executors)
#: and RE2 (the DuckDB oracle) agree on every match.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b", "<CARD>"),
    ("phone", r"\+\d{1,3}[- ]\d{3}[- ]\d{3}[- ]\d{4}", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def chunk_docs(
    docs: DataFrame,
    max_tokens: int = 64,
    overlap: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Fixed-token-window chunking with overlap — the standard unit-of-work
    split a training / embedding pipeline applies before tokenizer-bound
    models (context packing, embedding indexes, passage retrieval).

    Chunks live in NORMALIZED token space (the same ascii tokens every
    dedup/fingerprint/snippet operator uses), so chunk boundaries are
    deterministic and rebuild-stable. With stride = max_tokens - overlap,
    chunk i covers tokens [i*stride + 1, i*stride + max_tokens] (1-based);
    a doc with n tokens yields 1 chunk when n <= max_tokens, else
    1 + ceil((n - max_tokens) / stride) — the final chunk is short rather
    than dropped, and consecutive chunks share ``overlap`` tokens. Empty /
    NULL-text docs yield no rows.

    Output: (doc_id, chunk_idx, chunk_text, n_tokens). Pure JVM projection
    + explode — shuffle-free, no Python in the plan, linear in corpus size.
    """
    if overlap >= max_tokens:
        raise ValueError("overlap must be smaller than max_tokens")
    stride = max_tokens - overlap
    t = with_tokens(docs, text_col)
    n = F.size("toks")
    n_chunks = (
        F.when(n <= 0, F.lit(0))
        .when(n <= max_tokens, F.lit(1))
        .otherwise(
            F.lit(1)
            + F.ceil((n - F.lit(max_tokens)) / F.lit(stride)).cast("int")
        )
    )
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.expr("array()").cast("array<int>")
    )
    chunk = F.slice(
        F.col("toks"),
        (F.col("chunk_idx") * stride + 1).cast("int"),
        max_tokens,
    )
    return (
        t.withColumn("chunk_idx", F.explode(idx))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
            F.size(chunk).cast("long").alias("n_tokens"),
        )
    )


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction over the document table.

    The reference never ships user documents onward (it serves snippets),
    but every LLM training-data pipeline scrubs contact/identifier strings
    before packing shards; this is that stage, placed with the other
    curation ops so `pack_export` can consume `clean_text`.

    Per document: a count per PII class matched in the ORIGINAL text
    (classes count independently on the original text; counts answer
    "how much PII of each kind", not "how many disjoint spans"), a total, and ``clean_text`` with
    matches replaced by typed placeholders, applied in PII_PATTERNS
    order (email before card/phone/ipv4, so a longer match wins the
    span before a shorter pattern can split it).

    Scale notes (100 TB): pure JVM projection — regexp_extract_all /
    regexp_replace inside whole-stage codegen, zero shuffles, zero Python.
    Returns (doc_id, n_email, n_card, n_phone, n_ipv4, pii_total,
    clean_text). Because counts run on the original text while redaction
    is sequential, ``pii_total`` may exceed the number of placeholders in
    ``clean_text`` (e.g. an IPv4 inside an email's domain counts as n_ipv4
    but is consumed by the <EMAIL> replacement).
    """
    t = F.coalesce(F.col(text_col), F.lit(""))
    out = docs.select("doc_id", t.alias("_t"))
    clean = F.col("_t")
    total = F.lit(0).cast("long")
    counts = []
    for kind, pat, placeholder in PII_PATTERNS:
        c = F.size(F.regexp_extract_all(F.col("_t"), F.lit(pat), F.lit(0)))
        counts.append(c.cast("long").alias(f"n_{kind}"))
        total = total + c.cast("long")
        clean = F.regexp_replace(clean, pat, placeholder)
    return out.select(
        "doc_id",
        *counts,
        total.alias("pii_total"),
        clean.alias("clean_text"),
    )


def normalize_text(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-hygiene normalization over the document table — the
    ftfy-lite cleanup every training pipeline runs before tokenization
    (and the reference runs a far heavier version of at ingest:
    `iconv.cpp` charset conversion + `XmlDoc.cpp` whitespace handling;
    here the UTF-8 input contract leaves only the intra-document
    artifacts):

    1. strip C0/C1 control characters (keeping tab + newline),
    2. strip zero-width and bidi-mark code points (ZWSP/ZWNJ/ZWJ/word
       joiner/BOM/LRM/RLM — invisible chars that split tokens and leak
       into shards),
    3. collapse runs of spaces/tabs to one space,
    4. collapse 3+ consecutive newlines to a paragraph break (2),
    5. trim leading/trailing whitespace.

    Per doc the deltas are reported so a pipeline can threshold on damage:
    ``n_ctrl`` / ``n_zw`` chars removed by (1)/(2), ``n_ws_removed``
    whitespace chars dropped by (3)+(4), and ``changed`` (0/1).

    Scale notes (100 TB): pure JVM regexp projection inside whole-stage
    codegen — zero shuffles, zero Python, same contract as pii_scrub
    (plan-gated). Placed with the curation ops so pack_export can consume
    ``clean_text``.
    """
    ctrl = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"
    zw = "[\\u200B\\u200C\\u200D\\u2060\\uFEFF\\u200E\\u200F]"
    t = F.coalesce(F.col(text_col), F.lit(""))
    out = docs.select("doc_id", t.alias("_t"))
    a = F.regexp_replace(F.col("_t"), ctrl, "")
    b = F.regexp_replace(a, zw, "")
    c = F.regexp_replace(b, "[ \\t]{2,}", " ")
    d = F.regexp_replace(c, "\\n{3,}", "\n\n")
    # regex trim, not F.trim: trim() strips spaces only, and \s is
    # dialect-safe here because step (1) already removed \x0B (the one
    # char Java's \s and RE2's \s disagree on)
    clean = F.regexp_replace(d, "^\\s+|\\s+$", "")
    return out.select(
        "doc_id",
        (F.length(F.col("_t")) - F.length(a)).cast("long").alias("n_ctrl"),
        (F.length(a) - F.length(b)).cast("long").alias("n_zw"),
        (F.length(b) - F.length(d)).cast("long").alias("n_ws_removed"),
        (clean != F.col("_t")).cast("long").alias("changed"),
        clean.alias("clean_text"),
    )
