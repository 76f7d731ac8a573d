"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed and IVF
variants are the scale paths. Per-vector SCORING expressions (cosine
against one query vector) stay JVM-side via higher-order functions
(zip_with + aggregate) so they are oracle-exact; BULK dense linear algebra
(signature bits, centroid assignment -- a matmul against many planes or
centroids per row) runs as Arrow-vectorized numpy pandas UDFs: Catalyst's
interpreted lambda path costs ~0.5 ms/row for a dim-64 x 8-centroid
assignment, the Arrow batch matmul ~100x less, equally distributed.

Index-once, prune-per-query: ``build_ann_index`` materializes the LSH bit
signature and the IVF cluster id as PARTITION columns of stored tables
(``ann_lsh`` partitioned by lsh_sig, ``ann_ivf`` partitioned by ivf_c, plus
the trained centroids in ``ann_centroids``). A query then filters on the
partition column -- ``lsh_sig IN (hamming ring)`` / ``ivf_c IN (probe
list)`` -- which Spark executes as a partition-PRUNED scan: no signature or
cluster assignment is recomputed at query time, and unprobed partitions are
never read (plan-gated in tests/test_plan_quality.py). This is the analog
of the posting table's term_id pruning for the vector side. The two tables
duplicate the vector payload (an index IS a storage layout); a deployment
that only ever uses one ANN family builds only that table.

Scale notes: brute force is a single scan + TakeOrderedAndProject (partial
top-k per partition, tiny final merge -- same shape as the BM25 top-k);
the indexed paths read ~(ring/2^planes) resp. ~(probe/centroids) of the
table. Signature/assignment computation happens exactly once, at build.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..session import _local_frame


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (id, cosine) ordered cosine desc, id asc.

    Uses the stored ``vec_norm`` column when the input is an ann_* index
    table (same expression at build time, so values are bit-identical)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = float(np.sqrt(np.sum(np.asarray(query_vec, dtype=np.float64) ** 2)))
    vnorm = (
        F.col("vec_norm")
        if "vec_norm" in embeddings.columns
        else _norm(F.col(vec_col))
    )
    cos = (_dot(F.col(vec_col), q) / (vnorm * F.lit(qn))).alias("cosine")
    return (
        embeddings.select(F.col(id_col), cos)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def hyperplanes(dim: int, n_planes: int = 16, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_signature_col(vec_col: str, planes: np.ndarray) -> Column:
    """Bit signature: bit p = 1 if dot(vec, plane_p) >= 0 (random-projection
    LSH). Returns an int column (n_planes <= 62).

    Arrow-vectorized numpy matmul (batch x planes in one BLAS call): dense
    linear algebra through Catalyst's interpreted higher-order lambdas
    costs ~0.5 ms/row at dim 64; the Arrow batch path is ~100x cheaper and
    exactly as distributed. float64 end to end, deterministic."""
    P = planes.astype(np.float64).T  # (dim, n_planes)
    weights = (1 << np.arange(P.shape[1], dtype=np.int64))

    @pandas_udf("long")
    def sig(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (M @ P) >= 0
        return pd.Series(bits @ weights)

    return sig(F.col(vec_col))


def query_signature(query_vec: list[float], planes: np.ndarray) -> int:
    qv = np.asarray(query_vec, dtype=np.float64)
    qsig = 0
    for p, plane in enumerate(planes):
        if float(np.dot(qv, plane)) >= 0:
            qsig |= 1 << p
    return qsig


def hamming_ring(qsig: int, n_planes: int, max_hamming: int) -> list[int]:
    """All signatures within ``max_hamming`` bit flips of qsig (the probe
    set for the partition-pruned LSH scan). |ring| = sum C(n_planes, 0..h)
    -- e.g. 299 for 12 planes, h=2+1; tiny literal IN-list."""
    ring = []
    for h in range(max_hamming + 1):
        for bits in combinations(range(n_planes), h):
            m = 0
            for b in bits:
                m |= 1 << b
            ring.append(qsig ^ m)
    return ring


def lsh_ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 12,
    max_hamming: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_bits: int = 6,
) -> DataFrame:
    """Approximate NN: score only vectors whose LSH signature is within
    ``max_hamming`` bits of the query's signature, then exact cosine top-k
    on the survivors.

    If ``embeddings`` already carries the STORED ``lsh_sig`` column (the
    ``ann_lsh`` table written by build_ann_index, partitioned by the
    ``lsh_bucket`` signature prefix), the candidate filter is the hamming
    ring as ``lsh_bucket IN (...)`` partition pruning plus the full
    ``lsh_sig IN (...)`` residual -- nothing is recomputed and unprobed
    buckets are never read. ``bucket_bits`` must match the build.
    Otherwise the signature is computed inline (small/ad-hoc inputs only;
    at scale always query the index table)."""
    planes = hyperplanes(len(query_vec), n_planes, seed)
    qsig = query_signature(query_vec, planes)
    if "lsh_sig" in embeddings.columns:
        ring = hamming_ring(qsig, n_planes, max_hamming)
        cand = embeddings.filter(F.col("lsh_sig").isin(ring))
        if "lsh_bucket" in embeddings.columns:
            # partition pruning on the bucket prefix (<= 2^bucket_bits
            # dirs); the sig IN-list remains as the residual row filter
            shift = n_planes - bucket_bits
            buckets = sorted({s >> shift for s in ring})
            cand = cand.filter(F.col("lsh_bucket").isin(buckets))
    else:
        sig = lsh_signature_col(vec_col, planes)
        cand = embeddings.withColumn("_sig", sig).filter(
            F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig))) <= max_hamming
        )
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iterations: int = 2,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic IVF coarse quantizer: k-means with hash-seeded init and
    a FIXED number of Lloyd iterations (determinism beats convergence for a
    reproducible index). Each iteration is one groupBy over cluster
    assignments -- all distributed; only (n_centroids x dim) means ever
    reach the driver."""
    # deterministic in-distribution init: the n_centroids data points with
    # the smallest seeded hash of their id (a reproducible pseudo-sample)
    seeded = (
        embeddings.select(
            F.col(vec_col),
            F.xxhash64(F.col(id_col), F.lit(seed)).alias("_h"),
        )
        .orderBy("_h")
        .limit(n_centroids)
        .collect()
    )
    cents = np.array(
        [[float(x) for x in r[vec_col]] for r in seeded], dtype=np.float64
    )
    n_centroids = len(cents)
    dim = cents.shape[1]
    for _ in range(iterations):
        assigned = embeddings.withColumn(
            "_c", ivf_assign_col(vec_col, cents)
        )
        # per-(cluster, dimension) partial sums: posexplode keeps the agg a
        # narrow two-key hash aggregation with map-side combine (bounded at
        # clusters x dim rows per partition at ANY input scale) instead of
        # a dim-wide generated projection; only clusters x dim rows ever
        # reach the driver
        sums = (
            assigned.select(
                "_c", F.posexplode(F.col(vec_col)).alias("i", "x")
            )
            .groupBy("_c", "i")
            .agg(
                F.sum(F.col("x").cast("double")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new = cents.copy()
        acc = np.zeros((n_centroids, dim), dtype=np.float64)
        cnt = np.zeros(n_centroids, dtype=np.int64)
        for r in sums:
            c, i = int(r["_c"]), int(r["i"])
            acc[c, i] = float(r["s"])
            cnt[c] = int(r["n"])
        for c in range(n_centroids):
            if cnt[c]:
                new[c] = acc[c] / cnt[c]
        cents = new
    return cents


def ivf_assign_col(vec_col: str, centroids: np.ndarray) -> Column:
    """Nearest-centroid id by max dot product (first wins on exact ties).

    Arrow-vectorized numpy matmul (see lsh_signature_col) -- consistent
    with the query side, which already picks its probe list with the same
    numpy ``centroids @ q`` product."""
    C = centroids.astype(np.float64).T  # (dim, n_centroids)

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int32")
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        return pd.Series(np.argmax(M @ C, axis=1).astype(np.int32))

    return assign(F.col(vec_col))


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate NN: search only the ``n_probe`` clusters nearest the
    query, exact cosine within them. Pass the ``ann_ivf`` table (stored
    ``ivf_c`` partition column from build_ann_index) together with its
    trained ``centroids`` for the partition-pruned path; a plain embeddings
    frame falls back to inline assignment (ad-hoc use only)."""
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(
            embeddings, n_centroids, seed=seed, vec_col=vec_col, id_col=id_col
        )
    )
    qv = np.asarray(query_vec, dtype=np.float64)
    order = np.argsort(-(cents @ qv))
    probe = [int(c) for c in order[:n_probe]]
    if "ivf_c" in embeddings.columns:
        # stored assignment (ann_ivf table partitioned by ivf_c):
        # partition-pruned scan of just the probed clusters
        cand = embeddings.filter(F.col("ivf_c").isin(probe))
    else:
        cand = embeddings.withColumn(
            "_c", ivf_assign_col(vec_col, cents)
        ).filter(F.col("_c").isin(probe))
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


# --------------------------------------------------------------------------
# materialized ANN index (build once, partition-prune per query)
# --------------------------------------------------------------------------

def build_ann_index(
    spark,
    catalog,
    embeddings: DataFrame,
    n_planes: int = 12,
    n_centroids: int = 16,
    kmeans_iterations: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_bits: int = 6,
) -> dict:
    """Materialize the ANN index: signature/cluster assignment runs ONCE
    here, never at query time (the fix for the per-query full-table
    signature recompute anti-pattern).

    Writes through the catalog (atomic snapshot commits):
      * ``ann_lsh``       vectors + ``lsh_sig``, PARTITIONED BY ``lsh_bucket``
        = the top ``bucket_bits`` bits of the signature -- at most
        2^bucket_bits directories regardless of n_planes (a 2^n_planes-way
        hive layout would drown small files); the full signature stays a
        row-group-stat'd column for the residual filter
      * ``ann_ivf``       vectors + ``ivf_c``,  PARTITIONED BY ivf_c
      * ``ann_centroids`` (c, centroid array<double>) -- the trained coarse
        quantizer a query needs to pick its probe list
      * ``ann_meta``      (n_planes, n_centroids, seed, dim, bucket_bits)

    Both assignment expressions are JVM-side column programs over one scan
    each; only the (n_centroids x dim) k-means means ever reach the driver.
    Queries (lsh_ann_topk / ivf_topk) detect the stored column and become
    partition-pruned scans. Returns {"centroids": np.ndarray, "dim": int}.
    """
    first = embeddings.limit(1).select(F.size(F.col(vec_col)).alias("d")).collect()
    if not first:
        raise ValueError("cannot build an ANN index over an empty table")
    dim = int(first[0]["d"])
    bucket_bits = min(bucket_bits, n_planes)
    planes = hyperplanes(dim, n_planes, seed)
    cents = ivf_centroids(
        embeddings, n_centroids, kmeans_iterations, seed, vec_col, id_col
    )
    base = embeddings.withColumn("vec_norm", _norm(F.col(vec_col)))
    lsh = base.withColumn("lsh_sig", lsh_signature_col(vec_col, planes))
    lsh = lsh.withColumn(
        "lsh_bucket", F.shiftright("lsh_sig", n_planes - bucket_bits)
    )
    catalog.write_table(lsh, "ann_lsh", partition_by=["lsh_bucket"])
    catalog.write_table(
        base.withColumn("ivf_c", ivf_assign_col(vec_col, cents)),
        "ann_ivf",
        partition_by=["ivf_c"],
    )
    cent_rows = [(c, [float(x) for x in cents[c]]) for c in range(len(cents))]
    catalog.write_table(
        _local_frame(spark, "c int, centroid array<double>", cent_rows),
        "ann_centroids",
    )
    catalog.write_table(
        _local_frame(
            spark,
            "n_planes int, n_centroids int, seed int, dim int, bucket_bits int",
            [(n_planes, len(cents), seed, dim, bucket_bits)],
        ),
        "ann_meta",
    )
    return {"centroids": cents, "dim": dim}


def load_ann_index(catalog) -> dict:
    """Read the materialized index back: {"lsh": df, "ivf": df,
    "centroids": np.ndarray, "meta": dict}."""
    meta = catalog.read_table("ann_meta").collect()[0].asDict()
    rows = sorted(
        catalog.read_table("ann_centroids").collect(), key=lambda r: r["c"]
    )
    cents = np.array([[float(x) for x in r["centroid"]] for r in rows])
    return {
        "lsh": catalog.read_table("ann_lsh"),
        "ivf": catalog.read_table("ann_ivf"),
        "centroids": cents,
        "meta": meta,
    }


def pairwise_cosine_neardup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_degree: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket join (same signature
    bucket) then exact cosine filter. Output (id_a, id_b, cosine).

    ``max_bucket_degree`` bounds a DEGENERATE bucket's pair blow-up (B
    near-identical vectors => B^2/2 pairs from one signature): each member
    pairs only with its ``max_bucket_degree`` id-ordered bucket successors;
    duplicate clusters stay discoverable via chain transitivity (see
    dedup._bucket_pairs). None = exact all-pairs."""
    from .dedup import _bucket_pairs

    first = embeddings.limit(1).select(F.size(F.col(vec_col)).alias("d")).collect()
    if not first:
        return _local_frame(
            embeddings.sparkSession, "id_a long, id_b long, cosine double"
        )
    planes = hyperplanes(int(first[0]["d"]), n_planes, seed)
    e = embeddings.withColumn("_sig", lsh_signature_col(vec_col, planes))
    pairs = _bucket_pairs(
        e.select(F.col(id_col).alias("doc_id"), "_sig"),
        ["_sig"],
        max_bucket_degree,
    )
    va = e.select(
        F.col(id_col).alias("doc_id_a"),
        F.col(vec_col).alias("_va"),
        _norm(F.col(vec_col)).alias("_na"),
    )
    vb = e.select(
        F.col(id_col).alias("doc_id_b"),
        F.col(vec_col).alias("_vb"),
        _norm(F.col(vec_col)).alias("_nb"),
    )
    cos = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        pairs.join(va, "doc_id_a")
        .join(vb, "doc_id_b")
        .select(
            F.col("doc_id_a").alias("id_a"),
            F.col("doc_id_b").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def ann_recall(
    index_df: DataFrame,
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_planes: int = 12,
    max_hamming: int = 2,
    seed: int = 42,
    bucket_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the materialized LSH-ANN index against exact brute
    force for a bounded probe set — the monitoring metric a deployment
    watches to size its approximation (n_planes / max_hamming trade
    recall for pruned work; this op quantifies the trade on live data).

    Returns (query_vec_id, hits, k, recall), one row per probe id, recall
    = |ann top-k ∩ exact top-k| / k under the shared deterministic
    tie-break (cosine desc, id asc).

    Scale notes (100 TB): the probe set is a bounded sample (tens), never
    the corpus — only |query_ids| embedding rows are collected. Each
    probe's approx arm is the partition-pruned index scan lsh_ann_topk
    already does; the exact arm is the unavoidable ground-truth full scan,
    paid |query_ids| times. All arms union into ONE job (Spark fuses the
    per-probe subplans), ending in a tiny join+agg over 2·k·|query_ids|
    rows.
    """
    from functools import reduce

    probes = sorted(
        embeddings.filter(F.col(id_col).isin([int(q) for q in query_ids]))
        .select(id_col, vec_col)
        .collect(),
        key=lambda r: r[id_col],
    )
    approx_parts, exact_parts = [], []
    for row in probes:
        qv = [float(x) for x in row[vec_col]]
        qid = int(row[id_col])
        approx_parts.append(
            lsh_ann_topk(
                index_df, qv, k=k, n_planes=n_planes,
                max_hamming=max_hamming, seed=seed,
                id_col=id_col, vec_col=vec_col, bucket_bits=bucket_bits,
            ).select(F.lit(qid).alias("query_vec_id"), F.col(id_col))
        )
        exact_parts.append(
            cosine_topk(embeddings, qv, k=k, id_col=id_col, vec_col=vec_col)
            .select(F.lit(qid).alias("query_vec_id"), F.col(id_col))
        )
    approx = reduce(DataFrame.unionByName, approx_parts)
    exact = reduce(DataFrame.unionByName, exact_parts)
    hits = (
        approx.join(exact, ["query_vec_id", id_col])
        .groupBy("query_vec_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    ids_df = _local_frame(
        embeddings.sparkSession,
        "query_vec_id long",
        [(int(r[id_col]),) for r in probes],
    )
    return (
        ids_df.join(hits, "query_vec_id", "left")
        .select(
            "query_vec_id",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("hits"),
            F.lit(k).cast("long").alias("k"),
        )
        .withColumn("recall", F.round(F.col("hits") / F.lit(float(k)), 4))
        .orderBy("query_vec_id")
    )


def hybrid_rerank(
    engine,
    emb: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    mode: str = "AND",
    m: int = 50,
    k: int = 10,
    alpha: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical→dense serving: BM25 top-``m`` candidates re-ranked by
    ``alpha · bm25/max_bm25(page) + (1−alpha) · cosine(query_vec)``. The
    modern retrieval stack's two-stage shape (cheap recall stage, dense
    precision stage) on this engine's own primitives — the same over-fetch
    + re-rank skeleton as `wand_proximity`/`search_deduped`, with the
    rescoring signal coming from the embedding table instead of positions.

    Scale shape: the lexical page (≤ m rows) is BROADCAST into the
    embedding table — the corpus-sized side never shuffles and only page
    rows pay the O(dim) cosine lambda; bm25 normalization is a 1-row agg
    broadcast back (the curation-module totals pattern). No Python, no
    corpus scan beyond the pruned postings job.

    Returns (doc_id, hybrid, bm25, cosine) ordered hybrid DESC, doc_id
    ASC, limited to k. Candidates without an embedding row drop out
    (inner join) — at scale the embedding table is the doc store's dense
    column and the join hits every candidate.
    """
    page = engine.search_terms(query_terms, mode, int(m)).select(
        "doc_id", F.col("score").alias("bm25")
    )
    mx = page.agg(F.max("bm25").alias("mx"))
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = float(np.sqrt(np.sum(np.asarray(query_vec, dtype=np.float64) ** 2)))
    vnorm = (
        F.col("vec_norm")
        if "vec_norm" in emb.columns
        else _norm(F.col(vec_col))
    )
    joined = emb.join(
        F.broadcast(page), emb[id_col] == page["doc_id"], "inner"
    ).select(
        "doc_id",
        "bm25",
        (_dot(F.col(vec_col), q) / (vnorm * F.lit(qn))).alias("cosine"),
    )
    out = joined.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        (
            F.lit(float(alpha)) * F.col("bm25") / F.col("mx")
            + F.lit(1.0 - float(alpha)) * F.col("cosine")
        ).alias("hybrid"),
        "bm25",
        "cosine",
    )
    return out.orderBy(F.desc("hybrid"), F.asc("doc_id")).limit(int(k))


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = 10,
    c: int = 60,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse any
    number of ranked lists by score(d) = Σ_lists 1/(c + rank_list(d)).
    Rank-based, so BM25 and cosine scales never need calibrating — the
    standard fusion for lexical+dense ensembles.

    Each input frame carries (id_col, rank) with rank 1-based within its
    list (callers rank with the bounded-window `_ranked` pattern: top-k
    FIRST, window over ≤ m rows). The fusion itself is ONE
    map-side-combined aggregation over the unioned lists (≤ Σ m rows —
    tiny), then a TakeOrderedAndProject.

    Returns (doc_id, rrf, n_lists) ordered rrf DESC, id ASC, limited to k.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    u = None
    for r in ranked:
        part = r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(int(c)) + F.col("rank"))).alias("contrib"),
        )
        u = part if u is None else u.unionByName(part)
    return (
        u.groupBy(id_col)
        .agg(
            F.sum("contrib").alias("rrf"),
            F.count(F.lit(1)).cast("long").alias("n_lists"),
        )
        .orderBy(F.desc("rrf"), F.asc(id_col))
        .limit(int(k))
    )


def mmr_rerank(
    engine,
    emb: DataFrame,
    query_terms: list[str],
    mode: str = "AND",
    m: int = 50,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    the BM25 top-``m`` page re-ordered greedily so each next pick maximizes

        mmr(d) = lam * rel(d) - (1 - lam) * max_{s in picked} cos(d, s)

    with rel = bm25/max(page). The embedding-space generalization of the
    reference's result diversity mechanisms — the per-site cap
    (`Msg40.cpp` site clustering, our bm25_source_cap) and summary-
    similarity dedup (`Msg40.cpp:1173` percentSimilarSummary, our
    search_deduped) both diversify the PAGE; MMR does it against the
    dense signal, trading relevance for novelty explicitly via ``lam``.

    Scale shape: the same bounded-page skeleton as search_deduped's
    greedy kernel — the <= m-row lexical page broadcasts into the
    embedding table (corpus side never shuffles), and the inherently
    sequential greedy selection runs in ONE Arrow kernel over that
    bounded page (<= m rows by construction, a serve-node-sized working
    set). Everything before the kernel is the pruned-postings top-k job.

    Determinism contract: mmr scores are quantized to 9 decimals BEFORE
    the argmax on both this path and the DuckDB oracle, so sub-1e-9
    floating drift between numpy and the oracle's sequential sums
    becomes an exact tie and breaks by doc_id — never a selection flip.

    Returns (rank, doc_id, rel, mmr): rank = greedy pick order, <= k
    rows. Candidates without an embedding row drop out (inner join).
    """
    page = engine.search_terms(query_terms, mode, int(m)).select(
        "doc_id", F.col("score").alias("bm25")
    ).localCheckpoint(eager=True)
    mx = page.agg(F.max("bm25").alias("mx"))
    pemb = (
        emb.join(F.broadcast(page), emb[id_col] == page["doc_id"], "inner")
        .crossJoin(F.broadcast(mx))
        .select(
            "doc_id",
            (F.col("bm25") / F.col("mx")).alias("rel"),
            F.col(vec_col).alias("v"),
        )
    )
    kk, w_rel = int(k), float(lam)

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return pd.DataFrame(
                {"rank": [], "doc_id": [], "rel": [], "mmr": []}
            )
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        V = np.stack(
            [np.asarray(x, dtype=np.float64) for x in pdf["v"]]
        )
        norms = np.sqrt((V * V).sum(axis=1))
        norms[norms == 0.0] = 1.0
        S = (V / norms[:, None]) @ (V / norms[:, None]).T
        rel = pdf["rel"].to_numpy(np.float64)
        ids = pdf["doc_id"].to_numpy(np.int64)
        picked: list[int] = []
        remaining = list(range(len(pdf)))
        out = {"rank": [], "doc_id": [], "rel": [], "mmr": []}
        while remaining and len(picked) < kk:
            if picked:
                pen = S[np.ix_(remaining, picked)].max(axis=1)
            else:
                pen = np.zeros(len(remaining))
            mmr = np.round(
                w_rel * rel[remaining] - (1.0 - w_rel) * pen, 9
            )
            # argmax by (mmr desc, doc_id asc): remaining is doc_id-sorted,
            # so the FIRST max index is the tie-break winner
            best = int(np.argmax(mmr))
            i = remaining.pop(best)
            picked.append(i)
            out["rank"].append(len(picked))
            out["doc_id"].append(int(ids[i]))
            out["rel"].append(float(rel[i]))
            out["mmr"].append(float(mmr[best]))
        return pd.DataFrame(out)

    return (
        pemb.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(
            lambda pdf: greedy(pdf.drop(columns=["_g"])),
            schema="rank long, doc_id long, rel double, mmr double",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------- sq8 ----
def sq8_compress(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Scalar int8 quantization of the embedding column — the standard 4×
    memory compression an ANN index applies before anything fancier (the
    SQ8 of FAISS/public ANN practice): per-dimension min/max over the
    corpus, each float mapped to floor((x−mn)/(mx−mn)·255 + 0.5) ∈
    [0,255]. Returns ``(qdf, mn, mx)`` — qdf is (id, q array<int>) and
    mn/mx are the per-dim python lists a search needs to dequantize.

    Scale shape: the stats pass is ONE posexplode + map-side-combined
    groupBy(pos) collecting exactly dim rows to the driver (bounded
    metadata); quantization itself is a pure zip_with projection — no
    shuffle, no Python. Degenerate dims (mx == mn) quantize to 0 and
    dequantize back to mn exactly.
    """
    stats = (
        embeddings.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    mn = [float(r["mn"]) for r in stats]
    mx = [float(r["mx"]) for r in stats]
    mn_arr = F.array(*[F.lit(v) for v in mn])
    sc_arr = F.array(*[F.lit(b - a) for a, b in zip(mn, mx)])
    shifted = F.zip_with(
        F.col(vec_col), mn_arr, lambda x, m: x.cast("double") - m
    )
    q = F.zip_with(
        shifted,
        sc_arr,
        lambda d, s: F.when(s == 0.0, F.lit(0)).otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(255),
                    F.floor(d / s * F.lit(255.0) + F.lit(0.5)).cast("int"),
                ),
            )
        ),
    )
    return (
        embeddings.select(F.col(id_col), q.alias("q")),
        mn,
        mx,
    )


def sq8_topk(
    qdf: DataFrame,
    query_vec: list[float],
    mn: list[float],
    mx: list[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric SQ8 cosine top-k: the float query against DEQUANTIZED
    stored vectors (x̂ = mn + q·(mx−mn)/255) — one scan over the int8
    table + TakeOrderedAndProject, the same plan as the float brute
    force at a quarter of the bytes. Output (id, cosine) ordered cosine
    DESC, id ASC. Recall vs the float ranking is a corpus property;
    tests gate it on the planted testdata.
    """
    mn_arr = F.array(*[F.lit(v) for v in mn])
    sc_arr = F.array(*[F.lit(b - a) for a, b in zip(mn, mx)])
    scaled = F.zip_with(
        F.col("q"), sc_arr, lambda qq, s: qq.cast("double") * s / F.lit(255.0)
    )
    deq = F.zip_with(scaled, mn_arr, lambda v, m: v + m)
    qn = float(np.sqrt(np.dot(query_vec, query_vec)))
    qv = F.array(*[F.lit(float(v)) for v in query_vec])
    with_deq = qdf.withColumn("_deq", deq)
    cos = (
        _dot(F.col("_deq"), qv) / (_norm(F.col("_deq")) * F.lit(qn))
    ).alias("cosine")
    return (
        with_deq.select(F.col(id_col), cos)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(int(k))
    )


# ----------------------------------------------------------------- bq ----
def bq_pack(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, int]:
    """Binary (1-bit) quantization of the embedding column — sign bits
    packed into 32-bit words stored as longs (w0 = dims 0..31 with dim 0
    in the most significant of the 32 bits, w1 = dims 32..63, ...): the
    32× memory compression under SQ8 in the standard ANN ladder
    (float → int8 → sign bits), public practice per Indyk–Motwani
    SimHash / FAISS binary indexes. Returns ``(packed, dim)``.

    Scale shape: packing is a pure projection (one F.aggregate fold per
    word, JVM-side, no shuffle, no Python); a 10^12-vector store scans 8
    bytes/vector in the coarse phase instead of 256. Hamming between
    packed rows is bit_count(xor) per word — the CPU-native popcount.
    """
    first = embeddings.select(vec_col).first()
    dim = len(first[0])
    words = []
    for j in range(0, dim, 32):
        n = min(32, dim - j)
        sl = F.slice(F.col(vec_col), j + 1, n)
        w = F.aggregate(
            sl,
            F.lit(0).cast("long"),
            lambda acc, x: acc * 2 + (x >= F.lit(0.0)).cast("long"),
        )
        words.append(w.alias(f"w{j // 32}"))
    return embeddings.select(F.col(id_col), *words), dim


def bq_topk(
    packed: DataFrame,
    embeddings: DataFrame,
    query_vec: list[float],
    dim: int,
    rescore: int = 50,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-phase binary-quantized ANN: coarse top-``rescore`` candidates
    by packed-sign Hamming distance (ascending, id tie-break), then an
    EXACT float-cosine rescore of just those candidates, top-``k`` by
    (cosine DESC, id ASC). Output (id, hamming, cosine).

    With ``rescore`` >= corpus size the result is exactly the float
    brute force (the coarse phase only reorders candidates) — the gate
    tests assert that identity. The coarse phase is one scan over the
    8-byte packed table + TakeOrderedAndProject; the rescore broadcasts
    the ≤rescore candidate ids back into the embedding store, the same
    pruned point-lookup shape as fetch_docs — the full float table is
    never scanned.
    """
    qwords = []
    for j in range(0, dim, 32):
        w = 0
        for x in query_vec[j : j + 32]:
            w = w * 2 + (1 if float(x) >= 0.0 else 0)
        qwords.append(w)
    ham = None
    for i, qw in enumerate(qwords):
        t = F.bit_count(F.col(f"w{i}").bitwiseXOR(F.lit(qw)))
        ham = t if ham is None else ham + t
    cand = (
        packed.select(F.col(id_col), ham.cast("long").alias("hamming"))
        .orderBy(F.asc("hamming"), F.asc(id_col))
        .limit(int(rescore))
    )
    qn = float(np.sqrt(np.dot(query_vec, query_vec)))
    qv = F.array(*[F.lit(float(v)) for v in query_vec])
    cos = (_dot(F.col(vec_col), qv) / (_norm(F.col(vec_col)) * F.lit(qn))).alias(
        "cosine"
    )
    return (
        embeddings.join(F.broadcast(cand), id_col)
        .select(F.col(id_col), F.col("hamming"), cos)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(int(k))
    )
