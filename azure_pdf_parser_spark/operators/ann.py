"""Similarity search over embedding columns (array<float>).

Two tiers:

  cosine_topk      exact brute force — the correctness baseline. The
                   smaller side is broadcast so the pairwise score is a
                   broadcast-nested-loop with no shuffle of the big side;
                   per-pair math is a JVM-side zip_with/aggregate fold
                   (no Python, no UDF).
  lsh_cosine_topk  the scale path: sign-random-projection LSH. Bucket =
                   the 8 sign bits of the first 8 components (a fixed,
                   deterministic axis-aligned projection — seedless so
                   the DuckDB oracle reproduces it bit-for-bit); top-k is
                   computed only within buckets. At 10^9 vectors the
                   candidate set per probe drops by ~2^8 while recall
                   stays usable for near-duplicate retrieval.

Vectors are cast to array<double> before any arithmetic so Spark and
the DuckDB oracle accumulate in the same precision, in the same
left-to-right order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from azure_pdf_parser_spark.caching import tracked_persist

LSH_BITS = 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def with_norm(embeddings: DataFrame) -> DataFrame:
    vec = F.col("embedding").cast("array<double>")
    return embeddings.select(
        "vec_id", vec.alias("vec"), _norm(vec).alias("norm")
    )


# Exact top-k is O(n²) by construction — it exists as the correctness
# baseline the LSH/IVF tiers are gated against, not as a scale path.
# The guard refuses inputs past this many vectors so a misrouted
# production call fails loudly instead of launching a 10¹²-pair join.
EXACT_TOPK_MAX_ROWS = 100_000


def cosine_topk(
    embeddings: DataFrame,
    k: int = 5,
    max_rows: int | None = EXACT_TOPK_MAX_ROWS,
) -> DataFrame:
    """(vec_id, neighbor_id, rank, cosine): exact top-k cosine neighbors.

    rank is deterministic: (round(cosine,6) DESC, neighbor_id ASC).

    O(n²) CORRECTNESS BASELINE — use :func:`lsh_cosine_topk` or
    :func:`ivf_topk` at scale. ``max_rows`` (None disables) bounds the
    input with a cheap count of the id column; the count job is noise
    next to the quadratic join it guards.
    """
    from pyspark.sql.window import Window

    if max_rows is not None:
        n = embeddings.select("vec_id").count()
        if n > max_rows:
            raise ValueError(
                f"cosine_topk is the exact O(n²) baseline; input has {n} "
                f"vectors > max_rows={max_rows}. Use lsh_cosine_topk / "
                "ivf_topk for large inputs, or pass max_rows=None if the "
                "quadratic cost is truly intended."
            )

    a = with_norm(embeddings).alias("a")
    b = with_norm(embeddings).alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.vec_id") != F.col("b.vec_id")
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("a.vec"), F.col("b.vec"))
            / (F.col("a.norm") * F.col("b.norm")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "cosine")
    )


def lsh_bucket_col(vec: Column, bits: int = LSH_BITS) -> Column:
    """Sign bits of the first `bits` components, as a bitstring."""
    return F.concat_ws(
        "",
        F.transform(
            F.slice(vec, 1, bits),
            lambda v: F.when(v >= 0, F.lit("1")).otherwise(F.lit("0")),
        ),
    )


def lsh_cosine_topk(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """Approximate top-k: exact cosine, but only within the LSH bucket.

    The bucket equi-join replaces the all-pairs product — the shuffle key
    is the bucket id, so candidate generation is O(sum of bucket²)
    instead of O(n²)."""
    from pyspark.sql.window import Window

    base = with_norm(embeddings).withColumn(
        "bucket", lsh_bucket_col(F.col("vec"))
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("a.vec"), F.col("b.vec"))
            / (F.col("a.norm") * F.col("b.norm")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "cosine")
    )


N_CENTROIDS = 8


def ivf_centroids(embeddings: DataFrame) -> DataFrame:
    """(centroid_id, cvec, cnorm): the coarse-quantizer codebook —
    deterministic here (the vectors with ``vec_id < N_CENTROIDS``); at
    scale a k-means fit on a sample, persisted alongside the index."""
    return with_norm(embeddings).where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )


def ivf_assign(
    embeddings: DataFrame, centroids: DataFrame | None = None
) -> DataFrame:
    """(vec_id, vec, norm, centroid_id): nearest-centroid assignment.

    The centroid table is tiny and broadcast, so assignment is a narrow
    broadcast-nested-loop: no shuffle of the big side. Pass ``centroids``
    to assign NEW vectors against an existing index's codebook
    (query-time path); default derives the codebook from the input.
    """
    base = with_norm(embeddings)
    cents = centroids if centroids is not None else ivf_centroids(embeddings)
    return _assign_normed(base, cents)


def _assign_normed(
    base: DataFrame, cents: DataFrame, keep_score: bool = False
) -> DataFrame:
    """Nearest-centroid assignment over an already-normed vector table
    — the shared core of :func:`ivf_assign` and :func:`kmeans_refine`.
    ``keep_score`` retains the winning centroid cosine (``ccos``) for
    callers that order within the cluster (:func:`semantic_order`)."""
    from pyspark.sql.window import Window

    scored = base.join(F.broadcast(cents)).select(
        "vec_id",
        "vec",
        "norm",
        "centroid_id",
        F.round(
            _dot(F.col("vec"), F.col("cvec")) / (F.col("norm") * F.col("cnorm")), 6
        ).alias("ccos"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id").asc()
    )
    cols = ["vec_id", "vec", "norm", "centroid_id"] + (
        ["ccos"] if keep_score else []
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(*cols)
    )


N_KMEANS_ITERS = 2
# element quantum for the cluster-mean aggregation (see kmeans_refine)
KMEANS_QUANTUM = 1_000_000


def kmeans_refine(
    embeddings: DataFrame, n_iters: int = N_KMEANS_ITERS
) -> DataFrame:
    """(centroid_id, cvec, cnorm): the IVF codebook after ``n_iters``
    Lloyd iterations from the deterministic seed codebook
    (:func:`ivf_centroids`) — the distributed k-means fit the seed
    docstring promises "at scale".

    Each iteration is two narrow-ish jobs: a broadcast-codebook
    assignment (no shuffle of the vector table) and one
    (centroid_id, pos) groupBy for the element-wise cluster means —
    per-iteration shuffle volume is O(n·dim) scalar rows keyed by a
    uniform composite key, never an all-pairs product. The iteration
    count is a fit-time constant, so the whole refinement is ONE static
    plan (no driver-side convergence actions); at 10⁹ vectors you fit
    on a sample, exactly like FAISS's train/add split.

    Engine-exactness: cluster means are averaged over elements
    QUANTIZED to 1e-6 (bigint sum / count, one final double division),
    so the result is independent of partitioning and accumulation
    order — float summation order is the one thing a distributed mean
    must never depend on if an oracle is to reproduce it bit-for-bit.
    Empty clusters keep their previous centroid (deterministic, no
    reseeding RNG).
    """
    base = tracked_persist(with_norm(embeddings))
    cents = base.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )
    for _ in range(n_iters):
        assigned = _assign_normed(base, cents)
        quant = assigned.select(
            "centroid_id",
            F.posexplode(
                F.transform(
                    "vec",
                    lambda x: F.round(x * KMEANS_QUANTUM, 0).cast("long"),
                )
            ).alias("pos", "q"),
        )
        means = quant.groupBy("centroid_id", "pos").agg(
            F.round(
                F.sum("q") / (F.count("*") * F.lit(float(KMEANS_QUANTUM))), 6
            ).alias("m")
        )
        new_vecs = (
            means.groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "centroid_id",
                F.transform("pm", lambda s: s["m"]).alias("new_cvec"),
            )
        )
        # broadcast both sides' worth: the codebook is N_CENTROIDS rows
        # by construction, but derived plans carry no size stats, so
        # without the hint this 8x8-row repair join plans as a full
        # sort-merge (two pointless exchanges per iteration)
        cents = (
            cents.join(F.broadcast(new_vecs), "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce("new_cvec", "cvec").alias("cvec"),
            )
            .select("centroid_id", "cvec", _norm(F.col("cvec")).alias("cnorm"))
        )
    return cents


def ivf_topk(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """IVF (nprobe=1) top-k: exact cosine within the probe's own
    centroid list. Candidate generation is an equi-join on centroid_id —
    O(sum of list²) instead of O(n²); at 10^9 vectors list sizes are
    bounded by the centroid count chosen at fit time."""
    from pyspark.sql.window import Window

    # persisted: the assignment (broadcast score + argmin window) feeds
    # both sides of the within-list self-join — at production scale the
    # assigned table is the persisted IVF index itself
    assigned = tracked_persist(ivf_assign(embeddings))
    a, b = assigned.alias("a"), assigned.alias("b")
    pairs = a.join(
        b,
        (F.col("a.centroid_id") == F.col("b.centroid_id"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("a.vec"), F.col("b.vec"))
            / (F.col("a.norm") * F.col("b.norm")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "cosine")
    )


# --- IVF index lifecycle: persist / load / query -----------------------------


def save_ivf_index(
    embeddings: DataFrame,
    path: str,
    mode: str = "error",
    refine_iters: int = 0,
) -> None:
    """Build and persist the IVF index, PARTITIONED BY centroid_id.

    The directory layout IS the inverted-file structure: a query that
    probes one centroid reads one partition (planning-time
    PartitionFilters prune the rest) — the on-disk analog of FAISS's
    per-list storage, expressed as plain partitioned parquet.

    ``refine_iters > 0`` fits the codebook with that many Lloyd
    iterations (:func:`kmeans_refine`) before assignment — FAISS's
    train-then-add, as one plan — and persists the fitted codebook
    under ``{path}/_codebook`` (underscore prefix: hidden from the
    parquet read of the lists, same convention as the manifest's
    ``_commits``). Queries must assign with the index's OWN codebook:
    :func:`load_ivf_codebook` returns the persisted one, or derives the
    seed codebook from the index rows for unrefined indexes."""
    cents = kmeans_refine(embeddings, refine_iters) if refine_iters else None
    ivf_assign(embeddings, centroids=cents).write.partitionBy(
        "centroid_id"
    ).mode(mode).parquet(path)
    if cents is not None:
        cents.write.mode("overwrite").parquet(f"{path}/_codebook")


def load_ivf_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def load_ivf_codebook(spark, path: str, index: DataFrame) -> DataFrame:
    """The codebook an index was BUILT with — persisted form if the fit
    was refined, else the deterministic seed derived from index rows.
    Assigning queries with any other codebook silently probes the wrong
    lists (recall collapses without an error)."""
    import os

    if os.path.isdir(os.path.join(path, "_codebook")):
        return spark.read.parquet(f"{path}/_codebook")
    return index.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
    )


def ivf_query_topk(
    index: DataFrame, queries: DataFrame, k: int = 5, codebook=None
) -> DataFrame:
    """Top-k indexed neighbors for NEW query vectors (nprobe=1).

    Queries are assigned with the INDEX's codebook (broadcast), then
    equi-join their centroid's list — the scan touches only the probed
    partitions. Self-matches (same vec_id) are excluded so querying the
    index with its own vectors reproduces :func:`ivf_topk`. Pass
    ``codebook`` (:func:`load_ivf_codebook`) for refined indexes; the
    default derives the seed codebook from the index rows.
    """
    from pyspark.sql.window import Window

    cents = (
        codebook
        if codebook is not None
        else index.where(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("vec").alias("cvec"),
            F.col("norm").alias("cnorm"),
        )
    )
    assigned_q = ivf_assign(queries, centroids=F.broadcast(cents))
    pairs = assigned_q.alias("q").join(
        index.alias("i"),
        (F.col("q.centroid_id") == F.col("i.centroid_id"))
        & (F.col("q.vec_id") != F.col("i.vec_id")),
    ).select(
        F.col("q.vec_id").alias("vec_id"),
        F.col("i.vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("q.vec"), F.col("i.vec"))
            / (F.col("q.norm") * F.col("i.norm")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "cosine")
    )


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.35) -> DataFrame:
    """(vec_id, centroid_id, keep): SemDeDup-style clustered semantic dedup.

    The SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): cluster
    the embeddings with a coarse quantizer, then compare vectors ONLY
    within their own cluster and drop all but one member of each
    semantic-duplicate group. Here the cluster assignment is
    :func:`ivf_assign` (broadcast codebook, no shuffle of the big side)
    and the keep rule is deterministic: a vector is dropped iff some
    same-cluster vector with a SMALLER vec_id has cosine >= threshold —
    the lowest-id member of every duplicate group survives, and the
    result is stable across partitionings and re-runs (the paper keeps
    a random member; low-id is the seedless analog).

    Scale posture: candidate generation is an equi-join on centroid_id —
    identical to :func:`ivf_topk`, O(sum of list²) not O(n²); at 10⁹+
    vectors the codebook is fit with enough centroids that per-list
    sizes stay bounded, and the dup-id table is aggregated (distinct)
    before the final left join, so the wide vectors never shuffle twice.
    """
    assigned = tracked_persist(ivf_assign(embeddings))
    a, b = assigned.alias("a"), assigned.alias("b")
    dup_ids = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .where(
            F.round(
                _dot(F.col("a.vec"), F.col("b.vec"))
                / (F.col("a.norm") * F.col("b.norm")),
                6,
            )
            >= threshold
        )
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assigned.select("vec_id", "centroid_id")
        .join(dup_ids, "vec_id", "left")
        .select(
            "vec_id",
            "centroid_id",
            F.coalesce(~F.col("is_dup"), F.lit(True)).alias("keep"),
        )
    )


def semantic_order(embeddings: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, ccos, semantic_pos): in-context-pretraining
    data order (Shi et al. 2023, arXiv:2310.10638) — related documents
    made ADJACENT in the training stream by clustering embeddings and
    laying clusters out contiguously, each cluster internally ordered
    hub-first (centroid cosine descending, vec_id tie-break).

    The ICP paper chains a doc-level nearest-neighbor traveling path;
    the cluster-contiguous layout is its scalable standard relaxation —
    what matters for the training objective is that a context window
    lands inside one semantic neighborhood, which cluster-contiguity
    already guarantees at window ≪ cluster size.

    Scale shape: assignment is the broadcast-codebook pass of
    :func:`ivf_assign` (no shuffle of the vector table); the GLOBAL
    position is the curriculum_order machinery — per-cluster counts
    (one map-side-combined groupBy), an exclusive prefix sum over the
    tiny centroid table, broadcast offsets + a within-cluster window —
    never a corpus-sized single-partition rank.
    """
    from pyspark.sql.window import Window

    # persisted: the assignment feeds both the per-cluster counts and
    # the final rank join — without it the broadcast-score + argmin
    # window over the full vector table runs twice (same contract as
    # ivf_topk's persisted assignment; caller releases via release_all)
    assigned = tracked_persist(
        _assign_normed(
            with_norm(embeddings), ivf_centroids(embeddings), keep_score=True
        )
    )
    counts = assigned.groupBy("centroid_id").agg(F.count("*").alias("_n"))
    w_off = (
        Window.partitionBy()
        .orderBy("centroid_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "centroid_id",
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_off"),
    )
    w_in = Window.partitionBy("centroid_id").orderBy(
        F.col("ccos").desc(), F.col("vec_id").asc()
    )
    return (
        assigned.join(F.broadcast(offsets), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            "ccos",
            (F.col("_off") + F.row_number().over(w_in))
            .cast("bigint")
            .alias("semantic_pos"),
        )
    )


SEMANTIC_ORDER_SQL = """
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
           sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) AS norm
    FROM embeddings
),
cents AS (
    SELECT vec_id AS centroid_id, vec AS cvec, norm AS cnorm FROM base WHERE vec_id < {c}
),
scored AS (
    SELECT b.vec_id, b.norm, c.centroid_id,
           round(list_aggregate(list_transform(range(1, len(b.vec) + 1),
                                i -> b.vec[i] * c.cvec[i]), 'sum')
                 / (b.norm * c.cnorm), 6) AS ccos,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY round(list_aggregate(list_transform(range(1, len(b.vec) + 1),
                                             i -> b.vec[i] * c.cvec[i]), 'sum')
                                       / (b.norm * c.cnorm), 6) DESC,
                                       c.centroid_id ASC) AS rn
    FROM base b CROSS JOIN cents c
),
assigned AS (
    SELECT vec_id, centroid_id, ccos FROM scored WHERE rn = 1
)
SELECT vec_id, centroid_id, ccos,
       CAST(row_number() OVER (ORDER BY centroid_id, ccos DESC, vec_id)
            AS BIGINT) AS semantic_pos
FROM assigned
""".format(c=N_CENTROIDS)


def ivf_recall_at_k(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """One-row recall report for the IVF tier against the exact
    baseline: (n_vectors, mean_recall, min_recall).

    Per-vector recall = |ivf_topk ∩ cosine_topk| / |cosine_topk| (the
    exact set can be smaller than k on tiny corpora). The measurement
    harness an ANN deployment needs before trusting the approximate
    tier — run it on a SAMPLE at production scale (cosine_topk refuses
    > EXACT_TOPK_MAX_ROWS inputs by design, so a misrouted full-corpus
    call fails loudly rather than running the O(n²) baseline).

    Both rankers share the deterministic (cosine DESC, neighbor_id ASC)
    tie-break, so recall is stable across partitionings and engines.
    """
    exact = cosine_topk(embeddings, k).select("vec_id", "neighbor_id")
    approx = ivf_topk(embeddings, k).select("vec_id", "neighbor_id")
    ex_counts = exact.groupBy("vec_id").agg(F.count("*").alias("n_exact"))
    hit_counts = (
        exact.join(approx, ["vec_id", "neighbor_id"], "left_semi")
        .groupBy("vec_id")
        .agg(F.count("*").alias("n_hit"))
    )
    recall = F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact").cast(
        "double"
    )
    per_vec = ex_counts.join(hit_counts, "vec_id", "left").select(
        recall.alias("recall")
    )
    return per_vec.agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(F.avg("recall"), 6).alias("mean_recall"),
        F.round(F.min("recall"), 6).alias("min_recall"),
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.35
) -> DataFrame:
    """(vec_a, vec_b, cosine): near-duplicate pairs by embedding cosine,
    LSH-bucketed — the embedding analog of the MinHash/SimHash text
    dedups. Only within-bucket pairs are scored, so the shuffle keys on
    the bucket id, never on an all-pairs product."""
    base = with_norm(embeddings).withColumn("bucket", lsh_bucket_col(F.col("vec")))
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                _dot(F.col("a.vec"), F.col("b.vec"))
                / (F.col("a.norm") * F.col("b.norm")),
                6,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


# --- DuckDB oracles ----------------------------------------------------------

COSINE_TOPK_SQL = """
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
           sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) AS norm
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id, b.vec_id AS neighbor_id,
           round(list_aggregate(list_transform(range(1, len(a.vec) + 1),
                                i -> a.vec[i] * b.vec[i]), 'sum')
                 / (a.norm * b.norm), 6) AS cosine
    FROM base a JOIN base b ON a.vec_id <> b.vec_id
),
ranked AS (
    SELECT vec_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
    FROM pairs
)
SELECT vec_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
"""

LSH_COSINE_TOPK_SQL = """
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
           sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) AS norm,
           array_to_string(list_transform(list_slice(CAST(embedding AS DOUBLE[]), 1, {bits}),
                           x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
    FROM embeddings
),
pairs AS (
    SELECT a.vec_id, b.vec_id AS neighbor_id,
           round(list_aggregate(list_transform(range(1, len(a.vec) + 1),
                                i -> a.vec[i] * b.vec[i]), 'sum')
                 / (a.norm * b.norm), 6) AS cosine
    FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
ranked AS (
    SELECT vec_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
    FROM pairs
)
SELECT vec_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
"""

IVF_TOPK_SQL = """
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
           sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) AS norm
    FROM embeddings
),
cents AS (
    SELECT vec_id AS centroid_id, vec AS cvec, norm AS cnorm FROM base WHERE vec_id < {c}
),
scored AS (
    SELECT b.vec_id, b.vec, b.norm, c.centroid_id,
           round(list_aggregate(list_transform(range(1, len(b.vec) + 1),
                                i -> b.vec[i] * c.cvec[i]), 'sum')
                 / (b.norm * c.cnorm), 6) AS ccos,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY round(list_aggregate(list_transform(range(1, len(b.vec) + 1),
                                             i -> b.vec[i] * c.cvec[i]), 'sum')
                                       / (b.norm * c.cnorm), 6) DESC,
                                       c.centroid_id ASC) AS rn
    FROM base b CROSS JOIN cents c
),
assigned AS (
    SELECT vec_id, vec, norm, centroid_id FROM scored WHERE rn = 1
),
pairs AS (
    SELECT a.vec_id, b.vec_id AS neighbor_id,
           round(list_aggregate(list_transform(range(1, len(a.vec) + 1),
                                i -> a.vec[i] * b.vec[i]), 'sum')
                 / (a.norm * b.norm), 6) AS cosine
    FROM assigned a JOIN assigned b
      ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
),
ranked AS (
    SELECT vec_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
    FROM pairs
)
SELECT vec_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
"""

def _kmeans_sql(n_iters: int = N_KMEANS_ITERS) -> str:
    """DuckDB mirror of :func:`kmeans_refine`: the fixed iteration count
    unrolls into one CTE chain per Lloyd step (assign → quantized means
    → rebuild codebook), so the 'iterative' fit is still a single SQL
    statement — possible exactly BECAUSE the engine keeps the iteration
    count a fit-time constant instead of a data-dependent loop."""
    q = KMEANS_QUANTUM
    parts = [
        f"""WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
           sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) AS norm
    FROM embeddings
),
cents0 AS (
    SELECT vec_id AS centroid_id, vec AS cvec, norm AS cnorm
    FROM base WHERE vec_id < {N_CENTROIDS}
)"""
    ]
    for i in range(n_iters):
        prev, cur = f"cents{i}", f"cents{i + 1}"
        parts.append(
            f""",
scored{i} AS (
    SELECT b.vec_id, b.vec, c.centroid_id,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY round(list_aggregate(list_transform(range(1, len(b.vec) + 1),
                                             j -> b.vec[j] * c.cvec[j]), 'sum')
                                       / (b.norm * c.cnorm), 6) DESC,
                                       c.centroid_id ASC) AS rn
    FROM base b CROSS JOIN {prev} c
),
quant{i} AS (
    SELECT centroid_id,
           UNNEST(range(0, len(vec))) AS pos,
           UNNEST(list_transform(vec, x -> CAST(round(x * {q}) AS BIGINT))) AS qv
    FROM scored{i} WHERE rn = 1
),
means{i} AS (
    SELECT centroid_id, pos, round(sum(qv) / (count(*) * {q}.0), 6) AS m
    FROM quant{i} GROUP BY centroid_id, pos
),
newv{i} AS (
    SELECT centroid_id, list(m ORDER BY pos) AS new_cvec
    FROM means{i} GROUP BY centroid_id
),
{cur} AS (
    SELECT p.centroid_id,
           coalesce(n.new_cvec, p.cvec) AS cvec,
           sqrt(list_aggregate(list_transform(coalesce(n.new_cvec, p.cvec), x -> x * x), 'sum')) AS cnorm
    FROM {prev} p LEFT JOIN newv{i} n ON p.centroid_id = n.centroid_id
)"""
        )
    parts.append(
        f"""
SELECT centroid_id, CAST(pos AS INT) AS pos, c FROM (
    SELECT centroid_id,
           UNNEST(range(0, len(cvec))) AS pos,
           UNNEST(cvec) AS c
    FROM cents{n_iters}
) flat
"""
    )
    return "".join(parts)


KMEANS_REFINE_SQL = _kmeans_sql()


IVF_RECALL_SQL = """
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
           sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) AS norm
    FROM embeddings
),
cents AS (
    SELECT vec_id AS centroid_id, vec AS cvec, norm AS cnorm FROM base WHERE vec_id < {c}
),
scored AS (
    SELECT b.vec_id, b.vec, b.norm, c.centroid_id,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY round(list_aggregate(list_transform(range(1, len(b.vec) + 1),
                                             i -> b.vec[i] * c.cvec[i]), 'sum')
                                       / (b.norm * c.cnorm), 6) DESC,
                                       c.centroid_id ASC) AS rn
    FROM base b CROSS JOIN cents c
),
assigned AS (
    SELECT vec_id, vec, norm, centroid_id FROM scored WHERE rn = 1
),
ivf_ranked AS (
    SELECT a.vec_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY round(list_aggregate(list_transform(range(1, len(a.vec) + 1),
                                             i -> a.vec[i] * b.vec[i]), 'sum')
                                       / (a.norm * b.norm), 6) DESC,
                                       b.vec_id ASC) AS rank
    FROM assigned a JOIN assigned b
      ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
),
approx AS (SELECT vec_id, neighbor_id FROM ivf_ranked WHERE rank <= {k}),
ex_ranked AS (
    SELECT a.vec_id, b.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY round(list_aggregate(list_transform(range(1, len(a.vec) + 1),
                                             i -> a.vec[i] * b.vec[i]), 'sum')
                                       / (a.norm * b.norm), 6) DESC,
                                       b.vec_id ASC) AS rank
    FROM base a JOIN base b ON a.vec_id <> b.vec_id
),
exact AS (SELECT vec_id, neighbor_id FROM ex_ranked WHERE rank <= {k}),
per_vec AS (
    SELECT e.vec_id,
           count(*) AS n_exact,
           count(a.neighbor_id) AS n_hit
    FROM exact e
    LEFT JOIN approx a
      ON e.vec_id = a.vec_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.vec_id
)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       round(avg(n_hit / CAST(n_exact AS DOUBLE)), 6) AS mean_recall,
       round(min(n_hit / CAST(n_exact AS DOUBLE)), 6) AS min_recall
FROM per_vec
"""

SEMANTIC_DEDUP_SQL = """
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
           sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) AS norm
    FROM embeddings
),
cents AS (
    SELECT vec_id AS centroid_id, vec AS cvec, norm AS cnorm FROM base WHERE vec_id < {c}
),
scored AS (
    SELECT b.vec_id, b.vec, b.norm, c.centroid_id,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY round(list_aggregate(list_transform(range(1, len(b.vec) + 1),
                                             i -> b.vec[i] * c.cvec[i]), 'sum')
                                       / (b.norm * c.cnorm), 6) DESC,
                                       c.centroid_id ASC) AS rn
    FROM base b CROSS JOIN cents c
),
assigned AS (
    SELECT vec_id, vec, norm, centroid_id FROM scored WHERE rn = 1
),
dup_ids AS (
    SELECT DISTINCT a.vec_id
    FROM assigned a JOIN assigned b
      ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id
    WHERE round(list_aggregate(list_transform(range(1, len(a.vec) + 1),
                               i -> a.vec[i] * b.vec[i]), 'sum')
                / (a.norm * b.norm), 6) >= {thr}
)
SELECT a.vec_id, a.centroid_id, (d.vec_id IS NULL) AS keep
FROM assigned a LEFT JOIN dup_ids d ON a.vec_id = d.vec_id
"""

# Oracle for the index LIFECYCLE gate: the index is built from the
# embeddings table (assignment with the vec_id<c codebook), query
# vectors are the same embeddings with vec_id shifted by {off} (so no
# self-matches by construction), assigned with the INDEX's codebook,
# and top-k runs within the probed centroid's list — byte-for-byte the
# semantics of save_ivf_index → load_ivf_index → ivf_query_topk.
QUERY_ID_OFFSET = 100_000

IVF_LIFECYCLE_SQL = """
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
           sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) AS norm
    FROM embeddings
),
cents AS (
    SELECT vec_id AS centroid_id, vec AS cvec, norm AS cnorm FROM base WHERE vec_id < {c}
),
scored_i AS (
    SELECT b.vec_id, b.vec, b.norm, c.centroid_id,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY round(list_aggregate(list_transform(range(1, len(b.vec) + 1),
                                             i -> b.vec[i] * c.cvec[i]), 'sum')
                                       / (b.norm * c.cnorm), 6) DESC,
                                       c.centroid_id ASC) AS rn
    FROM base b CROSS JOIN cents c
),
index_t AS (SELECT vec_id, vec, norm, centroid_id FROM scored_i WHERE rn = 1),
qry AS (SELECT vec_id + {off} AS vec_id, vec, norm FROM base),
scored_q AS (
    SELECT q.vec_id, q.vec, q.norm, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round(list_aggregate(list_transform(range(1, len(q.vec) + 1),
                                             i -> q.vec[i] * c.cvec[i]), 'sum')
                                       / (q.norm * c.cnorm), 6) DESC,
                                       c.centroid_id ASC) AS rn
    FROM qry q CROSS JOIN cents c
),
assigned_q AS (SELECT vec_id, vec, norm, centroid_id FROM scored_q WHERE rn = 1),
pairs AS (
    SELECT q.vec_id, i.vec_id AS neighbor_id,
           round(list_aggregate(list_transform(range(1, len(q.vec) + 1),
                                j -> q.vec[j] * i.vec[j]), 'sum')
                 / (q.norm * i.norm), 6) AS cosine
    FROM assigned_q q JOIN index_t i
      ON q.centroid_id = i.centroid_id AND q.vec_id <> i.vec_id
),
ranked AS (
    SELECT vec_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
    FROM pairs
)
SELECT vec_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= {k}
"""

EMBEDDING_NEAR_DUP_SQL = """
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
           sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) AS norm,
           array_to_string(list_transform(list_slice(CAST(embedding AS DOUBLE[]), 1, {bits}),
                           x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
    FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_aggregate(list_transform(range(1, len(a.vec) + 1),
                            i -> a.vec[i] * b.vec[i]), 'sum')
             / (a.norm * b.norm), 6) AS cosine
FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_aggregate(list_transform(range(1, len(a.vec) + 1),
                           i -> a.vec[i] * b.vec[i]), 'sum')
            / (a.norm * b.norm), 6) >= {threshold}
"""


# --- IVF + product quantization ----------------------------------------------

# 64-dim vectors → PQ_M subspaces of PQ_SUBDIM dims, PQ_K codewords per
# subspace: the stored code is PQ_M bytes per vector instead of 64
# floats — a 32× index-memory reduction, the property that lets a
# 10^12-vector inverted file live in cluster RAM. Codewords are
# deterministic here (subvectors of the first PQ_K vectors — the same
# derivation seam as ivf_centroids); production fits them per subspace
# with kmeans_refine on a sample and persists them with the index.
PQ_M = 8
PQ_SUBDIM = 8
PQ_K = 16


def pq_codebook(embeddings: DataFrame) -> DataFrame:
    """(m, code, cw): PQ_M × PQ_K codewords, PQ_SUBDIM doubles each.
    PQ_M·PQ_K rows total — broadcast by construction, never shuffled."""
    base = with_norm(embeddings).where(F.col("vec_id") < PQ_K)
    subs = F.array(*[
        F.struct(
            F.lit(m).cast("int").alias("m"),
            F.slice(F.col("vec"), m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("cw"),
        )
        for m in range(PQ_M)
    ])
    return base.select(
        F.col("vec_id").cast("int").alias("code"), F.explode(subs).alias("s")
    ).select("s.m", "code", "s.cw")


def _cb_map(codebook: DataFrame) -> DataFrame:
    """The codebook aggregated into a single one-row map column
    ('m:code' → cw, PQ_M·PQ_K entries) — the broadcastable form both
    encode and reconstruction consume."""
    return codebook.groupBy().agg(
        F.map_from_arrays(
            F.collect_list(F.concat_ws(":", "m", "code")),
            F.collect_list("cw"),
        ).alias("cb")
    )


def pq_encode(embeddings: DataFrame, codebook: DataFrame | None = None) -> DataFrame:
    """(vec_id, codes): the PQ index rows — ``codes[m]`` is the argmin-L2
    codeword of subspace m (L2² rounded to 6, ties to the lower code, so
    the DuckDB mirror can never diverge on float noise).

    Plan: vectors × broadcast codebook (PQ_M·PQ_K tiny rows) scored
    map-side, then two groupBys on the uniform (vec_id[, m]) keys:
    min_by per subspace, code array assembled per vector — the
    exchanges move one tiny row per (vector, subspace). A fully
    map-only formulation (argmin as a nested aggregate-fold over a
    broadcast codebook map) was MEASURED 4× SLOWER end-to-end: every
    higher-order-function step is interpreted (CodegenFallback), and
    the fold evaluates each L2 twice per step — flat join rows keep
    the per-distance work minimal and the exchanged rows are 12 bytes.
    """
    cb = codebook if codebook is not None else pq_codebook(embeddings)
    base = with_norm(embeddings)
    sub = F.slice(F.col("vec"), F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM)
    l2 = F.round(
        F.aggregate(
            F.zip_with(sub, F.col("cw"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    scored = base.join(F.broadcast(cb)).select(
        "vec_id", "m", "code", l2.alias("l2")
    )
    best = scored.groupBy("vec_id", "m").agg(
        F.min_by("code", F.struct("l2", "code")).alias("code")
    )
    return best.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))),
            lambda s: s.code,
        ).alias("codes")
    )


def _pq_recon(codes_df: DataFrame, codebook: DataFrame) -> DataFrame:
    """codes → reconstructed vector + its norm, via ONE broadcast map
    lookup per row (the codebook aggregated into a single map literal:
    PQ_M·PQ_K entries). Production ADC replaces this with a per-query
    lookup table — same math (dot(q, recon) ≡ Σ_m lut[m][code_m]), the
    recon form is what the SQL mirror can state directly."""
    with_map = codes_df.join(F.broadcast(_cb_map(codebook)))
    recon = F.flatten(
        F.transform(
            F.col("codes"),
            lambda c, m: F.element_at(
                F.col("cb"), F.concat_ws(":", m.cast("string"), c.cast("string"))
            ),
        )
    )
    return with_map.select(
        "vec_id",
        "codes",
        recon.alias("recon"),
        _norm(recon).alias("rnorm"),
    )


def ivf_pq_topk(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """IVF candidate pruning + PQ-compressed scoring (the canonical
    composition for RAM-resident web-scale ANN): candidates come from
    the same nprobe=1 centroid-list equi-join as :func:`ivf_topk`, but
    the candidate side carries PQ_M-byte codes instead of 64 floats —
    the shuffle moves ~32× fewer bytes and the resident index is the
    codes table. Scoring is asymmetric (ADC): the query keeps its exact
    vector, the candidate is scored through its reconstruction.

    Output: (vec_id, neighbor_id, rank, adc_cosine) — rank by the
    QUANTIZED score, which is the number a PQ deployment actually ranks
    on (recall vs exact is the ann_ivf_recall-style concern; at these
    codebook sizes it is pinned by test)."""
    from pyspark.sql.window import Window

    cb = tracked_persist(pq_codebook(embeddings))
    assigned = tracked_persist(ivf_assign(embeddings))
    # persist the reconstructed candidates: without the materialization
    # barrier CollapseProject inlines the recon expression (map lookups
    # + flatten) into the PAIR-level projection, re-evaluating it per
    # candidate PAIR instead of per candidate — the same
    # lambda-inlining hazard as with_language (BENCH/BASELINE.md);
    # measured 9.3 s → the ivf_topk-comparable cost with the barrier
    cand = tracked_persist(
        _pq_recon(pq_encode(embeddings, cb), cb).join(
            assigned.select("vec_id", "centroid_id"), "vec_id"
        )
    )
    a = assigned.alias("a")
    b = cand.alias("b")
    pairs = a.join(
        b,
        (F.col("a.centroid_id") == F.col("b.centroid_id"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("a.vec"), F.col("b.recon"))
            / (F.col("a.norm") * F.col("b.rnorm")),
            6,
        ).alias("adc_cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("adc_cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank", "adc_cosine")
    )


IVF_PQ_TOPK_SQL = """
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec,
           sqrt(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x), 'sum')) AS norm
    FROM embeddings
),
cents AS (
    SELECT vec_id AS centroid_id, vec AS cvec, norm AS cnorm FROM base WHERE vec_id < {c}
),
cscored AS (
    SELECT b.vec_id, b.vec, b.norm, c.centroid_id,
           row_number() OVER (PARTITION BY b.vec_id
                              ORDER BY round(list_aggregate(list_transform(range(1, len(b.vec) + 1),
                                             i -> b.vec[i] * c.cvec[i]), 'sum')
                                       / (b.norm * c.cnorm), 6) DESC,
                                       c.centroid_id ASC) AS rn
    FROM base b CROSS JOIN cents c
),
assigned AS (
    SELECT vec_id, vec, norm, centroid_id FROM cscored WHERE rn = 1
),
cb AS (
    SELECT t.m, CAST(b.vec_id AS INT) AS code,
           list_slice(b.vec, t.m * {sd} + 1, t.m * {sd} + {sd}) AS cw
    FROM base b
    CROSS JOIN (SELECT UNNEST(range({pm})) AS m) t
    WHERE b.vec_id < {pk}
),
enc AS (
    SELECT vec_id, m, code FROM (
        SELECT b.vec_id, cb.m, cb.code,
               row_number() OVER (
                   PARTITION BY b.vec_id, cb.m
                   ORDER BY round(list_aggregate(list_transform(range(1, {sd} + 1),
                                  i -> (b.vec[cb.m * {sd} + i] - cb.cw[i])
                                     * (b.vec[cb.m * {sd} + i] - cb.cw[i])), 'sum'), 6) ASC,
                            cb.code ASC) AS rn
        FROM base b CROSS JOIN cb
    ) WHERE rn = 1
),
recon AS (
    SELECT e.vec_id, flatten(list(c.cw ORDER BY e.m)) AS recon
    FROM enc e JOIN cb c ON c.m = e.m AND c.code = e.code
    GROUP BY e.vec_id
),
cand AS (
    SELECT r.vec_id, a.centroid_id, r.recon,
           sqrt(list_aggregate(list_transform(r.recon, x -> x * x), 'sum')) AS rnorm
    FROM recon r JOIN assigned a ON a.vec_id = r.vec_id
),
pairs AS (
    SELECT a.vec_id, b.vec_id AS neighbor_id,
           round(list_aggregate(list_transform(range(1, len(a.vec) + 1),
                                i -> a.vec[i] * b.recon[i]), 'sum')
                 / (a.norm * b.rnorm), 6) AS adc_cosine
    FROM assigned a JOIN cand b
      ON a.centroid_id = b.centroid_id AND a.vec_id <> b.vec_id
),
ranked AS (
    SELECT vec_id, neighbor_id, adc_cosine,
           CAST(row_number() OVER (PARTITION BY vec_id
                                   ORDER BY adc_cosine DESC, neighbor_id ASC) AS INT) AS rank
    FROM pairs
)
SELECT vec_id, neighbor_id, rank, adc_cosine FROM ranked WHERE rank <= {k}
"""


# --- Reciprocal-rank fusion of ANN tiers ---------------------------------------

RRF_K0 = 60           # the standard RRF damping constant (Cormack 2009)
RRF_SCALE = 1_000_000  # integer micro-units: 10^6 div (k0 + rank)


def rrf_fusion(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """(vec_id, neighbor_id, fused_score, rank): reciprocal-rank fusion
    of the sign-LSH and IVF candidate lists — the standard way to merge
    retrieval tiers with incomparable scores (Cormack et al. 2009):
    each list contributes 1/(k0 + rank), here as the integer
    ``RRF_SCALE div (k0 + rank)`` so the fusion is bit-exact.

    Why it earns a gate: the two ANN tiers miss DIFFERENT neighbors
    (LSH by bucket-boundary, IVF by centroid-boundary); their fused
    top-k recovers candidates either tier alone drops, at the cost of
    one extra equi-join of two k-bounded lists — O(n·k) rows a side,
    never the vector table. The re-rank window partitions on vec_id
    (WindowGroupLimit pre-truncation) like every top-k in this module.
    """
    from pyspark.sql.window import Window

    def _term(rank_col):
        return F.coalesce(
            F.expr(f"{RRF_SCALE} div ({RRF_K0} + {rank_col})"), F.lit(0)
        )

    lsh = lsh_cosine_topk(embeddings, k).select(
        F.col("vec_id").alias("l_vid"),
        F.col("neighbor_id").alias("l_nid"),
        F.col("rank").alias("l_rank"),
    )
    ivf = ivf_topk(embeddings, k).select(
        F.col("vec_id").alias("i_vid"),
        F.col("neighbor_id").alias("i_nid"),
        F.col("rank").alias("i_rank"),
    )
    fused = (
        lsh.join(
            ivf,
            (F.col("l_vid") == F.col("i_vid"))
            & (F.col("l_nid") == F.col("i_nid")),
            "full_outer",
        )
        .select(
            F.coalesce("l_vid", "i_vid").alias("vec_id"),
            F.coalesce("l_nid", "i_nid").alias("neighbor_id"),
            (_term("l_rank") + _term("i_rank"))
            .cast("bigint")
            .alias("fused_score"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("fused_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "fused_score", "rank")
    )


def rrf_fusion_sql(k: int = 5) -> str:
    lsh = LSH_COSINE_TOPK_SQL.format(bits=LSH_BITS, k=k)
    ivf = IVF_TOPK_SQL.format(c=N_CENTROIDS, k=k)
    return f"""
WITH lsh AS (SELECT * FROM ({lsh})),
ivf AS (SELECT * FROM ({ivf})),
fused AS (
    SELECT coalesce(l.vec_id, i.vec_id) AS vec_id,
           coalesce(l.neighbor_id, i.neighbor_id) AS neighbor_id,
           CAST(coalesce({RRF_SCALE} // ({RRF_K0} + l.rank), 0)
                + coalesce({RRF_SCALE} // ({RRF_K0} + i.rank), 0)
                AS BIGINT) AS fused_score
    FROM lsh l FULL JOIN ivf i
      ON l.vec_id = i.vec_id AND l.neighbor_id = i.neighbor_id
)
SELECT vec_id, neighbor_id, fused_score, rank FROM (
    SELECT vec_id, neighbor_id, fused_score,
           CAST(row_number() OVER (
               PARTITION BY vec_id
               ORDER BY fused_score DESC, neighbor_id ASC) AS INT) AS rank
    FROM fused
) WHERE rank <= {k}
"""
