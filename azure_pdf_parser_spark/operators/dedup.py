"""Deduplication suite for large-scale training-data pipelines.

Four tiers, cheapest first — each a standalone DataFrame op over
``documents(doc_id, text)``:

  exact          md5-groupBy (one skew-free shuffle on a uniform hash)
  ngram_jaccard  3-word shingle sets; candidate pairs via shared-shingle
                 equi-join; exact Jaccard on the pair
  minhash_lsh    16 md5 minhashes → 4 bands of 4 → candidates share a
                 band (the scale path: join key count is O(docs·bands),
                 never O(docs²))
  simhash        128-bit simhash over md5 nibbles, token-frequency
                 weighted — near-dup fingerprint for hamming bucketing

Everything is expressed with built-in functions (md5, split, explode,
min, groupBy) so the hot path stays JVM-side; there are no UDFs at all.
At 100 TB scale: the shingle explode is narrow; the only shuffles are
the groupBy on (doc) for signatures and the equi-join on
(band_idx, band_hash) / shingle, whose keys are md5-uniform.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azure_pdf_parser_spark.caching import tracked_persist
from azure_pdf_parser_spark.partitioning import widen_for_compute

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
SHINGLE_WORDS = 3
# Document-frequency cap: a shingle appearing in more than MAX_SHINGLE_DF
# documents is boilerplate and carries no near-dup signal — and it is a
# skew bomb in any shared-shingle equi-join (d docs sharing a shingle
# yield d(d-1)/2 candidate rows on ONE join key: a phrase in 10^6 docs
# ≈ 5·10^11 pairs). md5-uniformity of the key space bounds *placement*
# skew, not *frequency* skew, so the cap is load-bearing at crawl scale.
MAX_SHINGLE_DF = 1000


# --- shingles ----------------------------------------------------------------


def shingles(
    documents: DataFrame, max_df: int | None = MAX_SHINGLE_DF
) -> DataFrame:
    """(doc_id, shingle) — distinct 3-word shingles per doc; docs shorter
    than 3 words contribute their whole text as the single shingle.
    Shingles with document frequency > ``max_df`` are dropped (see
    MAX_SHINGLE_DF; pass None to disable).

    Scale shape of the cap: the df count is a groupBy with map-side
    partials (hot keys collapse before the shuffle), and the hot set is
    tiny under any Zipfian corpus, so AQE turns the anti-join into a
    broadcast; no forced-broadcast hint — the hot set is corpus-derived
    and its absolute size must stay AQE's decision.
    """
    documents = widen_for_compute(documents)
    words = F.split("text", " ")
    n = F.size(words)
    shingle_arr = F.when(
        n < SHINGLE_WORDS, F.array(F.col("text"))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - SHINGLE_WORDS),
            lambda i: F.array_join(F.slice(words, i + 1, SHINGLE_WORDS), " "),
        )
    )
    # outer + null-filter: a plain explode gets an inferred size()>0
    # filter that re-evaluates the shingle-array build per row
    sh = documents.select(
        "doc_id", F.explode_outer(F.array_distinct(shingle_arr)).alias("shingle")
    ).where(F.col("shingle").isNotNull())
    if max_df is None:
        return sh
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


SHINGLES_SQL_CTE = f"""
shingles_all AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT d.doc_id,
               CASE WHEN len(w.words) < 3 THEN d.text
                    ELSE array_to_string(list_slice(w.words, t.i + 1, t.i + 3), ' ')
               END AS shingle
        FROM documents d
        CROSS JOIN LATERAL (SELECT string_split(d.text, ' ') AS words) w
        CROSS JOIN LATERAL (
            SELECT UNNEST(range(CAST(greatest(len(w.words) - 2, 1) AS BIGINT))) AS i
        ) t
    )
),
shingles AS (
    SELECT doc_id, shingle FROM shingles_all
    QUALIFY count(*) OVER (PARTITION BY shingle) <= {MAX_SHINGLE_DF}
)
"""


# --- n-gram Jaccard ----------------------------------------------------------


def ngram_jaccard_pairs(documents: DataFrame, threshold: float = 0.3) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs sharing ≥1 shingle with exact
    Jaccard ≥ threshold. The shared-shingle equi-join IS the candidate
    generation — no O(n²) cross join ever materializes, and the
    MAX_SHINGLE_DF document-frequency cap inherited from
    :func:`shingles` bounds the per-key fan-out of the self-join to
    df(df-1)/2 ≤ ~5·10^5 rows, killing the hot-boilerplate skew bomb.
    Jaccard is computed over the capped shingle universe on BOTH the
    engine and oracle sides (dropped shingles count in neither the
    numerator nor the denominator).

    The join key is ``xxhash64(shingle)`` (8 bytes) rather than the
    shingle string (~25–40 bytes): the self-join shuffles both sides on
    the key, so the fixed-width hash cuts shuffle bytes ~4× at any
    scale. A 64-bit collision would merge two distinct shingles — at
    10^12 docs × ~10² shingles the birthday bound is ~10^-5 of one
    miscounted pair, far below the threshold granularity."""
    # persisted: referenced 3× (sizes + both self-join sides) — without
    # it the whole scan→explode→df-cap chain (including its groupBy
    # shuffle) re-executes per reference. The persisted rows are two
    # 8-byte ints per doc-shingle; at crawl scale this spills to local
    # disk, which is still far cheaper than two extra cap-shuffles.
    sh = tracked_persist(
        shingles(documents).select(
            "doc_id", F.xxhash64("shingle").alias("shingle")
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, on="shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    out = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


# sizes/common + the round-6 Jaccard expression, shared verbatim by
# NGRAM_JACCARD_SQL and minhash_recall_sql so the truth-set definition
# (df-capped shingles, a.doc_id < b.doc_id, round-6 threshold compare)
# has exactly one SQL source
_JACCARD_CTES = """
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM shingles GROUP BY doc_id),
common AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)"""

_JACCARD_EXPR = (
    "round(c.n_common / CAST(sa.n_shingles + sb.n_shingles - c.n_common"
    " AS DOUBLE), 6)"
)

NGRAM_JACCARD_SQL = (
    "WITH "
    + SHINGLES_SQL_CTE
    + ","
    + _JACCARD_CTES
    + f"""
SELECT c.doc_a, c.doc_b,
       {_JACCARD_EXPR} AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
WHERE {_JACCARD_EXPR} >= {{threshold}}
"""
)


# --- MinHash + LSH -----------------------------------------------------------


MINHASH_PRIME = 4294967291  # largest prime < 2^32


def minhash_signatures(documents: DataFrame) -> DataFrame:
    """(doc_id, mh_00..mh_15): 16 minhashes per doc — one groupBy over
    the shingle explode (single shuffle, map-side partials).

    ONE md5 per shingle, not 16: the hex digest's two 32-bit halves
    (a, b) seed a universal-hash family h_s = (a + s·b) mod p — the
    standard multiply-shift minhash construction. a + 15·b < 2^36, so
    the arithmetic can never overflow int64 under ANSI mode, and the
    mins aggregate over BIGINTs instead of 32-char strings (smaller
    partial-agg state, cheaper comparisons). Measured 16×-md5 → 1×:
    the signature build is the shared base of the lsh / estimate /
    neardup gates. a and b are staged columns: multi-referenced
    non-cheap trees survive CollapseProject, so the md5 runs once per
    shingle no matter how many of the 16 aggs reference them.
    """
    sh = shingles(documents)
    hashed = sh.select("doc_id", F.md5("shingle").alias("h"))
    ab = hashed.select(
        "doc_id",
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long").alias("a"),
        F.conv(F.substring("h", 9, 8), 16, 10).cast("long").alias("b"),
    )
    aggs = [
        F.min(
            (F.col("a") + F.lit(s) * F.col("b")) % F.lit(MINHASH_PRIME)
        ).alias(f"mh_{s:02d}")
        for s in range(N_MINHASH)
    ]
    return ab.groupBy("doc_id").agg(*aggs)


def lsh_bands(documents: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash): md5 of each 4-minhash band."""
    return bands_from_signatures(minhash_signatures(documents))


def bands_from_signatures(sig: DataFrame) -> DataFrame:
    rows_per_band = N_MINHASH // N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh_{b * rows_per_band + r:02d}")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", "band.band_idx", "band.band_hash"
    )


def minhash_lsh_candidates(documents: DataFrame) -> DataFrame:
    """(doc_a, doc_b): distinct pairs sharing ≥1 LSH band.

    The band table (4 compact rows per doc) is persisted: both sides of
    the self-join would otherwise re-run the shingle explode + signature
    groupBy."""
    bands = tracked_persist(lsh_bands(documents))
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, on=["band_idx", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def save_minhash_index(documents: DataFrame, path: str) -> None:
    """Persist the LSH band table of a corpus as a dedup INDEX.

    Incremental-ingest contract: dedup at 10¹²-doc scale is not
    re-run over the whole corpus per batch — the historical corpus is
    indexed ONCE (4 compact band rows per doc) and each new batch
    probes it. The shingle df-cap universe is the indexed corpus
    itself. Plain parquet here; a metastore deployment would
    ``bucketBy(band_hash).sortBy(band_hash).saveAsTable`` so probe
    joins are shuffle-free on the index side.
    """
    lsh_bands(documents).write.mode("overwrite").parquet(path)


def load_minhash_index(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def probe_minhash_index(index_bands: DataFrame, new_docs: DataFrame) -> DataFrame:
    """(doc_id, dup_of, n_shared_bands): near-dup matches of a NEW batch
    against an indexed corpus — doc_id is the new doc, dup_of the
    indexed doc, n_shared_bands the number of colliding LSH bands
    (1..N_BANDS; more bands ⇒ higher Jaccard, ≥1 is the usual drop
    rule).

    Scale shape: the new batch is an ingest batch — bounded by contract
    (≪ corpus) — so its band table is BROADCAST into a streamed scan of
    the index: the 4×10¹²-row index side never shuffles, and per-ingest
    cost is one index scan. The batch computes its df cap over itself
    (each ingest is its own skew universe; the cap kills hot
    boilerplate, it is not part of the match semantics).
    """
    probe = F.broadcast(lsh_bands(new_docs))
    return (
        probe.alias("p")
        .join(index_bands.alias("x"), ["band_idx", "band_hash"])
        .select(
            F.col("p.doc_id").alias("doc_id"),
            F.col("x.doc_id").alias("dup_of"),
            F.col("band_idx"),
        )
        .groupBy("doc_id", "dup_of")
        .agg(F.countDistinct("band_idx").alias("n_shared_bands"))
    )


BUCKETED_INDEX_BUCKETS = 8


def save_minhash_index_bucketed(
    documents: DataFrame,
    table_name: str,
    path: str,
    n_buckets: int = BUCKETED_INDEX_BUCKETS,
) -> None:
    """Persist the LSH band table as a BUCKETED catalog table
    (``bucketBy(n, band_idx, band_hash)``), data at ``path``.

    This is the deployed form of :func:`save_minhash_index` for
    corpus-vs-corpus work (full-corpus candidate generation, periodic
    re-dedup): every downstream equi-join on (band_idx, band_hash) —
    self-joins included — reads each side already hash-partitioned on
    the join keys, so the sort-merge join plans with ZERO Exchange.
    At 10¹² docs the band table is 4×10¹² rows; a shuffle of it is the
    single largest network event a re-dedup would pay, and bucketing
    deletes it from every run after the first. (The broadcast-probe
    path in :func:`probe_minhash_index` stays the right shape for
    small ingest batches; bucketing is for big-side×big-side.)

    ``sortBy`` the same keys: files arrive sorted, so the SMJ's
    per-partition sort is a cheap near-sorted pass.
    """
    spark = documents.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    (
        lsh_bands(documents)
        .write.format("parquet")
        .bucketBy(n_buckets, "band_idx", "band_hash")
        .sortBy("band_idx", "band_hash")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table_name)
    )


def bucketed_band_pairs(spark, table_name: str) -> DataFrame:
    """(doc_a, doc_b): LSH candidate pairs from a bucketed band table's
    SELF-join — output-identical to :func:`minhash_lsh_candidates`,
    physically shuffle-free: both sides of the join are the same
    bucketed scan, already partitioned on the join keys (pinned by
    tests/test_physical_plans.py: zero Exchange below the join)."""
    bands = spark.table(table_name)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, on=["band_idx", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def _bands_cte_sql(
    prefix: str, doc_filter: str, text_expr: str = "d.text"
) -> str:
    """Prefixed shingles→sig→bands CTE chain over filtered documents —
    the oracle twin of ``lsh_bands`` on a corpus subset (df cap scoped
    to the subset, matching the engine's per-side universes).
    ``text_expr`` lets a side shingle a DERIVED text (the snapshot
    gate's prior-revision column) instead of the stored one."""
    band_rows = []
    rows_per_band = N_MINHASH // N_BANDS
    for b in range(N_BANDS):
        cols = " || ',' || ".join(
            f"CAST(mh_{b * rows_per_band + r:02d} AS VARCHAR)"
            for r in range(rows_per_band)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band_idx, md5({cols}) AS band_hash "
            f"FROM {prefix}_sig"
        )
    return f"""
{prefix}_shingles_all AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT d.doc_id,
               CASE WHEN len(w.words) < 3 THEN {text_expr}
                    ELSE array_to_string(list_slice(w.words, t.i + 1, t.i + 3), ' ')
               END AS shingle
        FROM documents d
        CROSS JOIN LATERAL (SELECT string_split({text_expr}, ' ') AS words) w
        CROSS JOIN LATERAL (
            SELECT UNNEST(range(CAST(greatest(len(w.words) - 2, 1) AS BIGINT))) AS i
        ) t
        WHERE {doc_filter}
    )
),
{prefix}_shingles AS (
    SELECT doc_id, shingle FROM {prefix}_shingles_all
    QUALIFY count(*) OVER (PARTITION BY shingle) <= {MAX_SHINGLE_DF}
),
{prefix}_sig AS (
    SELECT doc_id,
           {_minhash_sql_aggs()}
    FROM {prefix}_shingles GROUP BY doc_id
),
{prefix}_bands AS (
    {" UNION ALL ".join(band_rows)}
)"""


INDEX_DOC_MOD = 2  # gate split: even doc_ids are indexed, odd ids probe


def minhash_jaccard_estimate(documents: DataFrame) -> DataFrame:
    """(doc_a, doc_b, est_jaccard): sketch-estimated Jaccard for LSH
    candidate pairs — matching minhash count / 16.

    The signature table (one 16-hash row per doc) is PERSISTED and
    reused by all four references — both band-join sides and both
    estimate joins; unpersisted, each reference re-runs the shingle
    explode + signature groupBy (measured 4.4 s → 2.5 s at sf0.1). The
    candidate join and the two signature joins all key on doc ids /
    band hashes — uniform, broadcast-able when the candidate set is
    small.
    """
    sig = tracked_persist(minhash_signatures(documents))
    bands = bands_from_signatures(sig)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, on=["band_idx", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{s:02d}").alias(f"a_{s:02d}") for s in range(N_MINHASH)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{s:02d}").alias(f"b_{s:02d}") for s in range(N_MINHASH)],
    )
    matches = sum(
        F.when(F.col(f"a_{s:02d}") == F.col(f"b_{s:02d}"), 1).otherwise(0)
        for s in range(N_MINHASH)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(matches / F.lit(float(N_MINHASH)), 6).alias("est_jaccard"),
        )
    )


def _minhash_est_sql_sum() -> str:
    return " + ".join(
        f"CASE WHEN sa.mh_{s:02d} = sb.mh_{s:02d} THEN 1 ELSE 0 END"
        for s in range(N_MINHASH)
    )


def exact_dup_clusters(documents: DataFrame) -> DataFrame:
    """(doc_id, canonical_doc_id): every doc mapped to the min doc_id of
    its exact-content cluster — the *apply* step of exact dedup (keep row
    where doc_id = canonical_doc_id, or rewrite references).

    One window over the md5 content hash: a single shuffle on a uniform
    key; no join, no second pass over the text.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5("text"))
    return documents.select(
        "doc_id", F.min("doc_id").over(w).alias("canonical_doc_id")
    )


EXACT_DUP_CLUSTERS_SQL = """
SELECT doc_id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_doc_id
FROM documents
"""


def _minhash_sql_aggs() -> str:
    a = "CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT)"
    b = "CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT)"
    return ",\n           ".join(
        f"min(({a} + {s} * {b}) % {MINHASH_PRIME}) AS mh_{s:02d}"
        for s in range(N_MINHASH)
    )


# the WITH-prefix (shingles → sig → bands) shared by the LSH pair query
# and the candidate-pair CTEs below
_MINHASH_BANDS_CTES = (
    "WITH "
    + SHINGLES_SQL_CTE
    + f""",
sig AS (
    SELECT doc_id,
           {_minhash_sql_aggs()}
    FROM shingles GROUP BY doc_id
),
bands AS (
    SELECT doc_id, 0 AS band_idx, md5(CAST(mh_00 AS VARCHAR) || ',' || CAST(mh_01 AS VARCHAR) || ',' || CAST(mh_02 AS VARCHAR) || ',' || CAST(mh_03 AS VARCHAR)) AS band_hash FROM sig
    UNION ALL
    SELECT doc_id, 1, md5(CAST(mh_04 AS VARCHAR) || ',' || CAST(mh_05 AS VARCHAR) || ',' || CAST(mh_06 AS VARCHAR) || ',' || CAST(mh_07 AS VARCHAR)) FROM sig
    UNION ALL
    SELECT doc_id, 2, md5(CAST(mh_08 AS VARCHAR) || ',' || CAST(mh_09 AS VARCHAR) || ',' || CAST(mh_10 AS VARCHAR) || ',' || CAST(mh_11 AS VARCHAR)) FROM sig
    UNION ALL
    SELECT doc_id, 3, md5(CAST(mh_12 AS VARCHAR) || ',' || CAST(mh_13 AS VARCHAR) || ',' || CAST(mh_14 AS VARCHAR) || ',' || CAST(mh_15 AS VARCHAR)) FROM sig
)
"""
)

MINHASH_LSH_SQL = (
    _MINHASH_BANDS_CTES
    + """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""
)

MINHASH_INDEX_SQL = (
    "WITH "
    + _bands_cte_sql("hist", f"d.doc_id % {INDEX_DOC_MOD} = 0")
    + ","
    + _bands_cte_sql("new", f"d.doc_id % {INDEX_DOC_MOD} = 1")
    + """
SELECT p.doc_id, x.doc_id AS dup_of,
       CAST(count(DISTINCT p.band_idx) AS BIGINT) AS n_shared_bands
FROM new_bands p JOIN hist_bands x
  ON p.band_idx = x.band_idx AND p.band_hash = x.band_hash
GROUP BY p.doc_id, x.doc_id
"""
)

_MINHASH_CAND_CTES = _MINHASH_BANDS_CTES + """,
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
"""

MINHASH_ESTIMATE_SQL = (
    _MINHASH_CAND_CTES
    + f"""
SELECT c.doc_a, c.doc_b,
       round(({_minhash_est_sql_sum()}) / 16.0, 6) AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
"""
)


# --- SimHash -----------------------------------------------------------------

_HEX = "0123456789abcdef"
SIMHASH_BANDS = 8  # 8 bands × 4 nibbles = 16 bits per band
MAX_HAMMING = 7  # pigeonhole: ≤7 differing bits touch ≤7 of 8 bands →
#                  every qualifying pair is guaranteed to share a band
# Packing bound for the quad-lane counters: fingerprint the first
# MAX_SIMHASH_TOKENS tokens of each doc so every 16-bit lane's sum stays
# < 2^16. ~400 KB of text — beyond it, prefix fingerprinting is standard
# near-dup practice (mirrored in SIMHASH_SQL so the oracle pairs at any
# doc size).
MAX_SIMHASH_TOKENS = 65_000
_LANE_MUL = 1 + (1 << 12) + (1 << 24) + (1 << 36)  # bit spreader: 0/4/8/12 → lanes
_LANE_MASK = 0x0001_0001_0001_0001  # keep lane-bottom bits only


def simhash(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash): 128-bit hex fingerprint.

    Token-frequency-weighted simhash over the 128 bits of each token's
    md5: bit b of the fingerprint is 1 iff the weighted sum of
    (±token_count) over tokens is positive — equivalently (the form
    computed here) iff 2·Σcnt[bit set] > Σcnt, which needs only
    NON-NEGATIVE partial sums and so packs FOUR 16-bit counters per
    64-bit aggregate without sign handling.

    Plan shape: one row per token instance with md5 staged ONCE as a
    real column, the 8 16-bit words decoded with conv() (integer
    codegen), each word spread into 4 packed lane columns with ONE
    shift+mask+multiply (bits r, 4+r, 8+r, 12+r land in 16-bit lanes
    0/16/32/48 — the classic bit-spread multiplier), and ONE
    groupBy(doc_id) carrying 33 simple column sums (32 quad counters +
    the token total). Lanes are precomputed in the projection, so the
    aggregate updates are plain ``sum(col)`` — small generated code,
    map-side partials, all whole-stage codegen.

    Packing bound: a 16-bit lane holds Σcnt over one doc, so the doc's
    token count must stay < 2¹⁶. ``MAX_SIMHASH_TOKENS`` (65 000)
    enforces that by fingerprinting the first 65 000 tokens (~400 KB of
    text) of oversized docs — a deliberate, documented prefix semantic
    (mirrored in SIMHASH_SQL via list_slice) that makes the packing
    overflow-free by construction instead of silently wrapping.

    The wide projections (32 lane columns, 32 nibble decodes) are built
    as SQL expression STRINGS via ``selectExpr``, not Column-object
    trees: per-operator Column construction crosses py4j once per node
    (~1 000 round trips here) and measured 2.3 s of driver time per
    build — string parsing of the identical expressions is ~0.1 s and
    produces the same analyzed plan.
    """
    # per token INSTANCE (cnt = 1): summing ±1 over instances equals
    # summing ±cnt over distinct (doc, token) — which removes the
    # (doc_id, token) pre-aggregation SHUFFLE entirely; the one remaining
    # groupBy(doc_id) collapses map-side to one row per doc per partition
    tokens = widen_for_compute(documents).select(
        "doc_id",
        F.explode_outer(
            F.slice(F.split("text", " "), 1, MAX_SIMHASH_TOKENS)
        ).alias("token"),
    ).where(F.col("token").isNotNull())
    words = tokens.select(
        "doc_id", F.md5("token").alias("h")
    ).selectExpr(
        "doc_id",
        *[
            f"CAST(conv(substring(h, {b * 4 + 1}, 4), 16, 10) AS BIGINT) AS w{b}"
            for b in range(SIMHASH_BANDS)
        ],
    )
    # spread word bits {r, 4+r, 8+r, 12+r} into 16-bit lanes {0,1,2,3}:
    # ((w >> r) & 0x1111) puts them at bits 0/4/8/12; multiplying by
    # (1 + 2^12 + 2^24 + 2^36) slides each to its lane bottom and the
    # lane mask drops every cross term (they never collide — checked
    # exhaustively in tests/test_dedup_skew.py::test_simhash_lane_spread)
    lanes = [
        f"((shiftright(w{b}, {r}) & 4369)"  # 4369 = 0x1111
        f" * {_LANE_MUL}) & {_LANE_MASK} AS l{b}_{r}"
        for b in range(SIMHASH_BANDS)
        for r in range(4)
    ]
    pre = words.selectExpr("doc_id", "CAST(1 AS BIGINT) AS cnt", *lanes)
    sums = pre.groupBy("doc_id").agg(
        *[
            F.sum(f"l{b}_{r}").alias(f"p{b}_{r}")
            for b in range(SIMHASH_BANDS)
            for r in range(4)
        ],
        F.sum("cnt").alias("_tot"),
    )

    def counter_sql(pos: int, bit: int) -> str:
        # hex position pos (MSB-first) is word pos//4, nibble slot
        # pos%4; word bit 4*(3 - pos%4) + bit lives in lane 3 - pos%4
        # of aggregate p{word}_{bit}
        b, k = divmod(pos, 4)
        return f"(shiftright(p{b}_{bit}, {16 * (3 - k)}) & 65535)"

    nib_chars = [
        f"substring('{_HEX}', CAST("
        + " + ".join(
            f"(CASE WHEN 2 * {counter_sql(pos, bit)} > _tot"
            f" THEN {2 ** bit} ELSE 0 END)"
            for bit in range(4)
        )
        + " AS INT) + 1, 1)"
        for pos in range(32)
    ]
    return sums.selectExpr(
        "doc_id", "concat(" + ", ".join(nib_chars) + ") AS simhash"
    )


SIMHASH_SQL = f"""
WITH tokens AS (
    SELECT doc_id, token, count(*) AS cnt FROM (
        SELECT doc_id,
               UNNEST(list_slice(string_split(text, ' '), 1, {MAX_SIMHASH_TOKENS})) AS token
        FROM documents
    ) GROUP BY doc_id, token
),
pos AS (
    SELECT t.doc_id, t.cnt, p.pos,
           instr('0123456789abcdef', substr(md5(t.token), p.pos, 1)) - 1 AS nibble
    FROM tokens t
    CROSS JOIN LATERAL (SELECT UNNEST(range(1, 33)) AS pos) p
),
bits AS (
    SELECT doc_id, pos, b.bit,
           CASE WHEN CAST(floor(nibble / power(2, b.bit)) AS INT) % 2 = 1
                THEN cnt ELSE -cnt END AS w
    FROM pos
    CROSS JOIN LATERAL (SELECT UNNEST(range(0, 4)) AS bit) b
),
nibbles AS (
    SELECT doc_id, pos, CAST(sum(bitval * CAST(power(2, bit) AS INT)) AS INT) AS nib
    FROM (
        SELECT doc_id, pos, bit, CASE WHEN sum(w) > 0 THEN 1 ELSE 0 END AS bitval
        FROM bits GROUP BY doc_id, pos, bit
    ) GROUP BY doc_id, pos
)
SELECT doc_id,
       string_agg(substr('0123456789abcdef', nib + 1, 1), '' ORDER BY pos) AS simhash
FROM nibbles GROUP BY doc_id
"""


# --- SimHash hamming near-dup pairs ------------------------------------------

def _words_expr(sim) -> list:
    """The 8 16-bit words of a 32-nibble hex fingerprint as int columns
    (conv is JVM codegen; 16 bits never overflows int)."""
    return [
        F.conv(F.substring(sim, b * 4 + 1, 4), 16, 10).cast("int")
        for b in range(SIMHASH_BANDS)
    ]


def _hamming_words(wa, wb):
    """Bit-level hamming distance from two 8×16-bit word arrays:
    Σ bit_count(xor) — pure integer codegen, no lambdas, no strings."""
    return sum(
        F.bit_count(
            F.element_at(wa, b + 1).bitwiseXOR(F.element_at(wb, b + 1))
        )
        for b in range(SIMHASH_BANDS)
    ).cast("int")


def simhash_pairs(documents: DataFrame, max_hamming: int = MAX_HAMMING) -> DataFrame:
    """(doc_a, doc_b, hamming): near-dup pairs with simhash hamming
    distance ≤ ``max_hamming`` bits (of 128).

    Scale path, two-level: (1) hamming runs on DISTINCT FINGERPRINT
    pairs, not doc pairs — exact-duplicate clusters (the common case in
    a crawl) collapse to one fingerprint, so the ~128-string-op popcount
    is O(distinct-fp candidate pairs), while the final doc-level
    expansion is a cheap equi-join on the fingerprint. (2) fingerprint
    candidates come from an equi-join on 16-bit bands (8 bands), never a
    cross join; with ``max_hamming ≤ 7`` band recall is *exact* by
    pigeonhole — ≤7 differing bits cannot touch all 8 bands. The
    fingerprint table is persisted: it feeds the band join and both
    sides of the expansion (at production scale it would be a
    checkpointed Iceberg table).
    """
    sims = tracked_persist(simhash(documents))
    # the distinct-fingerprint table is persisted too: it feeds both
    # sides of the band self-join, and under AQE the two sides do NOT
    # hit ReuseExchange (measured: dropping this persist recomputes the
    # distinct twice, +0.5 s at sf0.1; at production scale both sims and
    # fps would be checkpointed Iceberg tables between stages)
    fps = tracked_persist(
        sims.select("simhash")
        .distinct()
        .select("simhash", F.array(*_words_expr(F.col("simhash"))).alias("w"))
    )
    bands = fps.select(
        "simhash", "w", F.posexplode("w").alias("band_idx", "band_val")
    )
    a, b = bands.alias("a"), bands.alias("b")
    wa, wb = F.col("a.w"), F.col("b.w")
    # first-matching-band dedup (classic LSH): keep a candidate row only
    # when no EARLIER band also matches — every fingerprint pair survives
    # exactly once, with no distinct/shuffle. Arithmetic form: build the
    # 8-bit matched-bands bitmap once (8 comparisons) and require all
    # bits below band_idx clear — O(bands) generated code instead of the
    # O(bands²) static AND-chain this replaced, same codegen-friendly
    # integer ops.
    matched = sum(
        (F.element_at(wa, i + 1) == F.element_at(wb, i + 1)).cast("int")
        * F.lit(1 << i)
        for i in range(SIMHASH_BANDS)
    )
    earlier_mask = F.element_at(
        F.array(*[F.lit((1 << i) - 1) for i in range(SIMHASH_BANDS)]),
        F.col("band_idx") + 1,
    )
    fp_pairs = (
        a.join(b, on=["band_idx", "band_val"])
        .where(F.col("a.simhash") <= F.col("b.simhash"))
        .where(matched.bitwiseAND(earlier_mask) == 0)
        .select(
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
            _hamming_words(wa, wb).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    da = sims.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    db = sims.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"))
    # orientation: for sim_a < sim_b each unordered doc pair appears once
    # (one doc from each group) — canonicalize with least/greatest; for
    # sim_a = sim_b the self-join yields both orders — keep doc_a < doc_b
    return (
        fp_pairs.join(da, "sim_a")
        .join(db, "sim_b")
        .where(
            (F.col("sim_a") != F.col("sim_b"))
            | (F.col("doc_a") < F.col("doc_b"))
        )
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            "hamming",
        )
    )


SIMHASH_PAIRS_SQL = (
    "WITH sim AS ("
    + SIMHASH_SQL
    + """),
bands AS (
    SELECT doc_id, simhash, b.band_idx,
           substr(simhash, b.band_idx * 4 + 1, 4) AS band_val
    FROM sim
    CROSS JOIN LATERAL (SELECT UNNEST(range(0, 8)) AS band_idx) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sim_a, b.simhash AS sim_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
),
ham AS (
    SELECT doc_a, doc_b,
           CAST((
               SELECT sum(CAST(substr('0112122312232334',
                   xor(instr('0123456789abcdef', substr(sim_a, CAST(i AS INT), 1)) - 1,
                       instr('0123456789abcdef', substr(sim_b, CAST(i AS INT), 1)) - 1) + 1,
                   1) AS INT))
               FROM range(1, 33) t(i)
           ) AS INT) AS hamming
    FROM cand
)
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= {max_hamming}
"""
)


# --- winnowing fingerprints ---------------------------------------------------


def winnow_fingerprints(documents: DataFrame, window: int = 4) -> DataFrame:
    """(doc_id, fingerprint): distinct winnowed shingle-hash minima —
    classic document fingerprinting (Schleimer et al., SIGMOD'03 style):
    hash every 3-word shingle, slide a window of 4, keep each window's
    minimum, dedup.

    Implemented as a window-function sliding min over the exploded
    (doc_id, pos, hash) rows. An earlier array-local formulation
    (array_min over slice() per position) was 25× slower: Catalyst
    inlines the hash-array subexpression into every window position, so
    codegen went O(n²) per document. The explode + window form hashes
    each shingle exactly once; the one shuffle keys on doc_id (uniform)."""
    from pyspark.sql.window import Window

    documents = widen_for_compute(documents)
    words = F.split("text", " ")
    n = F.size(words)
    shingle_arr = F.when(n < SHINGLE_WORDS, F.array(F.col("text"))).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - SHINGLE_WORDS),
            lambda i: F.array_join(F.slice(words, i + 1, SHINGLE_WORDS), " "),
        )
    )
    hashed = (
        documents.select(
            "doc_id", F.posexplode_outer(shingle_arr).alias("pos", "shingle")
        )
        .where(F.col("shingle").isNotNull())
        .select("doc_id", "pos", F.md5("shingle").alias("h"))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        hashed.select("doc_id", F.min("h").over(w).alias("fingerprint"))
        .distinct()
    )


WINNOW_SQL = (
    """
WITH raw_shingles AS (
    SELECT d.doc_id, t.i,
           CASE WHEN len(w.words) < 3 THEN d.text
                ELSE array_to_string(list_slice(w.words, t.i + 1, t.i + 3), ' ')
           END AS shingle
    FROM documents d
    CROSS JOIN LATERAL (SELECT string_split(d.text, ' ') AS words) w
    CROSS JOIN LATERAL (
        SELECT UNNEST(range(CAST(greatest(len(w.words) - 2, 1) AS BIGINT))) AS i
    ) t
)"""
    + """,
hashes AS (SELECT doc_id, i, md5(shingle) AS h FROM raw_shingles),
mins AS (
    SELECT doc_id,
           min(h) OVER (
               PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
           ) AS fingerprint
    FROM hashes
)
SELECT DISTINCT doc_id, fingerprint FROM mins
"""
)


# --- near-dup connected components (the dedup apply step) -------------------


def neardup_clusters(documents: DataFrame, max_iters: int = 25) -> DataFrame:
    """(doc_id, cluster_id): connected components over the MinHash-LSH
    candidate graph — every doc labeled with the min doc_id reachable
    through near-dup edges. The *apply* step of near-dedup: keep one doc
    per cluster_id (or weight-sample within it).

    Iterative distributed label propagation with POINTER JUMPING: each
    round a node takes the min of (its label, its neighbors' labels,
    its label's label). The third term is path compression — a chain of
    transitive near-dups converges in O(log n) rounds instead of
    O(chain length), the property that makes the loop viable when a
    boilerplate family forms a 10⁶-doc chain. Each round is two
    shuffles on uniform keys; lineage is truncated per round with an
    eager localCheckpoint (25 stacked joins would otherwise blow plan
    compilation long before data cost matters).

    Raises RuntimeError if not converged in ``max_iters`` — silently
    returning half-merged clusters would corrupt the dedup downstream.
    """
    return connected_components(
        documents.select("doc_id"), minhash_lsh_candidates(documents), max_iters
    )


def connected_components(
    nodes: DataFrame, pairs: DataFrame, max_iters: int = 25
) -> DataFrame:
    """Generic distributed connected components: ``nodes(doc_id)``,
    ``pairs(doc_a, doc_b)`` → (doc_id, cluster_id = min reachable id).
    See :func:`neardup_clusters` for the algorithm and scale notes."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint()
    )
    labels = nodes.select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).localCheckpoint()

    for _ in range(max_iters):
        nbr = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy("dst")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        jumped = labels.alias("a").join(
            labels.select(
                F.col("doc_id").alias("_ptr"), F.col("cluster_id").alias("jump_min")
            ),
            F.col("a.cluster_id") == F.col("_ptr"),
        ).select("a.doc_id", "jump_min")
        new = (
            labels.join(nbr, labels.doc_id == nbr.dst, "left")
            .join(jumped, "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce("nbr_min", F.col("cluster_id")),
                    F.coalesce("jump_min", F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            return labels.select("doc_id", "cluster_id")
    raise RuntimeError(
        f"connected_components did not converge in {max_iters} rounds — "
        "pathological graph; raise max_iters"
    )


# Oracle: exact transitive closure of the same candidate graph (tiny at
# gate scale; recursive UNION deduplicates, so it terminates).
NEARDUP_CLUSTERS_SQL = (
    _MINHASH_CAND_CTES
    + """,
sym_edges AS (
    SELECT doc_a AS s, doc_b AS d FROM cand
    UNION
    SELECT doc_b, doc_a FROM cand
),
reach AS (
    WITH RECURSIVE r(s, d) AS (
        SELECT s, d FROM sym_edges
        UNION
        SELECT r.s, e.d FROM r JOIN sym_edges e ON r.d = e.s
    )
    SELECT s, d FROM r
),
minreach AS (SELECT s AS doc_id, min(d) AS m FROM reach GROUP BY s)
SELECT doc.doc_id,
       CAST(least(coalesce(mr.m, doc.doc_id), doc.doc_id) AS BIGINT) AS cluster_id
FROM documents doc LEFT JOIN minreach mr ON doc.doc_id = mr.doc_id
"""
)


def neardup_canonical(documents: DataFrame, max_iters: int = 25) -> DataFrame:
    """(doc_id, cluster_id, canonical_id, keep): per near-dup cluster,
    keep the LONGEST document (tiebreak lowest doc_id) — the quality-
    prior apply step used by production curation stacks (near-dups are
    usually truncations/boilerplate-wrapped copies of one best page;
    min-id keep throws the best copy away whenever it isn't first).

    Scale shape: the per-cluster argmax is a ``max(struct(...))``
    groupBy — map-side partial aggregation, so a 10⁶-doc boilerplate
    cluster contributes ONE row per input partition to the shuffle, not
    10⁶ (a row_number window over cluster_id would move them all).
    NULL text scores as -1 so both engines order it below empty text.
    """
    labels = neardup_clusters(documents, max_iters)
    scored = labels.join(
        documents.select(
            "doc_id",
            F.coalesce(F.length("text"), F.lit(-1)).alias("n_chars"),
        ),
        "doc_id",
    )
    best = (
        scored.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("n_chars"),
                    (-F.col("doc_id")).alias("_neg_id"),
                    F.col("doc_id").alias("_id"),
                )
            ).alias("b")
        )
        .select("cluster_id", F.col("b._id").alias("canonical_id"))
    )
    return scored.join(best, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("keep"),
    )


NEARDUP_CANONICAL_SQL = f"""
WITH clusters AS ({NEARDUP_CLUSTERS_SQL}),
scored AS (
    SELECT c.doc_id, c.cluster_id,
           coalesce(length(d.text), -1) AS n_chars
    FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
),
best AS (
    SELECT cluster_id, doc_id AS canonical_id FROM (
        SELECT cluster_id, doc_id,
               row_number() OVER (
                   PARTITION BY cluster_id
                   ORDER BY n_chars DESC, doc_id
               ) AS rn
        FROM scored
    ) WHERE rn = 1
)
SELECT s.doc_id, s.cluster_id,
       CAST(b.canonical_id AS BIGINT) AS canonical_id,
       s.doc_id = b.canonical_id AS keep
FROM scored s JOIN best b ON s.cluster_id = b.cluster_id
"""


# --- cross-document duplicated passages --------------------------------------

# Passage granularity: a duplicated region is detected as a run of
# overlapping/adjacent 5-word shingles that each occur in >= 2 distinct
# documents — the shingle-granular approximation of exact substring
# dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
# Models Better": their suffix-array pass finds >= 50-char exact
# repeats; at cluster scale the shingle/island formulation is the
# shuffle-friendly equivalent).
PASSAGE_WORDS = 5


def duplicate_passages(
    documents: DataFrame, k: int = PASSAGE_WORDS
) -> DataFrame:
    """(doc_id, start_word, end_word, n_words, passage): maximal word
    ranges of cross-document duplicated text.

    A position contributes when its ``k``-word shingle occurs in >= 2
    DISTINCT documents; overlapping or exactly-adjacent contributing
    ranges merge into one passage (gaps-and-islands over a per-doc
    window). Docs shorter than ``k`` words cannot carry a passage at
    this granularity and are skipped.

    Scale shape — deliberately NO document-frequency cap and NO pair
    join: boilerplate (the hottest shingles) is exactly the signal
    here, and every stage stays linear in the number of occurrences:

    * df count: distinct (h, doc_id) shuffles on the COMPOSITE key, so
      a shingle in 10^6 docs spreads over the whole cluster before the
      groupBy(h) partials collapse it;
    * membership: LEFT SEMI join occurrence->dup-set — each occurrence
      row emits at most one row, never the d(d-1)/2 blowup a pair join
      would;
    * islands: lag + running-sum windows over (doc_id, pos) — one
      doc_id-keyed shuffle; the groupBy(doc_id, island) and the final
      text join reuse that partitioning (subset-key clustering).

    The 16-hex-char md5 prefix join key is mirrored verbatim in the
    DuckDB oracle, so any (astronomically unlikely) collision yields
    identical output in both engines.
    """
    documents = widen_for_compute(documents)
    merged = _passage_ranges(documents, k)
    n_words = F.col("end_word") - F.col("start_word") + 1
    return (
        merged.join(documents.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id",
            F.col("start_word").cast("int").alias("start_word"),
            F.col("end_word").cast("int").alias("end_word"),
            n_words.cast("int").alias("n_words"),
            F.array_join(
                F.slice(
                    F.split("text", " "), F.col("start_word") + 1, n_words
                ),
                " ",
            ).alias("passage"),
        )
    )


def _passage_ranges(documents: DataFrame, k: int) -> DataFrame:
    """(doc_id, start_word, end_word): the merged maximal duplicated
    word ranges — the shared range stage of :func:`duplicate_passages`
    (which adds the passage text) and :func:`passage_scrub` (which
    removes the ranges). ``documents`` must already be widened."""
    from pyspark.sql.window import Window

    words = F.split("text", " ")
    n = F.size(words)
    arr = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.array_join(F.slice(words, i + 1, k), " "),
    )
    sh = (
        documents.where(n >= k)
        .select("doc_id", F.posexplode_outer(arr).alias("pos", "shingle"))
        .where(F.col("shingle").isNotNull())
        .select(
            "doc_id", "pos", F.substring(F.md5("shingle"), 1, 16).alias("h")
        )
    )
    sh = tracked_persist(sh)
    dup = (
        sh.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= 2)
        .select("h")
    )
    hits = sh.join(dup, "h", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    lag_pos = F.lag("pos").over(w)
    flagged = hits.select(
        "doc_id",
        "pos",
        F.when(lag_pos.isNull() | (F.col("pos") - lag_pos > k), 1)
        .otherwise(0)
        .alias("flag"),
    )
    islands = flagged.select(
        "doc_id",
        "pos",
        F.sum("flag")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("start_word"),
        (F.max("pos") + F.lit(k - 1)).alias("end_word"),
    )


def passage_scrub(documents: DataFrame, k: int = PASSAGE_WORDS) -> DataFrame:
    """(doc_id, n_words_removed, scrubbed_len, scrubbed_md5): the ACT
    stage of exact-substring dedup — every document rewritten with its
    cross-document duplicated word ranges REMOVED (the removal step of
    Lee et al. 2022's "Deduplicating Training Data Makes Language
    Models Better"; :func:`duplicate_passages` is the find stage).

    Semantics: a word at 0-based position ``i`` is dropped iff some
    merged duplicated range covers it; remaining words re-join with
    single spaces. Docs with no duplicated passages pass through with
    ``n_words_removed = 0``; a fully-duplicated doc scrubs to the empty
    string (downstream curation drops empties). The scrubbed text is
    emitted as md5 + length, not the full string — the gate compares
    content identity without hauling the corpus through the driver.

    Scale shape: the range table (dup docs only, islands are merged so
    ranges-per-doc is tiny) aggregates per doc and LEFT-joins back on
    doc_id — one shuffle keyed on the uniform doc id; the word filter
    itself is array-local (nested HOF: filter-with-index × exists over
    the doc's own range list), zero additional exchange. The ``_kept``/
    ``_scrubbed`` intermediates are STAGED as real columns: the
    projection is lambda-bearing (CodegenFallback, no subexpression
    elimination), so an inline tree would re-run the O(words×ranges)
    filter once per consumer (the with_language lesson,
    functions/text.py).
    """
    documents = widen_for_compute(documents)
    ranges = (
        _passage_ranges(documents, k)
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("start_word").cast("int").alias("s"),
                    F.col("end_word").cast("int").alias("e"),
                )
            ).alias("_rs")
        )
    )
    j = documents.select("doc_id", "text").join(ranges, "doc_id", "left")
    words = F.split("text", " ")
    rs = F.coalesce(
        F.col("_rs"), F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
    )
    j = j.withColumn(
        "_kept",
        F.filter(
            words,
            lambda w, i: ~F.exists(rs, lambda r: (i >= r.s) & (i <= r.e)),
        ),
    )
    j = j.withColumn("_scrubbed", F.array_join(F.col("_kept"), " "))
    return j.select(
        "doc_id",
        (F.size(words) - F.size(F.col("_kept")))
        .cast("int")
        .alias("n_words_removed"),
        F.length(F.col("_scrubbed")).cast("int").alias("scrubbed_len"),
        F.md5(F.col("_scrubbed").cast("binary")).alias("scrubbed_md5"),
    )


# Shared CTE prefix (positional shingles -> duplicated hash islands ->
# merged word ranges) composed into BOTH passages oracles below — a
# named constant rather than string-splitting one SQL to build the
# other, so a projection reword can't silently malform the scrub oracle.
_PASSAGES_CTES = """
WITH pos_sh AS (
    SELECT d.doc_id, t.i AS pos,
           substr(md5(array_to_string(list_slice(w.words, t.i + 1, t.i + {k}), ' ')), 1, 16) AS h
    FROM documents d
    CROSS JOIN LATERAL (SELECT string_split(d.text, ' ') AS words) w
    CROSS JOIN LATERAL (
        SELECT UNNEST(range(CAST(len(w.words) - {k} + 1 AS BIGINT))) AS i
    ) t
    WHERE len(w.words) >= {k}
),
dup AS (
    SELECT h FROM (SELECT DISTINCT h, doc_id FROM pos_sh)
    GROUP BY h HAVING count(*) >= 2
),
hits AS (
    SELECT p.doc_id, p.pos FROM pos_sh p JOIN dup USING (h)
),
flagged AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                  OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {k}
                THEN 1 ELSE 0 END AS flag
    FROM hits
),
islands AS (
    SELECT doc_id, pos,
           sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
),
merged AS (
    SELECT doc_id, min(pos) AS start_word, max(pos) + {k} - 1 AS end_word
    FROM islands GROUP BY doc_id, island
)
"""

DUPLICATE_PASSAGES_SQL = (
    _PASSAGES_CTES
    + """
SELECT m.doc_id,
       CAST(m.start_word AS INT) AS start_word,
       CAST(m.end_word AS INT) AS end_word,
       CAST(m.end_word - m.start_word + 1 AS INT) AS n_words,
       array_to_string(list_slice(string_split(d.text, ' '),
                                  m.start_word + 1, m.end_word + 1), ' ') AS passage
FROM merged m JOIN documents d USING (doc_id)
"""
)

PASSAGE_SCRUB_SQL = (
    _PASSAGES_CTES
    + """,
ranges AS (
    SELECT doc_id,
           list(struct_pack(s := CAST(start_word AS INT),
                            e := CAST(end_word AS INT))) AS rs
    FROM merged GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(w.words) - len(kept.ws) AS INT) AS n_words_removed,
       CAST(length(sc.s) AS INT) AS scrubbed_len,
       md5(sc.s) AS scrubbed_md5
FROM documents d
CROSS JOIN LATERAL (SELECT string_split(d.text, ' ') AS words) w
LEFT JOIN ranges r USING (doc_id)
CROSS JOIN LATERAL (
    SELECT [w.words[i + 1] FOR i IN range(len(w.words))
            IF r.rs IS NULL
               OR len(list_filter(r.rs, x -> i >= x.s AND i <= x.e)) = 0] AS ws
) kept
-- array_to_string of an EMPTY list is NULL in DuckDB (Spark's
-- array_join gives ''): coalesce so a fully-scrubbed doc reads ''
CROSS JOIN LATERAL (
    SELECT coalesce(array_to_string(kept.ws, ' '), '') AS s
) sc
"""
)


# --- MinHash-LSH recall/precision evaluation ------------------------------------


def minhash_recall(documents: DataFrame, threshold: float = 0.3) -> DataFrame:
    """One-row evaluation of the MinHash-LSH candidate generator
    against exact n-gram Jaccard ≥ threshold (the dedup twin of
    ann_ivf_recall): (n_true, n_cand, n_hit, recall_permille,
    precision_permille), integer permille so the oracle is bit-exact.

    This is the number you tune bands/rows against before a production
    re-dedup: recall says how much true near-duplication the banding
    misses, precision how much candidate budget the verifier burns.
    Truth is affordable here because ngram_jaccard_pairs is itself
    df-capped equi-join, not O(n²); both sides reuse the same persisted
    shingle machinery.
    """
    truth = ngram_jaccard_pairs(documents, threshold).select("doc_a", "doc_b")
    cand = minhash_lsh_candidates(documents)
    hits = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count("*").alias("n_hit")
    )
    n_true = truth.agg(F.count("*").alias("n_true"))
    n_cand = cand.agg(F.count("*").alias("n_cand"))
    return (
        n_true.crossJoin(n_cand)
        .crossJoin(hits)
        .select(
            F.col("n_true").cast("bigint").alias("n_true"),
            F.col("n_cand").cast("bigint").alias("n_cand"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.when(
                F.col("n_true") > 0,
                F.expr("n_hit * 1000 div n_true"),
            ).cast("bigint").alias("recall_permille"),
            F.when(
                F.col("n_cand") > 0,
                F.expr("n_hit * 1000 div n_cand"),
            ).cast("bigint").alias("precision_permille"),
        )
    )


def minhash_recall_sql(threshold: float = 0.3) -> str:
    return (
        _MINHASH_CAND_CTES
        + ","
        + _JACCARD_CTES
        + f""",
truth AS (
    SELECT c.doc_a, c.doc_b
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE {_JACCARD_EXPR} >= {threshold}
),
m AS (
    SELECT (SELECT count(*) FROM truth) AS n_true,
           (SELECT count(*) FROM cand) AS n_cand,
           (SELECT count(*) FROM truth t JOIN cand c
              ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit
)
SELECT CAST(n_true AS BIGINT) AS n_true,
       CAST(n_cand AS BIGINT) AS n_cand,
       CAST(n_hit AS BIGINT) AS n_hit,
       CAST(CASE WHEN n_true > 0 THEN n_hit * 1000 // n_true END AS BIGINT)
           AS recall_permille,
       CAST(CASE WHEN n_cand > 0 THEN n_hit * 1000 // n_cand END AS BIGINT)
           AS precision_permille
FROM m
"""
    )
