"""Deduplication operators for training-data pipelines: exact hash dedup,
n-gram Jaccard, MinHash + LSH banding, SimHash, embedding-cosine near-dup.

Part of the LLM-data-pipeline surface the build brief mandates beyond the
reference's own operators. Everything is expressed as DataFrame/SQL
(explode + groupBy + equi-join) so the physical plan is shuffle-based and
scales: candidate generation is always an EQUI-join (on shingle, band
signature, simhash band, or LSH hyperplane bucket) — never an all-pairs
cross join — which is the property that keeps these runnable at 100 TB.
Expensive verification (hamming / cosine) only ever touches candidate
pairs produced by an equi-join.  Hash-driven selection uses the portable
60-bit hash of queries/hashing.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_umami_spark.registry import register, register_sql

from datafusion_umami_spark.queries.hashing import DUCK_H64, SPARK_H64


def _du_h(s: str) -> str:
    # Two @register oracles below call this by name: a DataFrame spec's
    # decorated source is its fingerprint, so the call spelling stays.
    return DUCK_H64.format(s=s)


# --- exact dedup: hash-groupBy --------------------------------------------
register_sql(
    "dedup_exact",
    """
    SELECT md5(lower(trim(text))) AS content_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper_doc
    FROM documents
    GROUP BY content_hash
    HAVING COUNT(*) >= 1
    """,
    oracle="""
    SELECT md5(lower(trim(text))) AS content_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS keeper_doc
    FROM documents
    GROUP BY content_hash
    HAVING COUNT(*) >= 1
    """,
    tags=("dedup", "exact", "llm-pipeline"),
)

# --- word-set Jaccard near-dup --------------------------------------------
# Document-frequency pruning (df <= 50) before the candidate equi-join:
# without it every document pair sharing a stopword meets in one reducer
# group and the join is quadratic in the stopword's document frequency —
# the standard shingle-pipeline fix is to drop high-df terms up front,
# which bounds every per-word candidate group to df*(df-1)/2 pairs.
# Jaccard is then computed over each document's RARE-word set (both
# engines identically). Output is capped deterministically for the
# driver hash: full ORDER BY (jaccard DESC, da, db) then LIMIT.
_JACCARD_BODY = """
    n AS (SELECT doc_id, COUNT(*) AS n_words FROM __W__ GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      FROM __W__ a JOIN __W__ b ON a.word = b.word AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT da, db,
           ROUND(CAST(c AS DOUBLE) / (na.n_words + nb.n_words - c), 6) AS jaccard
    FROM common
      JOIN n na ON na.doc_id = da
      JOIN n nb ON nb.doc_id = db
    WHERE CAST(c AS DOUBLE) / (na.n_words + nb.n_words - c) >= 0.8
    ORDER BY jaccard DESC, da, db
    LIMIT 500
"""

# Spark-side pruned word set: ONE pass — the document-frequency guard
# is a COUNT(*) OVER (PARTITION BY word) window instead of the
# wdf-join, so the distinct doc-word set is computed once (the join
# formulation re-executed the corpus explode per reference: 8 scans).
_JACCARD_W_SQL = r"""
    SELECT doc_id, word FROM (
      SELECT doc_id, word, COUNT(*) OVER (PARTITION BY word) AS df
      FROM (SELECT DISTINCT doc_id, word
            FROM (SELECT doc_id, explode(split(trim(text), '\\s+')) AS word
                  FROM documents)))
    WHERE df <= 50"""


@register(
    "dedup_jaccard_words",
    oracle=r"""
    WITH w0 AS (
      SELECT DISTINCT doc_id, word
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
            FROM documents)),
    wdf AS (SELECT word, COUNT(*) AS df FROM w0 GROUP BY word),
    w AS (SELECT w0.doc_id, w0.word
          FROM w0 JOIN wdf ON w0.word = wdf.word WHERE wdf.df <= 50),
"""
    + _JACCARD_BODY.replace("__W__", "w"),
    tags=("dedup", "jaccard", "llm-pipeline"),
)
def dedup_jaccard_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-word Jaccard near-dup with the pruned doc-word set (df <= 50
    window guard, _JACCARD_W_SQL) materialized ONCE: the corpus is
    exploded and deduped in a single pass instead of the 8 scans the
    inlined CTE chain produced (operators/materialize.py)."""
    from datafusion_umami_spark.operators.materialize import materialize_view
    from datafusion_umami_spark.tables import register_views

    register_views(spark, sf_dir)
    materialize_view("jac_w", spark.sql(_JACCARD_W_SQL), "jac_w_m")
    return spark.sql("WITH " + _JACCARD_BODY.replace("__W__", "jac_w_m"))

# --- MinHash + LSH banding -------------------------------------------------
_SP_SHINGLES = r"""
      SELECT doc_id, shingle
      FROM (SELECT doc_id, split(trim(text), '\\s+') AS ws FROM documents)
      LATERAL VIEW explode(
        transform(sequence(1, greatest(size(ws) - 2, 1)),
                  i -> concat_ws(' ', element_at(ws, i),
                                 element_at(ws, least(i + 1, size(ws))),
                                 element_at(ws, least(i + 2, size(ws)))))) t AS shingle
"""
_DU_SHINGLES = r"""
      SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 2, 1) + 1),
                  i -> concat_ws(' ', ws[i],
                                 ws[least(i + 1, len(ws))],
                                 ws[least(i + 2, len(ws))]))) AS shingle
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents)
"""

# MinHash via affine permutations of ONE base hash per distinct shingle:
# mh_s = MIN over shingles of ((2s+1)·h + s·12582917) mod p, p = 2^31-1.
# One md5 per shingle (not per shingle×seed), all 8 signature components
# aggregated in a single groupBy pass as an array — no 8× row expansion,
# which is what makes the signature stage a single linear scan at 100 TB.
# Banding: 4 bands × 2 rows (posexplode of sig pairs) → candidate pairs
# come from an EQUI-join on (band, band_sig); Jaccard is then estimated
# from the two 8-element signature arrays directly.
_P31 = 2_147_483_647
_SP_MH = ", ".join(
    f"MIN(({2 * s + 1} * h + {s * 12_582_917}) % {_P31})" for s in range(8)
)
_DU_MH = ", ".join(
    f"MIN(({2 * s + 1} * h + {s * 12_582_917}) % {_P31})" for s in range(8)
)

# Spark side is split at the signature matrix: sigs (|docs| rows of 8
# ints, the REDUCED intermediate) is materialized once, then banding,
# the candidate equi-join, and the two signature re-joins all read the
# one checkpoint — the single-statement inlined form re-ran the whole
# shingle scan per reference (4 corpus scans).  The DuckDB twin keeps
# the single statement (DuckDB materializes shared CTEs).
_SP_MINHASH_SIGS = f"""
    WITH shingles AS ({_SP_SHINGLES}),
    hashes AS (
      -- no DISTINCT: MIN over duplicate shingles equals MIN over the set,
      -- so the dedup shuffle would be pure waste
      SELECT doc_id, {SPARK_H64.format(s="shingle")} % {_P31} AS h
      FROM shingles)
    SELECT doc_id, array({_SP_MH}) AS mhs
    FROM hashes GROUP BY doc_id
"""

# __SIGS__ = relation holding the materialized signature matrix.
_SP_MINHASH_PAIRS_FROM_SIGS = """
    WITH bands AS (
      SELECT doc_id, band,
             concat(CAST(element_at(mhs, 2 * band + 1) AS STRING), ':',
                    CAST(element_at(mhs, 2 * band + 2) AS STRING)) AS band_sig
      FROM __SIGS__ LATERAL VIEW explode(sequence(0, 3)) t AS band),
    candidates AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)
    SELECT c.da, c.db,
           CAST(ROUND(size(filter(sequence(1, 8),
                    i -> element_at(sa.mhs, i) = element_at(sb.mhs, i))) / 8.0, 4)
                AS DOUBLE) AS est_jaccard
    FROM candidates c
      JOIN __SIGS__ sa ON sa.doc_id = c.da
      JOIN __SIGS__ sb ON sb.doc_id = c.db
"""


def _minhash_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs + estimated Jaccard over ONE shared signature
    matrix checkpoint: dedup_minhash_lsh, dedup_connected_components,
    and dedup_cluster_size_profile all read the same generation-tagged
    materialization (keyed by sf_dir), so a sequential sweep computes
    the shingle scan once and pins one copy, not three.  A cache hit
    never unpersists a prior consumer's checkpoint, so interleaved
    build-then-collect across consumers stays safe (the hazard the old
    per-consumer key namespacing guarded against)."""
    import re

    from datafusion_umami_spark.operators.materialize import materialize_view_shared
    from datafusion_umami_spark.tables import register_views

    # r14: spread the documents view — the shingle/MinHash signature
    # build is a serial regex+hash map over every doc (A/B: -0.19 s)
    register_views(spark, sf_dir, spread=("documents",))
    tag = re.sub(r"\W+", "_", sf_dir).strip("_")
    view = f"mh_sigs_{tag}_m"
    materialize_view_shared(
        spark, f"shared:mh_sigs:{sf_dir}", view,
        lambda: spark.sql(_SP_MINHASH_SIGS),
    )
    return spark.sql(_SP_MINHASH_PAIRS_FROM_SIGS.replace("__SIGS__", view))

_DU_MINHASH_PAIRS = f"""
    WITH shingles AS ({_DU_SHINGLES}),
    hashes AS (
      SELECT doc_id, {DUCK_H64.format(s="shingle")} % {_P31} AS h
      FROM shingles),
    sigs AS (
      SELECT doc_id, [{_DU_MH}] AS mhs
      FROM hashes GROUP BY doc_id),
    bands AS (
      SELECT doc_id, band,
             concat(CAST(mhs[2 * band + 1] AS VARCHAR), ':',
                    CAST(mhs[2 * band + 2] AS VARCHAR)) AS band_sig
      FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS band) bs),
    candidates AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id)
    SELECT c.da, c.db,
           CAST(ROUND(len(list_filter(range(1, 9),
                    i -> sa.mhs[i] = sb.mhs[i])) / 8.0, 4)
                AS DOUBLE) AS est_jaccard
    FROM candidates c
      JOIN sigs sa ON sa.doc_id = c.da
      JOIN sigs sb ON sb.doc_id = c.db
"""

@register(
    "dedup_minhash_lsh",
    oracle=_DU_MINHASH_PAIRS,
    tags=("dedup", "minhash", "lsh", "llm-pipeline"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup pairs — one linear shingle scan
    into a materialized signature matrix, banded equi-join candidates,
    signature-estimated Jaccard (see _SP_MINHASH_SIGS notes)."""
    return _minhash_pairs_df(spark, sf_dir)

# --- SimHash ---------------------------------------------------------------
# Banded candidate generation (pigeonhole): the 16-bit simhash is split
# into 3 bands (6+5+5 bits). Two signatures within hamming distance 2
# differ in at most 2 bands, so at least one band matches EXACTLY —
# candidates come from an equi-join on (band, band_bits), never an
# all-pairs theta join, and hamming is verified on candidates only.
# This is the plan that survives 100 TB (the r1 all-pairs version was a
# BroadcastNestedLoopJoin — O(n^2)); tests/test_plans.py asserts the
# plan has no nested-loop join.
# Split at the 16-bit signature (|docs| rows): materialized once, read
# by banding and by both sides of the hamming verification — the
# inlined form re-ran the word-explode chain 4×.
_SP_SIMHASH_SIG = f"""
    WITH w AS (
      SELECT DISTINCT doc_id, word
      FROM (SELECT doc_id, explode(split(trim(text), '\\\\s+')) AS word
            FROM documents)),
    hashes AS (SELECT doc_id, {SPARK_H64.format(s="word")} AS h FROM w),
    bits AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END) AS vote
      FROM hashes LATERAL VIEW explode(sequence(0, 15)) bt AS b
      GROUP BY doc_id, b)
    SELECT doc_id,
           SUM(CASE WHEN vote > 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE 0 END) AS simhash
    FROM bits GROUP BY doc_id
"""

_SP_SIMHASH_PAIRS_FROM_SIG = """
    WITH bands AS (
      SELECT doc_id, simhash, band,
             CASE band WHEN 0 THEN simhash & 63
                       WHEN 1 THEN shiftright(simhash, 6) & 31
                       ELSE shiftright(simhash, 11) & 31 END AS band_bits
      FROM __SIG__ LATERAL VIEW explode(sequence(0, 2)) t AS band),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id)
    SELECT c.da, c.db,
           CAST(bit_count(sa.simhash ^ sb.simhash) AS BIGINT) AS hamming
    FROM cand c
      JOIN __SIG__ sa ON sa.doc_id = c.da
      JOIN __SIG__ sb ON sb.doc_id = c.db
    WHERE bit_count(sa.simhash ^ sb.simhash) <= 2
    ORDER BY hamming, da, db
    LIMIT 500
    """


@register(
    "dedup_simhash",
    oracle=f"""
    WITH w AS (
      SELECT DISTINCT doc_id, word
      FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
            FROM documents)),
    hashes AS (SELECT doc_id, {_du_h("word")} AS h FROM w),
    bits AS (
      SELECT doc_id, b,
             SUM(CASE WHEN ((h >> CAST(b AS INT)) & 1) = 1 THEN 1 ELSE -1 END) AS vote
      FROM hashes CROSS JOIN (SELECT unnest(range(0, 16)) AS b)
      GROUP BY doc_id, b),
    sig AS (
      SELECT doc_id,
             SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END) AS simhash
      FROM bits GROUP BY doc_id),
    bands AS (
      SELECT doc_id, simhash, band,
             CASE band WHEN 0 THEN simhash & 63
                       WHEN 1 THEN (simhash >> 6) & 31
                       ELSE (simhash >> 11) & 31 END AS band_bits
      FROM sig CROSS JOIN (SELECT unnest(range(0, 3)) AS band) bs),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id)
    SELECT c.da, c.db,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
    FROM cand c
      JOIN sig sa ON sa.doc_id = c.da
      JOIN sig sb ON sb.doc_id = c.db
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 2
    ORDER BY hamming, da, db
    LIMIT 500
    """,
    tags=("dedup", "simhash", "llm-pipeline"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup via 3-band pigeonhole equi-join, signature
    materialized once (see _SP_SIMHASH_SIG notes)."""
    from datafusion_umami_spark.operators.materialize import materialize_view
    from datafusion_umami_spark.tables import register_views

    register_views(spark, sf_dir)
    materialize_view("sh_sig", spark.sql(_SP_SIMHASH_SIG), "sh_sig_m")
    return spark.sql(_SP_SIMHASH_PAIRS_FROM_SIG.replace("__SIG__", "sh_sig_m"))

# --- embedding-cosine near-dup --------------------------------------------
# Scalable shape: candidates come from an equi-join on random-hyperplane
# LSH buckets (3 bands x 4 planes; a pair whose vectors agree on all 4
# sign bits of ANY band becomes a candidate), cosine is verified on
# candidates only. Hyperplane components are pseudo-random signs derived
# from the portable md5 hash of (band, plane, dim) — identical in both
# engines. Dot products for the bucket bits use SCALED-INTEGER embedding
# values so the grouped SUM is associative/exact and the sign of the
# projection is partition-order independent (float SUM over a shuffle is
# not reproducible). The tiny planes relation (3*4*64 rows) broadcast-
# joins against the exploded embeddings; nothing here is all-pairs.
_EMB_DIM = 64  # embeddings.parquet fixed dim (TESTDATA.md)

# Split at the LSH bucket table (|vecs|×3 rows, the reduced
# intermediate): materialized once, read by both sides of the candidate
# equi-join.  The `normed` vectors stay a map-only re-scan of the
# embeddings parquet (materialize.py rule: don't checkpoint ~input-sized
# map output; a pushed-down columnar re-scan is cheaper).
_SP_COSINE_BUCKETS = f"""
    WITH e AS (
      SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    dims AS (
      SELECT vec_id, pos + 1 AS d, CAST(round(x * 10000) AS BIGINT) AS xs
      FROM e LATERAL VIEW posexplode(v) t AS pos, x),
    planes AS (
      SELECT band, plane, d,
             CASE WHEN {SPARK_H64.format(s="concat(CAST(band AS STRING), ':', CAST(plane AS STRING), ':', CAST(d AS STRING))")} % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM (SELECT explode(sequence(0, 2)) AS band)
      LATERAL VIEW explode(sequence(0, 3)) pt AS plane
      LATERAL VIEW explode(sequence(1, {_EMB_DIM})) dt AS d),
    proj AS (
      SELECT m.vec_id, p.band, p.plane, SUM(m.xs * p.sgn) AS dot
      FROM dims m JOIN planes p ON m.d = p.d
      GROUP BY m.vec_id, p.band, p.plane)
    SELECT vec_id, band,
           SUM(CASE WHEN dot > 0 THEN shiftleft(CAST(1 AS BIGINT), plane)
                    ELSE CAST(0 AS BIGINT) END) AS bucket
    FROM proj GROUP BY vec_id, band
"""

_SP_COSINE_FROM_BUCKETS = """
    WITH cand AS (
      SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
      FROM __B__ a JOIN __B__ b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    normed AS (
      -- zero-norm fence: cosine undefined for the zero vector; an
      -- unfenced division ANSI-crashes on one corrupt/padded row
      -- (r12, simsearch.py ann_bruteforce_topk has the full note)
      SELECT * FROM (
        SELECT vec_id, v,
               sqrt(aggregate(transform(v, x -> x * x), CAST(0.0 AS DOUBLE),
                              (acc, x) -> acc + x)) AS nrm
        FROM (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings)) t
      WHERE nrm > 0 AND NOT isnan(nrm)
        AND nrm < CAST('Infinity' AS DOUBLE))
    SELECT c.ia, c.ib,
           ROUND(aggregate(zip_with(a.v, b.v, (x, y) -> x * y), CAST(0.0 AS DOUBLE),
                           (acc, x) -> acc + x) / (a.nrm * b.nrm), 6) AS cosine
    FROM cand c
      JOIN normed a ON a.vec_id = c.ia
      JOIN normed b ON b.vec_id = c.ib
    WHERE aggregate(zip_with(a.v, b.v, (x, y) -> x * y), CAST(0.0 AS DOUBLE),
                    (acc, x) -> acc + x) / (a.nrm * b.nrm) >= 0.3
    ORDER BY cosine DESC, ia, ib
    LIMIT 500
    """


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    dims AS (
      SELECT vec_id, d, CAST(round(v[d] * 10000) AS BIGINT) AS xs
      FROM e CROSS JOIN (SELECT unnest(range(1, {_EMB_DIM} + 1)) AS d) ds
      WHERE d <= len(v)),
    planes AS (
      SELECT band, plane, d,
             CASE WHEN {_du_h("concat(CAST(band AS VARCHAR), ':', CAST(plane AS VARCHAR), ':', CAST(d AS VARCHAR))")} % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM (SELECT unnest(range(0, 3)) AS band) bb
      CROSS JOIN (SELECT unnest(range(0, 4)) AS plane) pp
      CROSS JOIN (SELECT unnest(range(1, {_EMB_DIM} + 1)) AS d) dd),
    proj AS (
      SELECT m.vec_id, p.band, p.plane, SUM(m.xs * p.sgn) AS dot
      FROM dims m JOIN planes p ON m.d = p.d
      GROUP BY m.vec_id, p.band, p.plane),
    buckets AS (
      SELECT vec_id, band,
             SUM(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << CAST(plane AS INT))
                      ELSE CAST(0 AS BIGINT) END) AS bucket
      FROM proj GROUP BY vec_id, band),
    cand AS (
      SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
      FROM buckets a JOIN buckets b
        ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    normed AS (
      SELECT * FROM (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e) t
      WHERE nrm > 0 AND NOT isnan(nrm)
        AND nrm < CAST('Infinity' AS DOUBLE)),
    pairs AS (
      SELECT c.ia, c.ib,
             list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
               / (a.nrm * b.nrm) AS cos
      FROM cand c
        JOIN normed a ON a.vec_id = c.ia
        JOIN normed b ON b.vec_id = c.ib)
    SELECT ia, ib, ROUND(cos, 6) AS cosine
    FROM pairs WHERE cos >= 0.3
    ORDER BY cosine DESC, ia, ib
    LIMIT 500
    """,
    tags=("dedup", "embedding", "cosine", "llm-pipeline"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH embedding near-dup: bucket table materialized
    once, candidates from the bucket equi-join, cosine verified on
    candidates only (see _SP_COSINE_BUCKETS notes)."""
    from datafusion_umami_spark.operators.materialize import materialize_view
    from datafusion_umami_spark.tables import register_views

    register_views(spark, sf_dir)
    materialize_view("cos_buckets", spark.sql(_SP_COSINE_BUCKETS), "cos_buckets_m")
    return spark.sql(_SP_COSINE_FROM_BUCKETS.replace("__B__", "cos_buckets_m"))


# --- connected-components cluster assignment over near-dup pairs ------------
@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE p AS (
      SELECT da, db FROM ({_DU_MINHASH_PAIRS}) q WHERE est_jaccard >= 0.5),
    edges AS (SELECT da, db FROM p UNION ALL SELECT db, da FROM p),
    nodes AS (SELECT DISTINCT da AS n FROM edges),
    prop(n, l) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.db, pr.l FROM prop pr JOIN edges e ON pr.n = e.da
      WHERE pr.l < e.db)
    SELECT CAST(n AS BIGINT) AS doc_id, CAST(MIN(l) AS BIGINT) AS cluster_id
    FROM prop GROUP BY n
    """,
    tags=("dedup", "clustering", "connected-components", "llm-pipeline"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment for near-dup groups: each document in the
    MinHash candidate graph (est_jaccard >= 0.5) labeled with the
    smallest doc_id in its connected component — the keeper-selection
    step every dedup pipeline runs after pair generation (keep
    cluster_id, drop the rest).

    Spark side: alternating large-star/small-star label propagation
    (operators/connected_components.py) — per-round work bounded by the
    CURRENT edge count, O(log n) rounds; never materializes
    (node, reachable-node) pairs, so 10⁵–10⁷-member boilerplate
    clusters at 100 TB stay linear instead of quadratic.  Replaces the
    reference's WITH RECURSIVE closure semantics (reference
    physical-plan/src/recursive_query.rs:58) with an equivalent
    fixpoint whose result is identical: min reachable id.

    DuckDB oracle: min-label fixpoint as a recursive CTE — a label l
    propagates along an edge only while l < target id, so the state
    stays decreasing-labels-only (the min label always wins; every
    intermediate node on a path from the component min has a larger
    id, so propagation never stalls)."""
    from datafusion_umami_spark.operators.connected_components import (
        connected_components,
    )

    pairs = _minhash_pairs_df(spark, sf_dir).filter(
        F.col("est_jaccard") >= 0.5
    ).select("da", "db")
    return connected_components(pairs).select(
        F.col("n").alias("doc_id"), "cluster_id"
    )


# --- cluster-size profile: how much of the corpus is duplicated -------------
@register(
    "dedup_cluster_size_profile",
    # Same min-label fixpoint as dedup_connected_components, rolled up to
    # the histogram a dedup run reports: cluster sizes, cluster counts,
    # and how many documents would be DROPPED keeping one per cluster.
    oracle=f"""
    WITH RECURSIVE p AS (
      SELECT da, db FROM ({_DU_MINHASH_PAIRS}) q WHERE est_jaccard >= 0.5),
    edges AS (SELECT da, db FROM p UNION ALL SELECT db, da FROM p),
    nodes AS (SELECT DISTINCT da AS n FROM edges),
    prop(n, l) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.db, pr.l FROM prop pr JOIN edges e ON pr.n = e.da
      WHERE pr.l < e.db),
    labels AS (SELECT n, MIN(l) AS cluster_id FROM prop GROUP BY n),
    sizes AS (SELECT cluster_id, COUNT(*) AS csize
              FROM labels GROUP BY cluster_id)
    SELECT CAST(csize AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(csize) AS BIGINT) AS n_docs,
           CAST(SUM(csize - 1) AS BIGINT) AS n_dropped_dedup
    FROM sizes
    GROUP BY csize
    ORDER BY cluster_size
    LIMIT 500
    """,
    tags=("dedup", "clustering", "profile", "llm-pipeline"),
)
def dedup_cluster_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-run report card: distribution of near-dup cluster sizes
    from the star-contraction components, with the docs-dropped count a
    keep-one-per-cluster policy implies.  At 100 TB this histogram is
    what tells you whether banding thresholds are tuned (a handful of
    10^6-member clusters = boilerplate leakage; all size-2 = thresholds
    too tight)."""
    from datafusion_umami_spark.operators.connected_components import (
        connected_components,
    )

    pairs = _minhash_pairs_df(spark, sf_dir).filter(
        F.col("est_jaccard") >= 0.5
    ).select("da", "db")
    labels = connected_components(pairs)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("csize"))
    return (
        sizes.groupBy("csize")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("csize").cast("bigint").alias("n_docs"),
            F.sum(F.col("csize") - 1).cast("bigint").alias("n_dropped_dedup"),
        )
        .select(
            F.col("csize").cast("bigint").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            "n_dropped_dedup",
        )
        .orderBy("cluster_size")
        .limit(500)
    )
