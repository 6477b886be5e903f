"""Similarity search over the `embeddings` table (array<float>, 64-d).

- q60: brute-force cosine top-k — the exactness baseline. Vectors are
  quantized ONCE to int64 micro-units (6dp, via a deterministic
  double→decimal cast) and every dot product is exact int64 math, so
  the score is bit-identical in Spark and DuckDB regardless of
  summation order; ranking is therefore deterministic (ties broken by
  vec_id).
- q61: per-label embedding stats (order-independent aggregates only).
- q62: LSH-bucketed ANN — integer sign-random-projection buckets
  derived from md5 (engine-stable), probe only within bucket, exact
  int64-quantized scoring — fully oracle-checked (buckets, candidate
  sets, scores, ranks); recall vs q60 audited by q135 and
  tests/test_similarity.py.
- q63: IVF ANN — KMeans coarse quantizer (non-SQL-expressible fit);
  the driver row is a q135-style bounds audit (exact counts + recall/
  probe-cost booleans the oracle pins to true).
- q165: PQ — the memory tier: 16×-compressed per-subspace codes,
  ADC lookup-table scan, exact shortlist rerank (same bounds audit).
- q166: IVF-PQ — the composed production index: coarse inverted
  lists bound WHAT is scanned, residual PQ codes bound what is READ
  per candidate, the exact tier reranks the shortlist.
- q168: q166's index PERSISTED as a cluster-range-partitioned COLF
  dataset — probe scans become zone-map-pruned file reads and a fresh
  session reopens codebooks from a COLF metadata table (index-as-
  table: build once, query many).

Scale: brute-force is O(n·q) dot products — fine for reranking a
candidate set, wrong as the primary index at 100 TB. The bucketed
tiers (LSH tables, IVF lists) are the scan-bound path; PQ codes are
the memory-bound path; q166 composes them the way FAISS does.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register, spread, table

N_QUERIES = 10   # first N vec_ids act as the query set
TOP_K = 5
# multi-table sign-LSH: L tables × B bits. One 8-bit table has ~2%
# top-5 recall on near-orthogonal 64-d embeddings (collision prob
# (1-θ/π)^8 at θ≈70°); 16 tables of 6 bits lift expected recall to
# ~0.6 while still pruning ~4x — the tunable recall/cost dial.
LSH_TABLES = 16
LSH_BITS = 6


def qvec(a: Column) -> Column:
    """Quantize a float array to exact int64 micro-units: each element
    is rounded to 6dp via a double→DECIMAL(8,6) cast (|x| < 100 —
    embeddings are unit-scale), then scaled by 10^6 into a BIGINT.
    From here every dot product is pure int64 arithmetic — exact in
    any evaluation order, hence engine-identical (registry rule 1
    generalized to vectors), and ~3× faster than folding DECIMAL(16,12)
    per element (interpreted lambdas pay per-op; int64 ops are cheap,
    Decimal128 ops are not)."""
    # float → double first: Spark's float→decimal cast rounds the
    # float's 8-digit shortest representation, DuckDB rounds the exact
    # binary value — they disagree near 6dp ties. double→decimal is
    # tie-free at 6dp in practice and identical in both engines.
    return F.transform(
        a, lambda x: (x.cast("double").cast("decimal(8,6)") * 1000000).cast("bigint"))


def int_dot(qa: Column, qb: Column) -> Column:
    """Exact int64 dot of two quantized vectors. |element| < 10^8 so a
    64-dim dot is < 6.4·10^17 — no overflow. The cast to double at the
    end is one deterministic IEEE conversion of identical int64 values
    in both engines; /10^12 undoes the two 10^6 scales."""
    isum = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x * y),
        F.lit(0).cast("bigint"), lambda acc, v: acc + v)
    return isum.cast("double") / F.lit(1.0e12)


def int_norm(qa: Column) -> Column:
    return F.sqrt(int_dot(qa, qa))


# DuckDB mirrors: quantize once per vector, then int64 list math.
SQL_QVEC = ("list_transform({a}, x -> "
            "CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(8,6)) * 1000000 AS BIGINT))")
SQL_INT_DOT = ("(CAST(list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"
               " AS DOUBLE) / 1e12)")
SQL_INT_NORM = "sqrt" + SQL_INT_DOT.format(a="{a}", b="{a}")


_COSINE_SQL = f"""
    WITH v AS (
      SELECT vec_id, {SQL_QVEC.format(a='embedding')} AS qv,
             {SQL_INT_NORM.format(a=SQL_QVEC.format(a='embedding'))} AS nrm
      FROM embeddings),
    q AS (SELECT vec_id AS qid, qv AS qqv, nrm AS qnrm FROM v
          WHERE vec_id < {N_QUERIES} AND nrm > 0),
    scored AS (
      SELECT q.qid, c.vec_id AS cid,
             ({SQL_INT_DOT.format(a='q.qqv', b='c.qv')} / (q.qnrm * c.nrm)) AS cosine
      FROM q CROSS JOIN v c
      WHERE c.vec_id <> q.qid AND c.nrm > 0),
    ranked AS (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk
      FROM scored)
    SELECT qid, cid, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
"""


@register("q60_cosine_topk", oracle=_COSINE_SQL)
def q60_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for the first 10 vectors.

    Scale: query side broadcast; candidates never shuffle. The window
    top-k collapses to per-partition heaps under WindowGroupLimit.
    """
    # quantize + norm ONCE per vector BEFORE the pair join (not per
    # pair — at n candidates × q queries that's the difference between
    # n+q and 2·n·q norm computations)
    # zero-norm vectors have no defined cosine — drop them up front
    # (ANSI mode would otherwise raise DIVIDE_BY_ZERO on real corpora)
    e = (
        spread(table(spark, sf_dir, "embeddings"))
        .select("vec_id", qvec(F.col("embedding")).alias("qv"))
        .withColumn("nrm", int_norm(F.col("qv")))
        .filter(F.col("nrm") > 0)
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qqv"),
        F.col("nrm").alias("qnorm"))
    c = e.select(F.col("vec_id").alias("cid"), F.col("qv").alias("cqv"),
                 F.col("nrm").alias("cnorm"))
    from pyspark.sql import Window

    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid", "cid",
            (int_dot(F.col("qqv"), F.col("cqv"))
             / (F.col("qnorm") * F.col("cnorm"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


@register(
    "q61_embedding_stats",
    oracle=f"""
    SELECT label, COUNT(*) AS n_vectors,
           MIN({SQL_INT_NORM.format(a=SQL_QVEC.format(a='embedding'))}) AS min_norm,
           MAX({SQL_INT_NORM.format(a=SQL_QVEC.format(a='embedding'))}) AS max_norm
    FROM embeddings GROUP BY label
    """,
)
def q61_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector stats using only order-independent aggregates
    (MIN/MAX/COUNT) over exact-int-quantized norms."""
    e = table(spark, sf_dir, "embeddings")
    norm = int_norm(qvec(F.col("embedding")))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min(norm).alias("min_norm"),
        F.max(norm).alias("max_norm"),
    )


NEARDUP_CAP = 500        # pair-scored subset for the exact-oracle demo
NEARDUP_THRESHOLD = 0.4  # this corpus is near-orthogonal (max ~0.51)

_NEARDUP_SQL = f"""
    WITH v AS (
      SELECT vec_id, {SQL_QVEC.format(a='embedding')} AS qv,
             {SQL_INT_NORM.format(a=SQL_QVEC.format(a='embedding'))} AS nrm
      FROM embeddings WHERE vec_id < {NEARDUP_CAP}),
    pairs AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2,
             ({SQL_INT_DOT.format(a='a.qv', b='b.qv')} / (a.nrm * b.nrm)) AS cosine
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE a.nrm > 0 AND b.nrm > 0)
    SELECT v1, v2, cosine FROM pairs WHERE cosine >= {NEARDUP_THRESHOLD}
"""


@register("q54_embedding_neardup", oracle=_NEARDUP_SQL)
def q54_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all pairs in a capped
    subset whose exact-quantized cosine clears the threshold — the
    similarity-based member of the dedup family (exact q50, MinHash
    q52, SimHash q53).

    Scale: the all-pairs form is the oracle-checkable demo; at corpus
    scale the identical scorer runs on q62's LSH candidate pairs
    instead of the cross product (bucket join → threshold → connected
    components for cluster dedup).
    """
    e = table(spark, sf_dir, "embeddings")
    v = (
        e.filter(F.col("vec_id") < NEARDUP_CAP)
        .select("vec_id", qvec(F.col("embedding")).alias("qv"))
        .withColumn("nrm", int_norm(F.col("qv")))
        .filter(F.col("nrm") > 0)
    )
    # left side drives the pair-scoring parallelism: the nested-loop
    # join output inherits its partitioning (the filtered subset is one
    # scan task otherwise, serializing 125k dot products)
    a = spread(v).select(F.col("vec_id").alias("v1"), F.col("qv").alias("q1"),
                         F.col("nrm").alias("n1"))
    b = v.select(F.col("vec_id").alias("v2"), F.col("qv").alias("q2"),
                 F.col("nrm").alias("n2"))
    return (
        a.join(b, F.col("v1") < F.col("v2"))
        .select(
            "v1", "v2",
            (int_dot(F.col("q1"), F.col("q2"))
             / (F.col("n1") * F.col("n2"))).alias("cosine"),
        )
        .filter(F.col("cosine") >= NEARDUP_THRESHOLD)
    )


# Arrow-batched vectorized kernels. Bucketing is 96 hyperplane dot
# products per vector: as Catalyst higher-order-function lambdas that
# is ~6k INTERPRETED multiply-adds per row (no codegen inside lambdas
# — measured 16 s for 10k vectors); as a pandas UDF it is one BLAS
# matmul per Arrow batch (sub-second). This is the documented
# exception where built-ins can't express the op efficiently.
def _stack(s) -> "object":
    import numpy as np

    return np.array(s.tolist(), dtype=np.float64)


IVF_K = 16       # coarse-quantizer centroids
IVF_NPROBE = 4   # clusters probed per query
# audit bounds (q135-style: the oracle pins the booleans, not the
# KMeans-dependent internals). Measured at sf0.001/sf0.01: aggregate
# recall 0.60/0.68, probed fraction ~0.5 of corpus per query — the
# floors below hold with >=1.5x margin.
IVF_RECALL_FLOOR = 0.4    # hits / exact_pairs
IVF_PROBE_CEIL = 0.75     # candidates scanned / (n_queries * corpus)

_IVF_SQL = f"""
    WITH v AS (
      SELECT vec_id, {SQL_QVEC.format(a='embedding')} AS qv,
             {SQL_INT_NORM.format(a=SQL_QVEC.format(a='embedding'))} AS nrm
      FROM embeddings),
    q AS (SELECT vec_id AS qid, qv AS qqv, nrm AS qnrm FROM v
          WHERE vec_id < {N_QUERIES} AND nrm > 0),
    scored AS (
      SELECT q.qid, c.vec_id AS cid,
             ({SQL_INT_DOT.format(a='q.qqv', b='c.qv')} / (q.qnrm * c.nrm))
               AS cosine
      FROM q CROSS JOIN v c
      WHERE c.vec_id <> q.qid AND c.nrm > 0),
    topk AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, cid) AS rnk
        FROM scored) WHERE rnk <= {TOP_K})
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS exact_pairs,
           true AS recall_met, true AS probe_cost_met
    FROM topk
"""


@register("q63_ann_ivf", oracle=_IVF_SQL)
def q63_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via IVF (inverted file) coarse quantization: fit KMeans
    (IVF_K centroids, fixed seed) over the embeddings, assign every
    vector to its nearest centroid, probe the IVF_NPROBE nearest
    centroids per query, and audit the probed candidate sets against
    the exact int64-quantized top-k.

    Driver row (round 5, replacing rows-only): the iterative KMeans
    fit is genuinely non-SQL-expressible, so the query emits what IS
    cross-engine exact — n_queries, exact_pairs (int64-quantized
    ground truth) — plus two in-query bound checks the oracle pins to
    true: aggregate recall >= IVF_RECALL_FLOOR and probed-candidate
    cost <= IVF_PROBE_CEIL of brute force (the q135 pattern: make the
    decision machinery's guarantees the hashed output).

    Scale: the fit runs on a sample/subset in production (centroids
    are a k×dim driver-side array — tiny); assignment is one map pass;
    the probe join is an equi-join on cluster id touching nprobe/k of
    the corpus per query — the standard first tier of FAISS-style
    IVF indexes, with the recall dial (nprobe) explicit.
    """
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    e = (
        spread(table(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding", qvec(F.col("embedding")).alias("qv"))
        .withColumn("nrm", int_norm(F.col("qv")))
        .filter(F.col("nrm") > 0)
        .withColumn("vec", array_to_vector(F.col("embedding").cast("array<double>")))
    )
    # fit on a deterministic ~20% subset: centroid quality converges
    # long before the full corpus is seen (the production pattern — at
    # 100 TB the quantizer trains on a sample, never the corpus)
    km = KMeans(k=IVF_K, seed=7, maxIter=8, featuresCol="vec",
                predictionCol="cluster").fit(e.filter(F.col("vec_id") % 5 == 0))
    centers = np.vstack(km.clusterCenters())  # k × 64, driver-side

    @F.pandas_udf("array<int>")
    def probe_clusters(emb):
        import pandas as pd

        X = _stack(emb)
        d2 = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=1)[:, :IVF_NPROBE]
        return pd.Series(order.tolist())

    assigned = km.transform(e).select("vec_id", "embedding", "cluster")
    qp = (
        assigned.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"),
                F.explode(probe_clusters("embedding")).alias("cluster"))
    )
    # probed candidates: equi-join on cluster id — each vector lives in
    # exactly one cluster and probes are distinct, so no dedup needed
    cand = (
        assigned.select(F.col("vec_id").alias("cid"), "cluster")
        .join(F.broadcast(qp), "cluster")
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "cid")
    )
    # exact int64-quantized ground truth (q60 machinery)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qqv"),
        F.col("nrm").alias("qnorm"))
    c = e.select(F.col("vec_id").alias("cid"), F.col("qv").alias("cqv"),
                 F.col("nrm").alias("cnorm"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "cid",
                (int_dot(F.col("qqv"), F.col("cqv"))
                 / (F.col("qnorm") * F.col("cnorm"))).alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    topk = scored.withColumn("rnk", F.row_number().over(w)) \
        .filter(F.col("rnk") <= TOP_K).select("qid", "cid")
    hits = (
        topk.join(cand.withColumn("is_hit", F.lit(1)), ["qid", "cid"], "left")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_pairs"),
             F.coalesce(F.sum("is_hit"), F.lit(0)).cast("bigint").alias("hits"))
    )
    nq = q.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    ncand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    ncorp = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
    return (
        hits.crossJoin(nq).crossJoin(ncand).crossJoin(ncorp)
        .select(
            "n_queries", "exact_pairs",
            (F.col("hits") >= F.lit(IVF_RECALL_FLOOR) * F.col("exact_pairs"))
            .alias("recall_met"),
            (F.col("n_cand") <= F.lit(IVF_PROBE_CEIL) * F.col("n_queries")
             * F.col("n_corpus")).alias("probe_cost_met"))
    )


# --- q135: ANN recall audit (exact-oracle LSH) --------------------------
#
# q62/q63 are rows-only (float scoring / iterative fit). q135 gives the
# ANN tier a driver row that turns RED if the LSH bucketing machinery
# breaks: it rebuilds the same multi-table sign-LSH pipeline with
# INTEGER arithmetic end-to-end — weights are 16-bit ints derived from
# md5 ("iproj|plane|dim"), embeddings are the q60 int64 quantization,
# and a bit is sign(Σ qv·w) on an exact int64 sum — so Spark (numpy
# int64 matmul) and DuckDB (list math on the same md5-derived weights)
# compute IDENTICAL buckets, candidates, and recall counts.

IRPOJ_SALT = "iproj"


def _int_projection_matrix() -> "object":
    """LSH_TABLES*LSH_BITS × 64 int16-range weights from md5 — the
    integer twin of _projection_matrix, shared with the SQL oracle
    (which derives the same values via md5 hex arithmetic)."""
    import hashlib

    import numpy as np

    rows = []
    for p in range(LSH_TABLES * LSH_BITS):
        rows.append([
            int(hashlib.md5(f"{IRPOJ_SALT}|{p}|{d}".encode()).hexdigest()[:4], 16)
            - 32768
            for d in range(64)
        ])
    return np.asarray(rows, dtype=np.int64)


def _int_cand_ctes() -> str:
    """Shared CTE prefix (quantized vectors → md5 integer weights →
    sign bits → packed codes → DISTINCT bucket-mate candidates) for
    the two integer-LSH oracles, q62 and q135 — one definition so the
    bucketing rule cannot drift between them."""
    qv = SQL_QVEC.format(a="embedding")
    nrm = SQL_INT_NORM.format(a=qv)
    return f"""
    v AS (
      SELECT vec_id, {qv} AS qv, {nrm} AS nrm FROM embeddings),
    w AS (
      SELECT p.plane, list_transform(range(0, 64), d ->
        CAST(('0x' || substr(md5('{IRPOJ_SALT}|' || CAST(p.plane AS VARCHAR)
              || '|' || CAST(d AS VARCHAR)), 1, 4)) AS BIGINT) - 32768) AS wv
      FROM (SELECT unnest(range(0, {LSH_TABLES * LSH_BITS})) AS plane) p),
    bits AS (
      SELECT v.vec_id, w.plane,
             CASE WHEN list_sum(list_transform(range(1, 65),
                    i -> v.qv[i] * w.wv[i])) >= 0 THEN 1 ELSE 0 END AS b
      FROM v CROSS JOIN w WHERE v.nrm > 0),
    codes AS (
      SELECT vec_id, CAST(plane // {LSH_BITS} AS BIGINT) AS tbl,
             CAST(SUM(b << ({LSH_BITS} - 1 - (plane % {LSH_BITS}))) AS BIGINT)
               AS code
      FROM bits GROUP BY vec_id, plane // {LSH_BITS}),
    cand AS (
      SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
      FROM codes q JOIN codes c ON q.tbl = c.tbl AND q.code = c.code
      WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id)"""


def _int_coded(spark: SparkSession, sf_dir: str):
    """Spark twin of _int_cand_ctes' v/codes CTEs: returns
    ``(e, coded)`` where e = (vec_id, qv, nrm) with nrm > 0 and coded
    adds the exploded integer-LSH (tbl, code) pairs — shared by q62
    and q135 so both run the exact bucketing rule the oracle mirrors.
    Coding is one Arrow-batched int64 matmul per batch."""
    import numpy as np
    import pandas as pd

    M = _int_projection_matrix().T  # 64 × L*B

    @F.pandas_udf("array<int>")
    def int_codes(qv):
        X = np.array(qv.tolist(), dtype=np.int64)          # n × 64, exact
        S = (X @ M >= 0).astype(np.int64).reshape(len(X), LSH_TABLES, LSH_BITS)
        W = 1 << np.arange(LSH_BITS - 1, -1, -1)           # MSB-first
        return pd.Series((S * W).sum(axis=2).tolist())

    e = (
        spread(table(spark, sf_dir, "embeddings"))
        .select("vec_id", qvec(F.col("embedding")).alias("qv"))
        .withColumn("nrm", int_norm(F.col("qv")))
        .filter(F.col("nrm") > 0)
        # every caller branches e and coded into 2+ subtrees (query
        # side vs corpus side): materialize the quantization and the
        # LSH coding once instead of once per subtree. Checkpoint
        # blocks are reclaimed by ContextCleaner once the returned
        # DataFrame is dropped (the caller's result plan references
        # them, so an in-query unpersist would break it); a caller
        # running many queries can gc.collect() between them so py4j
        # releases the RDD handles promptly.
        .localCheckpoint()
    )
    coded = e.select("vec_id", "qv", "nrm",
                     F.posexplode(int_codes("qv")).alias("tbl", "code")) \
        .localCheckpoint()
    return e, coded


def _recall_sql() -> str:
    """DuckDB mirror of q135: same quantization, same md5-derived
    integer weights, same (table, code) candidate join, same exact
    top-k — recall is an integer, so the value-hash compare is exact."""
    return f"""
    WITH {_int_cand_ctes()},
    counts AS (SELECT qid, COUNT(*) AS n_candidates FROM cand GROUP BY qid),
    qs AS (SELECT vec_id AS qid, qv AS qqv, nrm AS qnrm FROM v
           WHERE vec_id < {N_QUERIES} AND nrm > 0),
    scored AS (
      SELECT qs.qid, c.vec_id AS cid,
             ({SQL_INT_DOT.format(a='qs.qqv', b='c.qv')} / (qs.qnrm * c.nrm))
               AS cosine
      FROM qs CROSS JOIN v c
      WHERE c.vec_id <> qs.qid AND c.nrm > 0),
    topk AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, cid) AS rnk
        FROM scored) WHERE rnk <= {TOP_K})
    SELECT t.qid,
           CAST(COUNT(*) AS BIGINT) AS exact_k,
           CAST(COALESCE(SUM(CASE WHEN cd.cid IS NOT NULL THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS hits,
           CAST(COALESCE(ANY_VALUE(cn.n_candidates), 0) AS BIGINT)
             AS n_candidates
    FROM topk t
    LEFT JOIN cand cd ON cd.qid = t.qid AND cd.cid = t.cid
    LEFT JOIN counts cn ON cn.qid = t.qid
    GROUP BY t.qid
    """


@register("q135_ann_recall", oracle=_recall_sql())
def q135_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall audit with an EXACT oracle: per query vector, how
    many of the exact cosine top-k land in the multi-table sign-LSH
    candidate set (plus the candidate-set size — the cost side of the
    recall/cost dial). Uses integer LSH (md5-derived int16 weights ×
    the q60 int64 quantization, sign of an exact int64 sum) so the
    buckets are bit-identical across engines — a green row here turns
    red if the bucketing join, bit packing, multi-table OR-expansion,
    or exact top-k ranking breaks.

    Scale: same shape as q62 — one Arrow-batched matmul pass to code
    (int64 BLAS), equi-join on (table, code) for candidates; the exact
    top-k side is the rerank tier and would run on the candidate set
    (not brute force) at corpus scale; here it doubles as the audit's
    ground truth.
    """
    from pyspark.sql import Window

    e, coded = _int_coded(spark, sf_dir)
    qc = coded.filter(F.col("vec_id") < N_QUERIES) \
        .select(F.col("vec_id").alias("qid"), "tbl", "code")
    cand = (
        coded.join(F.broadcast(qc), ["tbl", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("cid"))
        .distinct()
    )
    counts = cand.groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    # exact top-k ground truth — q60's int64-exact scorer
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qqv"),
        F.col("nrm").alias("qnorm"))
    c = e.select(F.col("vec_id").alias("cid"), F.col("qv").alias("cqv"),
                 F.col("nrm").alias("cnorm"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "cid",
                (int_dot(F.col("qqv"), F.col("cqv"))
                 / (F.col("qnorm") * F.col("cnorm"))).alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    topk = scored.withColumn("rnk", F.row_number().over(w)) \
        .filter(F.col("rnk") <= TOP_K).select("qid", "cid")
    hit = cand.withColumn("is_hit", F.lit(1))
    return (
        topk.join(hit, ["qid", "cid"], "left")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_k"),
             F.coalesce(F.sum("is_hit"), F.lit(0)).cast("bigint").alias("hits"))
        .join(F.broadcast(counts), "qid", "left")
        .select("qid", "exact_k", "hits",
                F.coalesce(F.col("n_candidates"), F.lit(0)).cast("bigint")
                .alias("n_candidates"))
    )


def _q62_sql() -> str:
    """DuckDB mirror of q62: the shared integer-LSH candidate CTEs,
    then exact int64-quantized cosine over ONLY the candidates and a
    per-query top-k — the full ANN search result, value-hash exact."""
    return f"""
    WITH {_int_cand_ctes()},
    scored AS (
      SELECT cd.qid, cd.cid,
             ({SQL_INT_DOT.format(a='q.qv', b='c.qv')} / (q.nrm * c.nrm))
               AS cosine
      FROM cand cd
      JOIN v q ON q.vec_id = cd.qid
      JOIN v c ON c.vec_id = cd.cid)
    SELECT qid, cid, cosine, rnk FROM (
      SELECT qid, cid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, cid) AS rnk
      FROM scored) WHERE rnk <= {TOP_K}
    """


@register("q62_ann_lsh", oracle=_q62_sql())
def q62_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via multi-table sign-random-projection LSH: LSH_TABLES hash
    tables of LSH_BITS bits; a candidate is any vector sharing a
    bucket with the query in ANY table; candidates are scored exactly
    and top-k returned — same output shape as q60.

    EXACT driver oracle (round 5, replacing the rows-only policy):
    bucketing uses the q135 integer machinery (md5-derived int16
    weights × int64-quantized vectors, sign of an exact int64 sum) and
    scoring the q60 int64 quantization, so buckets, candidate sets,
    scores, and ranks are all bit-identical across engines — the
    decision rule itself is hash-checked, not just the row count.

    Scale: bucketing is a map-only Arrow-batched pass (one BLAS int64
    matmul per batch); the candidate join is an equi-join on
    (table, code) touching only co-bucketed pairs, then exact scoring
    on that reduced set — the standard recall/cost dial (raise L for
    recall, B for pruning); recall vs the exact tier is audited by
    q135 and tests/test_similarity.py.
    """
    from pyspark.sql import Window

    _, coded = _int_coded(spark, sf_dir)
    q = (
        coded.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("qv").alias("qqv"),
                F.col("nrm").alias("qnorm"), "tbl", "code")
    )
    candidates = (
        coded.join(F.broadcast(q), ["tbl", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "qqv", "qnorm", F.col("vec_id").alias("cid"),
                F.col("qv").alias("cqv"), F.col("nrm").alias("cnorm"))
        .dropDuplicates(["qid", "cid"])
    )
    scored = candidates.select(
        "qid", "cid",
        (int_dot(F.col("qqv"), F.col("cqv"))
         / (F.col("qnorm") * F.col("cnorm"))).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )


KNN_K = 15
KNN_QUERIES = 25

_KNN_SQL = f"""
    WITH v AS (
      SELECT vec_id, label, {SQL_QVEC.format(a='embedding')} AS qv,
             {SQL_INT_NORM.format(a=SQL_QVEC.format(a='embedding'))} AS nrm
      FROM embeddings),
    q AS (SELECT vec_id AS qid, qv AS qqv, nrm AS qnrm FROM v
          WHERE vec_id < {KNN_QUERIES} AND nrm > 0),
    scored AS (
      SELECT q.qid, c.vec_id AS cid, c.label,
             ({SQL_INT_DOT.format(a='q.qqv', b='c.qv')} / (q.qnrm * c.nrm))
               AS cosine
      FROM q CROSS JOIN v c
      WHERE c.vec_id >= {KNN_QUERIES} AND c.nrm > 0),
    neigh AS (
      SELECT qid, cid, label,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, cid) AS rnk
      FROM scored),
    votes AS (
      SELECT qid, label, COUNT(*) AS n_votes
      FROM neigh WHERE rnk <= {KNN_K}
      GROUP BY qid, label),
    winner AS (
      SELECT qid, label, n_votes,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY n_votes DESC, label) AS vr
      FROM votes)
    SELECT qid, label AS pred_label, CAST(n_votes AS BIGINT) AS n_votes
    FROM winner WHERE vr = 1
"""


@register("q151_knn_label", oracle=_KNN_SQL)
def q151_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote labeling: predict each query vector's label
    from its 15 nearest labeled neighbors by exact-quantized
    cosine (the auto-labeling / label-propagation primitive of a
    training-data pipeline — weak-label new documents from a small
    labeled seed set). Ties break by (votes DESC, label ASC), both
    exact integers, so the prediction is well-defined on both engines.

    Scale: identical cost shape to q60 — queries broadcast, candidates
    never shuffle, WindowGroupLimit keeps per-partition heaps of k —
    plus two tiny aggregates over q×k rows. For huge query sets the
    LSH/IVF tiers (q62/q63) supply the candidate lists instead of the
    cross join; the vote stage is unchanged.
    """
    from pyspark.sql import Window

    e = (
        spread(table(spark, sf_dir, "embeddings"))
        .select("vec_id", "label", qvec(F.col("embedding")).alias("qv"))
        .withColumn("nrm", int_norm(F.col("qv")))
        .filter(F.col("nrm") > 0)
    )
    q = e.filter(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qqv"),
        F.col("nrm").alias("qnorm"))
    c = e.filter(F.col("vec_id") >= KNN_QUERIES).select(
        F.col("vec_id").alias("cid"), F.col("label"),
        F.col("qv").alias("cqv"), F.col("nrm").alias("cnorm"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .select(
            "qid", "cid", "label",
            (int_dot(F.col("qqv"), F.col("cqv"))
             / (F.col("qnorm") * F.col("cnorm"))).alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    neigh = (scored.withColumn("rnk", F.row_number().over(w))
             .filter(F.col("rnk") <= KNN_K))
    votes = neigh.groupBy("qid", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_votes"))
    wv = Window.partitionBy("qid").orderBy(F.desc("n_votes"), F.asc("label"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("qid", F.col("label").alias("pred_label"), "n_votes")
    )


# --- q165: product-quantization (PQ) ANN tier ---------------------------

PQ_M = 16           # subspaces (64-d -> 16 x 4-d)
PQ_K = 64           # centroids per subspace -> 6-bit codes
PQ_SHORTLIST = 100  # ADC shortlist reranked with exact int64 cosine
PQ_ITERS = 10       # fixed Lloyd iterations (deterministic fit)
# Hard ceiling on rows collected to the driver for any codebook fit.
# A Lloyd fit needs thousands of rows, not the corpus: at every test SF
# the deterministic vec_id%5 sample (100-400 rows) is below this cap so
# behavior — and the measured recall floors — are unchanged, while at
# 100 TB the collect is bounded at CAP x 64 doubles (~2 MB) instead of
# corpus/5 (a driver OOM).
CODEBOOK_SAMPLE_CAP = 4096
_PQ_FIT_CACHE: dict[str, list] = {}  # sf_dir -> PQ codebooks (q165)
# Measured aggregate recall (hits/exact_pairs) of the ADC->rerank
# pipeline at these params: 1.00 at sf0.001, sf0.01, AND sf0.1
# (parameter sweep 2026-08-14: the coarser M=8/K=16/R=50 config
# degraded to 0.48 at sf0.1 — near-random embeddings need fine
# subspaces). Floor set at 0.6 for >=1.6x margin.
PQ_RECALL_FLOOR = 0.6
PQ_SHORTLIST_CEIL = 0.25  # shortlist size <= 25% of corpus per query

_PQ_SQL = f"""
    WITH v AS (
      SELECT vec_id, {SQL_QVEC.format(a='embedding')} AS qv,
             {SQL_INT_NORM.format(a=SQL_QVEC.format(a='embedding'))} AS nrm
      FROM embeddings),
    q AS (SELECT vec_id AS qid, qv AS qqv, nrm AS qnrm FROM v
          WHERE vec_id < {N_QUERIES} AND nrm > 0),
    scored AS (
      SELECT q.qid, c.vec_id AS cid,
             ({SQL_INT_DOT.format(a='q.qqv', b='c.qv')} / (q.qnrm * c.nrm))
               AS cosine
      FROM q CROSS JOIN v c
      WHERE c.vec_id <> q.qid AND c.nrm > 0),
    topk AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, cid) AS rnk
        FROM scored) WHERE rnk <= {TOP_K})
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS exact_pairs,
           CAST({64 * 4 // PQ_M} AS DOUBLE) AS compression_ratio,
           true AS recall_met, true AS shortlist_cost_met
    FROM topk
"""


def _kmeans(S, K: int, iters: int):
    """Deterministic Lloyd k-means: init = K evenly spaced points in
    (norm, row) order, fixed iterations, empty clusters re-seeded from
    the farthest points (wrapping when more clusters are empty than
    sample points exist — degenerate constant input stays finite).
    Returns the (K, dim) centroid array. Shared by the PQ codebook fit
    (per subspace) and the IVF-PQ coarse quantizer (full dim)."""
    import numpy as np

    n = S.shape[0]
    order = np.lexsort((np.arange(n), np.linalg.norm(S, axis=1)))
    C = S[order[np.linspace(0, n - 1, K).astype(int)]].copy()
    for _ in range(iters):
        d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d2.argmin(axis=1)
        far = d2[np.arange(n), a].argsort()[::-1]
        fi = 0
        for k in range(K):
            mask = a == k
            if mask.any():
                C[k] = S[mask].mean(axis=0)
            else:
                C[k] = S[far[fi % n]]
                fi += 1
    return C


def _pq_fit(X):
    """PQ_M per-subspace codebooks of shape (PQ_K, subdim) via the
    deterministic _kmeans."""
    dim = X.shape[1]
    sub = dim // PQ_M
    return [_kmeans(X[:, m * sub:(m + 1) * sub], PQ_K, PQ_ITERS)
            for m in range(PQ_M)]


@register("q165_ann_pq", oracle=_PQ_SQL)
def q165_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via product quantization (FAISS's PQ/ADC design): the corpus
    is compressed 16× — each 64-d float vector becomes PQ_M 6-bit
    codes against per-subspace codebooks — and queries scan the CODES
    with asymmetric distance computation (per-query lookup tables of
    query-subvector · centroid dots), shortlist the top PQ_SHORTLIST,
    and rerank only the shortlist with the exact int64-quantized
    cosine. The driver row follows the q63/q135 bounds pattern: the
    iterative codebook fit is non-SQL-expressible, so the query emits
    the cross-engine-exact values (n_queries, exact_pairs, the 16×
    compression constant) plus booleans the oracle pins to true —
    aggregate recall ≥ PQ_RECALL_FLOOR against the exact top-k, and
    shortlist cost ≤ PQ_SHORTLIST_CEIL of the corpus per query.

    Scale: PQ is the memory tier of large-scale ANN — at 100 TB of
    embeddings the floats don't fit anywhere, but 16×-compressed codes
    fit in cluster RAM; ADC scoring is one table lookup + add per
    subspace per candidate (a numpy gather over Arrow batches here),
    map-only over the code table, and composes with IVF (q63) for
    candidate pruning: IVF picks the lists, PQ scores them, the exact
    tier (q60 machinery) reranks the survivors. Codebooks train on a
    driver-collected sample (k×subdim arrays — tiny), never the corpus.
    """
    import numpy as np
    from pyspark.sql import Window

    e = (
        spread(table(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding", qvec(F.col("embedding")).alias("qv"))
        .withColumn("nrm", int_norm(F.col("qv")))
        .filter(F.col("nrm") > 0)
        # six subtrees consume e (fit sample, codes, query rows, both
        # rerank sides, corpus count): materialize the projection once
        # instead of re-running the scan + int-quantization per subtree
        .localCheckpoint()
    )
    # deterministic sample to the driver for the codebook fit, hard-capped
    # at CODEBOOK_SAMPLE_CAP rows so the collect is O(1) in corpus size;
    # the fit is deterministic (fixed sample rule + fixed-seed kmeans),
    # so memoize per sf_dir — same discipline as q168's index fit
    if sf_dir not in _PQ_FIT_CACHE:
        sample = np.array(
            e.filter(F.col("vec_id") % 5 == 0).select("embedding")
            .limit(CODEBOOK_SAMPLE_CAP)
            .toPandas()["embedding"].tolist(), dtype=np.float64)
        _PQ_FIT_CACHE[sf_dir] = _pq_fit(sample)
    books = _PQ_FIT_CACHE[sf_dir]

    @F.pandas_udf("array<int>")
    def pq_encode(emb):
        import pandas as pd

        X = _stack(emb)
        sub = X.shape[1] // PQ_M
        codes = np.empty((X.shape[0], PQ_M), dtype=np.int64)
        for m, C in enumerate(books):
            S = X[:, m * sub:(m + 1) * sub]
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = d2.argmin(axis=1)
        return pd.Series(codes.tolist())

    coded = e.select("vec_id", pq_encode("embedding").alias("codes"))

    # per-query ADC lookup tables: LUT[q][m][k] = q_sub(m) . centroid_k;
    # approx norms come from the codes alone (what a scan would have)
    qrows = (e.filter(F.col("vec_id") < N_QUERIES)
             .select("vec_id", "embedding").toPandas()
             .sort_values("vec_id"))
    qids = qrows["vec_id"].to_numpy()
    Q = np.array(qrows["embedding"].tolist(), dtype=np.float64)
    sub = Q.shape[1] // PQ_M
    luts = np.stack([Q[:, m * sub:(m + 1) * sub] @ books[m].T
                     for m in range(PQ_M)], axis=1)  # nq × M × K
    qnorms = np.linalg.norm(Q, axis=1)
    cent_sq = np.stack([(books[m] ** 2).sum(axis=1)
                        for m in range(PQ_M)])  # M × K

    @F.pandas_udf("array<double>")
    def adc_scores(codes):
        import pandas as pd

        C = np.array(codes.tolist(),
                     dtype=np.int64).reshape(-1, PQ_M)  # n × M (0-row safe)
        rows = np.arange(PQ_M)
        # approx |c|^2 = sum_m |centroid_{code_m}|^2 (independence assm.)
        cnorm = np.sqrt(cent_sq[rows[None, :], C].sum(axis=1))
        cnorm[cnorm == 0] = np.inf
        out = np.empty((C.shape[0], len(qids)))
        for qi in range(len(qids)):
            dots = luts[qi][rows[None, :], C].sum(axis=1)
            out[:, qi] = dots / (qnorms[qi] * cnorm)
        return pd.Series(out.tolist())

    scored = (coded
              .select("vec_id", F.posexplode(adc_scores("codes"))
                      .alias("qpos", "approx"))
              .withColumn("qid", F.element_at(
                  F.array(*[F.lit(int(q)) for q in qids]),
                  F.col("qpos") + 1))
              .filter(F.col("vec_id") != F.col("qid"))
              .select("qid", F.col("vec_id").alias("cid"), "approx"))
    w = Window.partitionBy("qid").orderBy(F.desc("approx"), F.asc("cid"))
    shortlist = (scored.withColumn("rnk", F.row_number().over(w))
                 .filter(F.col("rnk") <= PQ_SHORTLIST).select("qid", "cid"))

    # exact rerank of the shortlist + exact ground truth (q60 machinery)
    qv = e.select(F.col("vec_id").alias("qid"), F.col("qv").alias("qqv"),
                  F.col("nrm").alias("qnorm")).filter(F.col("qid") < N_QUERIES)
    cv = e.select(F.col("vec_id").alias("cid"), F.col("qv").alias("cqv"),
                  F.col("nrm").alias("cnorm"))
    rer = (shortlist.join(F.broadcast(qv), "qid").join(cv, "cid")
           .select("qid", "cid",
                   (int_dot(F.col("qqv"), F.col("cqv"))
                    / (F.col("qnorm") * F.col("cnorm"))).alias("cosine")))
    rtop = (rer.withColumn("rnk", F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                                  F.asc("cid"))))
            .filter(F.col("rnk") <= TOP_K).select("qid", "cid"))

    exact = (cv.crossJoin(F.broadcast(qv))
             .filter(F.col("cid") != F.col("qid"))
             .select("qid", "cid",
                     (int_dot(F.col("qqv"), F.col("cqv"))
                      / (F.col("qnorm") * F.col("cnorm"))).alias("cosine")))
    etop = (exact.withColumn("rnk", F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                                  F.asc("cid"))))
            .filter(F.col("rnk") <= TOP_K).select("qid", "cid"))

    hits = (etop.join(rtop.withColumn("is_hit", F.lit(1)),
                      ["qid", "cid"], "left")
            .agg(F.count(F.lit(1)).cast("bigint").alias("exact_pairs"),
                 F.coalesce(F.sum("is_hit"), F.lit(0)).cast("bigint")
                 .alias("hits")))
    nq = qv.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    ncorp = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
    return (hits.crossJoin(nq).crossJoin(ncorp).select(
        "n_queries", "exact_pairs",
        F.lit(float(64 * 4 // PQ_M)).alias("compression_ratio"),
        (F.col("hits") >= F.lit(PQ_RECALL_FLOOR) * F.col("exact_pairs"))
        .alias("recall_met"),
        (F.lit(PQ_SHORTLIST) <= F.lit(PQ_SHORTLIST_CEIL) * F.col("n_corpus"))
        .alias("shortlist_cost_met")))


# --- q166: composed IVF-PQ index (coarse lists + residual codes) --------

IVFPQ_K = 16       # coarse centroids (inverted lists)
IVFPQ_NPROBE = 6   # lists probed per query
IVFPQ_SHORTLIST = 50
# Measured aggregate recall of IVF(coarse, nprobe=6/16) -> residual-PQ
# ADC -> exact rerank: 0.66 at sf0.001, 0.76 at sf0.01, 0.64 at sf0.1,
# with candidate fraction 0.39-0.45 of the corpus (2026-08-14 numpy
# replication; nprobe=4 measured 0.40-0.58 — too close to the floor).
# Bounded by coarse-probe recall, the q63 regime (its 0.60-0.68 probes
# ~0.5 of the corpus). Floor 0.4 keeps >=1.6x margin; candidate cost
# pinned <= 2x nprobe/K for cluster imbalance (= 0.75, q63's ceiling).
IVFPQ_RECALL_FLOOR = 0.4
IVFPQ_CAND_CEIL = 2.0 * IVFPQ_NPROBE / IVFPQ_K

_IVFPQ_SQL = f"""
    WITH v AS (
      SELECT vec_id, {SQL_QVEC.format(a='embedding')} AS qv,
             {SQL_INT_NORM.format(a=SQL_QVEC.format(a='embedding'))} AS nrm
      FROM embeddings),
    q AS (SELECT vec_id AS qid, qv AS qqv, nrm AS qnrm FROM v
          WHERE vec_id < {N_QUERIES} AND nrm > 0),
    scored AS (
      SELECT q.qid, c.vec_id AS cid,
             ({SQL_INT_DOT.format(a='q.qqv', b='c.qv')} / (q.qnrm * c.nrm))
               AS cosine
      FROM q CROSS JOIN v c
      WHERE c.vec_id <> q.qid AND c.nrm > 0),
    topk AS (
      SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, cid) AS rnk
        FROM scored) WHERE rnk <= {TOP_K})
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM q) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS exact_pairs,
           true AS recall_met, true AS cand_cost_met
    FROM topk
"""


@register("q166_ann_ivfpq", oracle=_IVFPQ_SQL)
def q166_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed FAISS-style index — IVF coarse lists × residual
    product quantization: a deterministic k-means coarse quantizer
    assigns every vector to one of IVFPQ_K inverted lists; the
    RESIDUAL (vector − its centroid) is PQ-encoded against shared
    codebooks; a query probes its IVFPQ_NPROBE nearest lists and
    ADC-scores only those lists' codes (approx dot = q·centroid +
    Σ_m LUT[m][code_m] — the residual decomposition makes the lookup
    tables list-independent, one table per query); the shortlist is
    reranked with the exact int64 cosine. This is the production
    shape q63 and q65 each show half of: IVF bounds WHAT is scanned
    (nprobe/K of the corpus), PQ bounds WHAT IS READ per candidate
    (16 bytes of codes, not 256 bytes of floats).

    Driver row: the q63/q135 bounds pattern — cross-engine-exact
    counts plus booleans the oracle pins to true (aggregate recall ≥
    IVFPQ_RECALL_FLOOR vs the exact top-k; candidates scanned ≤
    IVFPQ_CAND_CEIL of n_queries × corpus — the 2x covers cluster
    imbalance). Overall recall is bounded by coarse-probe recall
    (measured 0.64-0.76 across SFs, the q63 regime), not by PQ error
    (measured 1.00 standalone in q165).

    Scale: at 100 TB the corpus lives as (cluster, codes, norm) — RAM-
    resident at 24 bytes/vector; per query the scan touches nprobe/K
    of it, each candidate costing one gather+add per subspace; floats
    are only fetched for the ≤IVFPQ_SHORTLIST rerank rows. Both fits
    run on a deterministic driver-side sample.
    """
    import numpy as np
    from pyspark.sql import Window

    e = (
        spread(table(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding", qvec(F.col("embedding")).alias("qv"))
        .withColumn("nrm", int_norm(F.col("qv")))
        .filter(F.col("nrm") > 0)
        # materialized once: fit sample, encode, query rows, both
        # rerank sides and the corpus count all branch from e
        .localCheckpoint()
    )
    # identical fit computation (same sample rule, same fixed-seed
    # kmeans, same residual books) as q168's persisted index — share
    # its per-sf_dir memo instead of re-deriving byte-identical arrays
    if sf_dir not in _IVFPQ_FIT_CACHE:
        sample = np.array(
            e.filter(F.col("vec_id") % 5 == 0).select("embedding")
            .limit(CODEBOOK_SAMPLE_CAP)
            .toPandas()["embedding"].tolist(), dtype=np.float64)
        centers = _kmeans(sample, IVFPQ_K, PQ_ITERS)        # K × 64
        s_assign = ((sample[:, None, :] - centers[None, :, :]) ** 2).sum(
            axis=2).argmin(axis=1)
        _IVFPQ_FIT_CACHE[sf_dir] = (
            centers, _pq_fit(sample - centers[s_assign]))   # residual books
    centers, books = _IVFPQ_FIT_CACHE[sf_dir]

    @F.pandas_udf("struct<cluster:int, codes:array<int>>")
    def encode(emb):
        import pandas as pd

        X = _stack(emb)
        a = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2) \
            .argmin(axis=1)
        R = X - centers[a]
        sub = X.shape[1] // PQ_M
        codes = np.empty((X.shape[0], PQ_M), dtype=np.int64)
        for m, C in enumerate(books):
            d2 = ((R[:, m * sub:(m + 1) * sub][:, None, :]
                   - C[None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = d2.argmin(axis=1)
        return pd.DataFrame({"cluster": a.astype("int32"),
                             "codes": codes.tolist()})

    coded = (e.select("vec_id", "nrm", encode("embedding").alias("ix"))
             .select("vec_id", "nrm", F.col("ix.cluster").alias("cluster"),
                     F.col("ix.codes").alias("codes"))
             # the candidate count and the ADC scan both consume the
             # codes: encode once, not once per subtree
             .localCheckpoint())

    # query-side driver arrays: probed lists, per-query LUTs, q·centroid
    qrows = (e.filter(F.col("vec_id") < N_QUERIES)
             .select("vec_id", "embedding").toPandas()
             .sort_values("vec_id"))
    qids = qrows["vec_id"].to_numpy()
    Q = np.array(qrows["embedding"].tolist(), dtype=np.float64)
    sub = Q.shape[1] // PQ_M
    qd2 = ((Q[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    probes = np.argsort(qd2, axis=1)[:, :IVFPQ_NPROBE]      # nq × nprobe
    luts = np.stack([np.stack([Q[i, m * sub:(m + 1) * sub] @ books[m].T
                               for m in range(PQ_M)])
                     for i in range(len(qids))])            # nq × M × K
    qdotc = Q @ centers.T                                   # nq × K
    qpos_of = {int(q): i for i, q in enumerate(qids)}

    # probe plan as a tiny broadcast DF: (qid, cluster)
    from ..session import local_df

    # local_df, not createDataFrame: a bare local relation evaluates
    # as defaultParallelism Python slices (see session.local_df)
    probe_df = F.broadcast(local_df(
        spark,
        [(int(qids[i]), int(c)) for i in range(len(qids))
         for c in probes[i]], "qid int, cluster int"))

    @F.pandas_udf("double")
    def adc(qid, cluster, codes):
        import pandas as pd

        C = np.array(codes.tolist(),
                     dtype=np.int64).reshape(-1, PQ_M)  # n × M (0-row safe)
        qi = qid.map(qpos_of).to_numpy()                  # n
        cl = cluster.to_numpy()                           # n
        rows = np.arange(PQ_M)
        # luts: nq × M × K — gather each row's (query, subspace, code)
        res = luts[qi[:, None], rows[None, :], C].sum(axis=1)
        return pd.Series(res + qdotc[qi, cl])

    cand = (coded.join(probe_df, "cluster")
            .filter(F.col("vec_id") != F.col("qid")))
    n_cand = cand.groupBy().count().withColumnRenamed("count", "n_cand")
    # cosine's 1/|q| factor is CONSTANT within a query partition, so it
    # cannot change any per-query ranking — dividing by the candidate
    # norm alone ranks identically and avoids indexing a driver array
    # by qid value (which breaks if a zero-norm query leaves a gap)
    scored = cand.select(
        "qid", F.col("vec_id").alias("cid"),
        (adc("qid", "cluster", "codes") / F.col("nrm")).alias("approx"))
    w = Window.partitionBy("qid").orderBy(F.desc("approx"), F.asc("cid"))
    shortlist = (scored.withColumn("rnk", F.row_number().over(w))
                 .filter(F.col("rnk") <= IVFPQ_SHORTLIST)
                 .select("qid", "cid"))

    qv = e.select(F.col("vec_id").alias("qid"), F.col("qv").alias("qqv"),
                  F.col("nrm").alias("qnorm")).filter(F.col("qid") < N_QUERIES)
    cv = e.select(F.col("vec_id").alias("cid"), F.col("qv").alias("cqv"),
                  F.col("nrm").alias("cnorm"))
    rer = (shortlist.join(F.broadcast(qv), "qid").join(cv, "cid")
           .select("qid", "cid",
                   (int_dot(F.col("qqv"), F.col("cqv"))
                    / (F.col("qnorm") * F.col("cnorm"))).alias("cosine")))
    rtop = (rer.withColumn("rnk", F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                                  F.asc("cid"))))
            .filter(F.col("rnk") <= TOP_K).select("qid", "cid"))
    exact = (cv.crossJoin(F.broadcast(qv))
             .filter(F.col("cid") != F.col("qid"))
             .select("qid", "cid",
                     (int_dot(F.col("qqv"), F.col("cqv"))
                      / (F.col("qnorm") * F.col("cnorm"))).alias("cosine")))
    etop = (exact.withColumn("rnk", F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                                  F.asc("cid"))))
            .filter(F.col("rnk") <= TOP_K).select("qid", "cid"))
    hits = (etop.join(rtop.withColumn("is_hit", F.lit(1)),
                      ["qid", "cid"], "left")
            .agg(F.count(F.lit(1)).cast("bigint").alias("exact_pairs"),
                 F.coalesce(F.sum("is_hit"), F.lit(0)).cast("bigint")
                 .alias("hits")))
    nq = qv.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    ncorp = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
    return (hits.crossJoin(nq).crossJoin(F.broadcast(n_cand))
            .crossJoin(ncorp).select(
        "n_queries", "exact_pairs",
        (F.col("hits") >= F.lit(IVFPQ_RECALL_FLOOR) * F.col("exact_pairs"))
        .alias("recall_met"),
        (F.col("n_cand") <= F.lit(IVFPQ_CAND_CEIL) * F.col("n_queries")
         * F.col("n_corpus")).alias("cand_cost_met")))


# --- q168: the IVF-PQ index PERSISTED as a COLF dataset -----------------
#
# q166 builds its index per run; a production system builds once and
# queries many. q168 materializes the index as a COLF dataset laid out
# BY CLUSTER (repartitionByRange on the coarse list id), so the COLF
# zone maps turn the inverted-list structure into file pruning: probing
# nprobe of K lists opens ~nprobe/K of the index files — the storage
# format is doing the ANN index's list-selection I/O. Codes ride as 16
# int32 columns (COLF's 3-type domain has no arrays), norms as
# float64, and the codebooks/centroids as a compact utf8-hex metadata
# table beside the index — everything reopenable by a fresh session.

INDEX_FILES = IVFPQ_K  # index layout: one file per coarse cluster

_IVFPQ_FIT_CACHE: dict[str, tuple] = {}  # sf_dir -> (centers, books)


@register("q168_ann_index_colf", oracle=_IVFPQ_SQL)
def q168_ann_index_colf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ over a PERSISTED COLF index: build once (coarse k-means →
    residual PQ codes → write (vec_id, cluster, c0..c15, nrm) as a
    cluster-range-partitioned COLF dataset + a codebook metadata table),
    then query a FRESH scan of it — the probe's `cluster IN (...)`
    filter reaches ColfReader.pushFilters and the zone maps open only
    the files holding the probed lists (asserted in-query: ≤ half the
    index files for nprobe=6/16). ADC scoring reads 16 int32 codes and
    one float64 norm per candidate — the floats are only touched for
    the exact int64 rerank of the shortlist. Same bounds oracle as
    q166 (the persisted index encodes the same codes, so recall/cost
    floors carry over).

    Scale: this is index-as-table — at 100 TB the (cluster, codes,
    norm) dataset is ~24 bytes/vector, its layout IS the inverted
    list, and every ANN query becomes a zone-map-pruned columnar scan
    plus a shortlist join; rebuilds are a layout shuffle, not a
    format change. The COLF tier (zone maps, stripes, compaction,
    snapshots) applies to the index like any other dataset.
    """
    import numpy as np
    from pyspark.sql import Window

    from ..colf.datasource import ColfReader
    from ..colf.datasource import register as register_ds
    from ..staging import stage_once

    register_ds(spark)
    e = (
        spread(table(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding", qvec(F.col("embedding")).alias("qv"))
        .withColumn("nrm", int_norm(F.col("qv")))
        .filter(F.col("nrm") > 0)
        # fit sample, query rows and both rerank sides branch from e:
        # materialize the quantization once (the q165/q166 pattern)
        .localCheckpoint()
    )
    # the codebook fit is deterministic (fixed sample rule + fixed-seed
    # kmeans), so memoize it per sf_dir alongside the staged index —
    # repeat invocations paid ~0.9 s re-deriving byte-identical
    # centers/books the staged dataset was built from
    if sf_dir not in _IVFPQ_FIT_CACHE:
        sample = np.array(
            e.filter(F.col("vec_id") % 5 == 0).select("embedding")
            .limit(CODEBOOK_SAMPLE_CAP)
            .toPandas()["embedding"].tolist(), dtype=np.float64)
        centers = _kmeans(sample, IVFPQ_K, PQ_ITERS)
        sa = ((sample[:, None, :] - centers[None, :, :]) ** 2).sum(
            axis=2).argmin(axis=1)
        _IVFPQ_FIT_CACHE[sf_dir] = (centers, _pq_fit(sample - centers[sa]))
    centers, books = _IVFPQ_FIT_CACHE[sf_dir]

    def build(d: str) -> None:
        @F.pandas_udf("struct<cluster:int, codes:array<int>>")
        def encode(emb):
            import pandas as pd

            X = _stack(emb)
            a = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2) \
                .argmin(axis=1)
            R = X - centers[a]
            sub = X.shape[1] // PQ_M
            codes = np.empty((X.shape[0], PQ_M), dtype=np.int64)
            for m, C in enumerate(books):
                d2 = ((R[:, m * sub:(m + 1) * sub][:, None, :]
                       - C[None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = d2.argmin(axis=1)
            return pd.DataFrame({"cluster": a.astype("int32"),
                                 "codes": codes.tolist()})

        coded = (e.select("vec_id", "nrm", encode("embedding").alias("ix"))
                 .select(F.col("vec_id").cast("int").alias("vec_id"),
                         F.col("nrm"),
                         F.col("ix.cluster").alias("cluster"),
                         *[F.element_at("ix.codes", m + 1).cast("int")
                           .alias(f"c{m}") for m in range(PQ_M)]))
        (coded.repartitionByRange(INDEX_FILES, "cluster")
         .write.format("colf").option("version", "2")
         .mode("append").save(d + "/index"))
        # codebooks + centroids as a COLF metadata table: one row per
        # (kind, i, j) with the float64 value — tiny, reopenable
        rows = ([("center", int(i), int(j), float(centers[i, j]))
                 for i in range(centers.shape[0])
                 for j in range(centers.shape[1])]
                + [("book", int(m * 1000 + k), int(j), float(books[m][k, j]))
                   for m in range(PQ_M)
                   for k in range(books[m].shape[0])
                   for j in range(books[m].shape[1])])
        from ..session import local_df

        (local_df(spark, rows, "kind string, i int, j int, v double")
         .write.format("colf").mode("append").save(d + "/meta"))

    base = stage_once(("ann-index", sf_dir), "colf_annix_", build)
    ix_path, meta_path = base + "/index", base + "/meta"

    # a FRESH consumer reopens the index: codebooks from the metadata
    # table (driver-side, k×dim arrays), candidates from the pruned scan
    meta = spark.read.format("colf").load(meta_path).collect()
    c_rows = [(r["i"], r["j"], r["v"]) for r in meta if r["kind"] == "center"]
    kdim = max(j for _, j, _ in c_rows) + 1
    centers2 = np.zeros((IVFPQ_K, kdim))
    for i, j, v in c_rows:
        centers2[i, j] = v
    sub = kdim // PQ_M
    books2 = [np.zeros((PQ_K, sub)) for _ in range(PQ_M)]
    for r in meta:
        if r["kind"] == "book":
            books2[r["i"] // 1000][r["i"] % 1000, r["j"]] = r["v"]

    qrows = (e.filter(F.col("vec_id") < N_QUERIES)
             .select("vec_id", "embedding").toPandas()
             .sort_values("vec_id"))
    qids = qrows["vec_id"].to_numpy()
    Q = np.array(qrows["embedding"].tolist(), dtype=np.float64)
    qd2 = ((Q[:, None, :] - centers2[None, :, :]) ** 2).sum(axis=2)
    probes = np.argsort(qd2, axis=1)[:, :IVFPQ_NPROBE]
    probed_clusters = sorted({int(c) for row in probes for c in row})
    luts = np.stack([np.stack([Q[i, m * sub:(m + 1) * sub] @ books2[m].T
                               for m in range(PQ_M)])
                     for i in range(len(qids))])
    qdotc = Q @ centers2.T
    qpos_of = {int(q): i for i, q in enumerate(qids)}

    # the layout claim, from the reader's own planning, for ONE query
    # (the per-query scan cost is what scales; a BATCH of near-random
    # queries legitimately unions most lists): its nprobe-cluster IN
    # filter must open ~nprobe of the K one-cluster files
    from pyspark.sql.datasource import In as _In

    ix_schema = spark.read.format("colf").load(ix_path).schema
    r = ColfReader({"path": ix_path}, ix_schema)
    r.pushFilters([_In(("cluster",), tuple(int(c) for c in probes[0]))])
    opened = len({p.file for p in r.partitions() if p.file is not None})
    if opened > IVFPQ_NPROBE + 1:  # +1: a range boundary may straddle
        raise AssertionError(
            f"one query's probe scan opened {opened}/{INDEX_FILES} index "
            f"files (nprobe={IVFPQ_NPROBE}) — the cluster-range layout "
            f"is not pruning the inverted lists")

    ix = (spark.read.format("colf").load(ix_path)
          .filter(F.col("cluster").isin(probed_clusters)))
    from ..session import local_df

    # local_df, not createDataFrame: a bare local relation evaluates
    # as defaultParallelism Python slices (see session.local_df)
    probe_df = F.broadcast(local_df(
        spark,
        [(int(qids[i]), int(c)) for i in range(len(qids))
         for c in probes[i]], "qid int, cluster int"))

    @F.pandas_udf("double")
    def adc(qid, cluster, *code_cols):
        import pandas as pd

        C = np.stack([c.to_numpy() for c in code_cols], axis=1)
        qi = qid.map(qpos_of).to_numpy()
        cl = cluster.to_numpy()
        rows_m = np.arange(PQ_M)
        res = luts[qi[:, None], rows_m[None, :], C].sum(axis=1)
        return pd.Series(res + qdotc[qi, cl])

    cand = (ix.join(probe_df, "cluster")
            .filter(F.col("vec_id") != F.col("qid")))
    n_cand = cand.groupBy().count().withColumnRenamed("count", "n_cand")
    scored = cand.select(
        "qid", F.col("vec_id").alias("cid"),
        (adc("qid", "cluster", *[f"c{m}" for m in range(PQ_M)])
         / F.col("nrm")).alias("approx"))
    w = Window.partitionBy("qid").orderBy(F.desc("approx"), F.asc("cid"))
    shortlist = (scored.withColumn("rnk", F.row_number().over(w))
                 .filter(F.col("rnk") <= IVFPQ_SHORTLIST)
                 .select("qid", "cid"))

    qv = e.select(F.col("vec_id").alias("qid"), F.col("qv").alias("qqv"),
                  F.col("nrm").alias("qnorm")).filter(F.col("qid") < N_QUERIES)
    cv = e.select(F.col("vec_id").alias("cid"), F.col("qv").alias("cqv"),
                  F.col("nrm").alias("cnorm"))
    rer = (shortlist.join(F.broadcast(qv), "qid").join(cv, "cid")
           .select("qid", "cid",
                   (int_dot(F.col("qqv"), F.col("cqv"))
                    / (F.col("qnorm") * F.col("cnorm"))).alias("cosine")))
    rtop = (rer.withColumn("rnk", F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                                  F.asc("cid"))))
            .filter(F.col("rnk") <= TOP_K).select("qid", "cid"))
    exact = (cv.crossJoin(F.broadcast(qv))
             .filter(F.col("cid") != F.col("qid"))
             .select("qid", "cid",
                     (int_dot(F.col("qqv"), F.col("cqv"))
                      / (F.col("qnorm") * F.col("cnorm"))).alias("cosine")))
    etop = (exact.withColumn("rnk", F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                                  F.asc("cid"))))
            .filter(F.col("rnk") <= TOP_K).select("qid", "cid"))
    hits = (etop.join(rtop.withColumn("is_hit", F.lit(1)),
                      ["qid", "cid"], "left")
            .agg(F.count(F.lit(1)).cast("bigint").alias("exact_pairs"),
                 F.coalesce(F.sum("is_hit"), F.lit(0)).cast("bigint")
                 .alias("hits")))
    nq = qv.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    ncorp = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
    return (hits.crossJoin(nq).crossJoin(F.broadcast(n_cand))
            .crossJoin(ncorp).select(
        "n_queries", "exact_pairs",
        (F.col("hits") >= F.lit(IVFPQ_RECALL_FLOOR) * F.col("exact_pairs"))
        .alias("recall_met"),
        (F.col("n_cand") <= F.lit(IVFPQ_CAND_CEIL) * F.col("n_queries")
         * F.col("n_corpus")).alias("cand_cost_met")))


def _pca_fit(e: DataFrame, d: int, k: int):
    """One-pass distributed PCA fit over an ``embedding`` column:
    Arrow-batched per-batch partials (count, sum vector, raw Gram sum
    — d*(d+3)/2+1 doubles per batch, never rows), folded on the driver
    into the covariance, then ``numpy.linalg.eigh``. Returns
    (n, mean[d], components[d x k], eigenvalues[d] descending). Driver
    state is d^2 doubles; at d in the thousands swap eigh for
    randomized SVD over the same partials."""
    import numpy as np
    import pandas as pd

    def partials(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        for j, pdf in enumerate(it):
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame({
                "pid": [pid * 100_000 + j],  # deterministic fold order
                "n": [m.shape[0]],
                "s": [m.sum(axis=0).tolist()],
                "g": [(m.T @ m).reshape(-1).tolist()],
            })

    parts = sorted(
        e.select("embedding").mapInPandas(
            partials,
            "pid long, n long, s array<double>, g array<double>"
        ).collect(),
        key=lambda r: r["pid"])
    # the fold is float addition (non-associative); sorting the
    # partials by (partition, batch) makes the driver fold — and so
    # the eigenvectors and every shortlist computed from them —
    # bit-stable across runs regardless of collect() arrival order
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"]) for r in parts], axis=0)
    g = np.sum([np.asarray(r["g"]).reshape(d, d) for r in parts], axis=0)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)          # ascending
    evals, evecs = evals[::-1], evecs[:, ::-1]  # descending
    return n, mean, evecs[:, :k], evals


# --- q190: distributed PCA over the embedding column ---------------------

PCA_K = 16
PCA_TOL = 1e-4


@register(
    "q190_embedding_pca",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(64 AS BIGINT) AS d_in,
           CAST({PCA_K} AS BIGINT) AS d_out,
           CAST(COUNT(*) AS BIGINT) AS n_projected,
           true AS orthonormal_ok,
           true AS variance_order_ok,
           true AS variance_share_ok,
           true AS reconstruction_ok
    FROM embeddings
    """,
)
def q190_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding column — the dimensionality-
    reduction stage an ANN/clustering pipeline runs before indexing
    (64-d -> 16-d cuts every downstream dot product 4x). The fit is
    the textbook one-pass distributed covariance: Arrow-batched
    ``mapInPandas`` emits per-batch partials (count, sum vector,
    raw outer-product sum — d*(d+3)/2+1 doubles per batch, never rows),
    the d x d Gram matrix folds on the driver (64 x 64 — trivial;
    at d in the thousands this step becomes randomized SVD, same
    partials), and ``numpy.linalg.eigh`` yields the components, which
    broadcast back for a batch-matmul projection.

    PCA is non-SQL-expressible, so the driver row is the q135-style
    bounds audit, computed IN-QUERY from the fitted model + projected
    data and pinned true by the oracle: components orthonormal
    (|P^T P - I|_max < {PCA_TOL}), explained variances non-increasing,
    top-{PCA_K} variance share >= {PCA_K}/64 of total (eigenvalue
    ordering guarantees it — a wrong eigensolve breaks it), and mean
    squared reconstruction error == the residual eigenvalue sum
    (Pythagoras for PCA; checked against the PROJECTED data, so a
    broken projection step fails even if the fit was right). Exact
    row counts tie the audit to the full table.

    Scale: one data pass for the partials, one for the projection;
    driver state is d^2 doubles; the projection is a broadcast matmul
    inside Arrow batches — no shuffle anywhere."""
    import numpy as np
    import pandas as pd

    e = spread(table(spark, sf_dir, "embeddings"))
    d = 64
    n, mean, comps, evals = _pca_fit(e, d, PCA_K)

    orthonormal_ok = bool(
        np.abs(comps.T @ comps - np.eye(PCA_K)).max() < PCA_TOL)
    variance_order_ok = bool(np.all(np.diff(evals) <= PCA_TOL))
    total_var = float(evals.sum())
    top_var = float(evals[:PCA_K].sum())
    variance_share_ok = bool(top_var >= (PCA_K / d) * total_var - PCA_TOL)

    bc = spark.sparkContext.broadcast(
        {"mean": mean.tolist(), "comps": comps.tolist()})

    def project(it):
        mu = np.asarray(bc.value["mean"])
        p = np.asarray(bc.value["comps"])
        for pdf in it:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            c = m - mu
            z = c @ p                            # n x k
            resid = c - z @ p.T
            yield pd.DataFrame({
                "n": [m.shape[0]],
                "sq_err": [float((resid ** 2).sum())],
            })

    proj = e.select("embedding").mapInPandas(
        project, "n long, sq_err double").collect()
    n_projected = sum(r["n"] for r in proj)
    mse = sum(r["sq_err"] for r in proj) / n
    resid_eigensum = float(evals[PCA_K:].sum())
    reconstruction_ok = bool(
        abs(mse - resid_eigensum) <= PCA_TOL * max(1.0, total_var))

    from ..session import local_df

    return local_df(
        spark,
        [(int(n), d, PCA_K, int(n_projected), orthonormal_ok,
          variance_order_ok, variance_share_ok, reconstruction_ok)],
        "n_vectors long, d_in long, d_out long, n_projected long, "
        "orthonormal_ok boolean, variance_order_ok boolean, "
        "variance_share_ok boolean, reconstruction_ok boolean")


# --- q192: PCA-compressed ANN (reduced-space scan + exact rerank) ---------

PCA_ANN_K = 32              # reduced dimensionality (2x cheaper dots)
PCA_ANN_CAND_FRAC = 10      # shortlist = corpus/10 per query (min 50)
PCA_ANN_CAND_MIN = 50
PCA_ANN_RECALL_FLOOR = 0.9  # recall@TOP_K vs the exact full-space answer


@register(
    "q192_ann_pca",
    oracle=f"""
    SELECT CAST({N_QUERIES} AS BIGINT) AS n_queries,
           CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_corpus,
           true AS recall_met,
           true AS cand_cost_met
    FROM (SELECT 1)
    """,
)
def q192_ann_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via LEARNED dimensionality reduction (the matryoshka /
    cheap-first-scoring tier, composing q190's PCA into the index
    family next to LSH q62, IVF q63, PQ q165): the primary scan scores
    every candidate in the 16-d PCA space (4x fewer multiply-adds than
    the 64-d original), keeps a {PCA_ANN_CAND}-candidate shortlist per
    query (10%% of the corpus, floor 50), and reranks it EXACTLY in
    full space with the same int64-quantized arithmetic as q60 —
    approximation bounds what is SCORED cheaply, never what is
    ANSWERED. The near-isotropic testdata embeddings are PCA's WORST
    case (top-32/64 keeps only ~57-65%% of variance), so the measured
    0.94+ recall here is the honest lower bound — clustered real-world
    embeddings do better at smaller k. The driver row is the
    q135-style bounds audit: recall@{TOP_K} against the exact
    full-space top-{TOP_K} must clear {PCA_ANN_RECALL_FLOOR}, and the
    shortlist must respect its ceiling; both booleans are pinned true
    by the oracle alongside exact corpus counts.

    Scale: the PCA fit is one partials pass (q190); the reduced scan
    is the only per-candidate work and is 4x cheaper per pair; the
    exact tier touches CAND*queries rows. On a 100 TB corpus this
    composes with IVF (reduce first, then coarse-quantize the reduced
    space) — the standard FAISS OPQ/PCAR pre-transform."""
    import numpy as np

    e = (spread(table(spark, sf_dir, "embeddings"))
         .select("vec_id", "embedding",
                 qvec(F.col("embedding")).alias("qv"))
         .withColumn("nrm", int_norm(F.col("qv")))
         .filter(F.col("nrm") > 0)
         # count, PCA fit, projection, both rerank sides and the
         # corpus count all branch from e: materialize it once
         .localCheckpoint())
    n_corpus_v = e.count()
    cand_cap = max(PCA_ANN_CAND_MIN, n_corpus_v // PCA_ANN_CAND_FRAC)
    _, mean, comps, _ = _pca_fit(e, 64, PCA_ANN_K)
    bc = spark.sparkContext.broadcast(
        {"mean": mean.tolist(), "comps": comps.tolist()})

    def project(it):
        import pandas as pd

        mu = np.asarray(bc.value["mean"])
        p = np.asarray(bc.value["comps"])
        for pdf in it:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            z = (m - mu) @ p
            # unit-normalize in reduced space so the scan is a dot
            nz = np.linalg.norm(z, axis=1)
            nz[nz == 0] = 1.0
            z = z / nz[:, None]
            yield pd.DataFrame({"vec_id": pdf["vec_id"],
                                "red": [r.tolist() for r in z]})

    red = e.select("vec_id", "embedding").mapInPandas(
        project, "vec_id long, red array<double>") \
        .localCheckpoint()  # query side + scan side both read it
    from pyspark.sql import Window

    qr = (red.filter(F.col("vec_id") < N_QUERIES)
          .select(F.col("vec_id").alias("qid"), F.col("red").alias("qred")))
    # reduced-space scan: 16-d dot per (query, candidate)
    dot = F.aggregate(
        F.zip_with("red", "qred", lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x)
    cand = (red.crossJoin(F.broadcast(qr))
            .filter(F.col("vec_id") != F.col("qid"))
            .select("qid", F.col("vec_id").alias("cid"),
                    dot.alias("rscore")))
    wq = Window.partitionBy("qid").orderBy(F.desc("rscore"), F.asc("cid"))
    shortlist = (cand.withColumn("rnk", F.row_number().over(wq))
                 .filter(F.col("rnk") <= cand_cap)
                 .select("qid", "cid"))
    n_cand = shortlist.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand"))

    # exact full-space rerank of the shortlist (int64-quantized — the
    # q60 arithmetic, bit-identical across engines)
    cv = e.select(F.col("vec_id").alias("cid"), F.col("qv").alias("cqv"),
                  F.col("nrm").alias("cnorm"))
    qv_ = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("qv").alias("qqv"),
        F.col("nrm").alias("qnorm"))
    rer = (shortlist.join(cv, "cid").join(F.broadcast(qv_), "qid")
           .select("qid", "cid",
                   (int_dot(F.col("qqv"), F.col("cqv"))
                    / (F.col("qnorm") * F.col("cnorm"))).alias("cosine")))
    rtop = (rer.withColumn("rnk", F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                                  F.asc("cid"))))
            .filter(F.col("rnk") <= TOP_K).select("qid", "cid"))
    # exact ground truth: full-space brute force
    exact = (cv.crossJoin(F.broadcast(qv_))
             .filter(F.col("cid") != F.col("qid"))
             .select("qid", "cid",
                     (int_dot(F.col("qqv"), F.col("cqv"))
                      / (F.col("qnorm") * F.col("cnorm"))).alias("cosine")))
    etop = (exact.withColumn("rnk", F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                                  F.asc("cid"))))
            .filter(F.col("rnk") <= TOP_K).select("qid", "cid"))
    hits = (etop.join(rtop.withColumn("is_hit", F.lit(1)),
                      ["qid", "cid"], "left")
            .agg(F.count(F.lit(1)).cast("bigint").alias("exact_pairs"),
                 F.coalesce(F.sum("is_hit"), F.lit(0)).cast("bigint")
                 .alias("hits")))
    ncorp = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
    return (hits.crossJoin(F.broadcast(n_cand)).crossJoin(ncorp)
            .select(
        F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
        "n_corpus",
        (F.col("hits") >= F.lit(PCA_ANN_RECALL_FLOOR)
         * F.col("exact_pairs")).alias("recall_met"),
        (F.col("n_cand") <= F.lit(int(cand_cap) * N_QUERIES))
        .alias("cand_cost_met")))


# --- q196: semantic dedup (SemDeDup) --------------------------------------

SEM_K_CLUSTERS = 4      # k-means clusters (scale: ~n/25k clusters at 100 TB)
SEM_TAU = 0.35          # cosine threshold: remove if sim to a kept
# cluster-mate exceeds it (the testdata embeddings are near-isotropic,
# so real semantic-near-dup thresholds like 0.95 would remove nothing;
# 0.35 exercises the operator's full policy surface on this corpus)
SEM_KMEANS_ITERS = 10


@register(
    "q196_semantic_dedup",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST({SEM_K_CLUSTERS} AS BIGINT) AS n_clusters,
           true AS partition_ok,
           true AS kept_unique_ok,
           true AS removed_covered_ok,
           true AS dedup_nontrivial_ok
    FROM embeddings
    """,
)
def q196_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup (SemDeDup, Abbas et al. 2023 — completing the
    dedup family: exact q50, near-text q52/q53, near-embedding pairs
    q54, substring q191): cluster the embeddings with k-means in PCA
    space, then WITHIN each cluster greedily keep one representative
    per semantic group — iterate centroid-closest first
    (deterministic (distance, vec_id) order) and remove any item whose
    cosine to an already-kept cluster-mate exceeds tau. Cross-cluster
    near-dups are missed BY DESIGN (that approximation is what makes
    SemDeDup linear-ish instead of n^2 — the paper's trade).

    k-means is non-SQL-expressible, so the driver row is the
    q135-style bounds audit, computed in-query from the outputs and
    pinned true by the oracle: (a) partition_ok — every vector
    assigned exactly one cluster and kept+removed == n (exact
    recount); (b) kept_unique_ok — an independent full pairwise pass
    over each cluster's KEPT set finds no pair above tau (the greedy's
    postcondition, re-proved, not assumed); (c) removed_covered_ok —
    every removed item really does exceed tau against some kept
    cluster-mate (nothing was dropped spuriously); (d)
    dedup_nontrivial_ok — the operator removed >=1 and kept >=1 per
    cluster (guards against a degenerate all-kept/all-removed run).

    Scale: the PCA fit is one partials pass (q190); centroids fit on a
    deterministic CODEBOOK_SAMPLE_CAP driver sample and broadcast
    (Lloyd on the sample — the SemDeDup paper's k is ~corpus/25k, so
    centroids stay metadata-sized); assignment is a broadcast batch
    matmul in Arrow batches; the per-cluster pass is one applyInPandas
    shuffle keyed on cluster id, and its pairwise work is bounded by
    the cluster size k-means already controls."""
    import numpy as np
    import pandas as pd

    e = spread(table(spark, sf_dir, "embeddings"))
    d = 64
    n, mean, comps, _evals = _pca_fit(e, d, PCA_K)

    # deterministic centroid fit on the capped driver sample
    sample = np.stack(
        e.orderBy("vec_id").limit(CODEBOOK_SAMPLE_CAP)
        .toPandas()["embedding"].to_numpy()).astype(np.float64)
    Z = (sample - mean) @ comps
    cent = Z[:SEM_K_CLUSTERS].copy()
    for _ in range(SEM_KMEANS_ITERS):
        d2 = ((Z[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        a = d2.argmin(1)
        for k in range(SEM_K_CLUSTERS):
            if (a == k).any():
                cent[k] = Z[a == k].mean(0)

    bc = spark.sparkContext.broadcast({
        "mean": mean.tolist(), "comps": comps.tolist(),
        "cent": cent.tolist(), "tau": SEM_TAU})

    def assign(it):
        mu = np.asarray(bc.value["mean"])
        p = np.asarray(bc.value["comps"])
        c = np.asarray(bc.value["cent"])
        for pdf in it:
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            z = (m - mu) @ p
            d2 = ((z[:, None, :] - c[None, :, :]) ** 2).sum(-1)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "embedding": pdf["embedding"],
                "cluster": d2.argmin(1).astype("int32"),
                "dist": d2.min(1)})

    assigned = e.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, embedding array<float>, cluster int, "
                "dist double")

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        # greedy SemDeDup in deterministic (dist, vec_id) order, THEN
        # an independent audit of the result's invariants
        pdf = pdf.sort_values(["dist", "vec_id"]).reset_index(drop=True)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        tau = bc.value["tau"]
        kept_idx: list[int] = []
        kept_flag = np.zeros(len(pdf), dtype=bool)
        for i in range(len(pdf)):
            if not kept_idx or float(
                    (Xn[kept_idx] @ Xn[i]).max()) <= tau:
                kept_idx.append(i)
                kept_flag[i] = True
        K = Xn[kept_flag]
        S = K @ K.T
        np.fill_diagonal(S, -1.0)
        viol_kept = int((S > tau).sum() // 2)       # must be 0
        R = Xn[~kept_flag]
        uncovered = (int(((R @ K.T).max(axis=1) <= tau).sum())
                     if len(R) and len(K) else len(R))  # must be 0
        return pd.DataFrame({
            "cluster": [int(pdf["cluster"].iloc[0])],
            "n": [len(pdf)],
            "n_kept": [int(kept_flag.sum())],
            "n_removed": [int((~kept_flag).sum())],
            "viol_kept_pairs": [viol_kept],
            "uncovered_removed": [uncovered]})

    stats = assigned.groupBy("cluster").applyInPandas(
        dedup_cluster,
        "cluster int, n long, n_kept long, n_removed long, "
        "viol_kept_pairs long, uncovered_removed long")

    agg = stats.agg(
        F.count(F.lit(1)).alias("clusters_seen"),
        F.sum("n").alias("n_assigned"),
        F.sum("n_kept").alias("n_kept"),
        F.sum("n_removed").alias("n_removed"),
        F.sum("viol_kept_pairs").alias("viol"),
        F.sum("uncovered_removed").alias("uncov"),
        F.min("n_kept").alias("min_kept"))
    total = e.agg(F.count(F.lit(1)).alias("n_vectors"))
    return (agg.crossJoin(F.broadcast(total)).select(
        F.col("n_vectors").cast("bigint"),
        F.lit(SEM_K_CLUSTERS).cast("bigint").alias("n_clusters"),
        ((F.col("n_assigned") == F.col("n_vectors"))
         & (F.col("n_kept") + F.col("n_removed") == F.col("n_vectors"))
         & (F.col("clusters_seen") <= SEM_K_CLUSTERS))
        .alias("partition_ok"),
        (F.col("viol") == 0).alias("kept_unique_ok"),
        (F.col("uncov") == 0).alias("removed_covered_ok"),
        ((F.col("n_removed") >= 1) & (F.col("min_kept") >= 1))
        .alias("dedup_nontrivial_ok")))
