"""Vector similarity query family over the ``embeddings`` table
(north-star "similarity search"; reference W3 brute-force knn.py:4-26).

Oracle-checked outputs are id/rank-only: distance VALUES are float and
engine summation order may differ in the last ulp, but the induced
ORDERING is stable for non-degenerate data, and ranks/ids are exact.
q53 goes further — both sides rank on the 1e-6 fixed-point cosine, so
even a degenerate near-tie cannot flip a rank. The one float output
(q52 norms) goes through exact DECIMAL unnest summation on both
sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_mrdf_spark.cache import memoized_df
from pyspark_mrdf_spark.io import load_table
from pyspark_mrdf_spark.operators.similarity import ann_ivf
from pyspark_mrdf_spark.queries import register

K = 10


def _exact_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN graph of ``embeddings`` (blocked distributed tier),
    memoized per session: q50 serves it to the driver, q56's recall
    denominator and q57's both reuse the same materialized edges
    (blocked ≡ broadcast tier exactly — equivalence-tested)."""
    from pyspark_mrdf_spark.operators.similarity import knn_exact_blocked

    return memoized_df(
        spark,
        ("exact_knn_blocked", sf_dir, K),
        lambda: knn_exact_blocked(load_table(spark, sf_dir, "embeddings"), K),
    )


def _ivf_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate graph (deterministic lowest-id quantizer),
    memoized per session: shared by q51 (graph) and q57 (recall)."""
    return memoized_df(
        spark,
        ("ann_ivf", sf_dir, K, 8, 2),
        lambda: ann_ivf(load_table(spark, sf_dir, "embeddings"), K, n_centroids=8, n_probe=2),
    )


def _mrdf_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded MRDF graph, memoized per session: q55 and q56 build the
    IDENTICAL (seed, ρ, α, τ, max_iter, refine_rounds) graph — bench
    and pytest pay the iteration loop once, not twice."""
    from pyspark_mrdf_spark.algorithms.mrdf import knn_graph

    # refine_rounds=1 at oracle scale: the second neighbor-of-neighbor
    # round recovered +0.035 recall (0.906 → 0.941) for ~2× the cost of
    # the whole iteration loop; one round keeps recall ≥ 0.9 (measured
    # 0.9058 at sf0.1, SCALABILITY.json) at roughly half the wall time.
    return memoized_df(
        spark,
        ("mrdf_knn_graph", sf_dir, K, 4, 600, 0.01, 42, 3, 1),
        lambda: knn_graph(
            load_table(spark, sf_dir, "embeddings"),
            K, rho=4, alpha=600, tau=0.01, seed=42, max_iter=3, refine_rounds=1,
            # bench-pinned dial: recall >= 0.9 is measured AT THIS
            # BUDGET (SCALABILITY.json), and round-over-round bench
            # comparability needs a fixed iteration count — the
            # hands-free escalation is for un-pinned production calls
            auto_escalate=False,
        ),
        # lazy: q56's recall action (or q55's caller) materializes the
        # checkpoint — one fewer job on the critical path
        eager=False,
    )


@register(
    "q50_knn_exact",
    oracle=f"""
SELECT src, dst, rnk FROM (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_distance(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])), b.vec_id) AS rnk
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
WHERE rnk <= {K}
""",
    description="exact brute-force k-NN graph (reference W3, knn.py:4-26): distributed blocked scan (corpus never leaves executors) vs SQL cross-join oracle",
    tags=("vector", "knn"),
)
def q50_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _exact_graph(spark, sf_dir).select(
        "src", "dst", F.col("rnk").cast("bigint").alias("rnk")
    )


@register(
    "q51_ann_ivf",
    driver=False,  # r8 rotation: 7x driver-green, cedes its slot to q99-q104 (q57 is its trained superset; vector family keeps 10 driver reps)
    oracle=f"""
WITH cent AS (
  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cent_vec
  FROM embeddings ORDER BY vec_id LIMIT 8),
assigned AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cent_id AS cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cent_vec), c.cent_id) AS arnk
    FROM embeddings e CROSS JOIN cent c)
  WHERE arnk = 1),
probes AS (
  SELECT vec_id AS q_id, embedding AS q_vec, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cent_id AS cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cent_vec), c.cent_id) AS prnk
    FROM embeddings e CROSS JOIN cent c)
  WHERE prnk <= 2)
SELECT src, dst, rnk FROM (
  SELECT p.q_id AS src, a.vec_id AS dst,
         ROW_NUMBER() OVER (PARTITION BY p.q_id
           ORDER BY list_distance(CAST(p.q_vec AS DOUBLE[]),
                                  CAST(a.embedding AS DOUBLE[])), a.vec_id) AS rnk
  FROM probes p JOIN assigned a USING (cluster)
  WHERE p.q_id <> a.vec_id)
WHERE rnk <= {K}
""",
    description="IVF approximate nearest neighbor: deterministic coarse centroids + probe-2 refine (scale path for similarity search)",
    tags=("vector", "ann"),
)
def q51_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_graph(spark, sf_dir).select(
        "src", "dst", F.col("rnk").cast("bigint").alias("rnk")
    )


@register(
    "q52_vector_norms",
    driver=False,  # pytest-only: explode->agg bridge covered by q31
    oracle="""
SELECT vec_id, label, CAST(SUM(xi * xi) AS BIGINT) AS norm_sq_e12
FROM (SELECT vec_id, label,
             CAST(ROUND(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS xi
      FROM (SELECT vec_id, label, unnest(embedding) AS x FROM embeddings))
GROUP BY vec_id, label
""",
    description="array explode + exact fixed-point norm (int64 — immune to float summation order): array→relational bridge",
    tags=("vector", "agg"),
)
def q52_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.explode("embedding").alias("x")
    xi = F.round(F.col("x").cast("double") * 1000000, 0).cast("bigint")
    return (
        emb.select("vec_id", "label", x)
        .groupBy("vec_id", "label")
        .agg(F.sum(xi * xi).alias("norm_sq_e12"))
    )


@register(
    "q53_cosine_topk_same_label",
    driver=False,  # r8 rotation: 7x driver-green, cedes its slot to q91-q98 (knn family keeps q50/q80/q86/q89)
    oracle="""
SELECT src, dst, rnk FROM (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
           CAST(round(
             list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_inner_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))
             * 1000000, 0) AS BIGINT) DESC,
           b.vec_id) AS rnk
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id <> b.vec_id)
WHERE rnk <= 5
""",
    description="cosine top-5 within label partition: blocked per-(group,block) BLAS kernel — task memory bounded even when one label holds millions of vectors",
    tags=("vector", "cosine"),
)
def q53_cosine_topk_same_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.similarity import cosine_topk_by_group_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_by_group_blocked(emb, 5)


@register(
    "q55_mrdf_knn_graph",
    driver=False,  # pytest-only: same MRDF graph runs inside q56 recall
    oracle=None,  # randomized iterative algorithm — driver records rows-only
    description="MRDF approximate k-NN graph (reference W1, mrdf.py:13-72): random division forest + per-subset NN-Descent + top-k merge + graph refinement",
    tags=("vector", "mrdf", "ann"),
)
def q55_mrdf_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mrdf_graph(spark, sf_dir)


@register(
    "q56_mrdf_recall",
    oracle=None,  # scalar quality metric of a randomized algorithm
    description="recall of MRDF vs exact kNN (reference W4, getrecall.py:25-35): one-row DataFrame with the recall scalar",
    tags=("vector", "mrdf", "recall"),
)
def q56_mrdf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from pyspark_mrdf_spark.algorithms.recall import recall

    # The exact side (q50's blocked distributed tier — corpus never
    # leaves executors) and the MRDF build are independent job chains:
    # materialize the exact graph on a background thread so its cogroup
    # stage fills the executor slots the MRDF driver loop leaves idle
    # between its (latency-bound) merge/convergence jobs. Both sides are
    # session-memoized: when q50/q55 already ran, each is served from
    # the registry. Identical results to the sequential schedule —
    # recall() compares two already-materialized graphs in one action.
    # The pool thread inherits the caller's job group and session tags,
    # so the exact side's jobs attribute to this query.
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        fut = pool.submit(inheritable_thread_target(spark)(_exact_graph), spark, sf_dir)
        g = _mrdf_graph(spark, sf_dir)
        g_exact = fut.result()
    finally:
        # on a main-thread failure, propagate NOW: don't block on the
        # background exact-side materialization (it finishes orphaned)
        pool.shutdown(wait=False)
    r = recall(g_exact, g)
    return spark.createDataFrame([(float(r),)], ["recall"])


@register(
    "q54_doc_embedding_join",
    oracle="""
SELECT d.lang, e.label,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(d.n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
GROUP BY d.lang, e.label
""",
    description="cross-modality equi-join (documents x embeddings on shared id) + two-dim aggregate: text corpus meets vector index",
    tags=("vector", "join", "text"),
    # 5x driver-green (r1-r5); ceded its verdict slot to q81 (the BMP
    # pixel-path oracle) in r6 — the join+agg family keeps hard driver
    # evidence via q05/q07/q27, and this query stays in the pytest gate
    driver=False,
)
def q54_doc_embedding_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return (
        d.join(e, d["doc_id"] == e["vec_id"])
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("n_chars").cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_chars"),
        )
    )


# q57's production IVF operating point: 256 Lloyd-trained cells,
# multi-assignment 8, probe 8. Equal-scan-fraction sweep at sf0.1
# (n=2000, measured actual candidate fraction ~0.24-0.26 for all):
#   cells=16  p=2 ra=2  -> recall 0.544
#   cells=32  p=2 ra=4  -> recall 0.615   (the r5 operating point)
#   cells=64  p=4 ra=4  -> recall 0.669
#   cells=128 p=4 ra=8  -> recall 0.740
#   cells=256 p=8 ra=8  -> recall 0.828   <- shipped
# Finer cells at a fixed probe×assign/cells budget monotonically buy
# recall (the standard IVF result); ra=8 keeps the index at 8 entries
# per vector (the symmetric p=4 ra=16 point measured the same recall
# with 2x the index). At corpus scale cells should grow ~O(sqrt(n));
# this config is the harness-scale instance of that rule.
_IVF_CFG = dict(n_centroids=256, n_probe=8, r_assign=8, sample_size=2048, iters=25, seed=42)


def _ivf_trained_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.similarity import ivf_train_centroids

    cfg = _IVF_CFG

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        cents = ivf_train_centroids(
            emb,
            n_centroids=cfg["n_centroids"],
            sample_size=cfg["sample_size"],
            iters=cfg["iters"],
            seed=cfg["seed"],
        )
        return ann_ivf(
            emb,
            K,
            n_centroids=cfg["n_centroids"],
            n_probe=cfg["n_probe"],
            r_assign=cfg["r_assign"],
            centroids=cents,
        )

    return memoized_df(
        spark, ("ann_ivf_trained", sf_dir, K) + tuple(sorted(cfg.items())), build
    )


def _q57_oracle(sf_dir: str) -> str:
    """Data-dependent oracle: replays the engine's EXACT centroid
    training (md5-ordered sample — reproducible in SQL — through the
    same ``lloyd_centroids`` NumPy code on DuckDB-loaded rows) and
    inlines the resulting bit-identical centroids as SQL literals, so
    the trained index is as hash-verifiable as the untrained one."""
    import duckdb

    import numpy as np

    from pyspark_mrdf_spark.operators.similarity import lloyd_centroids

    cfg = _IVF_CFG
    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY md5('{cfg['seed']}:' || CAST(vec_id AS VARCHAR)) "
        f"LIMIT {cfg['sample_size']}"
    ).fetchall()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    cents = lloyd_centroids(x, cfg["n_centroids"], cfg["iters"])
    vals = ",\n  ".join(
        "({}, CAST([{}] AS DOUBLE[]))".format(
            i, ", ".join(repr(float(v)) for v in cents[i])
        )
        for i in range(len(cents))
    )
    return f"""
WITH cent(cent_id, cent_vec) AS (VALUES
  {vals}),
assigned AS (
  SELECT vec_id, cluster FROM (
    SELECT e.vec_id, c.cent_id AS cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cent_vec), c.cent_id) AS arnk
    FROM embeddings e CROSS JOIN cent c)
  WHERE arnk <= {cfg["r_assign"]}),
probes AS (
  SELECT vec_id AS q_id, cluster FROM (
    SELECT e.vec_id, c.cent_id AS cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cent_vec), c.cent_id) AS prnk
    FROM embeddings e CROSS JOIN cent c)
  WHERE prnk <= {cfg["n_probe"]}),
cand AS (
  SELECT DISTINCT p.q_id AS src, a.vec_id AS dst
  FROM probes p JOIN assigned a USING (cluster)
  WHERE p.q_id <> a.vec_id),
approx AS (
  SELECT src, dst FROM (
    SELECT c.src, c.dst,
           ROW_NUMBER() OVER (PARTITION BY c.src
             ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]),
                                    CAST(t.embedding AS DOUBLE[])), c.dst) AS rnk
    FROM cand c JOIN embeddings q ON q.vec_id = c.src
                JOIN embeddings t ON t.vec_id = c.dst)
  WHERE rnk <= {K}),
exact AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY list_distance(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), b.vec_id) AS rnk
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
  WHERE rnk <= {K})
SELECT CAST((SELECT COUNT(*) FROM exact e JOIN approx x ON e.src = x.src AND e.dst = x.dst) AS DOUBLE)
       / (SELECT COUNT(*) FROM exact) AS recall
"""


@register(
    "q57_ivf_recall",
    driver=False,  # r9 rotation: 8x driver-green, cedes its slot to q119-q136 (vector keeps q50/q56 + the new q119/q124/q127/q129/q131/q133/q134)
    oracle=_q57_oracle,
    description="recall of the PRODUCTION IVF index (256 Lloyd-trained cells, multi-assign 8, probe 8 — same ~25% scanned fraction as q51's untrained 8/1/2 baseline, recall 0.83 vs 0.43 at sf0.1; see _IVF_CFG for the equal-cost sweep) vs exact kNN; trained centroids reproduced bit-for-bit in the oracle via the shared Lloyd core + md5-ordered sample, so the ENTIRE recall computation stays hash-verified",
    tags=("vector", "ann", "recall"),
)
def q57_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.algorithms.recall import recall

    r = recall(_exact_graph(spark, sf_dir), _ivf_trained_graph(spark, sf_dir))
    return spark.createDataFrame([(float(r),)], ["recall"])


@register(
    "q58_lsh_hyperplane_candidates",
    driver=False,  # r8 third rotation: multi-round green, LSH covered by q46's tier; cedes to q105-q110
    oracle="""
WITH hp AS (
  SELECT h, ROW_NUMBER() OVER (ORDER BY h_id) AS rnk FROM (
    SELECT vec_id AS h_id, CAST(embedding AS DOUBLE[]) AS h
    FROM embeddings ORDER BY vec_id LIMIT 4)),
bits AS (
  SELECT e.vec_id,
         CAST(SUM(CASE WHEN round(list_inner_product(CAST(e.embedding AS DOUBLE[]), hp.h) * 1000000, 0) >= 0
                  THEN CAST(pow(2, rnk - 1) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings e CROSS JOIN hp GROUP BY e.vec_id)
SELECT a.vec_id AS src, b.vec_id AS dst, a.bucket
FROM bits a JOIN bits b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
""",
    description="random-hyperplane LSH candidate pairs (deterministic planes, fixed-point sign bits): the LSH-bucketed ANN scale path",
    tags=("vector", "ann", "lsh"),
)
def q58_lsh_hyperplane_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.similarity import lsh_hyperplane_buckets

    emb = load_table(spark, sf_dir, "embeddings")
    bk = lsh_hyperplane_buckets(emb, n_planes=4)
    a = bk.select(F.col("vec_id").alias("src"), "bucket")
    b = bk.select(F.col("vec_id").alias("dst"), F.col("bucket").alias("bucket_b"))
    return (
        a.join(b, (F.col("bucket") == F.col("bucket_b")) & (F.col("src") < F.col("dst")))
        .select("src", "dst", "bucket")
    )


@register(
    "q80_knn_search_external",
    driver=False,  # r8 fourth rotation: 5x driver-green (the external-query serving contract stays driver-verified via q86's embed->knn pipeline and the q89/q92/q95/q116 quantized searches); cedes its slot to q118
    oracle=f"""
SELECT src, dst, rnk FROM (
  SELECT q.vec_id AS src, c.vec_id AS dst,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_distance(CAST(q.embedding AS DOUBLE[]),
                                  CAST(c.embedding AS DOUBLE[])), c.vec_id) AS rnk
  FROM (SELECT * FROM embeddings WHERE vec_id % 7 = 0) q
  CROSS JOIN embeddings c)
WHERE rnk <= {K}
""",
    description="similarity search with an EXTERNAL query set (queries != corpus, self-matches allowed): distributed blocked scan, the serving-path shape of the similarity-search north star",
    tags=("vector", "knn", "search"),
)
def q80_knn_search_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.similarity import knn_search_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 7 == 0)
    return knn_search_blocked(queries, emb, K).select(
        "src", "dst", F.col("rnk").cast("bigint").alias("rnk")
    )


@register(
    "q89_sq8_quantized_knn",
    driver=False,  # r9 rotation: 2x driver-green, cedes its slot to q119-q136 (SQ8 code path stays via q98/q105/q131 + the new q133)
    # new r7, promoted same-round: q10/q13/q27/q65 (6x driver-green) ceded slots
    oracle="""
WITH mm AS (
  SELECT i, MIN(embedding[i]) AS mn, MAX(embedding[i]) AS mx
  FROM embeddings, generate_series(1, 64) AS g(i)
  GROUP BY i),
qz AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM mm),
codes AS (
  SELECT vec_id,
         list_transform(generate_series(1, 64), i ->
           CASE WHEN mxs[i] = mns[i] THEN 0
                ELSE CAST(floor((CAST(embedding[i] AS DOUBLE) - CAST(mns[i] AS DOUBLE)) * 255.0
                                / (CAST(mxs[i] AS DOUBLE) - CAST(mns[i] AS DOUBLE)) + 0.5) AS BIGINT)
           END) AS code
  FROM embeddings CROSS JOIN qz),
cand AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         list_sum(list_transform(generate_series(1, 64),
                  i -> (a.code[i] - b.code[i]) * (a.code[i] - b.code[i]))) AS code_dist
  FROM codes a JOIN codes b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 30),
topc AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY code_dist, dst) AS crnk
  FROM cand),
rr AS (
  SELECT t.src, t.dst,
         ROW_NUMBER() OVER (PARTITION BY t.src
           ORDER BY list_distance(CAST(qe.embedding AS DOUBLE[]),
                                  CAST(ce.embedding AS DOUBLE[])), t.dst) AS rnk
  FROM topc AS t
  JOIN embeddings qe ON qe.vec_id = t.src
  JOIN embeddings ce ON ce.vec_id = t.dst
  WHERE t.crnk <= 20)
SELECT src, dst, rnk FROM rr WHERE rnk <= 5
""",
    description=(
        "SQ8 scalar-quantized search: per-dimension min/max quantizer -> "
        "1-byte/dim packed BINARY codes (8x smaller working set than "
        "float64 — at 100 TB the ANN bottleneck is bytes moved, not flops) "
        "-> top-20 candidates by SYMMETRIC integer code-space L2 (exact "
        "cross-engine: floor((v-mn)*255/(mx-mn)+.5) codes are IEEE-"
        "determined, the distance is pure int64) -> full-precision rerank "
        "of the candidate set only, top-5 of 30 queries. The oracle "
        "re-derives codes and candidates bit-identically in SQL; only the "
        "rerank compares floats, through the q50-proven (dist, id) rank "
        "portability"
    ),
    tags=("vector", "knn", "quantize", "pipeline"),
)
def q89_sq8_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.quantize import sq8_search

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 30)
    return sq8_search(
        queries, emb, 5, k_candidates=20, include_self=False
    ).select("src", "dst", F.col("rnk").cast("bigint").alias("rnk"))


_PQ_CFG = dict(n_subspaces=8, n_codes=16, sample_size=2048, iters=10, seed=42)


def _q92_oracle(sf_dir: str) -> str:
    """Data-dependent oracle (q57's discipline): replay PQ codebook
    training on DuckDB-loaded rows through the same ``pq_codebooks``
    NumPy code and inline the bit-identical codebooks as SQL literals.
    Encoding, the ADC tables, and the left-to-right subspace
    accumulation are all mirrored with fixed-order list_sums, so the
    candidate stage derives bit-identical float ADC values — only the
    final rerank leans on the q50-proven (dist, id) rank portability."""
    import duckdb

    import numpy as np

    from pyspark_mrdf_spark.operators.quantize import pq_codebooks

    cfg = _PQ_CFG
    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY md5('{cfg['seed']}:' || CAST(vec_id AS VARCHAR)) "
        f"LIMIT {cfg['sample_size']}"
    ).fetchall()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    cb = pq_codebooks(x, cfg["n_subspaces"], cfg["n_codes"], cfg["iters"])
    n_sub, n_codes, ds = cb.shape
    vals = ",\n  ".join(
        "({}, {}, CAST([{}] AS DOUBLE[]))".format(
            m + 1, c, ", ".join(repr(float(v)) for v in cb[m, c])
        )
        for m in range(n_sub)
        for c in range(n_codes)
    )
    return f"""
WITH cb(m, code, cvec) AS (VALUES
  {vals}),
sub AS (
  SELECT vec_id, unnest(generate_series(1, {n_sub})) AS m, embedding
  FROM embeddings),
sub2 AS (
  SELECT vec_id, m,
         CAST(embedding[(m - 1) * {ds} + 1 : m * {ds}] AS DOUBLE[]) AS svec
  FROM sub),
enc AS (
  -- order by the UN-sqrted sequential-fold d² (exactly the kernel's
  -- _seq_sq_dists values; list_distance's sqrt could collapse two
  -- distinct d² into one double and tie-break differently)
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY list_sum(list_transform(generate_series(1, {ds}),
                      i -> (s.svec[i] - c.cvec[i]) * (s.svec[i] - c.cvec[i]))),
                      c.code) AS rn
    FROM sub2 s JOIN cb c USING (m)) WHERE rn = 1),
terms AS (
  SELECT q.vec_id AS src, e.vec_id AS dst, q.m,
         list_sum(list_transform(generate_series(1, {ds}),
                  i -> (q.svec[i] - c.cvec[i]) * (q.svec[i] - c.cvec[i]))) AS term
  FROM (SELECT * FROM sub2 WHERE vec_id < 30) q
  JOIN enc e ON e.vec_id <> q.vec_id AND e.m = q.m
  JOIN cb c ON c.m = q.m AND c.code = e.code),
adc AS (
  SELECT src, dst, list_sum(list(term ORDER BY m)) AS adc
  FROM terms GROUP BY src, dst),
topc AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY adc, dst) AS crnk
  FROM adc),
rr AS (
  SELECT t.src, t.dst,
         ROW_NUMBER() OVER (PARTITION BY t.src
           ORDER BY list_distance(CAST(qe.embedding AS DOUBLE[]),
                                  CAST(ce.embedding AS DOUBLE[])), t.dst) AS rnk
  FROM topc AS t
  JOIN embeddings qe ON qe.vec_id = t.src
  JOIN embeddings ce ON ce.vec_id = t.dst
  WHERE t.crnk <= 20)
SELECT src, dst, rnk FROM rr WHERE rnk <= 5
"""


@register(
    "q92_pq_quantized_knn",
    # promoted r8: rotated into the driver surface for a hard verdict
    oracle=_q92_oracle,
    description=(
        "product-quantization (PQ) search: 8 subspaces x 16 Lloyd-trained "
        "codes -> 8 B/row packed index (32x smaller than float32 parquet) "
        "-> top-20 candidates by asymmetric ADC distance (per query one "
        "8x16 table, each corpus row costs 8 lookups+adds instead of 64 "
        "multiplies — the flop-advantaged tier SQ8 is not) -> "
        "full-precision rerank, top-5 of 30 queries. The oracle replays "
        "codebook training bit-identically (md5-ordered sample through "
        "the shared pq_codebooks core, literals inlined) and mirrors the "
        "kernel's exact float nesting with ordered list_sums"
    ),
    tags=("vector", "knn", "quantize", "pipeline"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (PQ tier stays via q95 demote-sibling q98 persisted IVF-PQ)
)
def q92_pq_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.quantize import pq_search

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 30)
    return pq_search(
        queries, emb, 5, k_candidates=20, include_self=False, **_PQ_CFG
    ).select("src", "dst", F.col("rnk").cast("bigint").alias("rnk"))


_IVFPQ_CFG = dict(
    n_centroids=8, n_probe=2, n_subspaces=8, n_codes=16,
    sample_size=512, iters_coarse=8, iters_pq=8, seed=42,
)


def _q95_oracle(sf_dir: str) -> str:
    return _ivfpq_oracle(sf_dir, "e.vec_id < 30")


def _ivfpq_oracle(sf_dir: str, qpred: str) -> str:
    """Callable oracle for IVF-PQ (shared by q95 inline and q98
    persisted-index — bit-identical serving is the q98 claim, so ONE
    SQL body serves both with only the query predicate swapped):
    replay BOTH training stages on DuckDB-loaded rows through the
    shared ``_ivfpq_params_from_sample`` core, inline coarse centroids
    + residual codebooks as literals, then mirror assignment (q51's
    rank-portable float ordering), residual encoding and the ADC
    accumulation (q92's sequential-fold discipline) in SQL."""
    import duckdb

    import numpy as np

    from pyspark_mrdf_spark.operators.quantize import _ivfpq_params_from_sample

    cfg = _IVFPQ_CFG
    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY md5('{cfg['seed']}:' || CAST(vec_id AS VARCHAR)) "
        f"LIMIT {cfg['sample_size']}"
    ).fetchall()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    coarse, cb = _ivfpq_params_from_sample(
        x, cfg["n_centroids"], cfg["n_subspaces"], cfg["n_codes"],
        cfg["iters_coarse"], cfg["iters_pq"],
    )
    n_sub, n_codes, ds = cb.shape
    cent_vals = ",\n  ".join(
        "({}, CAST([{}] AS DOUBLE[]))".format(
            i, ", ".join(repr(float(v)) for v in coarse[i])
        )
        for i in range(len(coarse))
    )
    cb_vals = ",\n  ".join(
        "({}, {}, CAST([{}] AS DOUBLE[]))".format(
            m + 1, c, ", ".join(repr(float(v)) for v in cb[m, c])
        )
        for m in range(n_sub)
        for c in range(n_codes)
    )
    return f"""
WITH cent(cent_id, cent_vec) AS (VALUES
  {cent_vals}),
cb(m, code, cvec) AS (VALUES
  {cb_vals}),
ms AS (SELECT unnest(generate_series(1, {n_sub})) AS m),
assigned AS (
  -- rank cells by the UN-sqrted squared L2 (the kernel's
  -- pairwise_l2_sq domain): list_distance's sqrt could collapse two
  -- distinct d² values into one double and flip the cent_id tie-break,
  -- changing a cell assignment and thus the candidate set
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_sum(list_transform(generate_series(1, {n_sub * ds}),
                      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i])
                         * (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i]))),
                      c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
res AS (
  SELECT e.vec_id, a.cell, ms.m,
         list_transform(generate_series(1, {ds}), i ->
            CAST(e.embedding[(ms.m - 1) * {ds} + i] AS DOUBLE)
            - c.cent_vec[(ms.m - 1) * {ds} + i]) AS svec
  FROM embeddings e JOIN assigned a USING (vec_id)
  JOIN cent c ON c.cent_id = a.cell CROSS JOIN ms),
enc AS (
  SELECT vec_id, cell, m, code FROM (
    SELECT r.vec_id, r.cell, r.m, b.code,
           ROW_NUMBER() OVER (PARTITION BY r.vec_id, r.m
             ORDER BY list_sum(list_transform(generate_series(1, {ds}),
                      i -> (r.svec[i] - b.cvec[i]) * (r.svec[i] - b.cvec[i]))),
                      b.code) AS rn
    FROM res r JOIN cb b USING (m)) WHERE rn = 1),
qprobe AS (
  -- same un-sqrted ordering discipline as `assigned` above
  SELECT vec_id AS q_id, cell, embedding FROM (
    SELECT e.vec_id, c.cent_id AS cell, e.embedding,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_sum(list_transform(generate_series(1, {n_sub * ds}),
                      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i])
                         * (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i]))),
                      c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cent c WHERE {qpred})
  WHERE rn <= {cfg["n_probe"]}),
qres AS (
  SELECT p.q_id, p.cell, ms.m,
         list_transform(generate_series(1, {ds}), i ->
            CAST(p.embedding[(ms.m - 1) * {ds} + i] AS DOUBLE)
            - c.cent_vec[(ms.m - 1) * {ds} + i]) AS svec
  FROM qprobe p JOIN cent c ON c.cent_id = p.cell CROSS JOIN ms),
terms AS (
  SELECT qr.q_id AS src, e.vec_id AS dst, qr.m,
         list_sum(list_transform(generate_series(1, {ds}),
                  i -> (qr.svec[i] - b.cvec[i]) * (qr.svec[i] - b.cvec[i]))) AS term
  FROM qres qr
  JOIN enc e ON e.cell = qr.cell AND e.m = qr.m AND e.vec_id <> qr.q_id
  JOIN cb b ON b.m = qr.m AND b.code = e.code),
adc AS (
  SELECT src, dst, list_sum(list(term ORDER BY m)) AS adc
  FROM terms GROUP BY src, dst),
topc AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY adc, dst) AS crnk
  FROM adc),
rr AS (
  SELECT t.src, t.dst,
         ROW_NUMBER() OVER (PARTITION BY t.src
           ORDER BY list_distance(CAST(qe.embedding AS DOUBLE[]),
                                  CAST(ce.embedding AS DOUBLE[])), t.dst) AS rnk
  FROM topc AS t
  JOIN embeddings qe ON qe.vec_id = t.src
  JOIN embeddings ce ON ce.vec_id = t.dst
  WHERE t.crnk <= 40)
SELECT src, dst, rnk FROM rr WHERE rnk <= 5
"""


@register(
    "q95_ivfpq_knn",
    # promoted r8: rotated into the driver surface for a hard verdict
    oracle=_q95_oracle,
    description=(
        "IVF-PQ search — the composition that IS large-corpus ANN: coarse "
        "cells prune the scan to ~n_probe/n_centroids of the corpus, the "
        "pruned scan runs on 8-byte residual PQ codes via ADC lookups, and "
        "only candidate rows rerank at full precision (cost per query ~ "
        "(2/8)·n rows x 8 lookups at 8 B/row, vs n x 64 multiplies at "
        "256 B/row exact). Both training stages replay bit-identically in "
        "the oracle (one md5-ordered sample -> Lloyd cells -> residual "
        "codebooks); assignment rides q51's rank-portable ordering, every "
        "residual/ADC sum is a strict sequential fold (q92's discipline)"
    ),
    tags=("vector", "knn", "quantize", "ann", "pipeline"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (IVF-PQ stays via q98 persisted index)
)
def q95_ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.quantize import ivfpq_search

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 30)
    return ivfpq_search(
        queries, emb, 5, k_candidates=40, include_self=False, **_IVFPQ_CFG
    ).select("src", "dst", F.col("rnk").cast("bigint").alias("rnk"))


# q97: ground-truth files written once per (process, sf) — the ivecs
# roundtrip is int32-exact, so caching the file changes nothing but
# skips re-collecting the GT on every builder call (bench cold/warm).
_Q97_GT_DIR: dict[str, str] = {}


@register(
    "q97_recall_vs_ivecs_gt",
    # promoted r8: the last reference capability (W5, getrecallivecs.py
    # 40-42) without a driver verdict — SQL-expressible, so it gets one
    oracle=f"""
WITH exact AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY list_distance(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), b.vec_id) AS rnk
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE a.vec_id < 100)
  WHERE rnk <= {K}),
cent AS (
  SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cent_vec
  FROM embeddings ORDER BY vec_id LIMIT 8),
assigned AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cent_id AS cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cent_vec), c.cent_id) AS arnk
    FROM embeddings e CROSS JOIN cent c)
  WHERE arnk = 1),
probes AS (
  SELECT vec_id AS q_id, embedding AS q_vec, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cent_id AS cluster,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), c.cent_vec), c.cent_id) AS prnk
    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 100)
  WHERE prnk <= 2),
approx AS (
  SELECT src, dst FROM (
    SELECT p.q_id AS src, a.vec_id AS dst,
           ROW_NUMBER() OVER (PARTITION BY p.q_id
             ORDER BY list_distance(CAST(p.q_vec AS DOUBLE[]),
                                    CAST(a.embedding AS DOUBLE[])), a.vec_id) AS rnk
    FROM probes p JOIN assigned a USING (cluster)
    WHERE p.q_id <> a.vec_id)
  WHERE rnk <= {K})
SELECT e.src, CAST(COUNT(ap.dst) AS BIGINT) AS hits,
       CAST(COUNT(*) AS BIGINT) AS total
FROM exact e LEFT JOIN approx ap ON ap.src = e.src AND ap.dst = e.dst
GROUP BY e.src
""",
    description=(
        "recall vs ivecs ground truth (reference W5 — the unfinished "
        "getrecallivecs.py path, completed at algorithms/recall.py:40): "
        "the exact top-10 of the first 100 queries is exported through "
        "the int32-exact ivecs writer, read back by the distributed "
        "ivecs scan (S4), and the IVF graph (q51's) is scored against "
        "it per query as integer (hits, total) rows — the whole "
        "GT-file workflow the TexMex benchmarks use, under one hash "
        "verdict. Exercises write_ivecs_local + read_ivecs + the "
        "per-query hit-count join; all-integer output"
    ),
    tags=("vector", "recall", "source"),
)
def q97_recall_vs_ivecs_gt(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from pyspark_mrdf_spark.sources.fvecs import read_ivecs, write_ivecs_local

    d = _Q97_GT_DIR.get(sf_dir)
    if d is None:
        import numpy as np

        # bounded collect: 100 queries × k edges (the GT-export
        # contract — ivecs files are per-query-set artifacts)
        rows = (
            _exact_graph(spark, sf_dir)
            .filter(F.col("src") < 100)
            .select("src", "rnk", "dst")
            .collect()
        )
        byid: dict[int, dict[int, int]] = {}
        for r in rows:
            byid.setdefault(r["src"], {})[r["rnk"]] = r["dst"]
        ids = sorted(byid)
        mat = np.array(
            [[byid[i][rk] for rk in sorted(byid[i])] for i in ids],
            dtype=np.int32,
        )
        d = tempfile.mkdtemp(prefix="mrdf_q97_gt_")
        write_ivecs_local(os.path.join(d, "gt.ivecs"), mat)
        _Q97_GT_DIR[sf_dir] = d
    # row position in the ivecs file IS the query id (queries are the
    # first 100 vec_ids, exported in sorted order)
    gt = read_ivecs(spark, os.path.join(d, "gt.ivecs"), k=K)
    gt_edges = gt.select(
        F.col("vec_id").alias("src"), F.explode("components").alias("dst")
    )
    approx = (
        _ivf_graph(spark, sf_dir)
        .filter(F.col("src") < 100)
        .select("src", "dst")
        .withColumn("_hit", F.lit(1))
    )
    return (
        gt_edges.join(approx, ["src", "dst"], "left")
        .groupBy("src")
        .agg(
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("hits"),
            F.count(F.lit(1)).cast("bigint").alias("total"),
        )
    )


def _q98_oracle(sf_dir: str) -> str:
    # SAME SQL body as q95 (the persisted index serves bit-identically
    # to the inline path), only the query window differs
    return _ivfpq_oracle(sf_dir, "e.vec_id >= 30 AND e.vec_id < 60")


# index directories built once per (process, sf): the point of q98 is
# that search does NOT retrain — the builder writes the index on first
# call and every later call (bench warm runs) only loads + serves.
_Q98_IDX_DIR: dict[str, str] = {}


def _q98_index_path(spark: SparkSession, sf_dir: str) -> str:
    """The per-(process, sf) persisted IVF-PQ index of the embeddings
    corpus (q95's config): built on first use, reused by q98 serving
    and q105 monitoring — one stored artifact, many readers, as
    deployed."""
    import tempfile

    from pyspark_mrdf_spark.operators.quantize import build_ivfpq_index

    path = _Q98_IDX_DIR.get(sf_dir)
    if path is None:
        emb = load_table(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix="mrdf_q98_ivfpq_idx_")
        train_cfg = {k: v for k, v in _IVFPQ_CFG.items() if k != "n_probe"}
        build_ivfpq_index(emb, path, **train_cfg)
        _Q98_IDX_DIR[sf_dir] = path
    return path


@register(
    "q98_ivfpq_persisted_index",
    # promoted r8: train-once/search-many is how a 100 TB deployment
    # actually runs ANN — the index write/read surface needs a hard
    # driver verdict, not just the pytest roundtrip test
    oracle=_q98_oracle,
    description=(
        "persisted-index IVF-PQ serving: build_ivfpq_index writes coarse "
        "centroids + residual codebooks (parquet DOUBLE, bit-exact "
        "roundtrip) and the 8 B/row code table PARTITIONED BY CELL (a "
        "probe scan prunes to n_probe directories at the storage layer); "
        "read_ivfpq_index + ivfpq_search_encoded then serve a query "
        "batch with NO retraining. Oracle is q95's SQL body verbatim "
        "(different query window) — the persisted path must be "
        "bit-identical to inline training, which is exactly the claim"
    ),
    tags=("vector", "knn", "quantize", "ann", "pipeline", "sink"),
)
def q98_ivfpq_persisted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.quantize import (
        ivfpq_search_encoded,
        read_ivfpq_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    coarse, cb, codes = read_ivfpq_index(spark, _q98_index_path(spark, sf_dir))
    queries = emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 60))
    return ivfpq_search_encoded(
        queries, codes, coarse, cb, emb, 5,
        k_candidates=40, n_probe=_IVFPQ_CFG["n_probe"], include_self=False,
    ).select("src", "dst", F.col("rnk").cast("bigint").alias("rnk"))


def _q105_oracle(sf_dir: str) -> str:
    """Cell-occupancy oracle: replay the training + assignment of the
    q95/q98 index config (the `assigned` CTE of `_ivfpq_oracle`,
    un-sqrted ordering discipline) and aggregate per cell."""
    import duckdb

    import numpy as np

    from pyspark_mrdf_spark.operators.quantize import _ivfpq_params_from_sample

    cfg = _IVFPQ_CFG
    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY md5('{cfg['seed']}:' || CAST(vec_id AS VARCHAR)) "
        f"LIMIT {cfg['sample_size']}"
    ).fetchall()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    coarse, cb = _ivfpq_params_from_sample(
        x, cfg["n_centroids"], cfg["n_subspaces"], cfg["n_codes"],
        cfg["iters_coarse"], cfg["iters_pq"],
    )
    n_sub, _, ds = cb.shape
    cent_vals = ",\n  ".join(
        "({}, CAST([{}] AS DOUBLE[]))".format(
            i, ", ".join(repr(float(v)) for v in coarse[i])
        )
        for i in range(len(coarse))
    )
    return f"""
WITH cent(cent_id, cent_vec) AS (VALUES
  {cent_vals}),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cent_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_sum(list_transform(generate_series(1, {n_sub * ds}),
                      i -> (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i])
                         * (CAST(e.embedding[i] AS DOUBLE) - c.cent_vec[i]))),
                      c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
per_cell AS (
  SELECT CAST(cell AS BIGINT) AS cell, CAST(COUNT(*) AS BIGINT) AS n_vectors
  FROM assigned GROUP BY cell)
SELECT cell, n_vectors,
       (SELECT MAX(n_vectors) FROM per_cell)
       / ((SELECT CAST(SUM(n_vectors) AS DOUBLE) FROM per_cell)
          / (SELECT COUNT(*) FROM per_cell)) AS skew_ratio
FROM per_cell ORDER BY cell
"""


@register(
    "q105_index_cell_stats",
    # promoted r8 (third rotation): hard verdict for index monitoring
    oracle=_q105_oracle,
    description=(
        "persisted-index occupancy monitoring: per-cell code counts + "
        "corpus skew ratio of the q98 IVF-PQ index — THE retrain trigger "
        "for an incrementally grown index (n_probe/n_cells is only a "
        "scan-fraction bound while cells stay balanced); reads only the "
        "cell partition column, no code bytes. Oracle replays the "
        "training + assignment bit-identically and aggregates per cell"
    ),
    tags=("vector", "quantize", "ann", "agg", "pipeline"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (index monitoring stays via q123/q131)
)
def q105_index_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.quantize import index_cell_stats

    return index_cell_stats(spark, _q98_index_path(spark, sf_dir))


@register(
    "q116_binary_quantized_knn",
    # new r8, promoted same-round (fourth rotation): q07/q12/q19/q29/
    # q64/q66/q72/q80 (5-7x driver-green) ceded slots
    oracle="""
WITH med AS (
  SELECT i, v AS thr FROM (
    SELECT g.i AS i, CAST(embedding[g.i] AS DOUBLE) AS v,
           ROW_NUMBER() OVER (PARTITION BY g.i ORDER BY embedding[g.i]) AS rn,
           COUNT(*) OVER (PARTITION BY g.i) AS n
    FROM embeddings, generate_series(1, 64) AS g(i))
  WHERE rn = (n - 1) // 2 + 1),
thr AS (SELECT list(thr ORDER BY i) AS t FROM med),
bits AS (
  SELECT vec_id,
         list_transform(generate_series(1, 64), i ->
           CASE WHEN CAST(embedding[i] AS DOUBLE) > t[i] THEN 1 ELSE 0 END) AS b
  FROM embeddings CROSS JOIN thr),
cand AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         CAST(list_sum(list_transform(generate_series(1, 64),
              i -> CASE WHEN a.b[i] <> b.b[i] THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
  FROM bits a JOIN bits b ON a.vec_id <> b.vec_id
  WHERE a.vec_id < 30),
topc AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY hamming, dst) AS crnk
  FROM cand),
rr AS (
  SELECT t.src, t.dst,
         ROW_NUMBER() OVER (PARTITION BY t.src
           ORDER BY list_distance(CAST(qe.embedding AS DOUBLE[]),
                                  CAST(ce.embedding AS DOUBLE[])), t.dst) AS rnk
  FROM topc AS t
  JOIN embeddings qe ON qe.vec_id = t.src
  JOIN embeddings ce ON ce.vec_id = t.dst
  WHERE t.crnk <= 40)
SELECT src, dst, rnk FROM rr WHERE rnk <= 5
""",
    description=(
        "binary (1-bit) quantized search — the bottom of the quantization "
        "ladder (float64 exact -> SQ8 1 B/dim -> PQ 8 B/row -> 1 BIT/dim "
        "here, 32x below float32 parquet): per-dimension nearest-rank "
        "MEDIAN thresholds (an element of the data, so any engine picks "
        "the bit-identical value — no float mean drift) -> packed sign "
        "bits -> top-40 candidates by XOR+popcount Hamming distance "
        "(pure integer, bit-reproducible) -> full-precision rerank of "
        "candidates only, top-5 of 30 queries. The oracle re-derives "
        "thresholds, bits, and Hamming candidates bit-identically in "
        "SQL; only the rerank compares floats, through the q50-proven "
        "(dist, id) rank portability"
    ),
    tags=("vector", "knn", "quantize", "pipeline"),
    driver=False,  # r10 rotation: 2x driver-green (r8,r9), cedes its slot to q137-q155 (1-bit tier pytest-covered; quant family keeps q129/q131/q133)
)
def q116_binary_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.quantize import bq_search

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 30)
    return bq_search(
        queries, emb, 5, k_candidates=40, include_self=False
    ).select("src", "dst", F.col("rnk").cast("bigint").alias("rnk"))


@register(
    "q119_prefix_dim_knn",
    driver=False,  # r13 rotation: 4x driver-green (r9-r12), cedes its slot to q161 (prefix-dim candidates stay verified via q133's PCA composition)
    oracle="""
SELECT src, dst, rnk FROM (
  SELECT t.src, t.dst,
         ROW_NUMBER() OVER (PARTITION BY t.src
           ORDER BY list_distance(CAST(qe.embedding AS DOUBLE[]),
                                  CAST(ce.embedding AS DOUBLE[])), t.dst) AS rnk
  FROM (
    SELECT src, dst FROM (
      SELECT q.vec_id AS src, c.vec_id AS dst,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_distance(CAST(q.embedding[1:16] AS DOUBLE[]),
                                      CAST(c.embedding[1:16] AS DOUBLE[])),
                        c.vec_id) AS crnk
      FROM (SELECT * FROM embeddings WHERE vec_id % 11 = 0) q
      CROSS JOIN embeddings c
      WHERE q.vec_id <> c.vec_id)
    WHERE crnk <= 40) t
  JOIN embeddings qe ON qe.vec_id = t.src
  JOIN embeddings ce ON ce.vec_id = t.dst)
WHERE rnk <= 5
""",
    description=(
        "Matryoshka-style prefix-dimension two-stage search (Kusupati et "
        "al. 2022): exact candidates over only the FIRST 16 of 64 "
        "dimensions — 1/4 of the scan bytes and flops through the same "
        "blocked grid tier as q50 — then exact full-dimension rerank of "
        "the top-40 candidates, the dimension-truncation axis of the "
        "quantization ladder. On MRL-trained embeddings the prefix "
        "carries most of the metric; on this generic corpus the budget "
        "is the dial (measured recall 0.42@40 / 0.83@160 / 0.97@320 at "
        "d_prefix=16; 0.68@40 / 0.86@80 at d_prefix=32). Oracle mirrors "
        "both stages through the q50-proven (dist, id) rank portability"
    ),
    tags=("vector", "knn", "quantize", "pipeline"),
)
def q119_prefix_dim_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.similarity import prefix_dim_search

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 11 == 0)
    return prefix_dim_search(
        queries, emb, 5, d_prefix=16, k_candidates=40, include_self=False
    ).select("src", "dst", F.col("rnk").cast("bigint").alias("rnk"))


def _q124_oracle(sf_dir: str) -> str:
    """Unrolled-CTE replay of the beam walk — the upgrade that moved
    q124 from a rows-only verdict to a hash check. The walk LOOKS
    non-SQL-expressible because its round count is data-decided, but
    the convergence break is an efficiency device, not semantics: once
    every beam slot is expanded, further rounds are no-ops, so
    unrolling the full ``max_rounds`` (q113's fixed-round discipline)
    replays the result exactly. Everything else is deterministic —
    the exact degree-K graph (q50's oracle CTE), md5-seeded entries,
    (distance, id) tie-breaks — and the OUTPUT is rank-only, so the
    oracle needs distance ORDER (list_distance), never bit-equal
    float accumulation. n_entry is the same O(√n) auto-sizing rule as
    the engine, computed here from the corpus count. r12: the engine's
    default seeding became component-aware (global √n md5 entries ∪
    one md5-argmin entry per graph component — graph_search.py's safe
    default); the oracle replays that by extracting the SAME exact
    degree-K edge list (the adj CTE's own SQL), union-finding the
    components here, and inlining the per-component argmin ids as a
    VALUES arm of the entries CTE (the same computed-input stance as
    the Python-computed n_entry — the walk itself stays SQL)."""
    import hashlib
    import math

    import duckdb

    con = duckdb.connect()
    n = con.execute(
        f"SELECT COUNT(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    edge_rows = con.execute(
        f"""WITH emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM '{sf_dir}/embeddings.parquet')
SELECT src, dst FROM (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         ROW_NUMBER() OVER (PARTITION BY a.vec_id
           ORDER BY list_distance(a.v, b.v), b.vec_id) AS rnk
  FROM emb a JOIN emb b ON a.vec_id <> b.vec_id)
WHERE rnk <= {K}"""
    ).fetchall()
    con.close()
    n_entry = max(4, math.isqrt(max(n - 1, 0)) + 1)
    parent = {v: v for v in range(n)}

    def _find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, t in edge_rows:
        rs, rt = _find(int(s)), _find(int(t))
        if rs != rt:
            parent[max(rs, rt)] = min(rs, rt)

    def _md5(v: int) -> str:
        return hashlib.md5(f"13:{v}".encode()).hexdigest()

    best: dict[int, int] = {}
    for v in parent:
        r = _find(v)
        if r not in best or (_md5(v), v) < (_md5(best[r]), best[r]):
            best[r] = v
    comp_values = ", ".join(f"({v})" for v in sorted(best.values()))
    beam, k_out, rounds = 32, 5, 12
    cte = [
        "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"""adj AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY list_distance(a.v, b.v), b.vec_id) AS rnk
    FROM emb a JOIN emb b ON a.vec_id <> b.vec_id)
  WHERE rnk <= {K})""",
        "q AS MATERIALIZED (SELECT vec_id AS qid, v AS qv FROM emb WHERE vec_id % 17 = 0)",
        f"""entries AS MATERIALIZED (
  SELECT vid FROM (
    SELECT vec_id AS vid FROM emb
    ORDER BY md5(concat('13:', CAST(vec_id AS VARCHAR))) LIMIT {n_entry})
  UNION
  SELECT vid FROM (VALUES {comp_values}) comp(vid))""",
        """s0 AS MATERIALIZED (
  SELECT q.qid, e.vid, list_distance(q.qv, emb.v) AS d, FALSE AS expanded
  FROM q CROSS JOIN entries e JOIN emb ON emb.vec_id = e.vid)""",
    ]
    for r in range(rounds):
        cte.append(f"""f{r} AS MATERIALIZED (
  SELECT qid, vid FROM (
    SELECT qid, vid, expanded,
           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vid) AS rnk
    FROM s{r})
  WHERE rnk <= {beam} AND NOT expanded),
fr{r} AS MATERIALIZED (
  SELECT DISTINCT f.qid, a.dst AS vid
  FROM f{r} f JOIN adj a ON a.src = f.vid
  WHERE NOT EXISTS (
    SELECT 1 FROM s{r} s WHERE s.qid = f.qid AND s.vid = a.dst)),
s{r + 1} AS MATERIALIZED (
  SELECT s.qid, s.vid, s.d,
         s.expanded OR EXISTS (
           SELECT 1 FROM f{r} f WHERE f.qid = s.qid AND f.vid = s.vid)
         AS expanded
  FROM s{r} s
  UNION ALL
  SELECT fr.qid, fr.vid, list_distance(q.qv, emb.v) AS d, FALSE AS expanded
  FROM fr{r} fr JOIN q ON q.qid = fr.qid JOIN emb ON emb.vec_id = fr.vid)""")
    return (
        "WITH "
        + ",\n".join(cte)
        + f"""
SELECT qid AS src, vid AS dst, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT qid, vid, ROW_NUMBER() OVER (
    PARTITION BY qid ORDER BY d, vid) AS rnk
  FROM s{rounds})
WHERE rnk <= {k_out}"""
    )



@register(
    "q124_graph_ann_search",
    # promoted r9: takes a slot ceded by the multi-green r9 rotation
    # (see tests/test_oracle_queries.py DRIVER_SURFACE)
    oracle=lambda sf_dir: _q124_oracle(sf_dir),  # UPGRADED r9 from rows-only: see _q124_oracle
    description=(
        "graph-based ANN SERVING (operators/graph_search.graph_knn_search "
        "— the serving half of the flagship's graph-index architecture: "
        "MRDF/q55 builds the proximity graph, this walks it): batched "
        "beam search where every query advances one hop per round, so "
        "corpus passes = graph diameter (not n_queries) and each round "
        "is two broadcast equi-joins (combined frontier vs adjacency, "
        "then vs vectors) — graph and corpus never shuffle; md5-seeded "
        "entry points, id tie-breaks, measured recall ≥0.9 at beam 32 "
        "over the degree-10 exact graph (tests/test_graph_search.py)"
    ),
    tags=("vector", "knn", "graph", "ann", "serving"),
)
def q124_graph_ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.graph_search import graph_knn_search

    emb = load_table(spark, sf_dir, "embeddings")
    graph = _exact_graph(spark, sf_dir).select("src", "dst")
    queries = emb.filter(F.col("vec_id") % 17 == 0)
    return graph_knn_search(queries, graph, emb, k=5, beam=32).select(
        "src", "dst", F.col("rnk").cast("bigint").alias("rnk")
    )


# --- q127: PCA projection ---------------------------------------------------

_PCA_D_OUT = 8
_PCA_SAMPLE = 2048
_PCA_SEED = 42


def exact_double_sql(x: float) -> str:
    """A SQL expression whose DuckDB value is BIT-EXACTLY ``x``.

    Decimal literals are NOT safe transport: this DuckDB build parses
    e.g. 0.0014979841295280495 one ulp off (measured — repr/'.17g'
    both land on ...c4 where the double is ...c3), which is why the
    repo's float oracles historically emit rank/id-only outputs.
    Mantissa arithmetic sidesteps the parser: x = mant·2^E with mant a
    53-bit integer (int64→double cast is exact) scaled by exact
    power-of-two multiplies/divides (never rounded, barring
    under/overflow — chunked in 2^30 factors to stay in range). This
    makes float-VALUED oracle outputs hash-checkable, not just
    float-ranked ones."""
    import math

    x = float(x)
    if x == 0.0:
        # "-0.0" parses to +0.0 in DuckDB (measured); synthesize instead
        return "(0.0)" if math.copysign(1.0, x) > 0 else "(CAST(-1 AS DOUBLE) * 0.0)"
    m, e = math.frexp(x)  # x = m * 2^e, 0.5 <= |m| < 1
    mant = int(m * (1 << 53))
    exp = e - 53
    s = f"CAST({mant} AS DOUBLE)"
    while exp >= 30:
        s = f"({s} * 1073741824.0)"
        exp -= 30
    while exp <= -30:
        s = f"({s} / 1073741824.0)"
        exp += 30
    if exp > 0:
        s = f"({s} * {(1 << exp)}.0)"
    if exp < 0:
        s = f"({s} / {(1 << -exp)}.0)"
    return f"({s})"


def _pca_proj_col_sql(sf_dir: str, d_out: int) -> list[str]:
    """Shared oracle core for q127/q129: replay the engine's exact
    training — the md5-ordered bounded sample through the SAME
    ``pca_components`` NumPy code on DuckDB-loaded rows — then render
    each projected coordinate as a left-assoc SQL sum whose term i is
    (embedding[i+1] - mean_i)·comp[i][j], constants transported via
    ``exact_double_sql``: identical elementwise ops in identical order
    to ``project_kernel``, so every output double is bit-equal. One
    helper so a transport or sample fix can never land in one oracle
    and miss the other."""
    import duckdb

    import numpy as np

    from pyspark_mrdf_spark.operators.project import pca_components

    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY md5('{_PCA_SEED}:' || CAST(vec_id AS VARCHAR)) "
        f"LIMIT {_PCA_SAMPLE}"
    ).fetchall()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    mean, comp = pca_components(x, d_out)
    cols = []
    for j in range(comp.shape[1]):
        terms = " + ".join(
            f"(CAST(embedding[{i + 1}] AS DOUBLE) - {exact_double_sql(mean[i])})"
            f" * {exact_double_sql(comp[i, j])}"
            for i in range(comp.shape[0])
        )
        cols.append(f"({terms}) AS p{j}")
    return cols


def _q127_oracle(sf_dir: str) -> str:
    """Data-dependent oracle (q57's technique): ``_pca_proj_col_sql``
    renders the bit-exact projection — the first float-VALUED (not
    just float-ranked) oracle output in the registry, made possible by
    ``exact_double_sql`` because this DuckDB's decimal float parser is
    measurably one ulp off."""
    cols = _pca_proj_col_sql(sf_dir, _PCA_D_OUT)
    return "SELECT vec_id, " + ",\n  ".join(cols) + " FROM embeddings"


@register(
    "q127_pca_project",
    # r14 is an OPTIMIZATION round: the declared surface is frozen to the
    # r13 set, so the planned q163 rotation is deferred; q163 runs in the
    # pytest oracle gate instead.
    oracle=_q127_oracle,
    description=(
        f"PCA dimensionality reduction (operators/project.py): rotation "
        f"trained once on the md5-ordered {_PCA_SAMPLE}-row sample "
        f"(pca_components — eigh of the sample covariance, sign-fixed), "
        f"every vector projected 64->{_PCA_D_OUT} in one zero-shuffle "
        "mapInPandas pass with a strictly-sequential accumulation over "
        "input dims, so all projected doubles hash-match the oracle's "
        "left-assoc sums over inlined literals — the pre-index step a "
        "100 TB embedding table runs before building its ANN index "
        "(principled sibling of q119's raw-prefix truncation)"
    ),
    tags=("vector", "reduce", "training"),
)
def q127_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.project import pca_project, pca_train

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comp = pca_train(
        emb, _PCA_D_OUT, sample_size=_PCA_SAMPLE, seed=_PCA_SEED
    )
    return pca_project(emb, mean, comp)


# --- q129: PCA-space two-stage search ---------------------------------------


def _q129_oracle(sf_dir: str) -> str:
    """q127's bit-exact projection replay (shared ``_pca_proj_col_sql``
    core) feeding q119's two-stage rank template: the proj CTE's 16
    rotated coordinates are bit-equal to the engine's, candidates rank
    by the un-sqrted squared distance over them (sqrt can collapse
    distinct squared values into one double and flip a tie — the
    q95-era lesson), rerank by full-dimension distance. BOTH distance
    orderings rely on the q50-proven (dist, id) rank portability — the
    engine's kernel may tree-reduce its distance sums, so only the
    projected VALUES are bit-exact here, the ranks are the portable
    contract (same status as q119/q116's candidate stages)."""
    proj_cols = ",\n    ".join(_pca_proj_col_sql(sf_dir, 16))
    d2 = " + ".join(f"(q.p{j} - c.p{j}) * (q.p{j} - c.p{j})" for j in range(16))
    return f"""
WITH proj AS (
  SELECT vec_id,
    {proj_cols}
  FROM embeddings)
SELECT src, dst, rnk FROM (
  SELECT t.src, t.dst,
         ROW_NUMBER() OVER (PARTITION BY t.src
           ORDER BY list_distance(CAST(qe.embedding AS DOUBLE[]),
                                  CAST(ce.embedding AS DOUBLE[])), t.dst) AS rnk
  FROM (
    SELECT src, dst FROM (
      SELECT q.vec_id AS src, c.vec_id AS dst,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ({d2}), c.vec_id) AS crnk
      FROM (SELECT * FROM proj WHERE vec_id % 13 = 0) q
      CROSS JOIN proj c
      WHERE q.vec_id <> c.vec_id)
    WHERE crnk <= 40) t
  JOIN embeddings qe ON qe.vec_id = t.src
  JOIN embeddings ce ON ce.vec_id = t.dst)
WHERE rnk <= 5
"""


@register(
    "q129_pca_prefix_knn",
    # promoted r9: takes a slot ceded by the multi-green r9 rotation
    # (see tests/test_oracle_queries.py DRIVER_SURFACE)
    oracle=_q129_oracle,
    driver=False,  # r12 rotation: 3x driver-green (r9-r11), cedes its slot to q159 OPQ-balanced PQ (PCA candidate search stays driver-verified via q133's composition; projection via q127/q134)
    description=(
        "two-stage search in the ROTATED truncated space "
        "(operators/project.pca_search): exact candidates over the "
        "16-dim PCA projection — q119's scan-byte savings, but the kept "
        "dims are the energy-optimal ones, so on anisotropic data the "
        "same candidate budget buys strictly more recall (law-tested "
        "against the raw prefix) — then exact full-dim rerank of the "
        "top-40. Oracle replays training bit-exactly (q127's mantissa "
        "transport) and ranks candidates by un-sqrted squared distance"
    ),
    tags=("vector", "knn", "reduce", "pipeline"),
)
def q129_pca_prefix_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.project import pca_search

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 13 == 0)
    return pca_search(
        queries, emb, 5, d_out=16, k_candidates=40,
        sample_size=_PCA_SAMPLE, seed=_PCA_SEED, include_self=False,
    ).select("src", "dst", F.col("rnk").cast("bigint").alias("rnk"))


@register(
    "q131_sq8_drift_monitor",
    # promoted r9: takes a slot ceded by the multi-green r9 rotation
    # (see tests/test_oracle_queries.py DRIVER_SURFACE)
    oracle="""
WITH tr AS (
  SELECT unnest(generate_series(1, len(embedding))) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings WHERE vec_id < 250),
bounds AS (
  SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM tr GROUP BY dim),
bat AS (
  SELECT unnest(generate_series(1, len(embedding))) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings WHERE vec_id >= 250)
SELECT b.dim,
       CAST(SUM(CASE WHEN t.v < b.mn THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       CAST(SUM(CASE WHEN t.v > b.mx THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST((SUM(CASE WHEN t.v < b.mn THEN 1 ELSE 0 END)
             + SUM(CASE WHEN t.v > b.mx THEN 1 ELSE 0 END)) * 1000000
            // COUNT(*) AS BIGINT) AS viol_e6
FROM bat t JOIN bounds b USING (dim)
GROUP BY b.dim
""",
    description=(
        "SQ8 quantizer drift monitor (operators/quantize.sq8_drift_stats "
        "— the retrain trigger append_sq8_index's frozen-quantizer "
        "caveat promises): per-dimension count of ingest values outside "
        "the trained [mn, mx] (those clip to the 0/255 codes and degrade "
        "candidate ordering), violation rate in integer millionths; "
        "train = vec_id < 250, monitored batch = the rest — the "
        "index-ops twin of q105's cell-occupancy monitor, exact "
        "integers under the hash verdict"
    ),
    tags=("vector", "quantize", "serving", "monitoring"),
)
def q131_sq8_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.quantize import sq8_drift_stats, sq8_train

    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") < 250)
    batch = emb.filter(F.col("vec_id") >= 250)
    mn, mx = sq8_train(train)
    return sq8_drift_stats(batch, mn, mx)


# --- q133: reduce -> quantize -> rerank composition --------------------------


def _q133_oracle(sf_dir: str) -> str:
    """The whole composition replayed in SQL: the shared proj CTE gives
    bit-exact 16-dim coordinates; per-dim MIN/MAX over them is exact
    (an element of the data, no arithmetic); codes use sq8_codes' exact
    op order floor((v-mn)*255.0/rng + 0.5) — IEEE-determined; candidate
    distances are pure int64; only the full-dim rerank compares floats,
    through the q50-proven (dist, id) rank portability."""
    proj_cols = ",\n    ".join(_pca_proj_col_sql(sf_dir, 16))
    pv = "list_value(" + ", ".join(f"p{j}" for j in range(16)) + ")"
    return f"""
WITH proj AS (
  SELECT vec_id,
    {proj_cols}
  FROM embeddings),
parr AS (SELECT vec_id, {pv} AS pv FROM proj),
mm AS (
  SELECT i, MIN(pv[i]) AS mn, MAX(pv[i]) AS mx
  FROM parr, generate_series(1, 16) AS g(i)
  GROUP BY i),
qz AS (
  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs,
         -- sq8_range_weights replayed: w_i = max(1, floor(1024*t*t + 0.5)),
         -- t = rng_i/rng_max — identical IEEE op order to the kernel
         list(GREATEST(1, CAST(floor(
             1024 * (((mx - mn) / (SELECT MAX(mx - mn) FROM mm))
                     * ((mx - mn) / (SELECT MAX(mx - mn) FROM mm))) + 0.5)
           AS BIGINT)) ORDER BY i) AS ws
  FROM mm),
codes AS (
  SELECT vec_id,
         list_transform(generate_series(1, 16), i ->
           CASE WHEN mxs[i] = mns[i] THEN 0
                ELSE CAST(floor((pv[i] - mns[i]) * 255.0
                                / (mxs[i] - mns[i]) + 0.5) AS BIGINT)
           END) AS code
  FROM parr CROSS JOIN qz),
cand AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         list_sum(list_transform(generate_series(1, 16),
                  i -> q.ws[i] * (a.code[i] - b.code[i]) * (a.code[i] - b.code[i]))) AS code_dist
  FROM codes a JOIN codes b ON a.vec_id <> b.vec_id CROSS JOIN qz q
  WHERE a.vec_id % 13 = 0),
topc AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY code_dist, dst) AS crnk
  FROM cand),
rr AS (
  SELECT t.src, t.dst,
         ROW_NUMBER() OVER (PARTITION BY t.src
           ORDER BY list_distance(CAST(qe.embedding AS DOUBLE[]),
                                  CAST(ce.embedding AS DOUBLE[])), t.dst) AS rnk
  FROM topc AS t
  JOIN embeddings qe ON qe.vec_id = t.src
  JOIN embeddings ce ON ce.vec_id = t.dst
  WHERE t.crnk <= 40)
SELECT src, dst, rnk FROM rr WHERE rnk <= 5
"""


@register(
    "q133_pca_sq8_knn",
    # promoted r9: takes a slot ceded by the multi-green r9 rotation
    # (see tests/test_oracle_queries.py DRIVER_SURFACE)
    oracle=_q133_oracle,
    description=(
        "REDUCE->QUANTIZE->RERANK (operators/project.pca_sq8_search — "
        "OPQ's shape without the codebook): PCA 64->16, SQ8 the rotated "
        "space to a 16 B/row candidate index (32x below the float64 "
        "working set), integer code-distance candidates, full-precision "
        "rerank on the ORIGINAL vectors; the oracle replays the ENTIRE "
        "composition — bit-exact projection (mantissa-transport "
        "constants), exact projected min/max, IEEE-determined codes, "
        "int64 candidate distances — so everything but the final float "
        "rerank ranks is hash-pinned, the deepest verified composition "
        "in the registry"
    ),
    tags=("vector", "knn", "reduce", "quantize", "pipeline"),
)
def q133_pca_sq8_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.project import pca_sq8_search

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 13 == 0)
    return pca_sq8_search(
        queries, emb, 5, d_out=16, k_candidates=40,
        sample_size=_PCA_SAMPLE, seed=_PCA_SEED, include_self=False,
    ).select("src", "dst", F.col("rnk").cast("bigint").alias("rnk"))


# --- q134: PCA energy spectrum ------------------------------------------------


def _q134_oracle(sf_dir: str) -> str:
    """Shared proj CTE (bit-exact coordinates) unpivoted to
    (component, value), then q52's integer fixed-point discipline:
    xi = round(p * 1e6) BIGINT, so the per-component sums are exact
    int64 arithmetic — immune to summation order on both engines."""
    proj_cols = ",\n    ".join(_pca_proj_col_sql(sf_dir, _PCA_D_OUT))
    return f"""
WITH proj AS (
  SELECT vec_id,
    {proj_cols}
  FROM embeddings),
u AS (
  SELECT component, CAST(ROUND(p * 1000000, 0) AS BIGINT) AS xi
  FROM (UNPIVOT proj ON {", ".join(f"p{j}" for j in range(_PCA_D_OUT))}
        INTO NAME component VALUE p))
SELECT component,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(xi) AS BIGINT) AS sum_e6,
       CAST(SUM(xi * xi) AS BIGINT) AS sum_sq_e12
FROM u GROUP BY component
"""


@register(
    "q134_pca_energy",
    # promoted r9: takes a slot ceded by the multi-green r9 rotation
    # (see tests/test_oracle_queries.py DRIVER_SURFACE)
    oracle=_q134_oracle,
    description=(
        "PCA energy spectrum over the corpus: per rotated component, "
        "exact integer fixed-point sum and sum-of-squares of the "
        "projected coordinates (q52's round-to-e6 discipline) — the "
        "spectrum-decay diagnostic that decides d_out before a "
        "reduce-then-index deployment (q133's docstring: don't reduce "
        "flat spectra — measured recall 0.37 flat vs 0.86 decaying at "
        "n=1M); one explode + 16-key hash agg, energy fractions are one "
        "division away from the two exact sums"
    ),
    tags=("vector", "reduce", "agg", "monitoring"),
)
def q134_pca_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.project import pca_project, pca_train

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comp = pca_train(
        emb, _PCA_D_OUT, sample_size=_PCA_SAMPLE, seed=_PCA_SEED
    )
    proj = pca_project(emb, mean, comp)
    stack_expr = "stack({}, {}) as (component, p)".format(
        _PCA_D_OUT, ", ".join(f"'p{j}', p{j}" for j in range(_PCA_D_OUT))
    )
    xi = F.round(F.col("p") * 1000000, 0).cast("bigint")
    return (
        proj.selectExpr(stack_expr)
        .select("component", xi.alias("xi"))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xi").alias("sum_e6"),
            F.sum(F.col("xi") * F.col("xi")).alias("sum_sq_e12"),
        )
    )


# --- q155: MRDF with a HASH verdict (pinned unrolled replay) -----------------
#
# q56 exercises the flagship at its production dial but is rows-only by
# design (NN-Descent's randomized inner loop is checked by recall +
# seeded determinism instead). This query pins every remaining degree of
# freedom so the WHOLE MRDF pipeline — md5-seeded centroid sampling,
# recursive nearest-centroid division, per-leaf graph construction,
# cross-forest top-k merge, final truncation — replays as a DuckDB CTE
# chain and earns the flagship a rows+schema+hash driver verdict
# (q124's unrolled-replay technique):
#
#  * alpha=64 keeps every leaf below nndescent.EXACT_BLOCK_MAX, so the
#    local build takes the exact-gemm tier: top-k_work by (dist, id) —
#    closed form, no NN-Descent sampling.
#  * tau=-1 disables the early-convergence stop (changed-edge ratio is
#    never negative), so exactly max_iter=2 forests run: the merge path
#    (union + dedup + per-src window) executes and is replayed.
#  * the division loop's data-decided depth unrolls like q124's beam
#    rounds: each oracle round extends ONLY paths holding >= alpha rows,
#    so rounds past the engine's break are no-ops; 7 rounds cover
#    rho=3 splits of any plausible sf (2000 rows need <= 5).
#  * centroid ranking replays as ORDER BY substring(md5(id || ':' ||
#    round_seed), 1, 8) — fixed-width lowercase hex compares identically
#    to the engine's conv(...,16,10)/2^32 uniform (mrdf.py
#    _sample_centroids), ties by id on both sides.
#  * output is rank-only (src, dst, rnk by (dist_sq, dst)): both engines
#    agree on distance ORDER without requiring bit-equal float sums
#    (the q124 stance); ids and ranks are integers, so the driver hash
#    is exact.
#
# Reference parity: this is the reference's full mrdf.py:13-72 pipeline
# (centroid_sampling_2 -> tree_path_extension -> local_graph_construction
# -> graph_update) under a pinned dial, which the reference could not
# replay at all (unseeded executor randomness, utilities.py:27).

_MRDF_REPLAY_SEED = 7
_MRDF_REPLAY_K = 10
_MRDF_REPLAY_RHO = 3
_MRDF_REPLAY_ALPHA = 64
_MRDF_REPLAY_ROUNDS = 7  # oracle unroll depth (engine breaks earlier)
_MRDF_REPLAY_KWORK = 20  # knn_graph's k_work = max(k, 20)


def _q155_oracle() -> str:
    M = "AS MATERIALIZED"  # every CTE is referenced >1x; inlining would
    # re-evaluate the whole prefix per reference (measured: >10 min vs 0.4 s)
    rho, alpha, rounds = _MRDF_REPLAY_RHO, _MRDF_REPLAY_ALPHA, _MRDF_REPLAY_ROUNDS
    ctes = [
        f"emb {M} (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
    ]
    forests = []
    for it in (1, 2):
        ctes.append(f"p_{it}_0 {M} (SELECT id, v, '' AS path FROM emb)")
        for r in range(1, rounds + 1):
            # mrdf.knn_graph's per-round seed derivation
            rs = _MRDF_REPLAY_SEED + 1_000_003 * it + 1_009 * r
            prev = f"p_{it}_{r - 1}"
            ctes.append(f"""big_{it}_{r} {M} (
  SELECT path FROM {prev} GROUP BY path HAVING COUNT(*) >= {alpha})""")
            ctes.append(f"""win_{it}_{r} {M} (
  SELECT path, id, v, rn FROM (
    SELECT path, id, v, ROW_NUMBER() OVER (PARTITION BY path
      ORDER BY substring(md5(CAST(id AS VARCHAR) || ':{rs}'), 1, 8), id) AS rn
    FROM {prev} WHERE path IN (SELECT path FROM big_{it}_{r}))
  WHERE rn <= {rho})""")
            ctes.append(f"""asg_{it}_{r} {M} (
  SELECT id, newpath FROM (
    SELECT d.id, d.path || ',' || CAST(w.rn - 1 AS VARCHAR) AS newpath,
           ROW_NUMBER() OVER (PARTITION BY d.id
             ORDER BY list_distance(d.v, w.v), w.rn) AS arnk
    FROM {prev} d JOIN win_{it}_{r} w ON w.path = d.path)
  WHERE arnk = 1)""")
            ctes.append(f"""p_{it}_{r} {M} (
  SELECT d.id, d.v, COALESCE(a.newpath, d.path) AS path
  FROM {prev} d LEFT JOIN asg_{it}_{r} a ON a.id = d.id)""")
        ctes.append(f"""e_{it} {M} (
  SELECT src, dst FROM (
    SELECT a.id AS src, b.id AS dst,
           ROW_NUMBER() OVER (PARTITION BY a.id
             ORDER BY list_distance(a.v, b.v), b.id) AS rnk
    FROM p_{it}_{rounds} a JOIN p_{it}_{rounds} b
      ON a.path = b.path AND a.id <> b.id)
  WHERE rnk <= {_MRDF_REPLAY_KWORK})""")
        forests.append(f"SELECT src, dst FROM e_{it}")
    union = " UNION ".join(forests)  # UNION dedupes = dropDuplicates(src, dst)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
alle {M} ({union})
SELECT src, dst, rnk FROM (
  SELECT e.src, e.dst,
         ROW_NUMBER() OVER (PARTITION BY e.src
           ORDER BY list_distance(a.v, b.v), e.dst) AS rnk
  FROM alle e JOIN emb a ON a.id = e.src JOIN emb b ON b.id = e.dst)
WHERE rnk <= {_MRDF_REPLAY_K}"""
    )


@register(
    "q155_mrdf_pinned_replay",
    # registered r10 into the slot the rotation reserved: the flagship's
    # first hash verdict (q56 stays rows-only at the production dial)
    oracle=_q155_oracle(),
    description=(
        "MRDF kNN-graph build (algorithms/mrdf.knn_graph — the flagship) "
        "at a PINNED dial: alpha=64 routes every leaf through the "
        "exact-gemm tier, tau=-1 pins exactly 2 forests, md5-seeded "
        "division replays as an unrolled CTE chain — the full pipeline "
        "(sample -> divide -> local build -> merge -> truncate) gets a "
        "rows+schema+hash driver verdict; rank-only output so the check "
        "needs distance ORDER, not bit-equal float accumulation"
    ),
    tags=("vector", "knn", "mrdf", "graph-build"),
)
def q155_mrdf_pinned_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.algorithms.mrdf import knn_graph

    # session-memoized like q55/q56's production graph: the pinned dial
    # is deterministic, so within a session (and the bench's warm pass)
    # the build runs once and re-serves from the registry
    def _build() -> DataFrame:
        metrics: list = []
        g = knn_graph(
            load_table(spark, sf_dir, "embeddings"),
            _MRDF_REPLAY_K,
            rho=_MRDF_REPLAY_RHO,
            alpha=_MRDF_REPLAY_ALPHA,
            tau=-1.0,  # never converge early: exactly max_iter forests
            seed=_MRDF_REPLAY_SEED,
            max_iter=2,
            refine_rounds=0,
            unconverged_warn_ratio=2.0,  # the max_iter stop is the point
            # the oracle unrolls EXACTLY this schedule — the iteration
            # count is the contract (escalation could not fire at
            # max_iter=2 anyway: no measured ratio exists yet)
            auto_escalate=False,
            metrics_out=metrics,
        )
        # oracle-depth guard: the CTE chain unrolls exactly
        # _MRDF_REPLAY_ROUNDS division rounds (rounds past the engine's
        # break are no-ops). An input needing MORE rounds — > alpha
        # near-duplicate vectors, pathological clustering — would make
        # engine and oracle silently diverge into a bare hash mismatch;
        # fail loudly with the cause named instead.
        max_div = max((m["divisions"] for m in metrics), default=0)
        if max_div > _MRDF_REPLAY_ROUNDS:
            raise AssertionError(
                f"q155 replay: knn_graph used {max_div} division rounds "
                f"> oracle unroll depth _MRDF_REPLAY_ROUNDS="
                f"{_MRDF_REPLAY_ROUNDS} for {sf_dir} — raise the unroll "
                "depth (both sides) for this input"
            )
        return g

    g = memoized_df(
        spark,
        ("mrdf_pinned_replay", sf_dir, _MRDF_REPLAY_K, _MRDF_REPLAY_RHO,
         _MRDF_REPLAY_ALPHA, _MRDF_REPLAY_SEED, 2, 0),
        _build,
        eager=False,
    )
    w = Window.partitionBy("src").orderBy("dist_sq", "dst")
    return (
        g.withColumn("rnk", F.row_number().over(w))
        .select("src", "dst", F.col("rnk").cast("bigint").alias("rnk"))
    )


# --- q158: incremental kNN-graph maintenance (append) -----------------------


@register(
    "q158_knn_graph_append",
    # promoted r12 at registration (r11 verdict ask #3): the 3x-green
    # q126 cedes its slot (pipeline keeps q156/q157 driver reps)
    oracle=f"""
SELECT src, dst, rnk FROM (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_distance(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])), b.vec_id) AS rnk
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
WHERE rnk <= {K}
""",
    description=(
        "incremental kNN-graph maintenance (algorithms/graph_append."
        "knn_graph_append — the build->serve->APPEND lifecycle the "
        "reference lacks): fold a 5% appended batch (vec_id % 20 == 0) "
        "into the exact graph of the other 95% under one per-src top-k "
        "merge of the m x n cross distances. The exact tier's CONTRACT "
        "is equality with the rebuilt exact graph of the union — so the "
        "oracle is the plain rebuilt-graph CTE (q50's), not a replay of "
        "the merge mechanics; the law is also bit-identity-tested "
        "(ids AND float64 distances) in tests/test_graph_append.py, and "
        "the graph tier (beam-search candidates + reverse edges + "
        "restricted NN-Descent refine; batch-proportional cost) holds "
        "recall >= 0.95 of the rebuild there"
    ),
    tags=("vector", "knn", "incremental", "maintenance"),
)
def q158_knn_graph_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.algorithms.graph_append import knn_graph_append
    from pyspark_mrdf_spark.operators.similarity import knn_exact_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 20 != 0)
    new = emb.filter(F.col("vec_id") % 20 == 0)
    old_graph = memoized_df(
        spark,
        ("exact_knn_blocked_old95", sf_dir, K),
        lambda: knn_exact_blocked(old, K),
        eager=False,
    )
    return knn_graph_append(old_graph, old, new, K, mode="exact").select(
        "src", "dst", F.col("rnk").cast("bigint").alias("rnk")
    )


# --- q159: OPQ-lite balanced rotation + PQ search ----------------------------

_OPQ_CFG = dict(n_subspaces=8, n_codes=16, sample_size=512, iters=8, seed=42)


def _q159_oracle(sf_dir: str, rerank: str = "rotated") -> str:
    """Data-dependent oracle for the full OPQ composition (q92's
    replay discipline extended one stage earlier): train the balanced
    rotation on DuckDB-loaded rows through the same ``opq_components``
    NumPy code, rotate the SAME md5 sample through ``project_kernel``
    (bit-equal to the engine's ``pca_project_vec`` values for those
    rows), train codebooks through the shared ``pq_codebooks`` core,
    then inline EVERYTHING as mantissa-transported literals: the d·d
    rotation as left-assoc projection columns (q127's technique, full
    rank), the codebooks as exact DOUBLE[] values (stronger than q92's
    repr literals). Encoding, ADC, and the rerank mirror the kernels'
    fold orders, so the only cross-engine lean is the q50-proven
    (dist, id) rank portability of the final rerank.

    ``rerank``: 'rotated' replays q159's inline composition (rerank on
    the rotated corpus); 'original' replays the PERSISTED-index serving
    contract (q161: candidates in the rotated space where the codes
    live, exact rerank on the ORIGINAL vectors — the isometry makes the
    two rank-equal, and both are replayed rather than assumed)."""
    import duckdb

    import numpy as np

    from pyspark_mrdf_spark.operators.project import (
        opq_components,
        project_kernel,
    )
    from pyspark_mrdf_spark.operators.quantize import pq_codebooks

    cfg = _OPQ_CFG
    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY md5('{cfg['seed']}:' || CAST(vec_id AS VARCHAR)) "
        f"LIMIT {cfg['sample_size']}"
    ).fetchall()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    d = x.shape[1]
    mean, rot = opq_components(x, cfg["n_subspaces"])
    xr = project_kernel(x, mean, rot)
    cb = pq_codebooks(xr, cfg["n_subspaces"], cfg["n_codes"], cfg["iters"])
    n_sub, n_codes, ds = cb.shape

    proj_cols = []
    for j in range(d):
        terms = " + ".join(
            f"(CAST(embedding[{i + 1}] AS DOUBLE) - {exact_double_sql(mean[i])})"
            f" * {exact_double_sql(rot[i, j])}"
            for i in range(d)
        )
        proj_cols.append(f"({terms}) AS p{j}")
    proj_sql = ",\n    ".join(proj_cols)
    pv = "list_value(" + ", ".join(f"p{j}" for j in range(d)) + ")"
    cb_vals = ",\n  ".join(
        "({}, {}, [{}])".format(
            m + 1, c,
            ", ".join(exact_double_sql(float(v)) for v in cb[m, c]),
        )
        for m in range(n_sub)
        for c in range(n_codes)
    )
    return f"""
WITH proj AS (
  SELECT vec_id,
    {proj_sql}
  FROM embeddings),
parr AS (SELECT vec_id, {pv} AS pv FROM proj),
cb(m, code, cvec) AS (VALUES
  {cb_vals}),
sub2 AS (
  SELECT vec_id, m, pv[(m - 1) * {ds} + 1 : m * {ds}] AS svec
  FROM (SELECT vec_id, unnest(generate_series(1, {n_sub})) AS m, pv
        FROM parr)),
enc AS (
  -- argmin by the UN-sqrted sequential-fold d² (exactly the kernel's
  -- _seq_sq_dists values), ties to the lowest code — pq_assign's order
  SELECT vec_id, m, code FROM (
    SELECT s.vec_id, s.m, c.code,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
             ORDER BY list_sum(list_transform(generate_series(1, {ds}),
                      i -> (s.svec[i] - c.cvec[i]) * (s.svec[i] - c.cvec[i]))),
                      c.code) AS rn
    FROM sub2 s JOIN cb c USING (m)) WHERE rn = 1),
terms AS (
  SELECT q.vec_id AS src, e.vec_id AS dst, q.m,
         list_sum(list_transform(generate_series(1, {ds}),
                  i -> (q.svec[i] - c.cvec[i]) * (q.svec[i] - c.cvec[i]))) AS term
  FROM (SELECT * FROM sub2 WHERE vec_id % 13 = 0) q
  JOIN enc e ON e.vec_id <> q.vec_id AND e.m = q.m
  JOIN cb c ON c.m = q.m AND c.code = e.code),
adc AS (
  SELECT src, dst, list_sum(list(term ORDER BY m)) AS adc
  FROM terms GROUP BY src, dst),
topc AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY adc, dst) AS crnk
  FROM adc),
rr AS (
{_rerank_cte(rerank, d)})
SELECT src, dst, rnk FROM rr WHERE rnk <= 5
"""


def _rerank_cte(rerank: str, d: int) -> str:
    if rerank == "rotated":
        # the engine reranks on the rotated corpus — same distances as
        # the original space up to the isometry
        return f"""
  SELECT t.src, t.dst,
         ROW_NUMBER() OVER (PARTITION BY t.src
           ORDER BY list_sum(list_transform(generate_series(1, {d}),
                    i -> (qp.pv[i] - cp.pv[i]) * (qp.pv[i] - cp.pv[i]))),
                    t.dst) AS rnk
  FROM topc t
  JOIN parr qp ON qp.vec_id = t.src
  JOIN parr cp ON cp.vec_id = t.dst
  WHERE t.crnk <= 20"""
    # 'original': the persisted-serving contract — exact rerank on the
    # raw vectors (q50's list_distance rank portability)
    return """
  SELECT t.src, t.dst,
         ROW_NUMBER() OVER (PARTITION BY t.src
           ORDER BY list_distance(CAST(qe.embedding AS DOUBLE[]),
                                  CAST(ce.embedding AS DOUBLE[])),
                    t.dst) AS rnk
  FROM topc t
  JOIN embeddings qe ON qe.vec_id = t.src
  JOIN embeddings ce ON ce.vec_id = t.dst
  WHERE t.crnk <= 20"""


@register(
    "q159_opq_pq_knn",
    # promoted r12 at registration: the 3x-green q129 cedes its slot
    # (see tests/test_oracle_queries.py DRIVER_SURFACE)
    oracle=_q159_oracle,
    description=(
        "OPQ-lite balanced-rotation PQ search (operators/project."
        "opq_train + operators/quantize.pq_search): rotate by the full "
        "PCA basis with columns permuted by eigenvalue allocation so "
        "PQ's contiguous subspaces see balanced variance products — an "
        "isometry, so exact neighbors are unchanged while code geometry "
        "improves (law-tested: recall 0.188 raw = 0.188 PCA-contiguous "
        "vs 0.356 balanced on a decaying spectrum at the same budgets) "
        "— then encode, ADC candidates, rotated-space exact rerank. The "
        "oracle replays rotation AND codebook training bit-identically "
        "(md5 sample through opq_components/project_kernel/pq_codebooks, "
        "mantissa-transported literals) and mirrors every fold order — "
        "the deepest quantization composition in the registry"
    ),
    tags=("vector", "knn", "quantize", "reduce", "pipeline"),
)
def q159_opq_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.project import opq_train, pca_project_vec
    from pyspark_mrdf_spark.operators.quantize import pq_search

    emb = load_table(spark, sf_dir, "embeddings")
    mean, rot = opq_train(
        emb, _OPQ_CFG["n_subspaces"],
        sample_size=_OPQ_CFG["sample_size"], seed=_OPQ_CFG["seed"],
    )
    emb_r = pca_project_vec(emb, mean, rot).localCheckpoint(eager=False)
    q_r = emb_r.filter(F.col("vec_id") % 13 == 0)
    return pq_search(
        q_r, emb_r, 5, k_candidates=20, include_self=False, **_OPQ_CFG
    ).select("src", "dst", F.col("rnk").cast("bigint").alias("rnk"))


# --- q161: persisted rotated-PQ index serving --------------------------------
#
# q159 proved the OPQ rotation's recall win inline; r13 persisted the
# rotation INTO the index format (operators/quantize.write_pq_index
# rotation=). This query is the deployment shape: build-once (train
# rotation + codebooks, encode the rotated corpus, store everything in
# params.parquet + codes/), then serve a query batch through the
# FROZEN rotation (pq_search_encoded rotation= — queries rotated
# driver-side, candidates in the rotated space where the codes live,
# exact rerank on the ORIGINAL vectors). The oracle replays the whole
# persisted composition — rotation, codebooks, codes, ADC, and the
# original-space rerank — so the float64-exact parquet roundtrip of
# the frozen params is part of what the hash verdict covers.

_ROT_PQ_IDX: dict[str, str] = {}


def _rotated_pq_index_path(spark: SparkSession, sf_dir: str) -> str:
    """The per-(process, sf) persisted rotated PQ index of the
    embeddings corpus: built on first use, then served read-only, as
    deployed (the q122 persisted-dedup-index pattern)."""
    import tempfile

    from pyspark_mrdf_spark.operators.quantize import build_pq_index

    path = _ROT_PQ_IDX.get(sf_dir)
    if path is None:
        emb = load_table(spark, sf_dir, "embeddings")
        path = tempfile.mkdtemp(prefix="mrdf_rotpq_idx_")
        build_pq_index(emb, path, rotate="opq", **_OPQ_CFG)
        _ROT_PQ_IDX[sf_dir] = path
    return path


@register(
    "q161_rotated_pq_serving",
    # promoted r13 at registration: the 4x-green q119 cedes its slot
    # (prefix-dim candidates stay verified via q133's PCA composition)
    oracle=lambda sf_dir: _q159_oracle(sf_dir, rerank="original"),
    description=(
        "persisted rotated-PQ index serving (r13: write/read/"
        "append_pq_index carry the OPQ rotation with the frozen "
        "params): build-once on the rotated corpus, serve the query "
        "batch through the frozen rotation with pq_search_encoded("
        "rotation=) — candidates in the rotated code space, exact "
        "rerank on the ORIGINAL vectors. The oracle replays rotation, "
        "codebooks, encoding, ADC and the original-space rerank, so "
        "the hash verdict covers the params' parquet roundtrip and "
        "the serving contract q159's inline win could not"
    ),
    tags=("vector", "knn", "quantize", "reduce", "serving"),
)
def q161_rotated_pq_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.quantize import (
        pq_search_encoded,
        read_index_rotation,
        read_pq_index,
    )

    path = _rotated_pq_index_path(spark, sf_dir)
    cb, codes = read_pq_index(spark, path)
    rot = read_index_rotation(path)
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 13 == 0)
    return pq_search_encoded(
        queries, codes, cb, emb, 5, k_candidates=20,
        include_self=False, rotation=rot,
    ).select("src", "dst", F.col("rnk").cast("bigint").alias("rnk"))


# --- q162: chained incremental graph maintenance ----------------------------
#
# q158 verified ONE append; the r13 planner fix (materialize=True →
# cache.pin_stats) is what makes CHAINS deployable — so the chain gets
# its own hash verdict: two successive exact appends, each folding onto
# the previous MATERIALIZED output, must equal the rebuilt exact graph
# of the final union (the chaining law, bit-identity-tested in
# tests/test_graph_append.py; the oracle is the plain rebuilt-graph
# CTE exactly like q158's). The driver run exercises pin_stats on its
# own session — the r12 wedge shape, now under a verdict.


@register(
    "q162_chained_graph_append",
    # promoted r13 at registration: the 4x-green q143 cedes its slot
    # (multimodal keeps q112/q121)
    oracle=f"""
SELECT src, dst, rnk FROM (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_distance(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])), b.vec_id) AS rnk
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
WHERE rnk <= {K}
""",
    description=(
        "CHAINED incremental kNN-graph maintenance (knn_graph_append x2 "
        "with materialize=True — cache.pin_stats output, the r13 fix "
        "for the r12 stats-compounding planner wedge): two successive "
        "5% batches fold onto the operator's own materialized "
        "rank-carrying output, and the chain must equal the rebuilt "
        "exact graph of the final union — the oracle is q158's plain "
        "rebuilt-graph CTE over the whole corpus"
    ),
    tags=("vector", "knn", "incremental", "maintenance"),
)
def q162_chained_graph_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.algorithms.graph_append import knn_graph_append
    from pyspark_mrdf_spark.operators.similarity import knn_exact_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    # same 95/5 split as q158, with the 5% fed in TWO chained batches —
    # so the session-memoized exact base graph is shared with q158
    # (the registry's materialized-view discipline)
    old = emb.filter(F.col("vec_id") % 20 != 0)
    b1 = emb.filter(F.col("vec_id") % 40 == 0)
    b2 = emb.filter(F.col("vec_id") % 40 == 20)
    g0 = memoized_df(
        spark,
        ("exact_knn_blocked_old95", sf_dir, K),
        lambda: knn_exact_blocked(old, K),
        eager=False,
    )
    g1 = knn_graph_append(g0, old, b1, K, mode="exact", materialize=True)
    g2 = knn_graph_append(
        g1, old.unionByName(b1), b2, K, mode="exact"
    )
    return g2.select("src", "dst", F.col("rnk").cast("bigint").alias("rnk"))


# --- q163: rotation-aware drift monitoring -----------------------------------
#
# The r14 monitor the persisted-rotation format promises (r13 verdict
# ask #6): the rotation is frozen training state, so drift must be
# measured IN THE ROTATED BASIS — a batch can hold its original-space
# ranges (quiet on sq8-style monitors, barely moving cell skew) while
# running far outside the training envelope along a rotated direction
# the codebooks never allocated codes for. The index persisted at
# build time both the rotation AND the training-sample envelope
# (rot_env_mn/rot_env_mx); the monitor rotates the batch through the
# frozen params and counts per-rotated-dim violations.


def _q163_oracle(sf_dir: str) -> str:
    """Data-dependent oracle: replay the rotation training (md5 sample
    through ``opq_components`` — q159's discipline), recompute the
    training envelope through the same ``project_kernel`` (elements of
    the sample; no arithmetic beyond the bit-exact projection), then
    render the batch projection as left-assoc transported-constant
    sums and count envelope violations per rotated dim. Comparisons
    are exact (both sides bit-equal doubles), counts are integers —
    the whole monitor is hash-pinned, including the frozen params'
    parquet roundtrip."""
    import duckdb

    import numpy as np

    from pyspark_mrdf_spark.operators.project import (
        opq_components,
        project_kernel,
    )

    cfg = _OPQ_CFG
    rows = duckdb.sql(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY md5('{cfg['seed']}:' || CAST(vec_id AS VARCHAR)) "
        f"LIMIT {cfg['sample_size']}"
    ).fetchall()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    d = x.shape[1]
    mean, rot = opq_components(x, cfg["n_subspaces"])
    proj = project_kernel(x, mean, rot)
    env_mn, env_mx = proj.min(axis=0), proj.max(axis=0)

    proj_cols = []
    for j in range(d):
        terms = " + ".join(
            f"(e[{i + 1}] - {exact_double_sql(mean[i])})"
            f" * {exact_double_sql(rot[i, j])}"
            for i in range(d)
        )
        proj_cols.append(f"({terms}) AS p{j}")
    proj_sql = ",\n    ".join(proj_cols)
    pv = "list_value(" + ", ".join(f"p{j}" for j in range(d)) + ")"
    env_vals = ",\n  ".join(
        f"({i + 1}, {exact_double_sql(float(env_mn[i]))},"
        f" {exact_double_sql(float(env_mx[i]))})"
        for i in range(d)
    )
    return f"""
WITH batch AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings WHERE vec_id % 5 = 1
  UNION ALL
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0 + 1.0) AS e
  FROM embeddings WHERE vec_id % 5 = 2),
proj AS (
  SELECT vec_id,
    {proj_sql}
  FROM batch),
parr AS (SELECT vec_id, {pv} AS pv FROM proj),
env(dim, mn, mx) AS (VALUES
  {env_vals}),
ex AS (
  SELECT g.i AS dim, pv[g.i] AS v
  FROM parr, generate_series(1, {d}) AS g(i))
SELECT CAST(e.dim AS BIGINT) AS dim,
       CAST(SUM(CASE WHEN ex.v < e.mn THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       CAST(SUM(CASE WHEN ex.v > e.mx THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(((SUM(CASE WHEN ex.v < e.mn THEN 1 ELSE 0 END)
              + SUM(CASE WHEN ex.v > e.mx THEN 1 ELSE 0 END)) * 1000000)
            // COUNT(*) AS BIGINT) AS viol_e6
FROM ex JOIN env e ON e.dim = ex.dim
GROUP BY e.dim
"""


@register(
    "q163_rotation_drift",
    # r14 is an OPTIMIZATION round with a frozen driver surface (the r13
    # set); this r14 operator is oracle-verified in the pytest gate and
    # is a rotation candidate for the next build round.
    driver=False,
    oracle=_q163_oracle,
    description=(
        "rotation-aware drift monitor for the persisted rotated index "
        "(operators/quantize.rotation_drift_stats — r14): rotate a "
        "mixed batch (60%-of-corpus in-distribution rows + an affine-"
        "shifted drifted slice) through q161's FROZEN persisted "
        "rotation and count per-ROTATED-dim violations of the persisted "
        "training-sample envelope — the retrain trigger the rotated "
        "index format promises, now under a hash verdict (bit-exact "
        "projection via mantissa-transported constants, exact integer "
        "counts; the verdict covers the envelope's parquet roundtrip)"
    ),
    tags=("vector", "quantize", "monitoring", "serving"),
)
def q163_rotation_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.operators.quantize import rotation_drift_stats

    path = _rotated_pq_index_path(spark, sf_dir)  # shared with q161
    emb = load_table(spark, sf_dir, "embeddings")
    quiet = emb.filter(F.col("vec_id") % 5 == 1).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("embedding"),
    )
    # deterministic drifted slice: exact double affine (x*2+1), so the
    # oracle replays it bit-equally — original-space ranges move, and
    # the ROTATED envelope is what catches it
    drifted = emb.filter(F.col("vec_id") % 5 == 2).select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(x as double) * 2.0d + 1.0d)"
        ).alias("embedding"),
    )
    return rotation_drift_stats(quiet.unionByName(drifted), path)


# --- q164: graph-state compaction --------------------------------------------
#
# The bound on graph_append_stream's delta growth (r13 verdict ask #3):
# read_graph_state pays one overlay per committed delta, linear in
# delta count; compact_graph_state folds base + deltas into a fresh
# single-base state (the merge_sq8_indexes single-source pattern).
# This query puts the WHOLE persisted lifecycle under one hash verdict:
# seed state (95% exact graph) -> commit the 5% batch's replacement
# delta exactly as the stream writes it -> compact -> serve from the
# compacted state. The exact tier's law makes the oracle the plain
# rebuilt-graph CTE over the full corpus (q158's), so the verdict
# covers the delta write, the latest-wins overlay, the compaction
# fold, AND the compacted read.

_COMPACT_STATE: dict[str, str] = {}


def _compacted_state_path(spark: SparkSession, sf_dir: str) -> str:
    import os
    import tempfile

    from pyspark_mrdf_spark.algorithms.graph_append import knn_graph_append
    from pyspark_mrdf_spark.operators.similarity import knn_exact_blocked
    from pyspark_mrdf_spark.streaming.ingest import (
        compact_graph_state,
        write_graph_state,
    )

    path = _COMPACT_STATE.get(sf_dir)
    if path is None:
        emb = load_table(spark, sf_dir, "embeddings")
        old = emb.filter(F.col("vec_id") % 20 != 0)
        new = emb.filter(F.col("vec_id") % 20 == 0)
        g0 = memoized_df(
            spark,
            ("exact_knn_blocked_old95", sf_dir, K),  # shared with q158/q162
            lambda: knn_exact_blocked(old, K),
            eager=False,
        )
        root = tempfile.mkdtemp(prefix="mrdf_gstate_")
        live = os.path.join(root, "live")
        write_graph_state(old, g0, live)
        delta = knn_graph_append(
            g0, old, new, K, mode="exact", return_delta=True
        )
        # commit the batch exactly as graph_append_stream does: corpus
        # partition first (crash-consistency order), then the delta
        new.select("vec_id", "embedding").write.mode("overwrite").parquet(
            f"{live}/corpus/stream/batch=0"
        )
        delta.write.mode("overwrite").parquet(f"{live}/graph/stream/batch=0")
        path = os.path.join(root, "compacted")
        compact_graph_state(spark, live, path)
        _COMPACT_STATE[sf_dir] = path
    return path


@register(
    "q164_compacted_graph_state",
    # r14 optimization round: frozen driver surface — pytest oracle gate
    # only; rotation candidate for the next build round.
    driver=False,
    oracle=f"""
SELECT src, dst, rnk FROM (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_distance(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])), b.vec_id) AS rnk
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
WHERE rnk <= {K}
""",
    description=(
        "graph-state COMPACTION (streaming/ingest.compact_graph_state "
        "— r14): seed the persisted state with the 95% exact graph, "
        "commit the 5% batch's replacement delta exactly as "
        "graph_append_stream writes it, fold base+delta into a fresh "
        "single-base state (the merge_sq8_indexes single-source "
        "pattern, not-in-place guarded), and serve from the COMPACTED "
        "state — which must equal the rebuilt exact graph of the full "
        "corpus (the exact tier's law), so the oracle is q158's plain "
        "rebuilt-graph CTE and the verdict covers delta write, "
        "latest-wins overlay, compaction fold, and compacted read"
    ),
    tags=("vector", "knn", "incremental", "maintenance", "streaming"),
)
def q164_compacted_graph_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.streaming.ingest import read_graph_state

    _, graph = read_graph_state(spark, _compacted_state_path(spark, sf_dir))
    return graph.select("src", "dst", F.col("rnk").cast("bigint").alias("rnk"))


# --- q165: maintained-graph entry-set top-up ---------------------------------

_Q165_SEEDS = 16


@register(
    "q165_append_entries",
    # r14 optimization round: frozen driver surface — pytest oracle gate
    # only; rotation candidate for the next build round.
    driver=False,
    oracle=f"""
WITH union_graph AS (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY list_distance(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), b.vec_id) AS rnk
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
  WHERE rnk <= {K}),
adopted AS (
  SELECT DISTINCT dst AS vid FROM union_graph
  WHERE src % 20 <> 0 AND dst % 20 = 0),
seeds AS (
  SELECT vec_id AS vid FROM embeddings WHERE vec_id % 20 <> 0
  ORDER BY md5('165:' || CAST(vec_id AS VARCHAR)) LIMIT {_Q165_SEEDS}),
topup AS (
  SELECT vec_id AS vid FROM embeddings
  WHERE vec_id % 20 = 0
    AND vec_id NOT IN (SELECT vid FROM adopted))
SELECT DISTINCT vid
FROM (SELECT vid FROM seeds UNION ALL SELECT vid FROM topup)
""",
    description=(
        "maintained-graph entry-set top-up (operators/graph_search."
        "append_entries — r14): fold the 5% batch into the 95% exact "
        "graph as a REPLACEMENT delta (knn_graph_append return_delta), "
        "then top an md5-seeded build-time entry set up with exactly "
        "the batch ids no OLD node adopted — the delta rows with dst "
        "in the batch and src outside it are precisely the union "
        "graph's old->new adoptions (a changed src's delta carries its "
        "whole adjacency), so the oracle recomputes adoption from the "
        "rebuilt exact union graph and the verdict pins the operator's "
        "exact O(batch) top-up rule: entries = seeds UNION (batch \\ "
        "adopted). The rule's WHY (an unadopted appended node has "
        "in-degree 0 and is unreachable by the directed walk; the "
        "undirected CC pass cannot save it) is law-pinned in "
        "tests/test_graph_append.py"
    ),
    tags=("vector", "knn", "incremental", "maintenance", "serving"),
)
def q165_append_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark_mrdf_spark.algorithms.graph_append import knn_graph_append
    from pyspark_mrdf_spark.operators.graph_search import append_entries
    from pyspark_mrdf_spark.operators.similarity import knn_exact_blocked

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 20 != 0)
    new = emb.filter(F.col("vec_id") % 20 == 0)
    old_graph = memoized_df(
        spark,
        ("exact_knn_blocked_old95", sf_dir, K),
        lambda: knn_exact_blocked(old, K),
        eager=False,
    )
    delta = knn_graph_append(old_graph, old, new, K, mode="exact", return_delta=True)
    entries0 = (
        old.orderBy(F.md5(F.concat(F.lit("165:"), F.col("vec_id").cast("string"))))
        .limit(_Q165_SEEDS)
        .select(F.col("vec_id").alias("vid"))
    )
    return append_entries(entries0, delta, new)
