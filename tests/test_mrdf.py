"""MRDF / NN-Descent / recall tests, mirroring the reference's own
methodology (SURVEY.md §5.1): exact brute-force oracle + recall
threshold + seeded determinism, plus the README 2-vector golden case
(reference README.md:48-50)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_mrdf_spark.algorithms import mrdf
from pyspark_mrdf_spark.algorithms.mrdf import format_adjacency, knn_graph
from pyspark_mrdf_spark.algorithms.nndescent import nn_descent, _exact_block
from pyspark_mrdf_spark.algorithms.recall import recall, recall_vs_groundtruth
from pyspark_mrdf_spark.io import load_table
from pyspark_mrdf_spark.operators.similarity import knn_exact

K = 5


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def g_exact(emb):
    return knn_exact(emb, K).localCheckpoint()


def test_mrdf_recall_vs_exact(spark, emb, g_exact):
    # alpha small enough to force ≥1 division round on 500 vectors
    g = knn_graph(emb, K, rho=4, alpha=250, tau=0.0, seed=42, max_iter=3)
    r = recall(g_exact, g)
    assert r >= 0.9, f"MRDF recall {r} below threshold"


def test_mrdf_single_leaf_high_recall(spark, emb, g_exact):
    # alpha > n: no division, pure per-group NN-Descent
    g = knn_graph(emb, K, rho=4, alpha=600, tau=0.01, seed=42, max_iter=1, refine_rounds=0)
    r = recall(g_exact, g)
    assert r >= 0.97, f"NN-Descent recall {r} below threshold"


def test_mrdf_seeded_determinism(spark, emb):
    a = knn_graph(emb, K, rho=3, alpha=120, tau=0.05, seed=7, max_iter=2)
    b = knn_graph(emb, K, rho=3, alpha=120, tau=0.05, seed=7, max_iter=2)
    rows_a = sorted(map(tuple, a.select("src", "dst").collect()))
    rows_b = sorted(map(tuple, b.select("src", "dst").collect()))
    assert rows_a == rows_b


def test_mrdf_distributed_centroids_tier(spark, emb, g_exact, monkeypatch):
    # centroid_broadcast_max_paths=0 forces the join+min_by tier (no
    # driver-side centroid dict) on every division round; tiny alpha
    # forces many oversized paths. n=500 fits one task, so the in-task
    # threshold is forced to 0 to keep the divisions on the driver.
    # Same recall contract as the dict tier, and seeded determinism holds.
    monkeypatch.setattr(mrdf, "_IN_TASK_DIVISION_MAX", 0)
    kw = dict(rho=4, alpha=250, tau=0.0, seed=42, max_iter=3, centroid_broadcast_max_paths=0)
    metrics: list = []
    g = knn_graph(emb, K, metrics_out=metrics, **kw)
    assert metrics and all(m["join_tier_rounds"] >= 1 for m in metrics)
    r = recall(g_exact, g)
    assert r >= 0.9, f"join-tier MRDF recall {r} below threshold"
    rows_a = sorted(map(tuple, g.select("src", "dst").collect()))
    rows_b = sorted(
        map(tuple, knn_graph(emb, K, **kw).select("src", "dst").collect())
    )
    assert rows_a == rows_b


def test_mrdf_max_k_edges_per_src(spark, emb):
    g = knn_graph(emb, K, rho=3, alpha=200, tau=0.05, seed=1, max_iter=2)
    over = g.groupBy("src").count().filter(F.col("count") > K).count()
    assert over == 0


def test_readme_two_vector_golden(spark):
    # reference README.md:48-50: two vectors, K=1 → (0,[1]), (1,[0])
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0])], ["vec_id", "embedding"]
    )
    g = knn_graph(df, 1, rho=2, alpha=10, tau=0.01, seed=42, max_iter=2)
    adj = {r["id"]: list(r["neighbors"]) for r in format_adjacency(g).collect()}
    assert adj == {0: [1], 1: [0]}


def test_recall_identity(g_exact):
    assert recall(g_exact, g_exact) == 1.0


def test_recall_vs_groundtruth(spark, g_exact):
    gt = (
        g_exact.orderBy("rnk")
        .groupBy(F.col("src").alias("id"))
        .agg(F.collect_list("dst").alias("true_neighbors"))
    )
    assert recall_vs_groundtruth(g_exact, gt, K) == 1.0


def test_nndescent_recall_clusters():
    # three well-separated blobs (FIXTURES.md B3): kNN stays in-blob
    rng = np.random.default_rng(5)
    blobs = [rng.normal(loc=c, scale=0.1, size=(60, 8)) for c in (0.0, 5.0, 10.0)]
    mat = np.concatenate(blobs)
    ids = np.arange(len(mat), dtype=np.int64)
    approx = nn_descent(ids, mat, 5, rng=np.random.default_rng(3))
    exact = _exact_block(ids, mat, 5)
    ex: dict[int, set] = {}
    for s, d, _ in exact:
        ex.setdefault(s, set()).add(d)
    ap: dict[int, set] = {}
    for s, d, _ in approx:
        ap.setdefault(s, set()).add(d)
    hits = sum(len(ex[s] & ap.get(s, set())) for s in ex)
    total = sum(len(v) for v in ex.values())
    assert hits / total >= 0.9
    # all neighbors in-blob
    for s, ds in ap.items():
        blob = s // 60
        assert all(d // 60 == blob for d in ds)


def test_nndescent_iterative_rounds_recall(monkeypatch):
    # n=180 is below the exact cutoffs, so force the ITERATIVE
    # NN-Descent rounds (the only path the cutoffs leave untested —
    # it's what runs for reference-parity huge-alpha leaves)
    import pyspark_mrdf_spark.algorithms.nndescent as nd

    monkeypatch.setattr(nd, "EXACT_BLOCK_MAX", 0)
    monkeypatch.setattr(nd, "TILED_EXACT_MAX", 0)
    rng = np.random.default_rng(5)
    blobs = [rng.normal(loc=c, scale=0.1, size=(60, 8)) for c in (0.0, 5.0, 10.0)]
    mat = np.concatenate(blobs)
    ids = np.arange(len(mat), dtype=np.int64)
    approx = nn_descent(ids, mat, 5, rng=np.random.default_rng(3))
    exact = _exact_block(ids, mat, 5)
    ex: dict[int, set] = {}
    for s, d, _ in exact:
        ex.setdefault(s, set()).add(d)
    ap: dict[int, set] = {}
    for s, d, _ in approx:
        ap.setdefault(s, set()).add(d)
    hits = sum(len(ex[s] & ap.get(s, set())) for s in ex)
    total = sum(len(v) for v in ex.values())
    assert hits / total >= 0.9


def test_mrdf_deep_division_recall(spark, emb, g_exact, monkeypatch):
    # α=120 at n=500 forces ≥2 division rounds (500 → ~3×167 → ~9×56):
    # exercises multi-level tree-path extension, per-path centroid
    # sampling on non-root paths, and the metrics hook. The in-task
    # threshold is forced to 0 so the rounds run as driver divisions.
    monkeypatch.setattr(mrdf, "_IN_TASK_DIVISION_MAX", 0)
    metrics: list = []
    g = knn_graph(
        emb, K, rho=3, alpha=120, tau=0.01, seed=42, max_iter=3,
        refine_rounds=2, metrics_out=metrics,
    ).localCheckpoint()
    assert metrics and any(m["divisions"] >= 2 for m in metrics)
    # every node keeps exactly K edges
    per_src = g.groupBy("src").count().agg(
        F.min("count").alias("lo"), F.max("count").alias("hi")
    ).collect()[0]
    assert (per_src["lo"], per_src["hi"]) == (K, K)
    assert recall(g_exact, g) >= 0.85


def _forest_run(emb, metrics: list, **kw):
    """One pinned 2-forest build without refinement: the union of the
    two forests' leaf graphs, with dist_sq compared bit for bit."""
    g = knn_graph(
        emb, K, tau=-1.0, max_iter=2, refine_rounds=0, auto_escalate=False,
        unconverged_warn_ratio=2.0, metrics_out=metrics, **kw,
    )
    return sorted((r["src"], r["dst"], r["dist_sq"].hex()) for r in g.collect())


@pytest.mark.parametrize(
    "alpha,rho,seed",
    [
        (250, 3, 1),
        (60, 3, 2),  # ≥ 3 division levels
        (500, 4, 3),  # the root path holds exactly α = n rows
    ],
)
def test_in_task_division_matches_driver_loop(spark, emb, monkeypatch, alpha, rho, seed):
    # Law: finishing the division levels inside the leaf task gives the
    # same forest as splitting every level on the driver (threshold 0),
    # at the default threshold and at one that mixes both.
    tree_keys = ("iteration", "divisions", "n_leaves", "max_leaf", "join_tier_rounds")
    runs = {}
    for threshold in (0, 150, mrdf.EXACT_BLOCK_MAX):
        monkeypatch.setattr(mrdf, "_IN_TASK_DIVISION_MAX", threshold)
        metrics: list = []
        edges = _forest_run(emb, metrics, alpha=alpha, rho=rho, seed=seed)
        runs[threshold] = (edges, [{k: m[k] for k in tree_keys} for m in metrics])
    ref_edges, ref_tree = runs[0]
    assert ref_edges and len(ref_tree) == 2
    if alpha == 60:
        assert min(m["divisions"] for m in ref_tree) >= 3
    if alpha == 500:
        assert all(m["divisions"] >= 1 for m in ref_tree)
    for threshold, (edges, tree) in runs.items():
        assert tree == ref_tree, threshold
        assert edges == ref_edges, threshold


def test_md5_uniform_matches_jvm_expression(spark):
    # the in-task sampler's Python uniform must equal the driver
    # sampler's JVM draw for every id, including negative and > 2^31
    from pyspark_mrdf_spark.algorithms.mrdf import _md5_uniform, _md5_uniform_col

    ids = [0, 1, 7, -1, -42, 2**31 - 1, 2**31, 2**31 + 9, 2**40 + 3, -(2**33), 2**63 - 1]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    for rand_seed in (42, 42 + 1_000_003 * 2 + 1_009 * 3, 2**33 + 1):
        rows = df.select(
            "id",
            F.expr(
                "CAST(conv(substring(md5(concat_ws(':', id, "
                f"{rand_seed})), 1, 8), 16, 10) AS BIGINT) / 4294967296D"
            ).alias("sql"),
            _md5_uniform_col("id", rand_seed).alias("col"),
        ).collect()
        jvm = {r["id"]: (r["sql"], r["col"]) for r in rows}
        py = _md5_uniform(np.array(ids, dtype=np.int64), rand_seed)
        for i, u in zip(ids, py.tolist()):
            assert jvm[i] == (u, u), (i, rand_seed)


def test_knn_graph_jobs_carry_caller_tag(spark, emb, monkeypatch):
    # every job knn_graph launches — the forest look-ahead pool's
    # included — carries the session tag of the calling thread
    import time

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def jobs() -> dict[int, list[str]]:
        jsc.listenerBus().waitUntilEmpty()
        jl = jsc.statusStore().jobsList(None)
        return {
            jl.apply(i).jobId(): jl.apply(i).jobTags().mkString("\t").split("\t")
            for i in range(jl.size())
        }

    # start from an idle context, so no other test's job lands in the window
    deadline = time.monotonic() + 120
    while sc.statusTracker().getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.5)
    before = set(jobs())
    # driver divisions put gate/collect jobs on the pool threads too
    monkeypatch.setattr(mrdf, "_IN_TASK_DIVISION_MAX", 0)
    tag = "knn-graph-tag-test"
    spark.addTag(tag)
    try:
        knn_graph(emb, K, rho=3, alpha=120, seed=5, max_iter=2, auto_escalate=False)
    finally:
        spark.removeTag(tag)
    new = {j: tags for j, tags in jobs().items() if j not in before}
    assert len(new) >= 6
    untagged = sorted(j for j, tags in new.items() if not any(t.endswith("-" + tag) for t in tags))
    assert not untagged, untagged


def _uniform_emb(spark, n=2000, d=32, seed=13):
    # pure Gaussian noise — the documented worst case for
    # partition-based ANN (SCALABILITY.json's uniform rows)
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((n, d)).astype(float)
    return spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<double>",
    ).localCheckpoint(eager=True)


def test_uniform_default_tau_driven_call_reaches_recall(spark):
    # the r5 verdict's footgun check, closed from the convergence side:
    # at the DEFAULT dial (max_iter=0 → tau drives), worst-case uniform
    # data must either reach >=0.9 recall or surface an explicit
    # signal. Measured: tau-driven iteration converges (n=10k: 14
    # forests, recall 0.996) — so the default call reaches the bar and
    # emits NO warning.
    import warnings as w

    from pyspark_mrdf_spark.operators.similarity import knn_exact_blocked

    emb = _uniform_emb(spark)
    g_exact = knn_exact_blocked(emb, 10).localCheckpoint(eager=True)
    with w.catch_warnings(record=True) as caught:
        w.simplefilter("always")
        g = knn_graph(emb, 10, rho=4, alpha=512, seed=42).localCheckpoint(eager=True)
        assert not any("knn_graph stopped" in str(x.message) for x in caught)
    assert recall(g_exact, g) >= 0.9


def test_capped_unconverged_run_surfaces_signal(spark):
    # ...and from the capped side: an explicit max_iter that cuts the
    # loop while the changed-edge ratio is still high must emit the
    # under-convergence UserWarning and flag metrics_out — the
    # explicit signal a user sizing the dial needs when the hands-free
    # escalation is pinned off
    import pytest as pt

    emb = _uniform_emb(spark)
    metrics: list = []
    # max_iter=3, not 2: the signal uses already-measured ratios only
    # (iteration 1's ratio is definitional and the stop iteration skips
    # the aggregate), so the first config that CAN warn is max_iter=3
    with pt.warns(UserWarning, match="knn_graph stopped at max_iter"):
        knn_graph(
            emb, 10, rho=4, alpha=512, max_iter=3, metrics_out=metrics,
            auto_escalate=False,
        ).localCheckpoint(eager=True)
    assert metrics and metrics[-1].get("unconverged") is True


def test_capped_unconverged_run_auto_escalates_hands_free(spark):
    # default-dial call on worst-case uniform data (no hand tuning):
    # the same free signal that fires the warning must instead raise
    # the dial — up to 2x the forests plus one extra refine round —
    # and the escalated graph must beat the pinned-off one. The
    # escalated schedule is deterministic (forests depend only on
    # (seed, i)), so this is the hand-tuned dial, reached hands-free.
    from pyspark_mrdf_spark.operators.similarity import knn_exact_blocked

    emb = _uniform_emb(spark)
    g_exact = knn_exact_blocked(emb, 10).localCheckpoint(eager=True)
    metrics_off: list = []
    metrics_on: list = []
    import warnings as w

    with w.catch_warnings():
        w.simplefilter("ignore")  # the pinned-off run warns by design
        g_off = knn_graph(
            emb, 10, rho=4, alpha=512, max_iter=3, metrics_out=metrics_off,
            auto_escalate=False,
        ).localCheckpoint(eager=True)
    g_on = knn_graph(
        emb, 10, rho=4, alpha=512, max_iter=3, metrics_out=metrics_on,
    ).localCheckpoint(eager=True)
    assert any(m.get("escalated") for m in metrics_on)
    # budget honored: never more than 2x max_iter forests
    assert len(metrics_on) <= 6
    r_off, r_on = recall(g_exact, g_off), recall(g_exact, g_on)
    assert r_on > r_off, (r_on, r_off)
    assert r_on >= 0.9, r_on


def test_refine_default_sizing_matches_explicit_blocks(spark, emb):
    # _refine's n_blocks=None sizing (one aggregate job, not a
    # first()+count() pair) must produce the same refined graph as an
    # explicit block count — block shape never changes results
    from pyspark.sql import functions as F

    from pyspark_mrdf_spark.algorithms.mrdf import _refine

    base = emb.select(
        F.col("vec_id").cast("long").alias("id"), F.col("embedding").alias("vec")
    ).localCheckpoint(eager=True)
    g0 = knn_exact(emb, 3).select("src", "dst", "dist_sq").localCheckpoint(eager=True)
    auto = sorted(map(tuple, _refine(base, g0, 5).select("src", "dst").collect()))
    explicit = sorted(
        map(tuple, _refine(base, g0, 5, n_blocks=3).select("src", "dst").collect())
    )
    assert auto == explicit and len(auto) > 0


def test_refine_grid_invariance_bit_identical(spark, emb):
    # The r14 grid blocking: cell shape must never change the refined
    # graph — per-pair gather→subtract→einsum is identical under any
    # (Ba, Bb), including the degenerate single cell. dist_sq compared
    # EXACTLY (bit-identical, the r10 chunking discipline).
    from pyspark.sql import functions as F

    from pyspark_mrdf_spark.algorithms.mrdf import _refine

    base = emb.select(
        F.col("vec_id").cast("long").alias("id"), F.col("embedding").alias("vec")
    ).localCheckpoint(eager=True)
    g0 = knn_exact(emb, 3).select("src", "dst", "dist_sq").localCheckpoint(eager=True)

    def run(grid):
        return sorted(
            map(tuple, _refine(base, g0, 5, grid=grid).collect())
        )

    single = run((1, 1))
    assert single == run((3, 2)) == run((4, 4)) and len(single) > 0
