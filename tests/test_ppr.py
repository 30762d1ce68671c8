"""PPR oracle tests (FIXTURES.md §4/§6): the single-query entry point
(|Q| = 1 over the batch router) vs the exact dense-solve oracle, on graphs
covering parallel edges, dangling vertices, disconnected components,
NaN/negative reset weights, zero-weight rows and hub skew —
allclose(atol=1e-6), the north_rule criterion.

The local backend (driver numpy) runs every graph at both dampings; the
distributed dataframe backend runs every graph at one damping (Spark
job-launch overhead per superstep), reached through its ``'csr'`` alias,
plus a cross-mode equivalence test on a larger seeded graph.  The batch
tests pin the local and dataframe backends against each other and against
per-query single runs, including checkpoints written by one backend
(blocks among them) and resumed by another."""

import itertools

import numpy as np
import pytest

from hipporag_spark.checkpoint import CheckpointStore
from hipporag_spark.ppr import personalized_pagerank, personalized_pagerank_batch
from tests.reference_impl import ppr_exact

# (name, directed edge rows (src,dst,weight), reset dict)
GRAPHS = [
    (
        "parallel_and_reverse",  # fact-style both-direction rows → 2× conductance
        [("a", "b", 3.0), ("b", "a", 3.0), ("b", "c", 1.0), ("c", "d", 2.0)],
        {"a": 1.0},
    ),
    (
        "dangling_and_disconnected",
        [("a", "b", 1.0), ("c", "d", 5.0)],
        {"a": 0.7, "e": 0.3},  # e is isolated (dangling), seeded
    ),
    (
        "nan_negative_reset",
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)],
        {"a": float("nan"), "b": -2.0, "c": 4.0},
    ),
    (
        "zero_weight_row",
        [("a", "b", 0.0), ("b", "c", 1.0), ("a", "d", 2.0)],
        {"b": 1.0, "d": 1.0},
    ),
    (
        "hub",
        [(f"leaf{i}", "hub", 1.0) for i in range(40)]
        + [("hub", "leaf0", 2.0), ("x", "y", 1.0)],
        {"hub": 1.0, "x": 1.0},
    ),
]
_IDS = [g[0] for g in GRAPHS]


def _run(spark, rows, reset, damping, mode, tol=1e-10):
    edges = spark.createDataFrame(
        [(u, v, float(w), "fact") for u, v, w in rows],
        "src string, dst string, weight double, relation string",
    )
    rdf = spark.createDataFrame(
        [(k, float(v)) for k, v in reset.items()], "node_id string, reset_weight double"
    )
    res = personalized_pagerank(
        spark, edges, rdf, damping=damping, tol=tol, mode=mode, n_blocks=4
    )
    assert res.converged
    return {r["node_id"]: r["score"] for r in res.ranks.collect()}


def _check(got, rows, reset, damping, atol=1e-6):
    want = ppr_exact(rows, reset, damping)
    assert set(got) == set(want)
    g = np.array([got[k] for k in sorted(got)])
    w = np.array([want[k] for k in sorted(want)])
    assert np.allclose(g, w, atol=atol), np.abs(g - w).max()
    assert abs(g.sum() - 1.0) < 1e-9


@pytest.mark.parametrize("name,rows,reset", GRAPHS, ids=_IDS)
@pytest.mark.parametrize("damping", [0.5, 0.85])
def test_local_mode_matches_exact_solve(spark, name, rows, reset, damping):
    got = _run(spark, rows, reset, damping, "local")
    _check(got, rows, reset, damping)


@pytest.mark.parametrize("name,rows,reset", GRAPHS, ids=_IDS)
def test_csr_mode_matches_exact_solve(spark, name, rows, reset):
    got = _run(spark, rows, reset, 0.5, "csr")
    _check(got, rows, reset, 0.5)


def _random_graph(n_nodes=120, n_edges=600, seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    for _ in range(n_edges):
        u, v = rng.integers(0, n_nodes, 2)
        rows.append((f"n{u:03d}", f"n{v:03d}", float(rng.integers(1, 5))))
    rows = [(u, v, w) for u, v, w in rows if u != v]
    reset = {f"n{i:03d}": 1.0 for i in range(0, n_nodes, 17)}
    return rows, reset


@pytest.mark.parametrize("mode", ["local", "csr", "dataframe"])
def test_modes_agree_on_random_graph(spark, mode):
    rows, reset = _random_graph()
    got = _run(spark, rows, reset, 0.85, mode, tol=1e-9)
    _check(got, rows, reset, 0.85)


@pytest.mark.parametrize("reset_rows", [[("a", float("nan"))], []],
                         ids=["all_nan", "empty"])
def test_reset_all_zero_raises(spark, reset_rows):
    edges = spark.createDataFrame(
        [("a", "b", 1.0, "fact")], "src string, dst string, weight double, relation string"
    )
    rdf = spark.createDataFrame(reset_rows, "node_id string, reset_weight double")
    with pytest.raises(ValueError):
        personalized_pagerank(spark, edges, rdf, mode="local")


# -------------------------------------------------------------------------
# Batch (multi-query) PPR: distributed dataframe mode vs driver-local
# matrix mode vs per-query single runs (VERDICT.md round-1 item 2)
# -------------------------------------------------------------------------

def _batch_inputs(spark):
    rows, _ = _random_graph(n_nodes=60, n_edges=260, seed=13)
    edges = spark.createDataFrame(
        [(u, v, float(w), "fact") for u, v, w in rows],
        "src string, dst string, weight double, relation string",
    )
    resets = {
        "q1": {"n000": 1.0, "n017": 2.0},
        "q2": {"n034": 1.0},
        "q3": {"n005": 0.5, "n051": 0.5, "n020": 1.0},
    }
    rrows = [(q, n, w) for q, d in resets.items() for n, w in d.items()]
    rdf = spark.createDataFrame(rrows, "query_id string, node_id string, reset_weight double")
    return rows, edges, resets, rdf


def test_batch_dataframe_matches_local_1e12(spark):
    from hipporag_spark.ppr import personalized_pagerank_batch

    _, edges, _, rdf = _batch_inputs(spark)
    loc = personalized_pagerank_batch(spark, edges, rdf, damping=0.5, tol=1e-12, mode="local")
    dist = personalized_pagerank_batch(spark, edges, rdf, damping=0.5, tol=1e-12, mode="dataframe")
    lp = {(r["query_id"], r["node_id"]): r["score"] for r in loc.collect()}
    dp = {(r["query_id"], r["node_id"]): r["score"] for r in dist.collect()}
    assert set(lp) == set(dp)
    diffs = [abs(lp[k] - dp[k]) for k in lp]
    assert max(diffs) < 1e-12, max(diffs)


def test_batch_matches_single_query_runs(spark):
    from hipporag_spark.ppr import personalized_pagerank_batch

    rows, edges, resets, rdf = _batch_inputs(spark)
    batch = personalized_pagerank_batch(spark, edges, rdf, damping=0.85, tol=1e-12, mode="dataframe")
    bp = {(r["query_id"], r["node_id"]): r["score"] for r in batch.collect()}
    for q, reset in resets.items():
        single = _run(spark, rows, reset, 0.85, "local", tol=1e-12)
        for node, score in single.items():
            assert abs(bp[(q, node)] - score) < 1e-9, (q, node)


def test_batch_dataframe_checkpoint_resume(spark, tmp_path):
    """A truncated run's checkpoint resumes to the uninterrupted result at
    1e-10 whichever of the local and dataframe backends wrote it and
    whichever resumes it, and likewise with blocks as writer and reader
    (two queries per chunk, so the truncated blocks run crosses a chunk
    boundary) — and through the single-query entry point."""
    rows, edges, resets, rdf = _batch_inputs(spark)
    kw = dict(damping=0.5, tol=1e-12, n_blocks=4, query_chunk=2)
    full = personalized_pagerank_batch(spark, edges, rdf, mode="local", **kw)
    fp = {(r["query_id"], r["node_id"]): r["score"] for r in full.collect()}
    pairs = list(itertools.product(("local", "dataframe"), repeat=2)) + [
        ("blocks", "blocks"), ("blocks", "local"), ("local", "blocks")]
    for first, then in pairs:
        ckpt = str(tmp_path / f"batch_{first}_{then}")
        # truncated run leaves a checkpoint behind
        personalized_pagerank_batch(spark, edges, rdf, mode=first, max_iter=6,
                                    checkpoint_dir=ckpt, checkpoint_every=2, **kw)
        resumed = personalized_pagerank_batch(spark, edges, rdf, mode=then,
                                              checkpoint_dir=ckpt, resume=True, **kw)
        rp = {(r["query_id"], r["node_id"]): r["score"] for r in resumed.collect()}
        assert set(rp) == set(fp), (first, then)
        for kk in fp:
            assert abs(rp[kk] - fp[kk]) < 1e-10, (first, then, kk)

    reset = resets["q3"]
    single_rdf = spark.createDataFrame(list(reset.items()),
                                       "node_id string, reset_weight double")
    want = _run(spark, rows, reset, 0.5, "local", tol=1e-12)
    kw = dict(damping=0.5, tol=1e-12)
    ckpt = str(tmp_path / "single")
    personalized_pagerank(spark, edges, single_rdf, mode="dataframe", max_iter=6,
                          checkpoint_dir=ckpt, **kw)
    res = personalized_pagerank(spark, edges, single_rdf, mode="local",
                                checkpoint_dir=ckpt, resume=True, **kw)
    assert res.converged
    assert res.metrics[0]["superstep"] == 6  # picked up after step 5
    got = {r["node_id"]: r["score"] for r in res.ranks.collect()}
    assert set(got) == set(want)
    for node in want:
        assert abs(got[node] - want[node]) < 1e-10, node


def test_resume_rejects_pre_batch_checkpoint(spark, tmp_path):
    """Single-query checkpoints of the old (idx, rank) format fail fast
    with the fix in the message instead of being misread."""
    _, edges, _, _ = _batch_inputs(spark)
    ckpt = str(tmp_path / "old_format")
    CheckpointStore(ckpt).write(
        3, spark.createDataFrame([(0, 0.5), (1, 0.5)], "idx long, rank double"),
        {"superstep": 3})
    rdf = spark.createDataFrame([("n000", 1.0)], "node_id string, reset_weight double")
    for mode in ("local", "dataframe"):
        with pytest.raises(ValueError, match="fresh checkpoint_dir"):
            personalized_pagerank(spark, edges, rdf, mode=mode,
                                  checkpoint_dir=ckpt, resume=True)


def test_global_pagerank_uniform_reset(spark):
    """pagerank() == personalized_pagerank with a uniform reset over all
    endpoints — the north_rule's first named algorithm as a convenience."""
    from hipporag_spark.ppr import pagerank

    rows, _ = _random_graph(n_nodes=40, n_edges=200, seed=11)
    edges = spark.createDataFrame(
        [(u, v, float(w), "fact") for u, v, w in rows],
        "src string, dst string, weight double, relation string",
    )
    res = pagerank(spark, edges, damping=0.85, tol=1e-10, mode="local")
    assert res.converged
    got = {r["node_id"]: r["score"] for r in res.ranks.collect()}
    nodes = sorted(got)
    want = ppr_exact(rows, {n: 1.0 for n in nodes}, 0.85)
    for n in nodes:
        assert abs(got[n] - want[n]) < 1e-6, n


def test_batch_sparse_output_matches_dense_on_filter(spark):
    """output_nodes sparse contract: the sparse result equals the dense
    result restricted to the filter, minus exact-zero rows (absent row
    == score 0.0) — in BOTH physical modes, so the retriever's top-k is
    identical whichever path serves it."""
    from hipporag_spark.ppr import personalized_pagerank_batch

    _, edges, _, rdf = _batch_inputs(spark)
    flt_ids = [f"n{i:03d}" for i in range(0, 40)]
    flt = spark.createDataFrame([(x,) for x in flt_ids], "node_id string")
    for mode in ("local", "dataframe"):
        dense = personalized_pagerank_batch(
            spark, edges, rdf, damping=0.5, tol=1e-12, mode=mode)
        sparse = personalized_pagerank_batch(
            spark, edges, rdf, damping=0.5, tol=1e-12, mode=mode,
            output_nodes=flt)
        dp = {(r["query_id"], r["node_id"]): r["score"]
              for r in dense.collect()
              if r["node_id"] in set(flt_ids) and r["score"] != 0.0}
        sp = {(r["query_id"], r["node_id"]): r["score"]
              for r in sparse.collect()}
        assert set(sp) == set(dp), (mode, len(sp), len(dp))
        assert all(abs(sp[k] - dp[k]) < 1e-15 for k in sp), mode
        assert sp, "filter unexpectedly empty"
