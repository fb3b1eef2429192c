"""Spark Louvain vs numpy oracle: exact communities + exact modularity.

The oracle itself is validated against the compiled reference binary
(tests/golden/*.json, scripts/capture_reference_golden.py), so equality
here chains to reference parity.
"""

import pytest

from grappolo_spark import fixtures as fx
from grappolo_spark.checkpoint import CheckpointManager
from grappolo_spark.operators.louvain import (
    louvain, louvain_phase, renumber, coarsen,
)
from grappolo_spark.operators.metrics import modularity as modularity_spark
from grappolo_spark.oracle import (
    louvain_multiphase_np,
    louvain_phase_np,
    renumber_np,
    coarsen_np,
    modularity_np,
)

PHASE_FIXTURES = ["weighted_two_triangles", "disconnected", "two_cliques_bridge", "karate"]
MULTI_FIXTURES = ["weighted_two_triangles", "disconnected", "karate"]


def _collect_c(df, nv):
    got = {r["vid"]: r["comm"] for r in df.collect()}
    return [got[i] for i in range(nv)]


def _edges(spark, edges, build):
    """Edge table built as an Arrow local relation ("arrow", the engine's
    ``local_table``) or through ``createDataFrame(list, ddl)``'s Python
    RDD scan ("dataframe"); the sweep must not care which."""
    if build == "dataframe":
        return spark.createDataFrame(fx.symmetric_rows(edges),
                                     "src long, dst long, weight double")
    return fx.to_spark_edges(spark, edges)


def _phase_in_segments(spark, df, nv, seg, ckdir, max_inner=25):
    """One phase run as a chain of checkpoint-resumed calls, each allowed
    ``seg`` more sweeps than the last; the trajectory is stitched from the
    segments (a resumed call re-runs the sweeps after the last saved one)."""
    cp = CheckpointManager(spark, str(ckdir))
    traj = []
    budget = 0
    while True:
        budget = min(budget + seg, max_inner)
        res = louvain_phase(spark, df, nv, max_inner=budget, checkpoint=cp)
        start = res.num_iters - len(res.trajectory)
        traj = traj[:start] + res.trajectory
        if res.num_iters < budget or budget == max_inner:
            return res, traj


@pytest.mark.parametrize("name", PHASE_FIXTURES)
@pytest.mark.parametrize("method", ["dataframe", "arrow"])
def test_phase_exact(spark, name, method):
    # the method id names how the input edges were built
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = _edges(spark, edges, method)
    exp_c, exp_mod, exp_iters, exp_change, exp_traj = louvain_phase_np(rows, nv)
    res = louvain_phase(spark, df, nv)
    assert _collect_c(res.c, nv) == exp_c, name
    assert res.modularity == exp_mod, name
    assert res.num_iters == exp_iters
    assert res.change == exp_change
    assert res.trajectory == exp_traj  # bit-exact trajectory


@pytest.mark.parametrize("name", MULTI_FIXTURES)
@pytest.mark.parametrize("tail_nv", [16384, 0])
def test_multiphase_exact(spark, name, tail_nv):
    # tail_nv=16384: phases after the first run via the driver-tail oracle
    # fallback; tail_nv=0: fully-distributed phases. Both must be exact.
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    exp = louvain_multiphase_np(rows, nv)
    got = louvain(spark, df, nv, driver_tail_nv=tail_nv)
    assert _collect_c(got.c, nv) == exp["C"], name
    assert got.modularity == exp["modularity"], name
    assert got.phases == exp["phases"]
    assert got.total_iters == exp["total_iters"]
    assert got.num_clusters == exp["num_clusters"]
    assert got.trajectory == exp["trajectory"]


def test_renumber_matches_first_occurrence(spark):
    # first-occurrence order ≡ min-vid dense rank (SURVEY W1 equivalence)
    c = [7, 7, -1, 3, 9, 3, 7]
    exp, exp_n = renumber_np(c)
    df = spark.createDataFrame(list(enumerate(c)), "vid long, comm long")
    out, n = renumber(df)
    assert _collect_c(out, len(c)) == exp
    assert n == exp_n


def test_coarsen_matches_oracle(spark):
    edges, nv = fx.two_cliques_bridge()
    rows = fx.symmetric_rows(edges)
    c = [0] * 5 + [1] * 5
    exp, _ = coarsen_np(rows, c, 2)
    df = fx.to_spark_edges(spark, edges)
    cdf = spark.createDataFrame(list(enumerate(c)), "vid long, comm long")
    got = sorted(
        (r["src"], r["dst"], r["weight"]) for r in coarsen(df, cdf).collect()
    )
    assert got == exp


def test_modularity_matches_oracle(spark):
    edges, nv = fx.karate()
    rows = fx.symmetric_rows(edges)
    c = [i % 4 for i in range(nv)]
    exp = modularity_np(rows, c, nv)
    df = fx.to_spark_edges(spark, edges)
    cdf = spark.createDataFrame(list(enumerate(c)), "vid long, comm long")
    assert abs(modularity_spark(df, cdf) - exp) < 1e-15


@pytest.mark.parametrize("name", PHASE_FIXTURES)
@pytest.mark.parametrize("chain", [2, 4])
def test_phase_chained_exact(spark, tmp_path, name, chain):
    """A phase run as a chain of checkpoint-resumed segments of ``chain``
    sweeps must reproduce the uninterrupted phase bit-exactly — including
    modularity and ``change`` when a segment's resume point sits right
    before the fixed point (chain=4 > num_iters on most of these fixtures
    exercises the single-segment path)."""
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    exp_c, exp_mod, exp_iters, exp_change, exp_traj = louvain_phase_np(rows, nv)
    res, traj = _phase_in_segments(spark, df, nv, chain, tmp_path / "ck")
    assert _collect_c(res.c, nv) == exp_c, name
    assert res.modularity == exp_mod, name
    assert res.num_iters == exp_iters
    assert res.change == exp_change
    assert traj == exp_traj


def test_phase_chained_max_inner_budget(spark, tmp_path):
    """Fixed-budget mode (the bench headline shape): chained and unchained
    must agree when the budget stops the phase before convergence."""
    edges, nv = fx.ALL_FIXTURES["karate"]()
    df = fx.to_spark_edges(spark, edges)
    base = louvain_phase(spark, df, nv, max_inner=5)
    got, traj = _phase_in_segments(spark, df, nv, 2, tmp_path / "ck",
                                   max_inner=5)
    assert _collect_c(got.c, nv) == _collect_c(base.c, nv)
    assert got.modularity == base.modularity
    assert got.num_iters == base.num_iters
    assert traj == base.trajectory
