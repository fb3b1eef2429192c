"""Vertex following (C17) + approx-sampling Louvain (C5) vs oracle."""

import pytest
from pyspark.sql import functions as F

from grappolo_spark import fixtures as fx
from grappolo_spark.operators.louvain import louvain_phase, renumber
from grappolo_spark.operators.vertex_following import (
    build_new_graph_vf,
    vertex_following,
    vertex_following_pipeline,
)
from grappolo_spark.oracle import renumber_np
from grappolo_spark.oracle.numpy_oracle import (
    build_new_graph_vf_np,
    louvain_phase_np,
    vertex_following_np,
)

VF_FIXTURES = ["karate", "star_hub", "path_n", "disconnected", "two_cliques_bridge"]


def _collect(df, col, nv):
    got = {r["vid"]: r[col] for r in df.collect()}
    return [got[i] for i in range(nv)]


@pytest.mark.parametrize("name", VF_FIXTURES)
def test_vertex_following_matches_oracle(spark, name):
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    exp_c, exp_moved = vertex_following_np(rows, nv)
    c, moved = vertex_following(spark, df, nv)
    assert _collect(c, "comm", nv) == exp_c, name
    assert moved == exp_moved


def test_vf_pipeline_coarsens_without_self_loops(spark):
    edges, nv = fx.star_hub(10)  # all leaves collapse onto the hub
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    c2, new_edges, n_clusters = vertex_following_pipeline(spark, df, nv)
    exp_c, _ = vertex_following_np(rows, nv)
    exp_c2, exp_n = renumber_np(exp_c)
    assert _collect(c2, "comm", nv) == exp_c2
    assert n_clusters == exp_n
    exp_edges, _ = build_new_graph_vf_np(rows, exp_c2, exp_n)
    got = sorted((r["src"], r["dst"], r["weight"]) for r in new_edges.collect())
    assert got == exp_edges
    assert new_edges.filter(F.col("src") == F.col("dst")).count() == 0


@pytest.mark.parametrize("name", ["star_hub", "karate"])
def test_hub_salted_phase_matches_oracle(spark, name):
    # two-stage salted candidate aggregation must be value-identical
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    exp_c, exp_mod, exp_iters, _, exp_traj = louvain_phase_np(rows, nv)
    res = louvain_phase(spark, df, nv, hub_salt=4)
    got = {r["vid"]: r["comm"] for r in res.c.collect()}
    assert [got[i] for i in range(nv)] == exp_c
    assert res.trajectory == exp_traj
    assert res.modularity == exp_mod
    assert res.num_iters == exp_iters


@pytest.mark.parametrize("method", ["dataframe", "arrow"])
def test_approx_phase_matches_oracle(spark, method):
    # the method id names how the input edges were built: through
    # createDataFrame(list, ddl) or as an Arrow local relation
    edges, nv = fx.karate()
    rows = fx.symmetric_rows(edges)
    if method == "dataframe":
        df = spark.createDataFrame(rows, "src long, dst long, weight double")
    else:
        df = fx.to_spark_edges(spark, edges)
    exp_c, exp_mod, exp_iters, _, exp_traj = louvain_phase_np(
        rows, nv, sample_pct=70
    )
    res = louvain_phase(spark, df, nv, sample_pct=70)
    assert _collect(res.c, "comm", nv) == exp_c
    assert res.trajectory == exp_traj
    assert res.modularity == exp_mod
    assert res.num_iters == exp_iters
