"""Coloring path: JP distance-1 coloring + color-staged Louvain vs oracle."""

import pytest
from pyspark.sql import functions as F

from grappolo_spark import fixtures as fx
from grappolo_spark.operators.coloring import (
    color_stats,
    distance1_coloring,
    validate_coloring,
)
from grappolo_spark.operators.louvain import (
    louvain_coloring,
    louvain_phase_colored,
)
from grappolo_spark.oracle import (
    distance1_coloring_np,
    louvain_coloring_np,
    louvain_phase_colored_np,
    xxhash64,
)

FIXTURES = ["karate", "two_cliques_bridge", "grid3d", "disconnected",
            "weighted_two_triangles", "path_n"]


def _collect(df, col, nv):
    got = {r["vid"]: r[col] for r in df.collect()}
    return [got[i] for i in range(nv)]


def test_xxh64_oracle_matches_spark(spark):
    df = spark.range(-100, 100).select(
        "id", F.xxhash64(F.col("id").cast("long")).alias("h")
    )
    for r in df.collect():
        assert r["h"] == xxhash64(r["id"])


@pytest.mark.parametrize("name", FIXTURES)
def test_coloring_valid_and_matches_oracle(spark, name):
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    exp_colors, exp_n, _ = distance1_coloring_np(rows, nv)
    colors, n_colors, rounds = distance1_coloring(spark, df, nv)
    assert validate_coloring(df, colors) == 0
    assert _collect(colors, "color", nv) == exp_colors, name
    assert n_colors == exp_n


@pytest.mark.parametrize("name", ["karate", "grid3d", "star_hub",
                                  "disconnected"])
def test_coloring_least_used_matches_oracle(spark, name):
    """Least-used initial coloring (ref bColoring/initialColoringLU.cpp
    initColoringLU) vs its numpy twin; output must also be a proper
    coloring."""
    from grappolo_spark.oracle.coloring_np import distance1_coloring_lu_np

    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    exp, exp_n, exp_rounds = distance1_coloring_lu_np(rows, nv)
    got_df, n, rounds = distance1_coloring(spark, df, nv, pick="least_used")
    got = {r["vid"]: r["color"] for r in got_df.collect()}
    assert [got[i] for i in range(nv)] == exp, name
    assert (n, rounds) == (exp_n, exp_rounds)
    assert validate_coloring(df, got_df) == 0


def test_coloring_partition_invariant(spark):
    edges, nv = fx.karate()
    df2 = fx.to_spark_edges(spark, edges).repartition(2)
    df7 = fx.to_spark_edges(spark, edges).repartition(7)
    c2, _, _ = distance1_coloring(spark, df2, nv)
    c7, _, _ = distance1_coloring(spark, df7, nv)
    assert _collect(c2, "color", nv) == _collect(c7, "color", nv)


@pytest.mark.parametrize(
    "name", ["karate", "weighted_two_triangles", "grid3d", "disconnected"])
def test_colored_phase_matches_oracle(spark, name):
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    colors_list, _, _ = distance1_coloring_np(rows, nv)
    exp_c, exp_mod, exp_iters, exp_change, exp_traj = louvain_phase_colored_np(
        rows, nv, colors_list
    )
    colors, _, _ = distance1_coloring(spark, df, nv)
    res = louvain_phase_colored(spark, df, nv, colors)
    assert _collect(res.c, "comm", nv) == exp_c, name
    assert res.trajectory == exp_traj
    assert res.modularity == exp_mod
    assert res.num_iters == exp_iters
    assert res.change == exp_change


@pytest.mark.parametrize("name", ["karate", "two_cliques_bridge"])
def test_coloring_driver_matches_oracle(spark, name):
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    exp = louvain_coloring_np(rows, nv, min_graph_size=1)
    got = louvain_coloring(spark, df, nv, min_graph_size=1)
    assert _collect(got.c, "comm", nv) == exp["C"], name
    assert got.modularity == exp["modularity"]
    assert got.phases == exp["phases"]
    assert got.num_clusters == exp["num_clusters"]


def test_color_stats(spark):
    edges, nv = fx.karate()
    df = fx.to_spark_edges(spark, edges)
    colors, n_colors, _ = distance1_coloring(spark, df, nv)
    row = color_stats(colors).collect()[0]
    assert row["n_colors"] == n_colors
    assert row["max_class"] >= 1
