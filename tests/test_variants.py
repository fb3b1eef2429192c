"""Base-path variants (directed Louvain C8, FastTrackResistance C9) and
MaxMin coloring (C15) vs their numpy-oracle twins."""

import pytest
from pyspark.sql import functions as F

from grappolo_spark import fixtures as fx
from grappolo_spark.operators.coloring import maxmin_coloring
from grappolo_spark.operators.louvain_variants import (
    directed_louvain,
    louvain_fasttrack_resistance,
)
from grappolo_spark.oracle import (
    directed_louvain_np,
    fasttrack_resistance_np,
    maxmin_coloring_np,
)


def _collect(df, col, nv):
    got = {r["vid"]: r[col] for r in df.collect()}
    return [got[i] for i in range(nv)]


def _to_directed_df(spark, rows):
    return spark.createDataFrame(
        [(int(s), int(d), float(w)) for s, d, w in rows],
        "src long, dst long, weight double",
    )


def directed_two_cycles():
    """Two directed 4-cycles joined by a 2-cycle bridge — every vertex has
    an out-edge, so reference semantics have no UB region."""
    rows = []
    for base in (0, 4):
        for i in range(4):
            rows.append((base + i, base + (i + 1) % 4, 1.0))
    rows += [(0, 4, 1.0), (4, 0, 1.0)]
    return rows, 8


def directed_reply_chain():
    """Transcript-reply shape: turn i -> turn i-1 within two conversations;
    the first turn of each has NO out-edge (exercises the documented
    cInfo[-1]-UB deviation — engine and oracle share the spec)."""
    rows = []
    for base in (0, 5):
        for i in range(1, 5):
            rows.append((base + i, base + i - 1, 1.0))
    return rows, 10


def directed_sink_magnet():
    """u -> v -> s with s a sink whose singleton slot v joins in sweep 1;
    in sweep 2 u's best candidate is that community at the singleton-swap
    protection boundary (cand_comm > sc), so the decision hinges on the
    slot size INCLUDING the sink (the reference's cInfo keeps one slot per
    original vertex and cUpdate never touches -1 slots,
    ``parallelDirectedLouvainMethod.cpp:91-99``) — size 2 -> move; an
    engine that drops -1 vertices from community info sees size 1 and
    wrongly swap-protects. The 3<->4 2-cycle only inflates m so the gain
    stays positive under const = 2/m."""
    rows = [(0, 1, 1.0), (0, 2, 10.0), (2, 1, 10.0),
            (3, 4, 100.0), (4, 3, 100.0)]
    return rows, 5


def test_directed_louvain_sink_slot_semantics(spark):
    rows, nv = directed_sink_magnet()
    df = _to_directed_df(spark, rows)
    exp = directed_louvain_np(rows, nv, thresh=-1e9, max_inner=4)
    got = directed_louvain(spark, df, nv, thresh=-1e9, max_inner=4)
    assert exp["C"][0] == 1  # the spec: u joins the sink-anchored community
    assert _collect(got.c, "comm", nv) == exp["C"]
    assert got.trajectory == exp["trajectory"]


def test_fasttrack_resistance_isolated_vertices(spark):
    """two_cliques_bridge plus 3 trailing isolated vertices: the resistance
    term's Σ n_s² must count each isolated vertex's permanent singleton
    slot in EVERY iteration (ref cUpdate never touches -1 slots), and the
    final assignment keeps -1 for them."""
    edges, nv0 = fx.two_cliques_bridge()
    nv = nv0 + 3
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    exp = fasttrack_resistance_np(rows, nv)
    got = louvain_fasttrack_resistance(spark, df, nv)
    assert _collect(got.c, "comm", nv) == exp["C"]
    assert exp["C"][nv0:] == [-1, -1, -1]
    assert got.r_min == exp["r_min"]
    assert got.q_afg == exp["q_afg"]
    assert got.phases == exp["phases"]
    assert got.total_iters == exp["total_iters"]


@pytest.mark.parametrize("maker", [directed_two_cycles, directed_reply_chain])
def test_directed_louvain_matches_oracle(spark, maker):
    rows, nv = maker()
    df = _to_directed_df(spark, rows)
    exp = directed_louvain_np(rows, nv)
    got = directed_louvain(spark, df, nv)
    assert _collect(got.c, "comm", nv) == exp["C"]
    assert got.modularity == exp["modularity"]
    assert got.num_iters == exp["num_iters"]
    assert got.trajectory == exp["trajectory"]


def test_directed_louvain_symmetric_consistency(spark):
    """On a symmetric table the directed phase is the base undirected path
    with const doubled — sanity: it must produce a valid partition with
    more than one community on two cliques."""
    edges, nv = fx.two_cliques_bridge()
    df = fx.to_spark_edges(spark, edges)
    got = directed_louvain(spark, df, nv)
    comms = set(_collect(got.c, "comm", nv))
    assert all(c >= 0 for c in comms)
    rows = fx.symmetric_rows(edges)
    exp = directed_louvain_np(rows, nv)
    assert _collect(got.c, "comm", nv) == exp["C"]


@pytest.mark.parametrize("name", ["karate", "two_cliques_bridge",
                                  "weighted_two_triangles", "disconnected"])
def test_fasttrack_resistance_matches_oracle(spark, name):
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    exp = fasttrack_resistance_np(rows, nv)
    got = louvain_fasttrack_resistance(spark, df, nv)
    assert _collect(got.c, "comm", nv) == exp["C"], name
    assert got.modularity == exp["modularity"]
    assert got.r_min == exp["r_min"]
    assert got.q_afg == exp["q_afg"]
    assert got.phases == exp["phases"]
    assert got.total_iters == exp["total_iters"]
    assert got.num_clusters == exp["num_clusters"]


@pytest.mark.parametrize("name", ["karate", "grid3d", "disconnected",
                                  "two_cliques_bridge"])
def test_maxmin_coloring_matches_oracle(spark, name):
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    exp_colors, exp_n, exp_rounds = maxmin_coloring_np(rows, nv)
    colors, n_colored, rounds = maxmin_coloring(spark, df, nv)
    assert _collect(colors, "color", nv) == exp_colors, name
    assert n_colored == exp_n
    assert rounds == exp_rounds


def test_maxmin_coloring_edgeless_graph(spark):
    """No edges at all: every vertex is a vacuous local max in round 1 —
    engine must report the same colors AND round count as the oracle."""
    df = spark.createDataFrame([], "src long, dst long, weight double")
    exp_colors, exp_n, exp_rounds = maxmin_coloring_np([], 5)
    colors, n_colored, rounds = maxmin_coloring(spark, df, 5)
    assert _collect(colors, "color", 5) == exp_colors
    assert n_colored == exp_n
    assert rounds == exp_rounds


def test_maxmin_coloring_partition_invariant(spark):
    edges, nv = fx.karate()
    df2 = fx.to_spark_edges(spark, edges).repartition(2)
    df7 = fx.to_spark_edges(spark, edges).repartition(7)
    c2, _, _ = maxmin_coloring(spark, df2, nv)
    c7, _, _ = maxmin_coloring(spark, df7, nv)
    assert _collect(c2, "color", nv) == _collect(c7, "color", nv)


def test_maxmin_colored_classes_are_conflict_free(spark):
    """Within the properly-colored set (non-sentinel), no edge joins two
    vertices of the same color — sentinel leftovers are exempt, as in the
    reference's bounded-palette contract."""
    edges, nv = fx.karate()
    df = fx.to_spark_edges(spark, edges)
    colors, _, _ = maxmin_coloring(spark, df, nv, n_hash=4, n_itrs=2)
    sentinel = 2 * 4 * 2
    cs = colors.select(F.col("vid").alias("src"), F.col("color").alias("c_src"))
    cd = colors.select(F.col("vid").alias("dst"), F.col("color").alias("c_dst"))
    conflicts = (
        df.filter(F.col("src") != F.col("dst"))
        .join(cs, "src").join(cd, "dst")
        .filter((F.col("c_src") == F.col("c_dst")) & (F.col("c_src") != sentinel))
        .count()
    )
    assert conflicts == 0


# --- balanced coloring (C16, vBase contract) --------------------------------

from grappolo_spark.operators.coloring import balanced_coloring, distance1_coloring, validate_coloring  # noqa: E402
from grappolo_spark.oracle import balanced_coloring_np, distance1_coloring_np  # noqa: E402


@pytest.mark.parametrize("strategy", ["first_fit", "least_used"])
@pytest.mark.parametrize("name", ["karate", "grid3d", "star_hub"])
def test_balanced_coloring_matches_oracle(spark, name, strategy):
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    colors_np, ncolors, _ = distance1_coloring_np(rows, nv)
    colors_df, _, _ = distance1_coloring(spark, df, nv)
    exp, exp_rounds = balanced_coloring_np(rows, nv, colors_np, strategy=strategy)
    got, rounds = balanced_coloring(spark, df, colors_df, nv, strategy=strategy)
    assert _collect(got, "color", nv) == exp, (name, strategy)
    assert rounds == exp_rounds
    # contract: output stays a proper coloring
    assert validate_coloring(df, got) == 0


@pytest.mark.parametrize("variant", ["cbase", "wbase"])
@pytest.mark.parametrize("strategy", ["first_fit", "least_used"])
@pytest.mark.parametrize("name", ["karate", "star_hub"])
def test_balanced_coloring_variants_match_oracle(spark, name, strategy, variant):
    """cBase (oversize targets allowed) and wBase (degree-weighted load)
    redistribution strategies vs their numpy twins (ref bColoring/
    cBase.cpp:44-140, wBase.cpp:44-201)."""
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    colors_np, ncolors, _ = distance1_coloring_np(rows, nv)
    colors_df, _, _ = distance1_coloring(spark, df, nv)
    exp, exp_rounds = balanced_coloring_np(
        rows, nv, colors_np, strategy=strategy, variant=variant)
    got, rounds = balanced_coloring(
        spark, df, colors_df, nv, strategy=strategy, variant=variant)
    assert _collect(got, "color", nv) == exp, (name, strategy, variant)
    assert rounds == exp_rounds
    assert validate_coloring(df, got) == 0


@pytest.mark.parametrize("name", ["karate", "star_hub", "grid3d"])
def test_balanced_coloring_mbase_matches_oracle(spark, name):
    """mBase absolute-bin redistribution vs its numpy twin (ref
    bColoring/mBase.cpp:44-213). The reference constants (1024/1088) are
    GPU bin sizes — vacuous at fixture nv — so the test exercises the
    clamp/threshold machinery at fixture-sized settings."""
    from grappolo_spark.oracle.coloring_np import balanced_coloring_np as bal_np

    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    colors_np, ncolors, _ = distance1_coloring_np(rows, nv)
    colors_df, _, _ = distance1_coloring(spark, df, nv)
    for cap, thresh in ((4, 5), (2, 3), (1024, 1088)):
        exp, exp_rounds = bal_np(rows, nv, colors_np, variant="mbase",
                                 bucket_cap=cap, oversize_thresh=thresh)
        got, rounds = balanced_coloring(
            spark, df, colors_df, nv, variant="mbase",
            bucket_cap=cap, oversize_thresh=thresh)
        assert _collect(got, "color", nv) == exp, (name, cap, thresh)
        assert rounds == exp_rounds
        assert validate_coloring(df, got) == 0


@pytest.mark.parametrize("name", ["karate", "star_hub", "grid3d"])
def test_bbase_coloring_matches_oracle(spark, name):
    """bBase one-shot batch redistribution vs its numpy twin (ref
    bColoring/bBase.cpp:44-146)."""
    from grappolo_spark.operators.coloring import bbase_coloring
    from grappolo_spark.oracle.coloring_np import bbase_coloring_np

    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    colors_np, _, _ = distance1_coloring_np(rows, nv)
    colors_df, _, _ = distance1_coloring(spark, df, nv)
    exp, exp_rounds = bbase_coloring_np(rows, nv, colors_np)
    got, rounds = bbase_coloring(spark, df, colors_df, nv)
    assert _collect(got, "color", nv) == exp, name
    assert rounds == exp_rounds
    assert validate_coloring(df, got) == 0


@pytest.mark.parametrize("name", ["karate", "star_hub", "grid3d"])
def test_rbase_coloring_matches_oracle(spark, name):
    """rBase capacity-bounded re-coloring vs its numpy twin (ref
    bColoring/rBase.cpp:44-179): complete recolor, proper coloring,
    every class at or under capacity ceil(nv/ncolors) of the BASE
    palette (the palette itself may grow, like the reference's
    MaxDegree-bounded scan)."""
    from grappolo_spark.operators.coloring import rbase_coloring
    from grappolo_spark.oracle.coloring_np import rbase_coloring_np

    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    colors_np, ncolors, _ = distance1_coloring_np(rows, nv)
    colors_df, _, _ = distance1_coloring(spark, df, nv)
    exp, exp_rounds = rbase_coloring_np(rows, nv, colors_np)
    got, rounds = rbase_coloring(spark, df, colors_df, nv)
    assert _collect(got, "color", nv) == exp, name
    assert rounds == exp_rounds
    assert validate_coloring(df, got) == 0
    from collections import Counter
    sizes = Counter(exp)
    avg = -(-nv // ncolors)
    assert max(sizes.values()) <= avg


def test_rbase_truncation_warns(spark):
    """A recolor cut by max_rounds (karate needs 7 rounds) warns that the
    leftovers keep their base color, and returns exactly what the numpy
    twin's truncated run returns."""
    from grappolo_spark.operators.coloring import rbase_coloring
    from grappolo_spark.oracle.coloring_np import rbase_coloring_np

    edges, nv = fx.karate()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    colors_np, _, _ = distance1_coloring_np(rows, nv)
    colors_df, _, _ = distance1_coloring(spark, df, nv)
    exp, exp_rounds = rbase_coloring_np(rows, nv, colors_np, max_rounds=1)
    with pytest.warns(RuntimeWarning, match="uncolored after max_rounds=1"):
        got, rounds = rbase_coloring(spark, df, colors_df, nv, max_rounds=1)
    assert _collect(got, "color", nv) == exp
    assert rounds == exp_rounds == 1


@pytest.mark.parametrize("strategy", ["vbase", "bbase", "rbase", "ecff"])
def test_redistribution_partition_invariant(spark, strategy):
    """One redistribution per code shape — Jacobi rounds (vbase), planned
    batch (bbase), recolor (rbase), per-donor batch (ecff) — returns the
    same coloring and round count with its inputs in 2 or 7 partitions."""
    from grappolo_spark.operators.coloring import (
        bbase_coloring, equitable_coloring, rbase_coloring,
    )

    run = {"vbase": balanced_coloring, "bbase": bbase_coloring,
           "rbase": rbase_coloring, "ecff": equitable_coloring}[strategy]
    edges, nv = fx.karate()
    df = fx.to_spark_edges(spark, edges)
    colors_df, _, _ = distance1_coloring(spark, df, nv)
    got = []
    for n in (2, 7):
        out, rounds = run(spark, df.repartition(n), colors_df.repartition(n), nv)
        got.append((_collect(out, "color", nv), rounds))
    assert got[0] == got[1], strategy


def test_balanced_coloring_wbase_balances_degree_load(spark):
    """wBase balances Σ degree per class: on karate the distance-1
    coloring piles the high-degree vertices into the early classes, and
    the degree-weighted drain must lower the max WEIGHTED class load
    (56 → 33 with 8 classes), which vertex-count balance alone would not
    guarantee."""
    edges, nv = fx.ALL_FIXTURES["karate"]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    colors_df, ncolors, _ = distance1_coloring(spark, df, nv)
    deg = {}
    for s, d, _w in rows:
        if s != d:
            deg[s] = deg.get(s, 0) + 1

    def max_wload(cdf):
        load = {}
        for r in cdf.collect():
            load[r["color"]] = load.get(r["color"], 0) + deg.get(r["vid"], 0)
        return max(load.values())

    before = max_wload(colors_df)
    got, _ = balanced_coloring(spark, df, colors_df, nv, ncolors=8,
                               variant="wbase")
    assert max_wload(got) < before
    assert validate_coloring(df, got) == 0


def test_balanced_coloring_reduces_max_class(spark):
    """On the star graph the hub's leaves all share one color — an
    extremely oversized class the redistribution must drain toward
    ceil(nv/ncolors) as far as adjacency permits (leaves are mutually
    non-adjacent, so only capacity limits apply)."""
    edges, nv = fx.star_hub(100)
    df = fx.to_spark_edges(spark, edges)
    colors_df, ncolors, _ = distance1_coloring(spark, df, nv)
    before = max(
        r["n"] for r in colors_df.groupBy("color").agg(F.count("*").alias("n")).collect()
    )
    got, _ = balanced_coloring(spark, df, colors_df, nv, ncolors=8)
    after = max(
        r["n"] for r in got.groupBy("color").agg(F.count("*").alias("n")).collect()
    )
    assert after < before
    assert validate_coloring(df, got) == 0


# --- RCM ordering (W4/C21) --------------------------------------------------

from grappolo_spark.operators.rcm import rcm_ordering  # noqa: E402
from grappolo_spark.oracle.numpy_oracle import rcm_ordering_np  # noqa: E402


@pytest.mark.parametrize("name", ["karate", "path_n", "grid3d", "disconnected",
                                  "two_cliques_bridge"])
def test_rcm_matches_oracle(spark, name):
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    exp, exp_cc = rcm_ordering_np(rows, nv)
    got_df, n_cc = rcm_ordering(spark, df, nv)
    got = {r["vid"]: r["new_id"] for r in got_df.collect()}
    assert [got[i] for i in range(nv)] == exp, name
    assert n_cc == exp_cc
    # permutation: bijection onto 0..nv-1
    assert sorted(got.values()) == list(range(nv))


@pytest.mark.parametrize("name", ["karate", "grid3d", "two_cliques_bridge",
                                  "path_n"])
def test_rcm_level_structure_invariant_under_within_level_order(name):
    """Hardening for the documented scheduling-dependence claim (VERDICT
    r3 #8): the reference's WITHIN-level placement is racy
    (``reverseCuthillMcKee.cpp:151-157`` atomic fetch-add,
    ``:289-331`` unstable heap), so the engine pins one clean total
    order (degree asc, vid asc). This test recomputes the ordering with
    the OPPOSITE vid tie-break inside each (level, degree) group — a
    different member of the same scheduling-dependent family — and
    asserts what is genuinely order-invariant: the BFS LEVEL SETS (a
    vertex's level is its distance from the pinned source, independent
    of placement order) and therefore the structural bandwidth envelope
    max(width_l + width_{l+1} - 1) that bounds EVERY member of the
    family; both variants' achieved bandwidths must sit inside it. The
    exact bandwidth is NOT invariant (karate: tie-breaks shift it), which
    is precisely why the survey documents the reference's output as
    scheduling-dependent rather than claiming bit parity."""
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)

    def rcm_run(vid_desc: bool):
        nbrs = [[] for _ in range(nv)]
        deg = [0] * nv
        for s, d, _ in rows:
            deg[s] += 1
            if s != d:
                nbrs[s].append(d)
        seen = [False] * nv
        order = []
        levels = {}
        # components by min-(degree, vid) source, like the engine
        live = sorted((deg[v], v) for v in range(nv) if deg[v] > 0)
        for _, src in live:
            if seen[src]:
                continue
            seen[src] = True
            levels[src] = 0
            frontier = [src]
            order.append(src)
            lvl = 0
            while frontier:
                lvl += 1
                nxt = sorted(
                    {j for v in frontier for j in nbrs[v] if not seen[j]},
                    key=lambda j: (deg[j], -j if vid_desc else j),
                )
                for j in nxt:
                    seen[j] = True
                    levels[j] = lvl
                order.extend(nxt)
                frontier = nxt
        pos = {v: i for i, v in enumerate(order)}
        bw = max(
            (abs(pos[s] - pos[d]) for s, d, _ in rows
             if s != d and s in pos and d in pos),
            default=0,
        )
        return levels, bw

    lv_a, bw_a = rcm_run(False)
    lv_b, bw_b = rcm_run(True)
    assert lv_a == lv_b, name  # level sets are order-invariant
    from collections import Counter
    widths = Counter(lv_a.values())
    bound = max(
        (widths[l] + widths.get(l + 1, 0) - 1 for l in widths), default=0
    )
    assert bw_a <= bound and bw_b <= bound, (name, bw_a, bw_b, bound)


def test_rcm_reduces_bandwidth(spark):
    """On the path graph with shuffled ids, RCM must restore a low
    bandwidth (|new(u)-new(v)| small for every edge)."""
    n = 64
    perm = [(i * 37) % n for i in range(n)]  # 37 coprime with 64: a bijection
    edges = [(perm[i], perm[i + 1], 1.0) for i in range(n - 1)]
    df = fx.to_spark_edges(spark, edges)
    got_df, _ = rcm_ordering(spark, df, n)
    new = {r["vid"]: r["new_id"] for r in got_df.collect()}
    bw = max(abs(new[u] - new[v]) for u, v, _ in edges)
    assert bw == 1  # a path relabeled by BFS from an endpoint is banded


@pytest.mark.parametrize("name,k", [("karate", 3), ("two_cliques_bridge", 4),
                                    ("disconnected", 3)])
def test_resistance_sweep_stats_matches_oracle(spark, name, k):
    """Engine per-sweep resistance bookkeeping (resistance_sweep_stats,
    behind the louvain_resistance_sweeps DuckDB gate) must be bit-equal to
    the numpy oracle's res_traj — including Q_AFG, a pure FP-cancellation
    residue, so any arithmetic reassociation fails this test."""
    from grappolo_spark.operators.louvain_variants import resistance_sweep_stats
    from grappolo_spark.oracle.numpy_oracle import base_phase_np

    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    exp = base_phase_np(rows, nv, const_factor=1.0, thresh=-1e18,
                        max_inner=k, resistance_phase=2,
                        force_sweeps=True)["res_traj"]
    got = sorted(resistance_sweep_stats(spark, df, nv, sweeps=k).collect(),
                 key=lambda r: r["it"])
    assert len(got) == len(exp) == k
    for g, e in zip(got, exp):
        assert g["it"] == e["it"]
        assert g["sum_size_sq"] == e["sum_size_sq"], (name, g["it"])
        assert g["curr_mod"] == e["curr_mod"], (name, g["it"])
        assert g["r_min"] == e["r_min"], (name, g["it"])
        assert g["q_afg"] == e["q_afg"], (name, g["it"])


@pytest.mark.parametrize("pick", ["first_fit", "least_used"])
@pytest.mark.parametrize("name", ["karate", "grid3d", "star_hub"])
def test_equitable_coloring_matches_oracle(spark, name, pick):
    """Equitable CFF/CLU redistribution vs its numpy twin (ref
    Coloring/equitableColoringDistanceOne.cpp:90-253): donor classes
    drain in ascending color order toward avg = true-ceil(nv/ncolors),
    one single-consideration batch per class, live sizes carried across
    classes. CLU = the reference's declared-but-unshipped type 2,
    implemented with initColoringLU's least-used rule."""
    from grappolo_spark.operators.coloring import equitable_coloring
    from grappolo_spark.oracle.coloring_np import equitable_coloring_np

    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    colors_np, ncolors, _ = distance1_coloring_np(rows, nv)
    colors_df, _, _ = distance1_coloring(spark, df, nv)
    exp, exp_proc = equitable_coloring_np(rows, nv, colors_np, pick=pick)
    got, proc = equitable_coloring(spark, df, colors_df, nv, pick=pick)
    assert _collect(got, "color", nv) == exp, (name, pick)
    assert proc == exp_proc
    # contract: output stays a proper coloring and donors never grow
    assert validate_coloring(df, got) == 0
    from collections import Counter
    base_sizes = Counter(colors_np)
    out_sizes = Counter(exp)
    avg = (nv + ncolors - 1) // ncolors
    for c, n in base_sizes.items():
        if n > avg:
            assert out_sizes.get(c, 0) <= n  # donor classes only drain


@pytest.mark.parametrize("name", ["karate", "star_hub"])
def test_balanced_coloring_wbase_ref_constant(spark, name):
    """wbase_ref_constant=True selects BIT-PARITY with the reference's
    truncating constant (wBase.cpp:94 ceil(ne/ncolors) on integer
    operands = floor): class loads sum to 2*ne, so every class is
    structurally oversize and the drain terminates by exhaustion — the
    engine and numpy twins must agree under the same spec, and the
    output must stay a proper coloring."""
    edges, nv = fx.ALL_FIXTURES[name]()
    rows = fx.symmetric_rows(edges)
    df = fx.to_spark_edges(spark, edges)
    colors_np, _, _ = distance1_coloring_np(rows, nv)
    colors_df, _, _ = distance1_coloring(spark, df, nv)
    exp, exp_rounds = balanced_coloring_np(
        rows, nv, colors_np, variant="wbase", max_rounds=6,
        wbase_ref_constant=True)
    got, rounds = balanced_coloring(
        spark, df, colors_df, nv, variant="wbase", max_rounds=6,
        wbase_ref_constant=True)
    assert _collect(got, "color", nv) == exp, name
    assert rounds == exp_rounds
    assert validate_coloring(df, got) == 0
