"""Base-path Louvain variants: directed (ref C8) and FastTrackResistance
(ref C9) — SURVEY §2.11.

Both reference variants share the *base path* phase shape, which differs
from the default SFP path (operators/louvain.py) in three ways:

* plain singleton init (``initCommAss``), not the greedy neighbour pass
  (``parallelDirectedLouvainMethod.cpp:124``,
  ``parallelLouvainMethodFastTrackResistance.cpp``);
* stop on modularity gain ``(currMod - prevMod) < thresh`` instead of the
  moved-count test (``parallelDirectedLouvainMethod.cpp:220-223``);
* the phase returns ``pastCommAss`` — the assignment the SECOND-to-last
  sweep read (double-buffer swap ``parallelDirectedLouvainMethod.cpp:
  236-241``, epilogue ``:263-266``: "we are interested in the previous
  assignment").

The move rule itself is not re-implemented here: every sweep is
``louvain.louvain_sweep``, the engine's one gain/argmax kernel, with the
slot-semantics community table below as its ``info`` and the vertices
that have out-rows as its movers.

Directed (``parallelDirectedLouvainMethod.cpp:47-280``): the sweep runs
over the OUT-adjacency only, degrees are out-degrees, and the modularity
constant is doubled — ``calConstantForSecondTerm`` (1/Σdeg_out = 1/m) ×2
(``:225-227``).  ``vDegreeIn``/``cInfoIn`` are computed by the reference
but never used in the move logic. Vertices with no out-edges are assigned
-1 every sweep (``:174-176``).

  Documented deviation: from the second sweep on, the reference reads
  ``currCommAss[j] == -1`` for out-isolated neighbours j and then indexes
  ``cInfo[-1]`` — undefined behaviour in C++. The engine (and the numpy
  oracle, by shared spec) excludes candidate communities with id < 0 — in
  the engine a -1 vertex finds no slot in the sweep's ``info`` join, so it
  sends no message; on
  graphs where every vertex has at least one out-edge (e.g. symmetric
  tables, or transcript reply graphs restricted to live turns) the two
  semantics coincide exactly.

FastTrackResistance (``parallelLouvainMethodFastTrackResistance.cpp:
47-302``, runner ``runMultiPhaseBasicFastTrackResistance.cpp:60-160``):
the sweep/gain is UNCHANGED; each iteration additionally computes the
Granell-Arenas resistance ``r_min = -(2m)/Nd * Q`` with
``Nd = N - (1/N)*Σ n_s²`` and the AFG-adjusted modularity
``Q_AFG = (2m*Q + r_min*Nd) / (2m - N*r_min)`` (``:192-218``).  Phase 1
exits on the plain threshold; later phases exit when ``Q_AFG == 0``
(``:233-242``); the driver coarsens while ``Q_AFG != 0`` with caps
200 phases / 10000 total iterations (``:113-119,142``).

  Exactness note on community slots: the reference's ``cInfo`` array has
  one incrementally-updated slot per ORIGINAL vertex
  (``parallelDirectedLouvainMethod.cpp:91-99``: size=1, degree=out-degree
  — 0 for out-isolated vertices), and ``cUpdate`` never touches the slot
  of a vertex that is assigned -1, so an out-isolated vertex occupies its
  own singleton slot forever. Candidate communities consisting of such a
  vertex are therefore scored with ``ay=0 / size=1`` (gain ``2·eiy`` in
  the first sweep — frequently the argmax), and a community a mover
  shares with an out-isolated vertex counts that vertex in its size.
  ``_slots_info`` reproduces this exactly from the current assignment by
  remapping ``comm < 0`` back to the vertex's own slot id before the
  fresh (count, Σdegree) recompute — bit-identical with integer weights,
  including the Σ n_s² term the resistance variant reads (no separate
  isolated-vertex correction needed).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..lineage import cut_lineage, release
from ..session import local_table, scaled_shuffle_partitions
from .louvain import (coarsen, louvain_prepare, louvain_sweep,
                      project_assignment, renumber)


def _slots_info(curr: DataFrame) -> DataFrame:
    """(comm, c_size, c_degree) with the reference's per-vertex slot
    semantics (see module docstring): a vertex assigned -1 still occupies
    its own singleton slot, so it is remapped to ``vid`` before the
    aggregate; out-isolated members contribute degree 0."""
    return (
        curr.select(
            F.when(F.col("comm") < 0, F.col("vid"))
            .otherwise(F.col("comm"))
            .alias("comm"),
            "degree",
        )
        .groupBy("comm")
        .agg(
            F.count("*").alias("c_size"),
            F.sum(F.coalesce("degree", F.lit(0.0))).alias("c_degree"),
        )
    )


@dataclass
class BasePhaseResult:
    c: DataFrame            # (vid, comm) over all nv — pastCommAss semantics
    modularity: float       # prevMod at exit (Lower-clamped)
    num_iters: int
    trajectory: list = field(default_factory=list)
    r_min: float = 0.0      # resistance variant only
    q_afg: float = -1.0     # resistance variant only
    fin_mod: float = -1.0   # resistance variant only (currMod at exit)
    # resistance variant only: one dict per sweep recording the full
    # bookkeeping (it, sum_size_sq, curr_mod, r_min, q_afg) — empty unless
    # resistance_phase > 1; gated by the DuckDB twin
    # (oracle/louvain_sql.resistance_stats_sql)
    res_traj: list = field(default_factory=list)


def _base_phase(
    spark: SparkSession,
    edges: DataFrame,
    nv: int,
    const_factor: float,
    thresh: float,
    lower: float,
    max_inner: int,
    resistance_phase: int | None = None,
    force_sweeps: bool = False,
) -> BasePhaseResult:
    """One base-path phase over the rows of ``edges`` treated as the
    out-adjacency (symmetric rows → undirected semantics; directed rows →
    the directed variant). ``const_factor`` scales 1/Σdeg (1.0 undirected
    → 1/2m; 2.0 directed → 1/m). ``resistance_phase`` switches on the
    r_min/Q_AFG bookkeeping and, when > 1, the Q_AFG==0 exit rule.

    Stage granularity is clamped to the graph size for the whole phase
    (``session.scaled_shuffle_partitions``): these variants run up to
    1000 sweeps, and on small/coarsened graphs full-width stages are pure
    scheduling overhead (measured 2x wall on the 87-sweep directed run).
    """
    n_rows = edges.count()
    with scaled_shuffle_partitions(spark, n_rows):
        return _base_phase_impl(
            spark, edges, nv, const_factor, thresh, lower, max_inner,
            resistance_phase, force_sweeps,
        )


def _base_phase_impl(
    spark: SparkSession,
    edges: DataFrame,
    nv: int,
    const_factor: float,
    thresh: float,
    lower: float,
    max_inner: int,
    resistance_phase: int | None = None,
    force_sweeps: bool = False,
) -> BasePhaseResult:
    edges, deg, sum_deg, selfw = louvain_prepare(edges)
    const = const_factor / sum_deg if sum_deg > 0 else 0.0
    nblocks = spark.sparkContext.defaultParallelism

    # every vertex keeps a row (out-isolated ones with a null degree), and
    # the static vertex attrs ride it through every sweep
    vattr = cut_lineage(
        spark.range(nv).select(F.col("id").alias("vid"))
        .join(deg.join(selfw, "vid", "left"), "vid", "left")
        .select("vid", "degree", F.coalesce("self_w", F.lit(0.0)).alias("self_w"))
    )
    curr = vattr.select("vid", F.col("vid").alias("comm"), "degree", "self_w")
    past = curr            # pastCommAss; curr is currCommAss
    # double-buffer checkpoint handles: the state two generations back is
    # dead after a swap and its blocks are freed eagerly (see lineage.release)
    past_backing = None
    curr_backing = None

    prev_mod = -1.0
    num_iters = 0
    trajectory = []
    res_traj = []
    r_min = 0.0
    q_afg = -1.0
    curr_mod = -1.0

    while True:
        num_iters += 1
        info = _slots_info(curr)
        obs_slots = None
        if resistance_phase is not None:
            # Σ size² over the slots (non-out slots included; -1 vertices
            # drop out of the sweep state yet each still holds a slot)
            # rides the sweep's state checkpoint, the one job that runs
            # the slot aggregation
            obs_slots = Observation()
            info = info.observe(
                obs_slots, F.sum(F.col("c_size") * F.col("c_size")).alias("n_c_sq"))
        # only vertices with out-rows move; a -1 vertex finds no slot in
        # the info join, so it sends no message either (the cInfo[-1]
        # guard, see module doc)
        state, target = louvain_sweep(
            edges, curr, const, nblocks, info=info,
            movers=F.col("degree").isNotNull(),
        )
        # per-sweep bookkeeping rides the target-materialization job as
        # observed metrics (no separate stats job): e_xx, moved, and
        # a2_x = Σ_v degree·ax_full ≡ Σ_c c_degree² — exact for the
        # integer-valued weights the engine guarantees (non-out slots
        # contribute 0 to both sides)
        obs_target = Observation()
        target = cut_lineage(
            target.observe(
                obs_target,
                F.sum("own_w").alias("e_xx"),
                F.sum(
                    F.when(F.col("comm") != F.col("sc"), 1).otherwise(0)
                ).alias("moved"),
                F.sum("_a2t").alias("a2_x"),
            ).select("vid", "comm")
        )
        release(state)

        stats = obs_target.get
        curr_mod = (stats["e_xx"] or 0.0) * const - (stats["a2_x"] or 0.0) * const * const
        trajectory.append(curr_mod)
        n_c_sq = obs_slots.get["n_c_sq"] if obs_slots is not None else None

        if resistance_phase is not None and resistance_phase > 1:
            # r_min / Q_AFG bookkeeping (ref :192-218) — guarded by
            # ``if (phase > 1)`` in the reference (:193), so phase 1 keeps
            # the -1.0 sentinel. Σ size² is exact off _slots_info: every
            # vertex (isolated ones included) permanently occupies a slot.
            w_2 = 1.0 / const if const > 0 else 0.0
            n_c = float(n_c_sq or 0)
            nd = float(nv) - (n_c / float(nv)) if nv > 0 else 0.0
            r_min = (-(w_2) / nd) * curr_mod if nd != 0 else 0.0
            denom = w_2 - float(nv) * r_min
            q_afg = ((w_2 * curr_mod) + (r_min * nd)) / denom if denom != 0 else 0.0
            res_traj.append({
                "it": num_iters,
                "sum_size_sq": int(n_c_sq or 0),
                "curr_mod": curr_mod,
                "r_min": r_min,
                "q_afg": q_afg,
            })
            stop = q_afg == 0
        else:
            stop = (curr_mod - prev_mod) < thresh
        # force_sweeps (gate-only): run exactly max_inner sweeps so the
        # static DuckDB twin can unroll the same chain — Q_AFG is an FP
        # cancellation residue that hits exactly 0 data-dependently
        if (stop and not force_sweeps) or num_iters >= max_inner:
            break

        prev_mod = max(curr_mod, lower)
        # double-buffer swap: past <- curr, curr <- target (full nv rows,
        # out-isolated vertices become -1: ref :174-176)
        past = curr
        dead = past_backing
        past_backing = curr_backing
        curr_backing = target
        curr = vattr.join(target, "vid", "left").select(
            "vid", F.coalesce("comm", F.lit(-1)).alias("comm"), "degree", "self_w"
        )
        if dead is not None:
            release(dead)

    return BasePhaseResult(
        c=past.select("vid", "comm"),
        modularity=prev_mod,
        num_iters=num_iters,
        trajectory=trajectory,
        r_min=r_min,
        q_afg=q_afg,
        fin_mod=curr_mod,
        res_traj=res_traj,
    )


def directed_louvain(
    spark: SparkSession,
    edges: DataFrame,
    nv: int,
    thresh: float = 1e-6,
    lower: float = -1.0,
    max_inner: int = 1000,
) -> BasePhaseResult:
    """Directed Louvain phase (ref C8, ``parallelDirectedLouvainMethod.cpp``).

    ``edges`` are DIRECTED rows (src, dst, weight) — do NOT symmetrize.
    Degrees/community info use the out-view only; the constant is
    ``2 * (1/Σdeg_out) = 2/m`` (``:225-227``). Oracle twin:
    ``oracle.numpy_oracle.directed_louvain_np``.
    """
    return _base_phase(spark, edges, nv, const_factor=2.0, thresh=thresh,
                       lower=lower, max_inner=max_inner)


def resistance_sweep_stats(
    spark: SparkSession,
    edges: DataFrame,
    nv: int,
    sweeps: int,
) -> DataFrame:
    """Per-sweep FastTrackResistance bookkeeping (ref C9,
    ``parallelLouvainMethodFastTrackResistance.cpp:192-218``) as a table:
    one row per sweep of an undirected base-path phase run with the
    phase>1 bookkeeping active — (it, sum_size_sq, curr_mod, r_min,
    q_afg). ``sum_size_sq`` is Σ n_s² over the reference's community
    SLOTS (a -1 vertex keeps its own singleton slot), the term Nd reads;
    the scalars come from the observed per-sweep metrics, so this gates
    the exact numbers the multi-phase resistance driver steers by.
    DuckDB twin: ``oracle/louvain_sql.resistance_stats_sql`` (validated
    vs the numpy oracle in test_resistance_sql_twin.py).
    """
    res = _base_phase(
        spark, edges, nv, const_factor=1.0, thresh=-1e18, lower=-1.0,
        max_inner=sweeps, resistance_phase=2, force_sweeps=True,
    )
    return local_table(
        spark,
        [(r["it"], r["sum_size_sq"], r["curr_mod"], r["r_min"], r["q_afg"])
         for r in res.res_traj],
        "it long, sum_size_sq long, curr_mod double, r_min double, q_afg double",
    )


@dataclass
class ResistanceResult:
    c: DataFrame
    modularity: float       # finMod of the last phase
    r_min: float
    q_afg: float
    phases: int
    total_iters: int
    num_clusters: int
    trajectory: list = field(default_factory=list)


def louvain_fasttrack_resistance(
    spark: SparkSession,
    edges: DataFrame,
    nv: int,
    threshold: float = 1e-6,
    max_phases: int = 200,
    max_total_iters: int = 10000,
    max_inner: int = 1000,
) -> ResistanceResult:
    """Multi-phase FastTrackResistance driver (ref C9,
    ``runMultiPhaseBasicFastTrackResistance.cpp:60-160``): phase 1 exits on
    the plain threshold, later phases on Q_AFG == 0; coarsen while
    Q_AFG != 0; caps 200 phases / 10000 iterations. Beats the resolution
    limit by tracking the Granell-Arenas minimal resistance.

    Extra engine guard (same as ``louvain``): a phase that moves nothing
    leaves the coarse graph fixed, so the loop exits early with identical
    final output instead of spinning to the phase cap.
    """
    g_edges, g_nv = edges, nv
    c_orig = None
    phase = 1
    tot_iters = 0
    num_clusters = 0
    trajectory = []
    res = None

    while True:
        res = _base_phase(
            spark, g_edges, g_nv, const_factor=1.0, thresh=threshold,
            lower=res.q_afg if res is not None else -1.0,
            max_inner=max_inner, resistance_phase=phase,
        )
        tot_iters += res.num_iters
        c, num_clusters = renumber(res.c)
        c = c.transform(cut_lineage)
        trajectory.append(res.fin_mod)

        if phase == 1:
            c_orig = c
        else:
            c_orig = project_assignment(c_orig, c).transform(cut_lineage)

        if phase > max_phases or tot_iters > max_total_iters:
            break
        if res.q_afg == 0:
            break  # minimal r_min reached (ref :142)
        if num_clusters == g_nv:
            break  # coarsening fixpoint (engine guard)
        g_edges = coarsen(g_edges, c).transform(cut_lineage)
        g_nv = num_clusters
        phase += 1

    return ResistanceResult(
        c=c_orig,
        modularity=res.fin_mod,
        r_min=res.r_min,
        q_afg=res.q_afg,
        phases=phase,
        total_iters=tot_iters,
        num_clusters=num_clusters,
        trajectory=trajectory,
    )
