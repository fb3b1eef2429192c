"""Distance-1 vertex coloring as deterministic DataFrame supersteps.

Reference seed: ``algoDistanceOneVertexColoringOpt``
(``coloringDistanceOne.cpp:50-233``) — speculative first-fit coloring,
conflict detection, random-value loser re-queues. The engine runs the
same speculative scheme but fully deterministic:

* every uncolored vertex TENTATIVELY takes the smallest color absent from
  its already-colored neighbourhood (first-fit, ref ``:137-150``);
* a vertex KEEPS its tentative color unless an uncolored neighbour picked
  the SAME tentative color with a higher priority — priority =
  xxhash64(vid), which is a **bijection** on 64-bit ids (every step of
  the single-lane XXH64 path — odd-constant multiply mod 2^64, rotl,
  xor-shift — is invertible), so priorities are collision-free and no
  vid tie-break is needed. This is the reference's
  ``distanceOneConfResolution`` (``coloringUtils.cpp:70-97``) with the
  random value made deterministic and partition-invariant;
* losers re-queue for the next round; rounds repeat until all colored —
  empirically a handful of rounds (conflicts only arise between
  neighbours that picked the *same* color in the *same* round).

The self-verification step of the reference (``:206-226``) is
``validate_coloring`` here (also used in tests).

Scale: each round = two joins over the uncolored frontier's edges + two
aggregations, hash-partitioned on vid; the frontier shrinks geometrically.
The min-free-color search explodes ``sequence(0, n_colored)`` per
uncolored vertex — bounded by its colored-degree, the same bound as the
reference's per-vertex ``Mark`` array (``coloringDistanceOne.cpp:110``).
Oracle twin: ``oracle.coloring_np.distance1_coloring_np``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..lineage import cut_lineage
from ..session import local_table, scaled_shuffle_partitions


def _prio(col):
    """Deterministic priority; LONG cast per the xxh64 oracle contract."""
    return F.xxhash64(col.cast("long"))


def distance1_coloring(
    spark: SparkSession,
    edges: DataFrame,
    nv: int,
    max_rounds: int = 200,
    pick: str = "first_fit",
) -> tuple[DataFrame, int, int]:
    """Color all nv vertices; returns ((vid, color), num_colors, rounds).

    Vertices with no incident edges get color 0.

    ``pick`` selects the tentative-color rule:

    * ``first_fit`` (default) — smallest color absent from the colored
      neighbourhood (ref ``coloringDistanceOne.cpp:137-150``);
    * ``least_used`` — the ref ``initColoringLU`` scheme
      (``bColoring/initialColoringLU.cpp:44-183``): argmin (freq, c)
      over the already-used palette minus the neighbourhood, falling
      back to the first never-used color when every used color is
      blocked (``:113-123``). freq is the round-start assignment
      histogram (the reference's racy atomic freq made Jacobi), collected
      once per round on the driver — O(n_colors) rows, bounded by max
      degree + 1 at any scale. Conflict resolution is the same
      bijective-priority rule either way. Oracle twin:
      ``oracle.coloring_np.distance1_coloring_lu_np``.
    """
    if pick not in ("first_fit", "least_used"):
        raise ValueError(f"unknown pick rule: {pick}")
    nbr = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .transform(cut_lineage)
    )
    # stage granularity clamped to the graph for the round loop
    # (session.scaled_shuffle_partitions; results partition-invariant)
    with scaled_shuffle_partitions(spark, nbr.count()):
        return _distance1_impl(spark, nbr, nv, max_rounds, pick)


def _distance1_impl(spark, nbr, nv, max_rounds, pick="first_fit"):
    verts = nbr.select(F.col("src").alias("vid")).distinct()
    state = verts.select(
        "vid", F.lit(None).cast("int").alias("color"), _prio(F.col("vid")).alias("prio")
    ).transform(cut_lineage)
    # the uncolored count rides each round's state checkpoint as an
    # observed metric, so a round costs ONE action (no standalone count
    # job) — at a 1000-executor scale every extra action is a full
    # scheduler round-trip per coloring round
    remaining = state.filter(F.col("color").isNull()).count()

    rounds = 0
    while True:
        if remaining == 0 or rounds >= max_rounds:
            break
        rounds += 1

        unc = state.filter(F.col("color").isNull()).select(
            F.col("vid").alias("src"), F.col("prio").alias("p_src")
        )
        nb = nbr.join(unc, "src").join(
            state.select(
                F.col("vid").alias("dst"), F.col("color").alias("nb_color")
            ),
            "dst",
        )
        used = (
            nb.filter(F.col("nb_color").isNotNull())
            .select("src", F.col("nb_color").alias("t"))
            .distinct()
        )
        if pick == "least_used":
            # ref initColoringLU: argmin (freq, c) over the round-start
            # palette minus the neighbourhood; first never-used color when
            # every used color is blocked. The palette histogram is one
            # O(n_colors) driver collect per round.
            freq = {
                int(r["color"]): int(r["n"])
                for r in state.filter(F.col("color").isNotNull())
                .groupBy("color").agg(F.count("*").alias("n")).collect()
            }
            min_unused = 0
            while min_unused in freq:
                min_unused += 1
            if freq:
                palette = F.broadcast(local_table(
                    spark, [(int(c), int(n)) for c, n in freq.items()],
                    "t int, fc long",
                ))
                picked = (
                    unc.crossJoin(palette)
                    .join(used, ["src", "t"], "left_anti")
                    .groupBy("src", "p_src")
                    .agg(F.min(F.struct(F.col("fc"), F.col("t"))).alias("b"))
                    .select("src", "p_src", F.col("b.t").alias("t"))
                )
                fallback = unc.join(
                    picked.select("src"), "src", "left_anti"
                ).select("src", "p_src", F.lit(min_unused).alias("t"))
                tent = picked.unionByName(fallback)
            else:
                tent = unc.select("src", "p_src", F.lit(0).alias("t"))
        else:
            # tentative color: smallest not used by COLORED neighbours
            # (min free <= colored-degree, so sequence(0, n_colored) covers it)
            counts = nb.groupBy("src", "p_src").agg(
                F.count(F.when(F.col("nb_color").isNotNull(), 1)).alias("n_colored")
            )
            cand_colors = counts.select(
                "src", "p_src",
                F.explode(F.sequence(F.lit(0), F.col("n_colored"))).alias("t"),
            )
            tent = (
                cand_colors.join(used, ["src", "t"], "left_anti")
                .groupBy("src", "p_src")
                .agg(F.min("t").alias("t"))
            )
        # conflict resolution: drop the tentative color iff an uncolored
        # neighbour picked the SAME color with a higher (bijective) priority
        t_dst = tent.select(
            F.col("src").alias("dst"), F.col("t").alias("t_dst"),
            F.col("p_src").alias("p_dst"),
        )
        conf = (
            nbr.join(tent.withColumnRenamed("src", "_s"), nbr.src == F.col("_s"))
            .join(t_dst, "dst")
            .filter(F.col("t") == F.col("t_dst"))
            .groupBy(F.col("_s").alias("src"))
            .agg(F.max("p_dst").alias("mx"))
        )
        assigned = (
            tent.join(conf, "src", "left")
            .filter(F.col("mx").isNull() | (F.col("p_src") > F.col("mx")))
            .select(F.col("src").alias("vid"), F.col("t").alias("new_color"))
        )
        obs = Observation()
        state = (
            state.join(assigned, "vid", "left")
            .select(
                "vid",
                F.coalesce("color", F.col("new_color").cast("int")).alias("color"),
                "prio",
            )
            .observe(obs, F.sum(F.col("color").isNull().cast("long")).alias("unc"))
            .transform(cut_lineage)
        )
        remaining = int(obs.get["unc"] or 0)

    all_v = spark.range(nv).select(F.col("id").alias("vid"))
    colors = all_v.join(state.select("vid", "color"), "vid", "left").select(
        "vid", F.coalesce("color", F.lit(0)).alias("color")
    )
    n_colors = colors.agg(F.max("color")).collect()[0][0] + 1
    return colors.transform(cut_lineage), int(n_colors), rounds


def validate_coloring(edges: DataFrame, colors: DataFrame) -> int:
    """Conflict count (must be 0) — ref self-verification
    ``coloringDistanceOne.cpp:206-226``."""
    cs = colors.select(F.col("vid").alias("src"), F.col("color").alias("c_src"))
    cd = colors.select(F.col("vid").alias("dst"), F.col("color").alias("c_dst"))
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .join(cs, "src")
        .join(cd, "dst")
        .filter(F.col("c_src") == F.col("c_dst"))
        .count()
    )


def color_stats(colors: DataFrame) -> DataFrame:
    """Color-class histogram + variance (ref A12, ``coloringUtils.cpp:14-42``,
    ``equitableColoringDistanceOne.cpp:48-88``)."""
    sizes = colors.groupBy("color").agg(F.count("*").alias("class_size"))
    return sizes.agg(
        F.count("*").alias("n_colors"),
        F.max("class_size").alias("max_class"),
        F.avg("class_size").alias("avg_class"),
        F.var_pop("class_size").alias("var_class"),
    )


def maxmin_coloring(
    spark: SparkSession,
    edges: DataFrame,
    nv: int,
    n_hash: int = 4,
    n_itrs: int = 2,
) -> tuple[DataFrame, int, int]:
    """Bounded-color MaxMin coloring (ref C15,
    ``coloringMultiHashMaxMin.cpp:60-226``): nItrs x nHash rounds; in the
    round for (itr, ihash) every still-uncolored vertex compares a per-hash
    random value against its still-uncolored neighbours — a local max takes
    color ``2*(itr*nHash+ihash)``, a local min takes ``+1`` (``:125-158``);
    vertices left over keep the sentinel ``maxColor = 2*nHash*nItrs``
    (``:88``) — the palette is bounded, leftovers may conflict, exactly as
    in the reference.

    Determinism: the reference draws per-hash random arrays
    (``generateRandomNumbers2``); the engine uses the partition-invariant
    ``xxhash64(vid, ihash)`` (signed-long comparisons; collision-free per
    round because the seed-chained XXH64 lane is a bijection). Within a
    round the reference's racy neighbour reads are benign — a neighbour
    colored THIS round never satisfies ``color < currentColor``, so the
    Jacobi (snapshot) evaluation here is semantics-identical.

    Returns ((vid, color) over all nv, n_colored, rounds_run). Isolated
    vertices are trivial local maxima and take color 0 in round 0.
    Oracle twin: ``oracle.coloring_np.maxmin_coloring_np``.
    """
    max_color = 2 * n_hash * n_itrs
    nbr = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .transform(cut_lineage)
    )
    # seed ALL nv vertices at the sentinel (like the oracle twin): on an
    # edgeless graph the first round still runs and colors everything 0,
    # so the reported round count matches maxmin_coloring_np
    verts = spark.range(nv).select(F.col("id").alias("vid"))
    state = verts.select("vid", F.lit(max_color).alias("color")).transform(cut_lineage)

    rounds = 0
    for itr in range(n_itrs):
        for ihash in range(n_hash):
            cc = 2 * (itr * n_hash + ihash)
            unc = state.filter(F.col("color") == max_color).select(
                "vid",
                F.xxhash64(F.col("vid").cast("long"),
                           F.lit(int(ihash)).cast("long")).alias("h"),
            )
            if unc.limit(1).count() == 0:
                break
            rounds += 1
            # inner joins keep only uncolored-uncolored neighbour pairs:
            # neighbours colored in earlier rounds have color < cc and are
            # skipped by the reference (:143-146)
            u_src = unc.select(F.col("vid").alias("src"), F.col("h").alias("h_src"))
            u_dst = unc.select(F.col("vid").alias("dst"), F.col("h").alias("h_dst"))
            cmp = (
                nbr.join(u_src, "src")
                .join(u_dst, "dst")
                .groupBy(F.col("src").alias("vid"))
                .agg(
                    F.max(F.when(F.col("h_src") <= F.col("h_dst"), 1).otherwise(0)).alias("not_max"),
                    F.max(F.when(F.col("h_src") >= F.col("h_dst"), 1).otherwise(0)).alias("not_min"),
                )
            )
            decide = (
                unc.join(cmp, "vid", "left")
                .select(
                    "vid",
                    # no uncolored neighbours -> vacuous local max (ref corner case)
                    F.when(F.col("not_max").isNull() | (F.col("not_max") == 0), F.lit(cc))
                    .when(F.col("not_min") == 0, F.lit(cc + 1))
                    .alias("new_color"),
                )
            )
            state = (
                state.join(decide, "vid", "left")
                .select("vid", F.coalesce("new_color", F.col("color")).alias("color"))
                .transform(cut_lineage)
            )
        else:
            continue
        break

    colors = state.select("vid", "color").transform(cut_lineage)
    n_colored = colors.filter(F.col("color") != max_color).count()
    return colors, int(n_colored), rounds


MBASE_BUCKET_CAP = 1024    # ref bColoring/mBase.cpp:95-96 (avg clamp)
MBASE_OVERSIZE = 1088      # ref bColoring/mBase.cpp:104-106 (donor gate)


def balanced_coloring(
    spark: SparkSession,
    edges: DataFrame,
    colors: DataFrame,
    nv: int,
    ncolors: int | None = None,
    strategy: str = "first_fit",
    max_rounds: int = 50,
    variant: str = "vbase",
    bucket_cap: int = MBASE_BUCKET_CAP,
    oversize_thresh: int = MBASE_OVERSIZE,
    wbase_ref_constant: bool = False,
    _scaled: bool = False,
) -> tuple[DataFrame, int]:
    """Balanced-coloring redistribution (ref C16): vertices in OVERSIZE
    base color classes move to a permissible under-capacity color —
    first-fit (type 0) or least-used (type 1) — until stable.

    ``variant`` selects the reference strategy family (the bColoring/
    directory ships one redistribution scheme per file):

    * ``vbase`` (``Coloring/vBase.cpp:6-169``, default): balance by CLASS
      SIZE, avg = ceil(nv/ncolors); targets must be below avg AND not
      themselves oversize (``:111-125``).
    * ``cbase`` (``bColoring/cBase.cpp:44-140``): same size balance, but a
      target only needs mark-free + freq < avg (``:103-115``) — oversize
      classes are NOT excluded as targets, so mass can also rebalance
      between oversize classes as they drain.
    * ``wbase`` (``bColoring/wBase.cpp:44-201``): balance by WEIGHTED
      class load — freq = Σ degree(v) over the class
      (``computeBinSizesWeighted``, moves update freq by vDeg,
      ``:160-167``) — so color stages get equal EDGE work, not equal
      vertex counts. Targets below avg and not oversize (``:139-152``).
      Documented deviation: the reference sets avg = ceil(ne/ncolors)
      (``:95``) while its class loads sum to Σ_v deg(v) = 2·ne, making
      every class structurally oversize and the drain loop terminate only
      by exhaustion — the engine uses the attainable weighted mean
      ceil(Σ_v deg(v) / ncolors).
    * ``mbase`` (``bColoring/mBase.cpp:44-213``): the vbase skeleton with
      the reference's ABSOLUTE bin capacities — avg is clamped to
      ``bucket_cap`` when ceil(nv/ncolors) > bucket_cap + 64 (``:95-96``)
      and a class donates when its BASE size exceeds the hard
      ``oversize_thresh`` (``:104-106``), not when it exceeds avg; both
      constants default to the reference's 1024/1088 and are
      caller-tunable (they are GPU bin-capacity tuning, meaningless at
      tiny nv).

    The reference's loops are scheduling-dependent (atomic ``freq``
    updates mid-sweep + random-value conflict resolution) — like C14 the
    engine keeps each CONTRACT (output stays a proper coloring, oversize
    classes drain toward avg under the variant's load measure) but is
    deterministic: Jacobi rounds, per-color admission capacity
    ``avg - freq`` granted in xxhash64-priority order (degree-weighted
    admission for wbase), and adjacent same-target movers resolved by the
    same bijective priority. Oracle twin (identical spec per variant):
    ``oracle.coloring_np.balanced_coloring_np``.

    Documented avg deviation (like the wbase note): the engine uses the
    TRUE ceil ``-(-nv // ncolors)`` for every variant. Only vBase's C++
    actually computes that (``ceil((double)NVer/(double)ncolors)``,
    ``vBase.cpp:76``); cBase/wBase/mBase call ``ceil(nv/ncolors)`` on
    INTEGER operands (``cBase.cpp:65``, ``wBase.cpp:94``,
    ``mBase.cpp:93``), where the division truncates before ceil sees it
    — i.e. the reference's computed value is floor there, shifting
    per-class capacity by 1 whenever ncolors does not divide the load
    (including the mbase ``avg > bucket_cap + 64`` clamp boundary). The
    engine/numpy/SQL twins share the true-ceil spec, so the gates hold
    exactly; the floor variant is a one-token change if bit-parity with
    the truncating builds is ever needed.

    Returns ((vid, color), rounds_run).
    """
    if variant not in ("vbase", "cbase", "wbase", "mbase"):
        raise ValueError(f"unknown balanced-coloring variant: {variant}")
    if not _scaled:
        # stage granularity clamped to the graph for the round loop
        # (session.scaled_shuffle_partitions; results partition-invariant)
        with scaled_shuffle_partitions(spark, edges.count()):
            return balanced_coloring(
                spark, edges, colors, nv, ncolors=ncolors, strategy=strategy,
                max_rounds=max_rounds, variant=variant,
                bucket_cap=bucket_cap, oversize_thresh=oversize_thresh,
                wbase_ref_constant=wbase_ref_constant, _scaled=True,
            )
    base = colors.select("vid", F.col("color").alias("base_color")).transform(cut_lineage)
    nbr = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .transform(cut_lineage)
    )
    if ncolors is None:
        ncolors = int(base.agg(F.max("base_color")).collect()[0][0] or 0) + 1

    state = colors.select(
        "vid", "color", _prio(F.col("vid")).alias("prio")
    ).join(base, "vid")
    if variant == "wbase":
        deg = nbr.groupBy(F.col("src").alias("vid")).agg(
            F.count("*").alias("w")
        )
        state = state.join(deg, "vid", "left").select(
            "vid", "color", "prio", "base_color",
            F.coalesce("w", F.lit(0)).cast("long").alias("w"),
        )
        total_w = int(
            state.agg(F.sum("w")).collect()[0][0] or 0
        )
        if wbase_ref_constant:
            # BIT-PARITY with the truncating reference constant
            # (wBase.cpp:94 ceil(ne/ncolors) on integer operands = floor;
            # class loads sum to 2*ne, so every class is structurally
            # oversize and the drain loop terminates by exhaustion /
            # max_rounds — the documented deviation, now selectable)
            ne = int(nbr.count()) // 2
            avg = ne // ncolors
        else:
            avg = -(-total_w // ncolors)  # attainable weighted mean (ceil)
        load = F.sum("w").alias("n")
    else:
        state = state.withColumn("w", F.lit(1).cast("long"))
        avg = -(-nv // ncolors)  # ceil
        load = F.count("*").alias("n")
    if variant == "mbase" and avg > bucket_cap + 64:
        avg = bucket_cap
    state = state.transform(cut_lineage)

    freq0 = {
        int(r["base_color"]): int(r["n"])
        for r in state.groupBy("base_color").agg(load).collect()
    }
    if variant == "mbase":
        oversize = sorted(c for c, n in freq0.items() if n > oversize_thresh)
    else:
        oversize = sorted(c for c, n in freq0.items() if n > avg)
    if not oversize:
        return colors.select("vid", "color"), 0

    rounds = 0
    over_set = [int(c) for c in oversize]
    while rounds < max_rounds:
        # ONE driver collect per round carries the color loads AND the
        # movers-exist flag (load of base-oversize members per color) —
        # no standalone movers-probe job
        fr = state.groupBy("color").agg(
            load,
            F.sum(
                F.when(F.col("base_color").isin(over_set), F.col("w"))
                .otherwise(F.lit(0))
            ).alias("n_over"),
        ).collect()
        freq = {int(r["color"]): int(r["n"]) for r in fr}
        has_movers = any(
            int(r["n"]) > avg and int(r["n_over"] or 0) > 0 for r in fr
        )
        eligible = sorted(
            c for c in range(ncolors)
            if freq.get(c, 0) < avg and (variant == "cbase" or c not in oversize)
        )
        if not eligible or not has_movers:
            break
        rounds += 1
        movers = state.filter(
            F.col("base_color").isin(over_set)
            & F.col("color").isin([int(c) for c in freq if freq[c] > avg])
        )

        # candidate (mover, target) pairs minus colors used by neighbours
        cand = movers.select(
            "vid", "prio", "w",
            F.explode(F.array(*[F.lit(int(c)) for c in eligible])).alias("t"),
        )
        nb_colors = (
            nbr.join(movers.select(F.col("vid").alias("src")), "src")
            .join(state.select(F.col("vid").alias("dst"), F.col("color").alias("t")), "dst")
            .select(F.col("src").alias("vid"), "t")
            .distinct()
        )
        free = cand.join(nb_colors, ["vid", "t"], "left_anti")
        if strategy == "least_used":
            fmap = F.create_map(
                *[F.lit(x) for c in eligible for x in (int(c), freq.get(c, 0))]
            )
            pick = (
                free.withColumn("fc", fmap[F.col("t")])
                .groupBy("vid", "prio", "w")
                .agg(F.min(F.struct(F.col("fc"), F.col("t"))).alias("b"))
                .select("vid", "prio", "w", F.col("b.t").alias("t"))
            )
        else:  # first_fit
            pick = free.groupBy("vid", "prio", "w").agg(F.min("t").alias("t"))

        # per-color admission capacity avg - freq, granted in priority
        # order; admission consumes each mover's LOAD (w = 1 vertex for
        # vbase/cbase, degree for wbase — cumulative-sum ≡ row_number in
        # the unit case, so the vbase SQL twin is unchanged)
        win = Window.partitionBy("t").orderBy(F.desc("prio")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        capmap = F.create_map(
            *[F.lit(x) for c in eligible for x in (int(c), avg - freq.get(c, 0))]
        )
        admitted = (
            pick.withColumn("cw", F.sum("w").over(win))
            .filter(F.col("cw") <= capmap[F.col("t")])
            .select("vid", "prio", "t")
        )
        # adjacent same-target movers: the higher priority wins
        a_dst = admitted.select(
            F.col("vid").alias("dst"), F.col("t").alias("t_dst"),
            F.col("prio").alias("p_dst"),
        )
        losers = (
            nbr.join(admitted.withColumnRenamed("vid", "src"), "src")
            .join(a_dst, "dst")
            .filter((F.col("t") == F.col("t_dst")) & (F.col("prio") < F.col("p_dst")))
            .select(F.col("src").alias("vid"))
            .distinct()
        )
        moves = admitted.join(losers, "vid", "left_anti").select("vid", F.col("t"))
        # the applied-move count rides the state checkpoint (one action
        # per round); numpy twin breaks on zero moves the same way
        obs = Observation()
        state = (
            state.join(moves, "vid", "left")
            .observe(obs, F.sum(F.col("t").isNotNull().cast("long")).alias("n_moved"))
            .select(
                "vid",
                F.coalesce(F.col("t"), F.col("color")).cast("int").alias("color"),
                "prio", "base_color", "w",
            )
            .transform(cut_lineage)
        )
        if int(obs.get["n_moved"] or 0) == 0:
            break

    return state.select("vid", "color"), rounds


def bbase_coloring(
    spark: SparkSession,
    edges: DataFrame,
    colors: DataFrame,
    nv: int,
    ncolors: int | None = None,
) -> tuple[DataFrame, int]:
    """bBase batch redistribution (ref C16, ``bColoring/bBase.cpp:44-146``
    ``schRedistribution``): ONE planned batch round — donors (class size >
    avg = ceil(nv/ncolors)) in ascending color order walk targets from
    ``ncolors-1`` DOWNWARD (``:88``), each shipping
    ``min(avg - freq[ti], freq[ci] - avg)`` members per under-avg target
    with planned freqs updated as they go (``:92-101``); the shipped
    members are the HEAD slab of the donor's member list (``:98-99``,
    ``startPost``), deterministic here as descending xxhash64 priority. A
    planned vertex moves iff no neighbour holds the target color in the
    BASE coloring (``:125-131``; the reference reads the live array —
    racy for adjacent movers — so the engine adds the family's
    deterministic resolution: higher priority moves, lower stays).

    The move PLAN is driver-side — it is O(ncolors) interval arithmetic
    over the class-size histogram (colors are bounded by max degree, tiny
    next to nv at any scale); the member ranking, slab assignment, and
    conflict checks are distributed. Oracle twin (identical spec):
    ``oracle.coloring_np.bbase_coloring_np``.

    Returns ((vid, color), rounds ∈ {0, 1}).
    """
    base = colors.select(
        "vid", F.col("color").alias("base_color"), _prio(F.col("vid")).alias("prio")
    ).transform(cut_lineage)
    nbr = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .transform(cut_lineage)
    )
    if ncolors is None:
        ncolors = int(base.agg(F.max("base_color")).collect()[0][0] or 0) + 1
    avg = -(-nv // ncolors) if ncolors else 0

    freq0 = {
        int(r["base_color"]): int(r["n"])
        for r in base.groupBy("base_color").agg(F.count("*").alias("n")).collect()
    }
    donors = sorted(c for c in freq0 if freq0[c] > avg)
    if not donors:
        return colors.select("vid", "color"), 0

    # driver-side slab plan: (donor, target, slab_start, slab_end)
    new_freq = dict(freq0)
    plan_rows = []
    for ci in donors:
        st_post = 0
        for ti in range(ncolors - 1, -1, -1):
            if new_freq[ci] <= avg:
                break
            if ti == ci:
                continue
            if new_freq.get(ti, 0) < avg:
                n_move = min(avg - new_freq.get(ti, 0), new_freq[ci] - avg)
                plan_rows.append((ci, ti, st_post, st_post + n_move))
                st_post += n_move
                new_freq[ci] -= n_move
                new_freq[ti] = new_freq.get(ti, 0) + n_move

    plan = F.broadcast(local_table(
        spark, plan_rows, "base_color int, t int, st long, en long"
    ))
    # rank donor-class members by descending priority; slab interval join
    win = Window.partitionBy("base_color").orderBy(F.desc("prio"))
    ranked = (
        base.filter(F.col("base_color").isin([int(c) for c in donors]))
        .withColumn("r", F.row_number().over(win) - 1)
    )
    planned = (
        ranked.join(plan, "base_color")
        .filter((F.col("r") >= F.col("st")) & (F.col("r") < F.col("en")))
        .select("vid", "prio", "t")
    ).transform(cut_lineage)

    # conflict: target used by a neighbour's BASE color
    nb_base = (
        nbr.join(planned.select(F.col("vid").alias("src"), "t"), "src")
        .join(
            base.select(F.col("vid").alias("dst"), F.col("base_color").alias("t")),
            ["dst", "t"],
        )
        .select(F.col("src").alias("vid"))
        .distinct()
    )
    # adjacent planned movers with the same target: higher priority wins
    p_dst = planned.select(
        F.col("vid").alias("dst"), F.col("t").alias("t_dst"),
        F.col("prio").alias("p_dst"),
    )
    losers = (
        nbr.join(planned.withColumnRenamed("vid", "src"), "src")
        .join(p_dst, "dst")
        .filter((F.col("t") == F.col("t_dst")) & (F.col("prio") < F.col("p_dst")))
        .select(F.col("src").alias("vid"))
        .distinct()
    )
    moves = (
        planned.join(nb_base, "vid", "left_anti")
        .join(losers, "vid", "left_anti")
        .select("vid", "t")
    )
    out = (
        colors.join(moves, "vid", "left")
        .select("vid", F.coalesce(F.col("t"), F.col("color")).cast("int").alias("color"))
    )
    return out, 1


def rbase_coloring(
    spark: SparkSession,
    edges: DataFrame,
    colors: DataFrame,
    nv: int,
    ncolors: int | None = None,
    max_rounds: int = 50,
) -> tuple[DataFrame, int]:
    """rBase capacity-bounded RE-coloring (ref C16,
    ``bColoring/rBase.cpp:44-179`` ``reColor``): every vertex recolors
    from scratch, taking the smallest color absent from its recolored
    neighbourhood AND below capacity ``freq < avg`` (``:117-122``) —
    scanning past ncolors when the low palette is full (``:118``), so the
    palette may grow. Deterministic rounds exactly like the family:
    Jacobi over the uncolored set, per-color admission capacity
    ``avg - freq`` in descending xxhash64 priority, adjacent
    same-tentative movers to the higher priority, losers re-queued; the
    reference's reverse-color queue order (``:73-76``) is scheduling
    metadata replaced by the priority order. Leftovers at ``max_rounds``
    (never on the gate corpora) keep their base color. Oracle twin
    (identical spec): ``oracle.coloring_np.rbase_coloring_np``.

    Returns ((vid, color), rounds_run).
    """
    base = colors.select(
        "vid", F.col("color").alias("base_color"), _prio(F.col("vid")).alias("prio")
    ).transform(cut_lineage)
    nbr = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .transform(cut_lineage)
    )
    if ncolors is None:
        ncolors = int(base.agg(F.max("base_color")).collect()[0][0] or 0) + 1
    avg = -(-nv // ncolors) if ncolors else 0
    if avg <= 0:
        return colors.select("vid", "color"), 0

    state = base.select(
        "vid", "base_color", "prio", F.lit(None).cast("int").alias("new_color")
    ).transform(cut_lineage)
    rounds = 0
    while rounds < max_rounds:
        # ONE collect per round: the NULL group is the uncolored count,
        # the rest are the per-color capacities
        fr = state.groupBy("new_color").agg(F.count("*").alias("n")).collect()
        freq = {
            int(r["new_color"]): int(r["n"])
            for r in fr if r["new_color"] is not None
        }
        remaining = sum(int(r["n"]) for r in fr if r["new_color"] is None)
        if remaining == 0:
            break
        rounds += 1
        full = sorted(c for c, n in freq.items() if n >= avg)

        unc = state.filter(F.col("new_color").isNull()).select(
            F.col("vid").alias("src"), F.col("prio").alias("p_src")
        )
        nb = nbr.join(unc, "src").join(
            state.select(F.col("vid").alias("dst"),
                         F.col("new_color").alias("nb_color")),
            "dst",
        )
        # blocked colors = recolored-neighbour colors ∪ full colors; the
        # min free color is <= n_blocked, so sequence(0, n_blocked) covers it
        n_nb = nb.groupBy("src", "p_src").agg(
            F.count(F.when(F.col("nb_color").isNotNull(), 1)).alias("n_colored")
        )
        counts = (
            state.filter(F.col("new_color").isNull())
            .select(F.col("vid").alias("src"), F.col("prio").alias("p_src"))
            .join(n_nb, ["src", "p_src"], "left")
            .select("src", "p_src",
                    (F.coalesce("n_colored", F.lit(0)) + F.lit(len(full))).alias("n_blocked"))
        )
        cand = counts.select(
            "src", "p_src",
            F.explode(F.sequence(F.lit(0), F.col("n_blocked"))).alias("t"),
        )
        used = (
            nb.filter(F.col("nb_color").isNotNull())
            .select("src", F.col("nb_color").alias("t"))
            .distinct()
        )
        if full:
            full_df = F.broadcast(local_table(
                spark, [(int(c),) for c in full], "t int"))
            cand = cand.join(full_df, "t", "left_anti")
        tent = (
            cand.join(used, ["src", "t"], "left_anti")
            .groupBy("src", "p_src")
            .agg(F.min("t").alias("t"))
        )
        # per-color admission capacity avg - freq, descending priority
        win = Window.partitionBy("t").orderBy(F.desc("p_src"))
        capmap = F.create_map(*[
            F.lit(x) for c, n in freq.items() for x in (int(c), avg - n)
        ]) if freq else None
        adm = tent.withColumn("rn", F.row_number().over(win))
        cap_col = (
            F.coalesce(capmap[F.col("t")], F.lit(avg)) if capmap is not None
            else F.lit(avg)
        )
        admitted = adm.filter(F.col("rn") <= cap_col).select(
            F.col("src").alias("vid"), F.col("p_src").alias("prio"), "t"
        )
        # adjacent same-tentative movers: higher priority wins
        a_dst = admitted.select(
            F.col("vid").alias("dst"), F.col("t").alias("t_dst"),
            F.col("prio").alias("p_dst"),
        )
        losers = (
            nbr.join(admitted.withColumnRenamed("vid", "src"), "src")
            .join(a_dst, "dst")
            .filter((F.col("t") == F.col("t_dst")) & (F.col("prio") < F.col("p_dst")))
            .select(F.col("src").alias("vid"))
            .distinct()
        )
        winners = admitted.join(losers, "vid", "left_anti").select("vid", "t")
        state = (
            state.join(winners, "vid", "left")
            .select(
                "vid", "base_color", "prio",
                F.coalesce("new_color", F.col("t").cast("int")).alias("new_color"),
            )
            .transform(cut_lineage)
        )

    if rounds >= max_rounds:
        # truncated run: vertices never recolored fall back to their base
        # color, which can CONFLICT with neighbours' new colors — surface
        # it so callers can tell a converged recolor from a truncated one
        # (never hit on the gate corpora; r4 ADVICE)
        leftover = state.filter(F.col("new_color").isNull()).count()
        if leftover:
            import warnings

            warnings.warn(
                f"rbase_coloring: {leftover} vertices uncolored after "
                f"max_rounds={max_rounds} keep their base color — the "
                "returned coloring may be improper; raise max_rounds",
                RuntimeWarning, stacklevel=2,
            )

    out = state.select(
        "vid", F.coalesce("new_color", F.col("base_color")).cast("int").alias("color")
    )
    return out, rounds


def equitable_coloring(
    spark: SparkSession,
    edges: DataFrame,
    colors: DataFrame,
    nv: int,
    ncolors: int | None = None,
    pick: str = "first_fit",
) -> tuple[DataFrame, int]:
    """Equitable CFF/CLU redistribution (ref
    ``Coloring/equitableColoringDistanceOne.cpp:90-253``
    ``equitableDistanceOneColorBased``): donor classes (base size >
    avg = ceil(nv/ncolors) — the reference's true-ceil
    ``(NVer+numColors-1)/numColors``, ``:165``) are processed in
    ASCENDING color order (``:173``), each draining toward avg by moving
    members to a color below avg (``Mark[i] = colorSize[i] >= avg``,
    ``:190-195``) and absent from the CURRENT neighbourhood
    (``:198-205``); live class sizes carry across classes. Each donor
    member is considered exactly ONCE (single sweep per class, no retry
    rounds — the structural difference from the vbase/cbase round
    loops), and at most ``excess = freq[ci] - avg`` members leave.

    ``pick``: ``first_fit`` = smallest allowed color (type 1, the
    shipped scan); ``least_used`` = smallest-size allowed color, ties to
    the smaller id (type 2 — declared in the reference's ``type`` knob
    ``:90-92`` but never wired in the shipped body; implemented here
    with initColoringLU's least-used rule).

    The reference's inner sweep races on colorSize/vtxColor under
    OpenMP; the engine keeps the contract deterministic exactly like the
    rest of the family: per donor class ONE batch — per-target admission
    capacity ``avg - freq[t]`` AND a class-global cap of ``excess``,
    both granted in descending xxhash64 priority; adjacent admitted
    movers with the same target resolve to the higher priority, the
    loser stays (no backfill). The per-class driver loop is O(ncolors)
    (colors are bounded by max degree — tiny next to nv at any scale)
    with one histogram collect per donor class; every per-vertex step is
    distributed. Oracle twin (identical spec):
    ``oracle.coloring_np.equitable_coloring_np``.

    Returns ((vid, color), n_donor_classes_processed).
    """
    base = colors.select(
        "vid", F.col("color").alias("base_color"), _prio(F.col("vid")).alias("prio")
    ).transform(cut_lineage)
    nbr = (
        edges.filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .transform(cut_lineage)
    )
    if ncolors is None:
        ncolors = int(base.agg(F.max("base_color")).collect()[0][0] or 0) + 1
    avg = (nv + ncolors - 1) // ncolors if ncolors else 0

    freq = {
        int(r["base_color"]): int(r["n"])
        for r in base.groupBy("base_color").agg(F.count("*").alias("n")).collect()
    }
    donors = sorted(c for c, n in freq.items() if n > avg)
    if not donors:
        return colors.select("vid", "color"), 0

    state = base.select("vid", F.col("base_color").alias("color"), "prio")
    processed = 0
    for ci in donors:
        excess = freq.get(ci, 0) - avg
        if excess <= 0:
            continue
        processed += 1
        eligible = sorted(c for c in range(ncolors) if freq.get(c, 0) < avg)
        if not eligible:
            continue
        movers = state.filter(F.col("color") == int(ci)).select("vid", "prio")
        cand = movers.select(
            "vid", "prio",
            F.explode(F.array(*[F.lit(int(c)) for c in eligible])).alias("t"),
        )
        nb_colors = (
            nbr.join(movers.select(F.col("vid").alias("src")), "src")
            .join(state.select(F.col("vid").alias("dst"), F.col("color").alias("t")), "dst")
            .select(F.col("src").alias("vid"), "t")
            .distinct()
        )
        free = cand.join(nb_colors, ["vid", "t"], "left_anti")
        if pick == "least_used":
            fmap = F.create_map(
                *[F.lit(x) for c in eligible for x in (int(c), freq.get(c, 0))]
            )
            tent = (
                free.withColumn("fc", fmap[F.col("t")])
                .groupBy("vid", "prio")
                .agg(F.min(F.struct(F.col("fc"), F.col("t"))).alias("b"))
                .select("vid", "prio", F.col("b.t").alias("t"))
            )
        else:
            tent = free.groupBy("vid", "prio").agg(F.min("t").alias("t"))
        # per-target admission capacity avg - freq[t], priority order
        win_t = Window.partitionBy("t").orderBy(F.desc("prio"))
        capmap = F.create_map(
            *[F.lit(x) for c in eligible for x in (int(c), avg - freq.get(c, 0))]
        )
        adm = tent.withColumn("rn", F.row_number().over(win_t)).filter(
            F.col("rn") <= capmap[F.col("t")]
        )
        # class-global cap: only the first `excess` admitted by priority —
        # top-k via orderBy+limit (TakeOrderedAndProject: per-partition
        # partial top-k, no single-partition exchange)
        kept = (
            adm.select("vid", "prio", "t")
            .orderBy(F.desc("prio")).limit(int(excess))
        )
        # adjacent same-target movers: higher priority wins, loser stays
        k_dst = kept.select(
            F.col("vid").alias("dst"), F.col("t").alias("t_dst"),
            F.col("prio").alias("p_dst"),
        )
        losers = (
            nbr.join(kept.withColumnRenamed("vid", "src"), "src")
            .join(k_dst, "dst")
            .filter((F.col("t") == F.col("t_dst")) & (F.col("prio") < F.col("p_dst")))
            .select(F.col("src").alias("vid"))
            .distinct()
        )
        moves = kept.join(losers, "vid", "left_anti").select("vid", "t")
        state = (
            state.join(moves, "vid", "left")
            .select(
                "vid",
                F.coalesce(F.col("t"), F.col("color")).cast("int").alias("color"),
                "prio",
            )
            .transform(cut_lineage)
        )
        # live class sizes carry to the next donor class (one collect per
        # donor class, O(ncolors) rows — same driver-paced pattern as the
        # balanced round loop)
        freq = {
            int(r["color"]): int(r["n"])
            for r in state.groupBy("color").agg(F.count("*").alias("n")).collect()
        }

    return state.select("vid", "color"), processed
