"""The vertex-coloring family as deterministic DataFrame rounds:
distance-1 (ref C14), MaxMin (C15) and the balanced / equitable
redistribution strategies (C16).

The colorers differ only in policy — who moves, which targets are
eligible, what capacity applies. Each shared round step is written once
and every colorer is its policy calling them:

* ``_neighbour_table`` — the (src, dst) rows without self-loops, lineage
  cut once; the round loop runs with stage granularity clamped to their
  count (``session.scaled_shuffle_partitions``; results are
  partition-invariant);
* ``_base_prelude`` — a redistribution's input coloring as base colour +
  priority, ``ncolors`` inferred as max colour + 1, avg = ceil(nv/ncolors);
* ``_class_sizes`` — the class-size histogram, one driver collect of
  O(ncolors) rows (colours are bounded by max degree + 1 at any scale);
* ``_nb_colours`` / ``_smallest_free`` — the colours a vertex's neighbours
  hold, and the smallest colour outside them: ``sequence(0, n_blocked)``
  minus the blocked colours, a bound no larger than the reference's
  per-vertex ``Mark`` array (``coloringDistanceOne.cpp:110``);
* ``_pick`` — a target among a palette minus the neighbourhood,
  ``first_fit`` (smallest) or ``least_used`` (argmin (freq, colour));
* ``_admit`` — per-target capacity ``avg - freq[t]``, granted in
  descending priority and consuming each mover's load;
* ``_resolve`` — adjacent movers with the same target: the higher
  priority wins;
* ``_apply`` — apply the moves, cut lineage, and observe the round's exit
  count (remaining or moved) on that checkpoint, so no round pays a
  standalone count job.

Priority is xxhash64(vid), a **bijection** on 64-bit ids (every step of
the single-lane XXH64 path — odd-constant multiply mod 2^64, rotl,
xor-shift — is invertible), so priorities are collision-free: no vid
tie-break is needed and a priority-ordered window is a total order. This
is the reference's random-value conflict resolution
(``distanceOneConfResolution``, ``coloringUtils.cpp:70-97``) made
deterministic and partition-invariant.

Each colorer has a numpy twin (``oracle/coloring_np.py``) and a DuckDB
twin (``oracle/coloring_sql.py``).
"""

from __future__ import annotations

import warnings
from contextlib import contextmanager

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..lineage import cut_lineage
from ..session import local_table, scaled_shuffle_partitions


def _prio(col):
    """Deterministic priority; LONG cast per the xxh64 oracle contract."""
    return F.xxhash64(col.cast("long"))


def _neighbours(edges: DataFrame) -> DataFrame:
    """(src, dst) rows without self-loops."""
    return edges.filter(F.col("src") != F.col("dst")).select("src", "dst")


@contextmanager
def _neighbour_table(spark: SparkSession, edges: DataFrame):
    """Yield the round loop's neighbour table, lineage cut once, with
    stage granularity clamped to its row count (observed on the
    checkpoint job) for the scope."""
    obs = Observation()
    nbr = cut_lineage(_neighbours(edges).observe(obs, F.count(F.lit(1)).alias("n")))
    with scaled_shuffle_partitions(spark, obs.get["n"]):
        yield nbr


def _base_prelude(colors: DataFrame, nv: int, ncolors: int | None):
    """(base, ncolors, avg): ``colors`` as (vid, base_color, prio) with
    lineage cut, ``ncolors`` inferred as max colour + 1 when None, and
    avg = ceil(nv / ncolors) (0 for an empty palette)."""
    base = cut_lineage(colors.select(
        "vid", F.col("color").alias("base_color"), _prio(F.col("vid")).alias("prio")
    ))
    if ncolors is None:
        ncolors = int(base.agg(F.max("base_color")).collect()[0][0] or 0) + 1
    return base, ncolors, -(-nv // ncolors) if ncolors else 0


def _class_sizes(df: DataFrame, key: str, load: str | None = None) -> dict:
    """{class: Σ load} over ``df`` grouped by ``key``; the load defaults
    to the member count, and a NULL class keys as None."""
    n = F.count(F.lit(1)) if load is None else F.sum(load)
    return {r[0]: r[1] for r in df.groupBy(key).agg(n).collect()}


def _lookup(d: dict, key):
    """``d[key]``, 0 when absent, for a small driver-side int dict."""
    if not d:
        return F.lit(0)
    return F.coalesce(F.create_map(*[F.lit(x) for kv in d.items() for x in kv])[key],
                      F.lit(0))


def _nb_colours(nbr: DataFrame, movers: DataFrame, state: DataFrame) -> DataFrame:
    """(vid, t): the distinct non-null colours ``state`` gives each
    mover's neighbours."""
    return (
        nbr.join(movers.select(F.col("vid").alias("src")), "src")
        .join(state.select(F.col("vid").alias("dst"), F.col("color").alias("t")), "dst")
        .filter(F.col("t").isNotNull())
        .select(F.col("src").alias("vid"), "t")
        .distinct()
    )


def _smallest_free(movers: DataFrame, used: DataFrame, full=()) -> DataFrame:
    """(vid, prio, t): each mover's smallest colour absent from its
    ``used`` (vid, t) rows and from ``full``. That colour is at most the
    number of blocked colours, so ``sequence(0, n_blocked)`` covers it."""
    n_used = used.groupBy("vid").agg(F.count(F.lit(1)).alias("n"))
    cand = movers.join(n_used, "vid", "left").select(
        "vid", "prio",
        F.explode(F.sequence(F.lit(0), F.coalesce("n", F.lit(0)) + len(full))).alias("t"),
    )
    if full:
        cand = cand.filter(~F.col("t").isin(list(full)))
    return (
        cand.join(used, ["vid", "t"], "left_anti")
        .groupBy("vid", "prio")
        .agg(F.min("t").alias("t"))
    )


def _pick(movers, nbr, state, palette, freq: dict, rule: str) -> DataFrame:
    """(movers' columns, t): each mover's target among the ``palette``
    colours its neighbours do not hold — the smallest (``first_fit``), or
    the least used by the round-start sizes ``freq``, ties to the smaller
    colour (``least_used``). Movers with no free colour drop out."""
    cand = movers.select(
        "*", F.explode(F.array(*[F.lit(int(c)) for c in palette]).cast("array<int>")).alias("t")
    )
    free = cand.join(_nb_colours(nbr, movers, state), ["vid", "t"], "left_anti")
    if rule == "least_used":
        t = F.min(F.struct(_lookup(freq, F.col("t")).alias("fc"), F.col("t")))["t"]
    else:
        t = F.min("t")
    return free.groupBy(*movers.columns).agg(t.alias("t"))


def _admit(tent: DataFrame, avg: int, freq: dict, load: str | None = None) -> DataFrame:
    """The ``tent`` (vid, prio, t, ...) rows admitted to their target:
    per target t, in descending priority, while the cumulative ``load``
    (1 per mover by default) stays within t's capacity avg - freq[t]. With
    unit loads the running sum is the row number (priority is a
    bijection)."""
    win = Window.partitionBy("t").orderBy(F.desc("prio")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum(F.lit(1) if load is None else F.col(load)).over(win)
    return (
        tent.withColumn("_cum", cum)
        .filter(F.col("_cum") <= F.lit(avg) - _lookup(freq, F.col("t")))
        .drop("_cum")
    )


def _resolve(nbr: DataFrame, movers: DataFrame) -> DataFrame:
    """``movers`` (vid, prio, t, ...) minus each one that has a neighbour
    moving to the same target with a higher priority."""
    other = movers.select(
        F.col("vid").alias("dst"), F.col("t").alias("t_dst"), F.col("prio").alias("p_dst")
    )
    losers = (
        nbr.join(movers.select(F.col("vid").alias("src"), "t", "prio"), "src")
        .join(other, "dst")
        .filter((F.col("t") == F.col("t_dst")) & (F.col("prio") < F.col("p_dst")))
        .select(F.col("src").alias("vid"))
    )
    return movers.join(losers, "vid", "left_anti")


def _apply(state: DataFrame, moves: DataFrame, counted=None):
    """(state', n): ``state`` with each mover's ``color`` set to its
    target ``t``, lineage cut. n counts the rows where ``counted`` holds
    — a condition on the joined rows (old ``color``; ``t`` null for a
    non-mover), by default the movers — observed on the checkpoint job."""
    obs = Observation()
    if counted is None:
        counted = F.col("t").isNotNull()
    new = cut_lineage(
        state.join(moves.select("vid", "t"), "vid", "left")
        .observe(obs, F.sum(counted.cast("long")).alias("n"))
        .withColumn("color", F.coalesce("t", "color").cast("int"))
        .drop("t")
    )
    return new, int(obs.get["n"] or 0)


def _uncolored_after():
    """``_apply`` count of the rows still uncolored after the round."""
    return F.col("color").isNull() & F.col("t").isNull()


def distance1_coloring(
    spark: SparkSession,
    edges: DataFrame,
    nv: int,
    max_rounds: int = 200,
    pick: str = "first_fit",
) -> tuple[DataFrame, int, int]:
    """Color all nv vertices; returns ((vid, color), num_colors, rounds).

    Vertices with no incident edges get color 0.

    Reference seed: ``algoDistanceOneVertexColoringOpt``
    (``coloringDistanceOne.cpp:50-233``) — speculative coloring, conflict
    detection, loser re-queues — run fully deterministic: every uncolored
    vertex TENTATIVELY takes a color by the ``pick`` rule; it KEEPS it
    unless an uncolored neighbour picked the SAME color with a higher
    priority; losers re-queue for the next round. Rounds repeat until all
    are colored — empirically a handful (conflicts only arise between
    neighbours that picked the same color in the same round). The
    reference's self-verification (``:206-226``) is ``validate_coloring``.

    ``pick`` selects the tentative-color rule:

    * ``first_fit`` (default) — smallest color absent from the colored
      neighbourhood (ref ``coloringDistanceOne.cpp:137-150``);
    * ``least_used`` — the ref ``initColoringLU`` scheme
      (``bColoring/initialColoringLU.cpp:44-183``): argmin (freq, c)
      over the already-used palette minus the neighbourhood, falling
      back to the first never-used color when every used color is
      blocked (``:113-123``). freq is the round-start assignment
      histogram (the reference's racy atomic freq made Jacobi), collected
      once per round on the driver. Conflict resolution is the same
      bijective-priority rule either way. Oracle twin:
      ``oracle.coloring_np.distance1_coloring_lu_np``.

    Oracle twin (first fit): ``oracle.coloring_np.distance1_coloring_np``.
    """
    if pick not in ("first_fit", "least_used"):
        raise ValueError(f"unknown pick rule: {pick}")
    with _neighbour_table(spark, edges) as nbr:
        state = cut_lineage(nbr.select(F.col("src").alias("vid")).distinct().select(
            "vid", F.lit(None).cast("int").alias("color"), _prio(F.col("vid")).alias("prio")
        ))
        remaining = state.count()
        rounds = 0
        while remaining and rounds < max_rounds:
            rounds += 1
            unc = state.filter(F.col("color").isNull()).select("vid", "prio")
            if pick == "least_used":
                freq = _class_sizes(state, "color")
                freq.pop(None, None)
                tent = _pick(unc, nbr, state, sorted(freq), freq, pick)
                min_unused = 0
                while min_unused in freq:
                    min_unused += 1
                tent = tent.unionByName(
                    unc.join(tent, "vid", "left_anti").withColumn("t", F.lit(min_unused))
                )
            else:
                tent = _smallest_free(unc, _nb_colours(nbr, unc, state))
            state, remaining = _apply(state, _resolve(nbr, tent), _uncolored_after())

        obs = Observation()
        colors = cut_lineage(
            spark.range(nv).select(F.col("id").alias("vid"))
            .join(state, "vid", "left")
            .select("vid", F.coalesce("color", F.lit(0)).alias("color"))
            .observe(obs, F.max("color").alias("m"))
        )
        return colors, int(obs.get["m"]) + 1, rounds


def validate_coloring(edges: DataFrame, colors: DataFrame) -> int:
    """Conflict count (must be 0) — ref self-verification
    ``coloringDistanceOne.cpp:206-226``."""
    cs = colors.select(F.col("vid").alias("src"), F.col("color").alias("c_src"))
    cd = colors.select(F.col("vid").alias("dst"), F.col("color").alias("c_dst"))
    return (
        _neighbours(edges)
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
    with _neighbour_table(spark, edges) as nbr:
        # seed ALL nv vertices at the sentinel (like the oracle twin): on an
        # edgeless graph the first round still runs and colors everything 0,
        # so the reported round count matches maxmin_coloring_np
        state = spark.range(nv).select(F.col("id").alias("vid"), F.lit(max_color).alias("color"))
        remaining = nv
        rounds = 0
        while remaining and rounds < n_itrs * n_hash:
            cc, ihash = 2 * rounds, rounds % n_hash
            rounds += 1
            unc = state.filter(F.col("color") == max_color).select(
                "vid", F.xxhash64(F.col("vid").cast("long"), F.lit(ihash).cast("long")).alias("h")
            )
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
            decide = unc.join(cmp, "vid", "left").select(
                "vid",
                # no uncolored neighbours -> vacuous local max (ref corner case)
                F.when(F.col("not_max").isNull() | (F.col("not_max") == 0), F.lit(cc))
                .when(F.col("not_min") == 0, F.lit(cc + 1))
                .alias("t"),
            )
            state, remaining = _apply(state, decide, F.coalesce("t", "color") == max_color)
        return state, nv - remaining, rounds


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
    with _neighbour_table(spark, edges) as nbr:
        base, ncolors, avg = _base_prelude(colors, nv, ncolors)
        state = base.select("vid", F.col("base_color").alias("color"), "prio", "base_color")
        if variant == "wbase":
            deg = nbr.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("w"))
            state = state.join(deg, "vid", "left").withColumn(
                "w", F.coalesce("w", F.lit(0)).cast("long"))
            if wbase_ref_constant:
                # BIT-PARITY with the truncating reference constant
                # (wBase.cpp:94 ceil(ne/ncolors) on integer operands = floor;
                # class loads sum to 2*ne, so every class is structurally
                # oversize and the drain loop terminates by exhaustion /
                # max_rounds — the documented deviation, now selectable)
                avg = nbr.count() // 2 // ncolors
            else:
                total_w = int(state.agg(F.sum("w")).collect()[0][0] or 0)
                avg = -(-total_w // ncolors)  # attainable weighted mean (ceil)
        else:
            state = state.withColumn("w", F.lit(1).cast("long"))
        if variant == "mbase" and avg > bucket_cap + 64:
            avg = bucket_cap
        state = cut_lineage(state)

        donor_above = oversize_thresh if variant == "mbase" else avg
        over = sorted(c for c, n in _class_sizes(state, "base_color", "w").items()
                      if n > donor_above)
        if not over:
            return colors.select("vid", "color"), 0

        rounds = 0
        while rounds < max_rounds:
            # ONE driver collect per round carries the color loads AND the
            # movers-exist flag (load of base-oversize members per color)
            fr = state.groupBy("color").agg(
                F.sum("w").alias("n"),
                F.sum(F.when(F.col("base_color").isin(over), F.col("w")).otherwise(0))
                .alias("n_over"),
            ).collect()
            freq = {r["color"]: r["n"] for r in fr}
            eligible = [c for c in range(ncolors)
                        if freq.get(c, 0) < avg and (variant == "cbase" or c not in over)]
            if not eligible or not any(r["n"] > avg and r["n_over"] for r in fr):
                break
            rounds += 1
            movers = state.filter(
                F.col("base_color").isin(over)
                & F.col("color").isin([c for c, n in freq.items() if n > avg])
            ).select("vid", "prio", "w")
            tent = _pick(movers, nbr, state, eligible, freq, strategy)
            state, moved = _apply(state, _resolve(nbr, _admit(tent, avg, freq, "w")))
            if not moved:
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
    with _neighbour_table(spark, edges) as nbr:
        base, ncolors, avg = _base_prelude(colors, nv, ncolors)
        freq0 = _class_sizes(base, "base_color")
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
        planned = cut_lineage(
            base.filter(F.col("base_color").isin(donors))
            .withColumn("r", F.row_number().over(win) - 1)
            .join(plan, "base_color")
            .filter((F.col("r") >= F.col("st")) & (F.col("r") < F.col("en")))
            .select("vid", "prio", "t")
        )
        # adjacency is resolved among ALL planned movers; a winner then
        # still stays when a neighbour's BASE color is its target
        state = base.select("vid", F.col("base_color").alias("color"))
        moves = _resolve(nbr, planned).join(
            _nb_colours(nbr, planned, state), ["vid", "t"], "left_anti")
        out, _ = _apply(state, moves)
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
    (never on the gate corpora) keep their base color, with a
    ``RuntimeWarning``. Oracle twin (identical spec):
    ``oracle.coloring_np.rbase_coloring_np``.

    Returns ((vid, color), rounds_run).
    """
    with _neighbour_table(spark, edges) as nbr:
        base, ncolors, avg = _base_prelude(colors, nv, ncolors)
        if avg <= 0:
            return colors.select("vid", "color"), 0
        state = base.select("vid", F.lit(None).cast("int").alias("color"), "prio", "base_color")
        remaining = nv
        rounds = 0
        while rounds < max_rounds:
            # ONE collect per round: the NULL class is the uncolored count,
            # the rest are the per-color sizes
            freq = _class_sizes(state, "color")
            remaining = freq.pop(None, 0)
            if not remaining:
                break
            rounds += 1
            unc = state.filter(F.col("color").isNull()).select("vid", "prio")
            full = [c for c, n in freq.items() if n >= avg]
            tent = _smallest_free(unc, _nb_colours(nbr, unc, state), full)
            state, remaining = _apply(
                state, _resolve(nbr, _admit(tent, avg, freq)), _uncolored_after())

        if remaining:
            # truncated run: vertices never recolored fall back to their base
            # color, which can CONFLICT with neighbours' new colors — surface
            # it so callers can tell a converged recolor from a truncated one
            warnings.warn(
                f"rbase_coloring: {remaining} vertices uncolored after "
                f"max_rounds={max_rounds} keep their base color — the "
                "returned coloring may be improper; raise max_rounds",
                RuntimeWarning, stacklevel=2,
            )
        out = state.select(
            "vid", F.coalesce("color", F.col("base_color")).cast("int").alias("color")
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
    with _neighbour_table(spark, edges) as nbr:
        base, ncolors, avg = _base_prelude(colors, nv, ncolors)
        freq = _class_sizes(base, "base_color")
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
            eligible = [c for c in range(ncolors) if freq.get(c, 0) < avg]
            if not eligible:
                continue
            movers = state.filter(F.col("color") == ci).select("vid", "prio")
            tent = _pick(movers, nbr, state, eligible, freq, pick)
            # class-global cap: only the first `excess` admitted by priority —
            # top-k via orderBy+limit (TakeOrderedAndProject: per-partition
            # partial top-k, no single-partition exchange)
            kept = _admit(tent, avg, freq).orderBy(F.desc("prio")).limit(excess)
            state, _ = _apply(state, _resolve(nbr, kept))
            # live class sizes carry to the next donor class
            freq = _class_sizes(state, "color")
        return state.select("vid", "color"), processed
