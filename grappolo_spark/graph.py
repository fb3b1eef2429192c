"""Graph core: the symmetrized edge DataFrame and its invariants.

The graph representation mirrors the reference CSR contract
(``defs.h:104-111``): every undirected edge is stored in BOTH directions,
self-loops are stored ONCE, and there are no duplicate (src, dst) rows
(dedup cf. ``utilityFunctions.cpp:416-464``). Vertex ids are dense longs
0..NV-1 (renumbering cf. ``loadSNAP.cpp:74-106`` — there a serial hash
map; here a scalable two-pass range-partitioned rank).

Weighted degree of a vertex = sum of its rows' weights (self-loop counted
once), matching ``sumVertexDegree`` (``utilityClusteringFunctions.cpp:115``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .lineage import cut_lineage
from .session import local_table

EDGE_COLS = ("src", "dst", "weight")


# ---------------------------------------------------------------------------
# dense id assignment
# ---------------------------------------------------------------------------

def assign_dense_ids(
    df: DataFrame,
    key_cols: list[str],
    id_col: str = "vid",
    start: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign dense sequential ids 0..N-1 (plus ``start``) ordered by key_cols.

    Scalable dense-rank: range-partition by key, rank within partitions,
    then add broadcast per-partition offsets — no single-partition global
    window, so this survives a 100x scale-up. Deterministic: ids follow the
    total order of ``key_cols``. Use ``assign_dense_ids_with_count`` when
    the caller also needs N (already known from the offset pass — no extra
    count job).
    """
    out, _n = assign_dense_ids_with_count(
        df, key_cols, id_col=id_col, start=start, num_partitions=num_partitions
    )
    return out


def assign_dense_ids_with_count(
    df: DataFrame,
    key_cols: list[str],
    id_col: str = "vid",
    start: int = 0,
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """``assign_dense_ids`` returning ``(ids, N)`` explicitly — the total
    falls out of the per-partition offset pass for free."""
    distinct = df.select(*key_cols).distinct()
    nparts = num_partitions or distinct.sparkSession.sparkContext.defaultParallelism
    parted = distinct.repartitionByRange(nparts, *key_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    parted = parted.transform(cut_lineage)  # pin partition assignment

    counts = {r["_pid"]: r["count"] for r in parted.groupBy("_pid").count().collect()}
    offsets, acc = {}, start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    spark = df.sparkSession
    offsets_df = F.broadcast(local_table(
        spark, [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _offset long"
    ))
    w = Window.partitionBy("_pid").orderBy(*key_cols)
    out = (
        parted.withColumn("_rn", F.row_number().over(w) - 1)
        .join(offsets_df, "_pid")
        .select(*key_cols, (F.col("_rn") + F.col("_offset")).alias(id_col))
    )
    return out, acc - start


# ---------------------------------------------------------------------------
# edge-table invariants
# ---------------------------------------------------------------------------

def remove_edges(edges: DataFrame, drop_self_loops: bool = True) -> DataFrame:
    """Dedup (src, dst) pairs; optionally drop self-loops (ref P2)."""
    out = edges.dropDuplicates(["src", "dst"])
    if drop_self_loops:
        out = out.filter(F.col("src") != F.col("dst"))
    return out


def symmetrize(edges: DataFrame, sum_directions: bool = False) -> DataFrame:
    """Make the edge table symmetric: each undirected edge in both
    directions, self-loops once, no duplicates.

    If ``sum_directions`` the undirected weight is the sum of the two
    directed weights (interaction-count semantics for the transcript
    graph); otherwise duplicate (src,dst) weights are summed but a
    reverse row does not add to the forward weight (reference edge-list
    semantics, ``loadEdgeList.cpp:211-217``).
    """
    fwd = edges.select("src", "dst", "weight")
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("weight")
    )
    both = fwd.unionByName(rev)
    if not sum_directions:
        # canonical undirected weight: sum over the canonical orientation only
        canon = (
            edges.select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
                "weight",
            )
            .groupBy("u", "v")
            .agg(F.sum("weight").alias("weight"))
        )
        fwd2 = canon.select(F.col("u").alias("src"), F.col("v").alias("dst"), "weight")
        rev2 = canon.filter(F.col("u") != F.col("v")).select(
            F.col("v").alias("src"), F.col("u").alias("dst"), "weight"
        )
        return fwd2.unionByName(rev2)
    agg = both.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
    # self-loops were doubled by the union; halve them back to stored-once
    return agg.withColumn(
        "weight",
        F.when(F.col("src") == F.col("dst"), F.col("weight") / 2).otherwise(
            F.col("weight")
        ),
    )


# ---------------------------------------------------------------------------
# aggregates (SURVEY §2.4 A1/A2/A13)
# ---------------------------------------------------------------------------

def degrees(edges: DataFrame) -> DataFrame:
    """Weighted degree + out-neighbor count per vertex (ref A1)."""
    return edges.groupBy(F.col("src").alias("vid")).agg(
        F.sum("weight").alias("degree"), F.count("*").alias("num_neighbors")
    )


def total_edge_weight(edges: DataFrame) -> float:
    """Sum of all row weights = 2m (self-loops once) — ref A2 denominator."""
    return edges.agg(F.sum("weight")).collect()[0][0] or 0.0


def graph_stats(edges: DataFrame) -> dict:
    """Degree statistics à la displayGraphCharacteristics (ref A13)."""
    deg = degrees(edges)
    row = deg.agg(
        F.count("*").alias("nv"),
        F.max("degree").alias("max_degree"),
        F.avg("degree").alias("avg_degree"),
        F.var_samp("degree").alias("var_degree"),
        F.sum(F.when(F.col("num_neighbors") == 1, 1).otherwise(0)).alias("degree_one"),
    ).collect()[0]
    n_rows = edges.count()
    n_self = edges.filter(F.col("src") == F.col("dst")).count()
    return {
        "num_vertices_with_edges": row["nv"],
        "num_undirected_edges": (n_rows - n_self) // 2 + n_self,
        "max_degree": row["max_degree"],
        "avg_degree": row["avg_degree"],
        "var_degree": row["var_degree"],
        "degree_one_vertices": row["degree_one"],
    }


def build_old2new_map(c: DataFrame) -> DataFrame:
    """Pack vertices so same-community vertices get contiguous new ids
    (ref W3 ``buildOld2NewMap``, ``utilityFunctions.cpp:540-629`` — the
    matrix-reordering permutation, SURVEY §3.3). Returns (vid, new_vid).

    Uses the scalable two-pass rank, not a global window."""
    m = assign_dense_ids(c.select("comm", "vid"), ["comm", "vid"], "new_vid")
    return m.select("vid", "new_vid")


def validate_symmetric(edges: DataFrame) -> None:
    """Assert the symmetry invariant (tests + load-time sanity check)."""
    fwd = edges.select("src", "dst", "weight")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    diff = fwd.exceptAll(rev)
    bad = diff.count()
    if bad:
        raise AssertionError(f"edge table not symmetric: {bad} unmatched rows")
    dup = edges.groupBy("src", "dst").count().filter("count > 1").count()
    if dup:
        raise AssertionError(f"edge table has {dup} duplicate (src,dst) pairs")
