"""Graph file-format sources (SURVEY §2.1 S1-S12).

Two tiers, matching how the formats are used at scale:

* **Distributed loaders** — plain/weighted edge lists (S1-S5) and SNAP
  (S10): the formats that actually get big. ``spark.read.csv`` scans them
  in parallel; SNAP ids are renumbered dense with the scalable two-pass
  rank (``assign_dense_ids`` — the reference uses a serial ``std::map``,
  ``loadSNAP.cpp:74-106``).
* **Driver-side interchange loaders** — Metis (S7) and MatrixMarket (S6):
  line-position-dependent header formats used for fixtures and tool
  interchange; parsed on the driver and parallelized. The scale-native
  binary format is Parquet (the reference's S11 binary CSR dump maps to
  ``df.write.parquet`` — SURVEY S11/S13).

All loaders return ``(edges, nv)`` where ``edges`` is the engine's
symmetric ``(src, dst, weight)`` DataFrame (both directions, self-loops
once, deduped — the CSR contract of ``defs.h:104-111``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..graph import assign_dense_ids, remove_edges, symmetrize
from ..session import local_table


def _finish(directed: DataFrame) -> DataFrame:
    """dedup + symmetrize into the engine edge contract."""
    return symmetrize(remove_edges(directed, drop_self_loops=False))


def read_edge_list(
    spark: SparkSession,
    path: str,
    weighted: bool = False,
    one_based: bool = False,
    delimiter: str | None = None,
    comment: str = "#",
) -> tuple[DataFrame, int]:
    """Whitespace/delimited edge list (ref S1/S2: ``loadEdgeList.cpp:156-419``).

    Unweighted lists get weight 1.0 forced (``loadEdgeList.cpp:205``);
    1-based ids are shifted to 0-based. nv is taken as max(id)+1 (dense-id
    convention — use ``read_snap`` for sparse external ids).
    """
    lines = (
        spark.read.text(path)
        .filter(~F.col("value").startswith(comment))
        .filter(F.trim("value") != "")
    )
    if delimiter:
        parts = F.split(F.col("value"), delimiter)
    else:
        parts = F.split(F.trim(F.col("value")), r"\s+")
    shift = 1 if one_based else 0
    cols = [
        (parts.getItem(0).cast("long") - shift).alias("src"),
        (parts.getItem(1).cast("long") - shift).alias("dst"),
    ]
    if weighted:
        cols.append(parts.getItem(2).cast("double").alias("weight"))
    df = lines.select(*cols)
    if not weighted:
        df = df.withColumn("weight", F.lit(1.0))
    edges = _finish(df).localCheckpoint(eager=True)
    nv = edges.agg(F.greatest(F.max("src"), F.max("dst"))).collect()[0][0]
    return edges, int(nv) + 1 if nv is not None else 0


def read_snap(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame, int]:
    """SNAP format (ref S10 ``loadSNAP.cpp:20-213``): ``#`` comment header,
    whitespace-separated pairs, arbitrary external ids.

    Returns (edges, id_map, nv); ``id_map`` is (ext_id, vid) with dense
    vids assigned by external-id order (the reference's first-seen map is
    insertion-ordered by file position — a serial notion; the engine uses
    the deterministic total order instead, documented deviation).
    """
    raw = (
        spark.read.text(path)
        .filter(~F.col("value").startswith("#"))
        .filter(F.trim("value") != "")
        .select(F.split(F.trim(F.col("value")), r"\s+").alias("p"))
        .select(
            F.col("p").getItem(0).cast("long").alias("a"),
            F.col("p").getItem(1).cast("long").alias("b"),
        )
    )
    ids = raw.select(F.col("a").alias("ext_id")).union(
        raw.select(F.col("b").alias("ext_id"))
    ).distinct()
    id_map = assign_dense_ids(ids, ["ext_id"], "vid").localCheckpoint(eager=True)
    nv = id_map.count()
    directed = (
        raw.join(id_map.withColumnRenamed("ext_id", "a").withColumnRenamed("vid", "src"), "a")
        .join(id_map.withColumnRenamed("ext_id", "b").withColumnRenamed("vid", "dst"), "b")
        .select("src", "dst", F.lit(1.0).alias("weight"))
    )
    return _finish(directed).localCheckpoint(eager=True), id_map, nv


def read_metis(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """Metis/DIMACS#10 adjacency (ref S7 ``loadMetis.cpp:19-235``; the
    ``karate.graph`` fixture format). Header ``NV NE [fmt]``; line i lists
    the 1-based neighbours of vertex i, ``fmt`` 1 → (nbr, weight) pairs.
    Driver-side parse (interchange format)."""
    rows = []
    with open(path) as f:
        header = f.readline().split()
        nv = int(header[0])
        # metis fmt is up to 3 digits; the LAST one flags edge weights
        weighted = len(header) > 2 and header[2][-1] == "1"
        for i in range(nv):
            toks = f.readline().split()
            if weighted:
                it = iter(toks)
                for j, w in zip(it, it):
                    rows.append((i, int(j) - 1, float(w)))
            else:
                for j in toks:
                    rows.append((i, int(j) - 1, 1.0))
    df = local_table(spark, rows, "src long, dst long, weight double")
    # metis lists each undirected edge from both endpoints already
    return remove_edges(df, drop_self_loops=False).localCheckpoint(eager=True), nv


def read_matrix_market(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """MatrixMarket coordinate format (ref S6 ``loadMatrixMarket.cpp:18-248``):
    ``pattern`` entries get weight 1 (``:62-66``); ``symmetric`` entries are
    stored once and expanded here (``:129-140``). Driver-side parse."""
    rows = []
    with open(path) as f:
        header = f.readline()
        pattern = "pattern" in header
        symmetric = "symmetric" in header
        for line in f:
            if line.startswith("%") or not line.strip():
                continue
            m, n, _nnz = line.split()[:3]
            nv = max(int(m), int(n))
            break
        for line in f:
            if line.startswith("%") or not line.strip():
                continue
            toks = line.split()
            u, v = int(toks[0]) - 1, int(toks[1]) - 1
            w = 1.0 if pattern else float(toks[2])
            rows.append((u, v, w))
    df = local_table(spark, rows, "src long, dst long, weight double")
    # symmetric MM stores each entry once; general may hold both — _finish
    # canonicalizes either into the engine contract
    return _finish(df).localCheckpoint(eager=True), nv


def read_pajek(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """Pajek format (ref S8 ``loadPajekFormat.cpp:3-175``): ``*Vertices N``
    header, vertex-label lines skipped until ``*Edges``, then 1-based
    ``i j [w]`` lines. Reference semantics preserved: self-loops dropped
    (``:84-85``), weight forced to 1.0 regardless of the file value
    (``:87``), duplicates removed (``:99``). Driver-side parse
    (interchange format — the scale-native path is Parquet)."""
    rows = []
    with open(path) as f:
        header = f.readline().split()
        if not header or header[0].lower() != "*vertices":
            raise ValueError(f"read_pajek: expected '*Vertices N' header in {path}")
        nv = int(header[1])
        in_edges = False
        for line in f:
            tok = line.split()
            if not tok:
                continue
            if tok[0].lower() in ("*edges", "*arcs"):
                in_edges = True
                continue
            if not in_edges:
                continue  # vertex-label line
            u, v = int(tok[0]) - 1, int(tok[1]) - 1
            if u == v:
                continue
            rows.append((u, v, 1.0))
    df = local_table(spark, rows, "src long, dst long, weight double")
    return _finish(df).localCheckpoint(eager=True), nv


def read_dimacs9(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """DIMACS challenge-9 format (ref S9 ``loadDimacs.cpp:3-134``):
    ``c`` comment lines, one ``p sp NV NE`` problem line, then NE arc
    lines ``a U V W`` (1-based). Weights made positive via abs (``:56``);
    the directed arcs are stored undirected (``:5-6``). Distributed parse:
    the arc section is order-independent, so ``spark.read.text`` scans it
    in parallel; only the one-line problem header is read on the driver.

    The reference skips duplicate removal for this format (``:63-69``
    commented out) and keeps parallel arcs as separate CSR entries; the
    DataFrame-native equivalent is summing duplicate (src,dst) weights
    (every engine operator consumes neighbor weights additively), which
    ``symmetrize`` performs.
    """
    nv = None
    with open(path) as f:
        for line in f:
            if line.startswith("p"):
                _p, _sp, nv_s, _ne = line.split()[:4]
                nv = int(nv_s)
                break
            if not line.startswith("c"):
                break
    if nv is None:
        raise ValueError(f"read_dimacs9: no 'p sp NV NE' problem line in {path}")
    arcs = (
        spark.read.text(path)
        .filter(F.col("value").startswith("a"))
        .select(F.split(F.trim(F.col("value")), r"\s+").alias("p"))
        .select(
            (F.col("p").getItem(1).cast("long") - 1).alias("src"),
            (F.col("p").getItem(2).cast("long") - 1).alias("dst"),
            F.abs(F.col("p").getItem(3).cast("double")).alias("weight"),
        )
    )
    return symmetrize(arcs).localCheckpoint(eager=True), nv
