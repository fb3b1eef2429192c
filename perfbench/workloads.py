"""The benchmark's two workloads.

Each workload builds its input from the seed, loads it (set-up), runs
the timed calls into the engine, harvests the outputs to numpy outside
the timed region, and checks them against ``grappolo_spark.oracle``.
The input is rebuilt in every run, never cached: building
``transcript-job``'s corpus is the process's first Spark work and warms
the JVM, so a cached input would make the first timed job colder.
Sizes are chosen so that one run, JVM start included, takes 35-50 s on
a 4-core box; README.md records the numbers.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from grappolo_spark import etl, tables
from grappolo_spark.checkpoint import CheckpointManager
from grappolo_spark.operators import (components, labelprop, louvain,
                                      pagerank, triangles)
from grappolo_spark.oracle import numpy_oracle
from grappolo_spark.synth import synth_transcripts


def _edge_rows(df):
    """(src, dst, weight) tuples in the shape the numpy oracle reads."""
    t = df.select("src", "dst", "weight").toArrow()
    return list(zip(t["src"].to_pylist(), t["dst"].to_pylist(),
                    t["weight"].to_pylist()))


def _by_vid(vid, val, nv, fill=-1):
    out = np.full(nv, fill, dtype=np.asarray(val).dtype)
    out[np.asarray(vid)] = val
    return out


def _collect(df, key, value, nv, fill=-1):
    t = df.select(key, value).toArrow()
    return _by_vid(t[key].to_numpy(), t[value].to_numpy(), nv, fill)


def _read_back(path, value, nv, fill=-1):
    t = pq.read_table(str(path), columns=["vid", value])
    return _by_vid(t["vid"].to_numpy(), t[value].to_numpy(), nv, fill)


class LouvainCopurchase:
    """Multi-phase ``louvain()`` on a co-purchase graph.

    The graph comes from ``tables.copurchase_edges`` over a seeded
    order/part basket table shaped like the sf0.01 TESTDATA ``lineitem``
    (parts drawn uniformly, 1 to 13 parts and about 4 per order), at
    half its size.  Uniform
    baskets carry no community structure, so phase 1 never converges
    and always runs to ``max_inner``: the sweep count is fixed across
    seeds.  The coarse graph is small enough that every run reaches the
    numpy driver tail.
    """

    name = "louvain-copurchase"
    n_parts = 1000
    n_orders = 7500
    max_inner = 3
    ops_per_rep = 1

    def build(self, spark, src: Path, seed: int) -> None:
        rng = np.random.default_rng(seed)
        lines = rng.binomial(12, 0.25, self.n_orders) + 1
        orderkey = np.repeat(np.arange(self.n_orders, dtype=np.int64), lines)
        partkey = rng.integers(0, self.n_parts, orderkey.size, dtype=np.int64)
        pq.write_table(pa.table({"l_orderkey": orderkey, "l_partkey": partkey}),
                       src / "lineitem.parquet")
        pq.write_table(pa.table({"p_partkey": np.arange(self.n_parts, dtype=np.int64)}),
                       src / "part.parquet")

    def setup(self, spark, tr, src: Path) -> dict:
        with tr.span("tables.copurchase_edges"):
            edges = tables.copurchase_edges(spark, str(src)).localCheckpoint(eager=True)
            nv = tables.copurchase_nv(spark, str(src))
        return {"edges": edges, "nv": nv}

    def job(self, spark, tr, st: dict, work: Path) -> dict:
        res = louvain.louvain(spark, st["edges"], st["nv"], max_inner=self.max_inner)
        return {"res": res}

    def harvest(self, st: dict, out: dict) -> dict:
        r = out["res"]
        return {"c": _collect(r.c, "vid", "comm", st["nv"]),
                "summary": (r.modularity, r.phases, r.total_iters,
                            r.num_clusters, list(r.trajectory))}

    def expected(self, st: dict) -> dict:
        rows = _edge_rows(st["edges"])
        exp = numpy_oracle.louvain_multiphase_np(rows, st["nv"], max_inner=self.max_inner)
        # louvain() reports sweeps summed over every phase, the driver
        # tail's included; the sweeps over the input graph are phase 1's
        phase1 = numpy_oracle.louvain_phase_np(rows, st["nv"], max_inner=self.max_inner)
        return {"c": np.asarray(exp["C"]),
                "summary": (exp["modularity"], exp["phases"], exp["total_iters"],
                            exp["num_clusters"], list(exp["trajectory"])),
                "supersteps": phase1[2]}

    def failures(self, got: dict, exp: dict) -> list[str]:
        bad = []
        if not np.array_equal(got["c"], exp["c"]):
            bad.append("louvain assignment")
        elif got["summary"] != exp["summary"]:
            bad.append("louvain modularity/trajectory")
        return bad


class TranscriptJob:
    """``scripts/run_job.py``'s call sequence in one process: transcript
    ETL, convergence-mode PageRank with durable checkpoints, connected
    components, label propagation and triangles, each written to
    Parquet.  Driver-bound: many small jobs per superstep."""

    name = "transcript-job"
    n_convs = 1000
    max_turns = 12
    pr_tol = 1e-9
    pr_iters = 10
    lp_iters = 5
    ops_per_rep = 5

    def build(self, spark, src: Path, seed: int) -> None:
        synth_transcripts(spark, n_convs=self.n_convs, max_turns=self.max_turns,
                          seed=seed).write.parquet(str(src / "transcripts.parquet"))

    def setup(self, spark, tr, src: Path) -> dict:
        tr_df = spark.read.parquet(str(src / "transcripts.parquet")).localCheckpoint(eager=True)
        return {"transcripts": tr_df}

    def job(self, spark, tr, st: dict, work: Path) -> dict:
        with tr.span("etl.build_edges"):
            edges, turns, tools = etl.build_edges(st["transcripts"])
            edges = edges.localCheckpoint(eager=True)
            nv = turns.count() + tools.count()
        ckpt = CheckpointManager(spark, str(work / "checkpoints"))
        ranks, pr_iters = pagerank.pagerank(spark, edges, nv, tol=self.pr_tol,
                                            max_iter=self.pr_iters, checkpoint=ckpt)
        self._write(tr, ranks, work / "pagerank")
        comp, cc_rounds = components.connected_components(spark, edges, nv)
        self._write(tr, comp, work / "components")
        labels, lp_rounds = labelprop.label_propagation(spark, edges, nv,
                                                        max_iter=self.lp_iters)
        self._write(tr, labels, work / "labelprop")
        tri, total = triangles.triangles(spark, edges, nv)
        self._write(tr, tri, work / "triangles")
        self._write(tr, turns, work / "turn_vertices")
        self._write(tr, tools, work / "tool_vertices")
        return {"edges": edges, "nv": nv, "work": work, "total": total,
                "supersteps": pr_iters + cc_rounds + lp_rounds}

    @staticmethod
    def _write(tr, df, path: Path) -> None:
        with tr.span("output.write"):
            df.write.mode("overwrite").parquet(str(path))

    def harvest(self, st: dict, out: dict) -> dict:
        nv, work = out["nv"], out["work"]
        got = {"rows": sorted(_edge_rows(out["edges"])), "nv": nv,
               "rank": _read_back(work / "pagerank", "rank", nv, np.nan),
               "comp": _read_back(work / "components", "component", nv),
               "label": _read_back(work / "labelprop", "label", nv),
               "tri": _read_back(work / "triangles", "triangles", nv),
               "total": out["total"], "supersteps": out["supersteps"]}
        st.setdefault("first", got)
        return got

    def expected(self, st: dict) -> dict:
        ref = st["first"]
        rows, nv = ref["rows"], ref["nv"]
        rank, _ = numpy_oracle.pagerank_np(rows, nv, tol=self.pr_tol,
                                           max_iter=self.pr_iters)
        label, _ = numpy_oracle.label_propagation_np(rows, nv, max_iter=self.lp_iters)
        tri, total = numpy_oracle.triangle_counts_np(rows, nv)
        return {"rows": rows, "rank": rank,
                "comp": np.asarray(numpy_oracle.connected_components_np(rows, nv)),
                "label": np.asarray(label), "tri": np.asarray(tri), "total": total}

    def failures(self, got: dict, exp: dict) -> list[str]:
        bad = []
        if got["rows"] != exp["rows"]:
            bad.append("etl edges differ between reps")
        if not np.allclose(got["rank"], exp["rank"], rtol=1e-6, atol=0.0):
            bad.append("pagerank")
        if not np.array_equal(got["comp"], exp["comp"]):
            bad.append("connected_components")
        if not np.array_equal(got["label"], exp["label"]):
            bad.append("label_propagation")
        if not (np.array_equal(got["tri"], exp["tri"]) and got["total"] == exp["total"]):
            bad.append("triangles")
        return bad


WORKLOADS = {w.name: w for w in (LouvainCopurchase(), TranscriptJob())}
