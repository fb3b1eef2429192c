#!/usr/bin/env python
"""Headline benchmark — one JSON line on stdout.

Two sections:

1. **Flagship queries** at ``$SPARK_GRAFT_SF_DIR`` (default
   /root/testdata/sf0.1): the full operator set (graph build, PageRank,
   full multi-phase Louvain, components, label propagation, triangles,
   transcript ETL) for per-query regression tracking and modularity
   parity.
2. **Headline throughput** on the dense conversational-context link
   graph (BASELINE.json metric: edges-processed/sec per Louvain+PageRank
   superstep on a transcript-derived edge table). The corpus is the
   deterministic synthetic transcript table (seed=42) at
   ``$SPARK_GRAFT_BENCH_CONVS`` conversations (default 100k, max_turns
   50) with context window 16 — avg degree ~23, the density regime of
   the reference's benchmark graphs (com-orkut deg ~76, uk2002 ~28); the
   reply graph alone (deg ~2) measures per-vertex fixed cost, not edge
   throughput. The edge table is built once and parquet-cached under
   /tmp so the N-vs-4N scaling legs (scripts/scaling_bench.py) time the
   IDENTICAL input without rebuild noise.

   headline = edge_rows x supersteps / seconds over PAGERANK_ITERS
   fixed-point-free PageRank supersteps + LOUVAIN_INNER Arrow-path
   Louvain sweeps on the full edge set (phase 1 — every sweep touches
   all |E| rows; later phases run on coarsened graphs where
   edge-visits/sec is not comparable).

Scaling evidence (north rule, N vs 4N): scripts/scaling_bench.py runs
this exact headline workload at local[8] and local[32] in fresh
subprocesses and writes BENCH.md.
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))

PAGERANK_ITERS = 5
LOUVAIN_INNER = 5
BENCH_MAX_TURNS = 50
BENCH_WINDOW = 16
# headline repeats: the box is a shared VM whose capacity swings several x
# minute-to-minute; the median of BENCH_REPEATS back-to-back measurements
# (all reported) is the headline — no best-of selection. 3 repeats make
# the median an actual middle value rather than a mean of two.
BENCH_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def _cpu_probe(workers: int, secs: float = 6.0) -> int:
    """Pure-CPU capacity probe (same design as scripts/scaling_bench.py):
    `workers` pinned processes burn arithmetic for `secs`; the summed work
    units measure what the co-tenant box ACTUALLY offered at probe time.
    Bracketing the headline repeats with this probe makes a regression
    attributable: engine-vs-host is unreadable from wall seconds alone on
    a VM whose capacity swings several x minute-to-minute (VERDICT r4
    'wrong' #2 — the r4 headline halved and could not be adjudicated from
    the bench JSON)."""
    import multiprocessing

    def _burn(counter):
        t0 = time.time()
        x = 0
        while time.time() - t0 < secs:
            for i in range(100000):
                x += i * i
            counter.value += 1

    prev = os.sched_getaffinity(0)
    try:
        os.sched_setaffinity(0, sorted(prev)[:workers])
        counters = [multiprocessing.Value("i", 0) for _ in range(workers)]
        procs = [multiprocessing.Process(target=_burn, args=(c,))
                 for c in counters]
        [p.start() for p in procs]
        [p.join() for p in procs]
        return sum(c.value for c in counters)
    finally:
        os.sched_setaffinity(0, prev)


def bench_corpus_dir(n_convs: int) -> str:
    return os.environ.get(
        "SPARK_GRAFT_BENCH_CACHE",
        f"/tmp/grappolo_bench_ctx_{n_convs}_{BENCH_MAX_TURNS}_{BENCH_WINDOW}",
    )


def build_bench_corpus(spark, n_convs: int) -> tuple:
    """Materialize (once) and load the deterministic context-graph corpus.

    Returns (edges DataFrame — localCheckpointed, n_edge_rows, nv).
    """
    from pyspark.sql import functions as F

    from grappolo_spark.etl import build_context_edges
    from grappolo_spark.synth import synth_transcripts

    base = pathlib.Path(bench_corpus_dir(n_convs))
    edges_path = base / "edges.parquet"
    meta_path = base / "meta.json"
    if not meta_path.exists():
        tr = synth_transcripts(spark, n_convs=n_convs, max_turns=BENCH_MAX_TURNS)
        edges, turns, tools = build_context_edges(tr, window=BENCH_WINDOW)
        edges.write.mode("overwrite").parquet(str(edges_path))
        nv = turns.count() + tools.count()
        n = spark.read.parquet(str(edges_path)).count()
        meta_path.write_text(json.dumps({"nv": nv, "rows": n}))
    meta = json.loads(meta_path.read_text())
    edges = spark.read.parquet(str(edges_path)).localCheckpoint(eager=True)
    return edges, meta["rows"], meta["nv"]


def run_headline(spark, edges, n_rows: int, nv: int, repeats: int = BENCH_REPEATS) -> dict:
    """The fixed superstep workload: PR iters + Louvain Arrow sweeps.

    Static-side preparation (pinning the edge table, degree/self-loop
    tables — rank/assignment-independent, one-time per graph) runs
    OUTSIDE the timed sections, exactly as the reference amortizes its
    CSR build over a whole 100+-superstep run: the metric is steady-state
    per-superstep throughput, not graph-load time. JVM/codegen/Arrow
    warm-up is likewise untimed.
    """
    from grappolo_spark.operators.louvain import louvain_phase, louvain_prepare
    from grappolo_spark.operators.pagerank import pagerank, pagerank_prepare

    pr_prep = pagerank_prepare(edges)
    lv_prep = louvain_prepare(edges)
    # fixed-iteration PageRank chains all PAGERANK_ITERS supersteps into
    # one job (cut_every = the durable-checkpoint interval): identical
    # per-superstep shuffles, ~4x fewer driver round-trips + state
    # materializations (see operators/pagerank.py; bit-identical, pytest-
    # gated). Measured 3.8x at local[32] where per-superstep localCheckpoint
    # writes contend on the block manager.
    pr_cut = PAGERANK_ITERS
    # warm the JVM/codegen/Arrow paths outside the timed section with ONE
    # untimed rep of the EXACT timed workload: the chained 5-superstep
    # PageRank plan and the sweep plan both JIT/AQE-specialize on first
    # run (a 1-iter warm-up compiles a different plan than the chained
    # one, and the first full rep was measured 2.4x slower than steady
    # state from codegen + block-manager ramp alone)
    pagerank(spark, edges, nv, tol=0.0, max_iter=PAGERANK_ITERS,
             prepared=pr_prep, cut_every=pr_cut)
    louvain_phase(spark, edges, nv, max_inner=LOUVAIN_INNER, prepared=lv_prep)

    import statistics

    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cap0 = _cpu_probe(n_cpus)

    reps = []
    for _ in range(max(1, repeats)):
        t0 = time.time()
        pagerank(spark, edges, nv, tol=0.0, max_iter=PAGERANK_ITERS,
                 prepared=pr_prep, cut_every=pr_cut)
        t_pr = time.time() - t0

        t0 = time.time()
        res = louvain_phase(spark, edges, nv, max_inner=LOUVAIN_INNER,
                            prepared=lv_prep)
        res.c.count()
        t_lv = time.time() - t0

        supersteps = PAGERANK_ITERS + res.num_iters
        secs = t_pr + t_lv
        reps.append({
            "pagerank_secs": round(t_pr, 2),
            "louvain_secs": round(t_lv, 2),
            "louvain_sweeps": res.num_iters,
            "edges_per_sec": round(n_rows * supersteps / secs, 1),
            "pagerank_edges_per_sec": round(n_rows * PAGERANK_ITERS / t_pr, 1),
            "louvain_edges_per_sec": round(n_rows * res.num_iters / t_lv, 1),
        })

    cap1 = _cpu_probe(n_cpus)
    capacity = (cap0 + cap1) / 2

    med = statistics.median(r["edges_per_sec"] for r in reps)
    # representative repeat = the one closest to the median throughput
    rep = min(reps, key=lambda r: abs(r["edges_per_sec"] - med))
    return {
        "edge_rows": n_rows,
        "nv": nv,
        "pagerank_iters": PAGERANK_ITERS,
        **rep,
        "edges_per_sec": med,  # median across repeats, NOT best-of
        "repeats": reps,
        # 6-s pure-CPU probe work units before/after the repeats (see
        # _cpu_probe): the denominator that separates an engine
        # regression from a co-tenant host collapse across rounds
        "capacity_units_before": cap0,
        "capacity_units_after": cap1,
        "capacity_units": round(capacity, 1),
        "edges_per_sec_per_unit": round(med / capacity, 1) if capacity else None,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_convs = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "100000"))

    from grappolo_spark import tables as T
    from grappolo_spark.etl import build_edges
    from grappolo_spark.operators.components import connected_components
    from grappolo_spark.operators.labelprop import label_propagation
    from grappolo_spark.operators.louvain import louvain
    from grappolo_spark.operators.pagerank import pagerank
    from grappolo_spark.operators.triangles import triangles
    from grappolo_spark.session import get_spark
    from grappolo_spark.synth import synth_transcripts

    spark = get_spark("grappolo-bench",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # --- flagship queries (sf corpus, regression tracking) ----------------
    def build():
        e = T.copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
        return e, e.count()

    edges, n_edge_rows = timed("graph_build", build)
    nv = T.copurchase_nv(spark, sf_dir)

    def run_pr():
        ranks, _ = pagerank(spark, edges, nv, tol=1e-9, max_iter=60)
        ranks.count()

    def run_lv():
        res = louvain(spark, edges, nv)
        res.c.count()
        return res

    timed("pagerank", run_pr)
    lv = timed("louvain", run_lv)
    timed("connected_components",
          lambda: connected_components(spark, edges, nv)[0].count())
    timed("label_propagation",
          lambda: label_propagation(spark, edges, nv, max_iter=10)[0].count())
    timed("triangles", lambda: triangles(spark, edges, nv)[0].count())

    def run_etl():
        tr = synth_transcripts(spark, n_convs=20000, max_turns=20)
        e, turns, tools = build_edges(tr)
        return e.count()

    timed("transcript_etl", run_etl)

    # --- headline: dense context-graph superstep throughput ---------------
    bench_edges, bn, bnv = timed(
        "headline_corpus", lambda: build_bench_corpus(spark, n_convs)
    )
    head = run_headline(spark, bench_edges, bn, bnv)
    timings["headline_pagerank"] = head["pagerank_secs"]
    timings["headline_louvain"] = head["louvain_secs"]

    print(json.dumps({
        "metric": "edges_per_sec_louvain_pagerank_superstep",
        "value": head["edges_per_sec"],
        "unit": "edges/sec",
        "queries": timings,
        "sf": sf_dir,
        "detail": {
            "headline": head,
            "bench_convs": n_convs,
            "bench_window": BENCH_WINDOW,
            "flagship": {
                "edge_rows": n_edge_rows,
                "nv": nv,
                "louvain_supersteps": lv.total_iters,
                "louvain_phases": lv.phases,
                "louvain_modularity": round(lv.modularity, 6),
                "louvain_clusters": lv.num_clusters,
            },
            "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
