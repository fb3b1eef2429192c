#!/usr/bin/env python
"""Same-graph baseline anchor: engine vs the compiled reference binary.

Round-2 verdict asked for one apples-to-apples row — the previous rounds
compared the engine's transcript corpus against the reference's published
uk2002/com-orkut CSV numbers (same degree regime, different graph). This
script removes that objection: it writes ONE graph (the sf0.1 co-purchase
graph — the bench flagship, 20k vertices / 2.39M symmetric rows, integer
weights) as weighted Metis, runs the reference binary
(``driverForGraphClustering -f 5``, default dispatch =
``parallelLouvianMethod_SFP`` a.k.a. the CSV's "Modified Parallel" path)
to convergence on it, runs the engine's full multi-phase Louvain driver
on the identical edges, and prints both (modularity, phases, iters,
clusters, wall time) side by side for BENCH.md.

Build the binary out-of-tree first (see .claude/skills/verify/SKILL.md):
  cp -r /root/reference /tmp/refbuild && cd /tmp/refbuild
  sed -i 's/^CC  = icc.*/CC = gcc/; s/^CPP = icpc.*/CPP = g++/;
          s/-xCORE-AVX512/-march=skylake-avx512/' Makefile
  make driverForGraphClustering

Usage: python scripts/baseline_anchor.py [sf_dir] [binary] [threads]
"""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))


def write_weighted_metis(pdf, nv: int, path: pathlib.Path) -> None:
    """Weighted Metis (fmt=1) from a symmetric (src, dst, weight) frame.

    The symmetric table already stores each undirected edge in both
    directions, so each row IS one adjacency entry; ne = rows/2.
    Vectorized (pandas groupby + str.cat) — the 61M-row corpus writes in
    ~2 min where a per-row Python loop takes tens of minutes.
    """
    import pandas as pd

    pdf = pdf[pdf["src"] != pdf["dst"]].sort_values(["src", "dst"])
    ne = len(pdf) // 2
    entry = (
        (pdf["dst"] + 1).astype(str) + " " + pdf["weight"].astype(int).astype(str)
    )
    lines = entry.groupby(pdf["src"].to_numpy()).agg(" ".join)
    lines = lines.reindex(range(nv), fill_value="")
    with open(path, "w") as f:
        f.write(f"{nv} {ne} 1\n")
        f.write("\n".join(lines.tolist()))
        f.write("\n")


def run_reference(binary: str, metis_path: pathlib.Path, threads: int) -> dict:
    env = dict(os.environ, OMP_NUM_THREADS=str(threads))
    t0 = time.time()
    out = subprocess.run(
        [binary, "-f", "5", "-o", str(metis_path)],
        capture_output=True, text=True, timeout=3600,
        cwd=str(metis_path.parent), env=env,
    )
    wall = time.time() - t0
    log = out.stdout + out.stderr
    summary = {"wall_secs": round(wall, 2)}
    for pat, key, conv in [
        (r"Total number of phases\s*:\s*(\d+)", "phases", int),
        (r"Total number of iterations\s*:\s*(\d+)", "total_iters", int),
        (r"Final number of clusters\s*:\s*(\d+)", "num_clusters", int),
        (r"Final modularity\s*:\s*([-\d.]+)", "modularity", float),
        (r"Total time for clustering\s*:\s*([\d.]+)", "clustering_secs", float),
        (r"Total time for building phases\s*:\s*([\d.]+)", "coarsening_secs", float),
    ]:
        m = re.search(pat, log)
        summary[key] = conv(m.group(1)) if m else None
    return summary


def _renumber_first_occurrence(labels):
    """Canonical partition labels: first occurrence order (the engine's
    renumber rule); -1 (isolated) stays a shared label."""
    m, out, nxt = {}, [], 0
    for x in labels:
        if x not in m:
            m[x] = nxt
            nxt += 1
        out.append(m[x])
    return out


def main():
    # --strict-parity: additionally diff the FINAL per-vertex assignment
    # against the binary's _clustInfo output (both sides renumbered to
    # first-occurrence canonical labels), not just the trajectory scalars
    strict = "--strict-parity" in sys.argv
    argv = [a for a in sys.argv[1:] if a != "--strict-parity"]
    corpus = argv[0] if len(argv) > 0 else "copurchase"
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    binary = argv[2] if len(argv) > 2 else "/tmp/refbuild/driverForGraphClustering"
    threads = int(argv[3]) if len(argv) > 3 else int(
        os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from grappolo_spark import tables as T
    from grappolo_spark.operators.louvain import louvain
    from grappolo_spark.session import get_spark

    spark = get_spark("baseline-anchor", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # the transcript anchor ships the 61M-row edge table to the driver
        # ONCE to write the reference binary's Metis input — a bench-tool
        # action, not an operator path (operators never collect at scale)
        "spark.driver.maxResultSize": "8g",
    })
    spark.sparkContext.setLogLevel("ERROR")

    if corpus == "transcript":
        # the bench headline corpus (dense transcript context graph,
        # |E| ≈ 30.6M undirected — the cage15/uk2002 size regime),
        # via the bench's parquet cache so both engines read the exact
        # same edges the throughput numbers were measured on
        import json

        import bench

        cache = pathlib.Path(bench.bench_corpus_dir(100000))
        edges = spark.read.parquet(str(cache / "edges.parquet")).localCheckpoint(
            eager=True)
        nv = json.loads((cache / "meta.json").read_text())["nv"]
    else:
        edges = T.copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
        nv = T.copurchase_nv(spark, sf_dir)
    n_rows = edges.count()
    print(f"graph: {corpus}@{sf_dir}  nv={nv}  sym_rows={n_rows}", flush=True)

    base = pathlib.Path("/tmp/grappolo_anchor")
    base.mkdir(exist_ok=True)
    metis = base / f"{corpus}.graph"
    if not metis.exists():
        pdf = edges.select("src", "dst", "weight").toPandas()
        write_weighted_metis(pdf, nv, metis)
        print(f"wrote {metis} ({metis.stat().st_size >> 20} MiB)", flush=True)

    ref = run_reference(binary, metis, threads)
    print(f"reference ({threads}T, Modified Parallel/SFP): {ref}", flush=True)

    # engine: same full multi-phase driver the bench times, to convergence
    t0 = time.time()
    res = louvain(spark, edges, nv)
    res.c.count()
    eng_wall = time.time() - t0
    eng = {
        "wall_secs": round(eng_wall, 2),
        "phases": res.phases,
        "total_iters": res.total_iters,
        "num_clusters": res.num_clusters,
        "modularity": round(res.modularity, 6),
    }
    print(f"engine (local[{threads}], multi-phase): {eng}", flush=True)

    dq = (ref["modularity"] - eng["modularity"]
          if ref.get("modularity") is not None else None)
    print(f"delta_modularity={dq}", flush=True)

    parity = None
    if strict:
        clust = metis.with_name(metis.name + "_clustInfo")
        if clust.exists():
            ref_labels = [int(x) for x in clust.read_text().split()]
            # the binary prints isolated vertices as unsigned -1
            ref_labels = [-1 if x == 4294967295 else x for x in ref_labels]
            eng_map = {r["vid"]: r["comm"] for r in res.c.collect()}
            eng_labels = [eng_map.get(v, -1) for v in range(nv)]
            ra = _renumber_first_occurrence(ref_labels[:nv])
            ea = _renumber_first_occurrence(eng_labels)
            parity = sum(1 for a, b in zip(ra, ea) if a != b)
            print(f"strict-parity: {parity} / {nv} per-vertex label "
                  f"mismatches after first-occurrence renumber", flush=True)
        else:
            print(f"strict-parity: {clust} not found (binary run skipped "
                  "writing clustInfo?)", flush=True)

    # append-only record; scripts/scaling_bench.py renders these rows into
    # BENCH.md's "Same-graph anchor" section (BENCH.md is generated, so
    # the data must live outside it)
    rec_path = pathlib.Path(__file__).resolve().parent / "anchor_results.json"
    import json as _json
    recs = _json.loads(rec_path.read_text()) if rec_path.exists() else []
    rec = {
        "corpus": corpus, "sf_dir": sf_dir, "nv": nv, "sym_rows": n_rows,
        "threads": threads, "reference": ref, "engine": eng,
        "delta_modularity": dq,
    }
    if parity is not None:
        rec["strict_parity_mismatches"] = parity
    recs.append(rec)
    rec_path.write_text(_json.dumps(recs, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
