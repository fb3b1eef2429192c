#!/usr/bin/env python
"""spark-submit entry point for the engine (north rule: ships as a
spark-submit --py-files package).

    make package          # builds dist/grappolo_spark.zip
    spark-submit --py-files dist/grappolo_spark.zip scripts/run_job.py \
        --transcripts s3://bucket/transcripts/ \
        --algo louvain --output /out/communities \
        --checkpoint-dir /out/ckpt

``--transcripts`` reads any Parquet/Iceberg path with the transcript
schema (conv_id, turn_idx, role, text, tool, ts); ``--synth N`` generates
the deterministic corpus instead (N conversations). The session is
built by the engine's ``get_spark()`` (Arrow exchange, AQE); a master set
by spark-submit is passed through, and a bare ``python`` run falls back to
its ``local[$SPARK_GRAFT_CPUS]`` default.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark import SparkConf, SparkContext


def submitted_master() -> str | None:
    """The master spark-submit set, or None for a bare ``python`` run.

    spark-submit starts the driver JVM first and hands its gateway to this
    process in ``PYSPARK_GATEWAY_PORT``; its ``--master`` is then a JVM
    system property, which a JVM-backed ``SparkConf`` loads. Without that
    gateway no JVM exists yet, and starting one here would launch it
    before ``get_spark`` could size the driver.
    """
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    SparkContext._ensure_initialized()
    return SparkConf().get("spark.master", None)


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--transcripts", help="parquet/iceberg path, transcript schema")
    src.add_argument("--synth", type=int, help="generate N deterministic conversations")
    ap.add_argument("--algo", required=True,
                    choices=["louvain", "pagerank", "cc", "lpa", "triangles"])
    ap.add_argument("--output", required=True, help="output parquet dir")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="resumable superstep checkpoints + manifests")
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument("--tol", type=float, default=1e-9)
    args = ap.parse_args()

    from grappolo_spark.checkpoint import CheckpointManager
    from grappolo_spark.etl import build_edges
    from grappolo_spark.session import get_spark
    from grappolo_spark.synth import synth_transcripts

    spark = get_spark(f"grappolo-{args.algo}", master=submitted_master())

    tr = (synth_transcripts(spark, n_convs=args.synth) if args.synth
          else spark.read.parquet(args.transcripts))
    edges, turns, tools = build_edges(tr)
    edges = edges.localCheckpoint(eager=True)
    nv = turns.count() + tools.count()
    ckpt = (CheckpointManager(spark, args.checkpoint_dir)
            if args.checkpoint_dir else None)

    t0 = time.time()
    meta: dict = {"algo": args.algo, "nv": nv}
    if args.algo == "pagerank":
        from grappolo_spark.operators.pagerank import pagerank
        out, iters = pagerank(spark, edges, nv, tol=args.tol,
                              max_iter=args.max_iter, checkpoint=ckpt)
        meta["iterations"] = iters
    elif args.algo == "louvain":
        from grappolo_spark.operators.louvain import louvain
        res = louvain(spark, edges, nv, checkpoint=ckpt)
        out = res.c
        meta.update(modularity=res.modularity, phases=res.phases,
                    total_iters=res.total_iters, num_clusters=res.num_clusters)
    elif args.algo == "cc":
        from grappolo_spark.operators.components import connected_components
        out, rounds = connected_components(spark, edges, nv)
        meta["rounds"] = rounds
    elif args.algo == "lpa":
        from grappolo_spark.operators.labelprop import label_propagation
        out, rounds = label_propagation(spark, edges, nv,
                                        max_iter=args.max_iter)
        meta["rounds"] = rounds
    else:
        from grappolo_spark.operators.triangles import triangles
        out, total = triangles(spark, edges, nv)
        meta["total_triangles"] = total

    out.write.mode("overwrite").parquet(args.output)
    # vertex maps ride along so downstream consumers can join back to
    # (conv_id, turn_idx) / tool names — the per-turn text invariant hook
    turns.write.mode("overwrite").parquet(args.output + "_turn_vertices")
    tools.write.mode("overwrite").parquet(args.output + "_tool_vertices")
    meta["seconds"] = round(time.time() - t0, 2)
    print(json.dumps(meta))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
