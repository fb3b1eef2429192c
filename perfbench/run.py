#!/usr/bin/env python3
"""Benchmark for grappolo_spark on one box.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Each run is a fresh process with the
session pinned to ``local[<cores>]``.  The last line of stdout is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is the run's record (cores, source fingerprint, versions, CPU
probe, every rep).  ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer table folded from Spark's event log.
See README.md for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
STATE = ROOT / ".perfbench"
RUN = STATE / f"run-{os.getpid()}"  # this run's input, outputs and event log
SETUP_REPS = 3

SPANS = ["session.get_spark", "tables.copurchase_edges", "etl.build_edges",
         "louvain.prepare", "louvain.phase", "louvain.renumber", "louvain.coarsen",
         "lineage.cut_lineage", "oracle.tail", "pagerank.prepare", "pagerank",
         "checkpoint.save", "components", "labelprop", "triangles", "output.write"]
SPAN_FIELDS = [("wall_s", "s"), ("self_s", "s"), ("calls", "count"),
               ("jobs", "count"), ("stages", "count")]
HEAVY_FIELDS = [("stage_active_s", "s"), ("driver_idle_s", "s"), ("task_run_s", "s"),
                ("task_deser_s", "s"), ("gc_s", "s"), ("shuffle_write_mb", "MB"),
                ("fetch_wait_s", "s"), ("core_busy", "ratio")]
DERIVED = [("louvain.phase.sweeps", "count"), ("louvain.phase.jobs_per_sweep", "jobs/sweep"),
           ("louvain.phase.s_per_sweep", "s"), ("pagerank.supersteps", "count"),
           ("pagerank.jobs_per_superstep", "jobs/step"), ("components.rounds", "count"),
           ("labelprop.rounds", "count"), ("checkpoint.save.mb", "MB"),
           ("session.jvm_peak_rss_mb", "MB"), ("trace.overhead_s", "s")]


def per_layer_names():
    """(name, unit) of every per-layer metric, in report order.  The
    session span submits no jobs, so its job and stage counts are left
    out to keep the table within 128 names."""
    from evlog import HEAVY_SPANS
    out = []
    for span in SPANS:
        for field, unit in SPAN_FIELDS:
            if span == "session.get_spark" and field in ("jobs", "stages"):
                continue
            out.append((f"{span}.{field}", unit))
        if span in HEAVY_SPANS:
            out += [(f"{span}.{f}", u) for f, u in HEAVY_FIELDS]
    return out + DERIVED


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> None:
    """Pin the session to the cores this process may use and keep every
    file it writes inside the checkout.  Must run before pyspark starts the JVM."""
    for d in ("spark-local", "tmp"):
        (STATE / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["SPARK_LOCAL_DIRS"] = str(STATE / "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(STATE / "spark-local")
    os.environ["TMPDIR"] = str(STATE / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(eventlog_dir: Path | None):
    from grappolo_spark.session import get_spark
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(STATE / "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={STATE / 'tmp'} -XX:-UsePerfData",
        "spark.eventLog.enabled": "false",
    }
    if eventlog_dir is not None:
        eventlog_dir.mkdir(parents=True, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": eventlog_dir.as_uri(),
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the JVM pyspark launched and wait for it to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw.shutdown()
    proc.stdin.close()  # the gateway exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext
    pid = SparkContext._gateway.proc.pid
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def driver_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def cpu_probe(secs: float = 0.25) -> float:
    """Single-core capacity at run time: million loop steps per second."""
    n, x, t0 = 0, 0, time.perf_counter()
    while time.perf_counter() - t0 < secs:
        for i in range(10000):
            x += i * i
        n += 1
    return n * 10000 / (time.perf_counter() - t0) / 1e6


def source_fingerprint() -> dict:
    """The commit when the checkout is a git repository, and always a
    hash of the engine sources, so a record names the code it measured."""
    commit = None
    if (ROOT / ".git").exists():
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, check=False)
        commit = r.stdout.strip() or None
    h = hashlib.sha256()
    for p in sorted((ROOT / "grappolo_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return {"commit": commit, "source_sha256": h.hexdigest()[:16]}


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": sys.version.split()[0]}


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def check(w, st, harvests, rec) -> tuple[int, int, dict]:
    """Compare every rep's outputs with the oracle:
    (attempted, failed, expected)."""
    exp, rec["oracle_s"] = timed(w.expected, st)
    failed = 0
    for got in harvests:
        bad = w.failures(got, exp)
        failed += len(bad)
        rec.setdefault("wrong", []).extend(bad)
    return w.ops_per_rep * len(harvests), failed, exp


def one_pass(w, spark, tracer, src, work: Path) -> tuple[dict, dict, float]:
    """Set up once and run the job once: (state, harvest, job seconds)."""
    st = w.setup(spark, tracer, src)
    out, job_s = timed(w.job, spark, tracer, st, work)
    return st, w.harvest(st, out), job_s


def run_untraced(w, seed, seconds, rec) -> dict:
    from spans import NullTracer
    null = NullTracer()
    spark, session_s = timed(start_session, None)
    src = RUN / "input"
    src.mkdir(parents=True)
    _, rec["build_s"] = timed(w.build, spark, src, seed)
    setups = []
    for _ in range(SETUP_REPS):
        st, s = timed(w.setup, spark, null, src)
        setups.append(s)
    reps, harvests = [], []
    t_start = time.perf_counter()
    while not reps or time.perf_counter() - t_start < seconds:
        work = RUN / f"rep{len(reps)}"
        out, s = timed(w.job, spark, null, st, work)
        reps.append(s)
        harvests.append(w.harvest(st, out))
    rss = driver_peak_rss_mb()
    attempted, failed, exp = check(w, st, harvests, rec)
    edge_rows = len(exp["rows"]) if "rows" in exp else st["edges"].count()
    supersteps = harvests[0].get("supersteps", exp.get("supersteps"))
    job_s = reps[0]  # first use, as a spark-submit job pays it
    rec.update(session_s=session_s, setup_reps_s=setups, job_reps_s=reps,
               edge_rows=edge_rows, supersteps=supersteps)
    metrics = {
        "setup_s": (session_s + statistics.median(setups), "s"),
        "job_s": (job_s, "s"),
        "superstep_edges_per_s": (edge_rows * supersteps / job_s, "1/s"),
        "driver_peak_rss_mb": (rss, "MB"),
    }
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def run_traced(w, seed, rec) -> dict:
    """Three passes, each in a fresh Spark context on one JVM: a warm-up
    pass, a traced pass (event log on, spans installed) and an untraced
    pass.  The last two both run warm, so their difference in job time
    is the tracing overhead.  All three are checked."""
    import evlog
    from spans import NullTracer, Tracer, install_engine_spans
    evdir = RUN / "evlog"
    tracer = Tracer(None)
    with tracer.span("session.get_spark"):
        spark = start_session(None)
    src = RUN / "input"
    src.mkdir(parents=True)
    _, rec["build_s"] = timed(w.build, spark, src, seed)
    _, warm, _ = one_pass(w, spark, NullTracer(), src, RUN / "warm")
    spark.stop()

    spark = start_session(evdir)
    tracer.sc = spark.sparkContext
    install_engine_spans(tracer)
    try:
        with tracer.span("setup"):
            st = w.setup(spark, tracer, src)
        with tracer.span("job") as job_span:
            out = w.job(spark, tracer, st, RUN / "traced")
    finally:
        tracer.uninstall()
    traced = w.harvest(st, out)
    jvm_rss = jvm_peak_rss_mb()
    spark.stop()  # closes the event log

    spark = start_session(None)
    st, untraced, untraced_s = one_pass(w, spark, NullTracer(), src, RUN / "untraced")
    attempted, failed, _ = check(w, st, [warm, traced, untraced], rec)

    groups = evlog.fold(evlog.read_events(evdir))
    table = evlog.span_table(tracer.spans, groups, cores(), SPANS + ["setup", "job"])
    traced_s = job_span.t1 - job_span.t0
    rec.update(traced_job_s=traced_s, untraced_job_s=untraced_s,
               job_jobs=table["job"]["jobs"], job_stages=table["job"]["stages"],
               setup_jobs=table["setup"]["jobs"],
               unattributed_jobs=groups[None].jobs if None in groups else 0)
    sweeps = tracer.count("louvain.phase")
    steps = tracer.count("pagerank")
    derived = {
        "louvain.phase.sweeps": sweeps,
        "louvain.phase.jobs_per_sweep": table["louvain.phase"]["jobs"] / sweeps if sweeps else 0,
        "louvain.phase.s_per_sweep": table["louvain.phase"]["wall_s"] / sweeps if sweeps else 0,
        "pagerank.supersteps": steps,
        "pagerank.jobs_per_superstep": table["pagerank"]["jobs"] / steps if steps else 0,
        "components.rounds": tracer.count("components"),
        "labelprop.rounds": tracer.count("labelprop"),
        "checkpoint.save.mb": sum(
            p.stat().st_size for p in (RUN / "traced").rglob("*")
            if p.is_file() and "checkpoints" in p.parts) / 1e6,
        "session.jvm_peak_rss_mb": jvm_rss,
        "trace.overhead_s": traced_s - untraced_s,
    }
    metrics = {}
    for name, unit in per_layer_names():
        if name in derived:
            value = derived[name]
        else:
            span, field = name.rsplit(".", 1)
            value = table[span][field]
        metrics[name] = (value, unit)
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]

    pin_environment()
    rec = {"workload": w.name, "seed": args.seed, "trace": args.trace,
           "nproc": cores(), "cpu_probe_mops": cpu_probe(),
           **source_fingerprint(), **versions()}
    try:
        if args.trace:
            result = run_traced(w, args.seed, rec)
        else:
            result = run_untraced(w, args.seed, args.seconds, rec)
    finally:
        shutdown_jvm()
        shutil.rmtree(RUN, ignore_errors=True)
    print(json.dumps({"record": rec}))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in result["metrics"].items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(1, str(ROOT))
    sys.exit(main())
