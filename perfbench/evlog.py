"""Fold a Spark event log into per-job-group totals.

Spark writes the log as JSON lines: one file per application
(``app-…`` / ``local-…``), or, with rolling enabled, a directory
``eventlog_v2_<app>/`` holding ``events_<n>_<app>`` parts.  Compressed
logs are not read (the Python ``zstandard`` module is absent), so the
traced run sets ``spark.eventLog.compress=false``.

The fold keys everything on the ``spark.jobGroup.id`` local property
that ``spans.Tracer`` sets per span: jobs and stages by the property
their start/submit event carried, tasks through their stage.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class GroupStats:
    """Totals for one job group. Times in ms as Spark logs them."""
    jobs: int = 0
    stages: int = 0
    stage_intervals: list = field(default_factory=list)  # (submit, complete)
    task_run_ms: int = 0
    task_deser_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_ms: int = 0


def log_files(log_dir: Path) -> list[Path]:
    """Every event-log part under ``log_dir``, in write order."""
    files = []
    for entry in sorted(Path(log_dir).iterdir()):
        if entry.is_dir() and entry.name.startswith("eventlog_v2_"):
            parts = [p for p in entry.iterdir() if p.name.startswith("events_")]
            files += sorted(parts, key=lambda p: int(p.name.split("_")[1]))
        elif entry.is_file() and not entry.name.startswith("."):
            files.append(entry)
    for f in files:
        if re.search(r"\.(zstd|lz4|snappy|lzf)$", f.name):
            raise ValueError(f"compressed event log {f.name}: "
                             "set spark.eventLog.compress=false")
    return files


def read_events(log_dir: Path):
    for f in log_files(log_dir):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def fold(events) -> dict[str | None, GroupStats]:
    """Per job group: jobs started, stages that ran (skipped stages send
    no events), the stages' [submit, complete] intervals and their tasks'
    run, deserialize, GC, shuffle-write and fetch-wait totals.  Jobs
    outside any span land under ``None``."""
    groups: dict[str | None, GroupStats] = {}
    stage_group: dict[int, str | None] = {}

    def g(key):
        return groups.setdefault(key, GroupStats())

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g((ev.get("Properties") or {}).get(GROUP_KEY)).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            stage_group[info["Stage ID"]] = (ev.get("Properties") or {}).get(GROUP_KEY)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = g(stage_group.get(info["Stage ID"]))
            st.stages += 1
            if "Submission Time" in info and "Completion Time" in info:
                st.stage_intervals.append(
                    (info["Submission Time"], info["Completion Time"]))
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            st = g(stage_group.get(ev["Stage ID"]))
            st.task_run_ms += m.get("Executor Run Time", 0)
            st.task_deser_ms += m.get("Executor Deserialize Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st.fetch_wait_ms += (m.get("Shuffle Read Metrics") or {}).get(
                "Fetch Wait Time", 0)
    return groups


def union_ms(intervals) -> int:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


HEAVY_SPANS = ("louvain.phase", "pagerank", "etl.build_edges", "components",
               "labelprop")


def span_table(spans, groups: dict, cores: int, names) -> dict[str, float]:
    """Per span name: ``wall_s``, ``self_s`` and ``calls`` from the spans'
    own clocks; ``jobs``, ``stages`` and (heavy spans) the task totals
    over every job the span or a span inside it submitted.

    ``spans`` are ``spans.Span`` records; each job belongs to the
    innermost span open when it was submitted, so a span's inclusive
    totals are the sums over its subtree.
    """
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def subtree_groups(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x.group)
            todo += children.get(x.id, [])
        return out

    table = {}
    for name in names:
        mine = [s for s in spans if s.name == name]
        wall = sum(s.t1 - s.t0 for s in mine)
        self_s = sum((s.t1 - s.t0) - sum(c.t1 - c.t0 for c in children.get(s.id, []))
                     for s in mine)
        row = {"wall_s": wall, "self_s": self_s, "calls": len(mine),
               "jobs": 0, "stages": 0}
        heavy = {"stage_active_s": 0.0, "task_run_s": 0.0, "task_deser_s": 0.0,
                 "gc_s": 0.0, "shuffle_write_mb": 0.0, "fetch_wait_s": 0.0}
        for s in mine:
            sub = [groups[k] for k in subtree_groups(s) if k in groups]
            row["jobs"] += sum(x.jobs for x in sub)
            row["stages"] += sum(x.stages for x in sub)
            heavy["stage_active_s"] += union_ms(
                [iv for x in sub for iv in x.stage_intervals]) / 1e3
            heavy["task_run_s"] += sum(x.task_run_ms for x in sub) / 1e3
            heavy["task_deser_s"] += sum(x.task_deser_ms for x in sub) / 1e3
            heavy["gc_s"] += sum(x.gc_ms for x in sub) / 1e3
            heavy["shuffle_write_mb"] += sum(x.shuffle_write_bytes for x in sub) / 1e6
            heavy["fetch_wait_s"] += sum(x.fetch_wait_ms for x in sub) / 1e3
        if name in HEAVY_SPANS:
            row.update(heavy)
            row["driver_idle_s"] = wall - heavy["stage_active_s"]
            row["core_busy"] = heavy["task_run_s"] / (wall * cores) if wall else 0.0
        table[name] = row
    return table
