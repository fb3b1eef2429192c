"""The event-log fold on a hand-written rolling log.

Run from the checkout root: ``python3 -m pytest perfbench/tests -q``.
The fixture holds three jobs: one in a span nested inside another, one
in the outer span (whose job also lists an already-computed stage that
never runs), and one outside every span.
"""

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import evlog  # noqa: E402
from spans import Span  # noqa: E402

LOG = Path(__file__).parent / "fixtures" / "evlog"


def test_rolling_parts_are_read_in_index_order():
    names = [p.name for p in evlog.log_files(LOG)]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


def test_compressed_log_is_refused(tmp_path):
    (tmp_path / "local-2.zstd").write_bytes(b"")
    with pytest.raises(ValueError, match="compress"):
        evlog.log_files(tmp_path)


def test_fold_groups_jobs_stages_and_tasks():
    groups = evlog.fold(evlog.read_events(LOG))
    inner, outer, none = groups["perfbench-2"], groups["perfbench-1"], groups[None]
    assert (inner.jobs, inner.stages, outer.jobs, outer.stages) == (1, 1, 1, 1)
    assert (none.jobs, none.stages) == (1, 1)
    assert inner.stage_intervals == [(1000, 1500)]
    assert (inner.task_run_ms, inner.task_deser_ms, inner.gc_ms) == (700, 30, 5)
    assert inner.shuffle_write_bytes == 1_500_000
    assert outer.fetch_wait_ms == 50


def test_union_of_stage_intervals():
    assert evlog.union_ms([(5, 20), (0, 10), (30, 40)]) == 30
    assert evlog.union_ms([]) == 0


def test_span_table_is_inclusive_with_self_time():
    spans = [Span(2, "lineage.cut_lineage", 1, "perfbench-2", t0=0.5, t1=1.0),
             Span(1, "louvain.phase", None, "perfbench-1", t0=0.0, t1=3.0)]
    groups = evlog.fold(evlog.read_events(LOG))
    t = evlog.span_table(spans, groups, cores=2,
                         names=["louvain.phase", "lineage.cut_lineage", "triangles"])
    phase, cut = t["louvain.phase"], t["lineage.cut_lineage"]
    assert (phase["calls"], phase["jobs"], phase["stages"]) == (1, 2, 2)
    assert phase["wall_s"] == pytest.approx(3.0)
    assert phase["self_s"] == pytest.approx(2.5)
    assert phase["stage_active_s"] == pytest.approx(0.7)
    assert phase["driver_idle_s"] == pytest.approx(2.3)
    assert phase["task_run_s"] == pytest.approx(0.9)
    assert phase["shuffle_write_mb"] == pytest.approx(1.5)
    assert phase["fetch_wait_s"] == pytest.approx(0.05)
    assert phase["core_busy"] == pytest.approx(0.9 / (3.0 * 2))
    assert (cut["jobs"], cut["stages"], cut["self_s"]) == (1, 1, pytest.approx(0.5))
    assert "core_busy" not in cut
    assert t["triangles"] == {"wall_s": 0, "self_s": 0, "calls": 0, "jobs": 0, "stages": 0}
