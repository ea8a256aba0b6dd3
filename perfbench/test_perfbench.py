"""Unit tests for the benchmark's pure helpers and input generator.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
from spans import (  # noqa: E402
    Span,
    aggregate_stages,
    idle_seconds,
    rest_time,
    self_times,
    tail_percentile,
)


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(100))
    pct, v = tail_percentile(xs)
    assert (pct, v) == (90.0, 89)
    assert sum(1 for x in xs if x > v) == 10
    pct, v = tail_percentile(list(range(25)))
    assert (pct, v) == (60.0, 14)
    assert sum(1 for x in range(25) if x > v) == 10


def test_tail_percentile_falls_back_to_median_when_samples_are_few():
    assert tail_percentile([5.0, 1.0, 3.0]) == (50.0, 3.0)
    assert tail_percentile([4.0, 1.0, 2.0, 3.0]) == (50.0, 2.5)
    assert tail_percentile(list(range(19)))[0] == 50.0
    with pytest.raises(ValueError):
        tail_percentile([])


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "op", 0.0, 10.0),
        Span(1, "a", 1.0, 3.0, parent=0),
        Span(2, "b", 2.0, 5.0, parent=0),  # overlaps a
        Span(3, "c", 8.0, 9.0, parent=0),
        Span(4, "d", 2.5, 3.5, parent=2),  # grandchild: only b loses it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)
    # self times partition the root's wall time
    assert sum(st.values()) == pytest.approx(10.0 + 1.0)  # a and b overlap by 1 s


def test_idle_seconds_counts_time_outside_jobs():
    assert idle_seconds(0.0, 10.0, []) == 10.0
    assert idle_seconds(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0)]) == pytest.approx(5.0)
    # jobs that spill past the interval are clipped to it
    assert idle_seconds(2.0, 4.0, [(0.0, 3.0), (3.5, 9.0)]) == pytest.approx(0.5)


def test_stage_aggregation_by_job_group():
    jobs = [
        {"jobId": 1, "jobGroup": "7", "stageIds": [10, 11]},
        {"jobId": 2, "jobGroup": "8", "stageIds": [11, 12]},  # reuses 11
        {"jobId": 3, "stageIds": [13]},  # no group
    ]
    stages = [
        {"stageId": 10, "status": "COMPLETE", "executorRunTime": 1500,
         "executorCpuTime": 2_000_000_000, "jvmGcTime": 100,
         "shuffleWriteBytes": 64, "numCompleteTasks": 4},
        {"stageId": 11, "status": "COMPLETE", "executorRunTime": 500,
         "shuffleReadBytes": 64, "numCompleteTasks": 2},
        {"stageId": 12, "status": "SKIPPED", "executorRunTime": 0},
        {"stageId": 13, "status": "COMPLETE", "executorRunTime": 10,
         "diskBytesSpilled": 5, "numCompleteTasks": 1},
    ]
    agg = aggregate_stages(jobs, stages)
    assert agg["7"]["sched.jobs"] == 1
    assert agg["7"]["sched.stages"] == 2
    assert agg["7"]["exec.run_s"] == pytest.approx(2.0)
    assert agg["7"]["exec.cpu_s"] == pytest.approx(2.0)
    assert agg["7"]["exec.gc_s"] == pytest.approx(0.1)
    assert agg["7"]["exec.shuffle_read_bytes"] == 64
    assert agg["7"]["exec.shuffle_write_bytes"] == 64
    assert agg["7"]["exec.tasks"] == 6
    # the shared stage is charged once, the skipped one not at all
    assert agg["8"]["sched.jobs"] == 1
    assert agg["8"]["sched.stages"] == 0
    assert agg["8"]["exec.run_s"] == 0
    assert agg[None]["exec.spill_bytes"] == 5


def test_rest_time_parses_gmt_timestamps():
    assert rest_time("1970-01-01T00:00:01.500GMT") == pytest.approx(1.5)


def _digest(d: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(d):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _write_all(seed: int, out: str) -> None:
    star = gen.star_tables(seed, 0.001)
    gen.write_tables(os.path.join(out, "star"), star)
    for kind, tables in gen.etl_sources(seed, star).items():
        gen.write_tables(os.path.join(out, kind), tables)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _write_all(3, str(tmp_path / "a"))
    _write_all(3, str(tmp_path / "b"))
    _write_all(4, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert len(a) == 10 + 2 + 1 + 1
    assert a == b
    # another seed changes every seeded table (region/nation are fixed)
    changed = {k for k in a if a[k] != c[k]}
    assert changed == set(a) - {"star/region.parquet", "star/nation.parquet"}


def test_etl_sources_hold_delta_variants_and_violators():
    star = gen.star_tables(5, 0.01)
    src = gen.etl_sources(5, star)
    base, full = src["base"]["customer"], src["full"]["customer"]
    assert 0.02 < 1 - base.num_rows / full.num_rows < 0.08
    codes = full.column("c_code").to_pylist()
    assert any(c != c.strip() for c in codes) and any(c.islower() for c in codes)
    assert full.column("c_acctbal").null_count >= 1
    upd = src["updates"]["orders"]
    assert len(set(upd.column("o_year").to_pylist())) == 1


def test_cpu_delta_counts_new_threads_and_drops_ended_ones():
    tick = 1 / run._CLK_TCK
    before = {("t", 1): ("work", 100), ("t", 2): ("jit", 500), ("p", 9): ("work", 10)}
    after = {
        ("t", 1): ("work", 130),  # +30 ticks of work
        ("p", 9): ("work", 15),  # +5 ticks in a Python worker
        ("t", 3): ("gc", 7),  # started in between: counts from zero
    }  # compiler thread 2 ended: its 500 ticks must not reappear
    got = run.cpu_delta(before, after)
    assert got == pytest.approx({"work": 35 * tick, "jit": 0.0, "gc": 7 * tick, "pyworker": 0.0})


def test_descendants_reach_workers_under_the_jvm():
    # driver 10 → JVM 11 → Python daemon 12 → worker 13; 20 is unrelated
    parent = {10: 1, 11: 10, 12: 11, 13: 12, 20: 1}
    assert sorted(run.descendants(10, parent)) == [10, 11, 12, 13]


def test_thread_kinds():
    assert run._thread_kind("C1 CompilerThre") == "jit"
    assert run._thread_kind("GC Thread#3") == "gc"
    assert run._thread_kind("G1 Conc#0") == "gc"
    assert run._thread_kind("Executor task l") == "work"


def test_benchmark_json_lists_the_metrics_the_harness_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"query_mix", "etl_migrate"}
    assert set(run.SPAN_METRIC.values()) <= set(run.PER_LAYER)
    assert set(run.EXACT_COUNTS) <= set(run.PER_LAYER)
