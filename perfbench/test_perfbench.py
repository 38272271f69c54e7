"""Tests of the benchmark's own code (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import csv
import json
import os
import shutil
import subprocess
import sys
import time
from types import SimpleNamespace

import numpy as np
import pytest

import gen
import spans

HERE = os.path.dirname(os.path.abspath(__file__))


@pytest.fixture(scope="module")
def workloads():
    """The workloads module, which imports the engine from the checkout."""
    pytest.importorskip("duckdb")
    sys.path.insert(0, os.path.dirname(HERE))
    import workloads

    return workloads


# -- tail percentile -----------------------------------------------------------


def test_tail_keeps_ten_samples_beyond():
    values = [float(v) for v in range(100)]
    assert spans.tail(values) == (89.0, 90.0)
    # shuffled input, same answer
    rng = np.random.default_rng(0)
    assert spans.tail(list(rng.permutation(values))) == (89.0, 90.0)
    # 22 samples: the 11th-largest is the smallest sample above the median
    assert spans.tail([float(v) for v in range(22)]) == (11.0, 100.0 * 12 / 22)
    # 21 or fewer: the 11th-largest would be at or below the median
    assert spans.tail([float(v) for v in range(21)]) == (20.0, 100.0)
    assert spans.tail([5.0, 1.0, 3.0]) == (5.0, 100.0)
    with pytest.raises(ValueError):
        spans.tail([])


def test_median():
    assert spans.median([3.0, 1.0, 2.0]) == 2.0
    assert spans.median([4.0, 1.0, 2.0, 3.0]) == 2.5


# -- /proc sampling ---------------------------------------------------------------


def _fake_proc(root, procs):
    """procs: pid -> (ppid, comm, utime, stime, cutime, cstime) in ticks."""
    for pid, (ppid, comm, *ticks) in procs.items():
        os.makedirs(root / str(pid))
        # fields after comm: state ppid pgrp session tty tpgid flags minflt
        # cminflt majflt cmajflt utime stime cutime cstime ...
        rest = ["S", str(ppid)] + ["0"] * 9 + [str(t) for t in ticks] + ["0"] * 30
        (root / str(pid) / "stat").write_text(f"{pid} ({comm}) " + " ".join(rest) + "\n")
    (root / "self").mkdir()  # non-numeric entries are skipped


def test_tree_cpu_classifies_the_process_subtree(tmp_path):
    hz = spans.CLK_TCK
    _fake_proc(tmp_path, {
        10: (1, "python3 (bench) x", hz, hz, 0, 0),     # driver: 2 s
        11: (10, "java", 3 * hz, hz, 0, 0),             # JVM: 4 s
        12: (11, "python3", hz, 0, hz, 0),              # worker daemon: 2 s
        13: (12, "python3", 0, hz, 0, 0),               # worker: 1 s
        14: (10, "duckdb-helper", hz, 0, 0, 0),         # other child: not classed
        20: (1, "java", 50 * hz, 0, 0, 0),              # unrelated JVM
    })
    cpu = spans.tree_cpu(10, proc=str(tmp_path))
    assert cpu == {"driver": 2.0, "jvm": 4.0, "pyworker": 3.0}
    table = spans.read_proc_table(str(tmp_path))
    assert sorted(spans.descendants(table, 10)) == [11, 12, 13, 14]
    assert table[10][1] == "python3 (bench) x"
    assert spans.jvm_pid(10, proc=str(tmp_path)) == 11


def test_rss_reads_status_lines(tmp_path):
    (tmp_path / "7").mkdir()
    (tmp_path / "7" / "status").write_text("Name:\tjava\nVmHWM:\t  2048 kB\nVmRSS:\t  1024 kB\n")
    assert spans.rss_mb(7, proc=str(tmp_path)) == 1.0
    assert spans.rss_mb(7, "VmHWM", proc=str(tmp_path)) == 2.0
    assert spans.rss_mb(8, proc=str(tmp_path)) == 0.0


# -- job-group counting -------------------------------------------------------------


class _Tracker:
    """A StatusTracker stand-in with the same method names."""

    def __init__(self, groups, jobs, stages):
        self.groups, self.jobs, self.stages = groups, jobs, stages

    def getJobIdsForGroup(self, group):
        return self.groups.get(group, [])

    def getJobInfo(self, job):
        return self.jobs.get(job)

    def getStageInfo(self, stage):
        return self.stages.get(stage)


def _stage(tasks, completed, failed=0):
    return SimpleNamespace(numTasks=tasks, numCompletedTasks=completed, numFailedTasks=failed)


def test_group_counts_skip_reused_stages():
    tracker = _Tracker(
        groups={"g": [1, 2], "idle": [3]},
        jobs={
            1: SimpleNamespace(stageIds=[10, 11]),
            2: SimpleNamespace(stageIds=[11, 12, 13]),  # 11 shared, 12 skipped
            3: SimpleNamespace(stageIds=[14]),
        },
        stages={10: _stage(4, 4), 11: _stage(2, 2, failed=1), 12: _stage(4, 0),
                13: _stage(1, 1), 14: _stage(8, 8)},
    )
    assert spans.group_counts(tracker, "g") == {"jobs": 2, "stages": 3, "tasks": 7, "failed_tasks": 1}
    assert spans.group_counts(tracker, "none") == {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}


# -- span self time -------------------------------------------------------------------


def _span(i, start, end, parent=None):
    return spans.Span(i, f"s{i}", "x", "build", start, parent, 0, end=end)


def test_self_time_subtracts_the_union_of_children():
    tree = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 5.0, parent=0),   # overlaps span 1
        _span(3, 8.0, 12.0, parent=0),  # runs past its parent: clipped
        _span(4, 1.5, 2.0, parent=1),   # grandchild: only its parent's own time
    ]
    own = spans.self_times(tree)
    assert own[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert own[1] == pytest.approx(3.0 - 0.5)
    assert own[2] == pytest.approx(2.0)
    assert own[4] == pytest.approx(0.5)


def test_layer_of_maps_engine_modules():
    assert spans.layer_of("nytimes_batch_processor_spark.operators.relational") == "operators.relational"
    assert spans.layer_of("nytimes_batch_processor_spark.functions.scalars") == "functions"
    assert spans.layer_of("nytimes_batch_processor_spark.sources.readers") == "sources"
    assert spans.layer_of("nytimes_batch_processor_spark.catalog") is None
    assert spans.layer_of("pyspark.sql.functions") is None


# -- NYT generator ------------------------------------------------------------------


def _replay(paths, table):
    """First-write-wins over the rows of one file version, blank fips -> -1."""
    out = {}
    with open(paths[table]) as f:
        for row in list(csv.reader(f))[1:]:
            *key, fips, cases, deaths = row
            k = (*key, int(fips) if fips else -1)
            out.setdefault(k, (int(cases), int(deaths)))
    return out


def test_nyt_feed_expected_table_is_the_first_write_wins_replay(tmp_path):
    feed = gen.NytFeed(np.random.default_rng(7), str(tmp_path), n_states=8, counties_per_state=5)
    want = {"states": {}, "counties": {}}
    for days in (4, 1, 1, 1):
        rows = feed.grow(days)
        for t in want:
            for k, v in _replay(feed.paths(), t).items():
                want[t].setdefault(k, v)  # rows already ingested keep their values
            assert feed.expected[t] == want[t]
            with open(feed.paths()[t]) as f:
                assert rows[t] == sum(1 for _ in f) - 1
    counties = feed.expected["counties"]
    assert any(k[1] == "Unknown" and k[-1] == -1 for k in counties)
    # every day repeats some keys later in the file with other values
    with open(feed.paths()["counties"]) as f:
        lines = f.read().splitlines()[1:]
    keys = [tuple(line.split(",")[:4]) for line in lines]
    assert len(keys) > len(set(keys))
    # revisions: some row of the current file differs from the stored value
    assert _replay(feed.paths(), "counties") != counties
    # 7 days of 8 states and 8 * 6 counties, before in-file repeats
    assert len(feed.expected["states"]) == 7 * 8
    assert len(counties) == 7 * 8 * 6


def test_nyt_feed_is_seeded(tmp_path):
    a = gen.NytFeed(np.random.default_rng(3), str(tmp_path / "a"), 4, 3)
    b = gen.NytFeed(np.random.default_rng(3), str(tmp_path / "b"), 4, 3)
    a.grow(3)
    b.grow(3)
    for t in ("states", "counties"):
        with open(a.paths()[t]) as fa, open(b.paths()[t]) as fb:
            assert fa.read() == fb.read()


# -- output digests -------------------------------------------------------------------


def test_digest_ignores_row_and_column_order(workloads):
    a = workloads.digest(["x", "y"], [(1, 2.0), (3, -0.0)])
    b = workloads.digest(["y", "x"], [(0.0, 3), (2.0, 1)])
    assert a == b and a[0] == 2
    assert workloads.digest(["x", "y"], [(1, 2.0)]) != a


# -- the command's failure path ----------------------------------------------------------


def test_run_without_the_engine_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    cmd = json.loads((tmp_path / "BENCHMARK.json").read_text())["command"]
    out = subprocess.run(
        [sys.executable if c == "python3" else c for c in cmd]
        + ["--workload", "star_query_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]


# -- closed loop ----------------------------------------------------------------------


def test_cycle_count_depends_only_on_seconds(workloads):
    def ctx(seconds):
        return workloads.Context(spark=None, tracer=spans.Tracer(None, enabled=False), rng=None,
                                 root="", seconds=seconds, process_start=time.perf_counter())

    assert ctx(13).cycles(13.0) == 1 and ctx(13).cycles(4.0) == 3 and ctx(26).cycles(13.0) == 2
    assert ctx(1).cycles(13.0) == 1  # never fewer than one
    # however long the ops take, a run measures the same cycles
    slow = [workloads.Op("slow", lambda: time.sleep(0.05))]
    fast = [workloads.Op("fast", lambda: None)]
    assert len(ctx(0.3).loop(lambda i: slow, 0.1)[0]) == len(ctx(0.3).loop(lambda i: fast, 0.1)[0]) == 3


def test_loop_runs_whole_cycles_and_counts_failures(workloads):
    ctx = workloads.Context(spark=None, tracer=spans.Tracer(None, enabled=False), rng=None,
                            root="", seconds=0.05, process_start=time.perf_counter())

    def boom():
        raise RuntimeError("op failed")

    def bad_check(_):
        raise AssertionError("wrong output")

    cycle = [
        workloads.Op("ok", lambda: time.sleep(0.01), rows=5),
        workloads.Op("raises", boom, rows=5),
        workloads.Op("wrong", lambda: 1, check=bad_check),
    ]
    records, setup_s = ctx.loop(lambda i: cycle, 0.025)
    assert setup_s >= 0 and len(records) == 2 * len(cycle)
    assert [r.ok for r in records[:3]] == [True, False, False]
    e2e, _ = ctx.summarize(workloads.Result(records, setup_s, {}))
    assert e2e["input_rows_per_s"] > 0 and e2e["op_tail_s"] >= e2e["op_p50_s"]
