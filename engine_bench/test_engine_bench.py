"""Tests of the benchmark itself: python3 -m pytest engine_bench -q

The last three run ``run.py`` in a subprocess; two of them boot Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
from stats import geomean, merged_length  # noqa: E402
from tracing import Span, Tracer, layers, op_group, self_time  # noqa: E402
from workloads import (  # noqa: E402
    DATASET,
    WINDOW_DAYS,
    ingest_model,
    op_sequence,
)


# -- operation sequences -----------------------------------------------

KINDS = [f"tile{t}#{w}" for t in range(8) for w in range(3)]


def test_same_seed_same_sequence_other_seed_differs():
    assert op_sequence(KINDS, 7, 4) == op_sequence(KINDS, 7, 4)
    assert op_sequence(KINDS, 7, 4) != op_sequence(KINDS, 8, 4)


def test_sequence_is_balanced_in_blocks():
    seq = op_sequence(KINDS, 3, 5)
    for i in range(0, len(seq), len(KINDS)):
        assert sorted(seq[i:i + len(KINDS)]) == sorted(KINDS)


def test_same_seed_same_tables_other_seed_differs():
    a, b, c = (datagen.tables(s, 0.001) for s in (5, 5, 6))
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])


def test_ingest_model_from_fixture_rows():
    ep = dt.datetime(2024, 1, 1, 10)
    rows = {
        "tiles": [{"id": 1, "name": "A"}, {"id": 2, "name": "B"}],
        "items": [{"name": "s1", "collection_id": 1, "tile_id": 1},
                  {"name": "x1", "collection_id": 2, "tile_id": 2}],
        "scenes_remote": [
            {"scene_id": "s1", "dataset": DATASET, "tile": "A",
             "sensing_date": ep},
            {"scene_id": "s2", "dataset": DATASET, "tile": "A",
             "sensing_date": ep + dt.timedelta(days=WINDOW_DAYS)},
            {"scene_id": "x1", "dataset": "LC08_SR", "tile": "B",
             "sensing_date": ep}],
        "activities": [
            {"id": 1, "collection_id": 1, "activity_type": "download",
             "sceneid": "s1"},
            {"id": 2, "collection_id": 2, "activity_type": "download",
             "sceneid": "x1"}],
        "tasks": [{"id": 10, "status": "RETRY"}, {"id": 11, "status": "SUCCESS"},
                  {"id": 12, "status": "SUCCESS"}],
        "activity_history": [{"activity_id": 1, "task_id": 10},
                             {"activity_id": 1, "task_id": 11},
                             {"activity_id": 2, "task_id": 12}],
    }
    model = ingest_model(rows)
    # only tile A holds items of the collection; one window per 30 days
    assert sorted(model.batches) == [f"A#{w}" for w in range(3)]
    assert model.batches["A#0"]["scenes"] == {"s1"}
    assert model.batches["A#1"]["scenes"] == {"s2"}
    assert model.all_scenes == {"s1", "s2"}
    # s1 and s2 each get the whole chain; x1 keeps its one activity
    assert model.n_activities == 2 * 3 + 1
    assert model.poll_base == {"RETRY": 1, "SUCCESS": 1}


# -- statistics --------------------------------------------------------

def test_merged_length_counts_overlaps_once():
    assert merged_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4.0
    assert merged_length([]) == 0.0
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)


# -- trace -------------------------------------------------------------

def test_self_time_merges_overlapping_children():
    spans = [Span("webapi.request", 0.0, 10.0),
             Span("engine.x", 1.0, 4.0, parent=0),
             Span("spark.action", 3.0, 6.0, parent=0),   # overlaps engine.x
             Span("store.read", 1.5, 2.0, parent=1),     # grandchild
             Span("spark.action", 9.0, 12.0, parent=0)]  # runs past parent
    assert self_time(spans, 0) == pytest.approx(10.0 - 5.0 - 1.0)
    assert self_time(spans, 1) == pytest.approx(3.0 - 0.5)


def _traced(jobs_spec, wall_s=1.0, cores=4):
    tracer = Tracer(enabled=True)
    tracer.spans = [
        Span("op", 1000.0, 1000.0 + wall_s, op=0, data={"timed": True}),
        Span("plans.build", 1000.0, 1000.2, parent=0, op=0),
        Span("plans.exec", 1000.2, 1000.0 + wall_s, parent=0, op=0),
    ]
    jobs = {}
    for jid, (group, submit_s, run_ms) in enumerate(jobs_spec):
        jobs[jid] = {"group": group, "submit": submit_s * 1000.0,
                     "complete": submit_s * 1000.0 + 50, "tasks": 4,
                     "run_ms": run_ms, "cpu_ms": run_ms / 2, "gc_ms": 0,
                     "shuffle_read": 10, "shuffle_write": 10, "spill": 0}
    return layers(tracer, jobs, {"cores": cores, "boot_s": 1.0,
                                 "warmup_s": 2.0})


def test_trace_consistency_checks_pass_on_consistent_trace():
    out = _traced([(op_group(0, "build"), 1000.1, 100),
                   (op_group(0, "exec"), 1000.5, 300),
                   ("checks", 1002.0, 50)])
    assert all(out["checks"].values())
    m = out["metrics"]
    assert m["plans.eager_jobs"] == 1 and m["spark.jobs_per_op"] == 2
    assert m["spark.executor_run_ms"] == 400
    assert m["spark.job_ms"] == pytest.approx(100)
    assert m["plans.build_ms"] == pytest.approx(200)


def test_trace_consistency_checks_catch_violations():
    # a job inside the op's window that no op group claims
    out = _traced([(op_group(0, "exec"), 1000.5, 100),
                   (None, 1000.6, 100)])
    assert not out["checks"]["eager_plus_final_equals_total"]
    # more executor time than wall x cores allows
    out = _traced([(op_group(0, "exec"), 1000.5, 9000)], wall_s=1.0, cores=4)
    assert not out["checks"]["executor_run_within_wall_x_cores"]


# -- whole runs --------------------------------------------------------

def _marked_processes(marker: str) -> list[int]:
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as fh:
                if marker.encode() in fh.read():
                    found.append(int(name))
        except OSError:
            continue
    return found


def _run(args, marker, cwd=ROOT, **kw):
    env = dict(os.environ, ENGINE_BENCH_TEST_MARKER=marker)
    return subprocess.Popen(
        [sys.executable, os.path.join(cwd, "engine_bench", "run.py"), *args],
        cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, **kw)


def _scratch_runs() -> set[str]:
    path = os.path.join(ROOT, ".bench_scratch")
    return {n for n in os.listdir(path) if n.startswith("run-")} \
        if os.path.isdir(path) else set()


def test_run_reports_and_leaves_no_process_behind():
    marker = f"m-{uuid.uuid4().hex}"
    before = _scratch_runs()
    proc = _run(["--workload", "analytics", "--seed", "3", "--seconds", "1",
                 "--trace", "0"], marker)
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-2000:]
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {"setup_s", "suite_s",
                                      "op_geomean_ms", "throughput_per_s"}
    assert _marked_processes(marker) == []
    assert _scratch_runs() == before


def test_sigterm_cleans_up_without_a_result():
    marker = f"m-{uuid.uuid4().hex}"
    before = _scratch_runs()
    proc = _run(["--workload", "ingest", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], marker)
    deadline = time.monotonic() + 120
    # wait until the JVM (a marked process other than the runner) is up
    while time.monotonic() < deadline and \
            len(set(_marked_processes(marker)) - {proc.pid}) == 0:
        time.sleep(0.5)
    time.sleep(5)
    proc.send_signal(signal.SIGTERM)
    out, _err = proc.communicate(timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in out
    assert _marked_processes(marker) == []
    assert _scratch_runs() == before


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "engine_bench",
                    ignore=shutil.ignore_patterns("__pycache__", ".*"))
    proc = _run(["--workload", "analytics", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], "unused", cwd=str(tmp_path))
    out, _err = proc.communicate(timeout=120)
    assert proc.returncode != 0
    assert out.strip() == ""
