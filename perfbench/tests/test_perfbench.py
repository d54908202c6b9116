"""Tests of the benchmark's own code; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import random
import sys
import time

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.stats import nearest_rank, p90, samples_beyond  # noqa: E402
from perfbench.trace import prefix_self_times, read_event_log  # noqa: E402


# ------------------------------------------------------------ generators

@pytest.mark.parametrize(
    "make",
    [
        lambda seed: gen.fleet(seed, 12),
        lambda seed: gen.corpus(seed, 60).table,
        lambda seed: gen.tables(seed, 0.001)["lineitem"],
        lambda seed: gen.tables(seed, 0.001)["events"],
        lambda seed: gen.tables(seed, 0.001)["embeddings"],
    ],
)
def test_generator_same_seed_same_data_other_seed_other_data(make):
    a, b, c = make(7), make(7), make(8)
    assert a.equals(b)
    assert not a.equals(c)


def test_fleet_shape_and_lengths():
    t = gen.fleet(3, 40)
    assert t.column_names == ["trajectory_id", "t", *gen.FEATURE_COLS]
    lengths = [len(a) for a in gen.fleet_arrays(t).values()]
    assert len(lengths) == 40 and min(lengths) == 128 and max(lengths) == 362
    assert gen.fleet(4, 40).num_rows == t.num_rows
    assert all(pa.compute.min(t.column(c)).as_py() > 0 for c in gen.FEATURE_COLS)


def test_corpus_true_pairs_are_near_duplicates():
    c = gen.corpus(5, 200, dup_share=0.2)
    assert len(c.true_pairs) == 40
    text = dict(zip(c.table.column("doc_id").to_pylist(), c.table.column("text").to_pylist()))
    for a, b in c.true_pairs:
        ta, tb = text[a].split(), text[b].split()
        assert a < b and len(ta) == len(tb)
        assert 0 <= sum(x != y for x, y in zip(ta, tb)) <= 2
    assert gen.corpus(5, 200).true_pairs == c.true_pairs


def test_tables_match_catalog_schema():
    t = gen.tables(1, 0.001)
    assert set(t) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert t["events"].schema.field("ts").type == pa.timestamp("us")
    assert t["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())


# ----------------------------------------------------------- percentiles

def test_samples_beyond_rule():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(99, 90) == 9
    assert samples_beyond(20, 50) == 10
    assert samples_beyond(19, 50) == 9


def test_p90_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert p90(xs) == 90.0
    assert p90(xs[:99]) is None
    assert p90(xs * 2) == 90.0


def test_nearest_rank():
    assert nearest_rank([3.0, 1.0, 2.0], 50) == 2.0
    assert nearest_rank([5.0], 99) == 5.0


# ------------------------------------------------------- prefix self time

def test_prefix_self_times_add_up_to_traced_wall():
    prefixes = [("sources", 0.4), ("operators.normalize", 1.1), ("operators.windowing", 2.0), ("sources.sinks", 3.7)]
    self_times = prefix_self_times(prefixes)
    assert list(self_times) == [name for name, _ in prefixes]
    assert math.isclose(sum(self_times.values()), prefixes[-1][1])
    assert math.isclose(self_times["operators.windowing"], 0.9)


def test_traced_pass_self_times_add_up_to_traced_wall():
    from types import SimpleNamespace

    from perfbench.trace import Tracer
    from perfbench.worker import Loop
    from perfbench.workloads import Workload

    def stage(seconds):
        def run():
            time.sleep(seconds)
            return "out", 0.0

        return run

    class Fake(Workload):
        name = "fake"

        def stages(self, key):
            return [("sources", stage(0.01)), ("operators.normalize", stage(0.03)), ("sources.sinks", stage(0.05))]

        def check(self, key, out):
            return out == "out"

        def input_bytes(self, key):
            return 0

    wl = Fake()
    jvm = SimpleNamespace(System=SimpleNamespace(gc=lambda: None))
    wl.spark = SimpleNamespace(sparkContext=SimpleNamespace(_jvm=jvm))
    layers = Loop(wl, Tracer()).traced_pass(random.Random(1))
    self_s = layers["sources.scan_s"] + layers["operators.normalize.self_s"] + layers["sources.sinks.write_s"]
    assert math.isclose(self_s, layers["trace.traced_wall_s"])
    assert 0.05 <= layers["trace.traced_wall_s"] < 0.5


# ------------------------------------------------------------- CPU time

def test_stat_parses_a_command_name_with_spaces_and_parentheses(tmp_path):
    from perfbench.procs import stat

    path = tmp_path / "stat"
    path.write_text("42 (C2 Compiler) x) S 1 40 41 0 -1 0 0 0 0 0 700 300 20 10 0 0\n")
    comm, state, fields = stat(str(path))
    assert (comm, state) == ("C2 Compiler) x", "S")
    assert fields[1:3] == [40, 41] and fields[10:14] == [700, 300, 20, 10]
    assert stat(str(tmp_path / "gone")) is None


def test_session_cpu_s_counts_children_in_other_process_groups():
    """pyspark's daemon moves the Python workers to a process group of
    their own; they stay in the session and their CPU time is counted."""
    import subprocess

    code = (
        "import os, subprocess, sys, time\n"
        "from perfbench.procs import session_cpu_s, session_pids\n"
        "before = session_cpu_s(os.getsid(0))[0]\n"
        "spin = 't = time.process_time()\\nwhile time.process_time() - t < 0.3: pass'\n"
        "subprocess.run([sys.executable, '-c', 'import os; os.setpgid(0, 0)\\nimport time\\n' + spin], check=True)\n"
        "print(session_cpu_s(os.getsid(0))[0] - before, len(session_pids(os.getsid(0))))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True,
        start_new_session=True,
    ).stdout.split()
    assert float(out[0]) >= 0.25
    assert int(out[1]) == 1  # the reaped child is gone; only the leader is left


def test_steal_share():
    from perfbench.procs import steal_share

    before = [100, 0, 50, 800, 0, 0, 0, 50, 0, 0]
    after = [400, 0, 100, 1300, 0, 0, 0, 150, 0, 0]
    assert math.isclose(steal_share(before, after), 100 / 950)


# ------------------------------------------------------------- event log

def test_event_log_counters_follow_the_span(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0], "Properties": {"perfbench.span": "ml.tcn"}},
        {
            "Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": 0, "Submission Time": 1000},
            "Properties": {"perfbench.span": "ml.tcn"},
        },
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Task Info": {"Launch Time": 1250, "Failed": False, "Killed": False},
            "Task Metrics": {
                "Executor Run Time": 1500,
                "JVM GC Time": 100,
                "Memory Bytes Spilled": 10,
                "Disk Bytes Spilled": 5,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                "Input Metrics": {"Records Read": 7},
            },
        },
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1], "Properties": {}},
    ]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    got = read_event_log(str(path))
    tcn = got["ml.tcn"]
    assert tcn["spark.jobs"] == 1 and tcn["spark.tasks"] == 1
    assert tcn["spark.task_busy_s"] == 1.5 and tcn["spark.gc_s"] == 0.1
    assert tcn["spark.scheduler_wait_s"] == 0.25
    assert tcn["spark.spill_bytes"] == 15 and tcn["spark.shuffle_bytes_written"] == 64
    assert tcn["spark.input_rows"] == 7
    assert got["-"]["spark.jobs"] == 1


# --------------------------------------------------------- BENCHMARK.json

def test_benchmark_json_names_every_reported_metric():
    from perfbench.run import PER_LAYER
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS) - {"catalog_sweep", "rul_train_windows"}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        "setup_s": "s",
        "rows_per_cpu_s": "rows/s",
        "query_cpu_s": "s",
        "success_rate": "fraction",
    }
