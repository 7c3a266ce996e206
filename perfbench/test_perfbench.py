"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q            # about 30 s
    PERFBENCH_SMOKE=1 python3 -m pytest perfbench/test_perfbench.py -q   # + one run per workload

Most tests are arithmetic and take well under a second; the CPU
accounting test starts a small Spark session, and the process-stopping
test a short-lived process. The smoke runs start
Spark once per workload and trace setting (about a minute each) and
fail if a run reports a failed operation or a failed output check.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
from stats import covered, median, self_time, summary, tail  # noqa: E402
from tracing import Tracer, fold_jobs  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(10))) is None
    assert tail(list(range(11))) == (100 * 1 / 11, 0)
    # 20 samples: the 10th smallest has ten above it, at p50
    assert tail(list(range(1, 21))) == (50.0, 10)
    pct, value = tail([float(x) for x in range(100)])
    assert pct == 90.0 and value == 89.0
    assert sum(1 for x in range(100) if x > value) == 10


def test_summary_counts_samples():
    assert summary([3.0, 1.0, 2.0]) == {"median": 2.0, "n": 3}
    s = summary([float(x) for x in range(12)])
    assert s["n"] == 12 and s["median"] == 5.5 and s["tail"] == 1.0


def test_median_even_and_odd():
    assert median([5, 1, 3]) == 3
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_self_time_subtracts_union_of_children():
    assert self_time((0, 10), []) == 10
    assert self_time((0, 10), [(2, 4), (6, 7)]) == 7
    # overlapping children (threads) count once; parts outside are clipped
    assert self_time((0, 10), [(2, 6), (4, 8), (-5, 1), (9, 20)]) == 2
    assert covered((0, 10), [(11, 12)]) == 0


def test_tracer_self_seconds_and_thread_parent():
    import threading

    tr = Tracer(enabled=True)
    tr.unit = 0
    with tr.span("unit"):
        with tr.span("child"):
            pass
        def pool() -> None:
            with tr.span("pool"):
                tr.count("c", 1)

        t = threading.Thread(target=pool)
        t.start()
        t.join(timeout=5)
    names = {s["name"]: s for s in tr.spans}
    assert names["child"]["parent"] == names["unit"]["id"]
    # a span opened on another thread hangs under the main thread's span
    assert names["pool"]["parent"] == names["unit"]["id"]
    # a counter knows which main-thread span it was counted under
    assert tr.counters == [("c", 0, 1, "unit")]
    selfs = tr.self_seconds()
    spans = tr.span_seconds()
    assert selfs["unit"] <= spans["unit"]


def test_unit_sums_leave_out_setup():
    values = [("a", 0, 1.0), ("a", 0, 1.5), ("b", 0, 7.0), ("a", None, 99.0), ("c", None, 1.0)]
    assert Tracer.unit_sums(values) == {"a": 2.5, "b": 7.0}


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x", job_group=True):
        tr.count("c", 1)
    assert tr.spans == [] and tr.counters == []


def test_fold_by_group_then_window():
    spans = [
        {"id": 2, "name": "unit", "unit": 0, "start": 0.0, "end": 60.0, "group": None},
        {"id": 0, "name": "dag.run", "unit": 0, "start": 10.0, "end": 20.0, "group": None},
        {"id": 1, "name": "text.pack_shards", "unit": 1, "start": 30.0, "end": 40.0,
         "group": "perfbench-1"},
    ]
    job = {"tasks": 4, "cpu_s": 1.0, "gc_s": 0.0, "shuffle_read_mb": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "python_mb": 2.0}
    jobs = [dict(job, submit=15_000, group=None),          # window -> dag.run
            dict(job, submit=99_000, group="perfbench-1"),  # group wins over window
            dict(job, submit=50_000, group=None),          # in the unit, no span
            dict(job, submit=70_000, group=None)]          # outside every unit
    triples, unattributed = fold_jobs(jobs, spans, ("dag.run", "text.pack_shards"), "unit")
    assert unattributed == 1
    got = {(name, unit): v for name, unit, v in triples}
    assert got[("dag.run.tasks", 0)] == 4
    assert got[("text.pack_shards.python_mb", 1)] == 2.0


NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def test_metric_names_valid_and_unique():
    names = [m["name"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]]
    names += [w["name"] for w in BENCHMARK["workloads"]]
    assert [n for n in names if not NAME.fullmatch(n)] == []
    assert len(names) == len(set(names))
    assert len(BENCHMARK["per_layer"]) <= 128
    assert not any(NAME.fullmatch(n) for n in ("bad name", "_x", "a" * 65, "q/s"))


def test_declared_metrics_match_worker():
    import worker

    assert [m["name"] for m in BENCHMARK["per_layer"]] == list(worker.PER_LAYER)
    assert [m["name"] for m in BENCHMARK["end_to_end"]] == list(worker.END_TO_END)
    assert {w["name"] for w in BENCHMARK["workloads"]} == set(worker.WORKLOADS)


def test_datagen_sample_is_seeded(tmp_path):
    import pyarrow.parquet as pq

    def read(d):
        return {t: pq.read_table(d / f"{t}.parquet") for t in datagen.TABLES}

    src = read(datagen.SOURCE)
    a = read(datagen.sample(datagen.SOURCE, tmp_path / "a", 7))
    b = read(datagen.sample(datagen.SOURCE, tmp_path / "b", 7))
    c = read(datagen.sample(datagen.SOURCE, tmp_path / "c", 8))
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    for t in datagen.TABLES:
        kept = a[t].num_rows / src[t].num_rows
        if t in datagen.SAMPLED:
            assert abs(kept - datagen.KEEP) < 0.05 and not a[t].equals(c[t])
        else:
            assert kept == 1
    # an order keeps its lineitems, a document its embedding
    orders = set(a["orders"].column("o_orderkey").to_pylist())
    assert set(a["lineitem"].column("l_orderkey").to_pylist()) <= orders
    assert (a["documents"].column("doc_id").to_pylist()
            == a["embeddings"].column("vec_id").to_pylist())


def test_subtree_follows_parents():
    import worker

    table = {1: (0, 5), 2: (1, 1), 3: (2, 1), 4: (9, 1), 5: (3, 2)}
    assert worker.subtree(table, 2) == {2, 3, 5}
    assert worker.subtree(table, 1) == {1, 2, 3, 5}
    assert worker.subtree(table, 7) == set()


def test_unit_cpu_split_by_thread_kind():
    import worker

    hz = os.sysconf("SC_CLK_TCK")
    before = ({"driver": 1.0, "jvm": 10.0, "python_workers": 0.0},
              {1: ("C2 CompilerThre", 2 * hz), 2: ("Executor task l", 1 * hz),
               3: ("C1 CompilerThre", 1 * hz)})
    # thread 3 exits; threads 4 and 5 start; the JVM's total grows by 9 s
    after = ({"driver": 1.5, "jvm": 19.0, "python_workers": 2.0},
             {1: ("C2 CompilerThre", 5 * hz), 2: ("Executor task l", 3 * hz),
              4: ("Executor task l", 1 * hz), 5: ("GC Thread#0", 1 * hz)})
    split = worker.unit_cpu_split(before, after)
    assert split == {"driver": 0.5, "python_workers": 2.0, "jvm_tasks": 3.0, "jvm_gc": 1.0,
                     "jvm_other": 5.0}
    assert sum(split.values()) == 0.5 + 2.0 + 9.0


def test_stop_all_reaches_orphans():
    """A process that leaves its group and loses its parent (as the
    PySpark daemon can) is still found and stopped."""
    script = (
        "import ctypes, os, subprocess, sys, time\n"
        "import run\n"
        "ctypes.CDLL(None).prctl(run.PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)\n"
        "subprocess.run(['bash', '-c', 'setsid sleep 60 & exit 0'], check=True)\n"
        "time.sleep(0.2)\n"
        "orphans = run.descendants()\n"
        "assert orphans and all(os.getpgid(p) != os.getpgid(0) for p in orphans), orphans\n"
        "run.stop_all()\n"
        "assert run.descendants() == []\n"
        "print('ok')\n"
    )
    out = subprocess.run([sys.executable, "-c", script], cwd=HERE, capture_output=True,
                         text=True, timeout=60)
    assert out.stdout.strip() == "ok", out.stderr[-2000:]


def test_tree_cpu_covers_python_workers(tmp_path, monkeypatch):
    """The unit CPU figure counts the Python workers, which the PySpark
    daemon forks in a process group of its own."""
    import worker
    from pyspark.sql import SparkSession

    def burn(batches):
        """Spin for a while in the Python worker, and return the CPU
        seconds it spent (a local function, so it pickles by value)."""
        import time

        import pandas as pd

        for _ in batches:
            t0 = time.process_time()
            x = 0
            while time.process_time() - t0 < 1.5:
                x += 1
            yield pd.DataFrame({"cpu": [time.process_time() - t0]})

    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-cpu-test")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.warehouse.dir", str(tmp_path / "wh"))
             .config("spark.local.dir", str(tmp_path / "local"))
             .getOrCreate())
    try:
        jvm = worker.jvm_pid_of(spark)
        before = worker.process_cpu(jvm)
        rows = spark.range(0, 4, 1, 4).mapInPandas(burn, "cpu double").collect()
        after = worker.process_cpu(jvm)
        in_python = sum(r["cpu"] for r in rows)
        workers = after["python_workers"] - before["python_workers"]
        total = sum(after.values()) - sum(before.values())
        daemon_group = os.getpgid(next(iter(worker.subtree(worker.proc_table(), jvm) - {jvm})))
    finally:
        worker.stop_session(spark)
    assert in_python >= 5.5
    assert workers >= 0.95 * in_python and total >= workers
    assert daemon_group != os.getpgid(0)  # why a process-group sum falls short


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SMOKE"), reason="set PERFBENCH_SMOKE=1")
@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "0",
         "--seconds", "1", "--trace", str(trace)],
        cwd=HERE.parent, capture_output=True, text=True, timeout=200,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCHMARK["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
